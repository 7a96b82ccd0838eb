"""Exact distributed order statistics over integer-valued columns — the
VALUE-HISTOGRAM method.

Spark's built-in exact `percentile` buffers every value of a group in
executor memory (unusable at 10^11 rows) and `approx_percentile` is a
sketch (never bit-equal to an oracle).  For the columns corpus analytics
actually quantiles — token counts, byte lengths, degree, pack
occupancy — the DOMAIN is small even when the corpus is not: the
histogram of distinct values is bounded by the value range, not the row
count.  That turns exact quantiles into:

    one map-side-combined groupBy(value) over the corpus     (the only
      corpus-scale stage — same shape as any count aggregate)
 -> a cumulative sum over the HISTOGRAM (a single-partition window —
      deliberately: it is O(distinct values), never O(rows); the 100-TB
      guard is the domain cardinality, asserted by the caller via
      max_distinct)
 -> rank lookup: rank(q) = max(1, ceil(q * N)) (the PERCENTILE_DISC /
      DuckDB quantile_disc contract, verified empirically), answered
      with a broadcast join against the tiny quantile frame.

Everything after the first groupBy is integer arithmetic over a bounded
frame, so results are EXACT and engine-portable (tested against DuckDB
quantile_disc live, and against a sorted-list twin under hypothesis).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Refuse to build a histogram bigger than this: the single-partition
# cumulative window is only legitimate while the DOMAIN is small.  2^22
# distinct int values ≈ a few hundred MB of window input — far past any
# length/count-style column, far below any row count this targets.
MAX_DISTINCT_DEFAULT = 1 << 22


def disc_rank(q: float, n: int) -> int:
    """1-indexed discontinuous-quantile rank: max(1, ceil(q*n)) with
    q*n computed in EXACT DECIMAL arithmetic — the PERCENTILE_DISC /
    DuckDB quantile_disc contract (q=0 -> 1st, q=1 -> nth, exact
    boundaries take the LOWER rank).

    Raw float ceil is wrong at decimal boundaries: double 0.07 * 100 =
    7.000000000000001, so math.ceil overshoots to rank 8 where DuckDB
    (which reads 0.07 as the exact decimal 7/100) returns rank 7.
    Fraction(str(q)) recovers the decimal the caller wrote (shortest
    float repr), making the rank exact for every decimal-literal q —
    verified against quantile_disc on a ~900-case (q, n) grid with
    zero mismatches, including the float-noise cases."""
    from fractions import Fraction

    r = -((-Fraction(str(q)) * n) // 1)  # exact ceil
    return min(n, max(1, int(r)))


def _rank_expr(q_col, tot_col):
    """Catalyst twin of `disc_rank`, exact for decimal-literal qs with
    <= 10 fractional digits: CAST(double -> DECIMAL(12,10)) recovers
    the decimal the caller wrote (the same recovery Fraction(str(q))
    performs driver-side), and decimal multiply / ceil are exact —
    so rank = least(n, greatest(1, ceil(q * n))) with no float noise.
    Parity with disc_rank is pytest-gated on a (q, n) grid."""
    qd = q_col.cast("decimal(12,10)")
    return F.least(
        tot_col,
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(qd * tot_col).cast("long"),
        ),
    )


def exact_int_quantiles_by(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: list[float],
    max_distinct: int = MAX_DISTINCT_DEFAULT,
) -> DataFrame:
    """(*keys, q, value): exact per-GROUP discontinuous quantiles — the
    form a corpus profiler runs at scale (token-count quantiles per
    language / per source / per shard).

    Same value-histogram method as `exact_int_quantiles`, fully
    distributed per group (nothing collects to the driver):

      one map-side-combined groupBy(*keys, value) corpus scan
   -> cumulative count + group total over the per-group HISTOGRAM
      (window partitioned by keys — O(distinct values) per group, the
      method's bound, guarded by max_distinct on the LARGEST group)
   -> rank per (group, q) computed IN CATALYST with exact decimal
      arithmetic (`_rank_expr`, the disc_rank twin — group totals
      differ, so the rank cannot be a driver-side constant)
   -> broadcast-join the tiny q frame, keep the smallest value whose
      cumulative count reaches the rank.

    `qs` must be decimal literals with <= 10 fractional digits (the
    exact-recovery contract of `_rank_expr`); NULL values are ignored
    per group, NULL group keys form their own group (standard GROUP BY
    semantics, matching the DuckDB oracle)."""
    if not keys:
        raise ValueError("exact_int_quantiles_by: keys must be non-empty")
    bad = [q for q in qs if not (0.0 <= float(q) <= 1.0)]
    if bad:
        raise ValueError(
            f"exact_int_quantiles_by: qs outside [0, 1]: {bad}"
        )
    hist = (
        df.select(*keys, F.col(col).alias("_v"))
        .filter(F.col("_v").isNotNull())
        .groupBy(*keys, "_v")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=True)  # one corpus scan feeds guard + cum
    )
    biggest = (
        hist.groupBy(*keys).count()
        .agg(F.max("count").alias("mx")).collect()
    )
    if not biggest or biggest[0]["mx"] is None:
        raise ValueError("exact_int_quantiles_by: empty input")
    if biggest[0]["mx"] > max_distinct:
        raise ValueError(
            f"exact_int_quantiles_by: largest group holds "
            f"{biggest[0]['mx']} distinct values of {col!r}, over "
            f"max_distinct={max_distinct}; use a sketch or widen the "
            "bound deliberately"
        )
    w_cum = (
        Window.partitionBy(*keys).orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy(*keys)
    cum = hist.select(
        *keys, "_v",
        F.sum("_n").over(w_cum).alias("_cum"),
        F.sum("_n").over(w_tot).alias("_tot"),
    )
    spark = df.sparkSession
    qs_df = spark.createDataFrame(
        [(float(q),) for q in sorted(set(qs))], "q double"
    )
    rank = _rank_expr(F.col("q"), F.col("_tot"))
    return (
        cum.join(F.broadcast(qs_df), F.col("_cum") >= rank)
        .groupBy(*keys, "q")
        .agg(F.min("_v").alias("value"))
    )


def exact_int_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    max_distinct: int = MAX_DISTINCT_DEFAULT,
) -> DataFrame:
    """(q, value): exact discontinuous quantiles of integer column `col`.

    `qs` must be plain floats in [0, 1] (validated — an out-of-range q
    would otherwise produce a rank past N and silently vanish from the
    join output); duplicates are deduped.  NULLs are ignored, matching
    SQL PERCENTILE_DISC / DuckDB quantile_disc (unfiltered they would
    sort first in the cumulative window and masquerade as the low
    quantiles).  Raises if the value domain exceeds `max_distinct`
    (the method's applicability bound — see module docstring)."""
    bad = [q for q in qs if not (0.0 <= float(q) <= 1.0)]
    if bad:
        raise ValueError(f"exact_int_quantiles: qs outside [0, 1]: {bad}")
    hist = (
        df.select(F.col(col).alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("v")
        .agg(F.count("*").alias("_n"))
        .localCheckpoint(eager=True)  # one corpus scan feeds two reads
    )
    n_distinct = hist.count()
    if n_distinct > max_distinct:
        raise ValueError(
            f"exact_int_quantiles: {n_distinct} distinct values of "
            f"{col!r} exceed max_distinct={max_distinct}; use a sketch "
            "or widen the bound deliberately"
        )
    if n_distinct == 0:
        raise ValueError("exact_int_quantiles: empty input")
    total = hist.agg(F.sum("_n").alias("s")).collect()[0]["s"]

    # cumulative count over the bounded histogram (single partition BY
    # DESIGN — O(distinct), not O(rows))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select("v", F.sum("_n").over(w).alias("_cum"))

    spark = df.sparkSession
    ranks = spark.createDataFrame(
        [(float(q), disc_rank(float(q), int(total)))
         for q in sorted(set(qs))],
        "q double, _rank long",
    )
    # smallest value whose cumulative count reaches the rank
    return (
        cum.join(F.broadcast(ranks), F.col("_cum") >= F.col("_rank"))
        .groupBy("q")
        .agg(F.min("v").alias("value"))
    )
