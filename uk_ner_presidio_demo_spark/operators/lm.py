"""Corpus bigram-LM quality scoring, Spark-first (semantics/lm.py is the
frozen spec; the DuckDB driver oracle recomputes everything live except
the ilog lookup, which is shared as data).

Plan shape — two column-pruned scans of the corpus, zero Python stages:

  scan 1 (counts): tokens via split/array_remove, bigrams via
    slice+arrays_zip+explode (all codegen — no higher-order lambdas,
    which Catalyst interprets; CLAUDE.md), then ONE hash aggregate with
    map-side partial combine -> the model table (w1, w2, c2), orders of
    magnitude smaller than the corpus.  c1 derives from the model table
    (sum over w2), not from a second corpus scan.
  ilog lookup: distinct count values of {c2} union {c1}, collected to
    the driver and mapped through semantics.lm.ilog_fp.  Bounded by the
    counting argument in semantics/lm.py: a frequency table summing to
    N has <= sqrt(2N) distinct values — a few MB at 10^13 bigrams,
    corpus-size independent in the way that matters (no O(rows) driver
    traffic).  Joined back as an explicit broadcast.
  scan 2 (score): the same bigram derivation, inner-joined to the model
    on (w1, w2) — a shuffle hash join whose build side is the model
    table; hot bigrams (stopword pairs) are exactly the AQE skew-join
    shape, and the per-doc sum aggregates map-side first.  Docs with
    fewer than two tokens rejoin at the end with (0, 0, keep=true).

Everything after the lookup is BIGINT arithmetic — bit-identical under
any partitioning and in the DuckDB oracle (the fixed-point PageRank
design, operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics.lm import LM_KEEP_MIN_AVG_FP, ilog_fp
from .partitioning import fanout


def bigram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — adjacent ws-token pairs, one codegen span per
    scan (split -> array_remove('') -> slice x2 -> arrays_zip ->
    explode).  Token spec is the frozen ASCII-\\s ws_tokens
    (semantics/bpe.py): non-empty fields of split(text, '\\s+')."""
    toks = F.array_remove(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), ""
    )
    d = (
        fanout(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("_toks"))
        .filter(F.size("_toks") >= 2)
    )
    n = F.size("_toks")
    d = d.select(
        "doc_id",
        F.slice("_toks", F.lit(1), n - 1).alias("_a"),
        F.slice("_toks", F.lit(2), n - 1).alias("_b"),
    )
    return d.select(
        "doc_id", F.explode(F.arrays_zip("_a", "_b")).alias("_z")
    ).select(
        "doc_id",
        F.col("_z._a").alias("w1"),
        F.col("_z._b").alias("w2"),
    )


def lm_bigram_model(docs: DataFrame) -> DataFrame:
    """(w1, w2, lp_fp): fixed-point MLE bigram log-probs under the
    corpus's own counts.  lp_fp = ilog_fp(c2) - ilog_fp(c1) <= 0 in
    micro-nats; the ilog lookup is built once on the driver (bounded
    collect, see module docstring) and broadcast-joined."""
    # The count table feeds FOUR consumers (c1, the distinct-value
    # collect twice via the union, and the final join) and Catalyst does
    # NOT dedupe common subtrees — uncut, the corpus bigram aggregation
    # ran SIX times per query (4 scans in the final plan + 2 in the
    # collect job, measured).  One eager cut of the already-shrunk model
    # table leaves exactly two corpus-scale passes: this count build and
    # the scoring stream (plan-gated in test_plan_hygiene).
    c2 = bigram_stream(docs).groupBy("w1", "w2").agg(
        F.count("*").alias("_c2")
    ).localCheckpoint(eager=True)
    # one aggregate over the (already materialized) model table
    c1 = c2.groupBy("w1").agg(F.sum("_c2").alias("_c1"))
    vals = sorted(
        r["v"]
        for r in c2.select(F.col("_c2").alias("v"))
        .union(c1.select(F.col("_c1").alias("v")))
        .distinct()
        .collect()
    )
    spark = docs.sparkSession
    ilog = spark.createDataFrame(
        [(int(v), ilog_fp(int(v))) for v in vals], "k long, ilog_fp long"
    )
    i2 = F.broadcast(ilog.select(
        F.col("k").alias("_c2"), F.col("ilog_fp").alias("_il2")
    ))
    i1 = F.broadcast(ilog.select(
        F.col("k").alias("_c1"), F.col("ilog_fp").alias("_il1")
    ))
    return (
        c2.join(c1, "w1")
        .join(i2, "_c2")
        .join(i1, "_c1")
        .select(
            "w1",
            "w2",
            (F.col("_il2") - F.col("_il1")).alias("lp_fp"),
        )
    )


def lm_score_two_legs(docs: DataFrame, ref_mod: int) -> DataFrame:
    """The fused self+xmodel board query (r8 optimization): one corpus
    bigram-count pass builds BOTH models, one scoring pass aggregates
    BOTH legs — 2 corpus scans total instead of the 4 the two
    lm_score_docs calls cost (each leg re-derived the split->slice->
    zip->explode bigram stream for its model AND its scoring join),
    and 1 bounded ilog collect instead of 2.

    Output is row-identical to
        self  : lm_score_docs(docs)
        xmodel: lm_score_docs(docs.filter(~ref), model=lm_bigram_model(
                    docs.filter(ref)))
    because (a) count_if(doc_id % ref_mod == 0) over the one bigram
    stream equals the ref-split stream's counts, (b) lp_fp stays
    ilog_fp(c2) - ilog_fp(c1) per model in BIGINT, and (c) the xmodel
    inner-join drop is reproduced by null-skipping count/sum over the
    lp_ref column (null exactly when the bigram is out of the ref
    model).  Equivalence is pinned by test_lm.py's fused-vs-composed
    test; the driver hash is the end gate."""
    is_ref_doc = F.col("doc_id") % ref_mod == 0
    counts = bigram_stream(docs).groupBy("w1", "w2").agg(
        F.count("*").alias("_c2a"),
        F.sum(is_ref_doc.cast("long")).alias("_c2r"),
    ).localCheckpoint(eager=True)  # ONE corpus count pass, many consumers
    c1a = counts.groupBy("w1").agg(F.sum("_c2a").alias("_c1a"))
    c1r = counts.filter(F.col("_c2r") > 0).groupBy("w1").agg(
        F.sum("_c2r").alias("_c1r")
    )
    # one bounded collect covering every count VALUE either model needs
    # (sqrt(2N) argument, module docstring)
    vals = sorted(
        r["v"]
        for r in counts.select(F.col("_c2a").alias("v"))
        .union(counts.filter(F.col("_c2r") > 0)
               .select(F.col("_c2r").alias("v")))
        .union(c1a.select(F.col("_c1a").alias("v")))
        .union(c1r.select(F.col("_c1r").alias("v")))
        .distinct()
        .collect()
    )
    spark = docs.sparkSession
    ilog = spark.createDataFrame(
        [(int(v), ilog_fp(int(v))) for v in vals], "k long, ilog_fp long"
    )

    def _il(key: str, out: str) -> DataFrame:
        return F.broadcast(ilog.select(
            F.col("k").alias(key), F.col("ilog_fp").alias(out)
        ))

    model = (
        counts.join(c1a, "w1")
        .join(c1r, "w1", "left")
        .join(_il("_c2a", "_il2a"), "_c2a")
        .join(_il("_c1a", "_il1a"), "_c1a")
        .join(_il("_c2r", "_il2r"), "_c2r", "left")
        .join(_il("_c1r", "_il1r"), "_c1r", "left")
        .select(
            "w1",
            "w2",
            (F.col("_il2a") - F.col("_il1a")).alias("_lp_self"),
            F.when(
                F.col("_c2r") > 0, F.col("_il2r") - F.col("_il1r")
            ).alias("_lp_ref"),
        )
    )
    per_doc = (
        bigram_stream(docs)  # the ONE scoring pass
        .join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_n_self"),
            F.sum("_lp_self").alias("_lp_sum_self"),
            F.count("_lp_ref").alias("_n_ref"),
            F.sum("_lp_ref").alias("_lp_sum_ref"),
        )
    )
    legs = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .withColumn(
            "leg",
            F.explode(
                F.when(is_ref_doc, F.array(F.lit("self"))).otherwise(
                    F.array(F.lit("self"), F.lit("xmodel"))
                )
            ),
        )
    )
    is_self = F.col("leg") == "self"
    n = F.coalesce(
        F.when(is_self, F.col("_n_self")).otherwise(F.col("_n_ref")),
        F.lit(0).cast("long"),
    )
    lp = F.coalesce(
        F.when(is_self, F.col("_lp_sum_self")).otherwise(F.col("_lp_sum_ref")),
        F.lit(0).cast("long"),
    )
    thr = F.lit(LM_KEEP_MIN_AVG_FP).cast("long")
    return legs.select(
        "leg",
        "doc_id",
        n.alias("n_bigrams"),
        lp.alias("lp_sum_fp"),
        ((n == 0) | (lp >= thr * n)).alias("keep"),
    )


def lm_score_docs(docs: DataFrame, model: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, lp_sum_fp, keep) per document.

    Self-scoring by default (model trained on `docs` itself — the
    corpus-typicality filter); pass an external `model` frame
    (w1, w2, lp_fp) for the train-on-reference-score-target shape.
    n_bigrams counts SCORED bigrams (inner join to the model): under
    self-scoring that is every bigram; under an external model,
    out-of-model bigrams drop out of both the sum and the count, same
    as the oracle twin (semantics/lm.py lm_scores)."""
    if model is None:
        model = lm_bigram_model(docs)
    scored = (
        bigram_stream(docs)
        .join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lp_fp").alias("lp_sum_fp"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce("lp_sum_fp", F.lit(0).cast("long")).alias("lp_sum_fp"),
        )
    )
    thr = F.lit(LM_KEEP_MIN_AVG_FP).cast("long")
    return out.withColumn(
        "keep",
        (F.col("n_bigrams") == 0)
        | (F.col("lp_sum_fp") >= thr * F.col("n_bigrams")),
    )
