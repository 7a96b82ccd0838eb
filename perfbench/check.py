"""Output checks.

Tables are compared by an order-independent digest computed in Spark: the
row count and two bounded sums of per-row hashes (xxhash64 and murmur3)
over the named columns.  Engine triples must match the reference oracle's
(precision = recall = 1.0), canonical nodes must match the oracle's
``canonicalize``, canonical triples the oracle's rewrite, and each resumed
run's nodes and edges must match the cold build's.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]
NODE_COLS = ["entity_type", "norm_surface", "canonical_norm", "canonical_id"]

# engine checkpoint stage -> (oracle table, compared columns)
CHECKED = {
    "triples": ("golden_triples", TRIPLE_COLS),
    "canonical_nodes": ("golden_nodes", NODE_COLS),
    "canonical_triples": ("golden_canonical_triples", TRIPLE_COLS),
}

_P = 2_147_483_647


def digest(df: DataFrame, cols: list[str] | None = None
           ) -> tuple[int, int, int]:
    cols = cols or sorted(df.columns)
    row = df.select(
        F.pmod(F.xxhash64(*cols), F.lit(_P)).alias("h1"),
        F.pmod(F.hash(*cols), F.lit(_P)).alias("h2"),
    ).agg(F.count("*").alias("n"), F.sum("h1").alias("s1"),
          F.sum("h2").alias("s2")).collect()[0]
    return (row["n"], row["s1"] or 0, row["s2"] or 0)


def golden_digests(spark: SparkSession, golden_dir: Path) -> dict:
    return {
        stage: digest(
            spark.read.parquet(str(golden_dir / f"{table}.parquet")), cols)
        for stage, (table, cols) in CHECKED.items()
    }


def check_stages(spark: SparkSession, ckpt: Path, want: dict) -> list[str]:
    """Compare the checkpointed stage outputs with the oracle digests;
    returns one message per mismatch (empty when every table matches)."""
    errors = []
    for stage, (_, cols) in CHECKED.items():
        got = digest(spark.read.parquet(str(ckpt / stage / "data")), cols)
        if got != want[stage]:
            errors.append(f"{stage}: engine digest {got} != oracle "
                          f"{want[stage]} (rows, hash sums)")
    return errors


def out_digest(spark: SparkSession, out: Path) -> tuple:
    """Digest of the materialized nodes and edges tables."""
    return tuple(digest(spark.read.parquet(str(out / t)))
                 for t in ("nodes", "edges"))
