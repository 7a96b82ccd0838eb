"""Deterministic corpus sampling / splitting — the subsampling and
train/eval-split steps of a training-data pipeline, made reproducible at
any cluster size: membership depends only on a hash of the stable key,
never on partition layout, row order, or RNG state.

  u(doc) = pmod(xxhash64(key), GRANULARITY) / GRANULARITY   in [0, 1)

`xxhash64` is Spark's JVM hash (seed 42); the pure-Python twin
(semantics/sparkhash.py, bit-equality-tested) lets a single-process oracle
reproduce every sampling decision exactly — tests/test_sampling.py.

Scale shape: scan-local Catalyst filter (hash + compare inside whole-stage
codegen), zero shuffles, prunes at the source.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GRANULARITY = 1_000_000


def _bucket(key: str) -> Column:
    return F.pmod(F.xxhash64(key), F.lit(GRANULARITY))


def hash_sample(docs: DataFrame, fraction: float,
                key: str = "doc_id") -> DataFrame:
    """Deterministic ~`fraction` subsample: keep rows whose hash bucket
    falls under fraction * GRANULARITY."""
    return docs.filter(_bucket(key) < int(fraction * GRANULARITY))


def train_eval_split(docs: DataFrame, eval_fraction: float,
                     key: str = "doc_id") -> DataFrame:
    """Adds a `split` column ('eval' for the hash-low slice, 'train'
    otherwise) — disjoint, exhaustive, and stable under re-runs and
    repartitioning."""
    cut = int(eval_fraction * GRANULARITY)
    return docs.withColumn(
        "split",
        F.when(_bucket(key) < cut, F.lit("eval")).otherwise(F.lit("train")),
    )
