"""Cross-corpus contamination check — the train/test-overlap audit a
training-data pipeline runs before a model ever sees the corpus (the
benchmark-decontamination shape of GPT-3/C4/Dolma pipelines, built from
public descriptions of those pipelines).

Two blocking levels, both reusing the frozen dedup kernels so the engine
and its tests share semantics with the dedup family:

  exact : md5 of whitespace-normalized lowercase text (textstats
          fingerprint) equi-joined across the two corpora.
  near  : MinHash band keys (semantics.docsim) computed per corpus,
          equi-joined on (band, bhash), then exact word-3-gram Jaccard
          verification on the candidates only — never an all-pairs scan.

Scale shape: two scans + two equi-joins; candidates are verified with the
Arrow-batched Jaccard UDF; no driver collect.  At 100 TB train / small
eval-suite test, the TEST side is broadcast-sized by construction — Spark
picks BHJ for the band join automatically; nothing here forces a shuffle
of the big side beyond the band-key exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..semantics.docsim import DOC_JACCARD_THRESHOLD
from .dedup import _band_rows, _doc_jaccard_udf


def fp_expr():
    """THE exact-level normalization fingerprint — one definition shared
    by the batch audit (_fingerprints) and the streaming exact dedup
    (streaming/detect_stream.py), so the two can never silently diverge
    on what counts as byte-identical-after-normalization."""
    return F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))


def _fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", fp_expr().alias("fp"))


def exact_contamination(train: DataFrame, test: DataFrame) -> DataFrame:
    """(test_doc_id, train_doc_id) pairs whose normalized text is
    byte-identical across corpora."""
    a = _fingerprints(test).withColumnRenamed("doc_id", "test_doc_id")
    b = _fingerprints(train).withColumnRenamed("doc_id", "train_doc_id")
    return a.join(b, "fp").select("test_doc_id", "train_doc_id")


def near_contamination(train: DataFrame, test: DataFrame,
                       threshold: float = DOC_JACCARD_THRESHOLD
                       ) -> DataFrame:
    """(test_doc_id, train_doc_id, jaccard_r6) for near-duplicate leakage:
    MinHash band blocking ACROSS corpora + exact-Jaccard verify on the
    candidate pairs only."""
    # No localCheckpoint here (r8): unlike the dedup SELF-join, each band
    # frame is consumed exactly once by the cross-corpus join, so the
    # kernels run once either way — the former eager cuts were two
    # blocking jobs of pure overhead (~1.6 s at sf1) and serialized the
    # two band passes instead of letting one job schedule both scans.
    tb = _band_rows(test).withColumnRenamed("doc_id", "test_doc_id")
    rb = _band_rows(train).withColumnRenamed("doc_id", "train_doc_id")
    cand = tb.join(rb, ["band", "bhash"]).select(
        "test_doc_id", "train_doc_id"
    ).distinct()
    tt = test.select(F.col("doc_id").alias("test_doc_id"),
                     F.col("text").alias("test_text"))
    rt = train.select(F.col("doc_id").alias("train_doc_id"),
                      F.col("text").alias("train_text"))
    pairs = cand.join(tt, "test_doc_id").join(rt, "train_doc_id")
    return (
        pairs.withColumn("jac", _doc_jaccard_udf("test_text", "train_text"))
        .filter(F.col("jac") >= threshold)
        .select("test_doc_id", "train_doc_id",
                F.round("jac", 6).alias("jaccard_r6"))
    )


def contamination_report(train: DataFrame, test: DataFrame) -> DataFrame:
    """Union of both levels as (kind, test_doc_id, train_doc_id, score):
    kind='exact' rows carry score=1.0; kind='near' rows the verified
    Jaccard.  The decontamination step itself is then a left-anti join of
    train against the flagged train_doc_ids."""
    ex = exact_contamination(train, test).select(
        F.lit("exact").alias("kind"), "test_doc_id", "train_doc_id",
        F.lit(1.0).alias("score"),
    )
    nr = near_contamination(train, test).select(
        F.lit("near").alias("kind"), "test_doc_id", "train_doc_id",
        F.col("jaccard_r6").alias("score"),
    )
    return ex.unionByName(nr)


def decontaminate(train: DataFrame, test: DataFrame) -> DataFrame:
    """Remove every train doc flagged at either level — the operator a
    pipeline actually runs.  Left-anti join keeps the big side streaming."""
    flagged = contamination_report(train, test) \
        .select(F.col("train_doc_id").alias("doc_id")).distinct()
    return train.join(flagged, "doc_id", "left_anti")
