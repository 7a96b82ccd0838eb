"""Corpus PII scrubbing (operators/scrub.py): the Spark kernel must match
the plain-Python shared-semantics twin exactly on planted PII and on the
real corpus, and keep the single-crossing plan invariant."""

import pandas as pd
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.scrub import scrub_documents
from uk_ner_presidio_demo_spark.semantics.anonymize import splice
from uk_ner_presidio_demo_spark.semantics.detect import detect_mentions
from uk_ner_presidio_demo_spark.sources.tables import read_tpch


def _twin(text: str) -> tuple[int, str]:
    mentions, _ = detect_mentions(text)
    return len(mentions), splice(
        text, [(m.entity_type, m.start, m.end) for m in mentions]
    )


def test_planted_pii_is_scrubbed(spark):
    docs = spark.createDataFrame(
        [
            (1, "Звертайтесь на admin@example.ua або +380501234567."),
            (2, "Мій ІПН 1759013776."),          # checksum-valid UA_IPN
            (3, "чистий текст без пі-ай-ай"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in scrub_documents(docs).collect()}
    assert got[1]["n_pii"] >= 2
    assert "[EMAIL_ADDRESS]" in got[1]["scrubbed_text"]
    assert "[PHONE_NUMBER]" in got[1]["scrubbed_text"]
    assert "admin@example.ua" not in got[1]["scrubbed_text"]
    assert "[UA_IPN]" in got[2]["scrubbed_text"]
    assert got[3]["n_pii"] == 0
    assert got[3]["scrubbed_text"] == "чистий текст без пі-ай-ай"


def test_kernel_matches_python_twin_on_corpus(spark, sf01):
    got = scrub_documents(read_tpch(spark, sf01, "documents")).toPandas()
    texts = pd.read_parquet(f"{sf01}/documents.parquet")[["doc_id", "text"]]
    want_rows = []
    for r in texts.itertuples(index=False):
        n, scrubbed = _twin(r.text)
        want_rows.append((r.doc_id, n, scrubbed))
    want = pd.DataFrame(
        want_rows, columns=["doc_id", "n_pii", "scrubbed_text"]
    )
    key = "doc_id"
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s.astype(want_s.dtypes.to_dict()), want_s
    )


def test_plan_is_single_crossing_no_shuffle(spark, sf01):
    """ONE Arrow crossing; the only allowed Exchange is the fanout
    round-robin spread of an under-split file scan (r8 — the
    partitioning.py input-parallelism guard; it disappears on
    already-wide scans, so a 100-TB input stays exchange-free), never a
    hash/range shuffle."""
    df = scrub_documents(read_tpch(spark, sf01, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    # at most one fanout, and every Exchange in the plan IS that fanout
    # (a BroadcastExchange or a hash/range shuffle cannot stand in for it)
    assert plan.count("RoundRobinPartitioning") <= 1
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_scrub_is_idempotent_on_corpus(sf01):
    """The classic anonymization pitfall — a splice creating a NEW match
    (e.g. digit runs merging) — cannot happen with bracketed alpha tags:
    scrubbing twice equals scrubbing once, checked on the full corpus
    and on the planted-PII shapes."""
    texts = list(
        pd.read_parquet(f"{sf01}/documents.parquet")["text"]
    ) + [
        "Звертайтесь на admin@example.ua або +380501234567.",
        "Мій ІПН 1759013776.",
    ]
    for t in texts:
        _, once = _twin(t)
        _, twice = _twin(once)
        assert once == twice


def test_mostly_pii_docs_are_flaggable(spark):
    """n_pii drives the downstream drop filter a real pipeline applies."""
    docs = spark.createDataFrame(
        [(1, "a@b.ua c@d.ua e@f.ua"), (2, "звичайний вміст документа")],
        "doc_id long, text string",
    )
    flagged = (
        scrub_documents(docs)
        .filter(F.col("n_pii") >= 3)
        .select("doc_id")
        .collect()
    )
    assert [r["doc_id"] for r in flagged] == [1]
