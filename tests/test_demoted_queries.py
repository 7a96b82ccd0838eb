"""Pytest coverage for work that holds no row on the 50-slot driver board
but still ships:

  kg_top_surfaces / events_sessions — off-board callables bench.py still
                          times; each keeps the oracle it had on the board
  lang_id / quality_score — the clean_corpus legs; equal to the fused
                          lang_quality row
  tpch_filter_project   — merged into tpch_window_topk
  score strategy        — `driver.py --strategy score`: the mentions stage
                          under the W-1 'score' resolution vs its golden
"""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from tests.harness import compare_frames, run_query_pair
from uk_ner_presidio_demo_spark.sources.tables import read_tpch


def test_top_surfaces_plain_equals_salted(spark, sf01):
    """The unsalted top-k (demoted) must equal the salted twin — same
    result, different shuffle shape."""
    plain = em._q_top_surfaces(spark, sf01).toPandas()
    salted = em.queries()["kg_top_surfaces_salted"](spark, sf01).toPandas()
    assert not compare_frames(plain, salted)


def test_unit_lang_and_quality_match_fused(spark, sf01):
    from uk_ner_presidio_demo_spark.operators.textstats import (
        lang_id, lang_quality, quality_score,
    )

    docs = read_tpch(spark, sf01, "documents")
    fused = lang_quality(docs).toPandas().set_index("doc_id").sort_index()
    li = lang_id(docs).toPandas().set_index("doc_id").sort_index()
    qs = quality_score(docs).toPandas().set_index("doc_id").sort_index()
    for c in ("n_cyr", "n_lat", "lang_guess"):
        assert (fused[c] == li[c]).all(), c
    for c in ("n_chars", "n_tokens", "n_punct", "keep"):
        assert (fused[c] == qs[c]).all(), c


@pytest.mark.parametrize(
    "qfn,sql",
    [
        (
            em._q_events_sessions,
            """
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) -
                   lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_sec
            FROM events
            """,
        ),
    ],
)
def test_demoted_query_still_matches_its_oracle(spark, sf01, qfn, sql):
    assert not run_query_pair(spark, sf01, qfn, sql)


def test_filter_project_shape_lives_in_window_topk(spark, sf01):
    """The merged query exposes the filter+substring+scalar projection the
    old tpch_filter_project row verified."""
    df = em.queries()["tpch_window_topk"](spark, sf01)
    assert {"prio_code", "discounted"} <= set(df.columns)
    row = df.filter(F.col("rn") == 1).first()
    assert row["discounted"] > 90000.0  # 100000 * 0.9 lower bound
    assert len(row["prio_code"]) == 1


def test_mentions_score_strategy_matches_golden(spark, sf01):
    """The 'score' conflict strategy (the library default,
    core/analyzer.py:96; `driver.py --strategy score`): W-1 score-strategy
    resolution vs the score-strategy golden parquet, and it must genuinely
    DIVERGE from the priority-strategy output."""
    import duckdb

    from uk_ner_presidio_demo_spark.plans.pipeline import kg_chain
    from uk_ner_presidio_demo_spark.sources.tables import read_transcripts

    gm_score = em._golden("golden_mentions", strategy="score")
    got = kg_chain(
        read_transcripts(spark, sf01), "mentions", "score"
    ).withColumn("turn_idx", F.col("turn_idx").cast("long")).toPandas()
    want = duckdb.execute(
        f'SELECT conv_id, turn_idx, mention_idx, entity_type, start, '
        f'"end", score, surface, norm_surface '
        f"FROM read_parquet('{gm_score}')"
    ).fetchdf()
    assert not compare_frames(got, want)
    prio = em.queries()["kg_mentions"](spark, sf01).toPandas()
    assert compare_frames(got, prio), (
        "score and priority strategies should diverge somewhere"
    )
