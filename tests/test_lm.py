"""Fixed-point bigram-LM scoring (operators/lm.py vs the frozen
semantics/lm.py twin): bit-exact engine/twin equality, edge cases the
tokenizer contract implies, the external-model (train-A-score-B) shape,
and the bounded-lookup counting argument."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.lm import (
    bigram_stream, lm_bigram_model, lm_score_docs, lm_score_two_legs,
)
from uk_ner_presidio_demo_spark.semantics.lm import (
    LM_KEEP_MIN_AVG_FP, doc_bigrams, ilog_fp, ilog_values, lm_scores,
)


def _twin_frame(texts, model=None):
    return pd.DataFrame(
        lm_scores(texts, model),
        columns=["doc_id", "n_bigrams", "lp_sum_fp", "keep"],
    )


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "a b a b c"),
        (2, "a b"),
        (3, ""),            # no tokens -> 0 bigrams, keep
        (4, "solo"),        # one token -> 0 bigrams, keep
        (5, "  a \t b \x0bc "),  # frozen ASCII-\s class incl. \x0B
        (6, "z z z z z z"),
        (7, None),          # NULL text == empty by spec
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    texts = {i: (t if t is not None else "") for i, t in rows}
    return df, texts


def test_bigram_stream_matches_twin_tokenizer(tiny):
    df, texts = tiny
    got = sorted(
        (r.doc_id, r.w1, r.w2) for r in bigram_stream(df).collect()
    )
    want = sorted(
        (d, w1, w2) for d, t in texts.items() for (w1, w2) in doc_bigrams(t)
    )
    assert got == want


def test_engine_equals_twin_tiny(tiny):
    df, texts = tiny
    got = (
        lm_score_docs(df)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = _twin_frame(texts)
    pd.testing.assert_frame_equal(
        got.astype({"n_bigrams": "int64", "lp_sum_fp": "int64"}),
        want.astype({"doc_id": "int64", "n_bigrams": "int64",
                     "lp_sum_fp": "int64"}),
    )
    # zero-bigram docs keep by definition
    by_id = {r.doc_id: r for r in got.itertuples(index=False)}
    assert by_id[3].n_bigrams == 0 and bool(by_id[3].keep)
    assert by_id[7].n_bigrams == 0 and bool(by_id[7].keep)


def test_engine_equals_twin_sf001(spark, sf001):
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    got = (
        lm_score_docs(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    texts = dict(
        pd.read_parquet(f"{sf001}/documents.parquet")[
            ["doc_id", "text"]
        ].values
    )
    want = _twin_frame(texts).astype({"doc_id": "int64"})
    pd.testing.assert_frame_equal(
        got.astype({"n_bigrams": "int64", "lp_sum_fp": "int64"}), want
    )
    # both keep branches are live at the calibrated threshold
    assert 0 < (~got["keep"]).sum() < len(got)


def test_lp_fp_nonpositive_and_mle_exact(spark, sf001):
    """Self-scoring MLE: c2 <= c1 always, so every lp_fp <= 0; a bigram
    that IS its left token's only continuation has lp_fp == 0."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    model = lm_bigram_model(docs).toPandas()
    assert (model["lp_fp"] <= 0).all()


def test_external_model_shape(spark, tiny):
    """Train on A, score B: out-of-model bigrams drop from sum AND
    count, exactly as the twin does."""
    df, texts = tiny
    model = lm_bigram_model(df)
    target = spark.createDataFrame(
        [(100, "a b never_seen_pair"), (101, "q r")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.lp_sum_fp, r.keep)
        for r in lm_score_docs(target, model=model).collect()
    }
    tmodel = {}
    for t in texts.values():
        for bg in doc_bigrams(t):
            tmodel[bg] = tmodel.get(bg, 0) + 1
    want = {
        d: (n, lp, k)
        for d, n, lp, k in lm_scores(
            {100: "a b never_seen_pair", 101: "q r"}, tmodel
        )
    }
    assert got == want
    # 101 has no in-model bigrams -> scored as zero-bigram (keep)
    assert got[101] == (0, 0, True)


@pytest.mark.parametrize("ref_mod", [2, 5, 7])
def test_fused_two_legs_equals_composed(spark, sf001, ref_mod):
    """The r8 fused board query (one count pass + one scoring pass) must
    be ROW-IDENTICAL to the composed form it replaced: self =
    lm_score_docs(docs); xmodel = lm_score_docs(~ref split, model
    trained on the ref split).  Covers the join-drop semantics (null
    lp_ref == out-of-ref-model), the zero-bigram rejoin, and the keep
    threshold, at several split moduli."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    is_ref = F.col("doc_id") % ref_mod == 0
    self_leg = lm_score_docs(docs).select(
        F.lit("self").alias("leg"), "doc_id", "n_bigrams", "lp_sum_fp",
        "keep",
    )
    model = lm_bigram_model(docs.filter(is_ref))
    x_leg = lm_score_docs(docs.filter(~is_ref), model=model).select(
        F.lit("xmodel").alias("leg"), "doc_id", "n_bigrams", "lp_sum_fp",
        "keep",
    )
    composed = sorted(map(tuple, self_leg.unionByName(x_leg).collect()))
    fused = sorted(map(tuple, lm_score_two_legs(docs, ref_mod).collect()))
    assert fused == composed


def test_ilog_lookup_is_bounded(spark, sf001):
    """The counting argument: distinct count values <= sqrt(2N) where N
    is total bigram observations — checked live on the real corpus."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    n_total = bigram_stream(docs).count()
    texts = dict(
        pd.read_parquet(f"{sf001}/documents.parquet")[
            ["doc_id", "text"]
        ].values
    )
    model = {}
    for t in texts.values():
        for bg in doc_bigrams(t):
            model[bg] = model.get(bg, 0) + 1
    vals = ilog_values(model)
    assert len(vals) <= (2 * n_total) ** 0.5
    # and the lookup values are the frozen fixed-point log
    for k, v in list(vals.items())[:10]:
        assert v == ilog_fp(k)


def test_pipeline_lm_filter_stage(spark, sf001, tmp_path):
    """CorpusPipeline(lm_filter=True): the stage lands between clean and
    split, keeps exactly the twin's keep set over the CLEANED corpus,
    and everything downstream only sees kept docs."""
    from uk_ner_presidio_demo_spark.plans.corpus_pipeline import (
        CorpusPipeline,
    )
    from uk_ner_presidio_demo_spark.semantics.lm import lm_scores

    pipe = CorpusPipeline(
        spark=spark, sf_dir=sf001,
        checkpoint_dir=str(tmp_path / "ckpt"),
        out_dir=str(tmp_path / "out"), lm_filter=True,
    )
    tables = pipe.run()
    stages = [r.stage for r in pipe.results]
    assert stages.index("lm_filter") == stages.index("clean") + 1
    assert stages.index("lm_filter") < stages.index("split")

    cleaned_ids = set(
        tables["clean"].select("doc_id").toPandas()["doc_id"]
    )
    full = pd.read_parquet(f"{sf001}/documents.parquet")[
        ["doc_id", "text"]
    ]
    texts = {
        int(d): t for d, t in full.values if int(d) in cleaned_ids
    }
    want_keep = {d for d, _n, _lp, k in lm_scores(texts) if k}
    got_keep = set(tables["lm_filter"].toPandas()["doc_id"])
    assert got_keep == want_keep
    # downstream: the split stage only holds kept docs
    split_ids = set(tables["split"].toPandas()["doc_id"])
    assert split_ids <= want_keep


def test_scores_invariant_under_partitioning(spark, sf001):
    """The fixed-point claim made testable: identical rows at 1 and 17
    input partitions — integer sums are order-independent, and the ilog
    lookup is data, so no accumulation-order caveat exists anywhere."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    a = (
        lm_score_docs(docs.repartition(1))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        lm_score_docs(docs.repartition(17))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_keep_threshold_is_integer_exact(spark):
    """Docs exactly AT the threshold keep (>=), one micro-nat below
    drops — integer comparison, no float boundary."""
    # craft counts: two docs sharing bigrams so lp is controlled is
    # fiddly; instead check the flag formula directly on a frame
    rows = [
        (1, 10, LM_KEEP_MIN_AVG_FP * 10),      # exactly at -> keep
        (2, 10, LM_KEEP_MIN_AVG_FP * 10 - 1),  # one unit under -> drop
        (3, 0, 0),                             # zero-bigram -> keep
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, n_bigrams long, lp_sum_fp long"
    )
    thr = F.lit(LM_KEEP_MIN_AVG_FP).cast("long")
    got = {
        r.doc_id: r.keep
        for r in df.withColumn(
            "keep",
            (F.col("n_bigrams") == 0)
            | (F.col("lp_sum_fp") >= thr * F.col("n_bigrams")),
        ).collect()
    }
    assert got == {1: True, 2: False, 3: True}
