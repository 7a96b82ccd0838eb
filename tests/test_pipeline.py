"""Pipeline checkpoint/resume tests (SURVEY.md §5.2 item 5) and
materialized-graph sanity."""

import json
import re
import shutil
import threading
import time
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from uk_ner_presidio_demo_spark.oracle.reference_oracle import ensure_golden
from uk_ner_presidio_demo_spark.plans.pipeline import (
    KGPipeline, StagedPipeline,
)


STAGES = ["validate_metrics", "detected_turns", "mentions", "anonymized",
          "triples", "canonical_nodes", "canonical_triples"]
# each stage's inputs in KGPipeline's stage graph (plans/pipeline.py)
STAGE_INPUTS = {
    "validate_metrics": (),
    "detected_turns": (),
    "mentions": ("detected_turns",),
    "anonymized": ("detected_turns",),
    "triples": ("mentions",),
    "canonical_nodes": ("mentions",),
    "canonical_triples": ("triples", "canonical_nodes"),
}
UTC_STAMP = re.compile(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ")


def _no_build():
    raise AssertionError("a matching manifest must skip, not rebuild")


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under Spark job group ``group``; return how many Spark
    jobs carried that group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def run_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("kgrun")
    return str(base / "ckpt"), str(base / "out")


@pytest.fixture(scope="module")
def first_run(spark, sf001, run_dirs):
    ckpt, out = run_dirs
    pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                      out_dir=out)
    tables = pipe.run()
    return pipe, tables


def test_all_stages_ran(first_run):
    pipe, _ = first_run
    assert all(not r.skipped for r in pipe.results)
    assert [r.stage for r in pipe.results] == STAGES


def test_rerun_skips_everything(spark, sf001, run_dirs, first_run):
    ckpt, out = run_dirs
    pipe2 = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                       out_dir=out)
    pipe2.run()
    assert all(r.skipped for r in pipe2.results), pipe2.results


def test_partial_resume_after_loss(spark, sf001, run_dirs, first_run):
    """Simulate a crash that lost the last two stages: only they re-run."""
    import shutil

    ckpt, out = run_dirs
    shutil.rmtree(Path(ckpt) / "canonical_nodes")
    shutil.rmtree(Path(ckpt) / "canonical_triples")
    pipe3 = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                       out_dir=out)
    pipe3.run()
    status = {r.stage: r.skipped for r in pipe3.results}
    assert status["mentions"] and status["triples"]
    assert not status["canonical_nodes"]
    assert not status["canonical_triples"]


def test_checkpointed_outputs_match_golden(spark, run_dirs, first_run, sf001):
    """Resumed outputs are the same rows the oracle predicts.  Re-read from
    disk: earlier resume tests overwrote the materialized out/ dir, so DFs
    held from the first run have stale file listings."""
    _, out = run_dirs
    gdir = ensure_golden(sf001)
    golden_ct = pd.read_parquet(gdir / "golden_canonical_triples.parquet")
    edges = spark.read.parquet(f"{out}/edges").toPandas()
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    a = edges[keys].sort_values(keys).reset_index(drop=True)
    b = golden_ct[keys].astype(a.dtypes.to_dict()).sort_values(keys) \
        .reset_index(drop=True)
    assert a.equals(b)


def test_manifests_carry_lineage(spark, run_dirs, first_run):
    """Per-file lineage from the written footers: one partition_rows entry
    per data/*.parquet file (sorted by name), each equal to that file's
    footer row count, summing to rows; and the recorded schema is the one
    the skip path reads back with."""
    ckpt, _ = run_dirs
    man = json.loads((Path(ckpt) / "mentions" / "_MANIFEST.json").read_text())
    assert man["rows"] > 0 and man["input_fingerprint"] and man["partitions"] >= 1
    resumed = StagedPipeline(spark=spark, sf_dir="", checkpoint_dir=ckpt,
                             out_dir="")
    for stage in [r.stage for r in first_run[0].results]:
        man = json.loads(resumed._manifest(stage).read_text())
        files = sorted((Path(ckpt) / stage / "data").glob("*.parquet"))
        assert man["partitions"] == len(files) == len(man["partition_rows"])
        assert man["partition_rows"] == [
            pq.read_metadata(f).num_rows for f in files
        ]
        assert sum(man["partition_rows"]) == man["rows"]
        assert UTC_STAMP.fullmatch(man["started_at"])
        assert UTC_STAMP.fullmatch(man["finished_at"])
        assert man["started_at"] <= man["finished_at"]
        out = resumed._stage(stage, man["input_fingerprint"], _no_build)
        assert resumed.results[-1].skipped
        assert StructType.fromJson(man["schema"]) == out.schema


def test_materialized_partition_layout(run_dirs, first_run):
    """Edges land partitioned by pred; nodes by entity_type (the Iceberg
    partitionedBy analogue)."""
    _, out = run_dirs
    preds = {p.name for p in Path(out, "edges").glob("pred=*")}
    assert {"pred=uses_tool", "pred=mentions_person"} <= preds
    etypes = {p.name for p in Path(out, "nodes").glob("entity_type=*")}
    assert "entity_type=PERS" in etypes


def test_compaction_on_materialized_edges(spark, run_dirs, first_run):
    """Maintenance integration: compacting the pipeline's REAL edges
    table (partitioned by pred) is row-exact and preserves the partition
    layout the scans prune on."""
    from uk_ner_presidio_demo_spark.sources.maintenance import (
        compact_partitioned_table,
    )

    _, out = run_dirs
    path = f"{out}/edges"
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    before = spark.read.parquet(path).toPandas()[keys] \
        .sort_values(keys).reset_index(drop=True)
    preds_before = {p.name for p in Path(path).glob("pred=*")}
    stats = compact_partitioned_table(spark, path, ["pred"])
    after = spark.read.parquet(path).toPandas()[keys] \
        .sort_values(keys).reset_index(drop=True)
    assert before.equals(after)
    assert stats["files_after"] <= stats["files_before"]
    assert {p.name for p in Path(path).glob("pred=*")} == preds_before


def test_failed_rewrite_leaves_no_manifest(tmp_path):
    """A rewrite that dies after the stage's manifest was written for
    another fingerprint must not leave that manifest behind: a rerun with
    the old fingerprint would otherwise skip onto a half-written data/."""
    pipe = StagedPipeline(spark=None, sf_dir="", out_dir=str(tmp_path / "o"),
                          checkpoint_dir=str(tmp_path / "ckpt"))
    man = pipe._manifest("triples")
    (man.parent / "data").mkdir(parents=True)
    man.write_text(json.dumps({"stage": "triples", "rows": 3,
                               "input_fingerprint": "old"}))

    def killed_mid_write():
        raise RuntimeError("killed")

    with pytest.raises(RuntimeError, match="killed"):
        pipe._stage("triples", "new", killed_mid_write)
    assert not man.exists()
    # the rerun with the old fingerprint rebuilds instead of skipping
    with pytest.raises(RuntimeError, match="killed"):
        pipe._stage("triples", "old", killed_mid_write)
    assert pipe.results == []


def test_manifest_without_schema_is_rebuilt(spark, tmp_path):
    """A manifest whose fingerprint matches but which records no schema
    (written before schemas were recorded) is stale: the stage rebuilds
    and the new manifest carries the schema."""
    pipe = StagedPipeline(spark=spark, sf_dir="", out_dir=str(tmp_path / "o"),
                          checkpoint_dir=str(tmp_path / "ckpt"))
    builds = []

    def build():
        builds.append(1)
        return spark.range(5)

    pipe._stage("s", "fp", build)
    man = pipe._manifest("s")
    meta = json.loads(man.read_text())
    del meta["schema"]
    man.write_text(json.dumps(meta))
    out = pipe._stage("s", "fp", build)
    assert len(builds) == 2
    assert [r.skipped for r in pipe.results] == [False, False]
    assert out.count() == 5
    assert "schema" in json.loads(man.read_text())


def test_empty_stage_commits_zero_rows(spark, tmp_path):
    """A stage whose build returns no rows commits rows == 0 and resumes
    with its declared columns."""
    pipe = StagedPipeline(spark=spark, sf_dir="", out_dir=str(tmp_path / "o"),
                          checkpoint_dir=str(tmp_path / "ckpt"))
    out = pipe._stage("empty", "fp",
                      lambda: spark.range(0).selectExpr("id", "'x' AS s"))
    meta = json.loads(pipe._manifest("empty").read_text())
    assert meta["rows"] == 0 and sum(meta["partition_rows"]) == 0
    assert pipe.results[-1].rows == 0 and out.count() == 0
    again = pipe._stage("empty", "fp", _no_build)
    assert pipe.results[-1].skipped and pipe.results[-1].rows == 0
    assert again.schema == out.schema and again.columns == ["id", "s"]


def test_full_skip_resume_job_budget(spark, sf001, run_dirs, first_run):
    """Job-budget tripwire for the checkpoint machinery: a full-skip
    resume reads every stage back with its recorded schema and re-runs
    only the materialize writes and the metrics append.  Measured 4 Spark
    jobs on a local[4] test session with footer counts and declared
    read-back schemas; the version that re-scanned each stage for its
    counts and inferred every read-back schema ran 13 here (14 on the
    benchmark's session).  A reintroduced re-scan or schema inference
    fails here.  The lower bound is the two materialize writes, which run
    on stage-graph threads: a thread that does not inherit the caller's
    job group leaves only the metrics append in it."""
    ckpt, out = run_dirs
    # make sure every stage is checkpointed, whatever ran before
    KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
               out_dir=out).run()
    pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                      out_dir=out)
    n = _jobs_in_group(spark, "test_full_skip_resume_job_budget", pipe.run)
    assert all(r.skipped for r in pipe.results), pipe.results
    assert 2 <= n <= 4, f"{n} Spark jobs for a full-skip resume"


def test_cold_run_job_budget(spark, sf001, tmp_path):
    """A cold run's stage jobs all carry the caller's job group, however
    the stage graph schedules them.  Measured 21 Spark jobs on a local[4]
    test session, the same as the serial run before it; a stage thread
    that loses the group counts none of its jobs, and a reintroduced
    per-stage re-scan or read-back schema inference adds at least 7."""
    pipe = KGPipeline(spark=spark, sf_dir=sf001,
                      checkpoint_dir=str(tmp_path / "ckpt"),
                      out_dir=str(tmp_path / "out"))
    n = _jobs_in_group(spark, "test_cold_run_job_budget", pipe.run)
    assert not any(r.skipped for r in pipe.results), pipe.results
    assert 10 <= n <= 24, f"{n} Spark jobs for a cold run"


def test_materialized_readback_matches_inference(spark, sf001, run_dirs,
                                                 first_run):
    """nodes/edges come back with the written frames' schemas (partition
    column last): the same columns, types and rows schema inference
    gives."""
    ckpt, out = run_dirs
    tables = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                        out_dir=out).run()
    for name, df in tables.items():
        inferred = spark.read.parquet(f"{out}/{name}")
        assert df.schema == inferred.schema, name
        assert sorted(map(tuple, df.drop("aliases").collect())) == sorted(
            map(tuple, inferred.drop("aliases").collect()))


def _copy_ckpt(run_dirs, tmp_path):
    """A private copy of the module's completed checkpoint (manifests
    hold fingerprints, not paths) and a fresh output dir."""
    import shutil

    ckpt = tmp_path / "ckpt"
    shutil.copytree(run_dirs[0], ckpt)
    return str(ckpt), str(tmp_path / "out")


def test_alias_edit_rebuilds_linking(spark, sf001, run_dirs, first_run,
                                     tmp_path, monkeypatch):
    """Editing the alias dictionary rebuilds canonical_nodes and the
    canonical_triples chained from it; the 5 upstream stages skip.  The
    dictionary is a tmp copy: read_aliases and the pipeline's fingerprint
    both resolve it through ensure_aliases."""
    from uk_ner_presidio_demo_spark.data import synth
    from uk_ner_presidio_demo_spark.sources import tables

    alias_path = tmp_path / "aliases.parquet"
    aliases = pd.read_parquet(synth.ensure_aliases())
    aliases.to_parquet(alias_path, index=False)
    for mod in (synth, tables):
        monkeypatch.setattr(mod, "ensure_aliases", lambda: alias_path)
    ckpt, out = _copy_ckpt(run_dirs, tmp_path)

    def run():
        pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                          out_dir=out)
        pipe.run()
        return {r.stage: r.skipped for r in pipe.results}

    run()
    assert all(run().values())
    extra = pd.DataFrame([{"alias_norm": "зовсім новий псевдонім",
                           "canonical_norm": "новий канон",
                           "entity_type": "PERS"}])
    pd.concat([aliases, extra]).to_parquet(alias_path, index=False)
    status = run()
    rebuilt = {"canonical_nodes", "canonical_triples"}
    assert {s for s, skipped in status.items() if not skipped} == rebuilt
    assert len(status) == 7


def test_semantics_version_rebuilds_every_stage(spark, sf001, run_dirs,
                                                first_run, tmp_path,
                                                monkeypatch):
    """A checkpoint written under another semantics version (GOLDEN_VERSION)
    is not resumed: every stage rebuilds."""
    from uk_ner_presidio_demo_spark.oracle import reference_oracle

    ckpt, out = _copy_ckpt(run_dirs, tmp_path)
    monkeypatch.setattr(reference_oracle, "GOLDEN_VERSION",
                        reference_oracle.GOLDEN_VERSION + 1)
    pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                      out_dir=out)
    pipe.run()
    assert len(pipe.results) == 7
    assert not any(r.skipped for r in pipe.results), pipe.results


def test_failed_stage_stops_its_downstream(spark, sf001, run_dirs, first_run,
                                          tmp_path, monkeypatch):
    """A stage that raises fails the run with its own exception once the
    stage running beside it has committed; the stage downstream of it never
    starts.  A rerun rebuilds exactly the failed stage and its downstream."""
    from uk_ner_presidio_demo_spark.plans import pipeline

    ckpt, out = _copy_ckpt(run_dirs, tmp_path)
    canon_fp = json.loads(
        (Path(ckpt) / "canonical_nodes" / "_MANIFEST.json").read_text()
    )["input_fingerprint"]
    import shutil

    for stage in ("triples", "canonical_nodes", "canonical_triples"):
        shutil.rmtree(Path(ckpt) / stage)

    class TriplesFailed(Exception):
        pass

    def failing_emit_triples(*args, **kwargs):
        raise TriplesFailed("emit_triples failed")

    real_emit_triples = pipeline.emit_triples
    monkeypatch.setattr(pipeline, "emit_triples", failing_emit_triples)
    with pytest.raises(TriplesFailed):
        KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                   out_dir=out).run()
    assert not (Path(ckpt) / "triples" / "_MANIFEST.json").exists()
    assert not (Path(ckpt) / "canonical_triples" / "_MANIFEST.json").exists()
    man = json.loads(
        (Path(ckpt) / "canonical_nodes" / "_MANIFEST.json").read_text())
    assert man["input_fingerprint"] == canon_fp and man["rows"] > 0

    monkeypatch.setattr(pipeline, "emit_triples", real_emit_triples)
    pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=ckpt,
                      out_dir=out)
    pipe.run()
    assert [r.stage for r in pipe.results] == STAGES
    assert {r.stage for r in pipe.results if not r.skipped} == {
        "triples", "canonical_triples"}


def test_stage_graph_order(spark, sf001, tmp_path, monkeypatch):
    """Every stage starts after its inputs in the stage graph have ended,
    the nodes write after canonical_nodes, the edges write after
    canonical_triples and the metrics append after everything; stage
    results and metrics rows come out in declaration order on cold,
    full-skip and partial runs, whatever the completion order."""
    spans = {}
    lock = threading.Lock()

    def timed(name_of, fn):
        def wrapper(self, *args, **kwargs):
            t0 = time.monotonic()
            try:
                return fn(self, *args, **kwargs)
            finally:
                with lock:
                    spans[name_of(args)] = (t0, time.monotonic())
        return wrapper

    for attr, name_of in (("_stage", lambda a: a[0]),
                          ("_write_nodes", lambda a: "nodes"),
                          ("_write_edges", lambda a: "edges"),
                          ("_write_metrics", lambda a: "metrics")):
        monkeypatch.setattr(KGPipeline, attr,
                            timed(name_of, getattr(KGPipeline, attr)))
    inputs = {**STAGE_INPUTS, "nodes": ("canonical_nodes",),
              "edges": ("canonical_triples",),
              "metrics": (*STAGE_INPUTS, "nodes", "edges")}
    ckpt = tmp_path / "ckpt"
    for run, drop in (("cold", ()), ("skip", ()),
                      ("partial", ("canonical_nodes", "canonical_triples"))):
        for stage in drop:
            shutil.rmtree(ckpt / stage)
        spans.clear()
        out = tmp_path / run
        pipe = KGPipeline(spark=spark, sf_dir=sf001, checkpoint_dir=str(ckpt),
                          out_dir=str(out))
        pipe.run()
        assert [r.stage for r in pipe.results] == STAGES, run
        assert {r.stage for r in pipe.results if not r.skipped} == (
            set(STAGES) if run == "cold" else set(drop)), run
        metrics = pd.read_parquet(out / "metrics")
        assert metrics["stage"].tolist() == STAGES, run
        for step, ins in inputs.items():
            for i in ins:
                assert spans[step][0] >= spans[i][1], (run, step, i)


@pytest.mark.parametrize("name", ["sf0.001", "sf0.01", "sf0.1", "sf1"])
def test_known_scale_names_resolve(name):
    from uk_ner_presidio_demo_spark.data.synth import sf_key_for_dir

    assert sf_key_for_dir(f"/data/{name}") == name
    assert sf_key_for_dir(f"/data/{name}/") == name


@pytest.mark.parametrize("sf_dir", ["/data/sf10", "/data/sf0.01_score",
                                    "/data/transcripts", ""])
def test_unknown_scale_name_raises(sf_dir):
    from uk_ner_presidio_demo_spark.data.synth import sf_key_for_dir

    with pytest.raises(ValueError, match="unknown scale"):
        sf_key_for_dir(sf_dir)
