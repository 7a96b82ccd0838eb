"""End-to-end staged KG pipeline with per-stage checkpoints, lineage
manifests, and counter metrics — resumable reruns [north-rule].

The KG chain is the stage table `KG_CHAIN` (an arrow: "is read by"):

    detected_turns                        (scan + fused detection)
      -> mentions, anonymized
    mentions -> triples, canonical_nodes  (link + connected components)
    triples, canonical_nodes -> canonical_triples

`KGPipeline.run` checkpoints each of its stages, next to validate_metrics
(scan + reject counters), the nodes write (after canonical_nodes), the
edges write (after canonical_triples) and the metrics append (after
everything).  `kg_chain(transcripts, upto)` builds stage `upto` lazily,
and only its ancestors; the board queries in __spark_entry__.py project
it.  Fingerprints and lineage cuts are derived from the table.

Concurrency contract: `KGPipeline.run`, like the corpus pipeline, runs its
steps on one thread pool over the one session (`StagedPipeline._run_graph`,
chain stages made steps by `_chain_steps`): a step starts as soon as its
inputs have ended, so validate_metrics overlaps detected_turns,
mentions overlaps anonymized, triples overlaps canonical_nodes, and the
nodes write overlaps canonical_triples.  Each step's thread starts through
`pyspark.inheritable_thread_target(spark)`, so the caller's job group,
local properties and tags reach every stage job.  `self.results` and the
metrics rows come out in declaration order whatever the completion order.
The first failure is re-raised from `run()` once the running steps have
drained; no step starts after it, so a stage downstream of the failure
keeps no manifest.  Stage fingerprints do not depend on the schedule.

Checkpoint contract: each stage writes its output parquet under
<ckpt>/<stage>/data/ plus a _MANIFEST.json carrying {stage,
input_fingerprint, schema, rows, partitions, partition_rows, wall_sec,
started_at, finished_at}.  `partitions` is the number of parquet files
written and `partition_rows` the rows in each (sorted by file name), read
from the files' footers — metadata only, so a commit is ONE Spark job,
the write.  `started_at`/`finished_at` (UTC, whole seconds) bound the
build, so a run's overlap can be read from its own manifests.
`schema` is the Spark schema the stage returns (StructType JSON).  A
rerun with the same input fingerprint SKIPS the stage and reads the
parquet back with that schema — the driver-level restatement of
"resumable from checkpoint with per-partition lineage + metrics"
(BASELINE.json north_rule).  A manifest without a schema is stale and
the stage is rebuilt.  Every read of a file the pipeline wrote carries
its schema: inference is a Spark job per read.

A chain stage's fingerprint (`chain_fingerprints`) digests the root,
its declared non-frame lineage (strategy, alias file) and its inputs'
fingerprints, so a change invalidates exactly the stages downstream of
it.  The root, validate_metrics' fingerprint, is the input files plus
the semantics version (GOLDEN_VERSION): an engine upgrade rebuilds all.

Partitioned materialization: edges are written partitioned by `pred` and a
`conv_bucket` (pmod(hash(conv_id), n)) — the parquet-layout equivalent of
Iceberg `partitionedBy(entity_type, bucket(conv_id))` (O-S4); nodes by
entity_type.  A `salt` column (pmod(hash(norm_surface), n_salt)) ships on
edges for hot-entity downstream aggs (F-9 skew note).
"""

from __future__ import annotations

import hashlib
import json
import time
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable, NamedTuple

import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions.partitioning import bucket

from ..operators.canonicalize import canonical_nodes, canonical_triples
from ..operators.detect import (
    anonymized_turns, detect_turns, mentions_from_turns,
)
from ..operators.linking import ENTITY_COLS, link_entities
from ..operators.triples import MENTION_COLS, emit_triples
from ..session import driver_frame
from ..sources.tables import read_aliases, read_transcripts, valid_text_predicate

N_CONV_BUCKETS = 32
N_SALT = 16

METRICS_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType()),
    T.StructField("skipped", T.BooleanType()),
    T.StructField("rows", T.LongType()),
    T.StructField("wall_sec", T.DoubleType()),
    T.StructField("run_at", T.StringType()),
])


def _utc_now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def _fingerprint_path(p: Path) -> str:
    """Cheap input lineage: sorted (name, size, mtime_ns) of data files."""
    if p.is_file():
        st = p.stat()
        return f"{p.name}:{st.st_size}:{st.st_mtime_ns}"
    parts = sorted(
        f"{f.name}:{f.stat().st_size}:{f.stat().st_mtime_ns}"
        for f in p.glob("*.parquet")
    )
    return "|".join(parts)


def _partitioned_schema(schema: T.StructType, part: str) -> T.StructType:
    """The schema a directory written with partitionBy(part) reads back
    with: the data columns, then the partition column last."""
    return T.StructType([f for f in schema if f.name != part]
                        + [schema[part]])


class ChainSource(NamedTuple):
    """What the KG chain reads besides its own stage frames."""
    transcripts: DataFrame
    strategy: str        # detection's conflict strategy
    anonymized: bool     # detection also returns the anonymized text


# The KG chain: {stage: (inputs, lineage, build)} in dependency order.
# ``inputs`` maps each input stage to the columns read from it (None: all);
# ``lineage`` names the stage's non-frame input, "strategy" or "aliases";
# ``build(src, frames)`` makes the stage's frame from a ChainSource and
# its inputs' frames, calling the module globals (emit_triples, ...).
KG_CHAIN = {
    "detected_turns": ({}, "strategy", lambda s, f: detect_turns(
        s.transcripts, s.strategy, with_anonymized=s.anonymized)),
    "mentions": ({"detected_turns": None}, None,
                 lambda s, f: mentions_from_turns(f["detected_turns"])),
    "anonymized": ({"detected_turns": None}, None,
                   lambda s, f: anonymized_turns(f["detected_turns"])),
    "triples": ({"mentions": MENTION_COLS}, None,
                lambda s, f: emit_triples(s.transcripts, f["mentions"])),
    "canonical_nodes": ({"mentions": ENTITY_COLS}, "aliases",
                        lambda s, f: canonical_nodes(*link_entities(
                            f["mentions"],
                            read_aliases(s.transcripts.sparkSession)))),
    "canonical_triples": ({"triples": None, "canonical_nodes": None}, None,
                          lambda s, f: canonical_triples(
                              f["triples"], f["canonical_nodes"]).distinct()),
}


def chain_fingerprints(chain: dict, root: str,
                       lineage: dict[str, str]) -> dict[str, str]:
    """{stage: fingerprint} for a stage table: a digest of ``root``, the
    ``lineage`` value of the stage's declared lineage and its inputs'
    fingerprints, so a change reaches every descendant and no other."""
    fps: dict[str, str] = {}
    for stage, (inputs, lin, _) in chain.items():
        parts = [root, lineage[lin] if lin else "", *(fps[i] for i in inputs)]
        fps[stage] = hashlib.sha256("\n".join(parts).encode()).hexdigest()
    return fps


def kg_chain(transcripts: DataFrame, upto: str,
             strategy: str = "priority") -> DataFrame:
    """Stage ``upto`` of KG_CHAIN over ``transcripts``, building only its
    ancestors.  A frame two or more of them read is cut once with
    localCheckpoint(eager=True), pruned to the columns they read, so the
    work upstream of it (detection) runs once: the CLAUDE.md two-consumer
    invariant.  Detection returns the anonymized text only when
    ``anonymized`` is built."""
    if upto not in KG_CHAIN:
        raise ValueError(f"kg_chain: unknown stage {upto!r}")
    needed = {upto}
    for stage in reversed(KG_CHAIN):
        if stage in needed:
            needed.update(KG_CHAIN[stage][0])
    src = ChainSource(transcripts, strategy, "anonymized" in needed)
    frames: dict[str, DataFrame] = {}
    for stage in (s for s in KG_CHAIN if s in needed):
        df = KG_CHAIN[stage][2](src, frames)
        reads = [KG_CHAIN[c][0][stage] for c in needed
                 if stage in KG_CHAIN[c][0]]
        if len(reads) >= 2:
            if None not in reads:
                df = df.select(*[c for c in df.columns
                                 if any(c in r for r in reads)])
            df = df.localCheckpoint(eager=True)
        frames[stage] = df
    return frames[upto]


@dataclass
class StageResult:
    stage: str
    skipped: bool
    rows: int
    wall_sec: float


@dataclass
class StagedPipeline:
    """Shared run-or-resume stage machinery (checkpoints + manifests +
    per-partition lineage + metrics) — base of the KG pipeline below and
    the corpus pipeline (plans/corpus_pipeline.py)."""

    spark: SparkSession
    sf_dir: str
    checkpoint_dir: str
    out_dir: str
    results: list[StageResult] = field(default_factory=list)

    def _ckpt(self, stage: str) -> Path:
        return Path(self.checkpoint_dir) / stage

    def _manifest(self, stage: str) -> Path:
        return self._ckpt(stage) / "_MANIFEST.json"

    def _stage(self, stage: str, fingerprint: str, build) -> DataFrame:
        """Run-or-resume one stage; returns the stage output DataFrame
        (always read back from the checkpoint parquet, so downstream
        lineage starts at the materialized file, not the compute DAG)."""
        path = self._ckpt(stage)
        data = path / "data"
        man = self._manifest(stage)
        if man.exists():
            try:
                meta = json.loads(man.read_text())
            except (json.JSONDecodeError, OSError):
                meta = {}  # torn/corrupt manifest (crash mid-write) -> re-run
            if (meta.get("input_fingerprint") == fingerprint
                    and "schema" in meta):
                self.results.append(
                    StageResult(stage, True, meta["rows"], 0.0)
                )
                schema = T.StructType.fromJson(meta["schema"])
                return self.spark.read.schema(schema).parquet(str(data))
            # drop the stale manifest BEFORE data/ is overwritten: a rewrite
            # killed halfway must not leave it vouching for a torn directory
            # (a rerun with the old fingerprint would skip and read it)
            man.unlink()
        started_at = _utc_now()
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(str(data))
        out = self.spark.read.schema(df.schema).parquet(str(data))
        # per-file lineage counts (A-7 [north-rule]) from the footers just
        # written: no re-scan, so a resumed run can still audit exactly
        # what each file contributed
        part_rows = [pq.read_metadata(f).num_rows
                     for f in sorted(data.glob("*.parquet"))]
        rows = sum(part_rows)
        wall = round(time.time() - t0, 3)
        man.write_text(
            json.dumps(
                {
                    "stage": stage,
                    "input_fingerprint": fingerprint,
                    "schema": out.schema.jsonValue(),
                    "rows": rows,
                    "partitions": len(part_rows),
                    "partition_rows": part_rows,
                    "wall_sec": wall,
                    "started_at": started_at,
                    "finished_at": _utc_now(),
                }
            )
        )
        self.results.append(StageResult(stage, False, rows, wall))
        return out

    def _run_graph(
        self, steps: dict[str, tuple[tuple[str, ...], Callable[[dict], Any]]]
    ) -> dict[str, Any]:
        """Run ``steps`` ({name: (inputs, fn)}) on one thread pool over the
        session and return {name: fn's value} in declaration order.  A step
        starts once every step named in its ``inputs`` has returned; ``fn``
        gets the values returned so far.  Threads start through
        ``inheritable_thread_target``, so every step's Spark jobs carry the
        caller's job group, local properties and tags.  The stage results
        appended meanwhile are put back in declaration order.  After the
        first failure no step starts; it is re-raised once the running
        steps have ended."""
        order = {name: i for i, name in enumerate(steps)}
        first = len(self.results)
        pending = dict(steps)
        running: dict = {}
        done: dict[str, Any] = {}
        error: BaseException | None = None
        with ThreadPoolExecutor(max_workers=len(steps)) as pool:
            while True:
                if error is None:
                    for name, (inputs, fn) in list(pending.items()):
                        if all(i in done for i in inputs):
                            del pending[name]
                            target = inheritable_thread_target(self.spark)(fn)
                            running[pool.submit(target, dict(done))] = name
                if not running:
                    break
                ended, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in ended:
                    name = running.pop(fut)
                    try:
                        done[name] = fut.result()
                    except BaseException as exc:  # re-raised below
                        error = error or exc
        if error is not None:
            raise error
        self.results[first:] = sorted(self.results[first:],
                                      key=lambda r: order[r.stage])
        return {name: done[name] for name in steps}

    def _chain_steps(self, chain: dict, src, fps: dict[str, str]) -> dict:
        """The stage table ``chain`` as `_run_graph` steps: each stage runs
        or resumes through `_stage` under its fingerprint in ``fps``, its
        build called with ``src`` and the frames returned so far."""
        return {name: (tuple(inputs), lambda r, name=name, build=build:
                       self._stage(name, fps[name], lambda: build(src, r)))
                for name, (inputs, _, build) in chain.items()}

    # ---- metrics / lineage (shared) -----------------------------------------

    def _write_metrics(self) -> None:
        run_at = _utc_now()
        df = driver_frame(
            self.spark,
            [(r.stage, r.skipped, r.rows, r.wall_sec, run_at)
             for r in self.results],
            METRICS_SCHEMA,
        )
        df.coalesce(1).write.mode("append").parquet(
            str(Path(self.out_dir) / "metrics")
        )


@dataclass
class KGPipeline(StagedPipeline):
    strategy: str = "priority"

    # ---- run ---------------------------------------------------------------

    def fingerprints(self) -> dict[str, str]:
        """{stage: input fingerprint}; validate_metrics' is the root."""
        from ..data.synth import ensure_aliases, ensure_transcripts
        from ..oracle import reference_oracle

        root = (f"{_fingerprint_path(ensure_transcripts(self.sf_dir))}"
                f"|semantics=v{reference_oracle.GOLDEN_VERSION}")
        lineage = {"strategy": f"strategy={self.strategy}",
                   "aliases": _fingerprint_path(ensure_aliases())}
        return {"validate_metrics": root,
                **chain_fingerprints(KG_CHAIN, root, lineage)}

    def run(self) -> dict[str, DataFrame]:
        fps = self.fingerprints()
        transcripts = read_transcripts(self.spark, self.sf_dir)

        # stage: validate metrics (reject counters — O-5 at scale filters,
        # never raises; the rejects become metrics rows).  perfbench/flow.py
        # runs this closure's code: keep it a direct closure of run() whose
        # only free variable is transcripts.
        def build_validate():
            return transcripts.groupBy("role").agg(
                F.count("*").alias("n_turns"),
                F.sum(F.when(valid_text_predicate(), 0).otherwise(1)).alias(
                    "n_rejected"
                ),
            )

        src = ChainSource(transcripts, self.strategy, anonymized=True)
        # the stage graph of the module docstring, in declaration order
        out = self._run_graph({
            "validate_metrics": ((), lambda r: self._stage(
                "validate_metrics", fps["validate_metrics"], build_validate)),
            **self._chain_steps(KG_CHAIN, src, fps),
            "nodes": (("canonical_nodes",),
                      lambda r: self._write_nodes(r["canonical_nodes"])),
            "edges": (("canonical_triples",),
                      lambda r: self._write_edges(r["canonical_triples"])),
        })
        self._write_metrics()
        return {"nodes": out["nodes"], "edges": out["edges"]}

    # ---- final graph tables -------------------------------------------------

    def _iceberg_available(self) -> bool:
        """True when an Iceberg catalog is configured on this session (the
        runtime jar is not shipped in this sandbox; on a real cluster,
        spark-submit --packages org.apache.iceberg:iceberg-spark-runtime
        plus a catalog conf flips this on)."""
        conf = self.spark.conf
        try:
            return bool(conf.get("spark.sql.catalog.kg", None))
        except Exception:
            return False

    def _materialize(self, canon: DataFrame, ctriples: DataFrame
                     ) -> dict[str, DataFrame]:
        """Write nodes and edges, the two writes overlapping."""
        return self._run_graph({
            "nodes": ((), lambda r: self._write_nodes(canon)),
            "edges": ((), lambda r: self._write_edges(ctriples)),
        })

    def _write_nodes(self, canon: DataFrame) -> DataFrame:
        nodes = (
            canon.groupBy("entity_type", "canonical_id", "canonical_norm")
            .agg(F.sort_array(F.collect_set("norm_surface")).alias("aliases"))
        )
        return self._write_table("nodes", nodes, "entity_type",
                                 ["entity_type"])

    def _write_edges(self, ctriples: DataFrame) -> DataFrame:
        edges = ctriples.withColumn(
            "conv_bucket", F.pmod(F.hash("conv_id"), F.lit(N_CONV_BUCKETS))
        ).withColumn(
            "salt", F.pmod(F.hash("obj"), F.lit(N_SALT))
        )
        return self._write_table("edges", edges, "pred",
                                 ["pred", bucket(N_CONV_BUCKETS, "conv_id")])

    def _write_table(self, name: str, df: DataFrame, part: str,
                     iceberg_parts: list) -> DataFrame:
        """Write one graph table and return it read back."""
        if self._iceberg_available():
            # The north-rule production layout: Iceberg tables partitioned
            # by entity-type / pred with a conv_id bucket transform.
            df.writeTo(f"kg.{name}").partitionedBy(*iceberg_parts) \
                .createOrReplace()
            return self.spark.table(f"kg.{name}")
        # dev fallback: the parquet-layout equivalent (hive-style partition
        # dirs + precomputed conv_bucket column)
        path = str(Path(self.out_dir) / name)
        df.write.mode("overwrite").partitionBy(part).parquet(path)
        return self.spark.read.schema(
            _partitioned_schema(df.schema, part)).parquet(path)
