"""Per-layer metrics of a traced run.

Times come from spans, Spark work (tasks, CPU, GC, shuffle, spill, Python
boundary bytes, SQL row counts) from the run's own event log folded per job
group, and row counts from the checkpointed stage outputs.  The layer names
are the package's modules; ``PER_LAYER`` is the list BENCHMARK.json names.
"""

from __future__ import annotations

import time
from pathlib import Path

import pandas as pd
from pyspark.sql import functions as F

from flow import STAGES, flow, force, graph_edges
from spans import GroupStats, fold_event_log

PREDS = ("mentions_person", "uses_tool", "contacts_via", "shares_pii_with")
SPARK_LAYERS = ("tables", "detect", "triples", "linking", "canonicalize",
                "pipeline", "graph")
# the semantics detect timing runs over at most this many valid turns
SEM_DETECT_TURNS = 20_000
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.jvm_old_gen_peak_mb", "MB", "lower"),
    ("session.jvm_gc_s", "s", "lower"),
    ("tables.scan_s", "s", "lower"),
    ("tables.rows", "count", "higher"),
    ("tables.input_bytes", "bytes", "lower"),
    ("tables.partitions", "count", "lower"),
    ("detect.turns_s", "s", "lower"),
    ("detect.turns_in", "count", "higher"),
    ("detect.turns_rejected", "count", "lower"),
    ("detect.mentions_out", "count", "higher"),
    ("detect.mentions_s", "s", "lower"),
    ("detect.anonymized_s", "s", "lower"),
    ("detect.py_bytes_sent", "bytes", "lower"),
    ("detect.py_bytes_returned", "bytes", "lower"),
    ("detect.cpu_s", "s", "lower"),
    ("detect.gc_s", "s", "lower"),
    ("detect.task_skew", "ratio", "lower"),
    ("semantics.detect_us_per_turn", "us", "lower"),
    ("semantics.triples_s", "s", "lower"),
    ("triples.emit_s", "s", "lower"),
    ("triples.rows", "count", "higher"),
    *((f"triples.rows.{p}", "count", "higher") for p in PREDS),
    ("triples.shuffle_bytes", "bytes", "lower"),
    ("triples.task_skew", "ratio", "lower"),
    ("linking.link_s", "s", "lower"),
    ("linking.entities", "count", "higher"),
    ("linking.alias_edges", "count", "higher"),
    ("linking.lsh_edges", "count", "higher"),
    ("linking.band_join_rows", "count", "lower"),
    ("linking.verify_ratio", "ratio", "higher"),
    ("linking.shuffle_bytes", "bytes", "lower"),
    ("canonicalize.cc_s", "s", "lower"),
    ("canonicalize.sim_edges", "count", "higher"),
    ("canonicalize.cc_path", "path", "lower"),
    ("canonicalize.cc_jobs", "count", "lower"),
    ("canonicalize.ctriples_s", "s", "lower"),
    ("canonicalize.ctriples_rows", "count", "higher"),
    *((f"pipeline.stage_s.{s}", "s", "lower") for s in STAGES),
    *((f"pipeline.stage_rows.{s}", "count", "higher") for s in STAGES),
    ("pipeline.ckpt_bytes", "bytes", "lower"),
    ("pipeline.skipped_stages", "count", "higher"),
    ("pipeline.tail_s", "s", "lower"),
    ("graph.pagerank_s", "s", "lower"),
    ("graph.edges_in", "count", "higher"),
    ("graph.path", "path", "lower"),
    ("graph.jobs", "count", "lower"),
    *((f"{layer}.tasks_failed", "count", "lower") for layer in SPARK_LAYERS),
    *((f"{layer}.spill_bytes", "bytes", "lower") for layer in SPARK_LAYERS),
    ("trace.kg_turns_per_s", "1/s", "higher"),
]
# cc_path and graph.path: 1 = driver-local twin, 2 = distributed loop
LOCAL, DISTRIBUTED = 1, 2


def semantics_timings(pdf: pd.DataFrame, mentions: pd.DataFrame
                      ) -> tuple[float, float]:
    """Single-process timings of the pure-Python kernels over the
    workload's own input: ``detect_mentions_batch`` per valid turn (in
    Arrow-batch-sized calls, at most SEM_DETECT_TURNS turns) and
    ``emit_triples_for_conv`` over the oracle's mentions."""
    from uk_ner_presidio_demo_spark.semantics.detect import (
        Mention, detect_mentions_batch,
    )
    from uk_ner_presidio_demo_spark.semantics.registry import is_valid_text
    from uk_ner_presidio_demo_spark.semantics.triples import (
        WINDOW_W, emit_triples_for_conv,
    )

    pdf = pdf.sort_values(["conv_id", "turn_idx"])
    texts = [t for t in pdf["text"] if is_valid_text(t)][:SEM_DETECT_TURNS]
    t0 = time.perf_counter()
    for i in range(0, len(texts), ARROW_BATCH):
        detect_mentions_batch(texts[i:i + ARROW_BATCH], strategy="priority")
    detect_us = (time.perf_counter() - t0) / len(texts) * 1e6

    by_conv: dict[str, dict[int, list]] = {}
    for r in mentions.sort_values(
            ["conv_id", "turn_idx", "mention_idx"]).itertuples(index=False):
        by_conv.setdefault(r.conv_id, {}).setdefault(int(r.turn_idx), []).append(
            Mention(int(r.mention_idx), r.entity_type, int(r.start),
                    int(r.end), float(r.score), r.surface, r.norm_surface))
    triples_s = 0.0
    for conv_id, sub in pdf.groupby("conv_id"):
        turns = [(int(t), None if (tool is None or tool != tool) else tool)
                 for t, tool in zip(sub["turn_idx"], sub["tool"])]
        by_turn = by_conv.get(conv_id, {})
        t0 = time.perf_counter()
        emit_triples_for_conv(conv_id, turns, by_turn, WINDOW_W)
        triples_s += time.perf_counter() - t0
    return detect_us, triples_s


def jvm_memory(spark) -> tuple[float, float]:
    """(peak use of the JVM's old-generation heap pool in MB, total GC
    time in s) since the JVM started.  In local mode the executors run in
    the driver JVM, whose heap is pinned (run.DRIVER_MEM): peak RSS stops
    at that pin, while heap growth below it shows here and pressure at it
    shows as GC time."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    old = [p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
           if p.getType().name() == "HEAP"
           and ("Old" in p.getName() or "Tenured" in p.getName())]
    gc_ms = sum(g.getCollectionTime()
                for g in mf.getGarbageCollectorMXBeans())
    return sum(old) / 2**20, gc_ms / 1e3


def per_layer_metrics(bench, spark, tracer, src: Path, pdf, golden: Path,
                      phases, session_s: float, turns: int) -> dict:
    """Everything a traced run reports.  Stops the session: the event log
    is complete only after that."""
    from uk_ner_presidio_demo_spark.operators.canonicalize import (
        CC_LOCAL_MAX_EDGES,
    )
    from uk_ner_presidio_demo_spark.operators.graph import PR_LOCAL_MAX_EDGES
    from uk_ner_presidio_demo_spark.operators.linking import (
        alias_match, distinct_entities,
    )
    from uk_ner_presidio_demo_spark.sources.tables import read_aliases

    work = bench.work
    if bench.wl.sf is not None:
        # the product runs its stages inside one call; the per-operator
        # split comes from the same chain run span by span over its input
        root, d = "pipeline.ops", work / "ops"
        with tracer.span(root):
            flow(spark, src, d, tracer, split_link=True).run()
    else:
        # the traced batch job keeps its stage outputs
        root, d = "pipeline.cold", work / "iter1"
    ck, out = d / "ckpt", d / "out"
    with tracer.span("tables.scan"):
        force(flow(spark, src, d, tracer).transcripts().select(
            "conv_id", "turn_idx", "text", "tool"))

    with tracer.span("counts"):
        read = lambda stage: spark.read.parquet(str(ck / stage / "data"))
        val = read("validate_metrics").agg(
            F.sum("n_turns").alias("n"), F.sum("n_rejected").alias("r")
        ).collect()[0]
        by_pred = dict(read("triples").groupBy("pred").count().collect())
        sim = spark.read.parquet(str(ck / "link_edges"))
        alias = alias_match(distinct_entities(read("mentions")),
                            read_aliases(spark)).distinct()
        sim_edges = sim.count()
        alias_edges = alias.count()
        lsh_edges = sim.join(alias, ["entity_type", "src", "dst"],
                             "left_anti").count()
        edges_in = graph_edges(spark, out).count()
    rows = {s.stage: s.rows for s in phases.cold_stages}

    old_gen_peak_mb, gc_s = jvm_memory(spark)
    detect_us, triples_s = semantics_timings(
        pdf if pdf is not None else pd.read_parquet(src),
        pd.read_parquet(golden / "golden_mentions.parquet"))
    spark.stop()
    groups = fold_event_log(bench.event_dir)

    def g(path: str) -> GroupStats:
        return groups.get(path, GroupStats())

    def dur(name: str, root_: str = root) -> float:
        return tracer.total(name, root_)

    def layer_sum(layer: str, attr: str) -> int:
        return sum(getattr(st, attr) for path, st in groups.items()
                   if path.rsplit("/", 1)[-1].startswith(layer + "."))

    det = g(f"{root}/detect.turns")
    tri = g(f"{root}/triples.emit")
    link = g(f"{root}/canonicalize.cc/linking.link")
    cc = g(f"{root}/canonicalize.cc")
    link_s = dur("linking.link")
    band_rows = link.sql_max("Join", "number of output rows")
    cold_stage_s = sum(s.wall_sec for s in phases.cold_stages)
    m = {
        "session.start_s": session_s,
        "session.jvm_old_gen_peak_mb": old_gen_peak_mb,
        "session.jvm_gc_s": gc_s,
        "tables.scan_s": dur("tables.scan", None),
        "tables.rows": g("tables.scan").input_records,
        "tables.input_bytes": g("tables.scan").sql_sum(
            "Scan parquet", "size of files read"),
        "tables.partitions": g("tables.scan").tasks,
        "detect.turns_s": dur("detect.turns"),
        "detect.turns_in": val["n"],
        "detect.turns_rejected": val["r"],
        "detect.mentions_out": rows["mentions"],
        "detect.mentions_s": dur("detect.mentions"),
        "detect.anonymized_s": dur("detect.anonymized"),
        "detect.py_bytes_sent": det.sql_sum(
            "MapInPandas", "data sent to Python workers"),
        "detect.py_bytes_returned": det.sql_sum(
            "MapInPandas", "data returned from Python workers"),
        "detect.cpu_s": det.cpu_ns / 1e9,
        "detect.gc_s": det.gc_ms / 1e3,
        "detect.task_skew": det.task_skew(),
        "semantics.detect_us_per_turn": detect_us,
        "semantics.triples_s": triples_s,
        "triples.emit_s": dur("triples.emit"),
        "triples.rows": rows["triples"],
        **{f"triples.rows.{p}": by_pred.get(p, 0) for p in PREDS},
        "triples.shuffle_bytes": tri.shuffle_write_bytes,
        "triples.task_skew": tri.task_skew(),
        "linking.link_s": link_s,
        "linking.entities": rows["canonical_nodes"],
        "linking.alias_edges": alias_edges,
        "linking.lsh_edges": lsh_edges,
        "linking.band_join_rows": band_rows,
        "linking.verify_ratio": lsh_edges / max(1, band_rows),
        "linking.shuffle_bytes": link.shuffle_write_bytes,
        "canonicalize.cc_s": dur("canonicalize.cc") - link_s,
        "canonicalize.sim_edges": sim_edges,
        "canonicalize.cc_path": (DISTRIBUTED if sim_edges > CC_LOCAL_MAX_EDGES
                                 else LOCAL),
        "canonicalize.cc_jobs": cc.jobs,
        "canonicalize.ctriples_s": dur("canonicalize.ctriples"),
        "canonicalize.ctriples_rows": rows["canonical_triples"],
        **{f"pipeline.stage_s.{s.stage}": s.wall_sec
           for s in phases.cold_stages},
        **{f"pipeline.stage_rows.{s}": rows[s] for s in STAGES},
        "pipeline.ckpt_bytes": phases.ckpt_bytes,
        "pipeline.skipped_stages": sum(s.skipped
                                       for s in phases.partial_stages),
        "pipeline.tail_s": phases.cold_wall - cold_stage_s,
        "graph.pagerank_s": phases.pagerank_s,
        "graph.edges_in": edges_in,
        "graph.path": DISTRIBUTED if edges_in > PR_LOCAL_MAX_EDGES else LOCAL,
        "graph.jobs": g("graph.pagerank").jobs,
        **{f"{layer}.tasks_failed": layer_sum(layer, "tasks_failed")
           for layer in SPARK_LAYERS},
        **{f"{layer}.spill_bytes": layer_sum(layer, "spill_bytes")
           for layer in SPARK_LAYERS},
        "trace.kg_turns_per_s": turns / phases.cold_s,
    }
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {k: (v, units[k]) for k, v in m.items()}

