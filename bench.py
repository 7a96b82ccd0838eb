"""Bench harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "turns_per_sec": ...}.
Per-query wall = best of 2 runs (steady state; see the comment at the
timing loop), total = sum of per-query bests.

Execution is forced with the noop sink (full computation, no driver
collect). The KG queries run over the deterministic synthetic transcripts
keyed to the sf dir; relational queries run over the driver's parquet.
"""

from __future__ import annotations

import json
import os
import sys
import time


# THE headline query list — single source of truth for every document
# that states a bench query count (BENCH/BASELINE.md is generated from
# len(HEADLINE); VERDICT r3 #8 ended the three-way count drift).
HEADLINE = [
    "kg_mentions",
    "kg_anonymized",
    "kg_entity_type_counts",
    "kg_top_surfaces",
    "kg_triples",
    "kg_canonical_nodes",
    "kg_pagerank",
    "doc_neardup_minhash",
    "doc_simhash_dups",
    "doc_contamination",
    "doc_packing",
    "doc_hash_sample",
    "doc_partial_overlap",
    "txt_repetition",
    "txt_freq_profile",
    "txt_bpe_counts",
    "txt_lm_score",
    "doc_pii_scrub",
    "doc_span_excise",
    "ann_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_query_path",
    "txt_quality",
    "tpch_agg",
    "tpch_broadcast_join",
    "tpch_window_topk",
    "events_sessions",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def control_probe(n_texts: int = 500) -> float:
    """Single-process hardware-control probe (texts/s through the scalar
    detection kernel, fixed workload) — the scaling-bench calibration
    idea embedded in every bench file (VERDICT r3 #3): this shared host
    drifts ±20% minute-to-minute, so bench_regressions.py normalizes
    round-over-round query walls by the ratio of the two files' control
    rates instead of comparing raw seconds across minutes."""
    from uk_ner_presidio_demo_spark.data.synth import synth_transcripts
    from uk_ner_presidio_demo_spark.semantics.detect import detect_mentions

    df = synth_transcripts(100)
    texts = [t for t in df.text
             if t and t.strip() and len(t) <= 100_000][:n_texts]
    t0 = time.time()
    for t in texts:
        detect_mentions(t)
    return len(texts) / (time.time() - t0)


def control_mem_probe(n_words: int = 1 << 20) -> float:
    """Memory-bandwidth control leg (VERDICT r5 #1): the CPU texts/s probe
    is regex/dict-bound and blind to memory-bandwidth co-tenancy — which is
    what the numpy unpackbits/reduceat kernels (simhash) are hostage to.
    Fixed workload mirroring simhash64_batch's hot loop (8 MB of uint64 ->
    64 MB bit matrix -> segment reduceat); returns MB touched per second.
    Recorded on both sides of the timed loop like the CPU probe so
    bench_regressions can tell CPU drift from bandwidth drift."""
    import numpy as np

    hs = (np.arange(n_words, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
    idx = np.arange(0, n_words, 32, dtype=np.int64)
    best = None
    for _ in range(2):  # rep 1 pays first-touch pages (~30x on this VM)
        t0 = time.time()
        bits = np.unpackbits(
            hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        acc = np.add.reduceat(bits, idx, axis=0, dtype=np.int64)
        dt = time.time() - t0
        touched = hs.nbytes + bits.nbytes + acc.nbytes
        best = max(best or 0.0, touched / dt / 1e6)
    return best


def control_par_probe(n_procs: int, n_texts: int = 1000) -> float:
    """All-cores hardware-control leg (r6).  The single-process probes are
    blind to co-tenancy that only bites when every core is busy: this host
    shows whole minutes where 32-core query walls inflate ~2-2.5x while the
    single-proc rate is flat (or reads FASTER — observed 17.8k texts/s on a
    65 s bench run vs 14.5k on a 27 s run of identical code).  n_procs
    forked workers barrier-start the scalar detection kernel simultaneously
    and each times only its own compute loop; the aggregate texts/s
    inherits exactly the per-core slowdown a fully-busy Spark stage sees.
    bench_regressions.py normalizes by this leg when both files carry it
    (it matches the condition the query walls actually run under) and
    falls back to the single-proc leg for older files.  Returns 0.0 (field
    then omitted) if a worker wedges — fork from a JVM-attached parent is
    theoretically fragile, and a missing control must degrade the bench
    line, never hang the driver's round."""
    import multiprocessing as mp
    import queue as queue_mod

    from uk_ner_presidio_demo_spark.data.synth import synth_transcripts
    from uk_ner_presidio_demo_spark.semantics.detect import detect_mentions

    df = synth_transcripts(100)
    texts = [t for t in df.text
             if t and t.strip() and len(t) <= 100_000][:n_texts]
    ctx = mp.get_context("fork")  # children inherit the warm imports
    barrier = ctx.Barrier(n_procs)
    out: "mp.queues.Queue" = ctx.Queue()

    def worker() -> None:
        barrier.wait()
        t0 = time.time()
        for t in texts:
            detect_mentions(t)
        out.put(len(texts) / (time.time() - t0))

    procs = [ctx.Process(target=worker, daemon=True)
             for _ in range(n_procs)]
    rates = []
    try:
        # start() itself can fail (fork EAGAIN/ENOMEM on the busy shared
        # host) — any failure here must degrade to 0.0, not crash the
        # bench line the driver's round depends on
        for p in procs:
            p.start()
        for _ in procs:
            rates.append(out.get(timeout=120))
    except (queue_mod.Empty, OSError, ValueError):
        for p in procs:
            try:
                p.terminate()
            except Exception:
                pass
        return 0.0
    finally:
        for p in procs:
            if p.pid is not None:
                p.join(timeout=10)
    return sum(rates)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from uk_ner_presidio_demo_spark.session import default_cores, get_spark

    cores = default_cores()

    # Materialize synth input before timing.
    from uk_ner_presidio_demo_spark.data.synth import (
        SF_CONVS, ensure_transcripts, sf_key_for_dir,
    )

    ensure_transcripts(sf_dir)

    spark = get_spark(app_name="bench", cores=cores)

    import __spark_entry__ as entrymod

    qmap = dict(entrymod.queries())
    # two r1/r2 headline queries left the 50-slot driver registry in r3
    # (kg_top_surfaces: identical oracle to the salted twin; events_sessions:
    # merged into events_sessionize) — keep benching the same callables so
    # round-over-round per-query comparisons stay name-stable
    qmap.setdefault("kg_top_surfaces", entrymod._q_top_surfaces)
    qmap.setdefault("events_sessions", entrymod._q_events_sessions)
    # name-stable callables for queries that merged/rotated off the 50-slot
    # board (r3: board slots; r4: ann_topk merged into ann_exact_lsh_topk,
    # the r3 off-board six promoted) — bench keeps timing the SAME work
    # under the SAME name so round-over-round per-query ratios stay valid.
    # Exceptions by design in r4: doc_partial_overlap now times the
    # VERIFIED operator (chunk blocking + exact-span verify — the r3
    # number covered blocking only), and txt_quality absorbed the
    # stopword-stats explode+agg (board merge) — expect both to read
    # "slower" vs r3 under like-for-like comparison.
    qmap.setdefault("ann_topk", entrymod._q_ann_topk)
    qmap.setdefault("ann_pq_topk", entrymod._q_ann_pq_topk)
    qmap.setdefault("doc_pii_scrub", entrymod._q_doc_pii_scrub)
    qmap.setdefault("doc_span_excise", entrymod._q_doc_span_excise)
    # deployment query path: run 1 builds+caches the PQ index (train/encode
    # once), run 2 hits the cache — best-of-2 reports the pure query-path
    # wall over the codes table (no raw-embedding scan)
    qmap.setdefault("ann_ivfpq_query_path",
                    entrymod._q_ann_ivfpq_query_path)
    headline = [q for q in HEADLINE if q in qmap]

    # Warm the python workers / JVM once: a small detection pass spawns the
    # UDF workers and compiles the regex tables (the distributed analogue of
    # the reference's model warm-up, app.py:42-62), so timings below measure
    # engine throughput rather than process spin-up.
    force(qmap["kg_mentions"](spark, "/root/testdata/sf0.001"))
    force(qmap["tpch_agg"](spark, sf_dir))

    # Each query runs twice and reports the BEST wall: this VM's cold
    # first-touch page allocation is up to ~100x slower than steady state,
    # which lands entirely on allocation-heavy plans (localCheckpoint
    # materializations) in a single-shot timing; co-tenant interference is
    # strictly one-sided (it can only slow a run).  Best-of-2 therefore
    # measures engine capability — the same estimator BENCH/BASELINE.md
    # uses for the scaling levels.  The two attempts run as two FULL
    # PASSES over the query set (late r6), not back-to-back: co-tenant
    # bursts on this box last minutes, so adjacent attempts share the
    # same burst while pass-separated attempts (~minutes apart) give
    # each query a second, independently-weathered sample.  (The
    # ann_ivfpq_query_path cache contract is unchanged: its pass-1 run
    # trains and encodes, its pass-2 run measures the pure query path.)
    # hardware control sampled on BOTH sides of the timed loop; the max
    # (fastest observed) is the closest estimate of unloaded host speed
    control_before = control_probe()
    mem_before = control_mem_probe()
    par_before = control_par_probe(cores)
    walls: dict[str, list[float]] = {name: [] for name in headline}
    for _pass in range(2):
        for name in headline:
            t0 = time.time()
            force(qmap[name](spark, sf_dir))
            walls[name].append(time.time() - t0)
    timings = {name: round(min(w), 3) for name, w in walls.items()}
    total = round(sum(timings.values()), 3)
    control_after = control_probe()
    control_rate = round(max(control_before, control_after), 1)
    mem_rate = round(max(mem_before, control_mem_probe()), 1)
    par_rate = round(max(par_before, control_par_probe(cores)), 1)

    # turns/sec over the full detection pass (the BASELINE throughput metric)
    from uk_ner_presidio_demo_spark.sources.tables import read_transcripts

    n_turns = read_transcripts(spark, sf_dir).count()
    det_sec = timings.get("kg_mentions", None)
    turns_per_sec = round(n_turns / det_sec, 1) if det_sec else None

    print(
        json.dumps(
            {
                "metric": "headline_query_wall_time",
                "value": total,
                "unit": "sec",
                # recorded so bench_regressions can warn when two rounds
                # used different wall estimators (ADVICE r2).  r7 rename
                # (VERDICT r6 #1): the two attempts have been
                # pass-separated full sweeps since commit 5c2b819 (late
                # r6), which is a DIFFERENT estimator from back-to-back
                # best-of-2 — the r6 file that still said "best_of_2" is
                # corrected via ESTIMATOR_ACTUAL in bench_regressions.py
                "estimator": "best_of_2_passes",
                # single-proc detection texts/s (max of a probe before and
                # after the loop) — bench_regressions.py divides out the
                # host-drift ratio between two rounds' control rates
                "control_texts_per_sec": control_rate,
                # memory-bandwidth leg (MB/s through an unpackbits/reduceat
                # kernel shaped like simhash64_batch) — diagnostic only;
                # normalization still uses the CPU leg
                "control_mem_mb_per_sec": mem_rate,
                # all-cores leg (aggregate texts/s over `cores`
                # barrier-started forked workers) — the leg that actually
                # tracks busy-host co-tenancy; bench_regressions prefers
                # it for normalization when both files carry it.  Omitted
                # (None) if the probe wedged.
                "control_par_texts_per_sec": par_rate or None,
                "queries": timings,
                "sf": sf_key_for_dir(sf_dir),
                "cores": cores,
                "n_turns": n_turns,
                "n_convs": SF_CONVS.get(sf_key_for_dir(sf_dir)),
                "turns_per_sec_detection": turns_per_sec,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
