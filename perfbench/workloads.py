"""Workloads, the closed loop that runs them, and the metrics they report."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pandas as pd

import gen
from check import check_stages, golden_digests, out_digest
from flow import (
    REBUILT, STAGES, drop_rebuilt, flow, run_pagerank, run_pipeline, warm_up,
)
from hostclock import StealClock
from layers import per_layer_metrics
from proctree import RssSampler
from spans import Tracer

# Generated inputs use the sf0.01 bucket count of ensure_transcripts.
GEN_BUCKETS = 8
# long_conv: sf0.01's 400 generated conversations joined 50 at a time, so
# it scans about as many turns as the pipeline workload in 8 conversations
# of about 1,150 turns each
LONG_CONVS, LONG_JOIN = 400, 50


@dataclass(frozen=True)
class Workload:
    """``make(seed, scale)`` returns the input frame for the generated
    workloads; the pipeline workload reads the program's own fixture
    ``sf``.  The scale guard compares the scanned input with the declared
    counts: ``turns`` is an inclusive range, ``convs`` exact."""

    name: str
    turns: tuple[int, int]
    convs: int
    make: Callable[[int, float], pd.DataFrame] | None = None
    sf: str | None = None


WORKLOADS = {
    w.name: w for w in (
        Workload("pipeline_sf0.01", sf="sf0.01", turns=(9_030, 9_030),
                 convs=400),
        # synth_transcripts(400, seed) gave 8,694-9,872 turns over seeds
        # 1-120 (mean 9,196, sd 226); the range is 7.5-8 sd either side
        Workload("long_conv", turns=(7_500, 11_000),
                 convs=LONG_CONVS // LONG_JOIN,
                 make=lambda seed, scale: gen.long_conv(
                     int(LONG_CONVS * scale), LONG_JOIN, seed)),
    )
}
WARMUP_SCALE = 0.05
# a batch job slower than this counts as failed
ITER_TIMEOUT_S = 150.0
# PageRank is short and its first call pays first-use costs: each untraced
# batch job runs it this many times and reports the median
PAGERANK_RUNS = 3


class ScaleError(RuntimeError):
    """The scanned input does not have the counts the workload declares."""


@dataclass
class Phases:
    """One batch job: cold build, resume, partial resume, PageRank.  Times
    are steal-adjusted (hostclock.StealClock) except ``cold_wall``, the
    plain wall that the stage walls add up to."""

    cold_s: float
    cold_wall: float
    resume_s: float
    partial_s: float
    pagerank_s: float
    cold_stages: list
    partial_stages: list
    ckpt_bytes: int
    errors: list[str] = field(default_factory=list)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def drop_out(out: Path) -> None:
    """Delete the materialized nodes and edges, so that the next phase's
    digest checks what that phase wrote."""
    for table in ("nodes", "edges"):
        shutil.rmtree(out / table)


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Bench:
    def __init__(self, wl: Workload, seed: int, work: Path, cores: int,
                 trace: bool):
        self.wl, self.seed, self.work = wl, seed, work
        self.cores, self.trace = cores, trace
        self.run_id = f"{wl.name}-{seed}-{os.getpid()}"

    # ---- setup ---------------------------------------------------------------

    def _session(self):
        from uk_ner_presidio_demo_spark.session import get_spark

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            self.event_dir = self.work / "eventlog"
            self.event_dir.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        spark = get_spark(app_name=f"perfbench-{self.wl.name}",
                          cores=self.cores, extra_conf=conf)
        spark.range(1).count()
        return spark

    def _make_input(self) -> tuple[Path, pd.DataFrame | None]:
        if self.wl.sf is not None:
            from uk_ner_presidio_demo_spark.data.synth import (
                ensure_transcripts,
            )

            return ensure_transcripts(self.wl.sf), None
        pdf = self.wl.make(self.seed, 1.0)
        src = gen.write_bucketed(pdf, self.work / "input", GEN_BUCKETS)
        return src, pdf

    def _warmup(self, spark, tracer: Tracer) -> None:
        d = self.work / "warmup"
        if self.wl.sf is not None:
            from uk_ner_presidio_demo_spark.data.synth import (
                ensure_transcripts,
            )

            src = ensure_transcripts("sf0.001")
        else:
            src = gen.write_bucketed(self.wl.make(self.seed, WARMUP_SCALE),
                                     self.work / "warmup_input", GEN_BUCKETS)
        warm_up(spark, src, d, tracer)

    def _scale_guard(self, spark, src: Path, pdf: pd.DataFrame | None
                     ) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from uk_ner_presidio_demo_spark.sources.tables import (
            TRANSCRIPTS_SCHEMA,
        )

        row = (spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(src))
               .agg(F.count("*").alias("t"),
                    F.countDistinct("conv_id").alias("c")).collect()[0])
        turns, convs = row["t"], row["c"]
        lo, hi = self.wl.turns
        if not lo <= turns <= hi or convs != self.wl.convs:
            raise ScaleError(
                f"{self.wl.name}: scanned {turns} turns in {convs} "
                f"conversations, declared {lo}-{hi} in {self.wl.convs}")
        if pdf is not None and len(pdf) != turns:
            raise ScaleError(f"{self.wl.name}: scanned {turns} turns, "
                             f"generated {len(pdf)}")
        return turns, convs

    def _golden(self, pdf: pd.DataFrame | None) -> Path:
        """Directory of the oracle's parquet tables for this input."""
        from uk_ner_presidio_demo_spark.oracle.reference_oracle import (
            ensure_golden, run_oracle,
        )

        if pdf is None:
            return ensure_golden(self.wl.sf)
        d = self.work / "golden"
        d.mkdir()
        for name, df in run_oracle(pdf).items():
            df.to_parquet(d / f"{name}.parquet", index=False)
        return d

    # ---- one batch job ---------------------------------------------------------

    def _build(self, spark, tracer: Tracer, src: Path, d: Path) -> list:
        if self.wl.sf is not None:
            return run_pipeline(spark, self.wl.sf, d / "ckpt", d / "out")
        fl = flow(spark, src, d, tracer, split_link=self.trace)
        fl.run()
        return fl.results

    def _iteration(self, spark, tracer: Tracer, src: Path, i: int,
                   want: dict, rss: RssSampler) -> Phases:
        d = self.work / f"iter{i}"
        ck, out = d / "ckpt", d / "out"
        errors: list[str] = []

        def timed(name: str):
            with tracer.span(name), StealClock() as clock:
                stages = self._build(spark, tracer, src, d)
            return clock, stages

        def expect(stages, skipped: set, phase: str) -> None:
            got = {s.stage for s in stages if s.skipped}
            if [s.stage for s in stages] != list(STAGES) or got != skipped:
                errors.append(f"{phase}: skipped {sorted(got)}, "
                              f"expected {sorted(skipped)}")

        cold_clock, cold = timed("pipeline.cold")
        rss.active.clear()
        expect(cold, set(), "cold")
        errors += check_stages(spark, ck, want)
        digest = out_digest(spark, out)
        ckpt_bytes = _du(ck)
        drop_out(out)
        rss.active.set()

        resume_clock, resumed = timed("pipeline.resume")
        rss.active.clear()
        expect(resumed, set(STAGES), "resume")
        if out_digest(spark, out) != digest:
            errors.append("resume: nodes/edges differ from the cold build")
        drop_rebuilt(ck)
        drop_out(out)
        rss.active.set()

        partial_clock, partial = timed("pipeline.partial")
        rss.active.clear()
        expect(partial, set(STAGES) - set(REBUILT), "partial")
        if out_digest(spark, out) != digest:
            errors.append("partial: nodes/edges differ from the cold build")
        rss.active.set()

        pagerank_runs = []
        for _ in range(1 if self.trace else PAGERANK_RUNS):
            with tracer.span("graph.pagerank"), StealClock() as clock:
                run_pagerank(spark, out)
            pagerank_runs.append(clock.seconds)
        pagerank_s = statistics.median(pagerank_runs)
        rss.active.clear()
        if not self.trace:  # a traced run reads its stage outputs later
            shutil.rmtree(d)
        rss.active.set()
        return Phases(cold_clock.seconds, cold_clock.wall,
                      resume_clock.seconds, partial_clock.seconds, pagerank_s,
                      cold, partial, ckpt_bytes, errors)

    # ---- the run ---------------------------------------------------------------

    def run(self, seconds: float) -> dict | None:
        with RssSampler() as rss:
            rss.active.set()
            with StealClock() as clock:
                spark = self._session()
            try:
                return self._run(spark, clock.seconds, seconds, rss)
            except ScaleError as exc:
                print(f"perfbench: {exc}; refusing to report",
                      file=sys.stderr)
                return None
            finally:
                spark.stop()

    def _run(self, spark, session_s: float, seconds: float,
             rss: RssSampler) -> dict | None:
        self.tracer = tracer = Tracer(spark, self.trace, self.run_id)
        gen_s = []
        for _ in range(3):
            with StealClock() as clock:
                src, pdf = self._make_input()
            gen_s.append(clock.seconds)
        with StealClock() as clock:
            self._warmup(spark, tracer)
        warmup_s = clock.seconds
        log(f"session {session_s:.1f} s, input {statistics.median(gen_s):.1f}"
            f" s, warm-up {warmup_s:.1f} s")
        setup_s = session_s + statistics.median(gen_s) + warmup_s

        rss.active.clear()
        t0 = time.perf_counter()
        turns, convs = self._scale_guard(spark, src, pdf)
        golden = self._golden(pdf)
        want = golden_digests(spark, golden)
        log(f"scale guard and oracle {time.perf_counter() - t0:.1f} s")
        rss.active.set()

        # every batch job that ran to the end, with the ones that passed its
        # output checks first: a failed check still reports its timings,
        # with correct=false and ok_frac below 1
        passed: list[Phases] = []
        checked_bad: list[Phases] = []
        attempted = failed = 0
        deadline = time.perf_counter() + seconds
        while True:
            attempted += 1
            t0 = time.perf_counter()
            try:
                ph = self._iteration(spark, tracer, src, attempted, want,
                                     rss)
            except Exception:
                traceback.print_exc()
                ph = None
            wall = time.perf_counter() - t0
            if ph is not None:
                log(f"batch job {attempted}: {wall:.1f} s; cold "
                    f"{ph.cold_s:.1f} resume {ph.resume_s:.1f} partial "
                    f"{ph.partial_s:.1f} pagerank {ph.pagerank_s:.1f}")
            if ph is None or ph.errors or wall > ITER_TIMEOUT_S:
                failed += 1
                if ph is not None:
                    checked_bad.append(ph)
                    log(f"batch job {attempted} failed: "
                        f"{ph.errors or f'took {wall:.1f} s'}")
            else:
                passed.append(ph)
            if time.perf_counter() >= deadline or self.trace:
                break
        rss.active.clear()

        env = {"nproc": os.cpu_count(), "pyspark": _version("pyspark"),
               "numpy": _version("numpy"), "turns": turns, "convs": convs,
               "workload": self.wl.name, "seed": self.seed}
        done = passed or checked_bad
        if not done:
            log("every batch job raised; nothing to report")
            return None
        if self.trace:
            metrics = per_layer_metrics(
                self, spark, tracer, src, pdf, golden, done[0], session_s,
                turns)
        else:
            def med(key: str) -> float:
                return statistics.median(getattr(p, key) for p in done)

            metrics = {
                "kg_turns_per_s": (turns / med("cold_s"), "1/s"),
                "resume_s": (med("resume_s"), "s"),
                "partial_resume_s": (med("partial_s"), "s"),
                "pagerank_s": (med("pagerank_s"), "s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
                "ok_frac": ((attempted - failed) / attempted, "frac"),
            }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
            "env": env,
        }


def _version(mod: str) -> str:
    return sys.modules[mod].__version__ if mod in sys.modules else "absent"
