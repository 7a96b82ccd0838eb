"""KG-pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root.  One process generates the load against a
``local[4]`` session; each workload is a closed loop of batch jobs, one
after the other.  A batch job is a cold build, a full-skip resume, a
partial resume with two checkpoints deleted, and PageRank over the
materialized graph; every phase is checked before the next starts.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the session writes a Spark event log, every layer call
runs inside a span, and the last line carries the per-layer metrics.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import traceback
from pathlib import Path

from proctree import descendants, reap

ROOT = Path(__file__).resolve().parent.parent
CORES = 4
# The session's 8 GB driver-heap default lets G1 grow the heap lazily, so
# the peak RSS of runs over the same input spread from 3.1 to 6.7 GB; a 2 GB
# heap holds both workloads and keeps the figure steady.
DRIVER_MEM = "2g"
# a run that is still going after this long is killed, with its processes
RUN_LIMIT_S = 170.0


def _prepare_env(work: Path) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import uk_ner_presidio_demo_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    watchdog = threading.Timer(RUN_LIMIT_S, _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        bench = Bench(WORKLOADS[args.workload], args.seed, work, CORES,
                      bool(args.trace))
        result = bench.run(args.seconds)
        if args.trace:
            runs = ROOT / ".perfbench_runs"
            runs.mkdir(exist_ok=True)
            bench.tracer.write(runs / f"{bench.run_id}.spans.jsonl")
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        watchdog.cancel()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    env = result.pop("env")
    declared = _declared_metrics(bool(args.trace))
    if declared is not None and set(result["metrics"]) != declared:
        print("perfbench: metrics differ from BENCHMARK.json: "
              f"{sorted(set(result['metrics']) ^ declared)}", file=sys.stderr)
        return 1
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


def _stop_jvm() -> None:
    """End the Py4J gateway JVM and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    reap()


def _abort() -> None:
    print(f"perfbench: run exceeded {RUN_LIMIT_S:.0f} s; stopping",
          file=sys.stderr, flush=True)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    os._exit(3)


def _declared_metrics(trace: bool) -> set[str] | None:
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"] for m in json.loads(spec.read_text())[key]}


if __name__ == "__main__":
    sys.exit(main())
