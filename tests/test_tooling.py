"""Guards on the repo tooling itself: the bench-regression script must
actually compare queries (VERDICT r2 found it vacuous against the
driver-wrapped BENCH_r*.json format)."""

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPT = REPO / "scripts" / "bench_regressions.py"


def _run(old: Path, new: Path) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, str(SCRIPT), str(old), str(new)],
        capture_output=True, text=True,
    )
    return p.returncode, p.stdout


def test_reads_driver_wrapped_bench_files():
    """BENCH_r01/r02 are driver-wrapped ({"parsed": {...}}); the guard must
    unwrap them and print the real totals + per-query lines."""
    old, new = REPO / "BENCH_r01.json", REPO / "BENCH_r02.json"
    if not (old.exists() and new.exists()):
        pytest.skip("driver BENCH files not present")
    rc, out = _run(old, new)
    assert rc == 0, out
    assert "33.943" in out and "14.525" in out
    assert "improved" in out  # r1->r2 improved every headline query


def test_flags_a_real_regression(tmp_path):
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({
        "parsed": {"value": 1.0, "queries": {"q1": 1.0},
                   "estimator": "best_of_2"},
    }))
    b.write_text(json.dumps({
        "value": 2.0, "queries": {"q1": 2.0}, "estimator": "single_shot",
    }))
    rc, out = _run(a, b)
    assert rc == 1
    assert "REGRESSION q1" in out
    assert "estimator changed" in out


def test_control_normalization_divides_out_host_drift(tmp_path):
    """A uniform 2x slowdown with a matching 2x-slower control probe must
    NOT flag (it's host drift, not code) — and the normalized subtotal
    line must show the drift-corrected number (VERDICT r3 #3)."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({
        "value": 1.0, "queries": {"q1": 1.0, "q2": 0.5},
        "estimator": "best_of_2", "control_texts_per_sec": 10000.0,
    }))
    b.write_text(json.dumps({
        "value": 2.0, "queries": {"q1": 2.0, "q2": 1.0, "q3": 0.1},
        "estimator": "best_of_2", "control_texts_per_sec": 5000.0,
    }))
    rc, out = _run(a, b)
    assert rc == 0, out
    assert "REGRESSION" not in out
    assert "hardware control" in out and "normalized" in out


def test_par_control_preferred_over_single_proc(tmp_path):
    """r6: when both files carry the all-cores control leg, normalization
    must use IT — the single-proc leg is blind to busy-host co-tenancy
    (it read FASTER on a 2.4x-slower run of identical code).  Here the
    single-proc leg claims no drift while the all-cores leg shows the
    host at half speed: a uniform 2x wall inflation must NOT flag."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({
        "value": 1.5, "queries": {"q1": 1.0, "q2": 0.5},
        "estimator": "best_of_2", "control_texts_per_sec": 10000.0,
        "control_par_texts_per_sec": 200000.0,
    }))
    b.write_text(json.dumps({
        "value": 3.0, "queries": {"q1": 2.0, "q2": 1.0},
        "estimator": "best_of_2", "control_texts_per_sec": 10000.0,
        "control_par_texts_per_sec": 100000.0,
    }))
    rc, out = _run(a, b)
    assert rc == 0, out
    assert "REGRESSION" not in out
    assert "all-cores" in out and "preferred" in out


def test_estimator_note_not_warning_for_prefield_files(tmp_path):
    """A file predating the estimator field must produce a provenance
    NOTE, not a spurious 'estimator changed' warning (VERDICT r3
    What's-wrong #2)."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"value": 1.0, "queries": {"q1": 1.0}}))
    b.write_text(json.dumps({
        "value": 1.0, "queries": {"q1": 1.0}, "estimator": "best_of_2",
    }))
    rc, out = _run(a, b)
    assert rc == 0, out
    assert "WARNING" not in out
    assert "pre-estimator-field" in out


def test_default_run_compares_the_last_two_rounds():
    """With no arguments the script compares the two highest-numbered
    BENCH_r<N>.json files; side files such as BENCH_r08_control.json
    share a round number but are not rounds."""
    old, new = REPO / "BENCH_r07.json", REPO / "BENCH_r08.json"
    if not (old.exists() and new.exists()):
        pytest.skip("BENCH_r07/r08 files not present")
    p = subprocess.run([sys.executable, str(SCRIPT)],
                       capture_output=True, text=True)
    assert (p.returncode, p.stdout) == _run(old, new)


def test_headline_count_single_source_of_truth():
    """BENCH/BASELINE.md's stated query count must equal len(bench.HEADLINE)
    (VERDICT r3 #8: one generated number, all documents agree)."""
    import re

    sys.path.insert(0, str(REPO))
    from bench import HEADLINE

    text = (REPO / "BENCH" / "BASELINE.md").read_text()
    m = re.search(r"\*\*(\d+) queries\*\*", text)
    assert m, "BENCH/BASELINE.md lost its generated headline-count line"
    assert int(m.group(1)) == len(HEADLINE)


def test_every_query_callable_is_on_the_board_or_timed():
    """A `_q_*` callable in __spark_entry__.py is either a queries() row
    or named by bench.py / scripts/ (which still time it).  A query that
    leaves the board is deleted with its test mirror otherwise."""
    import ast
    import re

    sys.path.insert(0, str(REPO))
    import __spark_entry__ as em

    tree = ast.parse((REPO / "__spark_entry__.py").read_text())
    defined = {n.name for n in tree.body
               if isinstance(n, ast.FunctionDef) and n.name.startswith("_q_")}
    on_board = {fn.__name__ for fn in em.queries().values()}
    timed = set()
    for path in [REPO / "bench.py", *sorted((REPO / "scripts").glob("*.py"))]:
        timed |= set(re.findall(r"\b_q_\w+", path.read_text()))
    assert not defined - on_board - timed, (
        f"off-board query callables nothing times: "
        f"{sorted(defined - on_board - timed)}"
    )


def _unused_imports(path: Path) -> list[str]:
    """Names an import statement binds that the module never loads.
    Quoted annotations ("np.ndarray") count as loads; an import line
    marked `# noqa: F401` (an availability probe) is skipped."""
    import ast

    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        annots = []
        if isinstance(node, ast.arg):
            annots = [node.annotation]
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            annots = [node.returns]
        elif isinstance(node, ast.AnnAssign):
            annots = [node.annotation]
        for a in annots:
            for c in ast.walk(a) if a is not None else ():
                if isinstance(c, ast.Constant) and isinstance(c.value, str):
                    used |= {n.id for n in ast.walk(ast.parse(c.value))
                             if isinstance(n, ast.Name)}
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa: F401" in lines[i - 1]
               for i in range(node.lineno, node.end_lineno + 1)):
            continue
        for a in node.names:
            bound = a.asname or a.name.split(".")[0]
            if bound != "*" and bound not in used:
                out.append(f"{path.relative_to(REPO)}: {bound}")
    return out


def test_no_unused_imports():
    """Every imported name in the package, the entry modules and scripts/
    is used somewhere in its module."""
    files = [
        *sorted((REPO / "uk_ner_presidio_demo_spark").rglob("*.py")),
        REPO / "__spark_entry__.py", REPO / "bench.py", REPO / "driver.py",
        *sorted((REPO / "scripts").rglob("*.py")),
    ]
    unused = [u for f in files for u in _unused_imports(f)]
    assert not unused, unused


def test_errors_on_empty_query_dict(tmp_path):
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({"value": 1.0}))
    b.write_text(json.dumps({"value": 2.0, "queries": {"q1": 2.0}}))
    rc, out = _run(a, b)
    assert rc == 1
    assert "empty query dict" in out


def test_tmpdir_is_per_process_and_reaps_only_dead_pids(tmp_path, monkeypatch):
    """ADVICE r4: a newly-starting process must NOT wipe a live process's
    run dirs (streaming checkpoints!), only roots whose owning pid is
    dead."""
    import importlib
    import os
    import tempfile

    import __spark_entry__ as em

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    base = tmp_path / "spark_graft_runs"
    base.mkdir()
    (base / "pid999999999").mkdir()        # dead pid -> reaped
    (base / f"pid{os.getpid()}").mkdir()   # our own root -> kept
    live = base / "pid1"                   # pid 1 is always alive
    live.mkdir()
    (live / "checkpoint").mkdir()

    monkeypatch.setattr(em, "_TMP_ROOT", None)
    d = em._tmpdir("probe_")
    assert d.startswith(str(base / f"pid{os.getpid()}"))
    assert not (base / "pid999999999").exists()
    assert (live / "checkpoint").exists()  # live sibling untouched


def test_unrecorded_estimator_change_still_fails(tmp_path):
    """An estimator change between the two files does not excuse a slower
    query: the guard warns about the change and still fails on the
    regression."""
    a = tmp_path / "a.json"
    b = tmp_path / "b.json"
    a.write_text(json.dumps({
        "value": 1.0, "queries": {"q1": 1.0}, "estimator": "best_of_2",
    }))
    b.write_text(json.dumps({
        "value": 2.0, "queries": {"q1": 2.0},
        "estimator": "best_of_2_passes",
    }))
    rc, out = _run(a, b)
    assert rc == 1
    assert "REGRESSION q1" in out


def test_parse_byte_conf_suffixes():
    """ADVICE r6: '128m' must parse as 128 MiB, not 128 bytes — the
    JVM byte-string suffix table, case-insensitive, bare digits =
    bytes; unparseable -> None (caller falls back to the default)."""
    from uk_ner_presidio_demo_spark.operators.partitioning import (
        parse_byte_conf,
    )

    assert parse_byte_conf("134217728") == 134217728
    assert parse_byte_conf("128m") == 128 << 20
    assert parse_byte_conf("128MB") == 128 << 20
    assert parse_byte_conf(" 1g ") == 1 << 30
    assert parse_byte_conf("64k") == 64 << 10
    assert parse_byte_conf("2tb") == 2 << 40
    assert parse_byte_conf("7b") == 7
    assert parse_byte_conf("nope") is None
    assert parse_byte_conf("128x") is None
    assert parse_byte_conf("") is None


def _load_script(name: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        name, REPO / "scripts" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_dump_plans_tag_writes_one_file_per_query(spark, sf001, tmp_path):
    dump_plans = _load_script("dump_plans")
    dump_plans.main(["--tag", "t", "--sf-dir", sf001, "kg_mentions"],
                    spark=spark, root=tmp_path)
    assert [p.name for p in (tmp_path / "plans" / "t").iterdir()] \
        == ["kg_mentions.txt"]
    assert "MapInPandas" in (tmp_path / "plans/t/kg_mentions.txt").read_text()
    assert not (tmp_path / "PLANS.md").exists()


def test_dump_plans_counts_every_python_stage(spark, sf001):
    """python_stages counts each Python node kind: doc_packing's grouped
    map read 0 while only MapInPandas, ArrowEvalPython and the cogroup
    were counted; kg_triples is detection plus the triples grouped map."""
    import __spark_entry__ as em

    summary = _load_script("dump_plans").summary
    qs = em.queries()
    assert summary(qs["doc_packing"](spark, sf001)).endswith(
        "python_stages=1")
    assert summary(qs["kg_triples"](spark, sf001)).endswith(
        "python_stages=2")


def test_dump_plans_rejects_unknown_query(tmp_path, capsys):
    with pytest.raises(SystemExit):
        _load_script("dump_plans").main(["no_such_query"], root=tmp_path)
    assert "unknown query no_such_query" in capsys.readouterr().err


def test_bench_scale_guard_passes_on_its_fixture(spark, sf001):
    from bench import check_scale

    from uk_ner_presidio_demo_spark.sources.tables import read_transcripts

    assert check_scale(spark, sf001) == read_transcripts(spark, sf001).count()


def test_bench_scale_guard_refuses_a_short_scan(spark, sf001, tmp_path,
                                                monkeypatch):
    """One bucket file missing from the cached transcripts: the scan
    misses the declared conversation count and the bench must stop."""
    import shutil

    from bench import check_scale
    from uk_ner_presidio_demo_spark.data import synth

    src = synth.ensure_transcripts(sf001)
    dst = tmp_path / "sf0.001" / "transcripts.parquet"
    shutil.copytree(src, dst)
    next(dst.glob("part-*.parquet")).unlink()
    monkeypatch.setattr(synth, "DATA_ROOT", tmp_path)
    with pytest.raises(SystemExit, match="declares 60"):
        check_scale(spark, sf001)
