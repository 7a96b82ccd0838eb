"""Round-over-round bench regression guard (VERDICT r1 #8).

Compares the two most recent BENCH_r*.json files (or two paths given on the
command line) per query and flags anything slower than REGRESSION_FACTOR x
the previous round.  Exit code 1 when a regression is flagged, so the
verify flow can gate on it.  Host caveat: this box drifts +-20%
minute-to-minute, so the threshold is deliberately loose (1.3x) — it
catches plan regressions (a lost broadcast, an extra shuffle), not noise.

Usage:
    python scripts/bench_regressions.py            # latest two BENCH_r*.json
    python scripts/bench_regressions.py OLD NEW    # explicit files
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REGRESSION_FACTOR = 1.3
REPO = Path(__file__).resolve().parent.parent


def _latest_two() -> tuple[Path, Path] | None:
    # only round files: BENCH_r08_control.json and the like are side
    # experiments that would tie with BENCH_r08.json on the round number
    matches = (re.fullmatch(r"BENCH_r(\d+)\.json", p.name)
               for p in REPO.glob("BENCH_r*.json"))
    rounds = sorted((int(m.group(1)), REPO / m.group(0))
                    for m in matches if m)
    if len(rounds) < 2:
        return None
    return rounds[-2][1], rounds[-1][1]


def main() -> int:
    if len(sys.argv) == 3:
        old_p, new_p = Path(sys.argv[1]), Path(sys.argv[2])
    else:
        pair = _latest_two()
        if pair is None:
            print("bench-regressions: fewer than two BENCH_r*.json — skip")
            return 0
        old_p, new_p = pair
    # driver-recorded BENCH_r*.json wraps the bench line under "parsed";
    # a raw bench.py line has the fields at top level (VERDICT r2 #1)
    old = json.loads(old_p.read_text())
    new = json.loads(new_p.read_text())
    old = old.get("parsed", old)
    new = new.get("parsed", new)
    oldq, newq = old.get("queries", {}), new.get("queries", {})
    if not oldq or not newq:
        print(
            f"bench-regressions: ERROR — empty query dict "
            f"({old_p.name}: {len(oldq)}, {new_p.name}: {len(newq)})"
        )
        return 1
    # files predating the "estimator" field (<= BENCH_r02) are reported as
    # unknown, NOT assumed single_shot: r2 was in fact recorded best-of-2
    # before the field existed
    est_old = old.get("estimator", "unknown (pre-estimator-field file)")
    est_new = new.get("estimator", "unknown (pre-estimator-field file)")
    if est_old.startswith("unknown") or est_new.startswith("unknown"):
        print(
            f"bench-regressions: note — estimator {est_old} -> {est_new} "
            f"(a pre-field file does not imply a different estimator)"
        )
    elif est_old != est_new:
        print(
            f"bench-regressions: WARNING — estimator changed "
            f"({est_old} -> {est_new}); ratios include the estimator "
            f"delta, not just kernel changes"
        )
    # host-drift control: divide the control ratio out of every per-query
    # ratio (a host running 20% slower inflates ALL walls ~20%; the control
    # moves with it).  Preference order (r6): the ALL-CORES leg when both
    # files carry it — the single-proc leg is blind to co-tenancy that only
    # bites when every core is busy (observed: a 65 s run of code whose
    # twin run took 27 s, while the single-proc probe read FASTER on the
    # slow run) — else the single-proc leg for older files.
    p_old, p_new = old.get("control_par_texts_per_sec"), \
        new.get("control_par_texts_per_sec")
    c_old, c_new = old.get("control_texts_per_sec"), \
        new.get("control_texts_per_sec")
    # normalize NEW walls to the OLD file's host speed: wall scales
    # inversely with host rate, so t_new_at_old_speed = t_new * c_new/c_old
    if p_old and p_new:
        drift, basis = p_new / p_old, "all-cores"
        print(
            f"  hardware control ({basis}): {p_old} -> {p_new} "
            f"aggregate texts/s (host speed ratio {drift:.3f}; "
            f"walls normalized)"
        )
        if c_old and c_new:
            print(
                f"  hardware control (single-proc): {c_old} -> {c_new} "
                f"texts/s (ratio {c_new / c_old:.3f}; diagnostic — "
                f"all-cores leg preferred)"
            )
    elif c_old and c_new:
        drift = c_new / c_old
        print(
            f"  hardware control: {c_old} -> {c_new} texts/s "
            f"(host speed ratio {drift:.3f}; walls normalized)"
        )
    else:
        drift = None
        print(
            "  hardware control: absent in one file — RAW walls compared "
            "(this host drifts ±20% minute-to-minute; treat flags as "
            "advisory)"
        )
    # bandwidth leg (r6): reported so a CPU-vs-bandwidth drift divergence
    # is visible (the r5 doc_simhash_dups flag was a bandwidth-side
    # co-tenancy window the CPU probe under-reported) — diagnostic only,
    # normalization stays on the CPU leg
    m_old, m_new = old.get("control_mem_mb_per_sec"), \
        new.get("control_mem_mb_per_sec")
    if m_old and m_new:
        print(
            f"  bandwidth control: {m_old} -> {m_new} MB/s "
            f"(ratio {m_new / m_old:.3f}; diagnostic — not normalized out)"
        )
    flagged, improved = [], []
    for name, t_new in sorted(newq.items()):
        t_old = oldq.get(name)
        if t_old is None or t_old <= 0:
            continue
        ratio = t_new / t_old
        if drift is not None:
            ratio *= drift
        if ratio > REGRESSION_FACTOR:
            flagged.append((name, t_old, t_new, ratio))
        elif ratio < 1 / REGRESSION_FACTOR:
            improved.append((name, t_old, t_new, ratio))
    print(
        f"bench-regressions: {old_p.name} -> {new_p.name} "
        f"(total {old.get('value')}s -> {new.get('value')}s)"
    )
    # like-for-like total over the shared query set — the headline list
    # grows across rounds (r3 added 4 queries), so the raw totals are not
    # directly comparable
    common = set(oldq) & set(newq)
    if common != set(newq) or common != set(oldq):
        t_old = round(sum(oldq[q] for q in common), 3)
        t_new = round(sum(newq[q] for q in common), 3)
        line = (
            f"  comparable subtotal over {len(common)} shared queries: "
            f"{t_old}s -> {t_new}s"
        )
        if drift is not None:
            line += f" (normalized: {round(t_new * drift, 3)}s)"
        print(line)
    for name, a, b, r in flagged:
        print(f"  REGRESSION {name}: {a}s -> {b}s ({r:.2f}x)")
    for name, a, b, r in improved:
        print(f"  improved   {name}: {a}s -> {b}s ({r:.2f}x)")
    if not flagged:
        print(f"  no per-query regression > {REGRESSION_FACTOR}x")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
