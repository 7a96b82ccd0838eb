"""Dump `explain(formatted)` for board queries — the plan-quality audit
artifact (broadcasts, pushed filters, Arrow crossings, exchange counts are
all visible per query).

    python scripts/dump_plans.py 2>/dev/null
        the HEADLINE queries at sf0.01 -> PLANS.md (regenerate after any
        operator change)
    python scripts/dump_plans.py --tag before kg_triples kg_pagerank
        the named queries -> plans/before/<query>.txt

Query names resolve through `__spark_entry__.queries()`; `--sf-dir` picks
the scale (default /root/testdata/sf0.01).  The session runs on
`session.default_cores()` cores."""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

HEADLINE = [
    "kg_mentions", "kg_anonymized", "kg_triples", "kg_canonical_nodes",
    "kg_top_surfaces_salted", "kg_entity_cooccurrence",
    "kg_review_mentions", "kg_incremental_canon",
    "kg_edge_upsert", "kg_pagerank", "kg_triangles",
    "doc_neardup_minhash", "doc_simhash_dups",
    "doc_dedup_apply", "doc_contamination", "doc_packing",
    "doc_partial_overlap", "doc_hash_sample",
    "txt_repetition", "txt_freq_profile", "txt_bpe_counts",
    "txt_lm_score",
    "doc_pii_scrub", "doc_span_excise",
    "emb_neardup", "ann_exact_lsh_topk", "ann_ivfpq_query_path",
    "ann_ivfpq_topk",
    "tpch_broadcast_join", "tpch_agg",
    "doc_token_quantiles", "events_asof_view",
]

PREAMBLE = [
    "# PLANS — formatted physical plans of the headline queries",
    "",
    "Generated by `python scripts/dump_plans.py` at sf0.01; the",
    "plan-hygiene tests (tests/test_plan_hygiene.py) assert the",
    "properties these plans must keep (single Arrow crossing, broadcast",
    "joins, pushed filters, no cartesian products).",
    "",
    "Counting caveat: several operators `localCheckpoint` an expensive",
    "kernel output before a self-join (so it evaluates once, not twice);",
    "the checkpointed subplan — including its Python stage — is then",
    "invisible in the final query plan, so python_stages=0 can mean",
    "'kernel ran in the materialization job', not 'no Python'.",
    "",
]


def explain(df, mode: str) -> str:
    """`df.explain(mode=...)`'s printed text."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue().strip()


# every Python node kind of a physical plan; no name holds another
PY_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "AggregateInPandas")


def summary(df) -> str:
    """Exchanges and Python stages, counted on the physical plan tree (the
    formatted text lists every node twice: once in the tree and once in the
    numbered details section)."""
    tree = explain(df, "simple")
    n_sh = (tree.count("Exchange hashpartitioning")
            + tree.count("Exchange rangepartitioning")
            + tree.count("Exchange SinglePartition"))
    n_bc = tree.count("BroadcastExchange")
    n_py = sum(tree.count(node) for node in PY_NODES)
    return f"shuffles={n_sh}  broadcasts={n_bc}  python_stages={n_py}"


def main(argv: list[str] | None = None, spark=None,
         root: Path = REPO) -> None:
    import __spark_entry__ as em

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*", default=HEADLINE,
                    help="board query names (default: HEADLINE)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--tag", default=None,
                    help="write plans/TAG/<query>.txt instead of PLANS.md")
    args = ap.parse_args(argv)
    qs = em.queries()
    unknown = [q for q in args.queries if q not in qs]
    if unknown:
        ap.error(f"unknown query {', '.join(unknown)}; "
                 f"names come from __spark_entry__.queries()")

    if spark is None:
        from uk_ner_presidio_demo_spark.session import get_spark

        spark = get_spark(app_name="dump-plans")
    if args.tag:
        out_dir = root / "plans" / args.tag
        out_dir.mkdir(parents=True, exist_ok=True)
        for name in args.queries:
            p = out_dir / f"{name}.txt"
            p.write_text(explain(qs[name](spark, args.sf_dir), "formatted"))
            print(f"wrote {p}")
        return
    out = list(PREAMBLE)
    for name in args.queries:
        df = qs[name](spark, args.sf_dir)
        out += [f"## {name}", "", summary(df), "", "```",
                explain(df, "formatted"), "```", ""]
    (root / "PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(args.queries)} queries)")


if __name__ == "__main__":
    main()
