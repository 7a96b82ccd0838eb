"""Exact-excision blocking recall vs the FULL all-pairs oracle (SCALE.md
§7e; r5 measured the chunk-blocked path at 0.887 token recall, r6 adds
the opt-in winnowed-shingle tail pass — VERDICT r5 #4).

Oracle: for every ordered pair (owner o, doc d) with o < d, the doc's
SAM matching statistics against the owner give the maximal duplicated
runs >= MIN_SPAN_TOKENS; the union over ALL earlier docs is the
cross-doc cut-token set blocking can at best reproduce.  (SAM is
output-identical to the DP twin — TestMatchingStatsEquivalence.)

Engine: cross_owner_spans cut sets, flag OFF (chunk-hash ownership
blocking only) and flag ON (plus shingle_candidate_pairs).  Also counts
candidate (doc, owner) pairs per mode — the volume cost the flag trades
for tail recall.

Usage: python scripts/excision_recall.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import pandas as pd

    from uk_ner_presidio_demo_spark.semantics.chunking import (
        MIN_SPAN_TOKENS, TokenSuffixAutomaton, maximal_duplicated_runs,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "text"]
    ].sort_values("doc_id")
    texts = dict(zip(docs["doc_id"].astype(int), docs["text"]))
    ids = sorted(texts)

    # ---- all-pairs oracle (cross-doc only) ----
    oracle_cuts: dict[int, set[int]] = {d: set() for d in ids}
    toks = {d: texts[d].lower().split() for d in ids}
    for oi, o in enumerate(ids):
        sam = TokenSuffixAutomaton(toks[o])
        for d in ids[oi + 1:]:
            ms = sam.matching_statistics(toks[d])
            for s, e in maximal_duplicated_runs(ms, MIN_SPAN_TOKENS):
                oracle_cuts[d].update(range(s, e))
    oracle_total = sum(len(c) for c in oracle_cuts.values())
    oracle_docs = sum(1 for c in oracle_cuts.values() if c)

    # ---- engine, both modes ----
    from uk_ner_presidio_demo_spark.operators.chunking import (
        cross_owner_spans, doc_chunks, shingle_candidate_pairs,
        _ranked_owner_pairs,
    )
    from uk_ner_presidio_demo_spark.semantics.chunking import (
        EXCISE_MAX_OWNERS,
    )
    from uk_ner_presidio_demo_spark.session import get_spark
    from uk_ner_presidio_demo_spark.sources.tables import read_tpch

    from pyspark.sql import functions as F

    spark = get_spark(app_name="excision_recall")
    sdocs = read_tpch(spark, sf_dir, "documents")
    ch = doc_chunks(sdocs).localCheckpoint(eager=True)
    first = ch.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first")
    ).localCheckpoint(eager=True)
    chunk_pairs = _ranked_owner_pairs(ch, first).filter(
        F.col("rk") <= EXCISE_MAX_OWNERS
    ).select("doc_id", "owner").localCheckpoint(eager=True)
    sh_pairs = shingle_candidate_pairs(sdocs).localCheckpoint(eager=True)
    n_chunk_pairs = chunk_pairs.count()
    n_union_pairs = chunk_pairs.unionByName(sh_pairs).distinct().count()

    out = {"sf_dir": sf_dir, "oracle_cut_tokens": oracle_total,
           "oracle_docs_affected": oracle_docs,
           "candidate_pairs_off": n_chunk_pairs,
           "candidate_pairs_on": n_union_pairs}
    for mode, extra in (("off", None), ("on", sh_pairs)):
        spans = cross_owner_spans(sdocs, _ch=ch, _first=first,
                                  extra_pairs=extra).collect()
        cuts: dict[int, set[int]] = {d: set() for d in ids}
        for r in spans:
            cuts[int(r["doc_id"])].update(
                range(int(r["span_start"]), int(r["span_end"]))
            )
        got = sum(len(cuts[d] & oracle_cuts[d]) for d in ids)
        over = sum(len(cuts[d] - oracle_cuts[d]) for d in ids)
        found_docs = sum(
            1 for d in ids if oracle_cuts[d] and cuts[d] & oracle_cuts[d]
        )
        out[f"recall_{mode}"] = round(got / oracle_total, 4) \
            if oracle_total else 1.0
        out[f"overcut_tokens_{mode}"] = over
        out[f"docs_found_{mode}"] = found_docs
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
