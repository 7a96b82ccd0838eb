"""sf1 scaling bench (VERDICT r4 #7): one timing point at 10x the bench
scale for the most expensive headline queries, plus the per-query
sf0.1 -> sf1 wall ratio measured IN THE SAME PROCESS (same host state),
so "no query scales worse than ~linear in rows" is checkable.

Why sf1 matters beyond sf0.1: several sf0.1 tables are ONE parquet file
= one partition = one giant Arrow batch (the r3 doc_simhash_dups
first-touch incident came from exactly this); sf1 inputs are written as
multi-file directories so every kernel actually runs multi-partition.

sf1 inputs are DERIVED deterministically from the driver's sf0.1 parquet
(no external data, /root/testdata is read-only):
  - transcripts: data/synth.py's own generator at 40 000 convs ("sf1" key).
  - documents: 10 replicas of the sf0.1 corpus; within a replica texts
    are kept verbatim (intra-replica dup/overlap structure identical to
    sf0.1), across replicas every token gets a replica tag (zero
    cross-replica overlap) — so pair-generating queries scale LINEARLY
    in replicas by construction, the shape a 10x-bigger real corpus has,
    instead of the quadratic cross-replica pairing naive duplication
    would create.
  - embeddings: 10 replicas; replica k applies a cyclic dimension shift
    by k (a permutation — orthogonal, so all intra-replica cosine
    structure is EXACTLY preserved) — cross-replica vectors decorrelate
    instead of colliding as exact duplicates.

Writes BENCH/BENCH_sf1.json and prints its JSON line.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPLICAS = 10
QUERIES = ["kg_triples", "kg_canonical_nodes", "doc_contamination",
           "doc_partial_overlap", "ann_ivfpq_topk", "doc_span_excise",
           # late-r6 heavy rows: the LM scorer (two corpus scans + model
           # join) and PageRank (full KG pipeline + the uncut k-stage loop)
           "txt_lm_score", "kg_pagerank"]
_SF1_VERSION = 2


def ensure_sf1_inputs() -> Path:
    import numpy as np
    import pandas as pd

    from uk_ner_presidio_demo_spark.data.synth import DATA_ROOT

    out = DATA_ROOT / "sf1"
    marker = out / f"_SF1_INPUTS_v{_SF1_VERSION}_OK"
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)

    src = Path("/root/testdata/sf0.1")
    docs = pd.read_parquet(src / "documents.parquet")
    n_docs = len(docs)
    doc_dir = out / "documents.parquet"
    doc_dir.mkdir(exist_ok=True)
    for k in range(REPLICAS):
        rep = docs.copy()
        rep["doc_id"] = rep["doc_id"] + k * n_docs
        if k > 0:
            tag = f"r{k}"
            # per-token replica tag: intra-replica structure verbatim,
            # zero cross-replica token overlap
            rep["text"] = rep["text"].map(
                lambda t: " ".join(f"{w}{tag}" for w in t.split())
            )
        rep.to_parquet(doc_dir / f"part-{k:03d}.parquet", index=False)

    emb = pd.read_parquet(src / "embeddings.parquet")
    n_vec = len(emb)
    emb_dir = out / "embeddings.parquet"
    emb_dir.mkdir(exist_ok=True)
    for k in range(REPLICAS):
        rep = emb.copy()
        rep["vec_id"] = rep["vec_id"] + k * n_vec
        if k > 0:
            # keep float32 elements: the sf0.1 parquet stores
            # list<float>, and a mixed-type directory fails the scan
            rep["embedding"] = rep["embedding"].map(
                lambda v: np.roll(np.asarray(v, dtype=np.float32), k)
            )
        rep.to_parquet(emb_dir / f"part-{k:03d}.parquet", index=False)

    marker.write_text("ok")
    return out


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf1_dir = str(ensure_sf1_inputs())

    from uk_ner_presidio_demo_spark.data.synth import ensure_transcripts
    from uk_ner_presidio_demo_spark.session import default_cores, get_spark

    cores = default_cores()

    ensure_transcripts(sf1_dir)
    ensure_transcripts("/root/testdata/sf0.1")
    spark = get_spark(app_name="sf1-bench", cores=cores)

    import __spark_entry__ as em

    qmap = em.queries()
    force(qmap["kg_mentions"](spark, "/root/testdata/sf0.001"))  # warm

    def timed(name: str, sf_dir: str) -> float:
        t0 = time.time()
        force(qmap[name](spark, sf_dir))
        return time.time() - t0

    # INTERLEAVED per query (r6): the shared host's co-tenant bursts
    # last minutes — running all sf0.1 then all sf1 lets one burst
    # inflate a whole side and scramble every ratio (observed 3x).
    # (0.1, 1, 0.1, 1) adjacency per query puts both sides of each
    # ratio in the same minutes; best-of-2 per side drops one-sided
    # interference.
    w01, w1 = {}, {}
    for name in QUERIES:
        a = [timed(name, "/root/testdata/sf0.1")]
        b = [timed(name, sf1_dir)]
        a.append(timed(name, "/root/testdata/sf0.1"))
        b.append(timed(name, sf1_dir))
        w01[name] = round(min(a), 3)
        w1[name] = round(min(b), 3)

    n01 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").count()
    n1 = spark.read.parquet(f"{sf1_dir}/documents.parquet").count()
    row_ratio = n1 / n01

    ratios = {q: round(w1[q] / w01[q], 2) for q in QUERIES}
    result = {
        "metric": "sf1_headline_walls",
        "sf": 1.0,
        "cores": cores,
        "row_ratio_vs_sf0.1": round(row_ratio, 1),
        "queries_sf0.1": w01,
        "queries_sf1": w1,
        "wall_ratio_sf1_over_sf0.1": ratios,
        # linearity check: wall ratio <= row ratio (fixed overheads make
        # sub-linear the norm; anything well above row_ratio is
        # super-linear and a scale bug)
        "linear_ok": {q: ratios[q] <= row_ratio for q in QUERIES},
    }
    print(json.dumps(result))
    out = Path(__file__).resolve().parent.parent / "BENCH" / "BENCH_sf1.json"
    out.write_text(json.dumps(result, indent=2) + "\n")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
