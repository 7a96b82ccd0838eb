"""Golden-output oracle for the document/embedding operators (dedup, ANN,
similarity) — single-process, brute-force where the engine is distributed,
sharing semantics.docsim verbatim.  Cached per sf under data/synth/."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

import pandas as pd

from ..data.synth import DATA_ROOT
from ..semantics.docsim import (
    ANN_K, ANN_Q, ANN_Q_MOD, DOC_JACCARD_THRESHOLD, EMB_NEARDUP_COS,
    SIMHASH_MAX_HAMMING,
    cosine_matrix, cosine_pairs, doc_band_keys, doc_jaccard, doc_minhash,
    emb_block_keys, rp_bucket, simhash64, simhash_segments, hamming64,
)

# v12: ANN query set bounded to the first ANN_Q modulo matches (r5);
# identical goldens at sf<=0.01 (20 matches < ANN_Q), smaller at sf0.1.
# v13: + golden_excised_exact (exact-boundary span excision, r5).
# v14: excision pair fan-out bounded at EXCISE_MAX_OWNERS owners/doc
# (no output change at driver sfs — no doc approaches the cap — but the
# cached goldens must come from the code that includes the rule).
# v15: + golden_bpe_counts (trained-BPE token accounting, r6 board row;
# tokenizer frozen as ASCII-\s ws_tokens on both sides, ADVICE r5 #2).
# v16: + golden_emb_dedup_kept (keep leg folded into the emb_neardup
# row) and golden_ann_ivfpq_append (append-then-query fold into
# ann_ivfpq_query_path: trainers frozen on the base split) — r6,
# VERDICT r5 #3.
# v17: + golden_lm_ilog / golden_lm_scores (fixed-point bigram-LM
# corpus-typicality scoring, late-r6 board row txt_lm_score; the ilog
# lookup is the shared-as-data transcendental, semantics/lm.py).
# v18 (r7, VERDICT r6 #7): golden_lm_ilog additionally covers the
# REFERENCE-split model's count values (docs with doc_id %
# LM_XMODEL_REF_MOD == 0) so the live-SQL oracle can score the
# external-model leg of txt_lm_score (train-on-reference,
# score-target — the real CCNet shape); extra lookup rows are inert
# for the self-scoring leg (exact-value joins).
DOCS_GOLDEN_VERSION = 18

# External-model split rule for the txt_lm_score 'xmodel' leg (engine
# twin: __spark_entry__._q_txt_lm_score): the model trains on docs
# with doc_id % LM_XMODEL_REF_MOD == 0 and scores the complement.
# Part of the golden contract: changing it requires a
# DOCS_GOLDEN_VERSION bump and keeps the engine query in lockstep.
LM_XMODEL_REF_MOD = 2

# Appended-index driver-row split (engine twin: __spark_entry__
# _q_ann_ivfpq_query_path): vectors with vec_id % PQ_APPEND_MOD ==
# PQ_APPEND_REM arrive AFTER the index is built and are appended with
# frozen trainers; the rest are the base corpus the trainers see.
PQ_APPEND_MOD = 10
PQ_APPEND_REM = 7

# Driver-row sampling parameters (engine twin: operators/sampling.py via
# __spark_entry__._q_doc_hash_sample) — fixed so the single-process
# xxhash64 twin reproduces every membership decision exactly.
SAMPLE_FRACTION = 0.3
SPLIT_EVAL_FRACTION = 0.05

# Synthetic eval-suite fixture for the contamination audit (driver query
# doc_contamination): every doc_id % EVAL_SAMPLE_MOD == 0 contributes one
# eval item — of those, % EVAL_MANGLE_MOD == 0 becomes a case/whitespace
# MANGLED copy (caught only through the normalized fingerprint, so the
# exact level does real normalizer work), the rest get a fixed suffix
# (caught by MinHash banding + Jaccard verify when the doc is long enough
# to stay over the threshold).  The engine query (__spark_entry__
# _q_doc_contamination) builds the same suite in Catalyst expressions.
EVAL_SAMPLE_MOD = 5
EVAL_MANGLE_MOD = 10
EVAL_SUFFIX = " контрольне речення для аудиту перетину корпусів"

# Sequence-packing driver-row parameters (engine twin:
# operators/packing.py pack_documents) — fixed so the single-process
# oracle reproduces the engine's xxhash64 bucket assignment exactly.
PACK_BUDGET_TOKENS = 256
PACK_N_BUCKETS = 32

_JAVA_WS = r"[ \t\n\x0B\f\r]+"  # Java regex \s, spelled out for Python


def mangle_text(text: str) -> str:
    """Case/whitespace perturbation that PRESERVES the normalized
    fingerprint (upper-case + doubled spaces; the engine normalizer
    lower-cases and collapses whitespace)."""
    return text.upper().replace(" ", "  ")


def contamination_fp(text: str) -> str:
    """Python twin of the engine's normalized fingerprint:
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ')) with Java \\s and
    space-only trim semantics (operators/contamination.py)."""
    norm = re.sub(_JAVA_WS, " ", text.strip(" ").lower())
    return hashlib.md5(norm.encode("utf-8")).hexdigest()


def ws_token_count(text: str) -> int:
    """Python twin of size(split(trim(text), '\\s+')) — Java split keeps
    leading/trailing empty fields the same way re.split does."""
    return len(re.split(_JAVA_WS, text.strip(" ")))


def _sf_key(sf_dir: str) -> str:
    return Path(sf_dir).name


def ensure_docs_golden(sf_dir: str) -> Path:
    key = _sf_key(sf_dir)
    out_dir = DATA_ROOT / f"docs_{key}"
    marker = out_dir / f"_GOLDEN_v{DOCS_GOLDEN_VERSION}_OK"
    if marker.exists():
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")[["vec_id", "embedding"]]

    # --- near-dup via MinHash/LSH bands + exact verify ---
    buckets: dict[tuple[int, int], list[int]] = {}
    texts = dict(zip(docs["doc_id"], docs["text"]))
    for doc_id, text in texts.items():
        for bk in doc_band_keys(doc_minhash(text)):
            buckets.setdefault(bk, []).append(doc_id)
    cand = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    lsh_rows = []
    for a, b in sorted(cand):
        jac = doc_jaccard(texts[a], texts[b])
        if jac >= DOC_JACCARD_THRESHOLD:
            lsh_rows.append((a, b, round(jac, 6)))
    pd.DataFrame(lsh_rows, columns=["doc_a", "doc_b", "jaccard_r6"]).to_parquet(
        out_dir / "golden_neardup_minhash.parquet", index=False
    )

    # --- dedup application: union-find over the minhash pairs, keep the
    # minimum doc_id per component (singletons keep themselves) ---
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in ((r[0], r[1]) for r in lsh_rows):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo  # min-id root
    kept_rows = [
        (d, texts[d]) for d in sorted(texts) if find(d) == d
    ]
    pd.DataFrame(kept_rows, columns=["doc_id", "text"]).to_parquet(
        out_dir / "golden_dedup_kept.parquet", index=False
    )

    # --- SimHash dups (segment blocking + hamming verify) ---
    sh = {d: simhash64(t) for d, t in texts.items()}
    seg_buckets: dict[tuple[int, int], list[int]] = {}
    for d, h in sh.items():
        for seg in simhash_segments(h):
            seg_buckets.setdefault(seg, []).append(d)
    scand = set()
    for members in seg_buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                scand.add((ms[i], ms[j]))
    sim_rows = []
    for a, b in sorted(scand):
        hd = hamming64(sh[a], sh[b])
        if hd <= SIMHASH_MAX_HAMMING:
            sim_rows.append((a, b, hd))
    pd.DataFrame(sim_rows, columns=["doc_a", "doc_b", "hamming"]).to_parquet(
        out_dir / "golden_simhash_dups.parquet", index=False
    )

    # --- cross-corpus contamination audit (synthetic eval suite vs the
    # full corpus as the training side; operators/contamination.py twin).
    # `buckets` above still maps minhash band key -> [doc_id] for every
    # train doc — reused as the train-side LSH index. ---
    eval_texts = {
        d: (mangle_text(t) if d % EVAL_MANGLE_MOD == 0 else t + EVAL_SUFFIX)
        for d, t in texts.items() if d % EVAL_SAMPLE_MOD == 0
    }
    train_by_fp: dict[str, list[int]] = {}
    for d, t in texts.items():
        train_by_fp.setdefault(contamination_fp(t), []).append(d)
    contam_rows = []
    for ed, et in sorted(eval_texts.items()):
        for td in sorted(train_by_fp.get(contamination_fp(et), [])):
            contam_rows.append(("exact", ed, td, 1.0))
    near_cand = set()
    for ed, et in eval_texts.items():
        for bk in doc_band_keys(doc_minhash(et)):
            for td in buckets.get(bk, ()):
                near_cand.add((ed, td))
    for ed, td in sorted(near_cand):
        jac = doc_jaccard(eval_texts[ed], texts[td])
        if jac >= DOC_JACCARD_THRESHOLD:
            contam_rows.append(("near", ed, td, round(jac, 6)))
    pd.DataFrame(
        contam_rows, columns=["kind", "test_doc_id", "train_doc_id", "score"]
    ).to_parquet(out_dir / "golden_contamination.parquet", index=False)

    # --- sequence packing (operators/packing.py twin): greedy first-fit
    # inside xxhash64(doc_id) buckets, reproduced bit-for-bit through the
    # semantics.sparkhash twin ---
    from ..semantics.sparkhash import pmod, xxhash64_long

    by_bucket: dict[int, list[int]] = {}
    for d in sorted(texts):
        by_bucket.setdefault(pmod(xxhash64_long(d), PACK_N_BUCKETS), []) \
            .append(d)
    pack_rows = []
    for bucket, ids in by_bucket.items():
        seq, used, pos = 0, 0, 0
        for d in ids:  # doc_id-ascending inside the bucket
            n = ws_token_count(texts[d])
            if n > PACK_BUDGET_TOKENS:
                if used > 0:
                    seq += 1
                pack_rows.append((f"{bucket}:{seq}", d, n, 0, True))
                seq += 1
                used, pos = 0, 0
                continue
            if used + n > PACK_BUDGET_TOKENS and used > 0:
                seq += 1
                used, pos = 0, 0
            pack_rows.append((f"{bucket}:{seq}", d, n, pos, False))
            used += n
            pos += 1
    pd.DataFrame(
        pack_rows,
        columns=["pack_id", "doc_id", "n_tokens", "pack_pos", "oversize"],
    ).to_parquet(out_dir / "golden_packs.parquet", index=False)

    # --- partial-overlap (substring-level) dedup: content-defined chunk
    # blocking + exact longest-common-token-span verify (the DP twin of
    # the engine's linear suffix-automaton kernel — property-tested
    # equal, tests/test_chunking.py TestLcsEquivalence) ---
    from ..semantics.chunking import (
        MAX_CHUNK_DF_FRAC, MIN_CHUNK_DF_CAP, MIN_SHARED_CHUNKS,
        MIN_SPAN_TOKENS, longest_common_token_span, token_chunks,
    )

    chunk_sets = {
        d: {h for _, _, h in token_chunks(t)} for d, t in texts.items()
    }
    chunk_df: dict[str, int] = {}
    for hs in chunk_sets.values():
        for h in hs:
            chunk_df[h] = chunk_df.get(h, 0) + 1
    cap = max(MIN_CHUNK_DF_CAP, int(len(texts) * MAX_CHUNK_DF_FRAC))
    by_chunk: dict[str, list[int]] = {}
    for d in sorted(chunk_sets):
        for h in chunk_sets[d]:
            if chunk_df[h] <= cap:
                by_chunk.setdefault(h, []).append(d)
    pair_shared: dict[tuple[int, int], int] = {}
    for members in by_chunk.values():
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                p = (members[i], members[j])
                pair_shared[p] = pair_shared.get(p, 0) + 1
    po_rows = []
    for (a, b), n in sorted(pair_shared.items()):
        if n < MIN_SHARED_CHUNKS:
            continue
        span = longest_common_token_span(texts[a], texts[b])
        if span >= MIN_SPAN_TOKENS:
            po_rows.append((a, b, n, span))
    pd.DataFrame(
        po_rows,
        columns=["doc_a", "doc_b", "shared_chunks", "common_span_tokens"],
    ).to_parquet(out_dir / "golden_partial_overlap.parquet", index=False)

    # --- deterministic hash sampling / train-eval split (engine twin:
    # operators/sampling.py; membership reproduced through the bit-exact
    # xxhash64 twin, like the pack ids above) ---
    from ..operators.sampling import GRANULARITY

    hs_rows = []
    for d in sorted(texts):
        b = pmod(xxhash64_long(d), GRANULARITY)
        hs_rows.append(
            (d, b < int(SAMPLE_FRACTION * GRANULARITY),
             "eval" if b < int(SPLIT_EVAL_FRACTION * GRANULARITY)
             else "train")
        )
    pd.DataFrame(
        hs_rows, columns=["doc_id", "in_sample", "split"]
    ).to_parquet(out_dir / "golden_hash_sample.parquet", index=False)

    # --- chunk ownership (the engine's min-struct agg in
    # operators/chunking.py): the global-first (doc_id, chunk_idx)
    # occurrence of each chunk hash owns it ---
    excise_chunks = {d: token_chunks(texts[d]) for d in sorted(texts)}
    chunk_owner: dict[str, tuple[int, int]] = {}
    for d in sorted(excise_chunks):
        for idx, (_, _, h) in enumerate(excise_chunks[d]):
            if h not in chunk_owner:
                chunk_owner[h] = (d, idx)

    # --- EXACT-boundary span excision (engine twin:
    # operators/chunking.py excise_duplicate_spans, r5): maximal
    # duplicated runs >= MIN_SPAN_TOKENS vs each owner doc, boundaries
    # from the quadratic matching-statistics DP (the engine runs the
    # SAM twin — property-tested equal), plus intra-doc repeated chunks
    # at chunk granularity ---
    from ..semantics.chunking import (
        EXCISE_MAX_OWNERS, matching_statistics_dp, maximal_duplicated_runs,
    )

    # per-(doc, owner) distinct lost-chunk counts; each doc keeps at most
    # EXCISE_MAX_OWNERS owners, strongest first (ties by owner id) — the
    # engine's fan-out bound, mirrored exactly
    lost: dict[int, dict[int, set[str]]] = {}
    for d in sorted(excise_chunks):
        for idx, (_, _, h) in enumerate(excise_chunks[d]):
            od, _ = chunk_owner[h]
            if od != d:
                lost.setdefault(d, {}).setdefault(od, set()).add(h)
    cross_pairs: set[tuple[int, int]] = set()
    for d, owners in lost.items():
        ranked = sorted(owners, key=lambda o: (-len(owners[o]), o))
        for o in ranked[:EXCISE_MAX_OWNERS]:
            cross_pairs.add((d, o))
    span_cuts: dict[int, set[int]] = {d: set() for d in texts}
    for d, o in sorted(cross_pairs):
        ms = matching_statistics_dp(
            texts[o].lower().split(), texts[d].lower().split()
        )
        for s, e in maximal_duplicated_runs(ms, MIN_SPAN_TOKENS):
            span_cuts[d].update(range(s, e))
    for d in sorted(excise_chunks):  # intra-doc repeats: chunk-granular
        for idx, (s, e, h) in enumerate(excise_chunks[d]):
            od, oidx = chunk_owner[h]
            if od == d and idx != oidx:
                span_cuts[d].update(range(s, e))
    exact_rows = []
    for d in sorted(texts):
        toks = texts[d].split()
        kept = [tk for i, tk in enumerate(toks) if i not in span_cuts[d]]
        exact_rows.append(
            (d, len(toks), len(toks) - len(kept), " ".join(kept))
        )
    pd.DataFrame(
        exact_rows,
        columns=["doc_id", "n_tokens", "n_excised_tokens", "clean_text"],
    ).to_parquet(out_dir / "golden_excised_exact.parquet", index=False)

    # --- corpus PII scrub (engine twin: operators/scrub.py — the
    # reference's detect+anonymize semantics over the documents table) ---
    from ..semantics.anonymize import splice
    from ..semantics.detect import detect_mentions

    scrub_rows = []
    for d in sorted(texts):
        mentions, _ = detect_mentions(texts[d])
        scrub_rows.append(
            (d, len(mentions),
             splice(texts[d],
                    [(m.entity_type, m.start, m.end) for m in mentions]))
        )
    pd.DataFrame(
        scrub_rows, columns=["doc_id", "n_pii", "scrubbed_text"]
    ).to_parquet(out_dir / "golden_scrub.parquet", index=False)

    # --- trained-BPE token accounting (engine twin: operators/bpe.py
    # word_counts -> bpe_train -> bpe_token_counts): the whole chain
    # single-process — word counts under the frozen ws_tokens tokenizer,
    # top-BPE_MAX_WORDS vocabulary by (count desc, word asc), the
    # deterministic trainer, then per-doc encode ---
    from ..semantics.bpe import (
        BPE_MAX_WORDS, BPE_N_MERGES, encode_text, train_bpe_from_counts,
        ws_tokens,
    )

    wc: dict[str, int] = {}
    for t in texts.values():
        for w in ws_tokens(t):
            wc[w] = wc.get(w, 0) + 1
    vocab = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_MAX_WORDS]
    merges = train_bpe_from_counts(vocab, BPE_N_MERGES)
    enc_cache: dict[str, list[str]] = {}
    bpe_rows = [
        (d, len(ws_tokens(texts[d])),
         len(encode_text(texts[d], merges, _cache=enc_cache)))
        for d in sorted(texts)
    ]
    pd.DataFrame(
        bpe_rows, columns=["doc_id", "n_ws_tokens", "n_bpe_tokens"]
    ).to_parquet(out_dir / "golden_bpe_counts.parquet", index=False)

    # --- fixed-point bigram-LM scores (engine twin: operators/lm.py
    # lm_score_docs; driver oracle: live DuckDB recompute joining the
    # ilog lookup below — the lookup is the ONLY non-SQL piece, shared
    # as data per semantics/lm.py) ---
    from ..semantics.lm import ilog_values, lm_scores

    lm_model: dict[tuple[str, str], int] = {}
    lm_model_ref: dict[tuple[str, str], int] = {}
    from ..semantics.lm import doc_bigrams as _doc_bigrams

    for d, t in texts.items():
        for bg in _doc_bigrams(t):
            lm_model[bg] = lm_model.get(bg, 0) + 1
            if d % LM_XMODEL_REF_MOD == 0:
                lm_model_ref[bg] = lm_model_ref.get(bg, 0) + 1
    # v18: one lookup covering BOTH models' count values (full-corpus
    # self-model + reference-split external model); exact-value joins
    # make the extra rows inert for the self leg
    ilog_all = {**ilog_values(lm_model_ref), **ilog_values(lm_model)}
    pd.DataFrame(
        sorted(ilog_all.items()), columns=["k", "ilog_fp"]
    ).astype({"k": "int64", "ilog_fp": "int64"}).to_parquet(
        out_dir / "golden_lm_ilog.parquet", index=False
    )
    pd.DataFrame(
        lm_scores(texts, lm_model),
        columns=["doc_id", "n_bigrams", "lp_sum_fp", "keep"],
    ).astype(
        {"doc_id": "int64", "n_bigrams": "int64", "lp_sum_fp": "int64"}
    ).to_parquet(out_dir / "golden_lm_scores.parquet", index=False)

    # --- ANN + near-dup over the shared numpy kernel ---
    import numpy as np

    # float32 -> exact float64 per element, matching the engine kernels
    vids = sorted(int(r.vec_id) for r in emb.itertuples(index=False))
    by_id = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in emb.itertuples(index=False)
    }
    cmat = np.array([by_id[v] for v in vids], dtype=np.float64)
    cids = np.array(vids)
    # bounded query set — first ANN_Q ascending matches of the modulo rule
    # (semantics.docsim ANN_Q/ANN_Q_MOD; VERDICT r4 #1)
    qids = [v for v in vids if v % ANN_Q_MOD == 0][:ANN_Q]
    qmat = np.array([by_id[q] for q in qids], dtype=np.float64)
    sims = cosine_matrix(qmat, cmat)  # (nc, nq)

    def write_topk(name, sims, qids, mask_fn):
        """The ONE top-k loop: per query drop itself, keep mask_fn(qi)'s
        candidates, ANN_K best by sim with ties to the lower id."""
        rows = []
        for qi, q in enumerate(qids):
            col = sims[:, qi]
            idx = np.nonzero((cids != q) & mask_fn(qi))[0]
            order = np.lexsort((cids[idx], -col[idx]))[:ANN_K]
            for rank, j in enumerate(idx[order], 1):
                rows.append((q, int(cids[j]), rank, round(float(col[j]), 6)))
        pd.DataFrame(
            rows, columns=["query_id", "neighbor_id", "rank", "sim_r6"]
        ).to_parquet(out_dir / f"{name}.parquet", index=False)

    write_topk("golden_ann_topk", sims, qids, lambda qi: True)

    buckets = np.array([rp_bucket(by_id[v]) for v in vids])
    qbuckets = [rp_bucket(by_id[q]) for q in qids]
    write_topk("golden_ann_lsh_topk", sims, qids,
               lambda qi: buckets == qbuckets[qi])

    from ..semantics.docsim import ivf_cell, ivf_probe_cells, kmeans_train

    # trained coarse quantizer: deterministic k-means (int64-quantized
    # sums; bit-identical to the engine's distributed trainer)
    kcent = kmeans_train(cmat)  # cmat rows are vec_id-ascending
    kcells = np.array([ivf_cell(by_id[v], centroids=kcent) for v in vids])
    kprobes = [np.array(ivf_probe_cells(by_id[q], centroids=kcent))
               for q in qids]

    # IVF-PQ composite (driver oracle for ann_ivfpq_topk): the trained
    # coarse cells above prune WHICH vectors each query scans; ADC scores
    # from head-sample-trained PQ codebooks replace exact cosine
    from ..semantics.pq import (
        PQ_TRAIN_SAMPLE, pq_adc_cosine, pq_encode, pq_train,
    )

    books = pq_train(cmat[:PQ_TRAIN_SAMPLE])
    write_topk("golden_ann_ivfpq_topk",
               pq_adc_cosine(qmat, pq_encode(cmat, books), books), qids,
               lambda qi: np.isin(kcells, kprobes[qi]))

    # near-dup (driver oracle): multi-table hyperplane-LSH blocking + exact
    # cosine verify — the scale-safe semantics shipped in queries()
    nd_buckets: dict[tuple[int, int], list[int]] = {}
    for v in vids:
        for bk in emb_block_keys(by_id[v]):
            nd_buckets.setdefault(bk, []).append(v)
    nd_cand = set()
    for members in nd_buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                nd_cand.add((ms[i], ms[j]))
    nd_pairs = sorted(nd_cand)
    if nd_pairs:
        amat = np.array([by_id[a] for a, _ in nd_pairs], dtype=np.float64)
        bmat = np.array([by_id[b] for _, b in nd_pairs], dtype=np.float64)
        cos = cosine_pairs(amat, bmat)
        nd_rows = [
            (a, b, round(float(c), 6))
            for (a, b), c in zip(nd_pairs, cos)
            if c >= EMB_NEARDUP_COS
        ]
    else:
        nd_rows = []
    pd.DataFrame(nd_rows, columns=["vec_a", "vec_b", "cos_r6"]).to_parquet(
        out_dir / "golden_emb_neardup.parquet", index=False
    )

    # emb dedup-apply keep set (fold into the emb_neardup row, r6):
    # union-find over the LSH-verified pairs above, keep-min per
    # component (singletons keep themselves) — the vector-side twin of
    # golden_dedup_kept
    eparent: dict[int, int] = {}

    def efind(x: int) -> int:
        while eparent.get(x, x) != x:
            eparent[x] = eparent.get(eparent[x], eparent[x])
            x = eparent[x]
        return x

    for a, b, _ in nd_rows:
        ra, rb = efind(a), efind(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            eparent[hi] = lo
    pd.DataFrame(
        [(v,) for v in vids if efind(v) == v], columns=["vec_id"]
    ).to_parquet(out_dir / "golden_emb_dedup_kept.parquet", index=False)

    # IVF-PQ appended-index twin (fold into ann_ivfpq_query_path, r6):
    # trainers (k-means centroids + PQ codebooks) FROZEN on the base
    # split (vec_id % PQ_APPEND_MOD != PQ_APPEND_REM); the append batch
    # is encoded with those trainers; queries are the bounded set drawn
    # from the base corpus (they exist before the append); top-k scans
    # the UNION of base and appended codes
    base_ids = [v for v in vids if v % PQ_APPEND_MOD != PQ_APPEND_REM]
    base_mat = np.array([by_id[v] for v in base_ids], dtype=np.float64)
    a_cent = kmeans_train(base_mat)  # base rows are vec_id-ascending
    a_books = pq_train(base_mat[:PQ_TRAIN_SAMPLE])
    a_cells = np.array(
        [ivf_cell(by_id[v], centroids=a_cent) for v in vids]
    )
    a_qids = [v for v in base_ids if v % ANN_Q_MOD == 0][:ANN_Q]
    a_qmat = np.array([by_id[q] for q in a_qids], dtype=np.float64)
    a_probes = [np.array(ivf_probe_cells(by_id[q], centroids=a_cent))
                for q in a_qids]
    write_topk("golden_ann_ivfpq_append",
               pq_adc_cosine(a_qmat, pq_encode(cmat, a_books), a_books),
               a_qids, lambda qi: np.isin(a_cells, a_probes[qi]))

    # near-dup all-pairs twin (quadratic correctness fixture for pytest —
    # NOT the driver oracle)
    full = cosine_matrix(cmat, cmat)  # (nc, nc); [i, j] = dot(c_i_n, c_j_n)
    ap_rows = []
    for i in range(len(vids)):
        hits = np.nonzero((full[i] >= EMB_NEARDUP_COS) & (cids > cids[i]))[0]
        for j in hits:
            ap_rows.append((vids[i], int(cids[j]), round(float(full[i, j]), 6)))
    pd.DataFrame(ap_rows, columns=["vec_a", "vec_b", "cos_r6"]).to_parquet(
        out_dir / "golden_emb_neardup_allpairs.parquet", index=False
    )

    marker.write_text("ok")
    return out_dir


MEDIA_GOLDEN_VERSION = 2


def ensure_media_golden(sf_dir: str) -> Path:
    """Golden features for the multimodal decode stub (shared fake
    extractor, semantics.media).  Long format (media_id, media_type,
    dim_idx, feat_val) so the driver's pandas canonicalizer — which
    sorts/hashes scalar columns — can compare it (array columns are
    unhashable there; VERDICT r1 'What's wrong' #2)."""
    from ..data.synth import ensure_media
    from ..semantics.media import fake_decode_features

    key = _sf_key(sf_dir)
    out_dir = DATA_ROOT / f"media_{key}"
    marker = out_dir / f"_GOLDEN_v{MEDIA_GOLDEN_VERSION}_OK"
    if marker.exists():
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    media = pd.read_parquet(ensure_media(sf_dir))
    rows = []
    for r in media.itertuples(index=False):
        feat = fake_decode_features(bytes(r.payload), r.media_type)
        for dim_idx, feat_val in enumerate(feat):
            rows.append((int(r.media_id), r.media_type, dim_idx, feat_val))
    pd.DataFrame(
        rows, columns=["media_id", "media_type", "dim_idx", "feat_val"]
    ).to_parquet(out_dir / "golden_media_features.parquet", index=False)
    marker.write_text("ok")
    return out_dir


FILES_GOLDEN_VERSION = 1


def ensure_files_golden(sf_dir: str) -> Path:
    """Golden table for the file-ingest sources: single-process parse of
    the SAME fixture bytes through the shared pure functions
    (sources.files.parse_document_bytes — the frozen ingest semantics:
    encoding cascade for .txt, zip+XML paragraph join for .docx)."""
    from ..data.synth import ensure_doc_files
    from ..sources.files import MAX_FILE_CHARS, parse_document_bytes

    key = _sf_key(sf_dir)
    out_dir = DATA_ROOT / f"files_{key}"
    marker = out_dir / f"_GOLDEN_v{FILES_GOLDEN_VERSION}_OK"
    if marker.exists():
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    files_dir = ensure_doc_files(sf_dir)
    rows = []
    for p in sorted(files_dir.iterdir()):
        if p.suffix not in (".txt", ".docx"):
            continue
        text = parse_document_bytes(p.name, p.read_bytes())
        if len(text) > MAX_FILE_CHARS:
            continue
        rows.append((p.name, 0, "user", text, len(text)))
    pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "char_count"]
    ).to_parquet(out_dir / "golden_files.parquet", index=False)
    marker.write_text("ok")
    return out_dir
