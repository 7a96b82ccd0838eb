"""Fixed-point bigram language-model scoring — frozen spec shared by the
Spark operator (operators/lm.py), the plain-Python oracle twin, and the
DuckDB driver oracle.

The CCNet/Gopher-family quality signal the repo was missing: score each
document by the log-probability of its word bigrams under the corpus's
own bigram statistics (corpus-typicality — documents whose token
transitions are atypical for the corpus score low and get dropped).
The reference demo has no corpus-level notion at all (per-text analyze,
core/batch_analyzer.py); at training-data scale this is the standard
LM-filter step between heuristic quality gates and dedup.

EVERYTHING IS INTEGER once the ilog lookup is built, so results are
bit-identical under any partitioning, any parallelism, and in any
engine (the CLAUDE.md floats invariant, same design as the fixed-point
PageRank):

  tokens            = ws_tokens(text)          (frozen ASCII-\\s split)
  bigrams(doc)      = zip(tokens, tokens[1:])
  c2(w1, w2)        = corpus bigram count
  c1(w1)            = sum over w2 of c2(w1, w2)
  lp_fp(w1, w2)     = ilog_fp(c2) - ilog_fp(c1)      [<= 0, micro-nats]
  lp_sum_fp(doc)    = sum of lp_fp over the doc's bigrams
  keep(doc)         = n_bigrams == 0
                      OR lp_sum_fp >= LM_KEEP_MIN_AVG_FP * n_bigrams

ilog_fp(k) = round(ILOG_SCALE * ln(k)) is the ONLY transcendental, and
it is never computed independently by two engines: the lookup table is
DATA (k -> ilog_fp), generated once by this module and joined by value
on every side — Spark broadcast-joins the same rows the DuckDB oracle
reads from golden_lm_ilog.parquet.  Scoring the corpus under its own
counts means every scored bigram has c2 >= 1, so no smoothing term is
needed; MLE lp is exact and total.

The lookup is small BY A COUNTING ARGUMENT, not by assumption: a
frequency table whose counts sum to N has at most sqrt(2N) DISTINCT
count values (k distinct positive integers sum to >= k(k+1)/2), so the
driver-side collect of distinct {c2} union {c1} values is
O(sqrt(bigram observations)) — ~4.5M entries at 10^13 bigrams, a few
MB, corpus-content independent (the ANN_Q bounded-collect pattern).
"""

from __future__ import annotations

import math

from .bpe import ws_tokens

ILOG_SCALE = 10**6

# Keep threshold: average bigram log-prob >= -3.45 nats under the
# corpus's own statistics (calibrated to the synthetic corpus: drops
# the least-typical ~4-5% tail at sf0.001 AND sf0.01, so both branches
# of the keep flag are live — a real deployment re-tunes this per
# corpus).  Integer micro-nats so the keep decision is an exact BIGINT
# comparison in every engine.  Part of the DOCS golden contract
# (golden_lm_scores / golden_lm_ilog): changing it requires a
# DOCS_GOLDEN_VERSION bump.
LM_KEEP_MIN_AVG_FP = -3_450_000


def ilog_fp(k: int) -> int:
    """round(ILOG_SCALE * ln(k)) — fixed-point natural log.  Defined for
    k >= 1.  Deterministic (one libm call on one machine builds the
    table; every engine consumes it as data)."""
    return round(ILOG_SCALE * math.log(k))


def doc_bigrams(text: str) -> list[tuple[str, str]]:
    """Adjacent ws-token pairs under the frozen tokenizer."""
    toks = ws_tokens(text if text is not None else "")
    return list(zip(toks, toks[1:]))


def lm_scores(
    texts: dict[int, str],
    model: dict[tuple[str, str], int] | None = None,
) -> list[tuple[int, int, int, bool]]:
    """Single-process oracle twin: (doc_id, n_bigrams, lp_sum_fp, keep)
    per document, sorted by doc_id.  `model` optionally supplies
    pre-computed bigram counts (the train-on-A-score-B shape); default
    is self-scoring (counts from `texts` itself).  Out-of-model bigrams
    drop from BOTH the sum and the count (self-scoring never has any;
    the engine operator realizes the same drop with its inner join) —
    so n_bigrams is the SCORED count, and a doc with zero in-model
    bigrams keeps by the zero-bigram rule."""
    if model is None:
        model = {}
        for text in texts.values():
            for bg in doc_bigrams(text):
                model[bg] = model.get(bg, 0) + 1
    c1: dict[str, int] = {}
    for (w1, _), c in model.items():
        c1[w1] = c1.get(w1, 0) + c
    out = []
    for doc_id in sorted(texts):
        lp = 0
        bgs = doc_bigrams(texts[doc_id])
        n = 0
        for bg in bgs:
            if bg not in model:
                continue  # external-model miss; mirrored by inner join
            lp += ilog_fp(model[bg]) - ilog_fp(c1[bg[0]])
            n += 1
        keep = n == 0 or lp >= LM_KEEP_MIN_AVG_FP * n
        out.append((doc_id, n, lp, keep))
    return out


def ilog_values(model: dict[tuple[str, str], int]) -> dict[int, int]:
    """The lookup table a model needs: every distinct c2 and c1 value
    mapped through ilog_fp (bounded by the sqrt(2N) counting argument
    above)."""
    c1: dict[str, int] = {}
    for (w1, _), c in model.items():
        c1[w1] = c1.get(w1, 0) + c
    vals = set(model.values()) | set(c1.values())
    return {v: ilog_fp(v) for v in sorted(vals)}
