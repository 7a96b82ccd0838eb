"""Fused per-text mention detection — the single shared kernel.

Pipeline order mirrors the reference analyze flow
(/root/reference/core/analyzer.py:91-197):
  1. validation is done OUTSIDE (engine: Catalyst filter; oracle: predicate)
  2. NER scan (gazetteer surrogate slot, F-4)
  3. pattern scan (frozen regex table, F-3)
  4. bag union of both families (U-1, list extend)
  5. span sanitize (O-7)
  6. greedy conflict resolution (W-1/W-2)
  7. surface + normalized-surface projection (O-8, F-7)

Per-branch failure isolation (U-2): each recognizer family runs under its own
try/except — a failing family contributes zero spans and an error flag, never
an exception (the distributed restatement of core/analyzer.py:141-170).

This one function is called per turn by BOTH the Spark mapInPandas detector
(operators/detect.py) and the plain-Python oracle (oracle/reference_oracle.py).
"""

from __future__ import annotations

from typing import NamedTuple

from .gazetteer import find_ner_spans, find_ner_spans_batch
from .normalize import norm_surface
from .patterns import find_pattern_spans, find_pattern_spans_batch
from .resolution import resolve_conflicts, sanitize_spans


class Mention(NamedTuple):
    mention_idx: int      # 1-based rank by start within the turn (W-5)
    entity_type: str
    start: int
    end: int
    score: float
    surface: str
    norm_surface: str


def detect_mentions(
    text: str,
    strategy: str = "priority",
    ner_enabled: frozenset[str] | None = None,
    pattern_enabled: frozenset[str] | None = None,
) -> tuple[list[Mention], int]:
    """Returns (mentions sorted by start, error_flags).

    error_flags bit 0 = NER family failed, bit 1 = pattern family failed.
    Default strategy is "priority" — the reference UI's choice
    (/root/reference/ui/gradio_interface.py:124,171); the library default
    "score" (/root/reference/core/analyzer.py:96) is selectable.
    """
    raw: list[tuple[str, int, int, float]] = []
    errors = 0
    if ner_enabled is None or ner_enabled:
        try:
            raw.extend(find_ner_spans(text, ner_enabled))
        except Exception:
            errors |= 1
    if pattern_enabled is None or pattern_enabled:
        try:
            raw.extend(find_pattern_spans(text, pattern_enabled))
        except Exception:
            errors |= 2

    resolved = resolve_conflicts(sanitize_spans(len(text), raw), strategy)

    mentions = [
        Mention(
            mention_idx=i,
            entity_type=etype,
            start=s,
            end=e,
            score=score,
            surface=text[s:e],
            norm_surface=norm_surface(text[s:e]),
        )
        for i, (etype, s, e, score) in enumerate(resolved, 1)
    ]
    return mentions, errors


def detect_mentions_batch(
    texts: list[str],
    strategy: str = "priority",
) -> list[tuple[list[Mention], int]]:
    """Batch twin of detect_mentions — IDENTICAL per-text outputs (the
    engine's hot path; equality with the per-text form is property-tested).

    Each recognizer family scans the whole batch with one compiled-regex
    pass (find_*_spans_batch) instead of one pass per text — the per-call
    finditer overhead was ~65% of kernel time.  U-2 isolation is preserved:
    if a family's batch scan throws, that family falls back to per-text
    scanning so a poisoned row flags only itself (same bitflags as
    detect_mentions).  Every recognizer runs: the O-6 enabled-set
    restriction lives on the scalar path (api.analyze)."""
    n = len(texts)
    raws: list[list[tuple[str, int, int, float]]] = [[] for _ in range(n)]
    errs = [0] * n
    try:
        ner_lists = find_ner_spans_batch(texts)
    except Exception:
        ner_lists = []
        for i, t in enumerate(texts):
            try:
                ner_lists.append(find_ner_spans(t))
            except Exception:
                ner_lists.append([])
                errs[i] |= 1
    for i, spans in enumerate(ner_lists):
        raws[i].extend(spans)
    try:
        pat_lists = find_pattern_spans_batch(texts)
    except Exception:
        pat_lists = []
        for i, t in enumerate(texts):
            try:
                pat_lists.append(find_pattern_spans(t))
            except Exception:
                pat_lists.append([])
                errs[i] |= 2
    for i, spans in enumerate(pat_lists):
        raws[i].extend(spans)

    results: list[tuple[list[Mention], int]] = []
    for i, text in enumerate(texts):
        resolved = resolve_conflicts(sanitize_spans(len(text), raws[i]),
                                     strategy)
        mentions = [
            Mention(
                mention_idx=j,
                entity_type=etype,
                start=s,
                end=e,
                score=score,
                surface=text[s:e],
                norm_surface=norm_surface(text[s:e]),
            )
            for j, (etype, s, e, score) in enumerate(resolved, 1)
        ]
        results.append((mentions, errs[i]))
    return results
