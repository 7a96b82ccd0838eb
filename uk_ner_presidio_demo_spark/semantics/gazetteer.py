"""Deterministic gazetteer — the NER-slot surrogate (F-4).

The reference's NER stage is a spaCy transformer model
(dchaplinsky/uk_ner_web_trf_13class, lazy-singleton-loaded —
/root/reference/recognizers/ukrainian_ner.py:28-66) emitting
(label, start_char, end_char, confidence-default-1.0) spans
(/root/reference/recognizers/ukrainian_ner.py:107-135).  No model download is
possible in this sandbox, so the NER slot is a deterministic gazetteer over
the same 13 classes; the plain-Python oracle uses the SAME table and the SAME
matcher, making parity exact.  The slot is swappable: `find_ner_spans` is the
only function the detector calls, and a model-backed implementation with the
same signature drops in (per-executor lazy singleton, as the reference does
per-process).

Matching semantics (frozen): one combined alternation regex over all
surfaces, alternatives ordered longest-first (leftmost-longest), case
SENSITIVE, with word-ish boundaries ``(?<![\\w'])`` / ``(?![\\w'])``;
finditer scan, so hits never overlap each other (cross-family overlaps are
handled later by conflict resolution, as in the reference).
"""

from __future__ import annotations

import re
from functools import lru_cache

# surface -> (entity_type, score).  Model confidence defaults to 1.0
# (/root/reference/recognizers/ukrainian_ner.py:117-123); a few entries carry
# lower scores to exercise the score-strategy resolution path.
GAZETTEER: dict[str, tuple[str, float]] = {
    # --- PERS (incl. the FIXTURES.md anchors and alias variants) ---
    "Іван Петренко": ("PERS", 1.0),
    "Петренко Іван": ("PERS", 1.0),
    "І. Петренко": ("PERS", 0.9),
    "Іван Петренко-Коваль": ("PERS", 1.0),
    "Марія Коваленко": ("PERS", 1.0),
    "М. Коваленко": ("PERS", 0.9),
    "Олена Шевчук": ("PERS", 1.0),
    "Тарас Шевченко": ("PERS", 1.0),   # deliberate hot/"celebrity" entity
    "Т. Шевченко": ("PERS", 0.9),
    "Андрій Бондаренко": ("PERS", 1.0),
    "Наталія Ткаченко": ("PERS", 1.0),
    "Сергій Мельник": ("PERS", 1.0),
    "Оксана Кравченко": ("PERS", 1.0),
    "Дмитро Олійник": ("PERS", 1.0),
    "Юлія Поліщук": ("PERS", 1.0),
    "Василь Руденко": ("PERS", 1.0),
    "Ганна Савченко": ("PERS", 1.0),
    "Петро Лисенко": ("PERS", 1.0),
    "Ірина Марченко": ("PERS", 1.0),
    "Олег Захарченко": ("PERS", 1.0),
    "John Smith": ("PERS", 0.95),
    "Jane Doe": ("PERS", 0.95),
    # --- ORG ---
    "ТОВ 'Приват'": ("ORG", 1.0),
    "ТОВ «Приват»": ("ORG", 1.0),
    "ПриватБанк": ("ORG", 1.0),
    "Ощадбанк": ("ORG", 1.0),
    "Укрпошта": ("ORG", 1.0),
    "Нова Пошта": ("ORG", 1.0),
    "НБУ": ("ORG", 0.9),
    "Київстар": ("ORG", 1.0),
    "ТОВ 'Світанок'": ("ORG", 1.0),
    "АТ 'Мрія'": ("ORG", 1.0),
    "Дія": ("ORG", 0.85),
    "Міністерство фінансів": ("ORG", 1.0),
    # --- LOC ---
    "Київ": ("LOC", 1.0),
    "Києві": ("LOC", 1.0),
    "Львів": ("LOC", 1.0),
    "Львові": ("LOC", 1.0),
    "Одеса": ("LOC", 1.0),
    "Харків": ("LOC", 1.0),
    "Дніпро": ("LOC", 0.9),
    "вул. Хрещатик, 22": ("LOC", 1.0),
    "вул. Шевченка, 10": ("LOC", 1.0),
    "майдан Незалежності": ("LOC", 1.0),
    "Україна": ("LOC", 1.0),
    "Україні": ("LOC", 1.0),
    # --- DATE ---
    "15 березня 2024 року": ("DATE", 1.0),
    "1 січня 2025 року": ("DATE", 1.0),
    "28 лютого 2024": ("DATE", 1.0),
    "10 квітня": ("DATE", 0.9),
    "минулого тижня": ("DATE", 0.85),
    "завтра": ("DATE", 0.8),
    # --- TIME ---
    "14:30": ("TIME", 1.0),
    "09:00": ("TIME", 1.0),
    "18:45": ("TIME", 1.0),
    "опівдні": ("TIME", 0.85),
    # --- JOB ---
    "директора": ("JOB", 1.0),
    "директор": ("JOB", 1.0),
    "менеджер": ("JOB", 1.0),
    "бухгалтер": ("JOB", 1.0),
    "інженер": ("JOB", 1.0),
    "юрист": ("JOB", 1.0),
    # --- MON ---
    "15000 грн": ("MON", 1.0),
    "2500 гривень": ("MON", 1.0),
    "100 доларів": ("MON", 1.0),
    "500 євро": ("MON", 1.0),
    # --- PCT ---
    "20 відсотків": ("PCT", 1.0),
    "5%": ("PCT", 0.9),
    "13%": ("PCT", 0.9),
    # --- PERIOD ---
    "протягом місяця": ("PERIOD", 1.0),
    "два тижні": ("PERIOD", 1.0),
    "квартал": ("PERIOD", 0.85),
    # --- DOC ---
    "паспорт МК123456": ("DOC", 1.0),
    "довідка №774/23": ("DOC", 1.0),
    "договір №12-А": ("DOC", 1.0),
    # --- QUANT ---
    "три одиниці": ("QUANT", 1.0),
    "12 штук": ("QUANT", 1.0),
    # --- ART ---
    "Кобзар": ("ART", 1.0),
    "Енеїда": ("ART", 1.0),
    # --- MISC ---
    "ЄДРПОУ": ("MISC", 0.9),
    "ПДВ": ("MISC", 0.85),
    # Deliberate strategy-divergence anchor: this surface is also a CRYPTO
    # pattern hit (score 0.4, priority 2).  Under "score" the MISC 0.95
    # wins; under "priority" CRYPTO (2 < 10) wins — the distributed
    # restatement of the reference's two-resolver behavioral difference
    # (utils/conflict_resolution.py:20-125), exercised corpus-wide.
    "1BvBMSEYstWetqTFn5Au4m4GFg7xJaNVN2": ("MISC", 0.95),
}


@lru_cache(maxsize=4)
def _compiled(enabled: frozenset[str] | None) -> "re.Pattern[str] | None":
    surfaces = [
        s for s, (t, _) in GAZETTEER.items()
        if enabled is None or t in enabled
    ]
    if not surfaces:
        return None
    surfaces.sort(key=len, reverse=True)  # leftmost-LONGEST via ordering
    alt = "|".join(re.escape(s) for s in surfaces)
    return re.compile(rf"(?<![\w'])(?:{alt})(?![\w'])")


def find_ner_spans(
    text: str, enabled: frozenset[str] | None = None
) -> list[tuple[str, int, int, float]]:
    """Gazetteer NER hits as (entity_type, start, end, score) raw spans."""
    pat = _compiled(enabled)
    if pat is None:
        return []
    out = []
    for m in pat.finditer(text):
        etype, score = GAZETTEER[m.group(0)]
        out.append((etype, m.start(), m.end(), score))
    return out


def find_ner_spans_batch(
    texts: list[str],
) -> list[list[tuple[str, int, int, float]]]:
    """Batch twin of find_ner_spans: ONE finditer over the joined batch.
    BATCH_SEP is a non-[\\w'] char, so the word-ish boundaries behave
    exactly like string edges at every join; no gazetteer surface contains
    it (asserted), so no match can touch a separator."""
    from bisect import bisect_right

    from .patterns import BATCH_SEP, _segment_starts

    assert not any(BATCH_SEP in s for s in GAZETTEER)
    out: list[list[tuple[str, int, int, float]]] = [[] for _ in texts]
    pat = _compiled(None)
    if pat is None or not texts:
        return out
    joined = BATCH_SEP.join(texts)
    starts = _segment_starts(texts)
    for m in pat.finditer(joined):
        seg = bisect_right(starts, m.start()) - 1
        base = starts[seg]
        etype, score = GAZETTEER[m.group(0)]
        out[seg].append((etype, m.start() - base, m.end() - base, score))
    return out
