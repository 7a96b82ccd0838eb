"""Pinned pattern-recognizer table (F-3) — OUR frozen spec.

The reference delegates 8 pattern entity types to Presidio built-ins plus one
custom Ukrainian IBAN recognizer (regex ``\\bUA\\d{27}\\b`` score 0.9 with
UA/EN context words — /root/reference/recognizers/presidio_patterns.py:118-148).
Presidio itself is NOT a dependency of this engine: the table below is an
explicit, self-contained re-specification frozen in code so reference-parity
is testable without Presidio installed (SURVEY.md §2.7 F-3).  The plain-Python
oracle imports THIS table, so engine/oracle parity is exact by construction.

Context-boost rule (frozen): if any context word occurs case-insensitively in
the CONTEXT_WINDOW chars before the match start, the score is raised by
CONTEXT_BOOST, capped at 1.0 (Presidio's LemmaContextAwareEnhancer uses the
same +0.35 boost constant publicly).
"""

from __future__ import annotations

import re
from typing import NamedTuple


class PatternSpec(NamedTuple):
    entity_type: str
    pattern: "re.Pattern[str]"
    score: float
    context: tuple[str, ...]  # context words that boost the score
    # optional post-match validator (Presidio's validate_result shape):
    # the span is kept only if validate(match_text) is True
    validate: "object" = None


CONTEXT_BOOST: float = 0.35
CONTEXT_WINDOW: int = 60  # chars before match start scanned for context words

# Context words for the Ukrainian IBAN recognizer — values from
# /root/reference/recognizers/presidio_patterns.py:134-143.
_IBAN_CONTEXT = (
    "рахунок", "рахунку", "рахунка",
    "iban",
    "оплата", "оплати",
    "банк", "банку", "банківський",
    "переказ", "перевод",
    "account", "payment", "transfer",
)

_IPN_WEIGHTS = (-1, 5, 7, 9, 4, 6, 10, 5, 7)
_IPN_CONTEXT = (
    "іпн", "рнокпп", "ідентифікаційний", "податковий", "платник",
    "tax", "ipn",
)


def ipn_checksum_ok(digits: str) -> bool:
    """РНОКПП (Ukrainian individual tax number) checksum: control digit =
    (sum(d_i * w_i, i=1..9) mod 11) mod 10 — the public algorithm."""
    total = sum(int(d) * w for d, w in zip(digits[:9], _IPN_WEIGHTS))
    return (total % 11) % 10 == int(digits[9])


PATTERN_SPECS: tuple[PatternSpec, ...] = (
    PatternSpec(
        "IBAN_CODE",
        re.compile(r"\bUA\d{27}\b"),
        0.9,
        _IBAN_CONTEXT,
    ),
    PatternSpec(
        "EMAIL_ADDRESS",
        re.compile(r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}\b"),
        0.85,
        (),
    ),
    PatternSpec(
        "PHONE_NUMBER",
        # Ukrainian mobile (+380XXXXXXXXX / 380XXXXXXXXX / 0XXXXXXXXX) or a
        # generic international +NNNNNNN..NNNNNNNNNNNNNNN form.
        re.compile(r"(?<![\d+])(?:\+?380\d{9}|0\d{9}|\+\d{7,15})(?!\d)"),
        0.7,
        (),
    ),
    PatternSpec(
        "CREDIT_CARD",
        # 16 digits, optionally space/dash-grouped in fours.
        re.compile(r"(?<!\d)(?:\d{4}[ -]?){3}\d{4}(?!\d)"),
        0.8,
        (),
    ),
    PatternSpec(
        "IP_ADDRESS",
        re.compile(r"(?<![\d.])(?:\d{1,3}\.){3}\d{1,3}(?![\d.])"),
        0.6,
        (),
    ),
    PatternSpec(
        "URL",
        re.compile(r"\bhttps?://[^\s\"'<>)]+|\bwww\.[^\s\"'<>)]+"),
        0.6,
        (),
    ),
    PatternSpec(
        "CRYPTO",
        # Bitcoin-style base58 address.
        re.compile(r"\b[13][a-km-zA-HJ-NP-Z1-9]{25,34}\b"),
        0.4,
        (),
    ),
    PatternSpec(
        "DATE_TIME",
        # dd.mm.yyyy[ hh:mm] | standalone hh:mm
        re.compile(
            r"\b\d{1,2}[./-]\d{1,2}[./-]\d{2,4}(?:\s+\d{1,2}:\d{2})?\b"
            r"|\b\d{1,2}:\d{2}\b"
        ),
        0.6,
        (),
    ),
    PatternSpec(
        "UA_IPN",
        # РНОКПП: exactly 10 digits, checksum-validated (north-star IPN
        # class; the reference ships no IPN recognizer, so this is OUR
        # frozen spec following Presidio's pattern+validator shape)
        re.compile(r"(?<!\d)\d{10}(?!\d)"),
        0.5,
        _IPN_CONTEXT,
        ipn_checksum_ok,
    ),
)


# Batch-scan separator: texts are joined with this single char and each
# compiled regex runs ONCE per batch (the per-text finditer call overhead
# dominated the detection kernel — measured 26k vs 134k texts/s).  "<" is
# provably inert for the frozen table: it is a non-word char (so \b and the
# (?<![\w']) gazetteer boundaries behave exactly like a string edge), it is
# in no character class of any spec (URL's negated class [^\s"'<>)]
# explicitly excludes it, so URL matches terminate), it is not \s (so
# DATE_TIME's optional `\s+hh:mm` tail cannot cross a join), and no
# pattern or gazetteer surface can match or contain it.  Equivalence of
# batch and per-text scanning is property-tested (tests/test_properties.py)
# including texts that themselves contain "<".
BATCH_SEP = "<"


def _segment_starts(texts: list[str]) -> list[int]:
    starts = []
    pos = 0
    for t in texts:
        starts.append(pos)
        pos += len(t) + 1  # +1 for BATCH_SEP
    return starts


# --- anchored scanning --------------------------------------------------
# Python re scans complex patterns at only ~20-50 MB/s; the batch hot path
# instead enumerates CANDIDATE match-start positions with C-speed literal
# search (str.find / one trivial \d+ pass), then runs `pattern.match` only
# at those positions.  Each candidate generator below is derived from the
# frozen spec and provably covers every position where that pattern can
# match (reasoned case-by-case in comments); equivalence with the plain
# finditer path is property-tested (tests/test_properties.py).  If a
# PATTERN_SPECS regex changes, its candidate generator MUST be re-derived
# (the property test is the tripwire).

_DIGIT_RUN = re.compile(r"\d+")
_EMAIL_LOCAL_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789._%+-"
)


def _iter_lit(joined: str, lit: str):
    pos = joined.find(lit)
    while pos != -1:
        yield pos
        pos = joined.find(lit, pos + 1)


def _cand_iban(joined, runs):
    # \bUA\d{27}\b can only start at a literal "UA"
    return _iter_lit(joined, "UA")


def _cand_email(joined, runs):
    # \b[local]+@[domain] must start inside the local-part char run that
    # ends at an '@'; emit every position of that run (the \b is evaluated
    # by pattern.match, and the resume pointer skips positions consumed by
    # an earlier match).  '@' is not a local char, so runs of successive
    # '@'s are disjoint and candidates stay ordered.
    for p in _iter_lit(joined, "@"):
        i = p
        while i > 0 and joined[i - 1] in _EMAIL_LOCAL_CHARS:
            i -= 1
        yield from range(i, p)


def _cand_phone(joined, runs):
    # (?<![\d+])(\+?380\d{9}|0\d{9}|\+\d{7,15})(?!\d): a match starts at a
    # '+' immediately before a digit run of 7..15, or at a run start that
    # is '0...' of exactly 10 digits or '380...' of exactly 12 (the
    # trailing (?!\d) pins the run length; lookbehind bars mid-run starts).
    for s, e in runs:
        n = e - s
        if s and joined[s - 1] == "+" and 7 <= n <= 15:
            yield s - 1
        if (joined[s] == "0" and n == 10) or (
            n == 12 and joined.startswith("380", s)
        ):
            yield s


def _cand_credit(joined, runs):
    # (?<!\d)(\d{4}[ -]?){3}\d{4}(?!\d): starts at a digit-run start with
    # >=4 digits (grouped forms consume later runs; match() handles that).
    for s, e in runs:
        if e - s >= 4:
            yield s


def _cand_ip(joined, runs):
    # (?<![\d.])(\d{1,3}\.){3}...: the first octet is a whole run of <=3
    # digits followed by '.' (a longer run can never match: \d{1,3}
    # backtracks against a following digit and fails).
    n = len(joined)
    for s, e in runs:
        if e - s <= 3 and e < n and joined[e] == ".":
            yield s


def _cand_url(joined, runs):
    # \bhttps?:// | \bwww\. — starts only at literal "http" or "www."
    hs = list(_iter_lit(joined, "http"))
    ws = list(_iter_lit(joined, "www."))
    return iter(sorted(hs + ws)) if ws else iter(hs)


def _cand_date(joined, runs):
    # \b\d{1,2}[./-]... | \b\d{1,2}:\d{2}\b — first number is a whole run
    # of <=2 digits followed by one of './-:'.
    n = len(joined)
    for s, e in runs:
        if e - s <= 2 and e < n and joined[e] in "./-:":
            yield s


def _cand_ipn(joined, runs):
    # (?<!\d)\d{10}(?!\d) — a whole digit run of exactly 10
    for s, e in runs:
        if e - s == 10:
            yield s


_CANDIDATES = {
    "IBAN_CODE": (_cand_iban, False),
    "EMAIL_ADDRESS": (_cand_email, False),
    "PHONE_NUMBER": (_cand_phone, True),
    "CREDIT_CARD": (_cand_credit, True),
    "IP_ADDRESS": (_cand_ip, True),
    "URL": (_cand_url, False),
    "DATE_TIME": (_cand_date, True),
    "UA_IPN": (_cand_ipn, True),
    # CRYPTO has no selective literal anchor; its plain scan is already
    # cheap (first-char class [13] lets re skip most positions).
}


def _anchored_matches(pattern, joined, candidates):
    """finditer emulation over a superset of possible match starts:
    leftmost candidate >= resume wins, scan resumes after each match —
    identical output to pattern.finditer(joined) (no spec can produce an
    empty match)."""
    resume = 0
    for pos in candidates:
        if pos < resume:
            continue
        m = pattern.match(joined, pos)
        if m:
            yield m
            resume = m.end()


def find_pattern_spans_batch(
    texts: list[str],
) -> list[list[tuple[str, int, int, float]]]:
    """Batch twin of find_pattern_spans: anchored candidate scan per spec
    over the whole joined batch, identical per-text results (same span
    order, same scores — the context window is re-read from the owning
    text so the lower()-offset semantics match the per-text path exactly,
    including length-changing Unicode case mappings)."""
    from bisect import bisect_right

    out: list[list[tuple[str, int, int, float]]] = [[] for _ in texts]
    if not texts:
        return out
    joined = BATCH_SEP.join(texts)
    starts = _segment_starts(texts)
    runs: list[tuple[int, int]] | None = None
    lowered_cache: dict[int, str] = {}
    for spec in PATTERN_SPECS:
        cand = _CANDIDATES.get(spec.entity_type)
        if cand is None:
            matches = spec.pattern.finditer(joined)
        else:
            cand_fn, needs_runs = cand
            if needs_runs and runs is None:
                runs = [(m.start(), m.end())
                        for m in _DIGIT_RUN.finditer(joined)]
            matches = _anchored_matches(
                spec.pattern, joined, cand_fn(joined, runs)
            )
        validate = spec.validate
        for m in matches:
            # validator runs OUTSIDE the matcher: a rejected span is still
            # CONSUMED by the scan (finditer semantics), it just isn't kept
            if validate is not None and not validate(m.group(0)):
                continue
            ms = m.start()
            seg = bisect_right(starts, ms) - 1
            base = starts[seg]
            s, e = ms - base, m.end() - base
            score = spec.score
            if spec.context:
                lowered = lowered_cache.get(seg)
                if lowered is None:
                    lowered = lowered_cache[seg] = texts[seg].lower()
                window = lowered[max(0, s - CONTEXT_WINDOW) : s]
                if any(w in window for w in spec.context):
                    score = min(1.0, score + CONTEXT_BOOST)
            out[seg].append((spec.entity_type, s, e, score))
    return out


def find_pattern_spans(
    text: str, enabled: frozenset[str] | None = None
) -> list[tuple[str, int, int, float]]:
    """All pattern matches as (entity_type, start, end, score) raw spans.

    Mirrors the reference's pattern stage (core/analyzer.py:156-170) with the
    frozen table above.  Overlaps between specs are allowed here; conflict
    resolution (resolution.py) removes them later, exactly as in the
    reference pipeline order.
    """
    out: list[tuple[str, int, int, float]] = []
    lowered = text.lower()
    for spec in PATTERN_SPECS:
        if enabled is not None and spec.entity_type not in enabled:
            continue
        for m in spec.pattern.finditer(text):
            if spec.validate is not None and not spec.validate(m.group(0)):
                continue
            score = spec.score
            if spec.context:
                lo = max(0, m.start() - CONTEXT_WINDOW)
                window = lowered[lo : m.start()]
                if any(w in window for w in spec.context):
                    score = min(1.0, score + CONTEXT_BOOST)
            out.append((spec.entity_type, m.start(), m.end(), score))
    return out
