"""Relation/triple semantics (SURVEY.md §2.10) — frozen spec [north-rule].

The predicate vocabulary comes from BASELINE.json (mentions_person, uses_tool,
contacts_via, shares_pii_with); the mention semantics the predicates consume
come from the reference recognizers.  Window size, tie-breaks, PII set, and
entity-reference encoding are constants HERE so the plain-Python oracle and
the Spark grouped-map emitter (operators/triples.py) share them literally.

Entity references (pre-canonicalization) are "TYPE:norm_surface"; the
canonicalization stage later rewrites them to stable canonical ids.

Emission rules per conversation (turns sorted by turn_idx):
  mentions_person   (conv:<id>, mentions_person, PERS:<norm>) for each
                    distinct PERS norm-surface in the turn.
  uses_tool         (conv:<id>, uses_tool, tool:<tool>) when the row has a
                    non-null non-empty tool.
  contacts_via      for each channel mention (EMAIL_ADDRESS/PHONE_NUMBER/URL)
                    in turn t: nearest PERS/ORG mention within |dt| <= W;
                    tie-break (same turn first, then smaller |dt|, then
                    smaller turn_idx, then smaller start) ->
                    (party_ref, contacts_via, channel_ref) anchored at t.
  shares_pii_with   when a high-priority PII span occurs in turn t: for each
                    PERS entity p mentioned IN t, for each distinct PERS/ORG
                    entity q != p mentioned within |dt| <= W:
                    (PERS:<p>, shares_pii_with, <q_ref>) anchored at t.

All outputs are deduped per (turn_idx, subj, pred, obj).

Cost: the kernel builds one window index per conversation, turn_idx ->
that turn's PERS/ORG mentions in the caller's mention order (turns listed
in `turns` only).  Turn t reads just the index entries for
t-W .. t+W in ascending turn order, so the work is
O(turns x mentions-in-window), linear in conversation length.  The
ascending scan order is kept on purpose: among equal tie-break keys (tied
`start`s within a turn) the first mention in scan order wins, exactly as
in an all-mentions scan.  The nearest party depends only on t, so it is
picked once per turn and shared by every channel mention in t.
"""

from __future__ import annotations

from .detect import Mention

WINDOW_W: int = 2

CHANNEL_TYPES: frozenset[str] = frozenset({"EMAIL_ADDRESS", "PHONE_NUMBER", "URL"})
PARTY_TYPES: frozenset[str] = frozenset({"PERS", "ORG"})
# High-priority PII per the reference priority map (priority <= 2 families
# plus DOC; excludes PERS itself) — utils/conflict_resolution.py:71-91.
PII_TYPES: frozenset[str] = frozenset(
    {"CREDIT_CARD", "IBAN_CODE", "EMAIL_ADDRESS", "PHONE_NUMBER", "CRYPTO", "DOC"}
)

PRED_MENTIONS_PERSON = "mentions_person"
PRED_USES_TOOL = "uses_tool"
PRED_CONTACTS_VIA = "contacts_via"
PRED_SHARES_PII_WITH = "shares_pii_with"


def entity_ref(entity_type: str, normed: str) -> str:
    return f"{entity_type}:{normed}"


def conv_ref(conv_id: str) -> str:
    return f"conv:{conv_id}"


def tool_ref(tool: str) -> str:
    return f"tool:{tool}"


Triple = tuple[int, str, str, str]  # (turn_idx, subj, pred, obj)


def emit_triples_for_conv(
    conv_id: str,
    turns: list[tuple[int, str | None]],          # (turn_idx, tool)
    mentions: dict[int, list[Mention]],           # turn_idx -> resolved mentions
    window: int = WINDOW_W,
) -> list[Triple]:
    out: set[Triple] = set()
    subj_conv = conv_ref(conv_id)

    # Window index: turn_idx -> that turn's PERS/ORG mentions in the
    # caller's order, over the turns listed in `turns` only.
    parties: dict[int, list[Mention]] = {}
    for t, _ in turns:
        ps = [m for m in mentions.get(t, []) if m.entity_type in PARTY_TYPES]
        if ps:
            parties[t] = ps

    # Order by turn_idx alone: a turn listed twice may carry None beside a
    # string tool, which do not compare.  The output is a set, so the
    # visiting order of equal turn_idx cannot change it.
    for t, tool in sorted(turns, key=lambda turn: turn[0]):
        ms = mentions.get(t, [])

        # mentions_person
        for m in ms:
            if m.entity_type == "PERS":
                out.add((t, subj_conv, PRED_MENTIONS_PERSON,
                         entity_ref("PERS", m.norm_surface)))

        # uses_tool
        if tool is not None and tool != "":
            out.add((t, subj_conv, PRED_USES_TOOL, tool_ref(tool)))

        channels = [m for m in ms if m.entity_type in CHANNEL_TYPES]
        persons_in_t = (
            {m.norm_surface for m in ms if m.entity_type == "PERS"}
            if any(m.entity_type in PII_TYPES for m in ms) else set()
        )
        if not channels and not persons_in_t:
            continue
        # this turn's window slice, ascending turn_idx
        in_window = [
            (pt, pm)
            for pt in range(t - window, t + window + 1)
            for pm in parties.get(pt, ())
        ]

        # contacts_via: channel mention in t -> nearest party in window
        # (min keeps the first of equal keys: tied starts go by scan order)
        if channels and in_window:
            _, best = min(
                in_window,
                key=lambda p: (0 if p[0] == t else 1, abs(p[0] - t), p[0],
                               p[1].start),
            )
            party_ref = entity_ref(best.entity_type, best.norm_surface)
            for m in channels:
                out.add((t, party_ref, PRED_CONTACTS_VIA,
                         entity_ref(m.entity_type, m.norm_surface)))

        # shares_pii_with
        if persons_in_t:
            parties_in_window = {
                (pm.entity_type, pm.norm_surface) for _, pm in in_window
            }
            for p in persons_in_t:
                for qt, qn in parties_in_window:
                    if qt == "PERS" and qn == p:
                        continue
                    out.add((t, entity_ref("PERS", p),
                             PRED_SHARES_PII_WITH, entity_ref(qt, qn)))

    return sorted(out)
