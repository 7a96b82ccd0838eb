"""Property-based tests (hypothesis) over the frozen semantic kernels —
invariants that must hold for ANY input, beyond the example corpus (the
reference has no property testing; SURVEY.md §5.1)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from uk_ner_presidio_demo_spark.semantics.anonymize import splice
from uk_ner_presidio_demo_spark.semantics.detect import detect_mentions
from uk_ner_presidio_demo_spark.semantics.minhash import (
    band_keys, jaccard, minhash_signature,
)
from uk_ner_presidio_demo_spark.semantics.normalize import norm_surface
from uk_ner_presidio_demo_spark.semantics.resolution import (
    resolve_conflicts, sanitize_spans,
)

# span strategy: arbitrary (possibly invalid/overlapping) raw spans
_span = st.tuples(
    st.sampled_from(["PERS", "ORG", "EMAIL_ADDRESS", "CREDIT_CARD", "X"]),
    st.integers(-5, 60),
    st.integers(-5, 60),
    st.floats(0.0, 1.0, allow_nan=False),
)
_text = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=80,
)


class TestResolutionProperties:
    @given(st.lists(_span, max_size=12), st.integers(0, 60),
           st.sampled_from(["score", "priority"]))
    @settings(max_examples=200, deadline=None)
    def test_no_overlaps_and_sorted(self, spans, text_len, strategy):
        out = resolve_conflicts(sanitize_spans(text_len, spans), strategy)
        # sorted by start
        assert [s[1] for s in out] == sorted(s[1] for s in out)
        # pairwise non-overlapping
        for i in range(len(out) - 1):
            assert out[i][2] <= out[i + 1][1]
        # every output span is one of the sanitized inputs
        sane = sanitize_spans(text_len, spans)
        assert all(s in sane for s in out)
        # all spans within bounds
        assert all(0 <= s[1] < s[2] <= text_len for s in out)

    @given(st.lists(_span, max_size=12), st.integers(0, 60))
    @settings(max_examples=100, deadline=None)
    def test_deterministic(self, spans, text_len):
        a = resolve_conflicts(sanitize_spans(text_len, spans), "score")
        b = resolve_conflicts(sanitize_spans(text_len, spans), "score")
        assert a == b


class TestSpliceProperties:
    @given(_text)
    @settings(max_examples=100, deadline=None)
    def test_empty_spans_identity(self, text):
        assert splice(text, []) == text

    @given(_text)
    @settings(max_examples=150, deadline=None)
    def test_detect_then_splice_accounting(self, text):
        """For ANY text: splice over the detected spans preserves every
        non-span character in order and replaces each span with [TYPE]."""
        mentions, _ = detect_mentions(text)
        out = splice(text, [(m.entity_type, m.start, m.end) for m in mentions])
        expected = []
        pos = 0
        for m in mentions:
            expected.append(text[pos:m.start])
            expected.append(f"[{m.entity_type}]")
            pos = m.end
        expected.append(text[pos:])
        assert out == "".join(expected)


class TestNormalizeProperties:
    @given(_text)
    @settings(max_examples=200, deadline=None)
    def test_idempotent(self, s):
        assert norm_surface(norm_surface(s)) == norm_surface(s)

    @given(_text)
    @settings(max_examples=200, deadline=None)
    def test_no_outer_space_no_double_space(self, s):
        n = norm_surface(s)
        assert n == n.strip()
        assert "  " not in n


class TestMinhashProperties:
    @given(st.text(min_size=0, max_size=40))
    @settings(max_examples=100, deadline=None)
    def test_signature_shape_and_determinism(self, s):
        sig = minhash_signature(s)
        assert len(sig) == 32
        assert sig == minhash_signature(s)
        assert len(band_keys(sig)) == 8

    @given(st.text(min_size=3, max_size=40))
    @settings(max_examples=100, deadline=None)
    def test_identical_strings_jaccard_one(self, s):
        assert jaccard(s, s) == 1.0
        # identical signatures collide in every band
        a = band_keys(minhash_signature(s))
        b = band_keys(minhash_signature(s))
        assert a == b


# Texts biased toward pattern-shaped content so the anchored batch scanner
# gets exercised on near-miss and boundary forms, not just random noise.
_patternish = st.one_of(
    _text,
    st.from_regex(r"(\+?380[0-9]{7,11}|0[0-9]{8,11}|\+[0-9]{5,17})",
                  fullmatch=True),
    st.from_regex(r"[0-9]{1,4}([ -]?[0-9]{4}){2,4}", fullmatch=True),
    st.from_regex(r"[0-9]{1,4}(\.[0-9]{1,4}){2,4}", fullmatch=True),
    st.from_regex(r"[0-9]{1,3}[./:-][0-9]{1,3}([./:-][0-9]{1,5})?",
                  fullmatch=True),
    st.from_regex(r"UA[0-9]{20,30}", fullmatch=True),
    st.from_regex(r"(іпн |рнокпп |tax )?[0-9]{9,11}", fullmatch=True),
    st.from_regex(r"[A-Za-z0-9._%+-]{0,8}@{1,2}[A-Za-z0-9.-]{0,8}"
                  r"(\.[A-Za-z]{1,4})?", fullmatch=True),
    st.from_regex(r"(https?://|www\.|ftp://)[^ ]{0,12}", fullmatch=True),
    st.sampled_from(["рахунок UA" + "1" * 27, "Іван Петренко у Києві",
                     "оплата на UA" + "9" * 27, "<", "a<b", "1<2", "+<3"]),
)


class TestBatchDetectionEquivalence:
    """detect_mentions_batch is the engine hot path; it MUST be
    extensionally identical to the per-text detect_mentions (which the
    plain-Python oracle uses).  This is the tripwire for the anchored
    candidate generators in semantics/patterns.py — if a PATTERN_SPECS
    regex changes without re-deriving its anchors, this fails."""

    @given(st.lists(_patternish, min_size=0, max_size=8))
    @settings(max_examples=300, deadline=None)
    def test_batch_equals_per_text(self, texts):
        from uk_ner_presidio_demo_spark.semantics.detect import (
            detect_mentions_batch,
        )

        batch = detect_mentions_batch(texts)
        for t, got in zip(texts, batch):
            assert got == detect_mentions(t)

    @given(st.lists(st.text(alphabet="013+8<@.:/- UAwwwhttp", min_size=0,
                            max_size=30), min_size=1, max_size=6))
    @settings(max_examples=300, deadline=None)
    def test_batch_equals_per_text_adversarial_alphabet(self, texts):
        """Dense in anchor literals and the separator char itself."""
        from uk_ner_presidio_demo_spark.semantics.detect import (
            detect_mentions_batch,
        )

        batch = detect_mentions_batch(texts)
        for t, got in zip(texts, batch):
            assert got == detect_mentions(t)

    @given(st.lists(_patternish, min_size=1, max_size=5),
           st.sampled_from(["score", "priority"]))
    @settings(max_examples=100, deadline=None)
    def test_batch_respects_strategy(self, texts, strategy):
        from uk_ner_presidio_demo_spark.semantics.detect import (
            detect_mentions_batch,
        )

        batch = detect_mentions_batch(texts, strategy=strategy)
        for t, got in zip(texts, batch):
            assert got == detect_mentions(t, strategy=strategy)


def test_batch_family_isolation_u2(monkeypatch):
    """U-2 in the batch path: a poisoned family falls back per-text and
    flags ONLY itself; the other family's spans survive."""
    from uk_ner_presidio_demo_spark.semantics import detect as dmod

    def boom(*a, **k):
        raise RuntimeError("poisoned")

    monkeypatch.setattr(dmod, "find_ner_spans_batch", boom)
    monkeypatch.setattr(dmod, "find_ner_spans", boom)
    out = dmod.detect_mentions_batch(["Київ, тел +380501234567"])
    mentions, errors = out[0]
    assert errors == 1  # bit 0: NER family failed
    types = {m.entity_type for m in mentions}
    assert "PHONE_NUMBER" in types and "LOC" not in types


class TestVectorizedTwins:
    """The numpy batch kernels (minhash affine-min, doc minhash, simhash)
    must stay bit-identical to the frozen scalar semantics."""

    @given(st.lists(st.text(max_size=60), min_size=0, max_size=10))
    @settings(max_examples=200, deadline=None)
    def test_minhash_signatures_batch(self, surfaces):
        import zlib

        from uk_ner_presidio_demo_spark.semantics.minhash import (
            minhash_signatures_batch, shingles,
        )

        hash_lists = [
            [zlib.crc32(g.encode("utf-8")) for g in shingles(s)]
            for s in surfaces
        ]
        assert minhash_signatures_batch(hash_lists) == [
            minhash_signature(s) for s in surfaces
        ]

    @given(st.lists(st.text(max_size=100), min_size=0, max_size=8))
    @settings(max_examples=200, deadline=None)
    def test_docsim_batch_twins(self, texts):
        from uk_ner_presidio_demo_spark.semantics.docsim import (
            doc_minhash, doc_minhash_batch, simhash64, simhash64_batch,
        )

        assert doc_minhash_batch(texts) == [doc_minhash(t) for t in texts]
        assert simhash64_batch(texts) == [simhash64(t) for t in texts]

    @given(st.lists(st.text(max_size=80), min_size=1, max_size=12))
    @settings(max_examples=200, deadline=None)
    def test_jaccard_batch_twin(self, texts):
        """The cached verify kernel (operators/dedup._jaccard_batch, r8
        shingle LRU) must equal the scalar doc_jaccard on every pair —
        including repeated/empty texts that exercise the cache."""
        import pandas as pd

        from uk_ner_presidio_demo_spark.operators.dedup import (
            _jaccard_batch,
        )
        from uk_ner_presidio_demo_spark.semantics.docsim import doc_jaccard

        a = [texts[i % len(texts)] for i in range(2 * len(texts))]
        b = [texts[(i * 7 + 3) % len(texts)] for i in range(2 * len(texts))]
        got = list(_jaccard_batch(pd.Series(a), pd.Series(b)))
        want = [doc_jaccard(x, y) for x, y in zip(a, b)]
        assert got == want


class TestChunkerInvariants:
    """Content-defined chunker (semantics/chunking.py): structural
    invariants over arbitrary texts."""

    @given(st.text(alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd", "Zs")), max_size=2000))
    @settings(max_examples=200, deadline=None)
    def test_chunks_cover_contiguously_within_bounds(self, text):
        from uk_ner_presidio_demo_spark.semantics.chunking import (
            MAX_CHUNK, token_chunks,
        )

        toks = text.lower().split()
        chunks = token_chunks(text)
        if not toks:
            assert chunks == []
            return
        assert chunks[0][0] == 0 and chunks[-1][1] == len(toks)
        for (s1, e1, _), (s2, e2, _) in zip(chunks, chunks[1:]):
            assert s2 == e1
        for s, e, h in chunks:
            assert 0 < e - s <= MAX_CHUNK
            assert len(h) == 32  # md5 hex

    @given(st.text(max_size=500))
    @settings(max_examples=100, deadline=None)
    def test_chunk_hash_is_span_content_only(self, text):
        """Equal token spans => equal hashes regardless of position: the
        whole doc re-chunked after a fixed long prefix must reproduce any
        chunk whose token span survived intact."""
        from uk_ner_presidio_demo_spark.semantics.chunking import (
            token_chunks,
        )

        import hashlib
        toks = text.lower().split()
        for s, e, h in token_chunks(text):
            want = hashlib.md5(
                " ".join(toks[s:e]).encode("utf-8")
            ).hexdigest()
            assert h == want


def _triples_all_pairs(conv_id, turns, mentions, window):
    """Brute-force restatement of the semantics/triples.py docstring
    rules: every turn scans EVERY indexed mention of the conversation (the
    all-pairs form the window-indexed kernel replaced)."""
    from uk_ner_presidio_demo_spark.semantics import triples as tr

    out = set()
    subj_conv = tr.conv_ref(conv_id)
    flat = [(t, m) for t in sorted(t for t, _ in turns)
            for m in mentions.get(t, [])]
    for t, tool in sorted(turns):
        ms = mentions.get(t, [])
        for m in ms:
            if m.entity_type == "PERS":
                out.add((t, subj_conv, tr.PRED_MENTIONS_PERSON,
                         tr.entity_ref("PERS", m.norm_surface)))
        if tool is not None and tool != "":
            out.add((t, subj_conv, tr.PRED_USES_TOOL, tr.tool_ref(tool)))
        for m in ms:
            if m.entity_type not in tr.CHANNEL_TYPES:
                continue
            best = best_key = None
            for pt, pm in flat:
                if pm.entity_type not in tr.PARTY_TYPES:
                    continue
                dt = abs(pt - t)
                if dt > window:
                    continue
                key = (0 if pt == t else 1, dt, pt, pm.start)
                if best_key is None or key < best_key:
                    best_key = key
                    best = (pm.entity_type, pm.norm_surface)
            if best is not None:
                out.add((t, tr.entity_ref(*best), tr.PRED_CONTACTS_VIA,
                         tr.entity_ref(m.entity_type, m.norm_surface)))
        if any(m.entity_type in tr.PII_TYPES for m in ms):
            persons = {m.norm_surface for m in ms if m.entity_type == "PERS"}
            parties = {(pm.entity_type, pm.norm_surface) for pt, pm in flat
                       if pm.entity_type in tr.PARTY_TYPES
                       and abs(pt - t) <= window}
            for p in persons:
                for qt, qn in parties:
                    if not (qt == "PERS" and qn == p):
                        out.add((t, tr.entity_ref("PERS", p),
                                 tr.PRED_SHARES_PII_WITH,
                                 tr.entity_ref(qt, qn)))
    return sorted(out)


_turn_idx = st.integers(-3, 20)
_tool = st.one_of(st.none(), st.just(""), st.just(float("nan")),
                  st.sampled_from(["search", "mail"]))
_mention = st.tuples(
    st.sampled_from(["PERS", "ORG", "EMAIL_ADDRESS", "PHONE_NUMBER", "URL",
                     "CREDIT_CARD", "DOC", "LOC"]),
    st.integers(0, 3),               # narrow range: tied starts in a turn
    st.sampled_from(["a", "b", "c"]),
)


@st.composite
def _conversation(draw):
    from uk_ner_presidio_demo_spark.semantics.detect import Mention

    # unique but unsorted and gapped turn indices
    tids = draw(st.lists(_turn_idx, unique=True, max_size=10))
    turns = [(t, draw(_tool)) for t in tids]
    # mentions may sit on turns that `turns` does not list
    keyed = set(tids) | set(draw(st.lists(_turn_idx, max_size=3)))
    mentions = {
        t: [Mention(i, et, s, s + 1, 0.0, n, n)
            for i, (et, s, n) in enumerate(draw(st.lists(_mention,
                                                         max_size=6)))]
        for t in keyed
    }
    return turns, mentions


class TestTriplesWindowEquivalence:
    """emit_triples_for_conv reads only each turn's window; it MUST stay
    output-identical to the all-pairs scan.  The oracle and the engine
    share the kernel, so the goldens cannot catch a wrong rewrite — this
    is the tripwire."""

    @given(_conversation(), st.integers(0, 3))
    @settings(max_examples=500, deadline=None)
    def test_window_kernel_equals_all_pairs(self, conv, window):
        from uk_ner_presidio_demo_spark.semantics.triples import (
            emit_triples_for_conv,
        )

        turns, mentions = conv
        assert emit_triples_for_conv("c", turns, mentions, window) == \
            _triples_all_pairs("c", turns, mentions, window)

    def test_tied_start_keeps_first_in_mention_order(self):
        from uk_ner_presidio_demo_spark.semantics.detect import Mention
        from uk_ner_presidio_demo_spark.semantics.triples import (
            emit_triples_for_conv,
        )

        mentions = {
            4: [Mention(0, "ORG", 7, 9, 0.0, "x", "zeta"),
                Mention(1, "PERS", 7, 9, 0.0, "y", "alpha")],
            5: [Mention(0, "URL", 0, 3, 0.0, "u", "u")],
        }
        got = emit_triples_for_conv("c", [(5, None), (4, None)], mentions, 2)
        assert (5, "ORG:zeta", "contacts_via", "URL:u") in got
        assert got == _triples_all_pairs("c", [(5, None), (4, None)],
                                         mentions, 2)


@st.composite
def _turn_rows(draw):
    """One conversation as transcript rows (turn_idx, tool), where a turn
    may be listed twice with any two tools (a null beside a string
    included), and its mentions, which sit only on listed turns
    (emit_triples' precondition); a listed turn may have a tool and no
    mentions."""
    from uk_ner_presidio_demo_spark.semantics.detect import Mention

    twice = st.lists(_tool, min_size=2, max_size=2)
    listed = draw(st.lists(_turn_idx, unique=True, max_size=8))
    turns = [(t, tool) for t in listed
             for tool in draw(st.one_of(_tool.map(lambda x: [x]), twice))]
    mentioned = draw(st.lists(st.sampled_from(listed), unique=True)) \
        if listed else []
    mentions = {
        t: [Mention(i, et, s, s + 1, 0.0, n, n)
            for i, (et, s, n) in enumerate(draw(st.lists(
                _mention, min_size=1, max_size=6)))]
        for t in mentioned
    }
    return turns, mentions


class TestTriplesMentionsOnly:
    """emit_triples splits the rule kernel: uses_tool is a Catalyst filter
    + projection over transcript rows, the other predicates run in
    `window_triples` over mention rows alone.  Per conversation their
    union MUST equal emit_triples_for_conv over the turn rows (with a NaN
    tool read as null, as pandas carries a null string)."""

    @given(st.lists(_turn_rows(), min_size=1, max_size=3))
    @settings(max_examples=300, deadline=None)
    def test_window_triples_plus_uses_tool_equals_kernel(self, convs):
        import pandas as pd

        from uk_ner_presidio_demo_spark.operators.triples import (
            MENTION_COLS, window_triples,
        )
        from uk_ner_presidio_demo_spark.semantics import triples as tr

        rows = [(f"c{k}", t, m.mention_idx, m.entity_type, m.start,
                 m.norm_surface)
                for k, (_, mentions) in enumerate(convs)
                for t, ms in mentions.items() for m in ms]
        got = window_triples(pd.DataFrame(rows, columns=list(MENTION_COLS)))
        for k, (turns, mentions) in enumerate(convs):
            cid = f"c{k}"
            sub = got[got["conv_id"] == cid]
            union = set(zip(sub["turn_idx"], sub["subj"], sub["pred"],
                            sub["obj"]))
            # uses_tool: tool IS NOT NULL AND tool != '', then distinct
            union |= {(t, tr.conv_ref(cid), tr.PRED_USES_TOOL,
                       tr.tool_ref(tool))
                      for t, tool in turns
                      if isinstance(tool, str) and tool != ""}
            turn_rows = [(t, tool if isinstance(tool, str) else None)
                         for t, tool in turns]
            assert sorted(union) == tr.emit_triples_for_conv(
                cid, turn_rows, mentions, tr.WINDOW_W)
