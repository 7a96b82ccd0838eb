"""Content-defined chunking + partial-overlap dedup: Spark kernel vs the
shared chunker applied per-doc in plain Python, boundary-resync property,
and planted long-shared-span detection that whole-doc dedup misses."""

import pandas as pd

from uk_ner_presidio_demo_spark.operators.chunking import (
    doc_chunks, partial_overlap_pairs,
)
from uk_ner_presidio_demo_spark.semantics.chunking import (
    MAX_CHUNK, token_chunks,
)
from uk_ner_presidio_demo_spark.sources.tables import read_tpch

# a ~150-token shared span (deterministic word salad, no randomness)
_SHARED = " ".join(f"спільний{i % 37} фрагмент{i % 23}" for i in range(75))
_PREFIX = " ".join(f"шапка{i}" for i in range(60))
_SUFFIX = " ".join(f"хвіст{i}" for i in range(60))


def test_kernel_matches_python_twin_on_corpus(spark, sf01):
    docs = read_tpch(spark, sf01, "documents")
    got = doc_chunks(docs).toPandas()
    texts = pd.read_parquet(f"{sf01}/documents.parquet")[["doc_id", "text"]]
    want_rows = []
    for r in texts.itertuples(index=False):
        for idx, (s, e, h) in enumerate(token_chunks(r.text)):
            want_rows.append((r.doc_id, idx, s, e, h))
    want = pd.DataFrame(
        want_rows,
        columns=["doc_id", "chunk_idx", "start_tok", "end_tok",
                 "chunk_hash"],
    )
    key = ["doc_id", "chunk_idx"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_s.astype(want_s.dtypes.to_dict()), want_s
    )


def test_chunks_cover_and_respect_max(spark):
    chunks = token_chunks(_PREFIX + " " + _SHARED)
    assert chunks[0][0] == 0
    for (s1, e1, _), (s2, e2, _) in zip(chunks, chunks[1:]):
        assert s2 == e1          # contiguous cover, no gaps
        assert e1 - s1 <= MAX_CHUNK
    assert chunks[-1][1] == len((_PREFIX + " " + _SHARED).split())


def test_boundaries_resync_after_different_prefixes():
    """The content-defined property: the same long span embedded after
    DIFFERENT prefixes must produce mostly identical chunk hashes."""
    a = {h for _, _, h in token_chunks(_PREFIX + " " + _SHARED)}
    b = {h for _, _, h in token_chunks(_SUFFIX + " " + _SHARED)}
    assert len(a & b) >= 2       # shared-span chunks resynchronized


def test_partial_overlap_detected_where_minhash_misses(spark):
    """A=prefix+shared, B=shared+suffix: low whole-doc Jaccard (different
    halves) but >=2 shared chunks -> partial-overlap pair found; the
    unrelated doc pairs with nothing."""
    from uk_ner_presidio_demo_spark.semantics.docsim import doc_jaccard

    doc_a = _PREFIX + " " + _SHARED
    doc_b = _SHARED + " " + _SUFFIX
    doc_c = " ".join(f"інше{i}" for i in range(120))
    assert doc_jaccard(doc_a, doc_b) < 0.8   # whole-doc dedup would skip
    docs = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["shared_chunks"]
             for r in partial_overlap_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_ubiquitous_chunks_are_dropped(spark):
    """max_chunk_df: a chunk present in every doc must not explode the
    join — with the cap at 2, a 4-doc-ubiquitous block yields no pairs."""
    block = " ".join(f"шаблон{i % 53} слово{i % 31}" for i in range(60))
    docs = spark.createDataFrame(
        [(i, block + " " + " ".join(f"унік{i}_{j}" for j in range(40)))
         for i in range(4)],
        "doc_id long, text string",
    )
    none = partial_overlap_pairs(docs, max_chunk_df=2).collect()
    assert none == []
    some = partial_overlap_pairs(docs, max_chunk_df=10).collect()
    assert some  # with the cap lifted the template block pairs everything


def test_chunk_df_cap_metrics_surface_truncation(spark):
    """VERDICT r3 #7: the ubiquity cap derives from corpus fraction and
    dropped chunks are surfaced as lineage metric rows — planting one
    over-cap boilerplate chunk shows up as n_chunks_dropped >= 1."""
    from uk_ner_presidio_demo_spark.operators.chunking import (
        partial_overlap_with_metrics,
    )

    block = " ".join(f"шаблон{i % 53} слово{i % 31}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, block + " " + " ".join(f"унік{i}_{j}" for j in range(40)))
         for i in range(4)],
        "doc_id long, text string",
    )
    _, metrics = partial_overlap_with_metrics(docs, max_chunk_df=2)
    m = {r["metric"]: r["value"] for r in metrics.collect()}
    assert m["n_docs"] == 4 and m["chunk_df_cap"] == 2
    assert m["n_chunks_dropped"] >= 1
    assert m["n_chunks_distinct"] > m["n_chunks_dropped"]
    # fraction-derived default: cap = max(floor, frac * n_docs)
    _, m2 = partial_overlap_with_metrics(docs)
    got = {r["metric"]: r["value"] for r in m2.collect()}
    assert got["chunk_df_cap"] == 20 and got["n_chunks_dropped"] == 0


def test_lcs_span_dp_is_exact():
    from uk_ner_presidio_demo_spark.semantics.chunking import (
        longest_common_token_span,
    )

    assert longest_common_token_span("а б в г д", "х б в г у") == 3
    assert longest_common_token_span("а б", "в г") == 0
    assert longest_common_token_span("", "а") == 0
    assert longest_common_token_span("А б В", "а Б в") == 3  # case-folded


class TestLcsEquivalence:
    """The linear suffix-automaton verify must equal the quadratic DP
    oracle on every input — this is what lets the Spark kernel switch
    to O(n+m) without a golden bump (semantics/chunking.py)."""

    def test_hypothesis_equality(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from uk_ner_presidio_demo_spark.semantics.chunking import (
            longest_common_token_run, longest_common_token_span,
        )

        token = st.sampled_from(["а", "б", "в", "г", "слово", "Б"])
        doc = st.lists(token, min_size=0, max_size=40).map(" ".join)

        @settings(max_examples=300, deadline=None)
        @given(doc, doc)
        def check(a, b):
            assert longest_common_token_run(a, b) == \
                longest_common_token_span(a, b)

        check()

    def test_planted_span_and_reuse(self):
        from uk_ner_presidio_demo_spark.semantics.chunking import (
            TokenSuffixAutomaton, longest_common_token_run,
            longest_common_token_span,
        )

        a = _PREFIX + " " + _SHARED
        b = _SHARED + " " + _SUFFIX
        want = longest_common_token_span(a, b)
        assert want == len(_SHARED.split())
        assert longest_common_token_run(a, b) == want
        sam = TokenSuffixAutomaton(a.lower().split())
        assert longest_common_token_run(a, b, sam=sam) == want
        assert longest_common_token_run(a, a, sam=sam) == len(a.split())

    def test_max_length_docs_verify_fast(self):
        """VERDICT r3 #2 perf property: two max-length (100k-char) docs
        verify in well under a second (the DP took minutes)."""
        import time

        from uk_ner_presidio_demo_spark.semantics.chunking import (
            longest_common_token_run,
        )

        shared = " ".join(f"сп{i % 97}х{i % 41}" for i in range(2600))
        a = " ".join(f"а{i}" for i in range(14000)) + " " + shared
        b = shared + " " + " ".join(f"б{i}" for i in range(14000))
        a, b = a[-100_000:], b[:100_000]   # trims keep the shared span
        assert len(a) == 100_000 and len(b) == 100_000
        t0 = time.monotonic()
        got = longest_common_token_run(a, b)
        wall = time.monotonic() - t0
        assert got >= 2590          # the planted span survives the trims
        assert wall < 1.0, f"verify took {wall:.2f}s"


def test_verified_partial_overlap_confirms_span(spark):
    """The verify stage keeps the planted prefix+shared/shared+suffix pair
    (150-token common span) and reports a span >= the threshold; raising
    the threshold above the span kills it."""
    from uk_ner_presidio_demo_spark.operators.chunking import (
        verified_partial_overlaps,
    )

    docs = spark.createDataFrame(
        [(1, _PREFIX + " " + _SHARED), (2, _SHARED + " " + _SUFFIX),
         (3, " ".join(f"інше{i}" for i in range(120)))],
        "doc_id long, text string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["common_span_tokens"]
           for r in verified_partial_overlaps(docs).collect()}
    assert (1, 2) in got and got[(1, 2)] >= 150
    assert not verified_partial_overlaps(
        docs, min_span_tokens=got[(1, 2)] + 1).collect()


def test_metrics_n_docs_counts_empty_docs(spark):
    """ADVICE r4: the fraction-derived ubiquity cap must use the INPUT
    doc count (the oracle's len(texts)), not docs-with-chunks — a corpus
    containing empty/whitespace-only documents previously produced a
    different denominator engine-vs-oracle."""
    from uk_ner_presidio_demo_spark.operators.chunking import (
        partial_overlap_with_metrics,
    )

    docs = spark.createDataFrame(
        [(0, "слово " * 50), (1, ""), (2, "   "), (3, "інше " * 50)],
        "doc_id long, text string",
    )
    _, metrics = partial_overlap_with_metrics(docs)
    m = {r["metric"]: r["value"] for r in metrics.collect()}
    assert m["n_docs"] == 4  # not 2 (only docs 0 and 3 emit chunks)


class TestMatchingStatsEquivalence:
    """SAM matching statistics (the exact-excision boundary engine) must
    equal the quadratic DP twin on every input — the same
    two-algorithms-one-contract guarantee as TestLcsEquivalence."""

    def test_hypothesis_equality(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from uk_ner_presidio_demo_spark.semantics.chunking import (
            TokenSuffixAutomaton, matching_statistics_dp,
        )

        token = st.sampled_from(["а", "б", "в", "г", "слово", "Б"])
        toks = st.lists(token, min_size=0, max_size=40)

        @settings(max_examples=300, deadline=None)
        @given(toks, toks)
        def check(doc, query):
            if doc:
                sam = TokenSuffixAutomaton(doc)
                assert sam.matching_statistics(query) == \
                    matching_statistics_dp(doc, query)

        check()

    def test_maximal_runs_are_maximal(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from uk_ner_presidio_demo_spark.semantics.chunking import (
            matching_statistics_dp, maximal_duplicated_runs,
        )

        token = st.sampled_from(["а", "б", "в"])
        toks = st.lists(token, min_size=1, max_size=30)

        def is_factor(needle, hay):
            n = len(needle)
            return any(hay[i:i + n] == needle
                       for i in range(len(hay) - n + 1))

        @settings(max_examples=200, deadline=None)
        @given(toks, toks, st.integers(min_value=1, max_value=5))
        def check(doc, query, t):
            ms = matching_statistics_dp(doc, query)
            for s, e in maximal_duplicated_runs(ms, t):
                assert e - s >= t
                assert is_factor(query[s:e], doc)
                # maximality: extending either side breaks factor-ness
                # (or runs off the query)
                if s > 0:
                    assert not is_factor(query[s - 1:e], doc)
                if e < len(query):
                    assert not is_factor(query[s:e + 1], doc)

        check()


class TestExactSpanExcision:
    """excise_duplicate_spans (r5): token-exact boundaries per Lee et
    al., vs a planted span and the DP golden."""

    def test_planted_span_is_cut_token_exactly(self, spark):
        """Doc 2 embeds a 60-token span of doc 1 at NON-chunk-aligned
        offsets: the exact operator cuts exactly those 60 tokens (a
        chunk-rounded cut would miss the partial head/tail chunks)."""
        from uk_ner_presidio_demo_spark.operators.chunking import (
            excise_duplicate_spans,
        )

        rng_tokens = [f"own{i}x{i % 7}" for i in range(200)]
        span = rng_tokens[37:97]           # 60 tokens, arbitrary offsets
        prefix = [f"пре{i}" for i in range(25)]
        suffix = [f"суф{i}" for i in range(25)]
        docs = spark.createDataFrame(
            [(1, " ".join(rng_tokens)),
             (2, " ".join(prefix + span + suffix))],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r
               for r in excise_duplicate_spans(docs).collect()}
        assert got[1]["n_excised_tokens"] == 0   # owner keeps everything
        assert got[2]["n_excised_tokens"] == 60  # exactly the span
        assert got[2]["clean_text"] == " ".join(prefix + suffix)

    def test_matches_dp_golden_on_corpus(self, spark, sf01):
        from uk_ner_presidio_demo_spark.operators.chunking import (
            excise_duplicate_spans,
        )
        from uk_ner_presidio_demo_spark.oracle.docs_golden import (
            ensure_docs_golden,
        )

        dg = ensure_docs_golden(sf01)
        want = pd.read_parquet(f"{dg}/golden_excised_exact.parquet") \
            .set_index("doc_id").sort_index()
        got = excise_duplicate_spans(
            read_tpch(spark, sf01, "documents")
        ).toPandas().set_index("doc_id").sort_index()
        assert len(got) == len(want)
        assert (got["n_tokens"] == want["n_tokens"]).all()
        assert (got["n_excised_tokens"] == want["n_excised_tokens"]).all()
        assert (got["clean_text"] == want["clean_text"]).all()
        assert got["n_excised_tokens"].sum() > 0  # non-vacuous


class TestExciseOwnerCap:
    """EXCISE_MAX_OWNERS bounds the per-doc pair fan-out: a doc whose
    lost chunks have many distinct owners compares only against the
    strongest `max_owners` (most shared lost chunks, ties by owner id)."""

    def _docs(self, spark):
        # owners 1..3 each contribute a distinct 60-token block; doc 10
        # embeds all three blocks (every chunk lost to a different owner)
        # with block A repeated twice -> owner 1 is the strongest
        blocks = {
            o: " ".join(f"блок{o}т{i}х{i % 7}" for i in range(60))
            for o in (1, 2, 3)
        }
        text10 = " ".join([blocks[1], blocks[2], blocks[3], blocks[1]])
        rows = [(o, blocks[o]) for o in (1, 2, 3)] + [(10, text10)]
        return spark.createDataFrame(rows, "doc_id long, text string"), blocks

    def test_cap_keeps_strongest_owner(self, spark):
        from uk_ner_presidio_demo_spark.operators.chunking import (
            cross_owner_spans,
        )

        docs, blocks = self._docs(spark)
        full = cross_owner_spans(docs).toPandas()
        capped = cross_owner_spans(docs, max_owners=1).toPandas()
        # uncapped: spans vs all three owners; capped: only owner 1's
        # block survives as a cut source (doc 10 loses block-1 spans ONLY)
        n_b1 = len(blocks[1].split())
        assert full[full["doc_id"] == 10]["span_end"].count() >= 3
        got = capped[capped["doc_id"] == 10]
        assert len(got) >= 1
        # every capped span lies inside one of the two block-1 regions
        regions = [(0, n_b1), (3 * n_b1, 4 * n_b1)]
        for _, r in got.iterrows():
            assert any(r["span_start"] >= s and r["span_end"] <= e
                       for s, e in regions), (r["span_start"], r["span_end"])

    def test_capped_subset_of_uncapped(self, spark):
        from uk_ner_presidio_demo_spark.operators.chunking import (
            cross_owner_spans,
        )

        docs, _ = self._docs(spark)
        full = {tuple(r) for r in
                cross_owner_spans(docs).toPandas().itertuples(index=False)}
        capped = {tuple(r) for r in
                  cross_owner_spans(docs, max_owners=2)
                  .toPandas().itertuples(index=False)}
        assert capped <= full


class TestShingleTailPass:
    """Opt-in winnowed-shingle candidate pass (r6, VERDICT r5 #4): the
    recall lever for runs below the CDC resync horizon."""

    @staticmethod
    def _fixture_texts():
        """24-token shared run (below the resync horizon) embedded at
        different offsets in different word-salad contexts — seed chosen
        so the two docs share ZERO chunk hashes (the documented
        chunk-blocking blind spot) while winnowing, by its guarantee,
        still pairs them."""
        import random

        rng = random.Random(0)
        vocab = [f"w{i}" for i in range(500)]
        run = [vocab[rng.randrange(500)] for _ in range(24)]
        a = [vocab[rng.randrange(500)] for _ in range(60)] + run + \
            [vocab[rng.randrange(500)] for _ in range(60)]
        b = [vocab[rng.randrange(500)] for _ in range(37)] + run + \
            [vocab[rng.randrange(500)] for _ in range(80)]
        return " ".join(a), " ".join(b)

    def test_fixture_is_a_chunk_blind_spot(self):
        from uk_ner_presidio_demo_spark.semantics.chunking import (
            shingle_fingerprints,
        )

        a, b = self._fixture_texts()
        ha = {h for _, _, h in token_chunks(a)}
        hb = {h for _, _, h in token_chunks(b)}
        assert not (ha & hb)  # chunk blocking cannot pair these
        assert shingle_fingerprints(a) & shingle_fingerprints(b)

    def test_winnowing_guarantee_property(self):
        """Any shared run of >= SHINGLE_K + SHINGLE_W - 1 (==
        MIN_SPAN_TOKENS) tokens guarantees a shared fingerprint —
        for arbitrary contexts and offsets."""
        import random

        from hypothesis import given, settings, strategies as st

        from uk_ner_presidio_demo_spark.semantics.chunking import (
            MIN_SPAN_TOKENS, SHINGLE_K, SHINGLE_W, shingle_fingerprints,
        )

        assert SHINGLE_K + SHINGLE_W - 1 == MIN_SPAN_TOKENS

        @settings(max_examples=60, deadline=None)
        @given(st.integers(0, 10**9), st.integers(0, 80),
               st.integers(0, 80), st.integers(MIN_SPAN_TOKENS, 48))
        def prop(seed, off_a, off_b, run_len):
            rng = random.Random(seed)
            vocab = [f"t{i}" for i in range(300)]
            run = [vocab[rng.randrange(300)] for _ in range(run_len)]
            a = [vocab[rng.randrange(300)] for _ in range(off_a)] + run \
                + [vocab[rng.randrange(300)] for _ in range(11)]
            b = [vocab[rng.randrange(300)] for _ in range(off_b)] + run \
                + [vocab[rng.randrange(300)] for _ in range(7)]
            assert shingle_fingerprints(" ".join(a)) \
                & shingle_fingerprints(" ".join(b))

        prop()

    def test_flag_recovers_sub_horizon_run_exactly(self, spark):
        """Default mode misses the fixture's 24-token run entirely;
        shingle_tail=True excises it with boundaries equal to the
        DP-twin oracle's maximal runs — and cuts nothing else."""
        from uk_ner_presidio_demo_spark.operators.chunking import (
            excise_duplicate_spans,
        )
        from uk_ner_presidio_demo_spark.semantics.chunking import (
            MIN_SPAN_TOKENS, matching_statistics_dp,
            maximal_duplicated_runs,
        )

        a, b = self._fixture_texts()
        docs = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        off = {r["doc_id"]: r for r in
               excise_duplicate_spans(docs).collect()}
        assert off[1]["n_excised_tokens"] == 0
        assert off[2]["n_excised_tokens"] == 0  # the documented miss
        on = {r["doc_id"]: r for r in
              excise_duplicate_spans(docs, shingle_tail=True).collect()}
        assert on[1]["n_excised_tokens"] == 0  # owner keeps its copy
        ms = matching_statistics_dp(a.lower().split(), b.lower().split())
        runs = maximal_duplicated_runs(ms, MIN_SPAN_TOKENS)
        cut = set()
        for s, e in runs:
            cut.update(range(s, e))
        toks = b.split()
        want_clean = " ".join(t for i, t in enumerate(toks)
                              if i not in cut)
        assert on[2]["n_excised_tokens"] == len(cut) == 24
        assert on[2]["clean_text"] == want_clean

    def test_flag_on_is_a_cut_superset_on_the_corpus(self, spark, sf01):
        """On the real sf0.01 corpus: flag-on cuts at least what flag-off
        cuts, per doc (extra candidates can only add verified runs)."""
        from uk_ner_presidio_demo_spark.operators.chunking import (
            excise_duplicate_spans,
        )

        docs = read_tpch(spark, sf01, "documents")
        off = excise_duplicate_spans(docs).toPandas() \
            .set_index("doc_id").sort_index()
        on = excise_duplicate_spans(docs, shingle_tail=True).toPandas() \
            .set_index("doc_id").sort_index()
        assert (on["n_excised_tokens"] >= off["n_excised_tokens"]).all()
        assert (on["n_tokens"] == off["n_tokens"]).all()
