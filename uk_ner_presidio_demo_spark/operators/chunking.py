"""Partial-overlap (substring-level) dedup — content-defined chunk
fingerprints + equi-join blocking.  Catches documents sharing LONG SPANS
(boilerplate headers, quoted passages, template wrappers) that whole-doc
dedup never pairs: their MinHash similarity is low because the rest of
the text differs.

Scale shape: ONE mapInPandas crossing emits (doc_id, chunk_hash) rows
(~n_tokens / 2^BOUNDARY_BITS per doc), distinct-per-doc, then a
self-equi-join on chunk_hash and a pair-count aggregate — the same
blocked candidate pattern as the MinHash band join; never all-pairs.
Ubiquitous chunks (true boilerplate present in a large fraction of the
corpus) are dropped by `max_chunk_df` BEFORE the self-join — the hash
equivalent of a stop-word list — bounding join fan-out at web scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..semantics.chunking import (
    EXCISE_MAX_OWNERS,
    MAX_CHUNK_DF_FRAC,
    MIN_CHUNK_DF_CAP,
    MIN_SHARED_CHUNKS,
    MIN_SPAN_TOKENS,
    TokenSuffixAutomaton,
    longest_common_token_run,
    maximal_duplicated_runs,
    shingle_fingerprints,
    token_chunks,
)
from .partitioning import fanout

CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("start_tok", T.IntegerType()),
        T.StructField("end_tok", T.IntegerType()),
        T.StructField("chunk_hash", T.StringType()),
    ]
)


def doc_chunks(docs: DataFrame) -> DataFrame:
    """Content-defined chunk table: (doc_id, chunk_idx, start_tok,
    end_tok, chunk_hash)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for idx, (s, e, h) in enumerate(token_chunks(text)):
                    rows.append((int(doc_id), idx, s, e, h))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "chunk_idx", "start_tok", "end_tok",
                         "chunk_hash"],
            )

    # fanout: a single-file corpus is one scan split — without the
    # spread this kernel (which feeds both chunk-dedup driver rows)
    # runs on one core, the exact r5 doc_simhash_dups fragility class;
    # per-doc output is partitioning-independent, so results are
    # unchanged
    return fanout(docs.select("doc_id", "text")).mapInPandas(
        kernel, CHUNKS_SCHEMA
    )


# Ubiquity cap as a CORPUS FRACTION (VERDICT r3 #7): a chunk in more
# than MAX_CHUNK_DF_FRAC of documents is boilerplate by definition at
# any corpus size; the absolute cap derives from n_docs instead of a
# magic constant that silently changes meaning between sf0.01 and 100 TB.
# Constants live in semantics/chunking.py (shared with the oracle).


def _resolve_chunk_cap(n_docs: int, max_chunk_df: int | None,
                       max_chunk_df_frac: float) -> int:
    if max_chunk_df is not None:
        return max_chunk_df
    return max(MIN_CHUNK_DF_CAP, int(n_docs * max_chunk_df_frac))


def partial_overlap_with_metrics(
    docs: DataFrame, min_shared: int = MIN_SHARED_CHUNKS,
    max_chunk_df: int | None = None,
    max_chunk_df_frac: float = MAX_CHUNK_DF_FRAC,
    _with_metrics: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, metrics): pairs is (doc_a, doc_b, shared_chunks) for pairs
    sharing >= min_shared distinct RARE chunk fingerprints; metrics is a
    (metric, value) lineage table making the ubiquity truncation visible
    — n_docs, chunk_df_cap, n_chunks_distinct, n_chunks_dropped — so a
    boilerplate-heavy shard can't silently lose recall (no silent
    truncation, VERDICT r3 #7).

    min_shared=2 suppresses single-chunk coincidences; the ubiquity cap
    defaults to floor(max_chunk_df_frac * n_docs) (floored at
    MIN_CHUNK_DF_CAP) and drops corpus-ubiquitous chunks BEFORE the
    self-join, bounding fan-out at web scale."""
    ch = (
        doc_chunks(docs).select("doc_id", "chunk_hash").distinct()
        .localCheckpoint(eager=True)  # kernel once; every branch reuses
    )
    df_counts = ch.groupBy("chunk_hash").count()
    if _with_metrics:
        # two consumers (rare + the metrics agg) -> cut once; the
        # pairs-only path has a single consumer and skips the blocking
        # materialization job (r8)
        df_counts = df_counts.localCheckpoint(eager=True)
    # n_docs counts the INPUT frame, not docs-with-chunks (ADVICE r4):
    # the oracle derives the fraction cap from len(texts), so a corpus
    # with empty/whitespace-only documents must use the same denominator
    # or the caps silently diverge engine-vs-oracle.
    n_docs = docs.select("doc_id").distinct().count()
    cap = _resolve_chunk_cap(n_docs, max_chunk_df, max_chunk_df_frac)
    rare = df_counts.filter(F.col("count") <= cap).select("chunk_hash")
    metrics = df_counts.agg(
        F.count("*").alias("n_chunks_distinct"),
        F.sum((F.col("count") > cap).cast("long")).alias("n_chunks_dropped"),
    ).select(
        F.explode(
            F.create_map(
                F.lit("n_docs"), F.lit(n_docs).cast("long"),
                F.lit("chunk_df_cap"), F.lit(cap).cast("long"),
                F.lit("n_chunks_distinct"),
                F.col("n_chunks_distinct").cast("long"),
                F.lit("n_chunks_dropped"),
                F.coalesce(F.col("n_chunks_dropped"), F.lit(0)).cast("long"),
            )
        ).alias("metric", "value")
    )
    ch = ch.join(rare, "chunk_hash", "left_semi")
    a, b = ch.alias("a"), ch.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_hash") == F.col("b.chunk_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").alias("shared_chunks"))
        .filter(F.col("shared_chunks") >= min_shared)
    )
    return pairs, metrics


def partial_overlap_pairs(docs: DataFrame, min_shared: int = MIN_SHARED_CHUNKS,
                          max_chunk_df: int | None = None,
                          max_chunk_df_frac: float = MAX_CHUNK_DF_FRAC,
                          ) -> DataFrame:
    """Pairs-only view of partial_overlap_with_metrics (same semantics);
    skips the metrics-side materialization the discarded frame would
    pay for (r8)."""
    pairs, _ = partial_overlap_with_metrics(
        docs, min_shared=min_shared, max_chunk_df=max_chunk_df,
        max_chunk_df_frac=max_chunk_df_frac, _with_metrics=False,
    )
    return pairs


EXCISE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("n_excised_tokens", T.IntegerType()),
        T.StructField("clean_text", T.StringType()),
    ]
)


def _apply_cuts(docs: DataFrame, cuts: DataFrame) -> DataFrame:
    """(doc_id, start_tok, end_tok) cut ranges -> EXCISE_SCHEMA rows:
    one shuffle (collect_list per doc), one Arrow rebuild kernel.
    Overlapping ranges union; docs with no cuts pass through."""
    per_doc = cuts.groupBy("doc_id").agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("cut")
    )
    joined = docs.select("doc_id", "text").join(per_doc, "doc_id", "left")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text, cut in zip(
                pdf["doc_id"], pdf["text"], pdf["cut"]
            ):
                toks = text.split()  # same boundaries as the chunker's
                if cut is None or (isinstance(cut, float) and pd.isna(cut)):
                    ranges = []
                else:
                    ranges = [(int(r["start_tok"]), int(r["end_tok"]))
                              for r in cut]
                if not ranges:
                    # the dominant no-cut case skips the drop-set walk
                    # (r8); output identical — zero ranges drop nothing
                    rows.append((int(doc_id), len(toks), 0, " ".join(toks)))
                    continue
                drop = set()
                for s, e in ranges:
                    drop.update(range(s, e))
                kept = [t for i, t in enumerate(toks) if i not in drop]
                rows.append(
                    (int(doc_id), len(toks), len(toks) - len(kept),
                     " ".join(kept))
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "n_tokens", "n_excised_tokens",
                         "clean_text"],
            )

    return joined.mapInPandas(kernel, EXCISE_SCHEMA)


SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("span_start", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
    ]
)


def _ranked_owner_pairs(ch: DataFrame, first: DataFrame) -> DataFrame:
    """(doc_id, owner, n_lost, rk): every cross-doc ownership relation
    ranked per doc (most distinct shared lost chunks first, ties by
    owner id) — the substrate of the capped candidate list (and of
    scripts/excision_recall.py's chunk-pair census)."""
    ranked = (
        ch.join(first, "chunk_hash")
        .filter(F.col("doc_id") != F.col("first.doc_id"))
        .groupBy("doc_id", F.col("first.doc_id").alias("owner"))
        .agg(F.countDistinct("chunk_hash").alias("n_lost"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_lost"), F.asc("owner")
    )
    return ranked.withColumn("rk", F.row_number().over(w))


def cross_owner_spans(docs: DataFrame,
                      min_span_tokens: int = MIN_SPAN_TOKENS,
                      max_owners: int = EXCISE_MAX_OWNERS,
                      _ch: DataFrame | None = None,
                      _first: DataFrame | None = None,
                      extra_pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, span_start, span_end): MAXIMAL duplicated token runs
    >= min_span_tokens that doc shares with an OWNER doc — a doc holding
    the global-first occurrence of a chunk this doc repeats.  Candidate
    (doc, owner) pairs come from chunk-hash ownership (blocking);
    boundaries come from SAM matching statistics over the pair, so they
    are token-EXACT, not chunk-rounded (Lee et al., arXiv:2107.06499: cut
    the duplicated substring itself).  Ownership guarantees owner < doc,
    so the run is always cut from the LATER doc and kept in the earlier
    one.

    Scale shape: ownership is a single min-struct hash agg; the
    pair list is distinct (doc, owner) — one row per sharing relation,
    NOT per chunk — and each doc compares against at most `max_owners`
    owners, strongest first (most shared lost chunks, ties by owner id;
    EXCISE_MAX_OWNERS bounds the pathological every-chunk-different-
    owner corpus at O(max_owners * |doc|) per doc); texts join in with
    the final join keyed on `owner` + sortWithinPartitions so the
    per-owner suffix automaton builds once per task (the
    verified_partial_overlaps LRU pattern).  Recall is bounded by the
    blocking (a run whose every chunk is owned by docs not containing
    the full run can be missed) — the bands->verify trade every blocked
    path here makes."""
    ch = _ch if _ch is not None else doc_chunks(docs) \
        .localCheckpoint(eager=True)
    first = _first if _first is not None else ch.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first")
    )
    cross = _ranked_owner_pairs(ch, first).filter(
        F.col("rk") <= max_owners
    ).select("doc_id", "owner")
    if extra_pairs is not None:
        # tail-pass candidates (doc_id, owner) union in; matching
        # statistics are idempotent per pair, so a pair found by both
        # sources is deduped here and verified once
        cross = cross.unionByName(
            extra_pairs.select("doc_id", "owner")
        ).distinct()
    td = docs.select("doc_id", "text")
    to = docs.select(F.col("doc_id").alias("owner"),
                     F.col("text").alias("owner_text"))
    pairs = (
        cross.join(td, "doc_id").join(to, "owner")
        .sortWithinPartitions("owner")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import OrderedDict

        for pdf in batches:
            sams: "OrderedDict[int, TokenSuffixAutomaton]" = OrderedDict()
            rows = []
            for owner, otext, doc_id, text in zip(
                pdf["owner"], pdf["owner_text"], pdf["doc_id"], pdf["text"]
            ):
                owner = int(owner)
                sam = sams.get(owner)
                if sam is None:
                    sam = TokenSuffixAutomaton(otext.lower().split())
                    sams[owner] = sam
                    if len(sams) > _LCS_SAM_CACHE_MAX:
                        sams.popitem(last=False)
                else:
                    sams.move_to_end(owner)
                ms = sam.matching_statistics(text.lower().split())
                for s, e in maximal_duplicated_runs(ms, min_span_tokens):
                    rows.append((int(doc_id), s, e))
            yield pd.DataFrame(
                rows, columns=["doc_id", "span_start", "span_end"]
            )

    return pairs.mapInPandas(kernel, SPANS_SCHEMA)


def shingle_candidate_pairs(docs: DataFrame,
                            max_owners: int = EXCISE_MAX_OWNERS,
                            max_fp_df_frac: float = MAX_CHUNK_DF_FRAC,
                            ) -> DataFrame:
    """(doc_id, owner) candidate pairs from WINNOWED k-gram fingerprints
    (semantics/chunking.py shingle_fingerprints) — the opt-in tail pass
    for exact-span excision (VERDICT r5 #4).  CDC chunk blocking misses
    runs below the boundary resync horizon (~MIN_CHUNK+WINDOW tokens);
    winnowing guarantees every run >= MIN_SPAN_TOKENS shares a selected
    fingerprint, so candidate recall for verify-eligible runs is 1.0 by
    construction.  The trade is candidate volume (fingerprints are
    denser than chunks) — which is why this is a flag, not the default.

    Same scale discipline as the chunk path: ubiquitous fingerprints are
    fraction-capped before the self-join (the boilerplate stop-list),
    the pair list is one row per sharing relation, and each doc keeps at
    most `max_owners` owners (most shared fingerprints first, ties by
    owner id).  Owner = the earlier doc (min id keeps content), matching
    the excision keep-earliest contract."""
    fp_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for h in shingle_fingerprints(text):
                    rows.append((int(doc_id), h))
            yield pd.DataFrame(rows, columns=["doc_id", "fp"])

    fps = fanout(docs.select("doc_id", "text")) \
        .mapInPandas(kernel, fp_schema).localCheckpoint(eager=True)
    n_docs = docs.select("doc_id").distinct().count()
    # same cap resolution as the chunk path — one definition, never two
    cap = _resolve_chunk_cap(n_docs, None, max_fp_df_frac)
    rare = fps.groupBy("fp").count().filter(F.col("count") <= cap) \
        .select("fp")
    fps = fps.join(rare, "fp", "left_semi")
    a, b = fps.alias("a"), fps.alias("b")
    ranked = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("b.doc_id").alias("doc_id"),
            F.col("a.doc_id").alias("owner"),
        )
        .agg(F.countDistinct("a.fp").alias("n_shared"))
    )
    # owner-cap ranking: MUST mirror _ranked_owner_pairs' tie-break
    # ((count desc, owner asc) — part of the DOCS golden contract); kept
    # inline because the count column here is shingle-grained n_shared,
    # not chunk n_lost, but any change to the ordering rule must land in
    # BOTH places
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("n_shared"), F.asc("owner")
    )
    return ranked.withColumn("rk", F.row_number().over(w)) \
        .filter(F.col("rk") <= max_owners).select("doc_id", "owner")


def excise_duplicate_spans(docs: DataFrame,
                           min_span_tokens: int = MIN_SPAN_TOKENS,
                           shingle_tail: bool = False,
                           ) -> DataFrame:
    """EXACT-boundary span excision (VERDICT r4 #6): every maximal
    duplicated run >= min_span_tokens shared with an owner doc is cut
    token-exactly (cross_owner_spans), PLUS intra-doc repeated chunks
    (same doc owns the first occurrence) cut at chunk granularity — the
    one case matching statistics against another doc can't see.
    This is the Lee et al. shape: excision boundaries land exactly at
    the duplicated substring's edges, including the partial-chunk
    head/tail a chunk-rounded cut misses.

    `shingle_tail=True` (opt-in, VERDICT r5 #4) adds winnowed-k-gram
    candidate pairs (shingle_candidate_pairs) so runs below the CDC
    resync horizon — which chunk-hash blocking can NEVER pair
    (SCALE.md §7e) — still reach the matching-statistics verify; the
    guarantee threshold equals min_span_tokens when called with the
    default, so candidate recall for verify-eligible cross-doc runs is
    1.0.  Costs candidate volume (measured in SCALE.md §7e); a
    corpus-profile decision, hence a flag."""
    if shingle_tail:
        from ..semantics.chunking import SHINGLE_K, SHINGLE_W

        guarantee = SHINGLE_K + SHINGLE_W - 1
        if min_span_tokens < guarantee:
            # the winnowing recall guarantee only covers runs >= K+W-1
            # (ADVICE r6): a smaller min_span_tokens would silently lose
            # the claimed 1.0 candidate recall for runs in
            # [min_span_tokens, K+W-2]
            raise ValueError(
                f"shingle_tail=True guarantees candidate recall only for "
                f"runs >= SHINGLE_K + SHINGLE_W - 1 = {guarantee}; "
                f"min_span_tokens={min_span_tokens} is below that — "
                f"retune SHINGLE_W (w = min_span_tokens - k + 1) or raise "
                f"min_span_tokens"
            )
    ch = doc_chunks(docs).localCheckpoint(eager=True)
    first = ch.groupBy("chunk_hash").agg(
        F.min(F.struct("doc_id", "chunk_idx")).alias("first")
    ).localCheckpoint(eager=True)  # ownership agg once; both consumers
    extra = shingle_candidate_pairs(docs) if shingle_tail else None
    spans = cross_owner_spans(docs, min_span_tokens, _ch=ch,
                              _first=first, extra_pairs=extra).select(
        "doc_id",
        F.col("span_start").alias("start_tok"),
        F.col("span_end").alias("end_tok"),
    )
    intra = ch.join(first, "chunk_hash").filter(
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("chunk_idx") != F.col("first.chunk_idx"))
    ).select("doc_id", "start_tok", "end_tok")
    return _apply_cuts(docs, spans.unionByName(intra))


# Per-batch SAM cache bound (VERDICT r4 #3 / ADVICE r4): candidates
# arrive SORTED by doc_a (sortWithinPartitions in
# verified_partial_overlaps), so a tiny LRU gets one build per distinct
# left doc per batch; the cap bounds worst-case batch memory — a batch
# of distinct 100k-char left docs holds at most this many automatons
# (~10x text size each) instead of all of them (the r3 doc_simhash_dups
# working-set incident class).
_LCS_SAM_CACHE_MAX = 4


@pandas_udf(T.IntegerType())
def _lcs_tokens_udf(doc_a: pd.Series, a: pd.Series, b: pd.Series) -> pd.Series:
    # Linear-time exact verify (VERDICT r3 #1: the quadratic DP was
    # minutes per pair at the 100k-char cap).  The suffix automaton of
    # the left text is memoized across the Arrow batch in an LRU keyed
    # by doc_a id (not the 100k-char text — no per-row string hashing);
    # with doc_a-sorted input the build amortizes to once per left doc
    # per batch.  The DP twin (longest_common_token_span) remains the
    # pytest oracle.
    from collections import OrderedDict

    sams: "OrderedDict[int, TokenSuffixAutomaton]" = OrderedDict()
    out = []
    for da, x, y in zip(doc_a, a, b):
        da = int(da)
        sam = sams.get(da)
        if sam is None:
            sam = TokenSuffixAutomaton(x.lower().split())
            sams[da] = sam
            if len(sams) > _LCS_SAM_CACHE_MAX:
                sams.popitem(last=False)
        else:
            sams.move_to_end(da)
        out.append(longest_common_token_run(x, y, sam=sam))
    return pd.Series(out)


# pure, but nondeterministic-flagged so Catalyst evaluates the DP once
# instead of cloning it into the threshold Filter AND the output Project
# (the _doc_jaccard_udf lesson, operators/dedup.py)
_lcs_tokens_udf = _lcs_tokens_udf.asNondeterministic()


def verified_partial_overlaps(docs: DataFrame,
                              min_span_tokens: int = MIN_SPAN_TOKENS,
                              min_shared: int = MIN_SHARED_CHUNKS,
                              max_chunk_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, shared_chunks, common_span_tokens): chunk-blocked
    candidates confirmed by the EXACT longest-common-token-run kernel —
    blocking finds, verification proves, exactly like bands -> Jaccard.
    The verify is O(|a|+|b|) per pair (suffix automaton, built once per
    left doc per batch), so even max-length (100k-char) candidate pairs
    cost milliseconds, not minutes.

    Join order is deliberate (VERDICT r4 #3): text_b joins FIRST so the
    final shuffle join keys on doc_a, leaving rows hash-partitioned by
    doc_a at zero extra cost; sortWithinPartitions("doc_a") (local sort,
    no shuffle — and a no-op after a doc_a sort-merge join) then makes
    same-left-doc candidates contiguous, so the verify kernel's LRU
    builds each suffix automaton once per task instead of by luck."""
    cand = partial_overlap_pairs(docs, min_shared=min_shared,
                                 max_chunk_df=max_chunk_df)
    ta = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("text").alias("text_b"))
    return (
        cand.join(tb, "doc_b").join(ta, "doc_a")
        .sortWithinPartitions("doc_a")
        .withColumn("common_span_tokens",
                    _lcs_tokens_udf("doc_a", "text_a", "text_b"))
        .filter(F.col("common_span_tokens") >= min_span_tokens)
        .select("doc_a", "doc_b", "shared_chunks",
                F.col("common_span_tokens").cast("long")
                .alias("common_span_tokens"))
    )
