"""Triple emission (stage 5) — turn-window relation heuristic [north-rule].

Cogrouped `applyInPandas` over `groupBy(conv_id)` (SURVEY.md §2.9): the turn
metadata (all turns, including invalid ones — they carry tool info) and the
resolved mentions are cogrouped per conversation, and the shared pure-Python
rule kernel `semantics.triples.emit_triples_for_conv` emits the
(turn_idx, subj, pred, obj) set.  The turn-window co-occurrence (J-4) is thus
a window-not-join formulation: one shuffle by conv_id on each input, no
range self-join, no driver collect.

Skew note: the hot conversation (conv skew) lands on one task, but the
kernel reads only each turn's +-W window through a per-conv turn index —
O(turns * mentions-in-window) per conv, linear in conversation length —
and never materializes cross-conv state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics.detect import Mention
from ..semantics.triples import WINDOW_W, emit_triples_for_conv

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)

# The mentions columns emit_triples reads; only these cross the cogroup
# shuffle (r8, guide-§2.3 project-before-exchange): the turn key,
# entity_type/norm_surface (refs), start (contacts_via tie-break), and
# mention_idx (deterministic per-turn ordering).  end/score/surface are
# never consumed by emit_triples_for_conv — surface strings were the
# fattest shuffled column.
MENTION_COLS = ("conv_id", "turn_idx", "mention_idx", "entity_type", "start",
                "norm_surface")

# ~64 KB of transcript parquet per cogroup key ≈ 1.4k turns/bucket at
# this corpus's bytes/turn — the measured flat spot at BOTH sf0.1 and
# sf1 (SCALE.md §7d): small enough frames to stay cache-friendly, few
# enough keys that the ~1 ms/key crossing cost stays amortized.
BUCKET_TARGET_BYTES = 64 * 1024
# floor of the cogroup key space for inputs without scan-size metadata
BUCKETS_PER_CORE = 2


def emit_triples(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """transcripts: full turn rows; mentions: output of mentions_from_turns.

    The cogroup key is a HASH BUCKET of conv_id, not conv_id itself: Spark
    pays a fixed pandas-frame cost per cogroup key (~1 ms), which at one
    key per conversation dominated the stage (4000 convs ≈ 4 s at sf0.1).
    The kernel iterates its bucket's conversations with an in-pandas
    groupby — per-conv semantics identical, ~60x fewer group crossings,
    still one shuffle by the bucket key.  Skew is unchanged: a hot conv
    bounds a task either way.

    The bucket count scales with the INPUT, not just the core count
    (VERDICT r5 #5 — the fixed 2/core key space under-partitioned sf1:
    10x rows made each bucket's pandas frame 10x fatter, measured 14.8 s
    vs 9.5 s at a scaled key space on the same input).  Keys come from
    scan bytes at ~BUCKET_TARGET_BYTES per key (metadata only; at sf0.1
    this reproduces the old 64, at sf1 it yields ~640) with the 2/core
    floor for non-file inputs — group KEYS are not shuffle partitions,
    so more keys only bound the per-frame size, they don't fragment
    tasks."""
    from .partitioning import scan_bytes

    spark = transcripts.sparkSession
    est = scan_bytes(transcripts) or 0
    n_buckets = max(8, spark.sparkContext.defaultParallelism
                    * BUCKETS_PER_CORE,
                    est // BUCKET_TARGET_BYTES)
    bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

    def kernel(key: tuple, turns_pdf: pd.DataFrame,
               mentions_pdf: pd.DataFrame) -> pd.DataFrame:
        rows: list[tuple] = []
        ment_by_conv = (
            {cid: sub for cid, sub in mentions_pdf.groupby("conv_id")}
            if len(mentions_pdf) else {}
        )
        for conv_id, tsub in turns_pdf.groupby("conv_id"):
            turns = [
                (int(t), None if (tool is None or tool != tool) else tool)
                for t, tool in zip(tsub["turn_idx"], tsub["tool"])
            ]
            by_turn: dict[int, list[Mention]] = {}
            msub = ment_by_conv.get(conv_id)
            if msub is not None:
                # column-wise zip instead of itertuples (r8: ~15% less
                # kernel wall, output-identical — A/B in the round log)
                msub = msub.sort_values(["turn_idx", "mention_idx"])
                for ti, mi, et, st, ns in zip(
                    msub["turn_idx"].to_numpy(),
                    msub["mention_idx"].to_numpy(),
                    msub["entity_type"].to_numpy(),
                    msub["start"].to_numpy(),
                    msub["norm_surface"].to_numpy(),
                ):
                    by_turn.setdefault(int(ti), []).append(
                        # end/score/surface are placeholders: the rule
                        # kernel never reads them (see MENTION_COLS)
                        Mention(int(mi), et, int(st), 0, 0.0, "", ns)
                    )
            out = emit_triples_for_conv(conv_id, turns, by_turn, WINDOW_W)
            rows.extend((conv_id, t, s, p, o) for (t, s, p, o) in out)
        return pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "subj", "pred", "obj"],
        )

    turns_meta = transcripts.select("conv_id", "turn_idx", "tool",
                                    bucket.alias("bucket"))
    m = mentions.select(*MENTION_COLS, bucket.alias("bucket"))
    return (
        turns_meta.groupBy("bucket")
        .cogroup(m.groupBy("bucket"))
        .applyInPandas(kernel, schema=TRIPLES_SCHEMA)
    )


def triple_counts(triples: DataFrame) -> DataFrame:
    return triples.groupBy("pred").agg(F.count("*").alias("n_triples"))
