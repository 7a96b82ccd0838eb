"""Triple emission (stage 5) — turn-window relation heuristic [north-rule].

`uses_tool` reads one transcript row and needs no Python: it is a Catalyst
filter + projection over the transcripts.  The other three predicates read
mentions only, so the mentions alone cross into Python: one grouped
`applyInPandas` over a hash bucket of conv_id (SURVEY.md §2.9) runs the
shared pure-Python rule kernel `semantics.triples.emit_triples_for_conv`
per conversation.  The turn-window co-occurrence (J-4) is thus a
window-not-join formulation: one shuffle of the mention rows, no range
self-join, no driver collect.

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
from ..semantics.triples import (
    PRED_USES_TOOL, WINDOW_W, conv_ref, emit_triples_for_conv, tool_ref,
)
from .partitioning import scan_bytes

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.LongType()),
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
    ]
)

# The mentions columns emit_triples reads; only these (and the bucket key)
# cross into Python (guide-§2.3 project-before-exchange): the turn key,
# entity_type/norm_surface (refs), start (contacts_via tie-break), and
# mention_idx (deterministic per-turn ordering).  end/score/surface are
# never consumed by emit_triples_for_conv — surface strings were the
# fattest shuffled column.
MENTION_COLS = ("conv_id", "turn_idx", "mention_idx", "entity_type", "start",
                "norm_surface")

# ~64 KB of transcript parquet per group key ≈ 1.4k turns/bucket at this
# corpus's bytes/turn — the measured flat spot at BOTH sf0.1 and sf1
# (SCALE.md §7d): small enough frames to stay cache-friendly, few enough
# keys that the ~1 ms/key crossing cost stays amortized.
BUCKET_TARGET_BYTES = 64 * 1024
# floor of the group key space for inputs without scan-size metadata
BUCKETS_PER_CORE = 2


def triple_buckets(transcripts: DataFrame) -> int:
    """The triples group-key count: one key per ~BUCKET_TARGET_BYTES of
    transcript scan (metadata only; ~64 at sf0.1, ~640 at sf1), floored at
    BUCKETS_PER_CORE per core and at 8.  Keys are not shuffle partitions:
    more keys only bound each pandas frame (a fixed per-core key space
    made sf1's frames 10x fatter: 14.8 s vs 9.5 s scaled)."""
    cores = transcripts.sparkSession.sparkContext.defaultParallelism
    return max(8, cores * BUCKETS_PER_CORE,
               (scan_bytes(transcripts) or 0) // BUCKET_TARGET_BYTES)


def window_triples(mentions_pdf: pd.DataFrame) -> pd.DataFrame:
    """The rule kernel over MENTION_COLS rows of one or more conversations:
    every predicate but uses_tool.  Each conversation's turns are its
    mention turns, each with tool None (uses_tool is emitted in Catalyst)."""
    rows: list[tuple] = []
    for conv_id, msub in mentions_pdf.groupby("conv_id"):
        by_turn: dict[int, list[Mention]] = {}
        msub = msub.sort_values(["turn_idx", "mention_idx"])
        for ti, mi, et, st, ns in zip(
            msub["turn_idx"].to_numpy(), msub["mention_idx"].to_numpy(),
            msub["entity_type"].to_numpy(), msub["start"].to_numpy(),
            msub["norm_surface"].to_numpy(),
        ):
            # end/score/surface are placeholders: the rule kernel never
            # reads them (see MENTION_COLS)
            by_turn.setdefault(int(ti), []).append(
                Mention(int(mi), et, int(st), 0, 0.0, "", ns))
        out = emit_triples_for_conv(
            conv_id, [(t, None) for t in by_turn], by_turn, WINDOW_W)
        rows.extend((conv_id, t, s, p, o) for (t, s, p, o) in out)
    return pd.DataFrame(rows, columns=TRIPLES_SCHEMA.fieldNames())


def emit_triples(transcripts: DataFrame, mentions: DataFrame) -> DataFrame:
    """transcripts: full turn rows; mentions: output of mentions_from_turns.

    Precondition: every mention's (conv_id, turn_idx) is a row of
    ``transcripts``; a mention on an unlisted turn would emit triples the
    turn-row rule does not.

    uses_tool is a distinct projection of the rows with a non-null,
    non-empty tool.  The window predicates group the mention rows by a
    HASH BUCKET of conv_id, not conv_id: Spark pays ~1 ms per group key,
    which at one key per conversation dominated the stage (4000 convs ≈
    4 s at sf0.1).  The buckets are hash-partitioned to
    defaultParallelism first, so AQE cannot coalesce a small input's
    reduce side into one task that runs the rule body serially."""
    spark = transcripts.sparkSession
    tools = (
        transcripts.filter(F.col("tool").isNotNull() & (F.col("tool") != ""))
        .select("conv_id", F.col("turn_idx").cast("long"),
                F.concat(F.lit(conv_ref("")), "conv_id").alias("subj"),
                F.lit(PRED_USES_TOOL).alias("pred"),
                F.concat(F.lit(tool_ref("")), "tool").alias("obj"))
        .distinct()
    )
    bucket = F.pmod(F.xxhash64("conv_id"),
                    F.lit(triple_buckets(transcripts))).cast("int")
    windowed = (
        mentions.select(*MENTION_COLS, bucket.alias("bucket"))
        .repartition(spark.sparkContext.defaultParallelism, "bucket")
        .groupBy("bucket").applyInPandas(window_triples, schema=TRIPLES_SCHEMA)
    )
    return tools.unionByName(windowed)
