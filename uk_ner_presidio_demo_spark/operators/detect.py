"""Fused mention detection + conflict resolution + anonymization (stage 3).

One `mapInPandas` pass per partition: NER surrogate + pattern scan + union +
sanitize + greedy resolution (+ optional splice), all inside a single Arrow
crossing (SURVEY.md §4.3 "one Arrow crossing for detection") — the turn text
is serialized JVM->Python exactly once, and the stage is narrow (no shuffle).

Arrow-budget design (scaling-bench-driven): the kernel returns COMPACT
mention structs (int32 offsets + type + score only).  The `surface` column
is derived JVM-side as `substring(text, start+1, end-start)` (O-8 — Spark
substring is code-point based, exactly matching Python slicing on the
offsets the kernel computed), and `norm_surface` via the Catalyst twin of
the Python normalizer (F-7, equality unit-tested).  That cuts Python CPU and
the Python->JVM Arrow payload roughly in half versus shipping per-mention
strings, which measurably improves N->4N scaling efficiency: string
derivation lands in whole-stage codegen instead of the contended UDF lane.

Per-branch failure isolation (U-2): each recognizer family runs under its
own try/except inside the kernel — a failing family contributes zero spans
and an error flag, never an exception (the distributed restatement of
/root/reference/core/analyzer.py:141-170).

Reference pipeline being restated: /root/reference/core/analyzer.py:91-197.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics.anonymize import splice
from ..semantics.detect import detect_mentions_batch
from ..semantics.normalize import norm_surface_expr
from ..semantics.registry import is_valid_text
from ..sources.tables import valid_text_predicate

# Python tasks per core for the detection stage (see detect_turns).
TASKS_PER_CORE = 2

MENTION_STRUCT = T.StructType(
    [
        T.StructField("mention_idx", T.IntegerType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("start", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _detected_schema(with_anonymized: bool) -> T.StructType:
    fields = [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("detect_errors", T.IntegerType()),
        T.StructField("mentions", T.ArrayType(MENTION_STRUCT)),
    ]
    if with_anonymized:
        fields.insert(4, T.StructField("anonymized_text", T.StringType()))
    return T.StructType(fields)


def detect_turns(transcripts: DataFrame, strategy: str = "priority",
                 with_anonymized: bool = True) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) -> detected
    turns.  Only (conv_id, turn_idx, text, tool) cross the Arrow boundary —
    `role`/`ts` are pruned.  Invalid rows (O-5) are filtered Catalyst-side
    before the boundary; the kernel re-checks the exact Python predicate
    for belt-and-braces parity with the oracle.  Set
    ``with_anonymized=False`` when only mentions are consumed — it skips
    the splice and shrinks the return payload.  Every recognizer runs;
    the O-6 enabled-set restriction lives on the scalar path
    (api.analyze)."""
    schema = _detected_schema(with_anonymized)
    cols = [f.name for f in schema.fields]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = []
            valid = [
                (conv_id, turn_idx, text, tool)
                for conv_id, turn_idx, text, tool in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"], pdf["tool"],
                )
                if is_valid_text(text)
            ]
            # ONE anchored-regex pass per recognizer family over the whole
            # Arrow batch (detect_mentions_batch) — measured ~1.6x the
            # per-row form; outputs are identical (property-tested).
            detected = detect_mentions_batch(
                [t for _, _, t, _ in valid], strategy=strategy
            )
            for (conv_id, turn_idx, text, tool), (mentions, errors) in zip(
                valid, detected
            ):
                compact = [
                    (m.mention_idx, m.entity_type, m.start, m.end, m.score)
                    for m in mentions
                ]
                if with_anonymized:
                    anonymized = splice(
                        text,
                        [(m.entity_type, m.start, m.end) for m in mentions],
                    )
                    out_rows.append((conv_id, turn_idx, text, tool,
                                     anonymized, errors, compact))
                else:
                    out_rows.append((conv_id, turn_idx, text, tool,
                                     errors, compact))
            yield pd.DataFrame(out_rows, columns=cols)

    pruned = transcripts.filter(valid_text_predicate()).select(
        "conv_id", "turn_idx", "text", "tool"
    )
    # Task-count hygiene: each Python task pays a fixed runner cost (worker
    # handshake + Arrow stream setup, ~tens of ms).  Inheriting file-count
    # partitioning (thousands of small tasks at scale) makes that cost the
    # scaling bottleneck, so coalesce the CPU-bound stage to
    # TASKS_PER_CORE waves per core.  coalesce() is narrow — no shuffle; it
    # only merges, and never *increases* the partition count, so no
    # getNumPartitions probe (which would force plan materialization
    # driver-side) is needed.
    sc = transcripts.sparkSession.sparkContext
    pruned = pruned.coalesce(max(1, sc.defaultParallelism * TASKS_PER_CORE))
    return pruned.mapInPandas(kernel, schema)


def mentions_from_turns(detected: DataFrame) -> DataFrame:
    """Explode the compact mention arrays into the long-format mentions
    table (conv_id, turn_idx, mention_idx, entity_type, start, end, score,
    surface, norm_surface) — the engine's central IR (SURVEY.md §1.2).
    Surface/norm_surface are whole-stage-codegen expressions, not UDF
    output (see module docstring)."""
    m = detected.select(
        "conv_id", "turn_idx", "text", F.explode("mentions").alias("m")
    )
    surface = F.substring(
        F.col("text"), F.col("m.start") + 1, F.col("m.end") - F.col("m.start")
    )
    return m.select(
        "conv_id",
        "turn_idx",
        F.col("m.mention_idx").cast("long").alias("mention_idx"),
        F.col("m.entity_type").alias("entity_type"),
        F.col("m.start").cast("long").alias("start"),
        F.col("m.end").cast("long").alias("end"),
        F.col("m.score").alias("score"),
        surface.alias("surface"),
        norm_surface_expr(surface).alias("norm_surface"),
    )


def anonymized_turns(detected: DataFrame) -> DataFrame:
    return detected.select("conv_id", "turn_idx", "anonymized_text")
