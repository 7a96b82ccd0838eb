"""Structured Streaming extension (SURVEY.md §2.8 design note made real).

The per-turn detection kernel is stateless, so it lifts unchanged into a
streaming DAG: `readStream` over the transcripts directory -> validity
filter -> one mapInPandas Arrow pass -> watermarked windowed aggregation.
Canonicalization stays batch (iterative/global); this path serves the
"mentions feed" shape: late data bounded by the watermark, per-window
entity-type counts.

Test harness: `run_available_now` drives the stream with
trigger(availableNow) into a memory sink and returns the collected result —
real streaming execution (micro-batches over the source files), no mocks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics.detect import detect_mentions_batch
from ..semantics.registry import is_valid_text
from ..sources.tables import TRANSCRIPTS_SCHEMA, valid_text_predicate

STREAM_MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("entity_type", T.StringType()),
        T.StructField("norm_surface", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def read_transcripts_stream(spark: SparkSession, path: str,
                            max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def detect_mentions_stream(stream: DataFrame,
                           strategy: str = "priority") -> DataFrame:
    """Stateless detection over a stream — the same frozen kernel, with ts
    carried through for watermarking."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            valid = [
                (conv_id, turn_idx, ts, text)
                for conv_id, turn_idx, ts, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["ts"], pdf["text"]
                )
                if is_valid_text(text)
            ]
            detected = detect_mentions_batch(
                [t for _, _, _, t in valid], strategy=strategy
            )
            for (conv_id, turn_idx, ts, text), (mentions, _) in zip(
                valid, detected
            ):
                for m in mentions:
                    rows.append(
                        (conv_id, turn_idx, ts, m.entity_type,
                         m.norm_surface, m.score)
                    )
            yield pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "ts", "entity_type",
                         "norm_surface", "score"],
            )

    return (
        stream.filter(valid_text_predicate())
        .select("conv_id", "turn_idx", "ts", "text")
        .mapInPandas(kernel, STREAM_MENTIONS_SCHEMA)
    )


def windowed_entity_counts(mentions_stream: DataFrame,
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per entity type — the late-data
    handling shape (watermark bounds state; late rows beyond it drop)."""
    return (
        mentions_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "entity_type")
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("win.start").alias("win_start"),
            "entity_type", "n_mentions",
        )
    )


def run_available_now(df: DataFrame, query_name: str,
                      checkpoint_dir: str, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow trigger)
    into a memory sink; returns the sink contents as a DataFrame.

    Test-harness only: Spark's memory sink cannot RESUME from a checkpoint
    (restarting with the same checkpointLocation raises).  Production runs
    use a durable sink (parquet/Iceberg), which resumes exactly-once."""
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(query_name)


DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_DEDUP_STATE = T.StructType([T.StructField("min_doc_id", T.LongType())])


def streaming_exact_dedup(docs_stream: DataFrame,
                          ttl_ms: int | None = None) -> DataFrame:
    """Incremental exact dedup across micro-batches: group by content
    fingerprint (md5 of whitespace-normalized lowercase text —
    operators/contamination.py fp_expr, the batch audit's key).

    Keeper rule: per-key GroupState tracks the MIN doc_id ever seen.  The
    first arrival of a fingerprint emits; a LATER batch bringing a smaller
    doc_id emits a corrected keeper row (append mode cannot retract, so
    the sink is an upsert target keyed by fp — Iceberg MERGE in production,
    and consumers take min(doc_id) per fp, which the driver query does).
    Under a single micro-batch (the driver's one-file source) this is
    exactly the batch arg_min(doc_id) oracle; under any batching, the
    min-per-fp view of the output converges to it.

    State TTL: pass `ttl_ms` to expire idle fingerprints via
    ProcessingTimeTimeout — state is removed after `ttl_ms` without new
    arrivals, after which a re-arriving fingerprint is re-admitted (the
    bounded-state production configuration; None keeps state forever).
    Harness note: with a processing-time timeout registered the engine
    keeps scheduling timeout-processing micro-batches, so an
    `availableNow` run does NOT self-terminate — production TTL streams
    run under a processing-time trigger; tests poll the sink and stop."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.contamination import fp_expr

    keyed = docs_stream.select(fp_expr().alias("fp"), "doc_id", "text")

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()  # idle past TTL: forget; next arrival re-admits
            return
        best = None
        for pdf in pdfs:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if best is None or int(doc_id) < best[0]:
                    best = (int(doc_id), text)
        prev = state.get[0] if state.exists else None
        if best is not None and (prev is None or best[0] < prev):
            state.update((best[0],))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield pd.DataFrame(
                [(key[0], best[0], best[1])],
                columns=["fp", "doc_id", "text"],
            )
        elif state.exists and ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)  # refresh on touch

    return keyed.groupBy("fp").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=_DEDUP_STATE,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
