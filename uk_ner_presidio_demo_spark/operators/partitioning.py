"""Input-parallelism hygiene shared by the corpus-scan kernels."""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import DataFrame

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024

# JVM byte-string suffixes (Utils.byteStringAsBytes): bare digits are
# BYTES for this conf; binary (1024) multipliers, case-insensitive.
_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def parse_byte_conf(raw: object) -> int | None:
    """Bytes of a JVM byte-string conf value ('134217728', '128m',
    '1g', '64MB'); None when unparseable.  ADVICE r6: a bare
    `re.match(r'(\\d+)')` read '128m' as 128 BYTES, inflating the
    estimated split count ~10^6x and silently skipping the fan-out
    exactly on the configs where it matters."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", str(raw))
    if not m:
        return None
    mult = _BYTE_SUFFIX.get(m.group(2).lower())
    return None if mult is None else int(m.group(1)) * mult


def _local_file_sizes(df: DataFrame) -> list[int] | None:
    """Per-file byte sizes of the frame's scan, from metadata only.
    None when the source is not exclusively local files (remote storage,
    non-file frames, vanished files) — the single shared definition of
    'sizable from the driver', so the fan-out decision and the
    bucket-count sizing can never disagree about the same input."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes = []
    for f in files:
        if not f.startswith("file:"):
            return None
        try:
            sizes.append(os.stat(re.sub(r"^file:/*", "/", f)).st_size)
        except OSError:
            return None
    return sizes


def scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of the frame's file scan, from metadata only (None
    when the source is not local files) — the sizing input for
    data-scaled bucket counts (e.g. the triples group key space),
    so a 10x corpus gets ~10x group keys instead of 10x-fatter pandas
    frames."""
    sizes = _local_file_sizes(df)
    return None if sizes is None else sum(sizes)


def fanout(df: DataFrame) -> DataFrame:
    """Spread a per-row kernel across cores when the input SCAN is
    under-split.  A small local corpus is often ONE parquet file = ONE
    scan split, so a whole mapInPandas (or the map side of an agg) runs
    on a single core — which both wastes the cluster and makes the query
    wall hostage to per-core host speed (the r5 doc_simhash_dups bench
    fragility; SCALE.md §7f).

    The decision uses scan metadata only (inputFiles + driver-side file
    sizes vs spark.sql.files.maxPartitionBytes) — no RDD-conversion plan
    probes: when the estimated split count already reaches
    defaultParallelism — many files, or few huge files that the reader
    splits itself — this is a no-op, so a 100-TB scan is never
    coalesced.  Unknown sources (non-local storage, non-file frames)
    are left untouched."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    sizes = _local_file_sizes(df)
    if sizes is None or len(sizes) >= target:
        # unknown/remote source (the reader's own split rules apply) or
        # already at least one file per core
        return df
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes",
        str(_DEFAULT_MAX_PARTITION_BYTES),
    )
    max_bytes = parse_byte_conf(raw) or _DEFAULT_MAX_PARTITION_BYTES
    splits = sum(max(1, math.ceil(s / max_bytes)) for s in sizes)
    if splits >= target:
        return df
    return df.repartition(target)
