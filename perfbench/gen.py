"""Seeded input generator for the generated workload.

``long_conv`` is a pure function of its seed (the benchmark's ``--seed``),
built on the program's own ``data.synth.synth_transcripts``, and
``write_bucketed`` writes the ``crc32(conv_id)``-bucketed part-file layout that
``data.synth.ensure_transcripts`` writes: the layout decides how the scan
splits, so a single-file input would measure a different detect stage.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd

from uk_ner_presidio_demo_spark.data.synth import (
    conv_bucket, synth_transcripts,
)


def long_conv(n_convs: int, join_k: int, seed: int) -> pd.DataFrame:
    """``synth_transcripts(n_convs, seed)`` with every ``join_k``
    consecutive conversations joined into one; ``turn_idx`` is renumbered
    in ``ts`` order (ties keep the generator's row order)."""
    df = synth_transcripts(n_convs, seed)
    group = df["conv_id"].str.slice(5).astype(int) // join_k
    df = df.assign(conv_id=group.map(lambda g: f"long_{g:05d}"))
    df = df.reset_index(names="_row").sort_values(
        ["conv_id", "ts", "_row"], kind="stable"
    )
    df["turn_idx"] = df.groupby("conv_id").cumcount().astype("int32")
    return df.drop(columns="_row").reset_index(drop=True)


def write_bucketed(df: pd.DataFrame, out: Path, n_buckets: int) -> Path:
    """Write ``df`` as ``part-<bucket>.parquet`` files bucketed by
    ``crc32(conv_id) % n_buckets`` (the ``ensure_transcripts`` layout)."""
    out.mkdir(parents=True, exist_ok=True)
    buckets = df["conv_id"].map(lambda c: conv_bucket(c, n_buckets))
    for b in range(n_buckets):
        df[buckets == b].to_parquet(out / f"part-{b:05d}.parquet",
                                    index=False)
    return out
