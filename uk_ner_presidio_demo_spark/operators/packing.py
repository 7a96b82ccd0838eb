"""Sequence packing — group documents into fixed token-budget packs (the
sample-packing step that turns a cleaned corpus into training batches;
public pattern from T5/GPT-NeoX-style data pipelines).

Determinism at any cluster size: packing is greedy WITHIN a hash bucket of
doc_id (`pmod(xxhash64(doc_id), n_buckets)`), docs ordered by doc_id inside
the bucket.  The bucket key — not Spark's physical partitioning — defines
the packing groups, so the output is identical on 1 core or 1000 executors
(same reasoning as the triples group bucket, operators/triples.py).

Scale shape: one shuffle on the bucket key, one applyInPandas pass whose
state is a single running counter per group; pack ids are
"<bucket>:<seq>" so they're globally unique without coordination.  Token
counts are the whitespace tokenizer (textstats.text_profile's n_tokens) —
swap in the BPE-ish counter by passing `bpe=True`.

Oversized docs (n_tokens > budget) become single-doc packs flagged
`oversize` — a real pipeline then truncates or splits them downstream;
silently dropping them would misreport coverage.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textstats import BPE_TOKEN_PATTERN

# default logical-bucket count when the caller doesn't pin one — fixed
# so default-call pack ids are cluster-size independent (see
# pack_documents); group KEYS, not shuffle partitions, so the value
# bounds per-kernel frame size without dictating task counts
PACK_DEFAULT_BUCKETS = 64

PACK_SCHEMA = T.StructType(
    [
        T.StructField("pack_id", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_pos", T.IntegerType()),
        T.StructField("oversize", T.BooleanType()),
    ]
)


def pack_documents(docs: DataFrame, budget_tokens: int = 2048,
                   n_buckets: int | None = None,
                   bpe: bool = False,
                   merges: "list[tuple[str, str]] | None" = None
                   ) -> DataFrame:
    """(pack_id, doc_id, n_tokens, pack_pos, oversize): greedy first-fit
    packing of docs into <= budget_tokens packs, deterministic per
    (n_buckets, budget) regardless of physical partitioning.

    Token counter (what the budget measures): the whitespace tokenizer by
    default; `bpe=True` the regex BPE-ish approximation; `merges=[...]`
    (r6, VERDICT r5 #8) the TRAINED tokenizer — pack budgets then count
    exactly what the training run will consume (operators/bpe.py
    bpe_token_counts, one Arrow crossing replacing the Catalyst count).
    The packing kernel itself is identical for all three."""
    if n_buckets is None:
        # a FIXED default, deliberately not derived from
        # defaultParallelism: bucket ids are embedded in every pack_id,
        # so a parallelism-derived count would make default-call output
        # depend on cluster size — breaking the determinism promise
        # above for any caller that doesn't pin n_buckets
        n_buckets = PACK_DEFAULT_BUCKETS
    bucket_col = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)) \
        .cast("int").alias("bucket")
    if merges is not None:
        from .bpe import bpe_token_counts

        counted = bpe_token_counts(docs, merges).select(
            "doc_id",
            F.col("n_bpe_tokens").cast("long").alias("n_tokens"),
            bucket_col,
        )
    else:
        # coalesce NULL text to "" so NULL rows can't reach the packing
        # kernel as NaN (size() of a NULL array is NULL).  The paths do
        # NOT agree on the resulting count (ADVICE r6): the ws path
        # DELIBERATELY keeps the phantom single token ("" splits to [''],
        # size 1) to stay bit-identical with the ws_token_count twin,
        # while the bpe-regex and trained-merges paths both count 0.
        txt = F.coalesce(F.col("text"), F.lit(""))
        if bpe:
            n_tok = F.size(F.regexp_extract_all(txt,
                                                F.lit(BPE_TOKEN_PATTERN), 0))
        else:
            n_tok = F.size(F.split(F.trim(txt), r"\s+"))
        counted = docs.select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            bucket_col,
        )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        bucket = int(pdf["bucket"].iloc[0])
        rows = []
        seq, used, pos = 0, 0, 0
        for doc_id, n in zip(pdf["doc_id"], pdf["n_tokens"]):
            n = int(n)
            oversize = n > budget_tokens
            if oversize:
                if used > 0:
                    seq += 1
                rows.append((f"{bucket}:{seq}", int(doc_id), n, 0, True))
                seq += 1
                used, pos = 0, 0
                continue
            if used + n > budget_tokens and used > 0:
                seq += 1
                used, pos = 0, 0
            rows.append((f"{bucket}:{seq}", int(doc_id), n, pos, False))
            used += n
            pos += 1
        return pd.DataFrame(
            rows,
            columns=["pack_id", "doc_id", "n_tokens", "pack_pos",
                     "oversize"],
        )

    return counted.groupBy("bucket").applyInPandas(kernel, PACK_SCHEMA)


def pack_stats(packs: DataFrame, budget_tokens: int = 2048) -> DataFrame:
    """Per-pack fill metrics — the packing-efficiency report: (pack_id,
    n_docs, pack_tokens, fill_ratio, has_oversize)."""
    return (
        packs.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.max(F.col("oversize").cast("int")).cast("boolean")
            .alias("has_oversize"),
        )
        .select(
            "pack_id", "n_docs", "pack_tokens",
            (F.col("pack_tokens") / F.lit(float(budget_tokens)))
            .alias("fill_ratio"),
            "has_oversize",
        )
    )
