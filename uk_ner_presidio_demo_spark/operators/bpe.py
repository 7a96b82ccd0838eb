"""Corpus-level BPE tokenizer induction + encoding — the training-data
pipeline's tokenizer step, done Spark-first.

Decomposition (the standard one, and the only sane one at 100 TB):

  1. `word_counts`  — the CORPUS-SCALE part: one explode + hash
     aggregate over whitespace tokens (map-side partial combine; the
     result is the vocabulary-frequency table, orders of magnitude
     smaller than the corpus).
  2. `bpe_train`    — top-`max_words` rows by (count desc, word asc)
     via TakeOrdered (bounded O(max_words) driver collect — the ANN_Q
     pattern, corpus-size independent) feed the pure deterministic
     trainer in semantics/bpe.py.  Training never sees the corpus.
  3. `bpe_token_counts` — encoding is embarrassingly parallel: one
     mapInPandas kernel replays the merge list per word with a
     per-batch word cache (corpora repeat words heavily).

The semantics module is the frozen contract; the oracle twin applies
the same functions single-process, so engine output equality is by
construction (tests/test_bpe.py)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..semantics.bpe import (
    BPE_MAX_WORDS, BPE_N_MERGES, encode_text, train_bpe_from_counts,
    ws_tokens,
)
from .partitioning import fanout


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, count) over whitespace tokens — one explode + two-phase
    hash aggregate; the only corpus-scale scan of BPE training.  The
    Java `\\s+` split here and the Python `ws_tokens` in the encode
    kernel / oracle twin are the SAME frozen ASCII-whitespace tokenizer
    (semantics/bpe.py; ADVICE r5 #2 closed)."""
    return (
        fanout(docs.select("text")).select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
    )


def bpe_train(docs: DataFrame, n_merges: int = BPE_N_MERGES,
              max_words: int = BPE_MAX_WORDS) -> list[tuple[str, str]]:
    """Train merges on the top-`max_words` vocabulary (TakeOrdered —
    per-partition top-k, O(max_words) driver bytes at any corpus size).
    Deterministic: ordering is (count desc, word asc), and the trainer
    is the frozen semantics function."""
    rows = (
        word_counts(docs)
        .orderBy(F.desc("count"), F.asc("word"))
        .limit(max_words)
        .collect()
    )
    return train_bpe_from_counts(
        [(r["word"], int(r["count"])) for r in rows], n_merges
    )


BPE_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_ws_tokens", T.IntegerType()),
        T.StructField("n_bpe_tokens", T.IntegerType()),
    ]
)


def bpe_token_counts(docs: DataFrame,
                     merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens): trained-tokenizer token
    accounting per document — the budget number packing and billing
    actually need (text_profile's regex `n_bpe_tokens` remains the
    untrained approximation).  One Arrow crossing; the merge list rides in the
    closure (a few KB); per-batch word cache amortizes repeated words."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                text = text if text is not None else ""
                toks = ws_tokens(text)
                enc = encode_text(text, merges, _cache=cache)
                rows.append((int(doc_id), len(toks), len(enc)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_ws_tokens", "n_bpe_tokens"]
            )

    return fanout(docs.select("doc_id", "text")).mapInPandas(
        kernel, BPE_COUNTS_SCHEMA
    )
