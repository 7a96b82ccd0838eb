"""Text-analysis operators over `documents` (training-data-pipeline extras):
language-ID heuristic, quality scoring, token counting, and content
fingerprinting — all pure Catalyst expressions (JVM-side, codegen, no UDF),
each with a live DuckDB-SQL oracle.

Regex portability note: Spark regexp_replace is global by default, DuckDB
needs the 'g' flag — the paired oracle SQL in __spark_entry__ carries it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# frozen character classes (shared with the SQL oracles verbatim)
CYRILLIC_CLASS = "[а-яіїєґА-ЯІЇЄҐ]"
LATIN_CLASS = "[A-Za-z]"
PUNCT_CLASS = "[.,!?;:]"


def _count_matches(col: str, cls: str) -> Column:
    return F.length(F.col(col)) - F.length(
        F.regexp_replace(F.col(col), cls, "")
    )


# GPT-2-ish pretokenizer classes, RE2/Java-portable subset: letter runs,
# digit runs, non-space-non-alnum runs (each with optional leading space).
BPE_TOKEN_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def lang_id(docs: DataFrame) -> DataFrame:
    """Cyrillic/Latin-ratio language heuristic: 'uk' if cyrillic dominates,
    'lat' if latin dominates, 'other' otherwise."""
    cyr = _count_matches("text", CYRILLIC_CLASS)
    lat = _count_matches("text", LATIN_CLASS)
    return docs.select(
        "doc_id",
        cyr.cast("long").alias("n_cyr"),
        lat.cast("long").alias("n_lat"),
        F.when(cyr > lat, F.lit("uk"))
        .when(lat > cyr, F.lit("lat"))
        .otherwise(F.lit("other"))
        .alias("lang_guess"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/punctuation/token heuristics -> per-doc quality features and a
    boolean keep flag (the C4-style filter shape)."""
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    n_punct = _count_matches("text", PUNCT_CLASS)
    avg_tok = n_chars / n_tokens
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        (n_punct / n_chars).alias("punct_ratio"),
        avg_tok.alias("avg_token_len"),
        (
            (n_tokens >= 5) & (n_chars >= 30) & (avg_tok >= 2.0)
            & (avg_tok <= 12.0)
        ).alias("keep"),
    )


def text_profile(docs: DataFrame) -> DataFrame:
    """One-scan fusion of the per-doc counting features: whitespace tokens,
    BPE-ish pretokenizer tokens, and the content fingerprint — what a real
    pipeline computes in a single pass instead of three scans."""
    normalized = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.md5(normalized).alias("fp"),
    )


def lang_quality(docs: DataFrame) -> DataFrame:
    """One-scan fusion of quality_score + lang_id — the combined per-doc
    filter-feature row a C4-style pipeline materializes once."""
    n_chars = F.length("text")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    n_punct = _count_matches("text", PUNCT_CLASS)
    avg_tok = n_chars / n_tokens
    cyr = _count_matches("text", CYRILLIC_CLASS)
    lat = _count_matches("text", LATIN_CLASS)
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        (n_punct / n_chars).alias("punct_ratio"),
        avg_tok.alias("avg_token_len"),
        (
            (n_tokens >= 5) & (n_chars >= 30) & (avg_tok >= 2.0)
            & (avg_tok <= 12.0)
        ).alias("keep"),
        cyr.cast("long").alias("n_cyr"),
        lat.cast("long").alias("n_lat"),
        F.when(cyr > lat, F.lit("uk"))
        .when(lat > cyr, F.lit("lat"))
        .otherwise(F.lit("other"))
        .alias("lang_guess"),
    )


# Frozen Ukrainian function-word list for the C4-style stopword-ratio
# feature (a natural-language document has a healthy share of these;
# word-soup/boilerplate does not).
STOPWORDS_UK: tuple[str, ...] = (
    "і", "й", "та", "або", "але", "що", "як", "до", "на", "у", "в", "з",
    "із", "зі", "за", "від", "про", "по", "при", "для", "без", "це", "цей",
    "ця", "ці", "той", "те", "він", "вона", "воно", "вони", "ми", "ви",
    "я", "ти", "не", "ні", "так", "же", "б", "би", "його", "її", "їх",
    "а", "о", "є", "був", "була", "було", "були", "бути",
)


def stopword_stats(docs: DataFrame) -> DataFrame:
    """Stopword-ratio quality feature: (doc_id, n_tokens, n_stopwords,
    stopword_ratio).  Explode + conditional aggregate, JVM-side; the ratio
    is one int64/int64 IEEE division (exact cross-engine)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("token").isin(*STOPWORDS_UK), 1).otherwise(0)
            ).alias("n_stopwords"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_stopwords").cast("long").alias("n_stopwords"),
            (F.col("n_stopwords") / F.col("n_tokens")).alias("stopword_ratio"),
        )
    )


def doc_freq_profile(docs: DataFrame) -> DataFrame:
    """Per-document corpus-frequency profile — the integer-exact stand-in
    for the CCNet/C4 LM-perplexity filter (low mean token frequency and a
    high hapax share mark 'surprising' text; boilerplate scores high):
    (doc_id, n_tokens, freq_mass, n_hapax, mean_tok_freq).

    freq_mass = sum over the doc's tokens of each token's CORPUS count —
    an int64 sum, exact under any aggregation order (a log-prob sum would
    be both order- and libm-dependent vs the oracle);
    mean_tok_freq is the single int/int IEEE division at the end.  Shape:
    explode + two-phase token-count agg + equi-join + per-doc agg, all
    Catalyst, two shuffles (token, then doc_id)."""
    toks = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("tok_count"))
    return (
        toks.join(counts, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("tok_count").cast("long").alias("freq_mass"),
            F.sum(F.when(F.col("tok_count") == 1, 1).otherwise(0))
            .cast("long").alias("n_hapax"),
        )
        .select(
            "doc_id", "n_tokens", "freq_mass", "n_hapax",
            (F.col("freq_mass") / F.col("n_tokens")).alias("mean_tok_freq"),
        )
    )
