"""Table sources.

BASELINE.json's input_hint names an Iceberg `transcripts` table; no
Iceberg runtime jar ships with this build, so `read_transcripts` reads the
deterministic synthesized parquet keyed to the requested scale (the dev
fallback SURVEY.md §1.2 names) with the fixed schema (conv_id, turn_idx,
role, text, tool, ts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..data.synth import ensure_aliases, ensure_transcripts

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

ALIASES_SCHEMA = T.StructType(
    [
        T.StructField("alias_norm", T.StringType()),
        T.StructField("canonical_norm", T.StringType()),
        T.StructField("entity_type", T.StringType()),
    ]
)

# the fixture directories' documents table (<sf_dir>/documents.parquet)
DOCUMENTS_SCHEMA = ("doc_id long, text string, lang string, source string, "
                    "n_chars long")


def read_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
        str(ensure_transcripts(sf_dir))
    )


def read_aliases(spark: SparkSession) -> DataFrame:
    """Small alias dictionary — always broadcast at the join site (J-1)."""
    return spark.read.schema(ALIASES_SCHEMA).parquet(str(ensure_aliases()))


def read_tpch(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def valid_text_predicate():
    """O-5 validity as a pushdown-friendly Catalyst predicate.

    (?U) makes Java's \\S match Unicode whitespace the way Python str.strip()
    does (SURVEY.md §2.2 O-5 note).  The detector UDF re-checks the exact
    Python predicate; this Catalyst filter exists so invalid rows never cross
    the Arrow boundary and the length cap can push toward the scan.
    """
    from ..semantics.registry import MAX_TEXT_LENGTH

    return (
        F.col("text").isNotNull()
        & (F.length("text") <= MAX_TEXT_LENGTH)
        & F.col("text").rlike(r"(?U)\S")
    )
