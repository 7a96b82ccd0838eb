"""Reference-oracle parity gates (SURVEY.md §5.2 items 1-2):

  - mentions: Spark fused detector output == plain-Python oracle, exactly
  - anonymized: per-turn rewrite equality under stable (conv_id, turn_idx)
    ordering, and the pass-through text column is byte-identical (the
    BASELINE input_hint per-row invariant)
  - P/R computed via full-outer join (J-5) must be 1.0 >= 0.95
"""

import pandas as pd
import pytest

from uk_ner_presidio_demo_spark.operators.detect import (
    anonymized_turns, detect_turns, mentions_from_turns,
)
from uk_ner_presidio_demo_spark.oracle.reference_oracle import ensure_golden
from uk_ner_presidio_demo_spark.sources.tables import read_transcripts


@pytest.fixture(scope="module")
def golden_dir(sf001):
    return ensure_golden(sf001)


@pytest.fixture(scope="module")
def detected(spark, sf001):
    det = detect_turns(read_transcripts(spark, sf001)).cache()
    yield det
    det.unpersist()


def test_mentions_exact_parity(detected, golden_dir):
    m = (
        mentions_from_turns(detected)
        .toPandas()
        .astype({"turn_idx": "int64"})
        .sort_values(["conv_id", "turn_idx", "mention_idx"])
        .reset_index(drop=True)
    )
    g = (
        pd.read_parquet(golden_dir / "golden_mentions.parquet")
        .sort_values(["conv_id", "turn_idx", "mention_idx"])
        .reset_index(drop=True)
    )
    assert m[list(g.columns)].equals(g)


def test_mentions_precision_recall(detected, golden_dir):
    m = mentions_from_turns(detected).toPandas().astype({"turn_idx": "int64"})
    g = pd.read_parquet(golden_dir / "golden_mentions.parquet")
    keys = ["conv_id", "turn_idx", "entity_type", "start", "end"]
    joined = m[keys].merge(g[keys], how="outer", indicator=True)
    tp = (joined["_merge"] == "both").sum()
    precision = tp / max(1, len(m))
    recall = tp / max(1, len(g))
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # deterministic design target


def test_anonymized_per_turn_equality(detected, golden_dir):
    a = (
        anonymized_turns(detected)
        .toPandas()
        .astype({"turn_idx": "int64"})
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    g = (
        pd.read_parquet(golden_dir / "golden_anonymized.parquet")
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert a[list(g.columns)].equals(g)


def test_input_text_passthrough_byte_identical(spark, sf001):
    """The engine never mangles `text`: reading + validity-filtering keeps
    the column byte-identical to the synthesized input."""
    from uk_ner_presidio_demo_spark.data.synth import SF_CONVS, synth_transcripts
    from uk_ner_presidio_demo_spark.sources.tables import valid_text_predicate

    tr = read_transcripts(spark, sf001).filter(valid_text_predicate())
    got = (
        tr.select("conv_id", "turn_idx", "text")
        .toPandas()
        .astype({"turn_idx": "int64"})
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = synth_transcripts(SF_CONVS["sf0.001"])
    src = src[src["text"].map(
        lambda t: bool(t) and bool(t.strip()) and len(t) <= 100_000
    )]
    src = (
        src[["conv_id", "turn_idx", "text"]]
        .astype({"turn_idx": "int64"})
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert got.equals(src)


def test_norm_surface_expr_matches_python(spark):
    """F-7: the Catalyst normalization twin agrees with the Python kernel."""
    from uk_ner_presidio_demo_spark.semantics.gazetteer import GAZETTEER
    from uk_ner_presidio_demo_spark.semantics.normalize import (
        norm_surface, norm_surface_expr,
    )

    surfaces = sorted(GAZETTEER) + [
        "  ПіБ: Іван-Петро О'Коннор ", "a_b-c", "ТОВ «Приват»", "x", "",
        "вул. Хрещатик, 22", "UA21322313", "i.petrenko@example.com",
    ]
    df = spark.createDataFrame([(s,) for s in surfaces], ["s"])
    got = df.select(norm_surface_expr("s").alias("n")).toPandas()["n"].tolist()
    want = [norm_surface(s) for s in surfaces]
    assert got == want


def test_triples_parity_on_tool_edge_rows(spark):
    """emit_triples takes uses_tool from the transcript rows (Catalyst)
    and the window predicates from the mentions alone.  On the tool rows
    the fixtures lack it must still equal the oracle's triples: None, ''
    and NaN tools, a tool on a turn with no mentions and on one with
    invalid text, a turn listed twice with two tools, a turn listed twice
    with a null and an empty tool, and a row repeated whole."""
    from uk_ner_presidio_demo_spark.operators.triples import emit_triples
    from uk_ner_presidio_demo_spark.oracle.reference_oracle import run_oracle
    from uk_ner_presidio_demo_spark.plans.pipeline import kg_chain
    from uk_ner_presidio_demo_spark.sources.tables import TRANSCRIPTS_SCHEMA

    contact = ("Контакт: Тарас Шевченко, email ivan.rudenko@example.com, "
               "телефон +380636770619.")
    rows = [  # conv_id, turn_idx, text, tool
        ("a", 0, contact, None),
        ("a", 1, contact, ""),
        ("a", 2, contact, float("nan")),
        ("a", 3, "Дякую, все зрозуміло.", "search"),
        ("a", 4, "   ", "calculator"),
        ("a", 5, contact, "browser"),
        ("a", 5, None, "email_client"),
        ("a", 5, None, "email_client"),
        ("b", 0, None, "db_query"),
        ("b", 1, "Тарас Шевченко читає Кобзар.", ""),
        ("c", 0, contact, None),
        ("c", 0, contact, ""),
    ]
    pdf = pd.DataFrame(
        [(c, t, "user", x, tool, pd.Timestamp("2024-03-01"))
         for c, t, x, tool in rows],
        columns=TRANSCRIPTS_SCHEMA.fieldNames(),
    ).astype({"turn_idx": "int32"})
    tr = spark.createDataFrame(pdf, TRANSCRIPTS_SCHEMA)
    got = emit_triples(tr, kg_chain(tr, "mentions")).toPandas()
    want = run_oracle(pdf)["golden_triples"]
    tools = want[want["pred"] == "uses_tool"]
    assert sorted(zip(tools["conv_id"], tools["turn_idx"])) == \
        [("a", 3), ("a", 4), ("a", 5), ("a", 5), ("b", 0)]
    assert sorted(got[list(want.columns)].itertuples(index=False)) == \
        sorted(want.itertuples(index=False))
