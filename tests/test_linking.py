"""Entity linking runs through BOTH physical strategies: the size-gated
driver path (default for small entity universes) and the distributed band
join (forced with local_max_entities=0).  Node and edge sets must be
identical — the shapes below stress what the golden corpus doesn't: alias
targets that are never mentioned, self-aliases, duplicate alias rows,
short and empty surfaces, one surface under two types, and mixed-script
pairs whose a < b order depends on comparing code points (Spark compares
UTF-8 bytes; UTF-16 order would flip the U+FF21 / U+1F600 pair)."""

import pytest

from uk_ner_presidio_demo_spark.operators.linking import (
    LINK_LOCAL_MAX_ENTITIES, link_entities,
)
from uk_ner_presidio_demo_spark.sources.tables import (
    ALIASES_SCHEMA, read_aliases, read_transcripts,
)

BOTH = pytest.mark.parametrize(
    "lme", [LINK_LOCAL_MAX_ENTITIES, 0], ids=["local", "distributed"]
)

ENTS = [
    ("PERS", "олена петренко"),
    ("PERS", "oлена петренко"),   # Latin o
    ("ORG", "олена петренко"),    # same surface, other type
    ("PERS", "оксана петренкo"),  # Latin o, near the alias target below
    ("PERS", "о петренко"),
    ("PERS", "тарас"),
    ("PERS", "ab"), ("PERS", "a"), ("ORG", "ab"),
    ("PERS", ""), ("ORG", ""),
    ("ORG", "Ａ банк київ"), ("ORG", "😀 банк київ"),
    ("ORG", "privatbank"), ("ORG", "privatbank ua"),
]
ALIASES = [
    ("о петренко", "оксана петренко", "PERS"),  # target never mentioned
    ("тарас", "тарас", "PERS"),                 # maps a surface to itself
    ("ab", "abc", "ORG"), ("ab", "abc", "ORG"),  # duplicate rows
    ("nobody", "x", "PERS"),                    # never matched
]
EDGES = {
    ("PERS", "о петренко", "оксана петренко"),
    ("PERS", "тарас", "тарас"),
    ("ORG", "ab", "abc"),
    ("PERS", "oлена петренко", "олена петренко"),
    ("PERS", "oлена петренко", "оксана петренко"),
    ("PERS", "оксана петренкo", "оксана петренко"),
    ("ORG", "Ａ банк київ", "😀 банк київ"),
    ("ORG", "privatbank", "privatbank ua"),
}


def _link(mentions, aliases, lme):
    """(nodes, edges) as sets, after checking neither frame repeats a row."""
    out = []
    for df in link_entities(mentions, aliases, local_max_entities=lme):
        rows = [tuple(r) for r in df.collect()]
        assert len(rows) == len(set(rows))
        out.append(set(rows))
    return tuple(out)


def _frames(spark, ents, aliases):
    return (spark.createDataFrame(
                ents, "entity_type string, norm_surface string"),
            spark.createDataFrame(aliases, ALIASES_SCHEMA))


@BOTH
def test_hand_built_shapes(spark, lme):
    nodes, edges = _link(*_frames(spark, ENTS, ALIASES), lme)
    assert nodes == set(ENTS) | {("PERS", "оксана петренко"), ("ORG", "abc")}
    assert edges == EDGES


@BOTH
def test_empty_universe(spark, lme):
    mentions, aliases = _frames(spark, [], ALIASES)
    frames = link_entities(mentions, aliases, local_max_entities=lme)
    assert [df.columns for df in frames] == [
        ["entity_type", "norm_surface"], ["entity_type", "src", "dst"]]
    # the driver path's frames are local relations even when empty, so
    # connected_components reads them without a Spark job
    assert all(df.isLocal() for df in frames) or not lme
    assert _link(mentions, aliases, lme) == (set(), set())


def test_strategies_agree_on_corpus(spark, sf01):
    from uk_ner_presidio_demo_spark.operators.detect import (
        detect_turns, mentions_from_turns,
    )

    m = mentions_from_turns(detect_turns(
        read_transcripts(spark, sf01), with_anonymized=False,
    )).localCheckpoint(eager=True)
    aliases = read_aliases(spark)
    local = _link(m, aliases, LINK_LOCAL_MAX_ENTITIES)
    assert local == _link(m, aliases, 0)
    assert local[0] and local[1]


@pytest.mark.parametrize("extra, local", [(0, True), (1, False)],
                         ids=["at_gate", "gate_plus_one"])
def test_gate_boundary(spark, monkeypatch, extra, local):
    """Exactly local_max_entities entities take the driver path; one more
    takes the distributed path — with the same nodes and edges."""
    from uk_ner_presidio_demo_spark.operators import linking

    calls = []
    real = linking._link_local
    monkeypatch.setattr(linking, "_link_local",
                        lambda *a: calls.append(1) or real(*a))
    frames = _frames(spark, ENTS, ALIASES)
    got = _link(*frames, len(ENTS) - extra)
    assert bool(calls) == local
    assert got[1] == EDGES


def test_cold_canonical_nodes_job_budget(spark, sf01, tmp_path):
    """Job-budget tripwire for the cold canonical_nodes stage (link + CC +
    commit) over checkpointed sf0.01 mentions.  Measured 5 Spark jobs on
    a local[4] session: the entity-universe collect (2), the alias read
    (1) and the write (2); CC takes the driver-built edges without a
    checkpoint or a gate collect.  Linking without the gate (distributed
    at every size, CC checkpointing its edges) ran 14 here."""
    from uk_ner_presidio_demo_spark.operators.canonicalize import (
        canonical_nodes,
    )
    from uk_ner_presidio_demo_spark.operators.detect import (
        detect_turns, mentions_from_turns,
    )
    from uk_ner_presidio_demo_spark.plans.pipeline import StagedPipeline

    pipe = StagedPipeline(spark=spark, sf_dir=sf01, out_dir="",
                          checkpoint_dir=str(tmp_path))
    tr = read_transcripts(spark, sf01)
    mentions = pipe._stage("mentions", "fp", lambda: mentions_from_turns(
        detect_turns(tr, with_anonymized=False)))
    sc = spark.sparkContext
    group = "test_cold_canonical_nodes_job_budget"
    sc.setJobGroup(group, group)
    try:
        pipe._stage("canonical_nodes", "fp", lambda: canonical_nodes(
            *link_entities(mentions, read_aliases(spark))))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not pipe.results[-1].skipped and pipe.results[-1].rows > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 5, f"{len(jobs)} Spark jobs for canonical_nodes"
