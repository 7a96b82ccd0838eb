"""Entity linking (stage 6): alias lookup (J-1) + MinHash/LSH candidate
blocking (J-2, F-8) with exact-Jaccard verification [north-rule].

Linking operates on DISTINCT (entity_type, norm_surface) pairs, not on
mentions: the entity universe is orders of magnitude smaller than the
mention stream (SURVEY.md §4.3).  Its physical strategy is size-gated
like connected components (LINK_LOCAL_MAX_ENTITIES); one bounded
collect of the distinct universe (`session.collect_within`) decides the
gate and fetches the rows.

  - at or under the gate (the driver path): the alias lookup, the band
    keys, the a<b candidate pairs of each (entity_type, band, bhash)
    bucket and the Jaccard verify run in one pass over the collected
    universe, calling the semantics/minhash.py kernels directly; nodes
    and edges come back as driver frames (session.driver_frame), so CC
    takes its local union-find without another Spark job
  - above the gate (the distributed path): the entity universe is
    checkpointed once; the alias dictionary is explicitly `F.broadcast`
    (guaranteed broadcast hash join, never a shuffle); MinHash signatures
    come from an Arrow-vectorized pandas UDF, band keys explode to
    (entity_type, band, hash) rows and candidate pairs come from an
    equi-join on the band key, the hand-rolled LSH SURVEY.md §2.3 J-2
    prefers (deterministic, no ml-lib); a<b ordering dedups pairs and the
    exact Jaccard (shared kernel) verifies

Both paths return the same node and edge sets (tests/test_linking.py):
the a<b order is Spark's binary string order, which is the UTF-8 byte
order and so Python's code-point order.
"""

from __future__ import annotations

import zlib
from collections import defaultdict
from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..semantics.minhash import (
    JACCARD_THRESHOLD, band_keys, jaccard, shingles,
    minhash_signatures_batch,
)
from ..session import collect_within, driver_frame

# Strategy gate: entity universes of at most this many distinct
# (entity_type, norm_surface) pairs are linked on the driver.  The driver
# path is single-threaded Python; the distributed one pays a Spark job per
# step (eager checkpoints, the band self-join, the verify).  Measured on a
# local[4] session (4-vCPU VM) over near-duplicate pairs of random
# Cyrillic surfaces, link + forced edges: 1e4 entities 1.6 s driver vs
# 2.6 s distributed, 5e4 5.3 s vs 5.3-5.9 s, 1e5 9-10 s vs 6 s; the
# sf0.01 universe (230 entities) 0.42 s vs 1.62 s.  Above the gate (the
# 1e8+-surface vocabulary of a real corpus) the distributed path runs.
LINK_LOCAL_MAX_ENTITIES = 50_000

NODES_SCHEMA = T.StructType([
    T.StructField("entity_type", T.StringType()),
    T.StructField("norm_surface", T.StringType()),
])
EDGES_SCHEMA = T.StructType([
    T.StructField("entity_type", T.StringType()),
    T.StructField("src", T.StringType()),
    T.StructField("dst", T.StringType()),
])

BAND_STRUCT = T.ArrayType(
    T.StructType(
        [T.StructField("band", T.IntegerType()),
         T.StructField("bhash", T.LongType())]
    )
)


@pandas_udf(BAND_STRUCT)
def _band_keys_udf(surfaces: pd.Series) -> pd.Series:
    # vectorized signatures (numpy Mersenne affine-min, bit-identical to
    # minhash_signature — semantics/minhash.py)
    import zlib

    hash_lists = [
        [zlib.crc32(g.encode("utf-8")) for g in shingles(s)]
        for s in surfaces
    ]
    sigs = minhash_signatures_batch(hash_lists)
    return pd.Series([band_keys(sig) for sig in sigs])


@pandas_udf(T.DoubleType())
def _jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([jaccard(x, y) for x, y in zip(a, b)])


# the mentions columns linking reads: the entity universe's key
ENTITY_COLS = ("entity_type", "norm_surface")


def distinct_entities(mentions: DataFrame) -> DataFrame:
    return mentions.select(*ENTITY_COLS).distinct()


def alias_match(ents: DataFrame, aliases: DataFrame) -> DataFrame:
    """J-1: the broadcast alias lookup — (entity_type, src, dst) edge rows
    for entities whose normalized surface appears in the dictionary."""
    return ents.join(
        F.broadcast(aliases),
        (ents.norm_surface == aliases.alias_norm)
        & (ents.entity_type == aliases.entity_type),
        "inner",
    ).select(
        ents.entity_type.alias("entity_type"),
        ents.norm_surface.alias("src"),
        aliases.canonical_norm.alias("dst"),
    )


def _link_local(ents: list[tuple[str, str]],
                alias_rows: list[tuple[str, str, str]]
                ) -> tuple[set[tuple[str, str]], set[tuple[str, str, str]]]:
    """The distributed path's node and edge sets, computed on the driver
    from the collected entity universe and alias rows."""
    targets = defaultdict(set)  # (entity_type, alias_norm) -> canonicals
    for etype, alias_norm, canonical in alias_rows:
        targets[(etype, alias_norm)].add(canonical)
    edges = {(t, s, d) for t, s in ents for d in targets.get((t, s), ())}
    nodes = set(ents) | {(t, d) for t, _, d in edges}

    order = sorted(nodes)
    sigs = minhash_signatures_batch([
        [zlib.crc32(g.encode("utf-8")) for g in shingles(s)]
        for _, s in order
    ])
    buckets = defaultdict(list)  # (entity_type, band, bhash) -> surfaces
    for (etype, surface), sig in zip(order, sigs):
        for band, bhash in band_keys(sig):
            buckets[(etype, band, bhash)].append(surface)
    # surfaces arrive in ascending order, so each combination is a < b
    candidates = {(etype, a, b) for (etype, _, _), surfaces in buckets.items()
                  for a, b in combinations(surfaces, 2)}
    edges |= {c for c in candidates
              if jaccard(c[1], c[2]) >= JACCARD_THRESHOLD}
    return nodes, edges


def link_entities(mentions: DataFrame, aliases: DataFrame,
                  local_max_entities: int = LINK_LOCAL_MAX_ENTITIES
                  ) -> tuple[DataFrame, DataFrame]:
    """Returns (nodes, edges):
      nodes: (entity_type, norm_surface) — mention entities plus canonical
             targets of matched aliases (frozen node rule, oracle twin in
             oracle/reference_oracle.py:canonicalize)
      edges: (entity_type, src, dst) similarity edges (alias + verified LSH)

    `local_max_entities` is the strategy gate (LINK_LOCAL_MAX_ENTITIES);
    tests and benchmarks pass 0 to force the distributed path."""
    rows = collect_within(distinct_entities(mentions), local_max_entities)
    if rows is not None:
        alias_rows = aliases.select(
            "entity_type", "alias_norm", "canonical_norm").collect()
        nodes, edges = _link_local(rows, alias_rows)
        spark = mentions.sparkSession
        return (driver_frame(spark, sorted(nodes), NODES_SCHEMA),
                driver_frame(spark, sorted(edges), EDGES_SCHEMA))
    return _link_distributed(mentions, aliases)


def _link_distributed(mentions: DataFrame, aliases: DataFrame
                      ) -> tuple[DataFrame, DataFrame]:
    # The distinct entity universe is orders of magnitude smaller than the
    # mention stream; materialize it ONCE (localCheckpoint) so the multiple
    # downstream consumers (alias match, band rows, node set, CC joins)
    # never re-run the detection lineage.
    ents = distinct_entities(mentions).localCheckpoint(eager=True)

    # J-1: broadcast alias lookup
    matched = alias_match(ents, aliases)

    nodes = ents.unionByName(
        matched.select("entity_type", F.col("dst").alias("norm_surface"))
    ).distinct().localCheckpoint(eager=True)

    # J-2: LSH banding over the node set
    banded = nodes.withColumn(
        "bk", F.explode(_band_keys_udf("norm_surface"))
    ).select("entity_type", "norm_surface", "bk.band", "bk.bhash")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.entity_type") == F.col("b.entity_type"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.norm_surface") < F.col("b.norm_surface")),
        )
        .select(
            F.col("a.entity_type").alias("entity_type"),
            F.col("a.norm_surface").alias("src"),
            F.col("b.norm_surface").alias("dst"),
        )
        .distinct()
    )
    verified = pairs.filter(_jaccard_udf("src", "dst") >= JACCARD_THRESHOLD)

    edges = matched.unionByName(verified).distinct()
    return nodes, edges
