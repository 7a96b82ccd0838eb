"""Connected-components canonicalization (stage 7, J-3) [north-rule].

Iterative min-label propagation over the similarity graph as pure DataFrame
joins — no GraphX/GraphFrames dependency from Python (SURVEY.md §1.2).

Determinism: node ids are "entity_type:norm_surface" strings; the component
label converges to the lexicographic MIN id (UTF-8 byte order == code-point
order, so Spark's binary string comparison agrees with the Python oracle's
min()).  Canonical surface = norm part of the min id; canonical_id =
sha2("entity_type:canonical_norm", 256) — stable across runs (F-9).

Lineage control: the loop runs in graph.iterate, which ends every round in
`localCheckpoint(eager=True)` to truncate the exponentially-growing join
lineage (SURVEY.md §4.3; classic iterative-dataflow practice); a round
converges when no label changed (an anti-join emptiness check).  Alias/LSH
components are shallow (diameter ~2-4), so the loop converges in a handful
of iterations; `max_iter` bounds pathological chains, and a loop that hits
it raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import collect_within, driver_frame
from .graph import iterate


def _node_id(etype_col: str, surface_col: str):
    return F.concat_ws(":", F.col(etype_col), F.col(surface_col))


# AQE-style physical-strategy gate for the CC loop: when the measured
# EDGE count (the iterated working set — singletons never iterate) is
# below this, the component structure is solved driver-side with
# union-find and the labels broadcast back.  2e5 edges of ~60-byte string
# ids is ~25 MB — broadcast-table-sized, far under Spark's own 8 GB
# broadcast ceiling.  Above the gate (the 1e8+-surface vocabulary of a
# real 100-TB corpus) the distributed min-label loop below runs
# unchanged.  Rationale: each distributed iteration costs join+agg+
# checkpoint job scheduling (~2.5 s wall for a 327-node graph at sf0.1),
# which dwarfs the actual labeling work until the graph is huge.
CC_LOCAL_MAX_EDGES = 200_000

LABELS_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("label", T.StringType()),
])


def _local_labels(pairs: list) -> list[tuple[str, str]]:
    """Driver-side union-find (path-halving, min-id roots) over collected
    edge rows — same converged labeling as min-label propagation."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = parent.get(x, x)
        while parent.get(r, r) != r:
            parent[r] = parent.get(parent[r], parent[r])
            r = parent[r]
        parent[x] = r
        return r

    for row in pairs:
        ra, rb = find(row.src), find(row.dst)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(x, find(x)) for x in parent]


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_iter: int = 25,
                         local_max_edges: int = CC_LOCAL_MAX_EDGES
                         ) -> DataFrame:
    """nodes: (entity_type, norm_surface); edges: (entity_type, src, dst).
    Returns (entity_type, norm_surface, label) with label = min node-id of
    the component.

    Singleton bypass (the dominant case at scale): nodes touching no edge
    ARE their own component — they take label = own id directly and never
    enter the iterative loop.  Only edge endpoints iterate, which shrinks
    the per-iteration join/agg by orders of magnitude on real entity
    universes (most surfaces are unique).

    Physical strategy is size-gated (see CC_LOCAL_MAX_EDGES): small edge
    sets are solved driver-side and broadcast; large ones iterate
    distributed.  Both paths produce identical labelings
    (tests/test_connected_components.py property)."""
    n = nodes.select(
        "entity_type", "norm_surface",
        _node_id("entity_type", "norm_surface").alias("id"),
    )
    # Symmetric edge list on node ids (components never span entity types).
    # Materialize the raw edge list FIRST: the union below references it
    # twice (forward + swapped), and the edge plan upstream (band join +
    # verify, or near-dup pair discovery) is the expensive part — without
    # the cut it would execute twice.  Edges built on the driver (a local
    # relation, e.g. linking's driver path) are already materialized, and
    # the collect below folds into the relation without a Spark job.
    e = edges.select(
        _node_id("entity_type", "src").alias("src"),
        _node_id("entity_type", "dst").alias("dst"),
    )
    if not edges.isLocal():
        e = e.localCheckpoint(eager=True)

    rows = collect_within(e, local_max_edges)
    if rows is not None:
        labels = F.broadcast(driver_frame(
            nodes.sparkSession, _local_labels(rows), LABELS_SCHEMA))
    else:
        labels = _propagated_labels(e, max_iter)
    # ONE pass over the entity universe: endpoint nodes take their
    # converged label, singletons (the dominant case at scale — no label
    # row) keep their own id via coalesce.
    return n.join(labels, "id", "left").select(
        "entity_type",
        "norm_surface",
        F.coalesce("label", F.col("id")).alias("label"),
    )


def _propagated_labels(e: DataFrame, max_iter: int) -> DataFrame:
    """(id, label) for every endpoint of the (src, dst) edge list: the
    distributed min-label propagation with pointer jumping, run to its
    fixed point by graph.iterate."""
    e_sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)

    # Fused init == the old round 0: every endpoint starts at
    # min(own id, min neighbor id) in ONE aggregation instead of an
    # identity-labels checkpoint followed by a full propagation round.
    # For star-shaped components (the dominant alias/LSH case, diameter 2)
    # this is already the converged labeling, so the loop runs a single
    # no-change confirmation round.  Valid init for min-label
    # propagation: every label is a member of the node's own component and
    # >= the component min.
    init = (
        e_sym.select(F.col("dst").alias("id"), F.col("src").alias("label"))
        .unionByName(
            e_sym.select(F.col("src").alias("id"),
                         F.col("src").alias("label"))
        )
        .groupBy("id")
        .agg(F.min("label").alias("label"))
        .localCheckpoint(eager=True)
    )

    def propagate(labels: DataFrame) -> DataFrame:
        # candidate labels flowing along edges
        neighbor_labels = (
            e_sym.join(labels, e_sym.src == labels.id)
            .select(F.col("dst").alias("id"), "label")
        )
        one_hop = (
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump (path doubling): also take the PREVIOUS round's
        # label of the freshly-computed label.  That value is a valid
        # upper bound of the same component's min (labels start at own id
        # and only decrease), reaches 2 hops further, and comes from the
        # already-checkpointed frame — no recompute of the agg.  Halves
        # the round count on chain-y components.
        prev = labels.select(
            F.col("id").alias("label"), F.col("label").alias("label2")
        )
        return one_hop.join(prev, "label", "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("label2", "label")
            ).alias("label"),
        )

    def unchanged(old: DataFrame, new: DataFrame) -> bool:
        # with the fused init the first round CAN be a no-change
        # confirmation (star components), so every round is checked
        return new.join(old, ["id", "label"], "left_anti").isEmpty()

    return iterate(propagate, init, max_iter, unchanged)


def canonical_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(entity_type, norm_surface, canonical_norm, canonical_id) — the
    engine twin of the oracle's `canonicalize` golden_nodes table."""
    cc = connected_components(nodes, edges)
    canon = F.substring_index("label", ":", -1)
    # label is "TYPE:surface"; surfaces can contain ':'? norm_surface never
    # does (normalization strips punctuation), so substring_index is safe.
    return cc.select(
        "entity_type",
        "norm_surface",
        canon.alias("canonical_norm"),
        F.sha2(
            F.concat_ws(":", F.col("entity_type"), canon), 256
        ).alias("canonical_id"),
    )


def incremental_canonical_update(new_mentions: DataFrame,
                                 existing_canon: DataFrame) -> DataFrame:
    """Delta canonicalization — the operator a production KG runs BETWEEN
    full CC recomputes (the iterative CC is periodic/batch; SURVEY §2.8):
    assign canonical ids to a new micro-batch of mentions against the
    standing canonical-nodes table.

      known  (entity_type, norm_surface) -> the existing canonical_id
      unseen surfaces -> a deterministic PROVISIONAL id:
          sha2("prov:" || entity_type || ":" || norm_surface)
        Provisional ids are self-ids (each unseen surface is its own
        cluster), so the next full CC recompute can only MERGE them —
        never split — which keeps the delta path monotone-safe.

    Output: (entity_type, norm_surface, canonical_id, provisional) one row
    per distinct new entity.  Like canonical_triples, the canon dictionary
    is broadcast: an entity universe is small next to the mention stream.
    One that outgrows broadcast size (~1 GB) needs the hint dropped so
    AQE plans a shuffle join."""
    ents = new_mentions.select("entity_type", "norm_surface").distinct()
    canon_map = existing_canon.select(
        "entity_type", "norm_surface", "canonical_id"
    ).distinct()
    joined = ents.join(
        F.broadcast(canon_map), ["entity_type", "norm_surface"], "left"
    )
    prov_id = F.sha2(
        F.concat_ws(":", F.lit("prov"), "entity_type", "norm_surface"), 256
    )
    return joined.select(
        "entity_type",
        "norm_surface",
        F.coalesce("canonical_id", prov_id).alias("canonical_id"),
        F.col("canonical_id").isNull().alias("provisional"),
    )


def canonical_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj entity refs ("TYPE:norm") to canonical ids
    (stage 8 input).  conv:/tool: refs pass through unchanged.

    The entity-ref dictionary is tiny relative to the triple stream, so
    both joins broadcast it.  An entity universe beyond broadcast size
    (~1 GB; SCALE.md delta table) needs the hint dropped, which turns the
    rewrite into two shuffle joins that AQE plans."""
    ref_map = canon.select(
        F.concat_ws(":", "entity_type", "norm_surface").alias("ref"),
        "canonical_id",
    ).distinct()
    t = triples
    for col in ("subj", "obj"):
        rm = ref_map.withColumnRenamed("ref", f"{col}_ref").withColumnRenamed(
            "canonical_id", f"{col}_canon"
        )
        t = t.join(
            F.broadcast(rm), t[col] == rm[f"{col}_ref"], "left"
        ).withColumn(
            col, F.coalesce(F.col(f"{col}_canon"), F.col(col))
        ).drop(f"{col}_ref", f"{col}_canon")
    return t
