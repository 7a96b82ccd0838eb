"""Edge-table maintenance: roll canonical triples up to weighted edges and
MERGE a new batch into a standing edge snapshot (the Iceberg `MERGE INTO`
shape, expressed as a Catalyst full-outer join).

This is the missing step between the repo's continuous-KG pieces: the
streaming triples operator (streaming/kg_stream.py) and the delta
canonicalizer (operators/canonicalize.py:incremental_canonical_update)
produce canonical triples per micro-batch; a production deployment folds
each batch into the standing `kg.edges` table rather than rewriting it.
The reference demo rebuilds its per-text result set from scratch on every
analyze call (core/batch_analyzer.py — stateless per run); at 10^12-turn
scale the standing graph is the expensive artifact and must be maintained
incrementally.

Scale shape (100 TB):
- The delta side aggregates FIRST (`edge_rollup` — count per key with
  map-side partial aggregation), so the merge join sees one row per
  distinct new edge, not the raw triple stream.
- The standing snapshot is bucketed by the edge key in the Iceberg layout
  (plans/pipeline.py materializes edges bucketed by conv_id for scan
  locality; a MERGE-maintained table buckets by (subj, pred, obj) instead
  so this join is co-located and shuffle-free on the big side).
- Edge stats are ADDITIVE (counts), so merges compose: fold(batch1,
  batch2) == fold(batch1 ∪ batch2) — property-tested.  Non-additive stats
  (distinct convs) deliberately stay out of the snapshot; they live in
  periodic full recomputes like the CC relabel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import collect_within, driver_frame

EDGE_KEY = ["subj", "pred", "obj"]


def edge_rollup(ctriples: DataFrame) -> DataFrame:
    """(subj, pred, obj, n_obs) — weighted-edge grain from canonical
    triples.  One hash aggregate; partial aggregation shrinks hot edges
    (the 'shares_pii_with' hub kind) to one row per map task before the
    shuffle, the same algebraic-agg argument as the CC min-label groupBy
    (SCALE.md §7b, entity-universe leg)."""
    return ctriples.groupBy(*EDGE_KEY).agg(F.count("*").alias("n_obs"))


def merge_edge_snapshots(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """MERGE a delta edge rollup into a standing snapshot.

    Input grain: both frames at (subj, pred, obj, n_obs).
    Output: (subj, pred, obj, n_obs, change_kind) where n_obs is the
    summed observation count and change_kind is
      'inserted'  — edge new in this batch,
      'updated'   — edge in both (weight increased),
      'carried'   — edge in the snapshot only (carried forward unchanged).

    The full-outer join IS the MERGE: matched -> update, not-matched-by
    -target -> insert, not-matched-by-source -> carry.  No row is ever
    dropped, so sum(n_obs) is conserved (property-tested in
    tests/test_edge_upsert.py)."""
    p = prev.select(*EDGE_KEY, F.col("n_obs").alias("_prev_obs"))
    d = delta.select(*EDGE_KEY, F.col("n_obs").alias("_new_obs"))
    j = p.join(d, EDGE_KEY, "full_outer")
    change = (
        F.when(F.col("_prev_obs").isNull(), F.lit("inserted"))
        .when(F.col("_new_obs").isNull(), F.lit("carried"))
        .otherwise(F.lit("updated"))
    )
    return j.select(
        *EDGE_KEY,
        (
            F.coalesce("_prev_obs", F.lit(0)) + F.coalesce("_new_obs", F.lit(0))
        ).alias("n_obs"),
        change.alias("change_kind"),
    )


# --- One loop driver for the graph fixed points --------------------------
#
# CC and the k-core peel run to a data-dependent fixed point, PageRank
# for a fixed k; each supplies only its round and its convergence test.

# Lineage-cut cadence of a FIXED-count loop: checkpoint every
# PR_CKPT_EVERY rounds, not every round.  Uncut, the loop is ONE Spark
# job of k sequential shuffle stages (the natural Pregel shape: no
# intermediate materialization, recovery replays from shuffle files),
# and each eager cut is a BLOCKING job whose fixed overhead dominates at
# small graph sizes (measured sf0.01 warm PageRank loop wall for k=8:
# cut-every-1 4.1 s, every-2 2.4 s, every-8 i.e. uncut 1.1 s).  The
# cadence exists only to bound plan DEPTH for large k (Catalyst
# optimization time grows with plan size).  Cadence is SCHEDULING, not
# semantics: PageRank ranks are integer, so results are bit-identical at
# any cadence (bit-parity gate in test_pagerank).
PR_CKPT_EVERY = 8


def iterate(step, state: DataFrame, max_iter: int,
            converged=None) -> DataFrame:
    """Apply ``step`` (one lazy round: state -> next state) to ``state``.

    With ``converged(old, new)``: every round is cut with
    localCheckpoint(eager=True), keeping the lineage one round deep, and
    the first converged state is returned; no convergence within
    ``max_iter`` rounds raises instead of returning a non-fixed point.
    Without it: exactly ``max_iter`` rounds, cut every PR_CKPT_EVERY,
    the last left lazy so the caller composes the real round plan."""
    for i in range(max_iter):
        new = step(state)
        if converged is not None:
            new = new.localCheckpoint(eager=True)
            if converged(state, new):
                return new
        elif i < max_iter - 1 and (i + 1) % PR_CKPT_EVERY == 0:
            new = new.localCheckpoint(eager=True)
        state = new
    if converged is None:
        return state
    raise RuntimeError(
        f"{step.__qualname__}: no fixed point within max_iter={max_iter} "
        "rounds — raise max_iter"
    )


# --- PageRank over the standing edge table -------------------------------
#
# FIXED-POINT INTEGER PageRank: ranks are BIGINT micro-units of
# PR_SCALE, every per-iteration expression is integer multiply /
# floor-divide / sum.  Integer sums are associative and commutative
# EXACTLY, so the result is bit-identical under any partitioning,
# any parallelism, and in any engine (the DuckDB oracle replays the
# same unrolled iterations in SQL) — no float-accumulation-order
# caveat anywhere (CLAUDE.md floats invariant).
#
# Semantics (weighted, directed, damping 85/100, no dangling
# redistribution — dangling mass decays, documented below):
#   r_0(v)      = PR_SCALE div N
#   damp(u)     = (r_i(u) * 85) div 100
#   contrib(u->v, w) = (damp div out_w(u)) * w
#                    + ((damp % out_w(u)) * w) div out_w(u)
#     [ == floor(damp * w / out_w) exactly, but the two-term form
#       bounds intermediates by out_w^2 instead of damp*w — safe for
#       weighted out-degrees up to ~3e9 at PR_SCALE=1e12 ]
#   r_{i+1}(v)  = (PR_SCALE * 15) div (100 * N) + sum contrib(.->v)
#
# Scale shape (100 TB): the per-iteration cost is one join of the
# edge table with the rank vector on src plus one groupBy(dst) sum —
# the canonical distributed PageRank step.  K is fixed (bounded work),
# so `iterate` runs it without a convergence test, cut every
# PR_CKPT_EVERY rounds; the only driver scalar is N (one count, same
# gating shape as CC).  Hub skew on the dst sum is absorbed by partial
# aggregation (sum is algebraic — the same argument as the CC min-label
# groupBy, SCALE.md §7b).

PR_SCALE = 10**12
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100

# Physical-strategy gate (the CC_LOCAL_MAX_EDGES pattern,
# operators/canonicalize.py): at or below this many edges the fixed
# point runs DRIVER-LOCAL on collected rows and the result is broadcast
# back; above it, the distributed join+agg loop runs.  Ranks are
# INTEGER, so the two strategies are bit-identical (exact-equality
# property test in tests/test_pagerank.py) — the gate is scheduling,
# not semantics.  Motivation: at sf0.1 the canonical-triples graph is
# ~468 nodes, where 8 distributed shuffle stages of fixed overhead cost
# several times the driver-local solve; a production 10^9-edge graph
# takes the distributed path.
PR_LOCAL_MAX_EDGES = 200_000


def _local_pagerank(edge_rows, k: int) -> list[tuple]:
    """Driver-local twin of the distributed loop — IDENTICAL integer
    arithmetic (Python // and % agree with Spark div/% on the
    non-negative operands used here), so ranks are bit-identical by
    construction and gated by the cross-strategy equality test."""
    out_w: dict = {}
    nodes = set()
    edges = []
    for r in edge_rows:
        nodes.add(r.subj)
        nodes.add(r.obj)
        out_w[r.subj] = out_w.get(r.subj, 0) + r.w
        edges.append((r.subj, r.obj, r.w))
    n = len(nodes)
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    rank = {v: PR_SCALE // n for v in nodes}
    for _ in range(k):
        in_mass: dict = {}
        for s, d, w in edges:
            damp = rank[s] * PR_DAMP_NUM // PR_DAMP_DEN
            ow = out_w[s]
            c = (damp // ow) * w + ((damp % ow) * w) // ow
            in_mass[d] = in_mass.get(d, 0) + c
        rank = {v: base + in_mass.get(v, 0) for v in nodes}
    return [(v, rank[v]) for v in sorted(nodes)]


def pagerank(edges: DataFrame, k: int = 8,
             local_max_edges: int = PR_LOCAL_MAX_EDGES) -> DataFrame:
    """Weighted directed PageRank over (subj, obj, n_obs) edges;
    returns (node, rank_fp) with rank_fp in BIGINT PR_SCALE units.

    Physical strategy is size-gated (PR_LOCAL_MAX_EDGES, the CC
    pattern): small edge sets solve driver-side, large ones run the
    distributed join+agg loop; integer ranks make the two paths
    bit-identical (exact-equality gate in tests/test_pagerank.py).

    Multi-edges must be pre-aggregated (edge_rollup then a pred
    collapse, or any (src, dst, weight) frame).  k >= 1 fixed
    iterations; dangling-node mass decays (no redistribution) —
    deterministic and engine-portable.  NOTE: decay is a different
    estimator from redistribute-uniformly PageRank, and after more
    than one iteration relative ORDER can differ too (mass a
    redistribution would re-inject propagates non-uniformly through
    later iterations); the oracle implements the same decay, so the
    gates agree — just don't read these ranks as order-equivalent to
    redistribution PageRank on dangling-heavy graphs."""
    if k < 1:
        raise ValueError(f"pagerank: k must be >= 1, got {k}")
    # edges feeds THREE consumers (nodes, out_w, the join) — cut once so
    # any expensive upstream (the KG detection kernel) runs exactly once
    # (CLAUDE.md two-consumer invariant).
    edges = edges.select(
        "subj", "obj", F.col("n_obs").cast("long").alias("w")
    ).localCheckpoint(eager=True)

    # size-gated local strategy (see PR_LOCAL_MAX_EDGES): the fixed point
    # is solved driver-side over the collected rows
    rows = collect_within(edges, local_max_edges)
    if rows is not None:
        schema = T.StructType([
            T.StructField("node", edges.schema["subj"].dataType),
            T.StructField("rank_fp", T.LongType()),
        ])
        return driver_frame(edges.sparkSession,
                            _local_pagerank(rows, k) if rows else [], schema)

    nodes = _degrees(edges, "subj", "obj").select("node") \
        .localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        # empty graph: propagate emptiness instead of dividing by zero
        return nodes.withColumn("rank_fp", F.lit(0).cast("long"))
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    out_w = edges.groupBy("subj").agg(F.sum("w").alias("out_w"))
    ed = edges.join(out_w, "subj").localCheckpoint(eager=True)

    damp = F.expr(f"rank_fp * {PR_DAMP_NUM} div {PR_DAMP_DEN}")
    contrib = F.expr(
        "(_damp div out_w) * w + ((_damp % out_w) * w) div out_w"
    )

    def rank_round(ranks: DataFrame) -> DataFrame:
        in_mass = (
            ed.join(ranks, ed.subj == ranks.node)
            .withColumn("_damp", damp)
            .select(F.col("obj").alias("node"), contrib.alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        return nodes.join(in_mass, "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.coalesce("in_mass", F.lit(0).cast("long"))
            ).alias("rank_fp"),
        )

    # cast: a Python int small enough for int32 becomes an IntegerType
    # literal, and ANSI-mode int32 `rank_fp * 85` overflows at 2^31 —
    # ranks must be BIGINT end-to-end
    return iterate(rank_round, nodes.withColumn(
        "rank_fp", F.lit(PR_SCALE // n).cast("long")), k)


def pagerank_oracle_sql(ct_parquet: str, k: int = 8) -> str:
    """The DuckDB twin: the SAME k unrolled fixed-point iterations over
    the canonical-triples parquet, generated as chained CTEs (DuckDB's
    recursive CTEs disallow aggregates in the recursive term, and an
    unrolled chain is also closer to 'what the engine executed').
    `//` and `%` on DuckDB BIGINTs match Spark's `div`/`%` exactly on
    the non-negative operands used here."""
    if k < 1:
        raise ValueError(f"pagerank_oracle_sql: k must be >= 1, got {k}")
    its = []
    prev = "r0"
    for i in range(1, k + 1):
        its.append(f"""it{i} AS (
            SELECT n.node,
                   (SELECT ({PR_SCALE} * {PR_DAMP_DEN - PR_DAMP_NUM})
                           // ({PR_DAMP_DEN} * count(*)) FROM nodes)
                   + coalesce(m.in_mass, 0) AS rank_fp
            FROM nodes n LEFT JOIN (
                SELECT e.obj AS node,
                       sum((((r.rank_fp * {PR_DAMP_NUM}) // {PR_DAMP_DEN})
                            // o.out_w) * e.w
                           + ((((r.rank_fp * {PR_DAMP_NUM}) // {PR_DAMP_DEN})
                               % o.out_w) * e.w) // o.out_w) AS in_mass
                FROM e
                JOIN {prev} r ON e.subj = r.node
                JOIN outw o ON e.subj = o.subj
                GROUP BY e.obj) m ON n.node = m.node
        )"""
        )
        prev = f"it{i}"
    return f"""
        WITH e AS (
            SELECT subj, obj, CAST(count(*) AS BIGINT) AS w
            FROM read_parquet('{ct_parquet}') GROUP BY 1, 2
        ), nodes AS (
            SELECT DISTINCT node FROM (
                SELECT subj AS node FROM e
                UNION ALL SELECT obj AS node FROM e
            )
        ), outw AS (
            SELECT subj, sum(w) AS out_w FROM e GROUP BY subj
        ), r0 AS (
            SELECT node,
                   (SELECT {PR_SCALE} // count(*) FROM nodes) AS rank_fp
            FROM nodes
        ), {', '.join(its)}
        SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp FROM {prev}
    """


# --- k-core and triangles of the undirected KG ---------------------------

def _undirected(edges: DataFrame) -> DataFrame:
    """(u, v) with u < v: one row per edge of the UNDIRECTED simple graph
    under a (subj, obj) edge frame (direction, duplicates and self-loops
    collapse), cut so the upstream plan runs once."""
    return (
        edges.filter(F.col("subj") != F.col("obj"))
        .select(
            F.least("subj", "obj").alias("u"),
            F.greatest("subj", "obj").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _degrees(edges: DataFrame, a: str = "u", b: str = "v") -> DataFrame:
    """(node, deg): how many of the ``a``/``b`` endpoint slots of
    ``edges`` each node fills (its undirected degree on a (u, v) frame
    from _undirected)."""
    return (
        edges.select(F.col(a).alias("node"))
        .union(edges.select(F.col(b).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def k_core(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """Nodes of the k-core of the UNDIRECTED simple graph under a
    (subj, obj) edge frame: the unique maximal subgraph where every
    node keeps degree >= k after everything below is peeled away — the
    standard KG noise filter (entities attached to the graph by fewer
    than k distinct strong links drop out, however the peel is
    ordered).  Returns (node) rows.

    Scale shape: one peel round is a degree groupBy plus two left-semi
    edge restrictions, run by `iterate` with a lineage cut and an edge
    count per round.  Rounds are bounded by the peel DEPTH (degeneracy
    ordering layers), which is small for real KGs; `max_iter` is the
    explicit bound, and exceeding it raises rather than silently
    returning a non-fixed-point."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    und = _undirected(edges)
    sizes = [und.count()]

    def peel(cur: DataFrame) -> DataFrame:
        keep = _degrees(cur).filter(F.col("deg") >= k).select("node")
        return (
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
        )

    def peeled(old: DataFrame, new: DataFrame) -> bool:
        # a sub-k node with edges drops them in the semi-restriction, so
        # an unchanged edge count means every remaining node already
        # holds degree >= k; no edge left is the (empty) fixed point too
        sizes.append(new.count())
        return sizes[-1] in (sizes[-2], 0)

    return _degrees(iterate(peel, und, max_iter, peeled)).select("node")


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph underlying a
    (subj, obj) edge frame; returns one row
    (n_nodes, n_edges, n_triangles).

    Scale shape: the classic two-join triangle enumeration is made
    skew-safe by DEGREE ORIENTATION — every undirected edge is oriented
    from its lower-(degree, id) endpoint to the higher one, so each
    wedge-join key is a node's OUT-degree in the oriented graph, which is
    O(sqrt(|E|)) even for hubs (a node of degree d contributes
    min(d, sqrt-ish) wedges instead of d^2; the standard
    Suri-Vassilvitskii / Cohen MR-triangle argument).  Hub nodes that
    would explode a naive a-b-c join are exactly the ones oriented
    INWARD."""
    und = _undirected(edges)
    deg = _degrees(und)
    # orient: lower (deg, node) -> higher (deg, node); total order, so
    # the oriented graph is acyclic and each triangle is counted ONCE
    d_u = deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du")
    d_v = deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv")
    ed = und.join(d_u, "u").join(d_v, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    ori = ed.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=True)
    # wedges around the low-degree apex, closed by an oriented edge
    a = ori.select(F.col("src").alias("apex"), F.col("dst").alias("b"))
    b = ori.select(F.col("src").alias("apex"), F.col("dst").alias("c"))
    wedges = a.join(b, "apex").filter(F.col("b") < F.col("c"))
    # no .distinct(): `und` is already one row per undirected edge and
    # orientation maps it 1:1 onto `ori`, so (least, greatest) cannot
    # produce duplicates — a distinct here would be a wasted full
    # shuffle + aggregate over the entire edge table
    closing = ori.select(
        F.least("src", "dst").alias("b"), F.greatest("src", "dst").alias("c")
    )
    tri = wedges.join(closing, ["b", "c"]).count()
    n_nodes = deg.count()
    n_edges = und.count()
    spark = edges.sparkSession
    return driver_frame(spark, [(n_nodes, n_edges, tri)], T.StructType([
        T.StructField(c, T.LongType())
        for c in ("n_nodes", "n_edges", "n_triangles")
    ]))
