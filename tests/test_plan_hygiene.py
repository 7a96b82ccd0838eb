"""Physical-plan hygiene gates — the 100-TB story, asserted.

These tests freeze the plan properties that matter at scale, so a future
refactor that silently drops a broadcast, un-pushes a filter, or adds an
extra Arrow crossing fails CI rather than a cluster run.
"""

import pytest

import __spark_entry__ as em


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _analyzed(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_broadcast_join_is_broadcast(spark, sf01):
    plan = _plan(em.queries()["tpch_broadcast_join"](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf01):
    plan = _plan(em.queries()["tpch_agg"](spark, sf01))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_scan_prunes_columns(spark, sf01):
    """Unreferenced columns must prune from the scan, and the totalprice
    filter must push down (tpch_window_topk absorbed tpch_filter_project
    in r3)."""
    plan = _plan(em.queries()["tpch_window_topk"](spark, sf01))
    assert "o_orderkey" in plan
    assert "o_comment" not in plan  # never referenced -> pruned from scan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan


def test_cooccurrence_runs_detection_once(spark, sf01):
    """kg_entity_cooccurrence self-joins the per-turn refs: without the
    lineage cut the detection kernel ran TWICE (VERDICT r2 #3).  The
    localCheckpoint hides the kernel from the final plan entirely, so the
    correct plan shows ZERO MapInPandas (and r2's broken one showed 2)."""
    plan = _plan(em.queries()["kg_entity_cooccurrence"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan  # the checkpointed refs


def test_hash_sample_is_scan_local(spark, sf01):
    """doc_hash_sample (r4 board row): both membership decisions are
    codegen hash filters on the scan side — the only join is the
    broadcast of the sampled-ids leg; no shuffle exchange anywhere."""
    plan = _plan(em.queries()["doc_hash_sample"](spark, sf01))
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "xxhash64" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_review_mentions_runs_detection_once(spark, sf01):
    """kg_review_mentions feeds the mentions frame to THREE consumers
    (keys + semi leg + anti leg): the lineage cut must keep the
    detection kernel out of the final plan (kernel ran in the
    materialization job), same invariant as kg_entity_cooccurrence."""
    plan = _plan(em.queries()["kg_review_mentions"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert "Scan ExistingRDD" in plan


def test_incremental_canon_is_one_broadcast_join(spark, sf01):
    """kg_incremental_canon: the standing-canon dictionary must join as a
    BROADCAST (the delta path's whole point — no shuffle of the canon),
    and the detection kernel stays out of the final plan (checkpoint
    cut)."""
    plan = _plan(em.queries()["kg_incremental_canon"](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("MapInPandas") == 0


def test_partial_overlap_verify_scores_candidates_once(spark, sf01):
    """The exact-span verify UDF must evaluate ONCE per candidate pair —
    the asNondeterministic single-eval guard (the _doc_jaccard_udf
    lesson), now on the driver board."""
    plan = _plan(em.queries()["doc_partial_overlap"](spark, sf01))
    assert plan.count("ArrowEvalPython") == 1


def test_detection_is_single_arrow_crossing(spark, sf01):
    """Exactly ONE Python stage (MapInPandas) in the mentions plan — the
    fused-detector invariant (SURVEY.md §4.3)."""
    plan = _plan(em.queries()["kg_mentions"](spark, sf01))
    assert plan.count("MapInPandas") == 1
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python, ever


def test_detection_stage_is_narrow(spark, sf01):
    """No shuffle exchange anywhere in the detection plan."""
    plan = _plan(em.queries()["kg_mentions"](spark, sf01))
    assert "Exchange" not in plan


def test_alias_link_uses_broadcast(spark, sf01):
    """J-1 must stay a broadcast hash join regardless of stats on the
    distributed link path.  (Inspected on the un-checkpointed join — inside
    kg_canonical_nodes the alias lookup runs on the driver, or on the
    distributed path behind the entity-universe localCheckpoint, invisible
    to the final plan either way.)"""
    from uk_ner_presidio_demo_spark.operators.linking import (
        alias_match, distinct_entities,
    )
    from uk_ner_presidio_demo_spark.sources.tables import read_aliases

    ents = distinct_entities(em.queries()["kg_mentions"](spark, sf01))
    plan = _plan(alias_match(ents, read_aliases(spark)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_topk_two_phase(spark, sf01):
    """The salted twin really aggregates in two phases (salt key present
    in the first aggregate)."""
    plan = _analyzed(em.queries()["kg_top_surfaces_salted"](spark, sf01))
    assert "salt" in plan
    assert "pmod" in plan


def test_no_cartesian_products_in_kg_paths(spark, sf01):
    for name in ("kg_mentions", "kg_triples", "kg_canonical_nodes"):
        plan = _plan(em.queries()[name](spark, sf01))
        assert "CartesianProduct" not in plan, name


def test_emb_neardup_is_blocked_not_collected(spark, sf01):
    """The shipped emb_neardup must be the LSH-blocked path: candidate
    generation is an equi-join (no CartesianProduct), nothing collects a
    vector matrix to the driver, and the verify is Arrow-batched.  Since
    r6 the board row unions a keep leg on top of a localCheckpointed
    pair frame, so the Python kernels are gated on the PAIR-DISCOVERY
    plan (pre-checkpoint) and the board row's final plan must run the
    discovery zero times (one checkpoint feeds both legs)."""
    import inspect

    from uk_ner_presidio_demo_spark.operators import similarity

    src = inspect.getsource(similarity.emb_neardup_lsh) + inspect.getsource(
        similarity._emb_block_rows
    )
    assert ".collect()" not in src
    discovery = similarity.emb_neardup_lsh(
        spark.read.parquet(f"{sf01}/embeddings.parquet")
    )
    dplan = _plan(discovery)
    assert "CartesianProduct" not in dplan
    assert "BroadcastNestedLoopJoin" not in dplan
    # the verify kernel is Arrow-batched; the block-keys kernel sits behind
    # a localCheckpoint (evaluated once, not twice per self-join side)
    assert dplan.count("MapInPandas") >= 1
    plan = _plan(em.queries()["emb_neardup"](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("MapInPandas") == 0  # both legs read the checkpoint


def test_no_rdd_probe_in_operators():
    """VERDICT r1 #9: no `.rdd` anywhere in operators/ (driver-side plan
    probes don't scale and force-materialize)."""
    import pathlib

    ops = pathlib.Path(__file__).parent.parent / (
        "uk_ner_presidio_demo_spark/operators"
    )
    offenders = [
        p.name for p in ops.glob("*.py") if ".rdd" in p.read_text()
    ]
    assert offenders == []


def test_dedup_apply_is_blocked_and_semi_joined(spark, sf01):
    """dedup_apply: candidate discovery stays the banded equi-join (no
    cartesian), the final keep is a left-semi join, and nothing collects."""
    import inspect

    from uk_ner_presidio_demo_spark.operators import dedup

    src = inspect.getsource(dedup.dedup_apply) + inspect.getsource(
        dedup.clean_corpus
    )
    assert ".collect()" not in src
    plan = _plan(em.queries()["doc_dedup_apply"](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_kmeans_trainer_collects_only_aggregates():
    """The distributed k-means must never collect the vector table — only
    the K init rows and the K x dim aggregated sums."""
    import inspect

    from uk_ner_presidio_demo_spark.operators import similarity

    src = inspect.getsource(similarity.kmeans_centroids_distributed)
    # every collect is on a limit(K) or a groupBy aggregate
    for line in src.splitlines():
        if ".collect()" in line:
            ctx = src[: src.index(line) + len(line)]
            assert (".limit(KMEANS_K)" in ctx) or ("groupBy" in ctx), line


def test_jaccard_verify_scores_candidates_once(spark, sf01):
    """The threshold filter + rounded projection over the Jaccard UDF must
    appear as ONE ArrowEvalPython node — Catalyst clones a deterministic
    UDF call into both the Filter and the Project, scoring every candidate
    pair twice (the asNondeterministic flag on _doc_jaccard_udf is the
    guard)."""
    for name in ("doc_neardup_minhash", "doc_contamination"):
        plan = _plan(em.queries()[name](spark, sf01))
        assert plan.count("ArrowEvalPython") == 1, name


def test_signature_kernels_fan_out(spark, sf01, tmp_path):
    """The MinHash/SimHash/BPE kernels must not inherit a 1-split scan's
    parallelism (one small parquet file = one scan split = a single-core
    mapInPandas — the r5 doc_simhash_dups bench fragility, SCALE.md
    §7f): under-split file scans are spread to defaultParallelism;
    already-wide scans and non-file frames pass through untouched (a
    100-TB scan must never be coalesced)."""
    from uk_ner_presidio_demo_spark.operators import dedup

    target = spark.sparkContext.defaultParallelism
    base = spark.range(1000).selectExpr(
        "id AS doc_id", "concat('w', id, ' x y z') AS text"
    )
    one = str(tmp_path / "one")
    base.coalesce(1).write.parquet(one)
    docs = spark.read.parquet(one)
    assert docs.inputFiles() and len(docs.inputFiles()) == 1
    assert dedup._fanout(docs).rdd.getNumPartitions() == target
    wide = str(tmp_path / "wide")
    base.repartition(target + 3).write.parquet(wide)
    docs_wide = spark.read.parquet(wide)
    assert dedup._fanout(docs_wide) is docs_wide
    local = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert dedup._fanout(local) is local  # non-file source: untouched


def test_packing_is_one_shuffle(spark, sf01):
    """Sequence packing: exactly one exchange (the bucket key) feeding one
    grouped-pandas kernel; no per-row Python, no extra shuffles."""
    plan = _plan(em.queries()["doc_packing"](spark, sf01))
    assert plan.count("Exchange") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_canonical_triples_runs_detection_once(spark, sf01):
    """kg_canonical_triples feeds mentions to BOTH linking and triple
    emission — the lineage cut must keep the detection kernel out of the
    final plan entirely (it runs once, eagerly, at construction; the r2
    cooccurrence double-kernel defect pattern)."""
    plan = _plan(em.queries()["kg_canonical_triples"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert plan.count("FlatMapGroupsInPandas") == 1  # the triples window
    assert plan.count("FlatMapCoGroupsInPandas") == 0


def test_triples_reads_mentions_only(spark, sf01):
    """kg_triples: uses_tool is a Catalyst leg over a transcripts scan of
    (conv_id, turn_idx, tool) with the tool filter pushed down; only the
    mention columns and the bucket key cross into Python, in ONE grouped
    map fed by ONE exchange, hash-partitioned on the bucket to
    defaultParallelism (so AQE cannot coalesce the reduce side to one
    task).  No cogroup: transcript rows never cross."""
    import re

    from uk_ner_presidio_demo_spark.operators.triples import MENTION_COLS

    plan = _plan(em.queries()["kg_triples"](spark, sf01))
    assert "FlatMapCoGroupsInPandas" not in plan
    assert plan.count("FlatMapGroupsInPandas") == 1
    width = spark.sparkContext.defaultParallelism
    assert re.findall(r"Exchange hashpartitioning\(bucket#\d+, (\d+)\)",
                      plan) == [str(width)]
    below = plan[plan.index("FlatMapGroupsInPandas"):]
    assert re.match(r"Exchange hashpartitioning\(bucket#",
                    below[below.index("Exchange"):])
    args = re.search(r"window_triples\(([^)]*)\)", plan).group(1)
    assert re.sub(r"#\d+L?", "", args).split(", ") == \
        [*MENTION_COLS, "bucket"]
    assert re.search(
        r"FileScan parquet \[conv_id#\d+,turn_idx#\d+,tool#\d+\].*"
        r"PushedFilters: \[IsNotNull\(tool\), Not\(EqualTo\(tool,\)\)\], "
        r"ReadSchema: struct<conv_id:string,turn_idx:int,tool:string>", plan)


def test_edge_upsert_merge_plan(spark, sf01):
    """kg_edge_upsert feeds canonical triples to BOTH the snapshot and the
    delta rollup — the lineage cut must keep every Python stage out of the
    final plan (same two-consumer invariant as kg_canonical_triples), and
    the MERGE must be a plain join (no cartesian, no Python verify)."""
    plan = _plan(em.queries()["kg_edge_upsert"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert plan.count("FlatMapCoGroupsInPandas") == 0
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pagerank_iteration_plan(spark, sf01):
    """kg_pagerank's returned frame has no Python stage and no
    cartesian, and the KG detection kernel must be entirely behind the
    edge checkpoint (runs once at construction).  At sf0.01 the size
    gate (PR_LOCAL_MAX_EDGES, r7) resolves the fixed point driver-side,
    so the final plan is a LocalTableScan of broadcast-back ranks; the
    distributed iteration plan (one join + one left join + integer
    arithmetic per round) is asserted on a forced-distributed run."""
    plan = _plan(em.queries()["kg_pagerank"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert plan.count("FlatMapCoGroupsInPandas") == 0
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan

    # forced-distributed twin: the last-iteration plan stays pure JVM
    from uk_ner_presidio_demo_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1), ("c", "a", 3)],
        "subj string, obj string, n_obs long",
    )
    dplan = _plan(pagerank(edges, k=2, local_max_edges=0))
    assert dplan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in dplan
    assert "CartesianProduct" not in dplan


def test_lm_score_is_pure_catalyst(spark, sf01):
    """txt_lm_score: two codegen corpus scans + hash aggregates + the
    broadcast ilog joins — NO Python stage anywhere (the ilog lookup is
    a driver-built literal frame), no cartesian, and both ilog joins
    must be explicit broadcasts."""
    plan = _plan(em.queries()["txt_lm_score"](spark, sf01))
    assert plan.count("MapInPandas") == 0
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    # the model table is cut behind its localCheckpoint: each leg's
    # FINAL plan holds only the scoring bigram scan + the doc_id
    # left-join scan — without the cut the shared count subtree re-ran
    # the corpus aggregation four times PER LEG here (Catalyst does not
    # dedupe subtrees).  r7: two legs (self + xmodel), so the budget is
    # 2 scans x 2 legs; the xmodel leg's scans carry the pushed parity
    # filter.
    import re

    assert len(re.findall(r"Scan parquet", plan)) <= 4


def test_triangles_and_asof_plan_hygiene(spark, sf01):
    """kg_triangles: the wedge enumeration is degree-oriented equi-joins
    over checkpointed frames — no cartesian product (the all-pairs
    disaster shape), no Python.  events_asof_view: the union+window
    form — NO range join (a l.ts >= r.ts join would be
    O(|L|x|R|)/key), exactly one window, no Python."""
    tri = _plan(em.queries()["kg_triangles"](spark, sf01))
    assert "CartesianProduct" not in tri
    assert "BatchEvalPython" not in tri
    assert tri.count("MapInPandas") == 0

    asof = _plan(em.queries()["events_asof_view"](spark, sf01))
    assert "CartesianProduct" not in asof
    assert "BroadcastNestedLoopJoin" not in asof
    assert "BatchEvalPython" not in asof
    assert asof.count("MapInPandas") == 0


def test_span_excision_plan_hygiene(spark, sf01):
    """Exact-boundary excision (r5): the chunk kernel is cut behind its
    localCheckpoint, leaving exactly TWO Python stages in the final plan
    (the matching-statistics span kernel + the text rebuild kernel); no
    row-at-a-time Python and no cartesian product anywhere — the pair
    list is ownership-blocked, never all-pairs."""
    plan = _plan(em.queries()["doc_span_excise"](spark, sf01))
    assert plan.count("MapInPandas") == 2
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
