"""Skew evidence for the triples grouped map and the salted hot-key
aggregate (VERDICT r2 #7): measured max vs median task wall inside the
relevant stages, plus the underlying per-bucket row skew, at two sfs.

The synth corpus deliberately plants skew (data/synth.py): one ~200-turn
hot conversation (conv skew -> one triples bucket gets heavier) and one
celebrity entity surface (key skew -> one reducer in a naive groupBy).
This script quantifies what that does to task walls:

  - `triples_bucket_rows`: mention rows per triples group key, over the
    engine's own key count (`operators.triples.triple_buckets`) — the rows
    the grouped map receives (deterministic — the skew itself,
    independent of host noise).
  - per-stage `executorRunTime` quantiles from the Spark status REST API
    (max/median task ratio — the stage-wall amplification the skew causes;
    noisy on this drifting host, so read ratios, not absolute ms).
  - the salted vs unsalted top-surfaces aggregate, same metrics.

Usage: python scripts/skew_bench.py 2>/dev/null   (prints ONE JSON line)
"""

from __future__ import annotations

import json
import sys
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SFS = ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]


def _rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}{path}") as r:
        return json.load(r)


def _completed_stages(spark):
    return {s["stageId"]: s for s in _rest(spark, "/stages?status=complete")}


def _task_quantiles(spark, stage_id: int, attempt: int):
    ts = _rest(
        spark,
        f"/stages/{stage_id}/{attempt}/taskSummary"
        f"?quantiles=0.0,0.5,1.0",
    )
    lo, med, hi = ts["executorRunTime"]
    return {"min_ms": lo, "median_ms": med, "max_ms": hi,
            "max_over_median": round(hi / med, 2) if med else None}


def _key_rows(df, *keys):
    """Max and median row count per ``keys`` group of ``df`` (mx, med)."""
    from pyspark.sql import functions as F

    return df.groupBy(*keys).count().agg(
        F.max("count").alias("mx"),
        F.expr("percentile_approx(count, 0.5)").alias("med")).first()


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def _new_heavy_stages(spark, before: set[int], min_tasks: int, top: int = 2):
    """The `top` new stages by total executorRunTime with >= min_tasks."""
    stages = [
        s for sid, s in _completed_stages(spark).items()
        if sid not in before and s["numCompleteTasks"] >= min_tasks
    ]
    stages.sort(key=lambda s: -s.get("executorRunTime", 0))
    out = []
    for s in stages[:top]:
        q = _task_quantiles(spark, s["stageId"], s["attemptId"])
        out.append({
            "stage_id": s["stageId"],
            "n_tasks": s["numCompleteTasks"],
            "total_run_ms": s.get("executorRunTime"),
            **q,
        })
    return out


def main() -> None:
    import __spark_entry__ as em
    from uk_ner_presidio_demo_spark.data.synth import (
        ensure_transcripts, sf_key_for_dir,
    )
    from uk_ner_presidio_demo_spark.operators.triples import triple_buckets
    from uk_ner_presidio_demo_spark.plans.pipeline import kg_chain
    from uk_ner_presidio_demo_spark.session import default_cores, get_spark
    from uk_ner_presidio_demo_spark.sources.tables import read_transcripts

    from pyspark.sql import functions as F

    cores = default_cores()
    spark = get_spark(app_name="skew-bench", cores=cores,
                      extra_conf={"spark.ui.enabled": "true"})
    qs = em.queries()
    result: dict = {"metric": "skew_task_walls", "cores": cores, "sfs": {}}

    for sf_dir in SFS:
        key = sf_key_for_dir(sf_dir)
        ensure_transcripts(sf_dir)

        # deterministic bucket-skew: mention rows per triples group key,
        # plus the per-conversation turn skew that causes it
        tr = read_transcripts(spark, sf_dir)
        mentions = kg_chain(tr, "mentions").localCheckpoint(eager=True)
        n_buckets = triple_buckets(tr)
        bucket = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        brows = _key_rows(mentions, bucket.alias("b"))
        conv_rows = _key_rows(tr, "conv_id")

        # warm the python workers once so the first measured stage isn't
        # paying interpreter spin-up
        _force(qs["kg_mentions"](spark, sf_dir))

        before = set(_completed_stages(spark))
        _force(qs["kg_triples"](spark, sf_dir))
        # the triples grouped map runs one task per core
        triples_stages = _new_heavy_stages(spark, before, min_tasks=cores)

        before = set(_completed_stages(spark))
        _force(em._q_top_surfaces(spark, sf_dir))
        plain_stages = _new_heavy_stages(spark, before, min_tasks=8, top=1)

        before = set(_completed_stages(spark))
        _force(qs["kg_top_surfaces_salted"](spark, sf_dir))
        salted_stages = _new_heavy_stages(spark, before, min_tasks=8, top=1)

        # document-side skew (r5): the MinHash band join's shuffle key is
        # (band, bhash) — planted near-dup clusters make some band keys
        # hot; measure the key-level row skew and the join stage's task
        # walls (AQE skew-join splits oversized partitions at runtime)
        from uk_ner_presidio_demo_spark.operators.dedup import _band_rows
        from uk_ner_presidio_demo_spark.sources.tables import read_tpch

        docs = read_tpch(spark, sf_dir, "documents")
        band_rows = _key_rows(_band_rows(docs), "band", "bhash")
        before = set(_completed_stages(spark))
        _force(qs["doc_neardup_minhash"](spark, sf_dir))
        neardup_stages = _new_heavy_stages(spark, before, min_tasks=4)

        # PLANTED hot band (the natural corpus's dup clusters are small,
        # band_key_ratio ~3): 300 near-copies of one doc share all their
        # band keys -> one shuffle key holds a ~300-row group whose
        # self-join fans out ~45k candidate pairs.  This is the shape
        # AQE skew-join + the single-eval Jaccard guard exist for; the
        # stage quantiles show what the planted key does to task walls.
        from uk_ner_presidio_demo_spark.operators.dedup import (
            neardup_minhash,
        )

        base = docs.orderBy("doc_id").limit(1).collect()[0]
        hot = spark.createDataFrame(
            [(1_000_000 + i, base["text"] + f" хвіст{i}")
             for i in range(300)],
            "doc_id long, text string",
        )
        spiked = docs.select("doc_id", "text").unionByName(hot)
        spiked_rows = _key_rows(_band_rows(spiked), "band", "bhash")
        before = set(_completed_stages(spark))
        _force(neardup_minhash(spiked))
        spiked_stages = _new_heavy_stages(spark, before, min_tasks=4)

        # ENTITY-UNIVERSE skew (r6, VERDICT r5 #7; SURVEY §4.2 notes AQE
        # skew handling does not reach the CC groupBy).  Two planted
        # shapes:
        #   (a) a hot SURFACE dominating the mention stream (50k extra
        #       mentions of one entity) — absorbed where it must be: at
        #       the distinct() feeding linking, whose partial (map-side)
        #       aggregation combines the hot key per task before the
        #       shuffle, so the reducer sees ONE row per (task, key);
        #   (b) a 120-variant celebrity cluster in the entity universe —
        #       every variant bands with every other (≈7k verified
        #       edges), stressing the linking band self-join and, with
        #       the local gate disabled, the distributed CC loop's
        #       per-iteration join+agg (its hub id receives one row per
        #       neighbor; min() is algebraic, so map-side combine
        #       pre-shrinks the hot group the same way).
        from uk_ner_presidio_demo_spark.operators.canonicalize import (
            connected_components,
        )
        from uk_ner_presidio_demo_spark.operators.linking import (
            distinct_entities, link_entities,
        )
        from uk_ner_presidio_demo_spark.sources.tables import read_aliases

        mcols = mentions.columns
        hot_ment = spark.range(50_000).selectExpr(
            "concat('skewconv', CAST(id % 97 AS STRING)) AS conv_id",
            "CAST(id % 40 AS BIGINT) AS turn_idx",
            "CAST(id % 7 AS BIGINT) AS mention_idx",
            "'PERS' AS entity_type",
            "CAST(0 AS BIGINT) AS start", "CAST(14 AS BIGINT) AS end",
            "CAST(0.85 AS DOUBLE) AS score",
            "'Зірка Скандалу' AS surface",
            "'зірка скандалу' AS norm_surface",
        ).select(*mcols)
        base_surface = "видатна знаменитість федір коваленко журналіст"
        var_ment = spark.range(120).selectExpr(
            "concat('varconv', CAST(id AS STRING)) AS conv_id",
            "CAST(0 AS BIGINT) AS turn_idx",
            "CAST(0 AS BIGINT) AS mention_idx",
            "'PERS' AS entity_type",
            "CAST(0 AS BIGINT) AS start", "CAST(40 AS BIGINT) AS end",
            "CAST(0.85 AS DOUBLE) AS score",
            f"concat('{base_surface} ', lpad(CAST(id AS STRING), 2, '0'))"
            " AS surface",
            f"concat('{base_surface} ', lpad(CAST(id AS STRING), 2, '0'))"
            " AS norm_surface",
        ).select(*mcols)
        spiked_m = mentions.unionByName(hot_ment).unionByName(var_ment) \
            .localCheckpoint(eager=True)
        ment_rows = _key_rows(spiked_m, "entity_type", "norm_surface")
        before = set(_completed_stages(spark))
        _force(distinct_entities(spiked_m))
        distinct_stages = _new_heavy_stages(spark, before, min_tasks=8,
                                            top=1)
        before = set(_completed_stages(spark))
        # local_max_entities=0: time the distributed band join, not the
        # driver path the gate picks for a universe this small
        nodes_s, edges_s = link_entities(spiked_m, read_aliases(spark),
                                         local_max_entities=0)
        n_hot_edges = edges_s.count()
        linking_stages = _new_heavy_stages(spark, before, min_tasks=8)
        # deterministic per-KEY skew into the CC min-label aggregate: the
        # hub id receives one row per neighbor BEFORE the map-side
        # combine; min() is algebraic, so partial aggregation pre-shrinks
        # the hot group to <= one row per map task — the combine IS the
        # salt, which is why the CC groupBy needs none of its own
        e_sym = edges_s.select(
            F.concat_ws(":", "entity_type", "src").alias("src"),
            F.concat_ws(":", "entity_type", "dst").alias("dst"),
        )
        cc_key_rows = _key_rows(
            e_sym.select(F.col("dst").alias("id"))
            .unionByName(e_sym.select(F.col("src").alias("id"))), "id")
        before = set(_completed_stages(spark))
        _force(connected_components(nodes_s, edges_s, local_max_edges=0))
        # min_tasks=1: AQE coalesces each iteration's ~5k-edge shuffle to
        # 1-2 tasks — recording that coalescence is the point (skew
        # cannot manifest below partition granularity)
        cc_stages = _new_heavy_stages(spark, before, min_tasks=1)

        # AS-OF hot-key leg (r7, VERDICT r6 #4): ONE user owns ~50% of
        # events on both sides of the as-of join.  The single-window
        # form puts that user's entire (views+clicks) row set into ONE
        # indivisible Window.partitionBy(user) task; the bucketed
        # two-phase form (asof_join_bucketed) splits it across
        # (user, ts-bucket) partitions.  Both run over the same spiked
        # frame; the stage quantiles show the one-task ceiling vs the
        # split, and the row-count ratio is the deterministic skew.
        from uk_ner_presidio_demo_spark.operators.asof import (
            asof_join, asof_join_bucketed,
        )

        ev = read_tpch(spark, sf_dir, "events")
        n_ev = ev.count()
        hot_ev = spark.range(n_ev).selectExpr(
            "CAST(100000000 + id AS BIGINT) AS event_id",
            "timestampadd(SECOND, CAST(id % 86400 AS INT), "
            "TIMESTAMP '2024-03-01 00:00:00') AS ts",
            "CAST(99999999 AS BIGINT) AS user_id",
            "CASE WHEN id % 2 = 0 THEN 'view' ELSE 'click' END "
            "AS event_type",
            "CAST(id AS DOUBLE) AS value",
            "CAST(NULL AS STRING) AS props",
        ).select(*ev.columns)
        spiked_ev = ev.unionByName(hot_ev).localCheckpoint(eager=True)
        asof_key_rows = _key_rows(spiked_ev, "user_id")
        clicks_s = spiked_ev.filter(F.col("event_type") == "click")
        views_s = spiked_ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("view_id"), "value"
        )
        before = set(_completed_stages(spark))
        _force(asof_join(clicks_s, views_s, "user_id", "ts",
                         ["view_id", "value"], pick="view_id"))
        asof_single_stages = _new_heavy_stages(spark, before, min_tasks=4)
        before = set(_completed_stages(spark))
        _force(asof_join_bucketed(clicks_s, views_s, "user_id", "ts",
                                  ["view_id", "value"], pick="view_id",
                                  bucket_width=3600))
        asof_bucketed_stages = _new_heavy_stages(spark, before,
                                                 min_tasks=4)

        result["sfs"][key] = {
            "asof_key_rows_max": asof_key_rows["mx"],
            "asof_key_rows_median": asof_key_rows["med"],
            "asof_key_ratio": round(
                asof_key_rows["mx"] / asof_key_rows["med"], 2),
            "asof_single_window_stages": asof_single_stages,
            "asof_bucketed_stages": asof_bucketed_stages,
            "entity_mention_rows_max": ment_rows["mx"],
            "entity_mention_rows_median": ment_rows["med"],
            "entity_mention_ratio": round(
                ment_rows["mx"] / ment_rows["med"], 2),
            "entity_distinct_stage": distinct_stages,
            "entity_cluster_edges": n_hot_edges,
            "entity_linking_stages": linking_stages,
            "entity_cc_key_rows_max": cc_key_rows["mx"],
            "entity_cc_key_rows_median": cc_key_rows["med"],
            "entity_cc_distributed_stages": cc_stages,
            "band_key_rows_max": band_rows["mx"],
            "band_key_rows_median": band_rows["med"],
            "band_key_ratio": round(band_rows["mx"] / band_rows["med"], 2),
            "neardup_stages": neardup_stages,
            "spiked_band_key_rows_max": spiked_rows["mx"],
            "spiked_band_key_ratio": round(
                spiked_rows["mx"] / spiked_rows["med"], 2),
            "spiked_neardup_stages": spiked_stages,
            "conv_rows_max": conv_rows["mx"],
            "conv_rows_median": conv_rows["med"],
            "triples_buckets": n_buckets,
            "triples_bucket_rows_max": brows["mx"],
            "triples_bucket_rows_median": brows["med"],
            "triples_bucket_ratio": round(brows["mx"] / brows["med"], 2),
            "triples_stages": triples_stages,
            "topk_plain_stage": plain_stages,
            "topk_salted_stage": salted_stages,
        }

    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
