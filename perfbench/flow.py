"""The KG chain as the benchmark drives it.

``KGPipeline`` itself is driven unchanged by ``run_pipeline``.  It accepts
only an sf name, so ``StagedFlow`` is a ``KGPipeline`` whose ``run`` reads an
input directory instead and opens a span around each call into a layer.  It
calls the layers' public functions in ``KGPipeline.run``'s order, with the
same stage fingerprints, through the inherited ``_stage``, ``_materialize``
and ``_write_metrics``, so a generated input costs what the product would
cost on it.  The validate stage's builder is a closure inside
``KGPipeline.run``; the flow runs that closure's own code.
"""

from __future__ import annotations

import shutil
import types
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.canonicalize import (
    canonical_nodes, canonical_triples,
)
from uk_ner_presidio_demo_spark.operators.detect import (
    anonymized_turns, detect_turns, mentions_from_turns,
)
from uk_ner_presidio_demo_spark.operators.graph import edge_rollup, pagerank
from uk_ner_presidio_demo_spark.operators.linking import link_entities
from uk_ner_presidio_demo_spark.operators.triples import emit_triples
from uk_ner_presidio_demo_spark.plans import pipeline
from uk_ner_presidio_demo_spark.plans.pipeline import (
    KGPipeline, StageResult, _fingerprint_path,
)
from uk_ner_presidio_demo_spark.sources.tables import (
    TRANSCRIPTS_SCHEMA, read_aliases,
)

from spans import Tracer

STAGES = ("validate_metrics", "detected_turns", "mentions", "anonymized",
          "triples", "canonical_nodes", "canonical_triples")
# the partial resume deletes these two checkpoints: 5 stages read back,
# 2 rebuilt, then materialize
REBUILT = ("canonical_nodes", "canonical_triples")
STRATEGY = "priority"


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_validate(transcripts: DataFrame):
    """``KGPipeline.run``'s ``build_validate`` closure, bound to
    ``transcripts``.  Raises if the product no longer defines it that way,
    so the flow cannot drift from the product's validate stage."""
    for code in KGPipeline.run.__code__.co_consts:
        if (isinstance(code, types.CodeType)
                and code.co_name == "build_validate"
                and code.co_freevars == ("transcripts",)):
            return types.FunctionType(code, vars(pipeline), code.co_name,
                                      None, (types.CellType(transcripts),))
    raise RuntimeError("KGPipeline.run defines no build_validate closure "
                       "over transcripts; update perfbench/flow.py")


@dataclass
class StagedFlow(KGPipeline):
    """``KGPipeline`` over the parquet directory ``sf_dir``.  With
    ``split_link`` (traced runs) the similarity edges are forced by a write
    between linking and CC, so each span holds its own eager work; untraced
    runs keep the product's lazy hand-off."""

    tracer: Tracer | None = None
    split_link: bool = False

    def transcripts(self) -> DataFrame:
        return self.spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(self.sf_dir)

    def run(self) -> dict[str, DataFrame]:
        span = self.tracer.span
        transcripts = self.transcripts()
        fp_src = _fingerprint_path(Path(self.sf_dir))
        with span("tables.validate"):
            self._stage("validate_metrics", fp_src,
                        build_validate(transcripts))
        fp_detect = f"{fp_src}|strategy={self.strategy}"
        with span("detect.turns"):
            detected = self._stage(
                "detected_turns", fp_detect,
                lambda: detect_turns(transcripts, self.strategy))
        fp_next = fp_detect + "|detected"
        with span("detect.mentions"):
            mentions = self._stage(
                "mentions", fp_next, lambda: mentions_from_turns(detected))
        with span("detect.anonymized"):
            self._stage("anonymized", fp_next,
                        lambda: anonymized_turns(detected))
        with span("triples.emit"):
            triples = self._stage(
                "triples", fp_next,
                lambda: emit_triples(transcripts, mentions))
        with span("canonicalize.cc"):
            canon = self._stage("canonical_nodes", fp_next + "|link",
                                lambda: self._build_canon(mentions))
        with span("canonicalize.ctriples"):
            ctriples = self._stage(
                "canonical_triples", fp_next + "|canon",
                lambda: canonical_triples(triples, canon).distinct())
        with span("pipeline.materialize"):
            out = self._materialize(canon, ctriples)
            self._write_metrics()
        return out

    def _build_canon(self, mentions: DataFrame) -> DataFrame:
        aliases = read_aliases(self.spark)
        if not self.split_link:
            nodes, edges = link_entities(mentions, aliases)
            return canonical_nodes(nodes, edges)
        # traced: the link span covers link_entities' two eager
        # localCheckpoints plus the write that forces the band join and the
        # Jaccard verify; the CC span then starts from the written edges
        with self.tracer.span("linking.link"):
            nodes, edges = link_entities(mentions, aliases)
            path = str(Path(self.checkpoint_dir) / "link_edges")
            edges.write.mode("overwrite").parquet(path)
        edges = self.spark.read.parquet(path)
        # canonical_nodes runs its count/collect (or the whole distributed
        # loop) at call time, so the call itself sits inside the CC span
        return canonical_nodes(nodes, edges)


def flow(spark: SparkSession, src: Path, d: Path, tracer: Tracer,
         split_link: bool = False) -> StagedFlow:
    """A flow over ``src`` with checkpoints under ``d/ckpt`` and nodes,
    edges and the metrics table under ``d/out``."""
    return StagedFlow(spark=spark, sf_dir=str(src),
                      checkpoint_dir=str(d / "ckpt"), out_dir=str(d / "out"),
                      strategy=STRATEGY, tracer=tracer, split_link=split_link)


def warm_up(spark: SparkSession, src: Path, d: Path, tracer: Tracer
            ) -> None:
    """validate -> detect -> mentions over a small input: starts the Python
    workers and compiles the scan, aggregate, Arrow and parquet-write paths
    that carry most of a fresh JVM's first-pass cost."""
    fl = flow(spark, src, d, tracer)
    transcripts = fl.transcripts()
    fl._stage("validate_metrics", "warm-up", build_validate(transcripts))
    detected = fl._stage("detected_turns", "warm-up",
                         lambda: detect_turns(transcripts, STRATEGY))
    fl._stage("mentions", "warm-up", lambda: mentions_from_turns(detected))
    shutil.rmtree(d)


def drop_rebuilt(ckpt: Path) -> None:
    for stage in REBUILT:
        shutil.rmtree(ckpt / stage)


def run_pipeline(spark: SparkSession, sf: str, ckpt: Path, out: Path
                 ) -> list[StageResult]:
    """``KGPipeline.run`` unchanged; returns its stage results."""
    pl = KGPipeline(spark=spark, sf_dir=sf, checkpoint_dir=str(ckpt),
                    out_dir=str(out), strategy=STRATEGY)
    pl.run()
    return pl.results


def graph_edges(spark: SparkSession, out: Path) -> DataFrame:
    """(subj, obj, n_obs): the edge rollup of the materialized canonical
    triples, read back, with the predicate collapsed."""
    ct = spark.read.parquet(str(out / "edges"))
    return (edge_rollup(ct).groupBy("subj", "obj")
            .agg(F.sum("n_obs").alias("n_obs")))


def run_pagerank(spark: SparkSession, out: Path) -> DataFrame:
    ranks = pagerank(graph_edges(spark, out), k=8)
    force(ranks)
    return ranks
