"""spark-submit entry point for the KG pipeline [north-rule packaging].

Cluster launch (the north-rule form):
    ./scripts/make_pyfiles.sh            # builds dist/kg.zip
    spark-submit --py-files dist/kg.zip \
        --conf spark.sql.adaptive.enabled=true \
        driver.py --sf-dir /root/testdata/sf0.1 \
        --checkpoint checkpoints/run1 --out out/kg

Local dev (no spark-submit): the same command via plain `python driver.py`
runs on local[$SPARK_GRAFT_CPUS], by default on every CPU the process may
run on.  Both paths build the session through `session.get_spark`, so they
run the configuration the tests run.

The pipeline resumes from per-stage checkpoints: re-running with the same
inputs skips completed stages (see plans/pipeline.py).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="KG construction pipeline")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--checkpoint", default="checkpoints/dev")
    ap.add_argument("--out", default="out/kg")
    ap.add_argument("--strategy", default="priority",
                    choices=["priority", "score"])
    ap.add_argument("--pipeline", default="kg", choices=["kg", "corpus"],
                    help="kg: transcript KG construction; corpus: "
                         "training-corpus prep (clean/split/decontaminate/"
                         "pack)")
    args = ap.parse_args(argv)

    from uk_ner_presidio_demo_spark.session import get_spark

    # under spark-submit the launcher's master and confs stand
    spark = get_spark(app_name="uk-ner-kg-pipeline")

    if args.pipeline == "corpus":
        from uk_ner_presidio_demo_spark.plans.corpus_pipeline import (
            CorpusPipeline,
        )

        pipe = CorpusPipeline(
            spark=spark,
            sf_dir=args.sf_dir,
            checkpoint_dir=args.checkpoint,
            out_dir=args.out,
        )
    else:
        from uk_ner_presidio_demo_spark.plans.pipeline import KGPipeline

        pipe = KGPipeline(
            spark=spark,
            sf_dir=args.sf_dir,
            checkpoint_dir=args.checkpoint,
            out_dir=args.out,
            strategy=args.strategy,
        )
    out = pipe.run()
    for r in pipe.results:
        print(
            f"[stage] {r.stage:18s} "
            f"{'SKIP' if r.skipped else 'RUN '} rows={r.rows} "
            f"wall={r.wall_sec}s"
        )
    if args.pipeline == "corpus":
        print(
            f"train_clean={out['train_clean'].count()} "
            f"packs={out['pack_stats'].count()}"
        )
    else:
        print(f"nodes={out['nodes'].count()} edges={out['edges'].count()}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
