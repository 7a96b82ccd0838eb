"""SparkSession factory with the engine's scale-oriented defaults.

Config rationale (SURVEY.md §4.4):
  - AQE on: post-shuffle coalesce + skew-join splitting for the band join
  - Arrow on + worker reuse: the detector/splicer are pandas-UDF kernels; a
    reused python worker keeps the compiled regex/gazetteer warm — the
    distributed analogue of the reference's lazy singleton model load
    (/root/reference/recognizers/ukrainian_ner.py:28-66)
  - shuffle.partitions sized to cores for local bench; a real cluster run
    overrides via spark-submit --conf (AQE coalesces the excess)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "uk-ner-kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r8 (guide §3.1): let the planner pick shuffled-hash join when
        # its size conditions fit (no sort on either side), and let AQE
        # rewrite a planned sort-merge to shuffled-hash when every
        # post-shuffle partition is under 64 MB — bounded build side, so
        # the SHJ OOM risk stays capped at any corpus size.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "67108864")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.python.worker.reuse", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def driver_frame(spark: SparkSession, rows, schema: T.StructType
                 ) -> DataFrame:
    """A frame from rows built on the driver (tuples in ``schema`` field
    order), handed to the JVM as one Arrow table: a local relation, which
    Spark reads without a job.  A list of tuples would instead be pickled
    through a Python-worker RDD (~1 s for a 7-row append on a 4-vCPU VM,
    against ~0.17 s this way), and so would an empty pandas frame.  An
    empty ``rows`` keeps ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
        ),
        schema,
    )
