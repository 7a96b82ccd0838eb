"""SparkSession factory with the engine's scale-oriented defaults.

Config rationale (SURVEY.md §4.4):
  - AQE on: post-shuffle coalesce + skew-join splitting for the band join
  - Arrow on + worker reuse: the detector/splicer are pandas-UDF kernels; a
    reused python worker keeps the compiled regex/gazetteer warm — the
    distributed analogue of the reference's lazy singleton model load
    (/root/reference/recognizers/ukrainian_ner.py:28-66)
  - shuffle.partitions sized to cores for local bench; a real cluster run
    overrides via spark-submit --conf (AQE coalesces the excess): a
    launcher's keys, its master included, stand over these defaults
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def default_cores() -> int:
    """$SPARK_GRAFT_CPUS, else the number of CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS")
               or len(os.sched_getaffinity(0)))


def launcher_conf() -> dict[str, str]:
    """The conf a launcher (spark-submit, the pyspark shell) gave this
    process.  A launcher starts the JVM before Python and passes its port in
    $PYSPARK_GATEWAY_PORT; plain ``python`` starts its own JVM and has none,
    so the result is empty."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "uk-ner-kg",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session on ``local[cores]`` (default `default_cores`).
    Under a launcher, every key it set — ``spark.master`` included — stands
    over these defaults, so spark-submit runs the configuration the tests
    run on its own master; ``extra_conf`` overrides both."""
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    defaults = {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # r8 (guide §3.1): let the planner pick shuffled-hash join when
        # its size conditions fit (no sort on either side), and let AQE
        # rewrite a planned sort-merge to shuffled-hash when every
        # post-shuffle partition is under 64 MB — bounded build side, so
        # the SHJ OOM risk stays capped at any corpus size.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "67108864",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.python.worker.reuse": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    launcher = launcher_conf()
    b = SparkSession.builder.appName(app_name)
    for k, v in defaults.items():
        if k not in launcher:
            b = b.config(k, v)
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
