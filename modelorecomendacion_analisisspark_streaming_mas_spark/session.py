"""SparkSession factory.

The reference creates ad-hoc sessions per notebook/app (e.g.
``Explorativa/Explorativa1_pyspark.ipynb`` cell 1, ``app3/live_counts.py``)
with default confs. Here a single factory applies the scale-aware settings
SURVEY.md section 4 calls out: AQE (runtime coalesce + skew-join handling),
Arrow-backed Python transfer, explicit shuffle parallelism, and a UTC
session timezone so date formatting is reproducible against the DuckDB
oracle.

At 100 TB the same code runs unchanged on a real cluster: only
``master``/``shuffle_partitions`` change (shuffle partitions sized to
~128 MB of shuffle data each; AQE coalesces the rest).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def _default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    except ValueError:
        return os.cpu_count() or 8


def get_spark(
    app_name: str = "mras-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Any conf here is a *default*: an existing session (e.g. one the test
    driver passes in) is reused as-is by Spark's getOrCreate semantics.
    """
    cores = _default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    parts = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cores)))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Iterative algorithms (ALS, PageRank, connected components) need lineage
    # truncation: deep unchckpointed lineages overflow the serializer
    # (observed at ALS maxIter=40). Cheap to set unconditionally.
    if spark.sparkContext.getCheckpointDir() is None:
        import tempfile

        spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix="spark_ckpt_"))
    return spark


def unpersist(df: DataFrame) -> None:
    """Free the storage behind ``df``: its cache entry, and the blocks of
    an eager localCheckpoint (a LogicalRDD over a persisted RDD), which
    ``DataFrame.unpersist`` leaves alone."""
    try:
        df.unpersist()
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Py4JError:
        # the owning context is already stopped: nothing is left to free
        pass
