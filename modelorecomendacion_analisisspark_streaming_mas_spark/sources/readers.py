"""Batch sources & sinks (SURVEY.md section 2.1, S1-S5, S11).

Reference behaviors re-expressed:
  S1  ``::``-separated .dat scans with explicit schema
      (Explorativa/Explorativa1_pyspark.ipynb:59,183,328)
  S2  header CSVs with schema inference (Explorativa/Explorativa2.ipynb:274)
  S3  parquet scans (Explorativa/Explorativa2.ipynb cell 1)
  S4  parquet writes -- the reference writes curated tables with pandas
      ``to_parquet`` (Explorativa/Explorativa1_pandas.ipynb:2255); ours uses
      the distributed Spark writer so a 100 TB table never touches the driver.
  S5  5-row head CSVs (Explorativa/Explorativa1_pandas.ipynb:2254)

Scale notes: parquet scans get Catalyst predicate pushdown + column pruning
for free; writers accept ``partition_by`` so big facts land partitioned for
partition-pruned reads downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Driver-provided testdata star schema (TESTDATA.md).
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def read_dat(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    sep: str = "::",
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """S1: delimiter-separated text with an explicit schema, no header."""
    return spark.read.csv(path, sep=sep, schema=schema, header=False, encoding=encoding)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """S2: small metrics-style CSV, header + inference (driver-side footgun
    at scale -- inference scans the data twice; keep for small files only)."""
    return spark.read.csv(path, header=True, inferSchema=True)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S3: columnar scan; filters/projections push down into the file scan."""
    return spark.read.parquet(path)


# Minimum estimated input bytes before a CHAINED-PYTHON pipeline (two or
# more mapInPandas/mapInArrow hops fused into one stage) is worth
# spreading. Each spread task of such a pipeline pays the round-robin
# Exchange plus TWO Python-worker handshakes; in a run-once regime that
# fixed cost is seconds (the r16 driver bench: mm02 2.67 -> 8.11 s at 32
# cores from spreading a 5000-row / ~600 KB corpus whose single-threaded
# encode is <1 s), while the work it parallelizes grows with rows.
# Break-even arithmetic: the synth encode runs ~5-10k rows/s serial and
# narrow (id, text) rows estimate ~50-120 B each, so ~8 MB is ~50-100k
# rows is ~10 s of serial encode -- past the worst driver-measured spread
# fixed cost with margin. Below the floor the serialized compute is
# cheaper than the spread; above it (any real corpus -- at 100 TB a scan
# is thousands of splits and spread() no-ops anyway) the widening pays.
# The gate compares against Catalyst's parquet sizeInBytes, which is the
# COMPRESSED on-disk file size, not the logical row bytes. The 8 MB floor
# is therefore conservative: a well-compressed corpus crosses it only at
# more rows (and more serial encode time) than the arithmetic above
# assumes.
PY_CHAIN_SPREAD_MIN_BYTES = 8 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the frame (driver-side plan stats,
    no job): file-size-derived for parquet scans, which is exactly the
    scale signal the spread gate needs. None when unavailable."""
    try:
        # Py4J maps scala.math.BigInt to a Python int already; str() round-
        # trips both that and a raw Java object safely
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def spread(df: DataFrame, cap: int | None = None, min_bytes: int | None = None) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row projections.

    A small parquet file arrives as ONE input partition, serializing any
    expensive expression chain (md5 lattices, shingle expansion) onto a
    single core. On a real cluster a 100 TB scan is already thousands of
    splits, so this is a no-op there -- it only round-robins when the scan
    has fewer partitions than the session's parallelism. (Plan-level check
    only; triggers no job.)

    ``cap`` bounds the widening for stages whose PER-TASK fixed cost is
    high -- chained mapInPandas hops pay two Python-worker handshakes +
    Arrow transposes per task, so tasks under a few hundred rows are
    handshake-dominated (r16 mm02 sweep at sf0.1: 4/8/16/32 partitions ->
    1.46/1.35/1.55/2.14 s warm; full parallelism LOST time). The cap only
    changes the replay regime: real multi-split scans skip the
    repartition entirely, cap or not.

    ``min_bytes`` skips the widening outright when Catalyst's size
    estimate for ``df`` is below it (pass PY_CHAIN_SPREAD_MIN_BYTES for
    chained-Python pipelines): on replay-sized inputs the spread's fixed
    cost -- an Exchange plus a fresh wave of Python-worker spawns per
    hop, paid in full when every query runs exactly once -- exceeds the
    serialized compute it saves (r16 driver bench: mm02 3x WORSE spread
    than not). Scale-adaptive, not environment-pinned: the gate reads
    the input's estimated size, so the same code spreads any real corpus
    and no-ops on replay fixtures."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if cap is not None:
        target = min(target, cap)
    if min_bytes is not None:
        est = _plan_size_bytes(df)
        if est is not None and est < min_bytes:
            return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def table_fingerprint(sf_dir: str, names: tuple[str, ...]) -> tuple:
    """Cheap driver-side content key for plans/memo.py's process-lifetime
    memo of frames/staging dirs DERIVED from an sf_dir's tables: the sorted
    (relative path, size, mtime_ns) of every data file under each
    ``{table}.parquet`` (file or directory). A path-only cache key would
    silently serve stale derived data if the parquet under an sf_dir is
    regenerated in-place within one process (e.g. a drift-variant sweep
    reusing a directory) -- regeneration changes mtimes at minimum, so a
    fingerprinted key can never hit stale. The os.scandir walk touches
    only directory metadata, never file bytes: O(files) stat calls, no
    Spark job."""
    import os

    out = []
    for name in names:
        root = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(root):
            st = os.stat(root)
            out.append((name, st.st_size, st.st_mtime_ns))
        elif os.path.isdir(root):
            for dirpath, _dirs, files in os.walk(root):
                rel = os.path.relpath(dirpath, root)
                for f in sorted(files):
                    st = os.stat(os.path.join(dirpath, f))
                    out.append((f"{name}/{rel}/{f}", st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize the events table's ``ts`` to session-tz TIMESTAMP whatever
    the generator wrote: TIMESTAMP(NANOS) (Spark 4 refuses outright,
    PARQUET_TYPE_ILLEGAL -- read nanos as long via the legacy conf, rebuild
    with integer DIV so no double-precision loss on ~1.7e18 ns epochs) or
    plain timestamp[us] with isAdjustedToUTC=false (arrives as
    TIMESTAMP_NTZ, which watermarks reject -- cast; session tz is pinned to
    UTC so the wall-clock mapping is exact and matches DuckDB's naive read)."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def local_rows_df(
    spark: SparkSession,
    rows: list,
    schema,
    n_slices: int = 1,
) -> DataFrame:
    """Tiny-literal DataFrame (S11) without the default-parallelism fan-out.

    ``spark.createDataFrame(local_rows)`` slices the rows across
    ``defaultParallelism`` pickled partitions (31 of them empty for a
    one-row frame at local[32]); any single-task consumer downstream --
    a ``coalesce(1)`` write, a broadcast build -- then pays a
    Python-worker round-trip PER SLICE, measured ~4 s for ONE row on
    local[32]. One explicit slice yields the identical rows/schema in
    ~0.05 s. At cluster scale the same fan-out wastes a task launch per
    core for frames that are driver-literal by construction.
    """
    if not rows:
        return spark.createDataFrame([], schema)
    rdd = spark.sparkContext.parallelize(rows, numSlices=max(1, n_slices))
    return spark.createDataFrame(rdd, schema)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S4: distributed parquet write (vs the reference's pandas writer)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_head_csv(df: DataFrame, path: str, n: int = 5) -> None:
    """S5: persist an n-row sample head as a single CSV for eyeballing."""
    df.limit(n).coalesce(1).write.mode("overwrite").option("header", True).csv(path)
