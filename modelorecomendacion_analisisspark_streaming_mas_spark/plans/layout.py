"""Storage-layout queries: clustered (range-partitioned, sorted) parquet
writes and the data skipping they buy.

At 100 TB the write layout IS the read optimizer: a table range-
partitioned and sorted on its hot predicate column gives every file (and
every row group inside it) a narrow min/max envelope, so a selective
scan prunes most of the data from the parquet FOOTERS alone -- before a
single data page is read. Two layouts, zero extra dependencies, pure
Spark:

- single-dimension clustering (``write_clustered``): repartitionByRange
  + sortWithinPartitions on the one hot column (q50);
- Morton/Z-order clustering (``write_zordered``): bit-interleave two
  bucketized dimensions so a selective filter on EITHER column skips
  most row groups (q51) -- what a single sort column can never give the
  second dimension.

q50/q51 prove the round-trips are lossless (layout must never change
query results); tests/test_layout.py proves the skipping itself by
reading the row-group statistics of the written files and counting how
few envelopes overlap the filter window (vs ~all of them for the
unsorted original layout).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from . import memo
from .catalog import disc_money_sum_spark, money_sum_spark, grid_mean_spark, grid_mean_sql, register


def write_clustered(
    df: DataFrame, path: str, range_col: str, n_partitions: int = 8
) -> None:
    """Range-partition on ``range_col`` (one disjoint value range per
    output file) and sort within each partition (monotone row groups
    inside each file -> tight per-row-group min/max stats)."""
    (
        df.repartitionByRange(n_partitions, F.col(range_col))
        .sortWithinPartitions(range_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def clustered_lineitem_dir(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> str:
        write_clustered(load_table(spark, sf_dir, "lineitem"), d, "l_shipdate")
        return d

    return memo.staged("clustered_lineitem", sf_dir, ("lineitem",), write)


def zorder_key(col_a: F.Column, col_b: F.Column, bits: int = 16) -> F.Column:
    """Interleave the low ``bits`` bits of two bucketized columns into a
    Morton (Z-order) key. Pure bitwise Column expressions -- the whole
    key stays inside whole-stage codegen, no UDF. Inputs must already be
    longs in [0, 2^bits)."""
    parts = []
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(col_a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        parts.append(F.shiftleft(F.shiftright(col_b, i).bitwiseAND(F.lit(1)), 2 * i))
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def _scaled_bucket(col: F.Column, lo: float, hi: float, bits: int) -> F.Column:
    """Linear map of a numeric column onto [0, 2^bits) as a long."""
    span = max(hi - lo, 1e-9)
    return F.least(
        F.lit((1 << bits) - 1),
        ((col.cast("double") - F.lit(float(lo))) * F.lit(((1 << bits) - 1) / span))
        .cast("long"),
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_partitions: int = 16,
    bits: int = 16,
    drop_after: tuple[str, ...] = (),
) -> None:
    """Z-order clustering on TWO dimensions: bucketize each column onto a
    2^bits grid (driver collects just the two min/max pairs -- scalars),
    interleave into a Morton key, range-partition + sort on the key, drop
    it, write. Each output file then covers a compact rectangle-ish
    region of (col_a, col_b) space, so a selective filter on EITHER
    dimension skips most row-group envelopes -- the property a single
    sort column cannot give the second dimension. This is the layout
    trade 100 TB tables make for multi-predicate scan workloads."""
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    lo_a, hi_a, lo_b, hi_b = df.select(
        F.min(a), F.max(a), F.min(b), F.max(b)
    ).first()
    if lo_a is None or lo_b is None:
        # EMPTY input (r12 empty-tables hostile variant): there is
        # nothing to cluster -- write the (empty) frame as-is so readers
        # see the same schema
        df.drop(*drop_after).write.mode("overwrite").parquet(path)
        return
    key = zorder_key(
        _scaled_bucket(F.col(col_a).cast("double"), lo_a, hi_a, bits),
        _scaled_bucket(F.col(col_b).cast("double"), lo_b, hi_b, bits),
        bits,
    )
    (
        df.withColumn("__z", key)
        .repartitionByRange(n_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *drop_after)
        .write.mode("overwrite")
        .parquet(path)
    )


def zordered_lineitem_dir(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> str:
        li = load_table(spark, sf_dir, "lineitem").withColumn(
            "__ship_epoch", F.col("l_shipdate").cast("timestamp").cast("long")
        )
        write_zordered(li, d, "__ship_epoch", "l_partkey", drop_after=("__ship_epoch",))
        return d

    return memo.staged("zorder_lineitem", sf_dir, ("lineitem",), write)


# --------------------------------------------------------------------------
# q50: clustered-layout round trip. Write lineitem clustered on
# l_shipdate, read it back through the narrow 1996Q1 window (the filter
# lands in PushedFilters and, thanks to the layout, skips all but the
# overlapping files/row groups), and aggregate. The oracle runs on the
# ORIGINAL table: layout must be invisible to results.
# --------------------------------------------------------------------------


@register(
    "q50_clustered_scan_pruning",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       (CASE WHEN sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) >= 0
             THEN ((2 * sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) + 100) // 200)
             ELSE -(((-2 * sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT))) + 100) // 200)
        END / 1e2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
GROUP BY l_returnflag
""",
)
def q50_clustered_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = clustered_lineitem_dir(spark, sf_dir)
    li = spark.read.parquet(d)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            disc_money_sum_spark().alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# q51: z-ordered layout round trip. The filter is on l_partkey -- the
# SECOND clustering dimension, the one q50's single-column sort can do
# nothing for -- and still skips most row groups (tests/test_layout.py
# measures the envelope overlap on both dimensions). Oracle on the
# original table: layout invisible to results.
# --------------------------------------------------------------------------


@register(
    "q51_zorder_scan_pruning",
    oracle="""
SELECT l_returnflag,
       count(*) AS n,
       (sum(CAST(round(l_quantity * 100) AS BIGINT)) / 1e2) AS sum_qty
FROM lineitem
WHERE l_partkey >= 100 AND l_partkey < 350
GROUP BY l_returnflag
""",
)
def q51_zorder_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = zordered_lineitem_dir(spark, sf_dir)
    li = spark.read.parquet(d)
    return (
        li.filter((F.col("l_partkey") >= 100) & (F.col("l_partkey") < 350))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum_spark("l_quantity").alias("sum_qty"),
        )
    )


def compact_parquet(
    spark: SparkSession, in_dir: str, out_dir: str, target_file_bytes: int = 128 << 20
) -> int:
    """Small-file compaction: merge a fragmented parquet directory into
    ceil(total_bytes / target) files via coalesce -- NO shuffle, each
    output task just reads a run of input files and streams them out.
    Returns the output file count.

    At 100 TB, small files are a scan killer (driver listing time, one
    task per tiny split, footer-open overhead); streaming sinks and
    over-parallel writers produce them constantly. The compaction unit is
    a partition DIRECTORY, not the table: run this per hot partition so
    the job stays embarrassingly parallel across partitions. Sizing from
    the file listing (driver-side metadata, not data) keeps output files
    near the target regardless of input fragmentation."""
    import glob
    import math
    import os

    total = sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(in_dir, "*.parquet"))
    )
    n = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(in_dir).coalesce(n).write.mode("overwrite").parquet(out_dir)
    return n


def _fragmented_then_compacted(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage q52's fixture: lineitem shattered into 64 shards, then
    compacted back down by byte-size target. Returns (fragmented,
    compacted) dirs."""

    def write(d: str) -> tuple[str, str]:
        frag, comp = f"{d}/frag", f"{d}/compact"
        load_table(spark, sf_dir, "lineitem").repartition(64).write.mode(
            "overwrite"
        ).parquet(frag)
        compact_parquet(spark, frag, comp, target_file_bytes=8 << 20)
        return frag, comp

    return memo.staged("fragmented_lineitem", sf_dir, ("lineitem",), write)


# --------------------------------------------------------------------------
# q52: compaction round trip. 64-way fragmented lineitem -> size-targeted
# compaction -> query the compacted copy with the oracle on the ORIGINAL
# table: compaction must be invisible to results. tests/test_layout.py
# asserts the file-count collapse itself.
# --------------------------------------------------------------------------


@register(
    "q52_compaction_roundtrip",
    oracle="""
SELECT l_linestatus,
       count(*) AS n,
       (sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 1e2) AS sum_price
FROM lineitem
GROUP BY l_linestatus
""",
)
def q52_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, d = _fragmented_then_compacted(spark, sf_dir)
    return (
        spark.read.parquet(d)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum_spark("l_extendedprice").alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# q72: ORC round-trip -- the second columnar format Spark ships natively.
# The same lineitem slice is written as ORC (zlib, the Spark default)
# and read back; the aggregate must equal the parquet-sourced oracle,
# proving format-level losslessness (nulls, doubles, strings, timestamps
# all survive). Format breadth matters at 100 TB because ingestion
# rarely controls its upstream: a lakehouse reads what it is given.
# --------------------------------------------------------------------------


def _orc_copy(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> str:
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").orc(d)
        return d

    return memo.staged("orc_lineitem", sf_dir, ("lineitem",), write)


@register(
    "q72_orc_roundtrip",
    oracle=f"""
SELECT l_returnflag,
       count(*) AS n,
       (sum(CAST(round(l_quantity * 100) AS BIGINT)) / 1e2) AS sum_qty,
       {grid_mean_sql('l_discount', 100, 6)} AS avg_disc
FROM lineitem
GROUP BY l_returnflag
""",
    doc="Native ORC write + read-back of lineitem; aggregate equals the "
    "parquet-sourced oracle (format round-trip losslessness).",
)
def q72_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _orc_copy(spark, sf_dir)
    return (
        spark.read.orc(d)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum_spark("l_quantity").alias("sum_qty"),
            # 2dp grid -> integer-grid mean (r11, t14 lesson)
            grid_mean_spark("l_discount", 100, 6).alias("avg_disc"),
        )
    )


# --------------------------------------------------------------------------
# q76: JSON-lines round-trip -- the row-oriented interchange format (the
# one most 100 TB ingestion actually receives from upstream APIs/logs).
# The orders slice is written as JSONL and read back WITH AN EXPLICIT
# SCHEMA (schema inference on JSON is a full extra pass over the data --
# never at scale); the aggregate must equal the parquet-sourced oracle,
# proving longs/doubles/strings/dates survive the text round-trip.
# --------------------------------------------------------------------------


def _jsonl_copy(spark: SparkSession, sf_dir: str):
    def write(d: str):
        src = load_table(spark, sf_dir, "orders")
        src.write.mode("overwrite").json(d)
        return d, src.schema

    return memo.staged("jsonl_orders", sf_dir, ("orders",), write)


@register(
    "q76_json_roundtrip",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       (sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 1e2) AS sum_price,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders
GROUP BY o_orderstatus
""",
    doc="JSON-lines write + schema-explicit read-back of orders; "
    "aggregate equals the parquet-sourced oracle (text round-trip "
    "losslessness; no inference pass).",
)
def q76_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d, schema = _jsonl_copy(spark, sf_dir)
    return (
        spark.read.schema(schema)
        .json(d)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum_spark("o_totalprice").alias("sum_price"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
    )


# --------------------------------------------------------------------------
# q81: the Spark-4 Python Data Source BATCH READER under the driver gate
# -- the reference's `::`-separated .dat format (S1) written by Spark as
# text and read back through `format("dat")` (one task per file,
# permissive casts). Aggregate equals the parquet-sourced oracle, so the
# custom source's split/convert path is hash-certified, not just
# unit-tested.
# --------------------------------------------------------------------------


def _dat_copy(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> str:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.select(
                # concat_ws SKIPS null arguments (r14 nullkeys find): a
                # NULL o_custkey row would serialize with THREE fields,
                # shifting every later column under the reader. NULL must
                # serialize as an EMPTY field between separators (the
                # reader's ''-> null convention), so coalesce each field
                # to '' before joining.
                F.concat_ws(
                    "::",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit(""))
                        for c in (
                            "o_orderkey",
                            "o_custkey",
                            "o_totalprice",
                            "o_orderstatus",
                        )
                    ],
                ).alias("value")
            # 8 files -> 8 DS InputPartitions: files are the dat source's
            # unit of parallelism, so the staged copy should exercise a
            # parallel read, not a single-task one
            ).repartition(8).write.mode("overwrite").text(d)
        )
        # drop Spark's _SUCCESS marker: the dat reader globs every file
        for junk in glob.glob(os.path.join(d, "_*")):
            os.remove(junk)
        return d

    return memo.staged("dat_orders", sf_dir, ("orders",), write)


@register(
    "q81_dat_source_roundtrip",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n,
       (sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 1e2) AS sum_price,
       CAST(max(o_orderkey) AS BIGINT) AS max_key
FROM orders
GROUP BY o_orderstatus
""",
    doc="Python DS batch reader (format('dat'), the reference's "
    "::-separated S1 format) round-trip: Spark-written text read back "
    "through the custom source; aggregate equals the parquet oracle.",
)
def q81_dat_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.python_datasource import register_dat_source

    register_dat_source(spark)
    d = _dat_copy(spark, sf_dir)
    back = (
        spark.read.format("dat")
        .schema(
            "o_orderkey long, o_custkey long, o_totalprice double, o_orderstatus string"
        )
        .option("sep", "::")
        .option("encoding", "utf-8")
        .load(d)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        money_sum_spark("o_totalprice").alias("sum_price"),
        F.max("o_orderkey").alias("max_key"),
    )
