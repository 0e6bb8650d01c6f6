"""Streaming sources & sinks (SURVEY.md section 2.1 S6-S10, section 2.9).

The reference consumes two Kafka topics (app/spark_stream.py:20-24,
app3/live_counts.py:41-46). This container has no broker, so the engine's
canonical replay path is a FILE source over the events table (deterministic,
offset-tracked, exercised in tests) plus a RATE source for load generation;
the Kafka readers build the exact same downstream plan and are gated behind
the connector's availability.

At scale: the file source lists+tracks files per micro-batch (maxFilesPerTrigger
bounds batch size); Kafka partitions map 1:1 to tasks -- both feed identical
stateful plans.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .readers import load_events


def events_schema(spark: SparkSession, sf_dir: str) -> StructType:
    return load_events(spark, sf_dir).schema


def stage_events_for_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, copies: int = 1, n_files: int | None = None
) -> StructType:
    """Materialize the (timestamp-normalized) events table into a replay
    directory; ``copies`` > 1 plants exact duplicates to exercise streaming
    dedup, ``n_files`` splits the replay into that many files (so
    maxFilesPerTrigger can force genuinely incremental multi-batch runs).
    Returns the schema for the file-stream reader.

    The staged files are EVENT-TIME ORDERED (a global orderBy writes
    range-partitioned part files whose lexicographic names follow ts, and
    pin_replay_order makes those names the replay order): historical
    replay in event-time order is the standard backfill discipline, and
    it guarantees no sane row is ever declared late REGARDLESS of how
    availableNow splits the files into micro-batches. Unordered staging
    let a batch boundary fall between a new-era row and an older row,
    silently late-dropping the older one (r14 timex find). ``copies`` are
    UNIONED BEFORE the sort so duplicates ride adjacent in the same
    range, not as a second later wave that arrives entirely late."""
    ev = load_events(spark, sf_dir)
    if copies > 1:
        base = ev
        for _ in range(1, copies):
            ev = ev.unionByName(base)
    if n_files:
        ev = ev.repartitionByRange(n_files, "ts", "event_id").sortWithinPartitions(
            "ts", "event_id"
        )
    else:
        ev = ev.orderBy("ts", "event_id")
    ev.write.mode("overwrite").parquet(out_dir)
    pin_replay_order(out_dir)
    return ev.schema


def pin_replay_order(staged_dir: str) -> None:
    """Make the file source replay ``staged_dir``'s part files in path
    order, one second of mtime apart.

    Spark's FileStreamSource orders files by modification time alone and
    keeps directory-listing order among equal mtimes, and that order
    changes from one write to the next (a part name carries the write's
    UUID). Parallel writes also finish out of part order. So neither the
    write's own mtimes nor one shared mtime decide which part a
    micro-batch reads; mtimes that increase in path order do."""
    parts = sorted(glob.glob(os.path.join(staged_dir, "part-*")))
    if parts:
        t = os.stat(parts[0]).st_mtime_ns
        for i, p in enumerate(parts):
            os.utime(p, ns=(t + i * 10**9, t + i * 10**9))


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S6-analog: deterministic file-source replay (tests' Kafka stand-in)."""
    r = spark.readStream.schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """S10-analog: reproducible load generator (the bots' rate contract,
    bots/bot_random.py:39-56, without a broker)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


# The Kafka source's fixed wire schema (what .load() returns with the
# connector jar present). Pinned here so broker-free environments can
# still contract-test everything downstream of the connector.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)


def kafka_options(brokers: str, topic: str, starting_offsets: str = "latest") -> dict[str, str]:
    """The exact reader options kafka_stream sets -- a pure function so the
    option contract (S6/S7) is testable without a broker or connector jar
    (tests/test_streaming.py asserts it; a typo here can no longer hide
    behind the connector skip)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S6/S7: Kafka source (requires the spark-sql-kafka connector jar).

    Mirrors app/spark_stream.py:20-24 + the earliest-offsets variant at
    apps_mediciones/live_counts_update_earliest.py:45-51.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(brokers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return reader.load()


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


# Shuffle width for REPLAY-SIZED streams, passed to run_available_now by
# every entry that pins one (query code references this knob, never a
# literal, so the sizing policy has one home). Two roles, one size:
# * state-store parallelism of windowed/grouped aggregations (HDFS-backed
#   store, keys = windows x types, thousands of cheap keys): enough
#   partitions to spread the state without paying per-instance open cost
#   for instances that would each hold a handful of keys;
# * exchange width of the foreachBatch probes' per-batch joins: each
#   micro-batch carries a fraction of the replay (1/2 of the new docs in
#   s26), so session-wide exchanges are pure task overhead (micro-batches
#   x several joins). At scale this is per-batch sizing, and it never
#   changes which best match a document gets.
# Per-key Python-handler operators derive theirs from key cardinality
# instead (derive_state_partitions).
REPLAY_SHUFFLE_PARTITIONS = 8


# Keys per partition needed to amortize one RocksDB instance's per-micro-
# batch open/commit under a HEAVY Python handler (per-key sort/replay
# work). Measured at sf0.1 (r15): 1500 session keys ran ~5.3s warm at 16
# partitions (~94 keys each) vs ~6.5-7.8s at 32 (~47 keys each) -- the
# extra instances cost more than their parallelism buys until each holds
# on the order of a hundred keys.
HEAVY_HANDLER_KEYS_PER_PARTITION = 100


def derive_state_partitions(
    spark: SparkSession, n_keys: int, keys_per_partition: int = 1
) -> int:
    """State-store parallelism derived from KEY CARDINALITY, not a literal
    pin in query code (r14 VERDICT #6).

    Every shuffle partition of a stateful operator opens + commits its own
    state-store instance per micro-batch, so partitions beyond the number
    of distinct keys are pure fixed cost: 8 RocksDB instances for 5 keys
    measured 2.4x slower than 4 at sf0.1 (the regression guard lives in
    tests/test_streaming.py::test_derive_state_partitions_tracks_keys).
    Below that ceiling, parallelism helps whenever the per-key handler
    does real Python work, but each extra instance still pays the store
    lifecycle -- ``keys_per_partition`` is the amortization floor (pass
    HEAVY_HANDLER_KEYS_PER_PARTITION for handlers that buffer/replay per
    key; leave 1 for trivial counters, whose key counts are the binding
    term anyway). The knob therefore rises with key cardinality until
    the session default governs (a real cluster's billions of keys), and
    falls toward the key count / amortization floor on replay-sized
    state.
    """
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    amortized = -(-int(n_keys) // max(1, int(keys_per_partition)))  # ceil div
    return max(1, min(int(n_keys), default, amortized))


_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def run_available_now(
    df: DataFrame,
    sink: str | tuple[str, str] | Callable[[DataFrame, int], None],
    *,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
    rocksdb_state: bool = False,
) -> DataFrame | None:
    """Run a streaming plan to completion with the availableNow trigger:
    the engine's one run-once entry point (Structured Streaming's periodic-
    job mode). Returns the result frame for the memory sink, else None.

    ``sink`` is ``"memory"`` (S8: the reference's serving surface,
    app/spark_stream.py:31-36), a ``(format, path)`` pair for a file or
    Python-data-source sink (``("parquet", d)``, ``("jsonl_dir", d)``), or
    a foreachBatch function ``f(batch_df, epoch_id)``.

    The checkpoint is a fresh ``memo.scratch_dir`` removed when the run
    ends. A memory-sink run registers its table under a unique ``mem_``
    name (repeated or concurrent calls never collide), binds the result
    frame to it, then drops the view: the frame keeps the sink's rows,
    and the session keeps no view.

    ``shuffle_partitions`` sizes the STATE STORE parallelism, pinned at
    query start for the checkpoint's lifetime: a stream-stream join opens
    4 state-store instances per shuffle partition, so this must track
    expected state volume, not batch defaults (4-5x on replay-sized state;
    on a real cluster size it to executors x cores). For foreachBatch it is
    also the width of every exchange inside the per-batch function.
    ``rocksdb_state`` switches the state store to the RocksDB provider
    (off-heap, spills to local disk) -- the 100 TB configuration when
    per-key state exceeds executor heap (e.g. billions of dedup keys).
    Results are provider-independent, pinned by
    tests/test_streaming_recovery.py::test_rocksdb_state_store_parity.
    Both confs are set for the run and restored after it, which is safe
    because availableNow + awaitTermination is synchronous.

    availableNow still ends with a no-data micro-batch once the watermark
    has moved; append-mode windows (s13) rely on it to close."""
    from ..plans import memo  # plans/ imports this module at load time

    spark = df.sparkSession
    pins = {}
    if shuffle_partitions is not None:
        pins["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if rocksdb_state:
        pins[_PROVIDER_CONF] = ROCKSDB_PROVIDER
    prev = {k: spark.conf.get(k, None) for k in pins}
    ckpt = memo.scratch_dir("ckpt")
    writer = (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    name = None
    if sink == "memory":
        name = f"mem_{uuid.uuid4().hex[:12]}"
        writer = writer.format("memory").queryName(name)
    elif callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        fmt, path = sink
        writer = writer.format(fmt).option("path", path)
    for k, v in pins.items():
        spark.conf.set(k, v)
    try:
        writer.start().awaitTermination()
        return spark.table(name) if name else None
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        if name:
            spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
