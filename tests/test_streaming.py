"""Streaming behavior tests beyond the oracle-matched catalog queries:
multi-trigger replay, JSON feedback parsing (the reference's app3 path),
trigger-metrics listener, foreachBatch snapshot sink."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from modelorecomendacion_analisisspark_streaming_mas_spark.sources.generators import (
    write_feedback_jsonl,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
    file_stream,
    run_available_now,
    stage_events_for_replay,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.metrics import (
    TriggerMetricsListener,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.pipelines import (
    AGE_BINS,
    feedback_age_bins,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.sinks import (
    foreach_batch_json_snapshot,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.functions.etl import when_chain


def _bin_of(age: int) -> str:
    for low, high, label in AGE_BINS:
        if (low is None or age >= low) and (high is None or age < high):
            return label
    raise AssertionError(age)


def test_feedback_stream_age_bins(spark):
    d = tempfile.mkdtemp(prefix="mras_fb_")
    events = write_feedback_jsonl(d, n=300, files=3, seed=7)
    stream = spark.readStream.format("text").load(d).withColumnRenamed("value", "value")
    binned = feedback_age_bins(stream, "value").groupBy("gender", "age_bin").count()
    out = run_available_now(binned, "memory", output_mode="complete")
    got = {(r["gender"], r["age_bin"]): r["count"] for r in out.collect()}

    expected: dict[tuple[str, str], int] = {}
    for e in events:
        k = (e["gender"], _bin_of(e["age"]))
        expected[k] = expected.get(k, 0) + 1
    assert got == expected


def test_trigger_metrics_listener(spark, sf_dir):
    listener = TriggerMetricsListener()
    spark.streams.addListener(listener)
    try:
        d = tempfile.mkdtemp(prefix="mras_replay_")
        schema = stage_events_for_replay(spark, sf_dir, d)
        # re-write as several files so availableNow yields multiple triggers
        multi = tempfile.mkdtemp(prefix="mras_multi_")
        spark.read.parquet(d).repartition(4).write.mode("overwrite").parquet(multi)
        stream = file_stream(spark, multi, schema, max_files_per_trigger=1)
        counts = stream.groupBy("event_type").count()
        out = run_available_now(counts, "memory", output_mode="complete")
        assert out.count() > 0
        # listener events arrive on the JVM callback thread -- wait briefly
        deadline = time.time() + 10
        while time.time() < deadline and len(listener.rows) < 2:
            time.sleep(0.2)
        s = listener.summary()
        assert s["triggers"] >= 2, listener.rows
        assert s["mean_ms"] > 0 and s["median_ms"] > 0
        csv_path = os.path.join(multi, "metrics.csv")
        listener.to_csv(csv_path)
        header = open(csv_path).readline().strip()
        assert header == "epoch_id,count,duration_ms,timestamp"  # reference CSV contract
    finally:
        spark.streams.removeListener(listener)


def test_foreach_batch_snapshot_sink(spark, sf_dir):
    d = tempfile.mkdtemp(prefix="mras_replay_")
    schema = stage_events_for_replay(spark, sf_dir, d)
    stream = file_stream(spark, d, schema)
    snap_path = os.path.join(tempfile.mkdtemp(prefix="mras_snap_"), "snapshot.json")
    fb = foreach_batch_json_snapshot(snap_path, ["event_id"], "event_id", keep_last=50)
    q = (
        stream.select("event_id", "event_type")
        .writeStream.foreachBatch(fb)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = json.load(open(snap_path))
    assert len(snap["rows"]) == 50
    top_ids = [r["event_id"] for r in snap["rows"]]
    expected = [
        r["event_id"]
        for r in spark.read.parquet(d.rstrip("/"))  # noqa: PD011
        .orderBy(F.desc("event_id"))
        .limit(50)
        .collect()
    ]
    assert top_ids == expected


def test_kafka_source_builder_gated(spark):
    """S6/S7: the Kafka reader builds the documented plan when the
    connector jar is present; absent (this container), it must fail with
    the standard DATA_SOURCE_NOT_FOUND guidance, not something cryptic."""
    import pytest
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import kafka_stream

    try:
        df = kafka_stream(spark, "localhost:9092", "feedback", "earliest")
        assert "value" in df.columns  # jar present: schema is the kafka one
    except Exception as ex:
        assert "kafka" in str(ex).lower()
        pytest.skip("kafka connector not available (expected in container)")


def test_kafka_option_and_parse_contract_broker_free(spark):
    """S6/S7 contract WITHOUT a broker: (1) the exact reader options the
    Kafka source gets are pinned as data (a typo in subscribe/
    startingOffsets can't hide behind the connector skip); (2) the
    post-connector parse stage (feedback_age_bins) runs against a frame
    with the Kafka wire schema -- binary value and all -- and produces the
    same schema it does on the file-replay twin, so everything downstream
    of the jar is proven here."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
        KAFKA_WIRE_SCHEMA,
        kafka_options,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.pipelines import (
        feedback_age_bins,
    )

    assert kafka_options("broker1:9092,broker2:9092", "feedback", "earliest") == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "feedback",
        "startingOffsets": "earliest",
    }
    # default offsets mirror app/spark_stream.py (latest)
    assert kafka_options("b:9092", "t")["startingOffsets"] == "latest"

    import json

    payload = json.dumps(
        {"gender": "F", "occupation": "writer", "age": 34, "ratings": []}
    ).encode()
    wire = spark.createDataFrame(
        [(None, payload, "feedback", 0, 0, None, 0)], KAFKA_WIRE_SCHEMA
    )
    parsed = feedback_age_bins(wire)
    rows = parsed.collect()
    assert [f.name for f in parsed.schema.fields] == [
        "gender", "occupation", "age", "ratings", "age_bin",
    ]
    assert rows[0]["gender"] == "F" and rows[0]["age"] == 34
    assert rows[0]["age_bin"] == "25-34"


def test_watermark_late_data_contract_append_mode(spark):
    """The late-data contract (SURVEY 2.9's biggest reference gap), pinned
    empirically because it is SUBTLER than 'late rows are dropped':

    the watermark is a STATE-EVICTION bound, not a strict admission filter.
    A late row arriving while its window's state still exists merges into
    it; only rows arriving AFTER the window was emitted+evicted are dropped.
    """
    import os
    import tempfile
    from datetime import datetime

    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
        file_stream,
        run_available_now,
    )

    d = tempfile.mkdtemp(prefix="mras_wm_")
    schema = "ts timestamp, k string"

    def write_file(name, rows, mtime):
        path = os.path.join(d, name)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            path + ".tmp"
        )
        # move the part file up as a single visible file with a pinned mtime
        part = [f for f in os.listdir(path + ".tmp") if f.endswith(".parquet")][0]
        os.rename(os.path.join(path + ".tmp", part), os.path.join(d, name))
        os.utime(os.path.join(d, name), (mtime, mtime))

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: on-time events; max 10:55 -> watermark becomes 10:45
    write_file("b1.parquet", [(t(10, 5), "a"), (t(10, 10), "a"), (t(10, 55), "a")], 1000)
    # batch 2: advances watermark to 11:10 -> [10:00,10:30) AND [10:30,11:00)
    # emit and their state evicts
    write_file("b2.parquet", [(t(11, 20), "a")], 2000)
    # batch 3: late row for the ALREADY-EVICTED [10:00,10:30) -> dropped
    write_file("b3.parquet", [(t(10, 7), "a")], 3000)

    from pyspark.sql import functions as F

    stream = file_stream(spark, d, schema, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes").alias("win"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("win.start", "HH:mm").alias("start"), "n")
    )
    out = run_available_now(agg, "memory")
    got = {r["start"]: r["n"] for r in out.collect()}
    # [10:00,10:30): the two on-time rows only -- batch 3's 10:07 dropped
    # (state evicted). [10:30,11:00): the 10:55 row. [11:00,11:30): never
    # emits (watermark never passes its end).
    assert got == {"10:00": 2, "10:30": 1}, got


def test_longest_run_custom_state(spark):
    """applyInPandasWithState exemplar: crafted stream pinning run-length
    semantics, including the earliest-island tie-break and multi-batch
    state carry-over (2 files replayed => >=1 state reuse when the file
    source splits batches; semantics identical either way because the
    second file is strictly later in event time)."""
    import datetime as dt

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful import (
        longest_run_per_user,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(i, user, typ):
        return (i, t0 + dt.timedelta(seconds=i), user, typ, 1.0, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # user 1: a a b b -> tie (2 vs 2), earliest island wins => ('a', 2)
    # user 2: a b b b a -> ('b', 3)
    part1 = [row(1, 1, "a"), row(2, 1, "a"), row(3, 1, "b"),
             row(10, 2, "a"), row(11, 2, "b"), row(12, 2, "b")]
    part2 = [row(4, 1, "b"), row(13, 2, "b"), row(14, 2, "a")]

    d = tempfile.mkdtemp(prefix="mras_runs_")
    df1 = spark.createDataFrame(part1, cols)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(part2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = file_stream(spark, d, df1.schema, max_files_per_trigger=1)
    out = run_available_now(longest_run_per_user(stream), "memory", output_mode="update")
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("best_run").alias("best_run"),
            F.max_by("best_type", "n_events").alias("best_type"),
            F.max("n_events").alias("n_events"),
        )
        .collect()
    )
    got = {r["user_id"]: (r["best_run"], r["best_type"], r["n_events"]) for r in final}
    assert got == {1: (2, "a", 4), 2: (3, "b", 5)}
    # the second file is strictly later in event time, so the cross-batch
    # ordering precondition held and the operator certifies it
    assert out.agg(F.max("ooo_events")).first()[0] == 0


def test_transform_with_state_running_counts(spark):
    """Spark 4 transformWithStateInPandas (stateful_v2): running per-type
    (count, sum) must equal the batch groupBy over the replayed events.
    Skips only where NO protobuf runtime resolves (native or the vendored
    shim -- compat/protobuf_shim.py); requires the RocksDB state store
    because transformWithState keeps each state variable in its own column
    family."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import protobuf_shim

    if protobuf_shim.install() is None:
        pytest.skip("no protobuf runtime (native or vendored) on this host")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        running_count_sum_per_type,
    )

    d = tempfile.mkdtemp(prefix="mras_tws_")
    rows = [(i, f"t{i % 3}", float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, df.schema)
    out = run_available_now(
        running_count_sum_per_type(stream.select("event_type", "value")),
        "memory",
        output_mode="update",
        rocksdb_state=True,
    )
    final = {
        r["event_type"]: (r["n_events"], r["sum_value"])
        for r in out.groupBy("event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            (F.max_by("sum_cents", "n_events") / F.lit(1e2)).alias("sum_value"),
        )
        .collect()
    }
    expect = {
        r["event_type"]: (r["n"], r["s"])
        for r in df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == expect


def test_transform_with_state_latest_k_liststate(spark):
    """stateful_v2's SECOND typed-state surface: latest-k per key in a
    ListState. Replay two files; the final emission per key must equal the
    batch top-k by (ts desc, id desc), and state never exceeds k entries
    (the emission rows themselves prove it -- slot <= k)."""
    import datetime as dt

    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import protobuf_shim

    if protobuf_shim.install() is None:
        pytest.skip("no protobuf runtime (native or vendored) on this host")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        latest_k_per_type,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    cols = "event_id long, ts timestamp, event_type string"

    def row(i, typ):
        return (i, t0 + dt.timedelta(seconds=i), typ)

    part1 = [row(1, "a"), row(2, "a"), row(3, "b"), row(4, "a")]
    part2 = [row(5, "a"), row(6, "b"), row(7, "a")]
    d = tempfile.mkdtemp(prefix="mras_tws_lk_")
    df1 = spark.createDataFrame(part1, cols)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(part2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = file_stream(spark, d, df1.schema, max_files_per_trigger=1)
    out = run_available_now(
        latest_k_per_type(stream, k=2),
        "memory",
        output_mode="update",
        rocksdb_state=True,
    )

    assert out.agg(F.max("slot")).first()[0] <= 2  # state bounded at k
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    final = (
        out.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .select("event_type", "slot", "event_id")
        .collect()
    )
    got = {(r["event_type"], r["slot"]): r["event_id"] for r in final}
    # a saw ids 1,2,4,5,7 -> latest two: 7, 5; b saw 3,6 -> latest two: 6, 3
    assert got == {("a", 1): 7, ("a", 2): 5, ("b", 1): 6, ("b", 2): 3}


def test_transform_with_state_ttl_expires_across_restart(spark):
    """State TTL -- the knob that bounds stateful-v2 state at 100 TB key
    cardinality. Two availableNow runs share one checkpoint (a real
    restart, which also exercises state recovery): with a tiny TTL and a
    wall-clock gap between runs, the key's count restarts from the second
    batch alone; a no-TTL control over the same two batches accumulates."""
    import time

    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import protobuf_shim

    if protobuf_shim.install() is None:
        pytest.skip("no protobuf runtime (native or vendored) on this host")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        RunningCountSum,
    )

    cols = "event_type string, value double"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    def run_two_batches(ttl_ms):
        src = tempfile.mkdtemp(prefix="mras_ttl_src_")
        ckpt = tempfile.mkdtemp(prefix="mras_ttl_ckpt_")
        df1 = spark.createDataFrame([("a", 1.0), ("a", 2.0)], cols)
        df1.coalesce(1).write.mode("overwrite").parquet(src)

        def one_run(expect_max):
            # foreachBatch, not the memory sink: memory sinks reject
            # checkpoint RECOVERY, and this test's whole point is resuming
            # the same checkpoint. ProcessingTime time-mode queries keep
            # ticking empty batches (the TTL clock), so drain by polling
            # the accumulated output, then stop -- availableNow never
            # self-terminates here.
            acc = []
            stream = file_stream(spark, src, df1.schema)
            plan = stream.groupBy("event_type").transformWithStateInPandas(
                statefulProcessor=RunningCountSum(ttl_ms=ttl_ms),
                outputStructType="event_type string, n_events bigint, sum_cents bigint",
                outputMode="Update",
                # TTL clocks require a time mode (state expiry is evaluated
                # against it); "None" rejects ttlDurationMs at init.
                timeMode="ProcessingTime",
            )
            q = (
                plan.writeStream.foreachBatch(lambda df, eid: acc.extend(df.collect()))
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            deadline = time.time() + 120
            while time.time() < deadline:
                if max((r["n_events"] for r in acc), default=0) >= expect_max:
                    break
                time.sleep(0.3)
            q.stop()
            q.awaitTermination()
            return max((r["n_events"] for r in acc), default=None)

        assert one_run(expect_max=2) == 2
        time.sleep(2.0)  # let the TTL clock pass between runs
        spark.createDataFrame([("a", 10.0)], cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        return one_run(expect_max=1)

    try:
        # ttl far below the gap: run-1 state expired -> count restarts at 1
        assert run_two_batches(ttl_ms=500) == 1
        # control (no ttl): state survives the restart -> accumulates to 3
        assert run_two_batches(ttl_ms=None) == 3
    finally:
        if prior is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prior)
    """stateful_v2's THIRD typed-state surface: MapState point-updates.
    Across two micro-batches the per-(type, bucket) counts must equal the
    batch groupBy, and buckets untouched by a batch must persist in the
    map (the point of MapState over a wholesale-rewritten blob)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import protobuf_shim

    if protobuf_shim.install() is None:
        pytest.skip("no protobuf runtime (native or vendored) on this host")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        bucket_counts_per_type,
    )

    cols = "event_id long, event_type string, user_id long"
    # batch 1 touches buckets {0,1}; batch 2 touches only bucket 2 --
    # buckets 0/1 must survive in state and reappear in the emission
    part1 = [(1, "a", 10), (2, "a", 10), (3, "a", 11), (4, "b", 20)]
    part2 = [(5, "a", 12), (6, "b", 12)]
    d = tempfile.mkdtemp(prefix="mras_tws_ms_")
    df1 = spark.createDataFrame(part1, cols)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(part2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = file_stream(spark, d, df1.schema, max_files_per_trigger=1)
    out = run_available_now(
        bucket_counts_per_type(stream, n_buckets=10),
        "memory",
        output_mode="update",
        rocksdb_state=True,
    )

    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    final = (
        out.withColumn("mx", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("mx"))
        .select("event_type", "bucket", "n")
        .collect()
    )
    got = {(r["event_type"], r["bucket"]): r["n"] for r in final}
    assert got == {("a", 0): 2, ("a", 1): 1, ("a", 2): 1, ("b", 0): 1, ("b", 2): 1}


def test_longest_run_detects_out_of_order_across_batches(spark):
    """When a later micro-batch delivers events BELOW a user's event-time
    high-water mark, run stitching is no longer trustworthy -- the operator
    must surface that via ooo_events instead of silently mis-counting."""
    import datetime as dt

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful import (
        longest_run_per_user,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(i, user, typ):
        return (i, t0 + dt.timedelta(seconds=i), user, typ, 1.0, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    part1 = [row(10, 1, "a"), row(11, 1, "a")]
    part2 = [row(5, 1, "b"), row(12, 1, "a")]  # event_id 5 is 5s EARLIER

    d = tempfile.mkdtemp(prefix="mras_ooo_")
    df1 = spark.createDataFrame(part1, cols)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(part2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = file_stream(spark, d, df1.schema, max_files_per_trigger=1)
    out = run_available_now(longest_run_per_user(stream), "memory", output_mode="update")
    ooo = out.groupBy("user_id").agg(F.max("ooo_events").alias("ooo")).collect()
    by_user = {r["user_id"]: r["ooo"] for r in ooo}
    # Either the file source staged both files in one batch (sorted -> no
    # violation possible) or two batches (one violation). Under
    # max_files_per_trigger=1 it must be two batches => exactly 1.
    assert by_user[1] == 1, by_user


def test_incremental_rollup_merge_semantics(spark, tmp_path):
    """The foreachBatch merge must be latest-wins per key AND must leave
    keys/partitions untouched by a batch intact -- the two properties
    dynamic partition overwrite alone does not give."""
    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.sinks import (
        foreach_batch_incremental_rollup,
    )

    table = str(tmp_path / "mv")
    cb = foreach_batch_incremental_rollup(table, "day", ["day", "event_type"])
    b0 = spark.createDataFrame(
        [("2024-01-01", "click", 5), ("2024-01-01", "view", 2), ("2024-01-02", "click", 1)],
        "day string, event_type string, n long",
    )
    cb(b0, 0)
    # batch 1 updates day-1 click (new total 9), day-3 appears; day-1 view
    # and day-2 get no rows this batch and must survive.
    b1 = spark.createDataFrame(
        [("2024-01-01", "click", 9), ("2024-01-03", "error", 4)],
        "day string, event_type string, n long",
    )
    cb(b1, 1)
    got = {
        (str(r["day"]), r["event_type"]): r["n"]
        for r in spark.read.parquet(table).collect()
    }
    assert got == {
        ("2024-01-01", "click"): 9,
        ("2024-01-01", "view"): 2,
        ("2024-01-02", "click"): 1,
        ("2024-01-03", "error"): 4,
    }


def test_jsonl_dir_python_stream_writer_exactly_once(spark, sf_dir):
    """The Python DataSourceStreamWriter sink: multi-trigger availableNow
    replay lands every input row exactly once in manifest-committed JSONL
    files; orphaned temp files are invisible to the reader."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.python_datasource import (
        read_jsonl_sink,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    d = tempfile.mkdtemp(prefix="mras_replay_")
    schema = stage_events_for_replay(spark, sf_dir, d)
    multi = tempfile.mkdtemp(prefix="mras_multi_")
    spark.read.parquet(d).repartition(3).write.mode("overwrite").parquet(multi)
    stream = file_stream(spark, multi, schema, max_files_per_trigger=1)
    out_dir = tempfile.mkdtemp(prefix="mras_jsonl_sink_")
    q = (
        stream.select("event_id", "event_type")
        .writeStream.format("jsonl_dir")
        .option("path", out_dir)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="mras_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # Plant an orphaned temp file: committed readers must not see it.
    orphan_dir = os.path.join(out_dir, "_tmp")
    os.makedirs(orphan_dir, exist_ok=True)
    with open(os.path.join(orphan_dir, "orphan.jsonl"), "w") as f:
        f.write('{"event_id": -1, "event_type": "bogus"}\n')
    got = read_jsonl_sink(spark, out_dir)
    src = spark.read.parquet(multi)
    assert got.count() == src.count()
    assert got.filter(F.col("event_id") == -1).count() == 0
    # exactly-once at row granularity: ids match as a multiset
    assert (
        got.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0
    )
    # >1 batch committed (max_files_per_trigger=1 over 3 files)
    manifests = os.listdir(os.path.join(out_dir, "_commits"))
    assert len(manifests) >= 2


def test_jsonl_dir_sweep_bounds_tmp_across_restarts(spark):
    """Commit-time orphan sweep: own-token tmp files and OLD foreign-token
    files (a crashed query's leftovers) are removed; a fresh foreign file
    (a live concurrent query's in-flight write) survives -- _tmp/ stays
    bounded across restarts without reintroducing the cross-query race."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.python_datasource import (
        JsonlDirStreamWriter,
    )

    d = tempfile.mkdtemp(prefix="mras_jsonl_sweep_")
    tmp = os.path.join(d, "_tmp")
    os.makedirs(tmp)
    ours = os.path.join(tmp, "tokA-deadbeef.jsonl")
    foreign_old = os.path.join(tmp, "tokB-cafe.jsonl")
    foreign_new = os.path.join(tmp, "tokC-beef.jsonl")
    for p in (ours, foreign_old, foreign_new):
        with open(p, "w") as f:
            f.write("{}\n")
    old = time.time() - 2 * JsonlDirStreamWriter.FOREIGN_TMP_MAX_AGE_S
    os.utime(foreign_old, (old, old))
    JsonlDirStreamWriter({"path": d, "queryToken": "tokA"}).commit([], batchId=0)
    assert not os.path.exists(ours), "own-token orphan must be swept"
    assert not os.path.exists(foreign_old), "stale foreign orphan must be swept"
    assert os.path.exists(foreign_new), "fresh foreign in-flight file must survive"


def test_stream_funnel_recomputes_exactly_under_out_of_order_arrival(spark):
    """A late-arriving view (earlier ts, later micro-batch) must flip a
    user's stage exactly as a batch recompute would: the ListState buffer
    re-sorts the full history, so arrival order cannot change the answer."""
    import datetime as dt

    import pytest as _pytest

    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import (
        protobuf_shim,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.stateful_probe import (
        stateful_v2_available,
    )

    if not stateful_v2_available():
        _pytest.skip("no protobuf runtime -> stateful v2 unavailable")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        funnel_stage_per_user,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def row(i, user, typ, mins):
        return (i, t0 + dt.timedelta(minutes=mins), user, typ, 1.0, "{}")

    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # Batch 1: click@10, purchase@20 -- without a view these score stage 0.
    part1 = [row(1, 7, "click", 10), row(2, 7, "purchase", 20)]
    # Batch 2 delivers the LATE view@5: recompute => view->click->purchase = 3.
    part2 = [row(3, 7, "view", 5)]

    d = tempfile.mkdtemp(prefix="mras_funnel_ooo_")
    df1 = spark.createDataFrame(part1, cols)
    df1.coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(part2, cols).coalesce(1).write.mode("append").parquet(d)

    stream = file_stream(spark, d, df1.schema, max_files_per_trigger=1)
    out = run_available_now(
        funnel_stage_per_user(stream, window_min=60),
        "memory",
        output_mode="update",
        shuffle_partitions=4,
        rocksdb_state=True,
    )
    rows = out.orderBy("n_seen").collect()
    final = rows[-1]
    assert final["stage"] == 3, rows
    # and if both files landed in one batch the answer is the same -- the
    # invariant is arrival-order independence, pinned by the final stage.


def test_transform_with_state_timer_sessionization(spark):
    """Event-time TIMERS (stateful_v2's last untested surface): sessions
    closing inside a batch emit from handleInputRows; the final open
    session per user closes only when the watermark passes last_seen +
    gap -- i.e. via registerTimer/handleExpiredTimer. Planted timeline:
    user 1 has two sessions split by a >45min gap, user 2 one session;
    the sentinel row (user -1, far future) advances the watermark so the
    open sessions finalize. Every session must appear exactly once."""
    import datetime

    from modelorecomendacion_analisisspark_streaming_mas_spark.compat import protobuf_shim

    if protobuf_shim.install() is None:
        pytest.skip("no protobuf runtime (native or vendored) on this host")
    protobuf_shim.ensure_worker_shim(spark)

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        timer_sessionize_per_user,
    )

    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)

    def at(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    rows = [
        (1, at(0)), (1, at(10)), (1, at(20)),      # session A: 3 events
        (1, at(90)), (1, at(95)),                  # session B after 70min gap
        (2, at(5)),                                # session C: 1 event
        (-1, at(100000)),                          # watermark sentinel
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    d = tempfile.mkdtemp(prefix="mras_timer_")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = file_stream(spark, d, df.schema)
    out = run_available_now(
        timer_sessionize_per_user(stream, gap_min=45),
        "memory",
        shuffle_partitions=4,
        rocksdb_state=True,
    )
    got = {
        (r["user_id"], r["n_events"])
        for r in out.filter(F.col("user_id") >= 0).collect()
    }
    assert got == {(1, 3), (1, 2), (2, 1)}
    assert out.filter(F.col("user_id") >= 0).count() == 3  # exactly once each


def test_incremental_merge_leaves_untouched_partitions_on_disk(spark, tmp_path):
    """The PHYSICAL copy-on-write property behind s15/s24: a batch that
    touches only one partition must not rewrite the others' files (at
    100 TB that is the entire difference between a trigger costing one
    bucket and costing the table)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.sinks import (
        foreach_batch_incremental_rollup,
    )

    table = str(tmp_path / "snap")
    cb = foreach_batch_incremental_rollup(table, "bucket", ["user_id"])
    b0 = spark.createDataFrame(
        [(1, 0, 10.0), (2, 1, 20.0), (3, 2, 30.0)],
        "user_id long, bucket int, value double",
    )
    cb(b0, 0)
    before = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{table}/bucket=*/*.parquet")
    }
    assert before, "expected partition files after batch 0"
    # batch 1 touches ONLY bucket 1
    b1 = spark.createDataFrame(
        [(2, 1, 25.0)], "user_id long, bucket int, value double"
    )
    cb(b1, 1)
    after = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{table}/bucket=*/*.parquet")
    }
    untouched_before = {p: t for p, t in before.items() if "/bucket=1/" not in p}
    untouched_after = {p: t for p, t in after.items() if "/bucket=1/" not in p}
    assert untouched_before == untouched_after  # same files, same mtimes
    got = {
        r["user_id"]: r["value"] for r in spark.read.parquet(table).collect()
    }
    assert got == {1: 10.0, 2: 25.0, 3: 30.0}


def test_s28_ingest_partials_are_centroid_bounded(spark, sf_dir, monkeypatch):
    """The incremental property behind s28: each micro-batch appends
    O(#centroids) partial rows (4 epochs here), never a per-vector
    table -- and the published counts cover every vector exactly once."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import (
        load_table,
    )

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import (
        streamq,
    )

    appended = []
    real = streamq._append_epochs

    def capture(*args, **kwargs):
        raw = real(*args, **kwargs)
        appended.append(raw)
        return raw

    monkeypatch.setattr(streamq, "_append_epochs", capture)
    out = REGISTRY["s28_stream_ivf_ingest"].fn(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    n_cent = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 37 == 0)
        .count()
    )
    assert sum(r["n_vectors"] for r in out) == n_emb
    assert len(out) <= n_cent
    assert abs(sum(r["frac"] for r in out) - 1.0) < 1e-4
    # the INCREMENTAL property itself: inspect the appended partials --
    # one O(#centroids) row-group per epoch, never a per-vector table
    (raw,) = appended
    parts = raw.collect()
    by_epoch: dict = {}
    for r in parts:
        by_epoch.setdefault(r["epoch"], 0)
        by_epoch[r["epoch"]] += 1
    assert len(by_epoch) >= 2  # genuinely multi-batch
    for epoch, n_rows in by_epoch.items():
        assert n_rows <= n_cent, (epoch, n_rows)


def test_s29_hot_cluster_cap_fails_loudly(spark, sf_dir, monkeypatch):
    """s29's bounded-state promise: a degenerate quantizer that overfills
    one index cluster must raise the counted guard BEFORE any streaming
    starts (never an unbounded per-batch join)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import streamq

    monkeypatch.setattr(streamq, "_S29_MAX_LIST", 2)
    with pytest.raises(ValueError, match=r"s29: index cluster .*\(cap 2\)"):
        streamq.s29_stream_semantic_dedup_probe(spark, sf_dir)


def test_jsonl_dir_sweep_age_is_an_option(spark):
    """foreignTmpMaxAgeS raises the foreign-orphan age threshold for
    queries whose micro-batches legitimately outlive the 1h default."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.python_datasource import (
        JsonlDirStreamWriter,
    )

    d = tempfile.mkdtemp(prefix="mras_jsonl_age_")
    tmp = os.path.join(d, "_tmp")
    os.makedirs(tmp)
    foreign = os.path.join(tmp, "tokZ-f00d.jsonl")
    with open(foreign, "w") as f:
        f.write("{}\n")
    two_hours_ago = time.time() - 7200
    os.utime(foreign, (two_hours_ago, two_hours_ago))
    # default 1h: the 2h-old foreign file is swept
    w_default = JsonlDirStreamWriter({"path": d, "queryToken": "tokA"})
    assert w_default.foreign_tmp_max_age_s == JsonlDirStreamWriter.FOREIGN_TMP_MAX_AGE_S
    # raised threshold: the same file survives the sweep
    w_long = JsonlDirStreamWriter(
        {"path": d, "queryToken": "tokA", "foreignTmpMaxAgeS": "14400"}
    )
    w_long.commit([], batchId=0)
    assert os.path.exists(foreign), "raised age threshold must protect the file"
    w_default.commit([], batchId=1)
    assert not os.path.exists(foreign), "default threshold sweeps it"


def test_jsonl_dir_camelcase_options_via_real_api(spark):
    """Regression: through the real ``.option(...)`` API Spark lowercases
    option keys (CaseInsensitiveDict), so a plain
    ``options.get("foreignTmpMaxAgeS")`` silently returned None and the
    documented camelCase options were dead. Drive a real query with
    camelCase ``foreignTmpMaxAgeS`` + ``queryToken`` and observe both in
    the commit-time sweep behavior."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.python_datasource import (
        FeedbackBotStreamReader,
        register_jsonl_sink,
    )

    register_jsonl_sink(spark)
    out_dir = tempfile.mkdtemp(prefix="mras_jsonl_ciopt_")
    tmp = os.path.join(out_dir, "_tmp")
    os.makedirs(tmp)
    # 2h-old foreign-token file: the DEFAULT 1h threshold would sweep it;
    # the raised camelCase option must protect it.
    old_foreign = os.path.join(tmp, "tokZ-0ld.jsonl")
    with open(old_foreign, "w") as f:
        f.write("{}\n")
    two_hours_ago = time.time() - 7200
    os.utime(old_foreign, (two_hours_ago, two_hours_ago))
    # FRESH file carrying OUR token: swept only if queryToken reached the
    # writer (a random fallback token would leave it alone).
    ours_fresh = os.path.join(tmp, "tokA-fresh.jsonl")
    with open(ours_fresh, "w") as f:
        f.write("{}\n")
    src = tempfile.mkdtemp(prefix="mras_jsonl_ciopt_src_")
    spark.range(3).selectExpr("id", "string(id) as v").write.mode(
        "overwrite"
    ).parquet(src)
    q = (
        spark.readStream.schema("id long, v string")
        .parquet(src)
        .writeStream.format("jsonl_dir")
        .option("path", out_dir)
        .option("queryToken", "tokA")
        .option("foreignTmpMaxAgeS", "14400")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="mras_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert os.path.exists(old_foreign), "camelCase foreignTmpMaxAgeS must apply"
    assert not os.path.exists(ours_fresh), "camelCase queryToken must apply"
    # eventsPerBatch rides the same lowercasing path on the bot source.
    assert FeedbackBotStreamReader({"eventsperbatch": "7", "seed": "3"}).batch == 7


def test_local_rows_df_single_slice_equivalence(spark):
    """local_rows_df must return the same rows/schema createDataFrame
    would, in exactly n_slices partitions. The default local-rows path
    spreads tiny frames over defaultParallelism pickled slices, and a
    single-task consumer (the sentinel-replay coalesced write) pays a
    Python-worker round-trip per empty slice -- the s13 fixed cost this
    helper removes."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import (
        local_rows_df,
    )

    rows = [(1, "a"), (2, "b")]
    schema = "k int, v string"
    tiny = local_rows_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert tiny.schema == ref.schema
    assert sorted(tiny.collect()) == sorted(ref.collect())
    assert tiny.rdd.getNumPartitions() == 1
    # empty input stays schema-stable (createDataFrame special case)
    empty = local_rows_df(spark, [], schema)
    assert empty.schema == ref.schema and empty.count() == 0


def test_staged_replay_schemas_match_r7_literals(spark, sf_dir):
    """The five testdata-derived replay streams (s26/s28/s29/s30/s32) now
    read their schema from the staged files' own footer instead of the
    old hard-coded literals, so a generator physical-type flip (the
    events.ts nanos<->micros precedent, or embeddings float<->double)
    cannot make the stream reader reject the staged bytes. On CURRENT
    testdata the derived schemas must equal those old literals exactly --
    proving the refactor changes no plan today."""
    from pyspark.sql.types import _parse_datatype_string

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.streamq import (
        _staged_corpus_docs,
        _staged_embeddings,
        _staged_new_docs,
        _staged_replay_stream,
    )

    expect = {
        _staged_embeddings(spark, sf_dir): "vec_id bigint, embedding array<float>",
        _staged_new_docs(spark, sf_dir): "doc_id bigint, text string",
        _staged_corpus_docs(spark, sf_dir): "doc_id bigint, source string, text string",
    }
    for staged, literal in expect.items():
        st = _staged_replay_stream(spark, staged)
        assert st.isStreaming
        assert st.schema == _parse_datatype_string(literal), (literal, st.schema)


def test_replay_stagings_replay_their_parts_in_path_order(spark, sf_dir):
    """The file source orders files by mtime alone and keeps listing
    order among equal mtimes, so every replay staging gives its part
    files mtimes that increase in path order, and a one-file-per-trigger
    replay then reads the parts in path order, one per micro-batch."""
    import glob

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.streamq import (
        _staged_corpus_docs,
        _staged_embeddings,
        _staged_new_docs,
        _staged_replay,
    )

    events_dir, schema = _staged_replay(spark, sf_dir, n_files=4)
    staged = [
        _staged_new_docs(spark, sf_dir),
        _staged_embeddings(spark, sf_dir),
        _staged_corpus_docs(spark, sf_dir),
        events_dir,
    ]
    parts = {d: sorted(glob.glob(os.path.join(d, "part-*"))) for d in staged}
    assert len(parts[events_dir]) == 4
    for d, ps in parts.items():
        mtimes = [os.stat(p).st_mtime_ns for p in ps]
        assert mtimes == sorted(set(mtimes)), (d, mtimes)
    batches = []
    run_available_now(
        file_stream(spark, events_dir, schema, max_files_per_trigger=1).select(
            F.input_file_name().alias("f")
        ),
        lambda df, _: batches.append(sorted(os.path.basename(r.f) for r in df.distinct().collect())),
    )
    assert batches == [[os.path.basename(p)] for p in parts[events_dir]]


def test_s33_readback_collapses_duplicate_appends(spark, sf_dir, monkeypatch):
    """foreachBatch is at-least-once: a retried micro-batch whose append
    already committed re-appends the same rows. Simulate it by doubling
    every probe result (same rows, same epoch) and assert the entry's
    epoch-window read-back collapse returns the identical final answer."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators import (
        dedup as D,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.streamq import (
        s33_stream_ngram_jaccard_probe,
    )

    want = sorted(
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in s33_stream_ngram_jaccard_probe(spark, sf_dir).collect()
    )
    assert want, "vacuous: the entry must be non-empty on shipped testdata"

    orig = D.ngram_probe_index

    def doubled(*a, **k):
        r = orig(*a, **k)
        if isinstance(r, tuple):  # with_cache=True call sites (s33)
            df, cache = r
            return df.unionByName(df), cache
        return r.unionByName(r)

    monkeypatch.setattr(D, "ngram_probe_index", doubled)
    got = sorted(
        (r["doc_id"], r["dup_of"], r["jaccard"])
        for r in s33_stream_ngram_jaccard_probe(spark, sf_dir).collect()
    )
    assert got == want


@pytest.mark.parametrize(
    "entry, result_schema",
    [
        (
            "s33_stream_ngram_jaccard_probe",
            "struct<doc_id:bigint,dup_of:bigint,jaccard:double>",
        ),
        (
            "s26_stream_lsh_dedup_probe",
            "struct<doc_id:bigint,dup_of:bigint,jaccard:double>",
        ),
    ],
)
def test_probe_stream_with_no_new_docs_degrades_to_empty(
    spark, sf_dir, monkeypatch, entry, result_schema
):
    """Extreme-drift regression for the r9 ADVICE read-back item: a corpus
    with NO new (odd-id) documents must flow through the WHOLE probe path
    -- staged replay, foreachBatch probes that match nothing, explicit-
    schema sink read-back -- and return an EMPTY frame with the declared
    result schema, never a schema-inference error. The staged dir holds
    one footer-bearing empty part file (what write.parquet emits for an
    empty frame), so the stream replays one zero-row micro-batch."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import (
        REGISTRY,
        memo,
        streamq,
    )

    d = memo.scratch_dir("empty_staged")
    (
        spark.createDataFrame([], "doc_id bigint, text string")
        .repartition(1)
        .write.mode("overwrite")
        .parquet(d)
    )
    monkeypatch.setattr(streamq, "_staged_new_docs", lambda spark, sf_dir: d)
    out = REGISTRY[entry].fn(spark, sf_dir)
    assert out.schema.simpleString() == result_schema
    assert out.count() == 0


def test_available_now_runs_leave_no_views_or_checkpoints(spark, duck, sf_dir):
    """Every availableNow run cleans up after itself: the memory-sink
    entry (s01) leaves no mem_ temp view in the session, and no entry --
    memory sink (s01), parquet file sink (s13) or foreachBatch probe
    (s26) -- leaves a checkpoint dir under the memo scratch root. The
    frames they returned stay readable afterwards and equal the oracle."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import (
        REGISTRY,
        memo,
    )

    from .conftest import assert_frames_match

    names = [
        "s01_stream_tumbling_counts",
        "s13_stream_file_sink",
        "s26_stream_lsh_dedup_probe",
    ]
    frames = {n: REGISTRY[n].fn(spark, sf_dir) for n in names}
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")]
    assert not views, views
    ckpts = [d for d, subdirs, _ in os.walk(memo._ROOT) if "offsets" in subdirs]
    assert not ckpts, ckpts
    for n, df in frames.items():
        assert_frames_match(df.toPandas(), duck.execute(REGISTRY[n].oracle).df(), n)


def test_exact_cents_sum_fail_loud_off_grid():
    """r13 ADVICE (medium): pandas astype('int64') silently WRAPS finite
    off-scale doubles (1e300 -> a garbage negative), so the TWS cents
    accumulator must bound-check before casting -- matching the Spark
    ANSI cast and the DuckDB oracle, which both raise on the same input.
    Also pin exactness on the happy path and the loud NaN/inf path."""
    import pandas as pd
    import pytest

    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.stateful_v2 import (
        _exact_cents_sum,
    )

    # happy path: exact cents, no float absorption
    assert _exact_cents_sum(pd.Series([1.23, 4.56, -0.01])) == 578
    assert _exact_cents_sum(pd.Series([], dtype="float64")) == 0
    # large-but-on-grid stays exact at object dtype (no batch-total wrap)
    big = 9.0e15  # *100 = 9e17 < 2^63
    assert _exact_cents_sum(pd.Series([big, big])) == 2 * int(big) * 100

    # finite off-scale: MUST raise, not wrap (1e300 wraps under astype)
    with pytest.raises(ValueError, match="cents grid"):
        _exact_cents_sum(pd.Series([1e300]))
    # just past the int64 edge after *100
    with pytest.raises(ValueError, match="cents grid"):
        _exact_cents_sum(pd.Series([2.0**63 / 100 * 1.01]))
    # non-finite: same loud contract
    with pytest.raises(ValueError, match="cents grid"):
        _exact_cents_sum(pd.Series([float("nan")]))
    with pytest.raises(ValueError, match="cents grid"):
        _exact_cents_sum(pd.Series([float("inf")]))


def test_derive_state_partitions_tracks_keys(spark):
    """r14 VERDICT #6: state parallelism is DERIVED (min(keys, session
    shuffle parallelism)), never a literal pin in query code. The 5-key /
    8-partition shape measured 2.4x slower than key-bounded parallelism
    at sf0.1 -- this is the regression guard on the sizing rule."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
        derive_state_partitions,
    )

    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
        HEAVY_HANDLER_KEYS_PER_PARTITION,
    )

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # 5 event-type keys must never open more store instances than keys
    assert derive_state_partitions(spark, 5) == min(5, default)
    # a billion keys: the session default governs
    assert derive_state_partitions(spark, 1_000_000_000) == default
    # degenerate: at least one partition
    assert derive_state_partitions(spark, 0) == 1
    # heavy handlers amortize the store lifecycle: ~100 keys/instance
    # (r15 sf0.1 measurement: 1500 keys ran faster at 16 than 32)
    heavy = derive_state_partitions(
        spark, 1500, keys_per_partition=HEAVY_HANDLER_KEYS_PER_PARTITION
    )
    assert heavy == min(15, default), heavy
    # and a billion heavy keys still saturate the session default
    assert (
        derive_state_partitions(
            spark, 1_000_000_000,
            keys_per_partition=HEAVY_HANDLER_KEYS_PER_PARTITION,
        )
        == default
    )

    # and the policy holds in the code: no literal shuffle_partitions= pins
    # and no hand-set session shuffle width left in any plans/ query module
    import glob
    import os
    import re

    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "modelorecomendacion_analisisspark_streaming_mas_spark",
        "plans",
    )
    offenders = []
    for path in glob.glob(os.path.join(plans_dir, "*.py")):
        with open(path) as f:
            src = f.read()
        for m in re.finditer(
            r"shuffle_partitions=\d+"
            r"|spark\.conf\.set\(\s*[\"']spark\.sql\.shuffle\.partitions[\"']",
            src,
        ):
            offenders.append(f"{os.path.basename(path)}: {m.group(0)}")
    assert not offenders, offenders
