"""Checkpoint-recovery contract: a stateful streaming query stopped and
restarted from the same checkpoint must (a) not reprocess consumed offsets
and (b) resume its state exactly -- the property that makes streaming
aggregations exactly-once at the sink for idempotent sinks. The reference
never tests this (it has no checkpointed queries at all; its memory-sink
demos restart from scratch, SURVEY section 2.9)."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import file_stream
from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.pipelines import (
    streaming_group_counts,
)


def _write_file(spark, d, rows, cols):
    spark.createDataFrame(rows, cols).coalesce(1).write.mode("append").parquet(d)


def test_stateful_counts_resume_from_checkpoint(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def row(i, typ, v):
        return (i, t0 + dt.timedelta(seconds=i), 1, typ, float(v), "{}")

    data_dir = tempfile.mkdtemp(prefix="mras_ckpt_data_")
    ckpt = tempfile.mkdtemp(prefix="mras_ckpt_state_")
    out_dir = tempfile.mkdtemp(prefix="mras_ckpt_out_")

    _write_file(spark, data_dir, [row(1, "a", 1), row(2, "a", 2), row(3, "b", 5)], cols)
    schema = spark.read.parquet(data_dir).schema

    def run_once():
        stream = file_stream(spark, data_dir, schema)
        agg = streaming_group_counts(stream, "event_type")

        def sink(df, epoch_id):
            # idempotent overwrite-by-key sink: last update per key wins
            df.coalesce(1).write.mode("append").json(out_dir)

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # consumes file 1: a->(2, 3.0), b->(1, 5.0)

    # second file arrives while the query is DOWN
    _write_file(spark, data_dir, [row(4, "a", 10), row(5, "c", 7)], cols)
    run_once()  # restart from checkpoint: must process ONLY file 2,
    # and 'a' must resume from count=2 (state restored), emitting 3

    rows = spark.read.json(out_dir).collect()
    latest: dict[str, tuple] = {}
    for r in rows:  # updates arrive in epoch order per key; keep the max-n row
        cur = latest.get(r["event_type"])
        if cur is None or r["n"] > cur[0]:
            latest[r["event_type"]] = (r["n"], r["sum_value"])
    assert latest == {"a": (3, 13.0), "b": (1, 5.0), "c": (1, 7.0)}

    # offset log proves exactly two batches ran (no replay of batch 0)
    offsets = os.listdir(os.path.join(ckpt, "offsets"))
    assert sorted(o for o in offsets if not o.startswith(".")) == ["0", "1"]


def test_observed_metrics_on_stream(spark):
    """`df.observe` ships accumulator-style metrics with each progress event
    (the idiomatic replacement for the reference's hand-rolled per-batch
    CSV instrumentation, apps_mediciones/live_counts_metrics.py:72-83)."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    d = tempfile.mkdtemp(prefix="mras_obs_")
    _write_file(
        spark, d,
        [(i, t0 + dt.timedelta(seconds=i), 1, "a", float(i), "{}") for i in range(1, 6)],
        cols,
    )
    schema = spark.read.parquet(d).schema
    stream = file_stream(spark, d, schema).observe(
        "ingest", F.count(F.lit(1)).alias("rows"), F.sum("value").alias("total_value")
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="mras_obs_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    obs = [p["observedMetrics"]["ingest"] for p in
           (q.recentProgress or []) if p.get("observedMetrics", {}).get("ingest")]
    assert obs, "no observed metrics reported"
    assert sum(m["rows"] for m in obs) == 5
    assert sum(m["total_value"] for m in obs) == 15.0


def test_rocksdb_state_store_parity(spark):
    """The RocksDB state store provider (off-heap state, the 100 TB
    configuration for key cardinalities beyond executor heap) must produce
    byte-identical aggregates to the default HDFS-backed provider, on both
    a streaming groupBy and a watermarked dedup."""
    import tempfile as tf

    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.streams import (
        run_available_now,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    rows = [
        (i, t0 + dt.timedelta(seconds=i), i % 5, f"t{i % 3}", float(i), "{}")
        for i in range(200)
    ]
    d = tf.mkdtemp(prefix="mras_rocks_")
    spark.createDataFrame(rows, cols).coalesce(2).write.mode("overwrite").parquet(d)
    schema = spark.read.parquet(d).schema

    def counts(rocksdb: bool):
        stream = file_stream(spark, d, schema)
        agg = streaming_group_counts(stream, "event_type")
        out = run_available_now(agg, "memory", output_mode="update", rocksdb_state=rocksdb)
        return {
            r["event_type"]: (r["n"],)
            for r in out.groupBy("event_type")
            .agg(F.max("n").alias("n"))
            .collect()
        }

    assert counts(rocksdb=True) == counts(rocksdb=False)
    # provider conf restored afterwards (other tests keep default provider)
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None) is None
        or "RocksDB" not in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    )


def test_feedback_bot_streaming_source(spark):
    """Python streaming data source (SimpleDataSourceStreamReader): the
    bots-as-a-source emit index-keyed deterministic feedback JSON; rows in
    the sink must equal regeneration from their offsets (the replayability
    contract), and the payloads must parse through the reference's
    feedback pipeline."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.python_datasource import (
        FeedbackBotStreamReader,
        register_feedback_bot_source,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.streaming.pipelines import (
        feedback_age_bins,
    )

    register_feedback_bot_source(spark)
    stream = (
        spark.readStream.format("feedback_bot")
        .option("eventsPerBatch", 50)
        .option("seed", 7)
        .load()
    )
    name = "fb_bot_sink"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time

        deadline = time.time() + 60
        while time.time() < deadline and spark.table(name).count() < 100:
            time.sleep(0.5)
    finally:
        q.stop()

    rows = spark.table(name).collect()
    assert len(rows) >= 100
    ref = FeedbackBotStreamReader({"eventsPerBatch": 50, "seed": 7})
    for r in rows:
        assert (r["offset"], r["value"]) == ref._event(r["offset"])

    # payloads ride the reference's parse/bin pipeline unchanged
    binned = feedback_age_bins(spark.table(name), "value")
    got = binned.where(F.col("age_bin").isNull()).count()
    assert got == 0 and binned.count() == len(rows)
