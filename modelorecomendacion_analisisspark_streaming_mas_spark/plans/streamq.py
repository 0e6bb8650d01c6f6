"""Streaming query catalog: each query replays the events table through a
deterministic file stream (sources/streams.py), runs a stateful Structured
Streaming pipeline to completion (availableNow), and returns the final
state -- which must equal the equivalent BATCH query, giving streaming a
real DuckDB oracle (rare for stream engines; the reference has no streaming
correctness checks at all, SURVEY section 5).
"""

from __future__ import annotations

import datetime
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.numeric import cents_sum_spark, valid_cents_spark
from ..operators.similarity import CENTROID_STRIDE, pinned_centroids, rank_centroids, with_norm

from ..sources.readers import local_rows_df
from ..sources.streams import (
    REPLAY_SHUFFLE_PARTITIONS,
    file_stream,
    pin_replay_order,
    run_available_now,
    stage_events_for_replay,
)
from ..streaming.stateful import longest_run_per_user
from ..streaming.pipelines import (
    EVENT_TIME_BOUND_SQL,
    demo_latest_topk,
    dynamic_sessionized_counts,
    sessionized_counts,
    sliding_counts,
    stream_dedup_counts,
    stream_dedup_within_watermark,
    stream_stream_click_purchase_join,
    stream_stream_left_outer_join,
    streaming_group_counts,
    tumbling_counts,
)
from . import memo
from .catalog import register, shingle_rows_sql


def _staged_replay(
    spark: SparkSession, sf_dir: str, copies: int = 1, n_files: int | None = None
) -> tuple[str, StructType]:
    """(dir, schema) of the events replay staging, shared by every s* entry
    that replays the same (copies, n_files) variant."""

    def write(d: str) -> tuple[str, StructType]:
        return d, stage_events_for_replay(spark, sf_dir, d, copies=copies, n_files=n_files)

    return memo.staged(("replay", copies, n_files), sf_dir, ("events",), write)


def _replayed(
    spark: SparkSession,
    sf_dir: str,
    copies: int = 1,
    max_files_per_trigger: int | None = None,
    n_files: int | None = None,
) -> DataFrame:
    d, schema = _staged_replay(spark, sf_dir, copies, n_files)
    return file_stream(spark, d, schema, max_files_per_trigger=max_files_per_trigger)


# --------------------------------------------------------------------------
# s01: tumbling event-time windows (watermarked) -- final state == batch
# hourly rollup.
# --------------------------------------------------------------------------


@register(
    "s01_stream_tumbling_counts",
    # WHERE bound: watermark entries quarantine event times outside the
    # ingest validity window (pipelines.bounded_event_time, r14 timex)
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n, (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events WHERE {EVENT_TIME_BOUND_SQL} GROUP BY win_start, event_type
""",
)
def s01_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    return run_available_now(
        tumbling_counts(stream),
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )


# --------------------------------------------------------------------------
# s02: sliding windows (1h width / 30m slide) -- every event lands in two
# windows; oracle expands each event into both window starts.
# --------------------------------------------------------------------------


@register(
    "s02_stream_sliding_counts",
    oracle=f"""
WITH t AS (
  SELECT event_type,
         to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS t30
  FROM events WHERE {EVENT_TIME_BOUND_SQL}
), w AS (
  SELECT event_type, unnest([t30, t30 - INTERVAL 30 MINUTE]) AS win
  FROM t
)
SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, count(*) AS n
FROM w GROUP BY win_start, event_type
""",
)
def s02_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    return run_available_now(
        sliding_counts(stream),
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )


# --------------------------------------------------------------------------
# s03: session windows (5-minute gap) per user -- oracle is the classic
# gaps-and-islands rewrite.
# --------------------------------------------------------------------------


@register(
    "s03_stream_session_counts",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events WHERE {EVENT_TIME_BOUND_SQL}
), m AS (
  SELECT user_id,
         CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM o
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM m GROUP BY user_id
""",
)
def s03_stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    sessions = run_available_now(
        sessionized_counts(stream),
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )
    return sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


# --------------------------------------------------------------------------
# s04: streaming dedup -- the replay dir holds TWO copies of every event;
# dropDuplicates(event_id) must restore exact single-copy counts.
# --------------------------------------------------------------------------


@register(
    "s04_stream_dedup_counts",
    # dedup-by-id stated explicitly (the s08 class, r13 dupx): the engine
    # dedups to one row per event_id, so the oracle must too
    oracle="""
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT event_id, event_type FROM events)
GROUP BY event_type""",
)
def s04_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir, copies=2)
    return run_available_now(
        stream_dedup_counts(stream),
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )


# --------------------------------------------------------------------------
# s05: latest-200 snapshot (T3: complete-mode sort+limit + memory sink,
# app/spark_stream.py:31-36).
# --------------------------------------------------------------------------


@register(
    "s05_stream_latest_topk",
    oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, event_type
FROM events ORDER BY ts DESC, event_id DESC LIMIT 200
""",
)
def s05_stream_latest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 dropped the reference's complete-mode sort+limit-without-agg
    (app/spark_stream.py:31-36 ran on 3.5), so the latest-k snapshot uses
    the reference's OTHER idiom: foreachBatch compaction
    (app/spark_stream_web.py:37-52) -- per batch take the batch top-k,
    merge with the running snapshot, trim to k. State is O(k), not O(n)."""
    stream = _replayed(spark, sf_dir)
    k = 200
    snapshot: list = []

    def compact(df: DataFrame, epoch_id: int) -> None:
        batch_top = demo_latest_topk(df, k=k).collect()
        merged = snapshot + batch_top
        merged.sort(key=lambda r: (r["ts"], r["event_id"]), reverse=True)
        snapshot[:] = merged[:k]

    run_available_now(stream, compact)
    out = spark.createDataFrame(snapshot, schema=stream.schema)
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        "event_type",
    )


# --------------------------------------------------------------------------
# s06: incrementally-maintained group counts (the idiomatic replacement for
# the reference's driver-side pandas value_counts, A8/T7).
# --------------------------------------------------------------------------


@register(
    "s06_stream_group_counts",
    oracle="""
SELECT event_type, user_id, count(*) AS n, (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events GROUP BY event_type, user_id
""",
)
def s06_stream_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    return run_available_now(
        streaming_group_counts(stream, "event_type", "user_id"),
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )


# --------------------------------------------------------------------------
# s07: stream-stream inner join (clicks x purchases within 30 minutes) --
# the finite replay runs in one availableNow batch, so the final append-mode
# output equals the batch interval join.
# --------------------------------------------------------------------------


@register(
    "s07_stream_stream_join",
    oracle=f"""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM (SELECT * FROM events WHERE {EVENT_TIME_BOUND_SQL}) c
JOIN (SELECT * FROM events WHERE {EVENT_TIME_BOUND_SQL}) p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
)
def s07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    clicks = _replayed(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = _replayed(spark, sf_dir).filter(F.col("event_type") == "purchase")
    joined = stream_stream_click_purchase_join(clicks, purchases, within="30 minutes")
    return run_available_now(joined, "memory", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS)


# --------------------------------------------------------------------------
# s12: DYNAMIC-gap session windows -- the gap is an expression over the
# event (click 5m, others 15m). Oracle: gaps-and-islands generalized to a
# running max of per-event reach (ts + its own gap); a session breaks
# when an event starts at or beyond everything reachable so far (the
# window end is exclusive, same convention s03 pinned for fixed gaps).
# --------------------------------------------------------------------------


@register(
    "s12_stream_dynamic_session",
    oracle=f"""
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'click' THEN ts + INTERVAL 5 MINUTE
              ELSE ts + INTERVAL 15 MINUTE END AS reach
  FROM events WHERE {EVENT_TIME_BOUND_SQL}
), y AS (
  SELECT user_id, ts,
         max(reach) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_reach
  FROM e
), m AS (
  SELECT user_id,
         CASE WHEN prev_reach IS NULL OR ts >= prev_reach THEN 1 ELSE 0 END AS new_s
  FROM y
)
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM m GROUP BY user_id
""",
)
def s12_stream_dynamic_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    sessions = dynamic_sessionized_counts(stream)
    out = run_available_now(
        sessions, "memory", output_mode="complete", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


# --------------------------------------------------------------------------
# s11: stream-STATIC join -- the stateless enrichment join (dimension side
# is a batch table, broadcast per micro-batch; no state store, no
# watermark needed). The canonical "enrich events with dimensions at
# ingest" shape; the static side is re-resolved every trigger, so slowly-
# changing dims pick up updates between batches.
# --------------------------------------------------------------------------


@register(
    "s11_stream_static_join",
    oracle="""
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
       (sum(CASE WHEN (abs(e.value) <= 1000000000000.0) THEN CAST(round(e.value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events e JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment
""",
)
def s11_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_table

    stream = _replayed(spark, sf_dir).select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        cents_sum_spark("value").alias("sum_value"),
    )
    return run_available_now(
        agg, "memory", output_mode="complete", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )


# --------------------------------------------------------------------------
# s08: dropDuplicatesWithinWatermark -- bounded-state dedup over a replay
# planted with 2x copies; surviving rows must equal single-copy counts.
# --------------------------------------------------------------------------


@register(
    "s08_stream_dedup_watermark",
    # dedup-by-id stated EXPLICITLY: the old `count(*) FROM events`
    # assumed unique event_ids, which the r13 dupx variant (100 identical
    # copies per row) broke -- the engine dedups to one row per id, so
    # the oracle must too (identical on normal data). WHERE bound: this
    # is the WATERMARKED dedup (unlike s04), so it quarantines event
    # times outside the ingest validity window (r14 timex).
    oracle=f"""
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT event_id, event_type FROM events
      WHERE {EVENT_TIME_BOUND_SQL})
GROUP BY event_type""",
)
def s08_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir, copies=2)
    deduped = stream_dedup_within_watermark(stream)
    out = run_available_now(deduped, "memory", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS)
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


# --------------------------------------------------------------------------
# s09: applyInPandasWithState custom stateful operator -- per-user longest
# consecutive same-event_type run (order-dependent: no streaming groupBy
# aggregate can express it). Oracle: batch gaps-and-islands SQL.
# --------------------------------------------------------------------------


@register(
    "s09_stream_longest_run",
    # The rn - rt islanding runs over DISTINCT (ts, event_id) rows with a
    # copy count: under exact-duplicate rows (the r13 dupx variant) the
    # two row_number windows would otherwise resolve their ties in
    # independent physical orders and fragment islands (oracle read 101
    # where the true doubled run was 300). Copies of an event are always
    # peers in the (ts, event_id) order, so a run's length is the sum of
    # its events' copy counts -- exactly what the engine's per-row walk
    # over sorted copies computes. Identical on duplicate-free data.
    oracle="""
WITH uniq AS (
  -- NULL user_id excluded: per-user stateful operators quarantine
  -- unattributable rows at ingest (streaming/stateful.py, r14 nullkeys)
  SELECT user_id, ts, event_id, event_type, count(*) AS cnt
  FROM events WHERE user_id IS NOT NULL
  GROUP BY user_id, ts, event_id, event_type
), ord AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rt
  FROM uniq
), isl AS (
  SELECT user_id, event_type, CAST(sum(cnt) AS BIGINT) AS run_len,
         min(rn) AS start_rn
  FROM ord GROUP BY user_id, event_type, rn - rt
), best AS (
  SELECT user_id, event_type AS best_type, run_len AS best_run,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY run_len DESC, start_rn) AS pick
  FROM isl
)
SELECT b.user_id, b.best_run, b.best_type, c.n_events
FROM best b
JOIN (SELECT user_id, count(*) AS n_events FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id) c
  USING (user_id)
WHERE b.pick = 1
""",
)
def s09_stream_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PRECONDITION (see streaming/stateful.py module docstring): run
    # stitching across micro-batches assumes per-user non-decreasing ts at
    # batch boundaries. It holds here because the un-split availableNow
    # replay delivers ONE batch; a maxFilesPerTrigger or differently-keyed
    # source would break it -- which the operator now DETECTS via its
    # ooo_events output (asserted 0 by tests/test_streaming.py rather than
    # silently trusted).
    stream = _replayed(spark, sf_dir)
    runs = longest_run_per_user(stream)
    out = run_available_now(
        runs, "memory", output_mode="update", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )
    # n_events strictly increases per emission, so max_by picks each user's
    # final state even if availableNow split the replay into several batches.
    return out.groupBy("user_id").agg(
        F.max("best_run").alias("best_run"),
        F.max_by("best_type", "n_events").alias("best_type"),
        F.max("n_events").alias("n_events"),
    )


# NOTE: the s10 entry for transformWithStateInPandas (streaming/
# stateful_v2.py) lives in plans/stateful_probe.py behind a runtime
# protobuf probe: Spark 4's successor stateful API speaks protobuf to its
# state server, so in containers without google.protobuf the query would
# fail at start. The probe registers s10 automatically wherever the dep
# resolves; s09 (applyInPandasWithState) is the always-on custom-state
# surface.


# --------------------------------------------------------------------------
# s13: transactional parquet FILE sink (the missing sink family: s01-s12
# end in memory/foreachBatch; production streams land on object storage).
# Append-mode watermarked tumbling counts write exactly-once via the file
# sink's _spark_metadata commit log, and the read-back goes THROUGH that
# log (spark.read on a streaming-sink dir lists committed files only, so
# a torn batch can never be read). Append mode only emits windows the
# watermark has passed, and availableNow's final no-data micro-batch
# flushes state -- but the LAST real windows would stay open forever, so
# the replay plants one far-future sentinel event that pushes the
# watermark past every real window (excluded from the sink output by
# event_type filter; its own window is the only one never emitted).
# Oracle: the full batch hourly rollup == every real window, proving both
# the append-mode emission contract and the sink's atomicity.
# --------------------------------------------------------------------------

_SENTINEL_TS = datetime.datetime(2025, 1, 1)  # > max events ts + watermark at every SF


def _replayed_with_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    def write(d: str) -> tuple[str, StructType]:
        # Derive from the SHARED base staging instead of re-materializing
        # the events table: hard-link its parquet files into a fresh dir
        # and append only the one-row sentinel file. Saves a full
        # read+write of the events table per process (s01 and friends
        # have usually staged the base already; if not, stage it once
        # here so every later _replayed() call reuses it too).
        bd, schema = _staged_replay(spark, sf_dir)
        for f in os.listdir(bd):
            if f.endswith(".parquet"):
                try:
                    os.link(os.path.join(bd, f), os.path.join(d, f))
                except OSError:  # cross-device or FS without hard links
                    shutil.copy2(os.path.join(bd, f), os.path.join(d, f))
        # local_rows_df, not createDataFrame: the default local-rows path
        # fans one row across 32 pickled slices and this coalesce(1)-style
        # single-file write then paid a Python-worker round-trip per empty
        # slice (~4 s of the old s13 fixed cost; staged bytes identical).
        # Row built BY FIELD NAME, never positionally: the staged schema
        # follows the source file's physical column order, which is not
        # ours to assume (r15 schemadrift axis first contact: a reversed-
        # column events file put the sentinel ts into the value slot and
        # killed s13/s14/s22 mid-write).
        sentinel_vals = {
            "event_id": -1,
            "ts": _SENTINEL_TS,
            "user_id": -1,
            "event_type": "__sentinel__",
            "value": 0.0,
            "props": "{}",
        }
        sentinel = local_rows_df(
            spark, [tuple(sentinel_vals[f.name] for f in schema.fields)], schema
        )
        sentinel.write.mode("append").parquet(d)
        return d, schema

    d, schema = memo.staged("replay_sentinel", sf_dir, ("events",), write)
    return file_stream(spark, d, schema)


@register(
    "s13_stream_file_sink",
    oracle=f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n, (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events WHERE {EVENT_TIME_BOUND_SQL} GROUP BY win_start, event_type
""",
)
def s13_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed_with_sentinel(spark, sf_dir)
    agg = tumbling_counts(stream)
    out_dir = memo.scratch_dir("sink")
    run_available_now(agg, ("parquet", out_dir), shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS)
    return (
        spark.read.parquet(out_dir)
        # NULL-safe: a plain != also swallows rows whose event_type is
        # NULL (NULL != x is NULL -> filtered), silently dropping the
        # whole NULL-type window family (r14 nullkeys find)
        .filter(~F.col("event_type").eqNullSafe("__sentinel__"))
        .select("win_start", "event_type", "n", "sum_value")
    )


# --------------------------------------------------------------------------
# s14: stream-stream LEFT OUTER interval join. The outer side exercises a
# different state machine than s07's inner join: a click with no purchase
# in its 30-minute window emits (click_id, NULL) only when the watermark
# proves no purchase can still arrive. The replay sentinel must flow into
# BOTH withWatermark nodes (the global watermark is the min across them),
# so each side's filter admits the sentinel type; its own join output
# (sentinel x sentinel, user -1) is dropped at the end.
# --------------------------------------------------------------------------


@register(
    "s14_stream_left_outer_join",
    oracle=f"""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
FROM (SELECT * FROM events WHERE {EVENT_TIME_BOUND_SQL}) c
LEFT JOIN (SELECT * FROM events WHERE {EVENT_TIME_BOUND_SQL}) p
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click'
""",
)
def s14_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed_with_sentinel(spark, sf_dir)
    clicks = stream.filter(F.col("event_type").isin("click", "__sentinel__"))
    purchases = stream.filter(F.col("event_type").isin("purchase", "__sentinel__"))
    joined = stream_stream_left_outer_join(clicks, purchases, within="30 minutes")
    out = run_available_now(joined, "memory", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS)
    # drop the sentinel's own join output by its type marker -- NOT by an
    # id-domain test (`user_id >= 0` silently dropped real clicks when the
    # r13 extremes variant put -2^63-adjacent longs into user_id)
    return out.filter(F.col("c_type") != "__sentinel__").drop("c_type")


# --------------------------------------------------------------------------
# s15: incremental materialized-view maintenance. UPDATE-mode daily
# rollup -> foreachBatch merge into a day-partitioned parquet table with
# dynamic partition overwrite (only touched days rewritten).
# maxFilesPerTrigger=2 forces MULTIPLE micro-batches over the replay, so
# the merge path (not just the first-batch fast path) is what the oracle
# certifies: after the last trigger the table must equal the batch
# rollup exactly.
# --------------------------------------------------------------------------


@register(
    "s15_incremental_rollup",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
       count(*) AS n, (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events GROUP BY day, event_type
""",
)
def s15_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import foreach_batch_incremental_rollup

    stream = _replayed(spark, sf_dir, max_files_per_trigger=2, n_files=4)
    # running EXACT cents sum in streaming state (long, order-independent
    # across batch splits and engines); divided back once at readback --
    # the r13 extremes variant caught the old double running sum
    # absorbing/overflowing in engine-dependent order (functions/numeric)
    agg = (
        stream.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(valid_cents_spark("value")).alias("sum_cents"),
        )
    )
    table_dir = memo.scratch_dir("mv")
    run_available_now(
        agg,
        foreach_batch_incremental_rollup(table_dir, "day", ["day", "event_type"]),
        output_mode="update",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )
    # partition-column type inference turns day back into a DATE; the
    # rollup's contract (and the oracle) is the string key it grouped by.
    # Explicit schema: a ZERO-batch stream (r12 empty-tables hostile
    # variant) leaves the sink dir without any footer to infer from.
    return spark.read.schema(
        "event_type STRING, n BIGINT, sum_cents BIGINT, day DATE"
    ).parquet(table_dir).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n",
        (F.col("sum_cents") / F.lit(1e2)).alias("sum_value"),
    )


def _append_epochs(
    stream: DataFrame, per_batch: Callable[[DataFrame], Iterator[DataFrame]], schema_ddl: str
) -> DataFrame:
    """Run a foreachBatch probe over ``stream`` and return everything it
    appended, as one frame with an ``epoch`` column.

    ``per_batch(batch_df)`` is a generator that yields the batch's result
    frame (of DDL ``schema_ddl``) once. The frame is tagged with the
    micro-batch's epoch id and appended to one parquet dir; then the
    generator resumes, so code after its ``yield`` releases per-batch
    caches after the append. foreachBatch is at-least-once: a retried
    micro-batch whose append already committed re-appends the same rows
    under the same (stable-on-retry) epoch id, so each caller collapses
    retries on read-back with its own epoch window.

    The read-back takes an EXPLICIT schema. With inference, a sink holding
    no footer-bearing part files fails with 'unable to infer schema'
    instead of returning an empty frame. A zero-MATCH batch still leaves
    one empty footer file (Spark writes >= 1 file even for an AQE-empty
    result, verified on this version), so the live trigger is a stream
    with zero micro-batches (e.g. an empty staging dir under drift or a
    new scale) -- plus any future Spark that stops writing empty files.
    The declared DDL is pinned to what the probe writes (verified
    non-empty at 3 scales: a type mismatch would fail the vectorized
    parquet read outright), so an empty stream degrades to an empty
    DataFrame."""
    out_dir = memo.scratch_dir("probe_out")

    def append(batch_df: DataFrame, epoch_id: int) -> None:
        with contextmanager(per_batch)(batch_df) as found:
            tagged = found.withColumn("epoch", F.lit(int(epoch_id)))
            tagged.write.mode("append").parquet(out_dir)

    run_available_now(stream, append, shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS)
    return stream.sparkSession.read.schema(f"{schema_ddl}, epoch INT").parquet(out_dir)


# --------------------------------------------------------------------------
# s16: streaming quality-gate ROUTER -- the ingest-curation shape: one
# stream fans out to accept/reject parquet sinks inside a single
# foreachBatch (one pass over each micro-batch, both routes written
# atomically per epoch from the SAME batch DataFrame -- localCheckpoint
# so the two writes don't recompute the source). Downstream returns the
# per-route per-type counts, which must equal the batch CASE
# classification: routing must lose nothing and duplicate nothing.
# --------------------------------------------------------------------------


@register(
    "s16_stream_quality_router",
    oracle="""
SELECT CASE WHEN event_type <> 'error' AND value >= 0.5
            THEN 'accept' ELSE 'reject' END AS route,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events
GROUP BY route, event_type
""",
)
def s16_stream_quality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _replayed(spark, sf_dir)
    accept_dir = memo.scratch_dir("route_a")
    reject_dir = memo.scratch_dir("route_r")
    ok = (F.col("event_type") != "error") & (F.col("value") >= 0.5)
    # Route rejects with the explicit complement, NULL-safe: a row with
    # NULL value/event_type makes `ok` NULL, and filter(ok)/filter(~ok)
    # would BOTH drop it -- vanishing from every sink and breaking the
    # "routing loses nothing" invariant. coalesce(ok, false) routes
    # NULL-condition rows to 'reject' exactly like the oracle's
    # CASE ... ELSE branch (ADVICE r3).
    accept = F.coalesce(ok, F.lit(False))

    def route(df, epoch_id):
        batch = df.localCheckpoint(eager=True)
        batch.filter(accept).write.mode("append").parquet(accept_dir)
        batch.filter(~accept).write.mode("append").parquet(reject_dir)

    run_available_now(stream, route)
    routed = (
        spark.read.parquet(accept_dir).withColumn("route", F.lit("accept"))
    ).unionByName(
        spark.read.parquet(reject_dir).withColumn("route", F.lit("reject"))
    )
    return routed.groupBy("route", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cents_sum_spark("value").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# s17: streaming DECONTAMINATION -- drop events of blocklisted users as
# they arrive: stream LEFT ANTI join against a static (broadcast)
# blocklist. Stateless per Spark's stream-static join rules (the static
# side is bounded, no watermark needed), so it composes in front of any
# downstream stateful op. The blocklist derives deterministically
# (user_id % 97 == 0) so the batch anti-join oracle is exact.
# --------------------------------------------------------------------------


@register(
    "s17_stream_static_anti_join",
    # NULL-user rows SURVIVE decontamination: a user that cannot be
    # identified is not on the blocklist, which is exactly what the
    # engine's left_anti computes -- but a bare `user_id % 97 <> 0`
    # evaluates NULL and silently drops them (r14 nullkeys find)
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events
WHERE user_id IS NULL OR user_id % 97 <> 0
GROUP BY event_type
""",
)
def s17_stream_static_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_events

    stream = _replayed(spark, sf_dir)
    blocklist = (
        load_events(spark, sf_dir)
        .select("user_id")
        .filter(F.col("user_id") % 97 == 0)
        .distinct()
    )
    clean = stream.join(F.broadcast(blocklist), "user_id", "left_anti")
    agg = clean.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), cents_sum_spark("value").alias("sum_value")
    )
    out = run_available_now(
        agg, "memory", output_mode="complete", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )
    return out.select("event_type", F.col("n").cast("long").alias("n"), "sum_value")


# --------------------------------------------------------------------------
# s20: streaming Count-Min sketch maintenance -- q67's sketch build run
# over the live stream. The cell explode + groupBy IS the CMS merge law,
# so Spark's incremental state update maintains the sketch exactly: each
# micro-batch's partial counters add into state, and the final state
# equals the batch-built sketch (the oracle). State is bounded at d*w
# rows (256) FOREVER, independent of stream length -- the reason
# pipelines sketch instead of keeping exact per-key counts. Complete
# mode here for the deterministic final snapshot; update mode emits only
# touched cells per trigger in production.
# --------------------------------------------------------------------------

_S20_D = 4
_S20_W = 64

_S20_ORACLE = f"""
WITH rows_j AS (
  SELECT unnest(generate_series(0, {_S20_D - 1})) AS j
)
SELECT j,
       (('0x'||substr(md5('cms'||j::VARCHAR||'|'||user_id::VARCHAR),1,8))::UBIGINT)::BIGINT
         % {_S20_W} AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM events CROSS JOIN rows_j GROUP BY j, bucket
"""


@register(
    "s20_stream_countmin_cells",
    oracle=_S20_ORACLE,
    doc="Streaming Count-Min sketch: q67's cell build as an incremental "
    "streaming aggregate; state bounded at d*w=256 rows regardless of "
    "stream length, final state == batch sketch (oracle).",
)
def s20_stream_countmin_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_hash32

    stream = _replayed(spark, sf_dir).select("user_id")
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("j"),
                (
                    md5_hash32(
                        F.concat(F.lit(f"cms{j}|"), F.col("user_id").cast("string"))
                    )
                    % _S20_W
                ).alias("bucket"),
            )
            for j in range(_S20_D)
        ]
    )
    cells = (
        stream.select(F.explode(cell_structs).alias("c"))
        .groupBy(F.col("c.j").alias("j"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_available_now(
        cells, "memory", output_mode="complete", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )
    return out.select("j", "bucket", F.col("cnt").cast("long").alias("cnt"))


# --------------------------------------------------------------------------
# s23: STREAMING multimodal decode -- media blobs arriving on a stream,
# features extracted incrementally (the ingestion-time shape of mm02:
# at 100 TB media lands continuously; batch re-decodes of the corpus are
# exactly what a streaming decode avoids). The same Arrow-batched
# mapInPandas feature extractor runs UNCHANGED on the streaming
# DataFrame (stateless -> pipelined inside each micro-batch, no state
# store); a complete-mode width histogram of per-image feature energy is
# the final state. Oracle: mm02's pixel-replay CTEs aggregated the same
# way -- so the STREAMING decode path is held to the same bit-level
# contract as the batch one.
# --------------------------------------------------------------------------


def _staged_media(spark: SparkSession, sf_dir: str) -> str:
    from ..functions.multimodal import synth_png_table
    from ..sources.readers import load_table

    def write(d: str) -> str:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        synth_png_table(spark, docs, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(d)
        return d

    return memo.staged("media", sf_dir, ("documents",), write)


def _s23_oracle() -> str:
    from .northstar2 import _MM02_FEATS_CTES, _MM02_FSS

    return (
        _MM02_FEATS_CTES
        + f"""
SELECT width::INT AS width,
       CAST(count(*) AS BIGINT) AS n_images,
       (CASE WHEN sum(CAST(round(({_MM02_FSS}) * 10000) AS BIGINT)) >= 0
             THEN ((2 * sum(CAST(round(({_MM02_FSS}) * 10000) AS BIGINT)) + 100) // 200)
             ELSE -(((-2 * sum(CAST(round(({_MM02_FSS}) * 10000) AS BIGINT))) + 100) // 200)
        END / 1e2) AS energy
FROM feats GROUP BY width
"""
    )


@register(
    "s23_stream_image_features",
    oracle=_s23_oracle(),
    doc="Streaming multimodal decode: PNG blobs replayed through a file "
    "stream, Arrow-batched decode+features per micro-batch (stateless "
    "mapInPandas), complete-mode width histogram of feature energy; "
    "oracle = mm02's pixel-replay CTEs aggregated identically.",
)
def s23_stream_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import _parse_datatype_string

    from ..functions.multimodal import (
        IMAGE_SCHEMA,
        decode_image,
        extract_image_features,
    )

    d = _staged_media(spark, sf_dir)
    stream = spark.readStream.schema(_parse_datatype_string(IMAGE_SCHEMA)).parquet(d)
    feats = extract_image_features(stream, decode=decode_image)
    agg = (
        feats.withColumn(
            "fss",
            F.round(
                F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x), 4
            ),
        )
        .groupBy("width")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.when(
                F.sum(F.round(F.col("fss") * 10000).cast("long")) >= 0,
                F.call_function(
                    "div",
                    2 * F.sum(F.round(F.col("fss") * 10000).cast("long")) + 100,
                    F.lit(200),
                ),
            ).otherwise(
                -F.call_function(
                    "div",
                    -2 * F.sum(F.round(F.col("fss") * 10000).cast("long")) + 100,
                    F.lit(200),
                )
            ).alias("_energy_c"),
        )
    )
    out = run_available_now(
        agg, "memory", output_mode="complete", shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS
    )
    # exact integer half-away cents from the 1e-4-grid energy sum (r13
    # money-sum discipline; the old double sum of 4dp-rounded values was
    # engine-order-dependent)
    return out.select(
        "width", "n_images", (F.col("_energy_c") / F.lit(1e2)).alias("energy")
    )


# --------------------------------------------------------------------------
# s24: streaming CDC upsert-apply -- q77's MERGE run INCREMENTALLY: the
# event stream is a per-user changelog, an update-mode aggregation holds
# each user's global latest event (max of (ts, event_id) -- state the
# size of the KEY SPACE, not the stream), and the foreachBatch sink
# merges changed keys into a bucket-partitioned parquet snapshot with
# latest-wins semantics, rewriting ONLY the touched buckets (dynamic
# partition overwrite -- s15's sink, reused verbatim with a hash bucket
# as the partition column: manual bucket-level copy-on-write, the thing
# table formats automate). maxFilesPerTrigger forces real multi-batch
# merges, so the steady-state path is what the oracle certifies.
# --------------------------------------------------------------------------

_S24_BUCKETS = 16


@register(
    "s24_stream_upsert_snapshot",
    oracle="""
SELECT user_id, event_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str,
       round(value, 2) AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
""",
    doc="Streaming CDC upsert: update-mode latest-per-user aggregation + "
    "foreachBatch latest-wins merge into a bucket-partitioned parquet "
    "snapshot (only touched buckets rewritten); final table = batch "
    "last-event-per-user.",
)
def s24_stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sinks import foreach_batch_incremental_rollup

    stream = _replayed(spark, sf_dir, max_files_per_trigger=2, n_files=4)
    latest = (
        stream.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s")
        )
        .select(
            "user_id",
            (F.col("user_id") % _S24_BUCKETS).alias("bucket"),
            F.col("s.ts").alias("ts"),
            F.col("s.event_id").alias("event_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )
    table_dir = memo.scratch_dir("upsert")
    run_available_now(
        latest,
        foreach_batch_incremental_rollup(table_dir, "bucket", ["user_id"]),
        output_mode="update",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )
    # explicit schema: zero-batch streams leave no footers (see s15)
    return spark.read.schema(
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING,"
        " value DOUBLE, bucket BIGINT"
    ).parquet(table_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.round("value", 2).alias("value"),
    )


# --------------------------------------------------------------------------
# s25: Python Data Source STREAM WRITER under the driver gate -- the
# manifest-committed JSONL sink (sources/python_datasource.py,
# format("jsonl_dir")) driven end-to-end: multi-batch availableNow
# replay writes through executor temp files + driver commit/manifest,
# and the read-back goes THROUGH the manifest (uncommitted files are
# invisible). Aggregate of the read-back must equal the batch oracle --
# i.e. exactly-once across multiple real micro-batches (2: the initial
# commit plus a manifest-append commit), certified by hash.
# --------------------------------------------------------------------------


@register(
    "s25_stream_jsonl_sink",
    oracle="""
SELECT event_type, count(*) AS n, (sum(CASE WHEN (abs(value) <= 1000000000000.0) THEN CAST(round(value * 100) AS BIGINT) END) / 1e2) AS sum_value
FROM events WHERE user_id % 4 = 0 GROUP BY event_type
""",
    doc="Spark 4 Python DataSource stream writer (jsonl_dir) end-to-end: "
    "multi-batch replay -> manifest-committed JSONL -> manifest-gated "
    "read-back; aggregate equals the batch oracle (exactly-once).",
)
def s25_stream_jsonl_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.python_datasource import read_jsonl_sink, register_jsonl_sink
    from ..sources.readers import load_events

    register_jsonl_sink(spark)
    # quarter-slice of the replay, pre-filtered and pre-projected AT THE
    # STAGE JOB (the staged dir is private to this entry): the sink
    # serializes row-at-a-time Python (json.dumps per row -- the honest
    # cost of a PYTHON writer); the contract is identical at any volume,
    # so the exemplar doesn't need to push the full table through it,
    # and pushing the filter/projection into staging cuts both the stage
    # write and the per-batch serialization 4x.
    def write(d: str) -> str:
        (
            load_events(spark, sf_dir)
            .filter(F.col("user_id") % 4 == 0)
            .select("event_type", "value")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(d)
        )
        pin_replay_order(d)
        return d

    staged = memo.staged("s25_quarter_events", sf_dir, ("events",), write)
    # footer-derived schema via the shared helper (regeneration-proof);
    # 4 files / 2 per trigger = 2 real micro-batches
    stream = _staged_replay_stream(spark, staged, max_files_per_trigger=2)
    out_dir = memo.scratch_dir("jsonl_sink")
    # widen the Python writer: without this the write stage inherits the
    # scan's 2 tasks (one per staged file), serializing the row-at-a-time
    # json.dumps; 8 writer tasks is how the sink is meant to scale (one
    # temp file + manifest entry per task)
    run_available_now(stream.repartition(8), ("jsonl_dir", out_dir))
    back = read_jsonl_sink(spark, out_dir, schema="event_type STRING, value DOUBLE")
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum_spark("value").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# s26: STREAMING incremental LSH dedup -- d10's ingestion-time shape run
# on an actual stream: the existing corpus (even doc_ids) is minhashed
# and banded ONCE into a static index; new documents (odd doc_ids)
# arrive as a file-replayed stream in 4 micro-batches, and each batch is
# banded, probed against the index, exact-Jaccard verified (>= 0.8) and
# its per-doc best match appended to a parquet sink.
#
# Per-doc best-match ranking inside foreachBatch is GLOBALLY correct by
# construction: a doc's candidate set depends only on its own bands vs
# the static index -- never on other streamed docs -- and each doc
# arrives in exactly one micro-batch, so batch-local rank == global
# rank and the union of batch outputs == d10's batch answer (the
# oracle). This is the property that makes LSH dedup incrementally
# maintainable at 100 TB: per-batch cost tracks the batch.
# --------------------------------------------------------------------------

def _staged_replay_stream(
    spark: SparkSession, staged_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-replay stream over a staged parquet dir, schema read from the
    staged files' own footer (a driver-side footer sniff -- no inference
    job, the dir is already materialized).

    The staged bytes derive from driver-regenerated testdata whose
    PHYSICAL types have flipped between rounds (events.ts has shipped as
    both TIMESTAMP(NANOS) and micros -- see load_events); a hard-coded
    schema literal here would make the vectorized parquet stream reader
    reject the staged files the round the generator flips, e.g.,
    embeddings float<->double. Deriving from the footer keeps the stream
    byte-faithful to whatever was staged; downstream math normalizes via
    _as_double. With current testdata the derived schemas equal the old
    literals exactly (pinned by tests/test_streaming.py::
    test_staged_replay_schemas_match_r7_literals), so today's plans are
    unchanged."""
    schema = spark.read.parquet(staged_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(staged_dir)
    )


def _staged_new_docs(spark: SparkSession, sf_dir: str) -> str:
    """Odd-doc_id documents split across 2 parquet files for replay.

    2 files -> 2 micro-batches (the s24 treatment): the probe index is
    static, so per-doc best matches are independent of batching and the
    halved per-batch fixed cost (plan + checkpoint + commit) changes
    nothing about WHAT is emitted -- multi-batch replay semantics stay
    exercised."""
    from ..sources.readers import load_table

    def write(d: str) -> str:
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", "text")
            .repartition(2, "doc_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        pin_replay_order(d)
        return d

    return memo.staged("new_docs", sf_dir, ("documents",), write)


def _s26_oracle() -> str:
    from .curation import _d10_oracle

    return _d10_oracle()


@register(
    "s26_stream_lsh_dedup_probe",
    oracle=_s26_oracle(),
    doc="Streaming incremental LSH dedup: static band index of the "
    "existing corpus, new docs replayed in 2 micro-batches, per-batch "
    "band-probe + Jaccard verify + per-doc best match appended; union "
    "of batches == d10's batch answer (oracle).",
)
def s26_stream_lsh_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import (
        PROBE_BROADCAST_CAND_SHINGLE_LIMIT,
        PROBE_BROADCAST_SHINGLE_LIMIT,
        lsh_band_index,
        lsh_probe_banded,
        minhash_signatures,
    )
    from ..sources.readers import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    idx_sigs = (
        minhash_signatures(docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text")
        # the persistent index: minhashed ONCE, reused by every
        # micro-batch (at scale this is the bucketed table you maintain)
        .localCheckpoint(eager=True)
    )
    # ...and BANDED once too: re-banding (and re-shuffling) the corpus
    # posting table per micro-batch would make per-batch cost track the
    # corpus, not the batch (the r9 VERDICT's s26 audit item)
    idx_banded = lsh_band_index(idx_sigs)
    sets_i = idx_sigs.select(
        F.col("doc_id").alias("dup_of"), F.col("shingle_set").alias("set_i")
    )
    stream = _staged_replay_stream(spark, _staged_new_docs(spark, sf_dir))

    def probe(batch_df):
        batch = batch_df.localCheckpoint(eager=True)
        # checkpointed: probed three times below (size gate, banding,
        # verify sets) -- recomputing the minhash per use triples the
        # batch's dominant CPU cost
        probe_sigs = minhash_signatures(batch, "doc_id", "text").localCheckpoint(
            eager=True
        )
        # per-batch broadcast gate (the ngram_probe_index regime): one
        # scalar sum of shingle-set sizes over the checkpointed batch --
        # the exact exploded-row count, array metadata only -- decides;
        # below the bound the batch side is broadcast into BOTH joins so
        # the index never shuffles, and a backfill-sized batch falls
        # back to shuffled joins with identical results
        small = (
            probe_sigs.agg(
                F.coalesce(F.sum(F.size("shingle_set")), F.lit(0)).alias("t")
            ).collect()[0]["t"]
            <= PROBE_BROADCAST_SHINGLE_LIMIT
        )
        # The verify join's broadcast payload is one probe shingle-set
        # per band-collision PAIR -- cardinality scales with index-side
        # bucket multiplicity, not batch size, so the batch gate above
        # says nothing about it (the ngram_probe_index residual, fixed
        # the same way): PERSIST the pair list (two longs per row) so
        # the exact-payload gate job -- a scalar sum of probe
        # shingle-set sizes over the pairs, never touching an array --
        # doubles as the cache fill; the verify join reads the cached
        # pairs and the band join + distinct run exactly once (r12:
        # drops the r11 eager-checkpoint job per batch). Over-bound
        # candidate sets take the shuffled join, result-identical,
        # gated on the CANDIDATE-side limit so the batch and candidate
        # bounds stay independently tunable (r11 ADVICE).
        cands = lsh_probe_banded(
            idx_banded, probe_sigs, broadcast_probe=small
        ).persist()
        payload = (
            cands.join(
                probe_sigs.select("doc_id", F.size("shingle_set").alias("psz")),
                "doc_id",
            )
            .agg(F.coalesce(F.sum("psz"), F.lit(0)).alias("n"))
            .collect()[0]["n"]
        )
        cand_small = payload <= PROBE_BROADCAST_CAND_SHINGLE_LIMIT
        sets_p = probe_sigs.select("doc_id", F.col("shingle_set").alias("set_p"))
        cjoin = cands.join(sets_p, "doc_id")
        verified = (
            sets_i.join(F.broadcast(cjoin) if cand_small else cjoin, "dup_of")
            .withColumn(
                "jaccard",
                F.round(
                    F.size(F.array_intersect("set_p", "set_i"))
                    / F.size(F.array_union("set_p", "set_i")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= 0.8)
        )
        w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("dup_of"))
        yield (
            verified.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "dup_of", "jaccard")
        )
        cands.unpersist()  # per-batch cache released with the batch

    raw = _append_epochs(stream, probe, "doc_id BIGINT, dup_of BIGINT, jaccard DOUBLE")
    wr = Window.partitionBy("doc_id").orderBy(F.asc("epoch"), F.asc("dup_of"))
    return (
        raw.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dup_of", "jaccard")
    )


# --------------------------------------------------------------------------
# s27: STREAMING PSI drift monitor -- q83's Population Stability Index
# maintained incrementally: the per-(type, side, bucket) counts are a
# streaming aggregate whose state is bounded at |types| x 2 x 10 rows
# FOREVER (the s20 Count-Min argument: sketch-shaped state, not
# per-key), and the PSI arithmetic runs on the final tiny state. Final
# answer == q83's batch answer (shared oracle).
# --------------------------------------------------------------------------


from .batch8 import _Q83_ORACLE  # noqa: E402  (no circularity: batch8
# imports only catalog/sources/functions; importing it here just runs its
# registrations a few lines earlier than plans/__init__ would)


@register(
    "s27_stream_psi_cells",
    oracle=_Q83_ORACLE,
    doc="Streaming PSI drift monitor: q83's histogram cells as an "
    "incremental streaming aggregate (state bounded at |types|x2x10 "
    "rows), PSI computed on the final state; oracle = q83's batch SQL.",
)
def s27_stream_psi_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .batch8 import _Q83_BUCKETS, _Q83_VHI, _Q83_VLO

    stream = _replayed(spark, sf_dir).filter(
        # NaN excluded like NULL, matching q83 and the shared oracle
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    width = (_Q83_VHI - _Q83_VLO) / _Q83_BUCKETS
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - _Q83_VLO) / width), F.lit(0)),
        F.lit(_Q83_BUCKETS - 1),
    )
    side = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("snap|"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    cells_stream = (
        stream.select(
            "event_type", side.alias("side"), bucket.alias("bucket")
        )
        .groupBy("event_type", "side", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    state = run_available_now(
        cells_stream,
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )
    cells = (
        state.groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("side") == 0, F.col("n"))).alias("n_base"),
            F.sum(F.when(F.col("side") == 1, F.col("n"))).alias("n_cand"),
        )
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
        )
        # |types| x 10 rows; materializing sidesteps the memory-sink
        # view's self-join attribute conflict (cells joins its own total)
        .localCheckpoint(eager=True)
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cand").alias("t_cand")
    )
    p = cells.join(tot, "event_type").select(
        "event_type",
        ((F.col("n_base") + 1) / (F.col("t_base") + _Q83_BUCKETS).cast("double")).alias(
            "pb"
        ),
        ((F.col("n_cand") + 1) / (F.col("t_cand") + _Q83_BUCKETS).cast("double")).alias(
            "pc"
        ),
    )
    psi = F.round(
        F.sum(
            F.round((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb")), 9)
        ),
        6,
    )
    return (
        p.groupBy("event_type")
        .agg(psi.alias("psi"))
        .select("event_type", "psi", (F.col("psi") >= 0.2).alias("drift_flag"))
        .orderBy("event_type")
    )



# --------------------------------------------------------------------------
# s28: STREAMING ANN-INDEX INGEST -- the maintenance half of e03's IVF
# index (operators/similarity.py::ivf_cosine_topk): embeddings arrive as
# a stream and are docked into their inverted lists incrementally. Per
# micro-batch: assign each vector to its nearest pinned centroid (same
# deterministic quantizer and tie-break as e03 -- broadcast centroid
# table, batch-local argmax window keyed by vec_id), then append ONE
# O(#centroids) partial-counts row-group per batch. The published view
# aggregates partials -- list sizes + load fractions, the imbalance
# signal an index operator watches to decide re-clustering. At 100 TB
# ingest cost per batch is batch-sized (assignment) + O(#centroids)
# (partials); the corpus is never rescanned. Final state must equal
# e03's batch assignment exactly (integer counts; fractions derived
# from exact integers -- zero float-accumulation risk).
# --------------------------------------------------------------------------

_S28_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT e.vec_id, cent.cid,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS cc
  FROM e, cent
), assigned AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), counts AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vectors
  FROM assigned WHERE crn = 1 GROUP BY cid
)
SELECT cid, n_vectors,
       round(n_vectors::DOUBLE / (SELECT sum(n_vectors) FROM counts), 6) AS frac
FROM counts
"""


def _staged_embeddings(spark: SparkSession, sf_dir: str) -> str:
    """Full embeddings table split across 4 parquet files for replay."""
    from ..sources.readers import load_table

    def write(d: str) -> str:
        (
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .repartition(4, "vec_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        pin_replay_order(d)
        return d

    return memo.staged("embeddings_replay", sf_dir, ("embeddings",), write)


@register(
    "s28_stream_ivf_ingest",
    oracle=_S28_ORACLE,
    doc="Streaming IVF index ingest: embeddings replayed in 4 "
    "micro-batches, each assigned to e03's pinned centroids (broadcast "
    "quantizer, batch-local argmax) and folded into per-list partial "
    "counts; final list sizes + load fractions equal the batch "
    "assignment exactly.",
)
def s28_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double
    from ..sources.readers import load_table

    def vectors(df):
        return with_norm(df.select("vec_id", _as_double(F.col("embedding")).alias("v")))

    emb = load_table(spark, sf_dir, "embeddings")
    # the static quantizer: built once, broadcast to every batch
    cent = pinned_centroids(vectors(emb)).localCheckpoint(eager=True)
    stream = _staged_replay_stream(spark, _staged_embeddings(spark, sf_dir))

    def ingest(batch_df):
        assigned = (
            rank_centroids(vectors(batch_df), cent)
            .filter(F.col("crn") == 1)
            .select("vec_id", "cid")
        )
        yield assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).coalesce(1)

    counts = (
        _append_epochs(stream, ingest, "cid BIGINT, n BIGINT")
        # idempotent merge: foreachBatch is at-least-once, so a batch
        # retried after its append committed leaves a duplicate
        # (cid, epoch) row-group; per-epoch counts are deterministic
        # (file replay), so max-per-(cid,epoch) collapses retries
        # before the cross-epoch sum
        .groupBy("cid", "epoch")
        .agg(F.max("n").alias("n"))
        .groupBy("cid")
        .agg(F.sum("n").cast("long").alias("n_vectors"))
    )
    total = counts.agg(F.sum("n_vectors").cast("long").alias("t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "cid",
        "n_vectors",
        F.round(F.col("n_vectors") / F.col("t"), 6).alias("frac"),
    )


# --------------------------------------------------------------------------
# s29: STREAMING SEMANTIC DEDUP -- d14's SemDeDup as an incremental
# probe, completing the batch<->stream matrix for the third dedup family
# (exact: d01/s04, MinHash-LSH: d02/s26, semantic: d14/s29). The static
# half of the corpus (even vec_ids) is clustered ONCE by the pinned-
# centroid quantizer and kept as the per-cluster index; new vectors
# (odd vec_ids) arrive as a stream and each micro-batch (a) routes its
# vectors to their nearest centroid (broadcast centroid table, O(batch x
# #centroids)), (b) cosine-verifies ONLY against that cluster's index
# list (never the corpus), (c) appends its per-vector best match tagged
# with the epoch id; the read-back collapses at-least-once retries
# (s28's idempotent-merge device).
#
# State boundedness at 100 TB: the per-batch probe state is the
# broadcast centroid table (O(#centroids)) plus the touched index lists;
# list sizes are capped by the same counted guard as d14 (_S29_MAX_LIST,
# loud ValueError, never an OOM) -- a degenerate quantizer is an
# operator error, not a silent quadratic join. Cf. reference streaming
# apps' bounded-state aggregations (app3/live_counts.py) -- same
# discipline, vector-valued state.
# --------------------------------------------------------------------------

_S29_TAU = 0.30
_S29_MAX_LIST = 50_000

_S29_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn
         FROM n WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cid,
         round(list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn), 12) AS cc
  FROM n, cent
), ranked AS (
  SELECT vec_id, v, nrm, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), lists AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE crn = 1),
idx AS (SELECT * FROM lists WHERE vec_id % 2 = 0),
prb AS (SELECT * FROM lists WHERE vec_id % 2 = 1),
pairs AS (
  SELECT p.vec_id, i.vec_id AS dup_of,
         round(list_dot_product(p.v, i.v) / (p.nrm * i.nrm), 12) AS cos
  FROM prb p JOIN idx i ON p.cid = i.cid
), best AS (
  SELECT vec_id, dup_of, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, dup_of) AS rn
  FROM pairs WHERE cos >= {_S29_TAU}
)
SELECT vec_id, CAST(dup_of AS BIGINT) AS dup_of, round(cos, 6) AS cos
FROM best WHERE rn = 1 ORDER BY vec_id
"""


@register(
    "s29_stream_semantic_dedup_probe",
    oracle=_S29_ORACLE,
    doc="Streaming SemDeDup (d14's streaming twin): static per-cluster "
    "index of even vec_ids under the pinned-centroid quantizer, odd "
    "vec_ids replayed in micro-batches, per-batch centroid-route + "
    "within-cluster cosine verify + best-match append (epoch-tagged, "
    "retry-idempotent); union of batches == the batch answer (oracle).",
)
def s29_stream_semantic_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import _as_double, _dot
    from ..sources.readers import load_table, spread

    emb = load_table(spark, sf_dir, "embeddings")
    n = with_norm(spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v")))
    # the quantizer: built once, broadcast into every micro-batch
    cent = pinned_centroids(n).localCheckpoint(eager=True)
    idx = (
        rank_centroids(n.filter(F.col("vec_id") % 2 == 0), cent, digits=12)
        .filter(F.col("crn") == 1)
        .select(
            "cid",
            F.col("vec_id").alias("dup_of"),
            F.col("v").alias("iv"),
            F.col("vn").alias("inrm"),
        )
        # the persistent index: clustered ONCE, probed by every batch
        .localCheckpoint(eager=True)
    )
    # d14's anti-quadratic guard, applied to the HALF that persists: a
    # degenerate quantizer routing everything to one centroid would make
    # every probe batch join an O(corpus) list. Fail loudly instead.
    hot = (
        idx.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > _S29_MAX_LIST)
        .take(1)
    )
    if hot:
        raise ValueError(
            f"s29: index cluster {hot[0]['cid']} holds {hot[0]['sz']} vectors "
            f"(cap {_S29_MAX_LIST}); per-batch probes against it would be "
            "unbounded -- increase centroid count (lower stride) and re-cluster"
        )
    stream = _staged_replay_stream(spark, _staged_embeddings(spark, sf_dir)).filter(
        F.col("vec_id") % 2 == 1
    )

    def probe(batch_df):
        batch = with_norm(
            batch_df.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        ).localCheckpoint(eager=True)
        assigned = (
            rank_centroids(batch, cent, digits=12)
            .filter(F.col("crn") == 1)
            .select("vec_id", "v", "vn", "cid")
        )
        # gated broadcast of the (small) routed batch into the
        # persistent index join, so idx never shuffles per batch (the
        # s26/s33 regime; MATMUL_QUERY_ROW_LIMIT is the d05 precedent
        # for how many embedding rows fit a broadcast comfortably). A
        # backfill-sized batch falls back to the shuffled join --
        # result-identical, and the downstream vec_id window only ever
        # carries candidate rows (bounded by _S29_MAX_LIST per list).
        from ..operators.similarity import MATMUL_QUERY_ROW_LIMIT

        small = (
            batch.limit(MATMUL_QUERY_ROW_LIMIT + 1).count() <= MATMUL_QUERY_ROW_LIMIT
        )
        maybe_bcast = F.broadcast if small else (lambda d: d)
        wb = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("dup_of"))
        yield (
            idx.join(maybe_bcast(assigned), "cid")
            .withColumn(
                "cos",
                F.round(
                    _dot(F.col("v"), F.col("iv")) / (F.col("vn") * F.col("inrm")), 12
                ),
            )
            .filter(F.col("cos") >= _S29_TAU)
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") == 1)
            .select("vec_id", "dup_of", F.round("cos", 6).alias("cos"))
        )

    raw = _append_epochs(stream, probe, "vec_id BIGINT, dup_of BIGINT, cos DOUBLE")
    # retries re-append identical per-epoch rows (deterministic file
    # replay): collapse on (vec_id, epoch)-first ordering
    wr = Window.partitionBy("vec_id").orderBy(
        F.asc("epoch"), F.desc("cos"), F.asc("dup_of")
    )
    return (
        raw.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("vec_id", "dup_of", "cos")
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# s30: STREAMING CDC-CHUNK DEDUP -- d15's content-defined-chunking dedup
# as an incremental probe, the fourth batch<->stream dedup pairing
# (exact d01/s04, MinHash-LSH d02/s26, semantic d14/s29, CDC d15/s30).
# The even-doc half is chunked ONCE into a chunk-hash index; new (odd)
# docs arrive in micro-batches, are chunked by the IDENTICAL in-row HOF
# expressions (shared cdc_chunk_frame, so chunk identities agree by
# construction), and each batch left-joins its chunk hashes against the
# index to emit per-doc dup stats, epoch-tagged for retry idempotence.
#
# Scale shape: the index is a (chash)-keyed table, NOT broadcast (at
# 100 TB it is corpus-sized); each micro-batch pays one batch-sized
# chunk expansion + one hash-partitioned join against it -- the rsync/
# storage-dedup ingestion economics. State never grows with the stream
# here (static index exemplar); the d10/s26 maintenance pattern applies
# unchanged if probed docs should also be indexed.
# --------------------------------------------------------------------------


def _s30_oracle() -> str:
    from .batch8 import _D15_TOPN, _cdc_chunk_ctes

    # DISTINCT (doc_id, text) document identities, matching the engine's
    # cdc_chunk_frame dedup; the chunk lattice is batch8._cdc_chunk_ctes
    # (linear lag()-window form -- the old list-comprehension lattice was
    # quadratic in doc length, r14 longstr find), so d15 and s30 share
    # the IDENTICAL chunk identities by construction.
    return f"""
WITH {_cdc_chunk_ctes()}, idx AS (
  SELECT DISTINCT chash FROM ch WHERE doc_id % 2 = 0
), per_doc AS (
  SELECT c.doc_id, any_value(c.n) AS n,
         count(*) AS n_chunks,
         count(i.chash) AS n_dup_chunks,
         coalesce(sum(c.clen) FILTER (WHERE i.chash IS NOT NULL), 0) AS dup_tokens
  FROM ch c LEFT JOIN idx i USING (chash)
  WHERE c.doc_id % 2 = 1
  GROUP BY c.doc_id
)
SELECT p.doc_id,
       CAST(p.n_chunks AS BIGINT) AS n_chunks,
       CAST(p.n_dup_chunks AS BIGINT) AS n_dup_chunks,
       CAST(p.dup_tokens AS BIGINT) AS dup_tokens,
       round(p.dup_tokens / CAST(p.n AS DOUBLE), 4) AS dup_token_frac
FROM per_doc p
ORDER BY dup_token_frac DESC, doc_id
LIMIT {_D15_TOPN}
"""


@register(
    "s30_stream_cdc_dedup_probe",
    oracle=_s30_oracle(),
    doc="Streaming CDC-chunk dedup (d15's streaming twin, fourth "
    "batch<->stream dedup family): static chunk-hash index of even "
    "docs, odd docs replayed in micro-batches and chunked by the shared "
    "cdc_chunk_frame expressions, per-batch hash join emits epoch-"
    "tagged per-doc dup stats; union of batches == the batch answer.",
)
def s30_stream_cdc_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.readers import load_table as _lt
    from .batch8 import _D15_TOPN, cdc_chunk_frame

    docs = _lt(spark, sf_dir, "documents")
    idx = (
        cdc_chunk_frame(docs.filter(F.col("doc_id") % 2 == 0))
        .select("chash")
        .distinct()
        # the persistent chunk index: chunked ONCE, joined by every batch
        .localCheckpoint(eager=True)
    )
    stream = _staged_replay_stream(spark, _staged_new_docs(spark, sf_dir))

    def probe(batch_df):
        from ..operators.dedup import PROBE_BROADCAST_SHINGLE_LIMIT

        # checkpointed: the rolling-hash chunking is the batch's dominant
        # CPU cost and the frame is read twice below (totals + dup join).
        # spread_input=False: a per-micro-batch repartition of the small
        # batch frame costs more than the parallelism buys (r16).
        ch = cdc_chunk_frame(batch_df, spread_input=False).localCheckpoint(eager=True)
        # The probe-vs-index match used to be a LEFT join with ch (the
        # preserved batch side) on the left -- Spark cannot broadcast the
        # preserved side, so the corpus-sized chunk index re-shuffled
        # every micro-batch. Split instead: an INNER dup join (batch side
        # broadcast under the s26/s33 limit+1 gate, so the index is only
        # SCANNED, never shuffled) plus a batch-local totals aggregate,
        # recombined by a tiny per-doc left join -- result-identical.
        small = (
            ch.limit(PROBE_BROADCAST_SHINGLE_LIMIT + 1).count()
            <= PROBE_BROADCAST_SHINGLE_LIMIT
        )
        maybe_bcast = F.broadcast if small else (lambda d: d)
        dup = (
            idx.join(maybe_bcast(ch.select("doc_id", "chash", "clen")), "chash")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_dup_chunks"),
                F.sum("clen").cast("long").alias("dup_tokens"),
            )
        )
        yield (
            ch.groupBy("doc_id", "n")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
            .join(dup, "doc_id", "left")
            .select(
                "doc_id",
                "n_chunks",
                F.coalesce("n_dup_chunks", F.lit(0).cast("long")).alias(
                    "n_dup_chunks"
                ),
                F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
                F.round(
                    F.coalesce("dup_tokens", F.lit(0).cast("long"))
                    / F.col("n").cast("double"),
                    4,
                ).alias("dup_token_frac"),
            )
        )

    raw = _append_epochs(
        stream,
        probe,
        "doc_id BIGINT, n_chunks BIGINT, n_dup_chunks BIGINT,"
        " dup_tokens BIGINT, dup_token_frac DOUBLE",
    )
    # retries re-append identical per-epoch rows; collapse before ranking
    wr = Window.partitionBy("doc_id").orderBy(F.asc("epoch"))
    return (
        raw.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chunks", "n_dup_chunks", "dup_tokens", "dup_token_frac")
        .orderBy(F.desc("dup_token_frac"), F.asc("doc_id"))
        .limit(_D15_TOPN)
    )


# --------------------------------------------------------------------------
# s31: STREAMING EWMA VOLUME-ANOMALY monitor -- q86's monitoring twin in
# the same relationship s27 has to q83, completing the monitoring
# matrix: value-distribution drift (q83/s27) and volume anomalies
# (q86/s31) both batch AND streaming. The per-(type, day) counts are an
# incremental streaming aggregate whose state is bounded at |types| x
# horizon-days rows FOREVER (the s20/s27 sketch-state argument); the
# bit-identical chronological EWMA fold + ranking (shared
# ewma_anomaly_report -- the report logic never forks from q86's) runs
# on the final tiny state. Final answer == q86's batch answer (shared
# oracle).
# --------------------------------------------------------------------------

from .batch8 import _Q86_ORACLE  # noqa: E402  (same import rationale as _Q83_ORACLE)


@register(
    "s31_stream_ewma_anomaly",
    oracle=_Q86_ORACLE,
    doc="Streaming EWMA volume-anomaly monitor: q86's daily cells as an "
    "incremental streaming aggregate (state bounded at |types| x "
    "horizon-days rows), the shared bit-identical EWMA fold on the "
    "final state; oracle = q86's recursive-CTE SQL.",
)
def s31_stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .batch8 import ewma_anomaly_report

    stream = _replayed(spark, sf_dir)
    daily_stream = stream.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    state = run_available_now(
        daily_stream,
        "memory",
        output_mode="complete",
        shuffle_partitions=REPLAY_SHUFFLE_PARTITIONS,
    )
    # |types| x |days| rows; materialize so the fold plans over a stable
    # snapshot of the memory-sink view (the s27 device)
    return ewma_anomaly_report(state.localCheckpoint(eager=True))


# --------------------------------------------------------------------------
# s32: STREAMING CONTAMINATION CHECK -- d06's benchmark decontamination
# as an ingestion-time probe, the fifth batch<->stream pairing (exact
# d01/s04, MinHash-LSH d02/s26, semantic d14/s29, CDC d15/s30,
# contamination d06/s32). The benchmark slice's distinct word-5-gram
# hashes are built ONCE and broadcast (an eval set is tiny by
# construction -- the one dedup-family side that IS legitimately
# broadcastable at 100 TB); every micro-batch of arriving docs shingles
# in-row, hash-joins the broadcast set, and appends per-doc hit counts
# epoch-tagged. The read-back collapses retries and aggregates per
# source -- equal to d06's batch answer (shared oracle, verbatim).
# --------------------------------------------------------------------------

def _staged_corpus_docs(spark: SparkSession, sf_dir: str) -> str:
    """Non-benchmark documents (doc_id % 97 != 0) split across 2 parquet
    files for replay (the s26 2-batch rationale)."""
    from ..sources.readers import load_table

    def write(d: str) -> str:
        (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 97 != 0)
            .select("doc_id", "source", "text")
            .repartition(2, "doc_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        pin_replay_order(d)
        return d

    return memo.staged("corpus_docs", sf_dir, ("documents",), write)


from .curation import _D06_ORACLE, _DUCK_H32  # noqa: E402  (oracle twin, same
# import rationale as _Q83_ORACLE/_Q86_ORACLE)


# s32's sink keeps ONE row per document IDENTITY (the per-doc_id epoch
# dedup), so its oracle runs d06's lattice over DISTINCT documents --
# d06 itself stays row-level (its engine counts physical rows). The two
# twins agree bit-for-bit on duplicate-free data; the r13 dupx variant
# is what forces the distinction. 5-gram shingles come from
# catalog.shingle_rows_sql (lead() windows; the old slice comprehension
# is quadratic in doc length -- r14 longstr find).
_S32_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, source,
         string_split(text, ' ') AS t
  FROM (SELECT DISTINCT doc_id, source, text FROM documents)
), {shingle_rows_sql('tok', 5, 'doc_id, source')},
sh AS (
  SELECT DISTINCT _rid, doc_id, source, g AS s FROM shw
), hashed AS (
  SELECT doc_id, source, {_DUCK_H32.format(expr='s')} AS h FROM sh
), bench AS (
  SELECT DISTINCT h FROM hashed WHERE doc_id % 97 = 0
), hits AS (
  SELECT c.doc_id, c.source, count(DISTINCT c.h) AS n_hits
  FROM hashed c JOIN bench b USING (h)
  WHERE c.doc_id % 97 <> 0
  GROUP BY c.doc_id, c.source
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN h.n_hits IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_hits
FROM (SELECT DISTINCT doc_id, source FROM documents) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 97 <> 0
GROUP BY d.source
"""


@register(
    "s32_stream_contamination_probe",
    oracle=_S32_ORACLE,
    doc="Streaming contamination check (d06's streaming twin, fifth "
    "batch<->stream dedup-family pairing): benchmark 5-gram hash set "
    "built once and broadcast, non-benchmark docs replayed in "
    "micro-batches, per-batch in-row shingle + broadcast hash join "
    "appends epoch-tagged per-doc hit counts; per-source aggregate of "
    "the union == d06's batch answer (shared oracle).",
)
def s32_stream_contamination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import md5_hash32, shingles, tokenize
    from ..sources.readers import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    bench = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.explode(
                F.array_distinct(shingles(tokenize(F.col("text")), 5))
            ).alias("s")
        )
        .select(md5_hash32(F.col("s")).alias("h"))
        .distinct()
        # the eval-set fingerprint: built once, broadcast to every batch
        .localCheckpoint(eager=True)
    )
    stream = _staged_replay_stream(spark, _staged_corpus_docs(spark, sf_dir))

    def probe(batch_df):
        batch = batch_df.localCheckpoint(eager=True)
        hashed = batch.select(
            "doc_id",
            F.explode(
                F.array_distinct(shingles(tokenize(F.col("text")), 5))
            ).alias("s"),
        ).select("doc_id", md5_hash32(F.col("s")).alias("h"))
        hits = (
            hashed.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(F.countDistinct("h").alias("n_hits"))
        )
        yield batch.select("doc_id", "source").join(hits, "doc_id", "left").select(
            "doc_id",
            "source",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        )

    raw = _append_epochs(stream, probe, "doc_id BIGINT, source STRING, n_hits BIGINT")
    wr = Window.partitionBy("doc_id").orderBy(F.asc("epoch"))
    return (
        raw.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_hits") > 0).cast("long")).alias("n_contaminated"),
            F.sum("n_hits").cast("long").alias("n_hits"),
        )
    )


# --------------------------------------------------------------------------
# s33: STREAMING exact n-gram-Jaccard dedup -- d04's PPJoin shape run at
# ingestion time, completing the sixth batch<->stream dedup pairing
# (exact d01/s04, MinHash d02/s26, semantic d14/s29, CDC d15/s30,
# contamination d06/s32, exact-Jaccard d04/s33). The existing corpus
# (even doc_ids) is shingled and prefix-indexed ONCE
# (operators/dedup.py::ngram_prefix_index); new documents (odd doc_ids)
# arrive as a file-replayed stream and each micro-batch prefix-prunes
# its own shingles under the INDEX's (df, shingle) order (unseen
# shingles rank rarest, extending the order without disturbing it) and
# probes the posting lists with the full PPJoin length + positional
# predicates (ngram_probe_index) -- complete at the threshold, and
# incrementally maintainable at 100 TB: new docs append to the index,
# never reorder it (df growth can only lengthen old prefixes' ideal
# bound, which admits extra candidates, never loses a pair).
#
# Per-doc outputs depend only on the doc's own shingles vs the static
# index, so batch-local results == the batch lattice (the oracle) and
# the union over batches is invariant to batching -- same argument as
# s26. Retried batches collapse via the epoch tag on read-back.
# --------------------------------------------------------------------------

# sh collapses to DISTINCT (doc_id, text) first: the pair lattice is over
# document IDENTITIES (the engine's sink readback keeps one row per
# (doc_id, dup_of)), so exact-duplicate doc rows (the r13 dupx variant)
# must not re-inflate the oracle's final shingle joins x(copies^2).
# shingle lists via catalog.shingle_rows_sql (lead() windows -- the slice
# comprehension is quadratic in doc length, r14 longstr find); order inside
# `s` is irrelevant to every consumer below.
_S33_ORACLE = f"""
WITH dsh AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, string_split(text, ' ') AS t
  FROM (SELECT DISTINCT doc_id, text FROM documents)
), {shingle_rows_sql('dsh', 3, 'doc_id')},
sh AS (
  SELECT doc_id, list(DISTINCT g) AS s FROM shw GROUP BY doc_id
), ex AS (
  SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh WHERE doc_id % 2 = 0
), dfreq AS (
  SELECT shingle, count(*) AS df FROM ex GROUP BY shingle
), prefix AS (
  SELECT doc_id, shingle FROM (
    SELECT e.doc_id, e.sz, e.shingle,
           row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.shingle) AS rn
    FROM ex e JOIN dfreq d USING (shingle)
  ) WHERE rn <= sz - ceil(0.5 * sz) + 1
), pex AS (
  SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 2 = 1
), cands AS (
  SELECT DISTINCT p.doc_id AS doc_id, x.doc_id AS dup_of
  FROM pex p JOIN prefix x USING (shingle)
)
SELECT c.doc_id, c.dup_of,
       round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
             / len(list_distinct(sa.s || sb.s)), 4) AS jaccard
FROM cands c
JOIN sh sa ON sa.doc_id = c.doc_id
JOIN sh sb ON sb.doc_id = c.dup_of
WHERE len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
      / len(list_distinct(sa.s || sb.s)) >= 0.5
"""


@register(
    "s33_stream_ngram_jaccard_probe",
    oracle=_S33_ORACLE,
    doc="Streaming twin of d04 (exact n-gram-Jaccard PPJoin): even docs "
    "prefix-indexed once, odd docs replayed as a stream, per-batch "
    "probe under the index's own rarity order with two-sided PPJoin "
    "length + positional pruning (complete at threshold 0.5), exact "
    "verify, epoch-tagged idempotent append; oracle = the batch "
    "lattice restricted to odd-probe x even-index pairs.",
)
def s33_stream_ngram_jaccard_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import ngram_prefix_index, ngram_probe_index
    from ..sources.readers import load_table as _lt

    docs = _lt(spark, sf_dir, "documents")
    # the persistent index triple: built + materialized once (inside
    # ngram_prefix_index), probed by every micro-batch
    sets_i, prefix_i, dfreq_i = ngram_prefix_index(
        docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", threshold=0.5
    )
    stream = _staged_replay_stream(spark, _staged_new_docs(spark, sf_dir))

    def probe(batch_df):
        batch = batch_df.localCheckpoint(eager=True)
        matches, pair_cache = ngram_probe_index(
            sets_i, prefix_i, dfreq_i, batch, "doc_id", "text", threshold=0.5,
            with_cache=True,
        )
        yield matches
        # the pair-list cache served its batch; release it now instead of
        # waiting on the ContextCleaner (a long-running stream would
        # otherwise hold one cached pair list per un-GC'd batch)
        pair_cache.unpersist()

    raw = _append_epochs(stream, probe, "doc_id BIGINT, dup_of BIGINT, jaccard DOUBLE")
    wr = Window.partitionBy("doc_id", "dup_of").orderBy(F.asc("epoch"))
    return (
        raw.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dup_of", "jaccard")
    )
