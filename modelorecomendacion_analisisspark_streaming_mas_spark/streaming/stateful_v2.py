"""Spark 4 ``transformWithStateInPandas`` operators -- the successor API to
``applyInPandasWithState`` (stateful.py): typed named state variables
(ValueState/ListState/MapState), timers, TTL, and composable processors
instead of a single opaque state tuple.

RUNTIME GATE: transformWithStateInPandas drives its state server over
protobuf in BOTH the driver and the Python workers. Environments without
a protobuf wheel resolve it through compat/protobuf_shim.py (driver-side
redirect finder + addPyFile'd worker alias zip over the host's vendored
pure-python runtime); plans/stateful_probe.py registers the s10 catalog
entry iff some runtime (native or vendored) resolves, and
tests/test_streaming.py asserts the probe matches reality in both
directions. On a real cluster (protobuf ships with standard Spark
distros' Python env) this module works as-is with mode 'native'.

The exemplar mirrors s06's streaming group counts through the NEW API so
both stateful surfaces are exercised against the same oracle shape: per
``event_type``, a running (count, sum(value)) pair held in a ValueState.
Emissions are monotone in ``n_events`` (state only grows), so the
``max_by(n_events)`` reduction at the sink stays exact under any
micro-batch split -- the same idempotent-reducible emission discipline
stateful.py uses.

Scale notes: state is one (long, double) tuple per key in the state store;
parallelism = shuffle partitions at query start (pinned in the checkpoint,
see sources/streams.py::run_available_now). TTL (ttlDurationMs) and timers are available on
the same handle for eviction at 100 TB key cardinality -- not used here
because the oracle needs full retention.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUT_SCHEMA = "event_type string, n_events bigint, sum_cents bigint"


def _exact_cents_sum(values: pd.Series) -> int:
    """Exact integer-cents sum of a FINITE float64 Series, failing LOUDLY
    on any value outside the representable cents grid.

    pandas ``astype('int64')`` raises only for non-finite values; a FINITE
    off-scale double (e.g. 1e300) silently WRAPS to garbage (r13 ADVICE:
    1e300 -> -9223372036854768654 on pandas 2.2.2). The Spark ANSI cast and
    the DuckDB oracle both raise on the same input, so the pandas path must
    bound-check before casting to keep all three engines degrading
    identically. The reduction itself runs at object dtype (Python ints),
    so the batch total cannot wrap either. Invalid readings are the
    caller's business (quarantine them with ``_valid_values`` first):
    here any non-finite or off-scale value raises.
    """
    scaled = values.mul(100).round()
    arr = scaled.to_numpy()
    bad = ~np.isfinite(arr) | (np.abs(arr) >= float(2**63))
    if bad.any():
        offender = scaled[bad].iloc[0]
        raise ValueError(
            "value off the exact int64 cents grid in stateful state "
            f"(scaled={offender!r}); refusing to wrap -- mirror of the "
            "ANSI-cast / grid-guard fail-loud contract"
        )
    if not len(scaled):
        return 0
    return int(scaled.astype("int64").to_numpy().astype(object).sum())


def _valid_values(values: pd.Series) -> pd.Series:
    """Apply the value-validity window (functions/numeric.VALUE_VALID_MAX)
    to an Arrow batch: NaN/inf and absurd magnitudes are sensor garbage,
    quarantined from SUMS (row counts still count them) -- the r15 policy
    shared with cents_sum_spark/_sql, so the stateful path and the batch
    oracle stay hash-identical on hostile telemetry. NaN fails the abs
    bound like it does in both engines' comparisons. The Arrow batch
    surfaces SQL NULL as NaN in a plain float64 column, so NULL readings
    are quarantined here too; the events schema ships value NOT NULL at
    every SF and variant, so the two are indistinguishable today."""
    from ..functions.numeric import VALUE_VALID_MAX

    arr = values.to_numpy(dtype="float64")
    with np.errstate(invalid="ignore"):
        mask = np.abs(arr) <= VALUE_VALID_MAX
    return values[mask]


class RunningCountSum(StatefulProcessor):
    """Per-key running count + sum held in a named ValueState.

    ``ttl_ms``: optional state time-to-live -- the knob that bounds state
    at 100 TB key cardinality (an entry untouched for ttl_ms is expired
    by the store and the key restarts from zero). None = retain forever,
    which is what the s10 oracle needs.
    """

    def __init__(self, ttl_ms: int | None = None) -> None:
        self._ttl_ms = ttl_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._agg = handle.getValueState(
            "agg", "n bigint, total_cents bigint", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        # one state-server RPC, not two: get() returns None when the
        # variable is absent, so the exists() probe is a redundant
        # roundtrip through the (pure-python-protobuf) state channel
        prev = self._agg.get()
        n, cents = prev if prev is not None else (0, 0)
        for pdf in rows:
            n += len(pdf)
            # exact integer-cents accumulation over VALID readings only
            # (2dp-grid telemetry: the r13 extremes variant showed float
            # running sums absorbing / overflowing in arrival order; the
            # r15 nullx axis set the quarantine policy -- garbage readings
            # leave the SUM, never kill the stream, and counts still
            # count them, identical to the batch oracle's device)
            cents += _exact_cents_sum(_valid_values(pdf["value"]))
        self._agg.update((n, cents))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n_events": [n], "sum_cents": [cents]}
        )

    def close(self) -> None:
        pass


def running_count_sum_per_type(stream: DataFrame) -> DataFrame:
    """Streaming per-``event_type`` (count, sum(value)) via
    transformWithStateInPandas in update mode. Latest row per key (max
    ``n_events``) equals the batch groupBy aggregate over everything
    consumed so far.

    Only (event_type, value) cross the Python boundary: the handler reads
    nothing else, and an opaque transformWithState over the full row would
    ship every column through Arrow (and defeat scan pruning upstream) --
    guide section 4's project-before-the-boundary rule."""
    return stream.select("event_type", "value").groupBy(
        "event_type"
    ).transformWithStateInPandas(
        statefulProcessor=RunningCountSum(),
        outputStructType=OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


LATEST_SCHEMA = (
    "event_type string, slot int, event_id bigint, ts_us bigint, n_seen bigint"
)


class LatestKEvents(StatefulProcessor):
    """Per-key latest-k snapshot held in a named ListState -- the second
    typed state variable the successor API adds over the single opaque
    tuple of applyInPandasWithState (s10 exercises ValueState; this is
    ListState, with a ValueState emission counter alongside on the same
    handle).

    State is the k highest (ts_us, event_id) pairs seen so far --
    O(k) per key regardless of stream length, the T3 latest-k shape
    (reference app/spark_stream.py:31-36) pushed INTO the state store
    instead of a foreachBatch compaction (s05). Emissions carry ``n_seen``
    (monotone per key), so the final snapshot per key -- and therefore the
    reduced query result -- is invariant to how the replay splits into
    micro-batches.
    """

    def __init__(self, k: int = 3) -> None:
        self._k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._latest = handle.getListState("latest", "ts_us bigint, event_id bigint")
        self._seen = handle.getValueState("seen", "n bigint")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        cur = [(int(t), int(e)) for t, e in self._latest.get()]
        _seen = self._seen.get()  # None when absent: one RPC, not exists()+get()
        n = _seen[0] if _seen is not None else 0
        for pdf in rows:
            n += len(pdf)
            cur.extend(
                zip(pdf["ts_us"].astype("int64"), pdf["event_id"].astype("int64"))
            )
        cur.sort(reverse=True)  # (ts_us desc, event_id desc) -- unique ids
        del cur[self._k :]
        self._latest.put(cur)
        self._seen.update((n,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(cur),
                "slot": list(range(1, len(cur) + 1)),
                "event_id": [e for _, e in cur],
                "ts_us": [t for t, _ in cur],
                "n_seen": [n] * len(cur),
            }
        )

    def close(self) -> None:
        pass


BUCKET_SCHEMA = "event_type string, bucket int, n bigint, n_seen bigint"


class UserBucketCounts(StatefulProcessor):
    """Per-key MapState exemplar completing the typed-state trio (s10
    ValueState, s18 ListState): a map from user-id bucket -> running
    count, updated point-wise with ``updateValue`` and re-emitted in full
    each batch via ``iterator()``. The map shape is the 100 TB pattern
    for per-entity sub-aggregates (per-type per-cohort counters) where a
    ListState would have to be rewritten wholesale per batch and a
    ValueState would need the whole map serialized as one blob --
    MapState updates only the touched keys in the state store.
    """

    def __init__(self, n_buckets: int = 10) -> None:
        self._n_buckets = n_buckets

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._counts = handle.getMapState("bucket_counts", "bucket int", "n bigint")
        self._seen = handle.getValueState("seen", "n bigint")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        _seen = self._seen.get()  # None when absent: one RPC, not exists()+get()
        n = _seen[0] if _seen is not None else 0
        local: dict[int, int] = {}
        for pdf in rows:
            n += len(pdf)
            for b, c in (pdf["user_id"] % self._n_buckets).value_counts().items():
                local[int(b)] = local.get(int(b), 0) + int(c)
        for b, c in local.items():
            prev = self._counts.getValue((b,)) if self._counts.containsKey((b,)) else None
            self._counts.updateValue((b,), ((prev[0] if prev else 0) + c,))
        self._seen.update((n,))
        buckets = sorted((int(k_[0]), int(v[0])) for k_, v in self._counts.iterator())
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(buckets),
                "bucket": [b for b, _ in buckets],
                "n": [c for _, c in buckets],
                "n_seen": [n] * len(buckets),
            }
        )

    def close(self) -> None:
        pass


def bucket_counts_per_type(stream: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Streaming per-``event_type`` user-bucket histogram through
    transformWithStateInPandas MapState (update mode). Final emission per
    key (max monotone ``n_seen``) equals the batch
    groupBy(event_type, user_id % n_buckets) count."""
    from pyspark.sql import functions as F

    # NULL user_id has no bucket: pandas value_counts silently drops the
    # NaN it arrives as, so without the explicit filter the engine and
    # the SQL oracle disagree on whether a NULL bucket exists (r14
    # nullkeys find) -- and the NaN-tainted float column would corrupt
    # the % arithmetic for 2^63-adjacent ids besides
    return stream.filter(F.col("user_id").isNotNull()).select(
        "event_type", "user_id"
    ).groupBy(
        "event_type"
    ).transformWithStateInPandas(
        statefulProcessor=UserBucketCounts(n_buckets),
        outputStructType=BUCKET_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def latest_k_per_type(stream: DataFrame, k: int = 3) -> DataFrame:
    """Streaming latest-k events per ``event_type`` through
    transformWithStateInPandas (update mode). The rows emitted at each
    key's final micro-batch (max ``n_seen``) equal the batch
    row_number-over-(ts desc, event_id desc) top-k."""
    from pyspark.sql import functions as F

    src = stream.select(
        "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    return src.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=LatestKEvents(k),
        outputStructType=LATEST_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


FUNNEL_SCHEMA = "user_id bigint, stage int, n_seen bigint"

# Hard cap on buffered funnel events per user: exactness requires the full
# (in-watermark) funnel history, so past the cap the operator FAILS LOUDLY
# instead of silently truncating (the repo's counted-limit idiom). At real
# scale the cap pairs with a watermark/TTL that expires settled prefixes.
FUNNEL_BUFFER_CAP = 4096


class WindowedFunnel(StatefulProcessor):
    """Incremental windowed-funnel stage per user: the s21 streaming twin
    of q68's batch state machine (plans/batch6.py::funnel_user_stages).

    ListState buffers the user's funnel events (ts_us, step); every
    micro-batch appends, re-sorts by (ts_us, step), and re-runs the
    first-touch machine -- so LATE/OUT-OF-ORDER events are handled
    exactly: the recompute from the buffered history gives the same
    answer as a batch over everything seen, regardless of arrival order
    or micro-batch splits. Emissions carry monotone ``n_seen`` so the
    final row per user is selectable; stage recomputation is O(|buffer|)
    per touched user per batch.
    """

    def __init__(self, window_min: int | None = 1440) -> None:
        self._window_us = None if window_min is None else window_min * 60_000_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._buf = handle.getListState("funnel_buf", "ts_us bigint, step int")
        self._seen = handle.getValueState("seen", "n bigint")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        buf = [(int(t), int(s)) for t, s in self._buf.get()]
        _seen = self._seen.get()  # None when absent: one RPC, not exists()+get()
        n = _seen[0] if _seen is not None else 0
        for pdf in rows:
            n += len(pdf)
            hits = pdf[pdf["step"] > 0]
            buf.extend(
                zip(hits["ts_us"].astype("int64"), hits["step"].astype("int64"))
            )
        if len(buf) > FUNNEL_BUFFER_CAP:
            raise ValueError(
                f"funnel buffer for user {key[0]} exceeds {FUNNEL_BUFFER_CAP} "
                "events; raise the cap or add a watermark/TTL expiry"
            )
        buf.sort()
        stage, anchor = 0, None
        for ts, step in buf:
            in_window = (
                stage == 0
                or self._window_us is None
                or ts <= anchor + self._window_us
            )
            if step == stage + 1 and in_window:
                stage, anchor = step, ts
        # the state store rejects EMPTY list values (ILLEGAL_STATE_STORE_
        # VALUE) -- a user whose rows are all step 0 (r12 single-row
        # hostile variant) keeps no buffer; clear() is a no-op when absent
        if buf:
            self._buf.put(buf)
        else:
            self._buf.clear()
        self._seen.update((n,))
        yield pd.DataFrame(
            {"user_id": [int(key[0])], "stage": [stage], "n_seen": [n]}
        )

    def close(self) -> None:
        pass


def funnel_stage_per_user(
    stream: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    window_min: int | None = 1440,
) -> DataFrame:
    """Streaming windowed-funnel stages keyed by user. Rows of non-funnel
    types still flow through (step 0) so every user present in the stream
    gets a state row -- matching q68's distinct-users frame, where a user
    with no funnel events counts at stage 0."""
    from pyspark.sql import functions as F

    step = F.lit(0)
    for i, name in reversed(list(enumerate(steps, start=1))):
        step = F.when(F.col("event_type") == name, i).otherwise(step)
    # NULL user_id cannot anchor a per-user state row (the same
    # unattributable-events rule as q68's batch funnel; a NULL key also
    # turns the Arrow batch's id column float, NaN-crashing the handler
    # -- r14 nullkeys find)
    src = stream.filter(F.col("user_id").isNotNull()).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        step.cast("int").alias("step"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=WindowedFunnel(window_min),
        outputStructType=FUNNEL_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


SESSION_SCHEMA = "user_id long, start_us long, end_us long, n_events int"


class TimerSessionizer(StatefulProcessor):
    """Inactivity-closed sessionization driven by EVENT-TIME TIMERS -- the
    transformWithState surface none of s10/s18/s19/s21 exercise: sessions
    that close WITHIN a batch are emitted from handleInputRows, but the
    final open session per user can only close when the watermark proves
    no more events will arrive -- which is exactly what registerTimer(
    last_seen + gap) + handleExpiredTimer expresses. On expiry the held
    session is emitted and the state cleared; a newer event in the
    meantime deletes the stale timer and re-registers.

    Every emitted row is a CLOSED session (each exactly once), so the
    sink's union equals the batch gaps-and-islands sessionization."""

    def __init__(self, gap_us: int) -> None:
        self.gap_us = int(gap_us)

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.sess = handle.getValueState(
            "sess", "start_us long, last_us long, n int"
        )

    def _timer_ms(self, last_us: int) -> int:
        return (last_us + self.gap_us) // 1000

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        uid = int(key[0])
        # sentinel-flagged rows advance the global watermark (their ts
        # passed the watermark node upstream) but never open a session:
        # buffer only unflagged rows. A post-watermark FILTER cannot do
        # this -- Catalyst pushes it below EventTimeWatermark, the
        # sentinel then never reaches the watermark node, and every
        # user's final session stays open forever (found when the first
        # drop_types attempt broke s22 on NORMAL data).
        ts_list = sorted(
            int(t)
            for pdf in rows
            for t, sent in zip(pdf["ts_us"].tolist(), pdf["is_sent"].tolist())
            if not sent
        )
        if not ts_list:
            return
        prev = self.sess.get()  # None when absent: one RPC, not exists()+get()
        if prev is not None:
            start, last, n = (int(x) for x in prev)
            # the previously registered close-timer is now stale
            self.handle.deleteTimer(self._timer_ms(last))
        else:
            start, last, n = None, None, 0
        closed = []
        for ts in ts_list:
            if last is not None and ts - last > self.gap_us:
                closed.append(
                    {"user_id": uid, "start_us": start, "end_us": last, "n_events": n}
                )
                start, n = ts, 0
            if start is None:
                start = ts
            n += 1
            last = ts
        self.sess.update((start, last, n))
        self.handle.registerTimer(self._timer_ms(last))
        if closed:
            yield pd.DataFrame(closed, columns=["user_id", "start_us", "end_us", "n_events"])

    def handleExpiredTimer(
        self, key: Any, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        cur = self.sess.get()  # None when absent: one RPC, not exists()+get()
        if cur is None:
            return
        start, last, n = (int(x) for x in cur)
        if expiredTimerInfo.getExpiryTimeInMs() < self._timer_ms(last):
            return  # stale timer raced a newer event; the live one follows
        self.sess.clear()
        yield pd.DataFrame(
            [{"user_id": int(key[0]), "start_us": start, "end_us": last, "n_events": n}],
            columns=["user_id", "start_us", "end_us", "n_events"],
        )

    def close(self) -> None:
        pass


def timer_sessionize_per_user(
    stream: DataFrame,
    gap_min: int = 45,
    watermark: str = "0 seconds",
    drop_types: tuple[str, ...] = (),
) -> DataFrame:
    """Timer-closed sessions keyed by user. ``stream`` must carry (ts,
    user_id); event-time timers require a watermark and
    timeMode="EventTime".

    ``drop_types``: event types whose rows advance the global watermark
    (they flow through the EventTimeWatermark node untouched -- a filter
    there would be pushed below it by Catalyst and stall the watermark)
    but are FLAGGED so the handler never buffers them: no sentinel
    session is ever emitted and callers need no id-domain output filter
    (the r13 extremes variant showed `user_id >= 0` dropping real
    users)."""
    from pyspark.sql import functions as F

    is_sent = (
        F.col("event_type").isin(*drop_types) if drop_types else F.lit(False)
    )
    from .pipelines import bounded_event_time

    # NULL user_id cannot hold a session (same rule as the funnel: no
    # identity, no per-user state row; the NaN-tainted Arrow id column
    # also crashes the handler -- r14 nullkeys find). Dropping the rows
    # below the watermark node is fine: the sentinel still advances the
    # global watermark, and a NULL-keyed row could never close anyway.
    # bounded_event_time: event-time TIMERS run off the global watermark,
    # so one far-future row would instantly fire every user's timer and
    # late-drop the sane corpus (r14 timex find; see pipelines constant).
    stream = bounded_event_time(stream).filter(F.col("user_id").isNotNull())
    src = stream.withWatermark("ts", watermark).select(
        "ts",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        is_sent.alias("is_sent"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=TimerSessionizer(gap_us=gap_min * 60 * 1_000_000),
        outputStructType=SESSION_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
