"""Tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import checks  # noqa: E402
import datagen  # noqa: E402
import loadgen  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from stats import due_latencies_ms, percentile, quartile_spread, tail_percentile  # noqa: E402

# --- percentiles -------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(19, None), (20, 50.0), (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    values = [float(i) for i in range(n)]
    got = tail_percentile(values)
    if want is None:
        assert got is None
        return
    q, value = got
    assert q == want
    assert sum(v > value for v in values) >= 10
    higher = [c for c in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0) if c > q]
    for c in higher:  # every higher candidate would leave fewer than ten
        assert sum(v > percentile(values, c) for v in values) < 10


def test_percentile_is_nearest_rank_and_sorts_failures_last():
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert percentile([1.0, 2.0, math.inf, 3.0], 100) == math.inf
    assert percentile([1.0, 2.0, math.inf, 3.0], 75) == 3.0


def test_quartile_spread_matches_statistics_quantiles():
    s = quartile_spread([10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0])
    assert s["median"] == 14.5
    assert s["spread"] == pytest.approx((s["q3"] - s["q1"]) / 14.5)


# --- due-time latency --------------------------------------------------------


def _simulate_open_loop(n=200, interval=0.01, service=0.001, stall_at=50, stall=0.2):
    """One connection, requests due every ``interval``; the server stalls
    once. A request is sent at its due time or when the connection frees."""
    recs, free = [], 0.0
    for i in range(n):
        due = i * interval
        sent = max(due, free)
        done = sent + service + (stall if i == stall_at else 0.0)
        free = done
        recs.append({"due": due, "sent": sent, "done": done, "ok": True})
    return recs


def test_due_time_latency_charges_a_stall_to_the_requests_it_delayed():
    recs = _simulate_open_loop()
    due_lat = due_latencies_ms(recs)
    sent_lat = [(r["done"] - r["sent"]) * 1e3 for r in recs]
    # timed from the send, only the stalled request looks slow ...
    assert sum(x > 10 for x in sent_lat) == 1
    # ... timed from the due time, the 21 requests queued behind it are too
    assert sum(x > 10 for x in due_lat) == 22
    assert percentile(due_lat, 95) > 50 > percentile(sent_lat, 95)
    # request 51 was due at 0.51 s but could only go out when the stall
    # ended at 0.701 s, then took 1 ms
    assert due_lat[51] == pytest.approx((0.702 - 0.51) * 1e3)


def test_failed_request_misses_every_limit():
    recs = [{"due": 0.0, "sent": 0.0, "done": 0.001, "ok": True},
            {"due": 0.01, "sent": 0.01, "done": 0.011, "ok": False}]
    assert due_latencies_ms(recs)[1] == math.inf
    assert percentile(due_latencies_ms(recs), 95) == math.inf


# --- spans -------------------------------------------------------------------


def test_self_time_subtracts_covered_child_intervals_once():
    spans = [
        {"id": 1, "name": "setup", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 2, "name": "fit", "start": 1.0, "end": 3.0, "parent": 1},
        {"id": 3, "name": "io", "start": 2.0, "end": 5.0, "parent": 1},  # overlaps fit
        {"id": 4, "name": "late", "start": 9.0, "end": 12.0, "parent": 1},  # clipped at 10
        {"id": 5, "name": "inner", "start": 1.5, "end": 2.5, "parent": 2},  # grandchild
    ]
    st = self_times(spans)
    assert st["setup"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st["fit"] == pytest.approx(2.0 - 1.0)
    assert st["io"] == pytest.approx(3.0)
    assert st["inner"] == pytest.approx(1.0)


def test_self_time_sums_spans_of_one_name():
    spans = [
        {"id": 1, "name": "req", "start": 0.0, "end": 1.0, "parent": None},
        {"id": 2, "name": "req", "start": 2.0, "end": 4.0, "parent": None},
        {"id": 3, "name": "work", "start": 2.5, "end": 3.0, "parent": 2},
    ]
    assert self_times(spans)["req"] == pytest.approx(1.0 + 1.5)


def test_engine_layers_are_the_manifest_set_with_window_arithmetic():
    import json
    from types import SimpleNamespace

    import worker

    engine = SimpleNamespace(totals={"jobs": 3, "tasks": 40, "task_run_ms": 2500,
                                     "task_cpu_ns": 1_500_000_000, "shuffle_write_bytes": 2_000_000})
    start = {"compiles": 5, "codegen_ms": 10.0, "gc_ms": 7.0, "jvm_cpu_s": 4.0, "py_cpu_s": 1.0}
    end = {"compiles": 9, "codegen_ms": 30.0, "gc_ms": 11.0, "jvm_cpu_s": 6.5, "py_cpu_s": 3.0}
    got = worker.engine_layers(engine, start, end, 400, 2, 3_300_000)
    assert got["spark.task_run_s"] == (2.5, "s")
    assert got["spark.task_cpu_s"] == (1.5, "s")
    assert got["spark.shuffle_write_mb"] == (2.0, "MB")
    assert got["jvm.codegen_compiles"] == (9, "count")  # counted from JVM start
    assert got["jvm.cpu_s"] == (2.5, "s")  # the timed window only
    assert got["python.driver_cpu_ms_per_op"] == (5.0, "ms")
    # with session.start_s from the spans, the runner prints exactly the
    # per-layer metrics that BENCHMARK.json names, in their units
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        manifest = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    printed = {"session.start_s": "s", **{k: u for k, (_, u) in got.items()}}
    assert printed == manifest


def test_tracer_records_parent_and_is_silent_when_off():
    t = Tracer(True)
    with t.span("outer") as outer:
        with t.span("inner"):
            pass
    inner = next(s for s in t.spans if s["name"] == "inner")
    assert inner["parent"] == outer
    assert next(s for s in t.spans if s["name"] == "outer")["parent"] is None
    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


# --- output checkers reject planted wrong answers ----------------------------


def _reqs(recs):
    return [{"id": 0, "ok": True, "seed": [[1, 5.0]], "recs": recs}]


def test_check_recommendations_rejects_wrong_film_or_score():
    want = [(10, 4.12344), (11, 3.5)]
    fn = lambda seed: want  # noqa: E731
    assert checks.check_recommendations(_reqs([[10, 4.1234], [11, 3.5]]), fn) == []
    assert checks.check_recommendations(_reqs([[11, 3.5], [10, 4.1234]]), fn)  # order
    assert checks.check_recommendations(_reqs([[10, 4.1235], [11, 3.5]]), fn)  # 4th dp
    assert checks.check_recommendations(_reqs([[10, 4.1234]]), fn)  # missing film
    failed = [{"id": 1, "ok": False, "seed": [[1, 5.0]], "recs": []}]
    assert checks.check_recommendations(failed, fn) == []  # counted as failed elsewhere


def test_check_fold_in_agrees_with_the_program_and_rejects_planted_errors():
    from modelorecomendacion_analisisspark_streaming_mas_spark.ml.recommend import fold_in

    rng = np.random.default_rng(0)
    ids = np.arange(1, 501, dtype=np.int64) * 3
    Y = rng.normal(size=(500, 6))
    seeds = [((3, 5.0),), ((6, 1.0), (9, 4.0), (10_000, 2.0)), tuple((int(f), 3.0) for f in ids[:40])]
    answers = {s: fold_in(ids, Y, list(s)) for s in seeds}
    assert checks.check_fold_in(ids, Y, answers) == []
    s = seeds[1]
    assert checks.check_fold_in(ids, Y, {s: fold_in(ids, Y, list(s), reg=0.2)})  # wrong ridge
    right = answers[s]
    assert checks.check_fold_in(ids, Y, {s: [(6, 9.0)] + right[:4]})  # a film the user rated
    assert checks.check_fold_in(ids, Y, {s: [(right[0][0], right[0][1] + 1e-4)] + right[1:]})
    assert checks.check_fold_in(ids, Y, {s: right[::-1]})  # order
    assert checks.check_fold_in(ids, Y, {((10_000, 2.0),): []}) == []  # no known film


def test_check_rmse_requires_beating_the_global_mean():
    assert checks.check_rmse(0.7, 1.1) == []
    assert checks.check_rmse(1.2, 1.1)
    assert checks.check_rmse(1.1, 1.1)


def _canon(df):  # same rule as the program's __main__._canon
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True).astype(str)


def test_check_frame_ignores_order_and_rejects_planted_value():
    got = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert checks.check_frame("e", got, want, _canon) == []
    bad = got.copy()
    bad.loc[0, "b"] = 2.5
    assert checks.check_frame("e", bad, want, _canon)
    assert checks.check_frame("e", got.iloc[:1], want, _canon)


# --- inputs ------------------------------------------------------------------


def test_datagen_is_a_function_of_the_seed():
    a, b, c = datagen.tables(3, sf=0.001), datagen.tables(3, sf=0.001), datagen.tables(4, sf=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["part"].num_rows == 200


def test_recommend_mix_is_seeded_with_bounded_lengths_and_some_unknown_films():
    pop = np.arange(1000)
    m1 = loadgen.recommend_mix(5, pop, 1000, 2000)
    assert m1 == loadgen.recommend_mix(5, pop, 1000, 2000)
    lengths = [len(s) for s in m1]
    assert min(lengths) == 1 and max(lengths) <= loadgen.MAX_SEED_LEN
    films = [f for s in m1 for f, _ in s]
    unknown = sum(f >= 1000 for f in films) / len(films)
    assert 0.01 < unknown < 0.03
    assert all(len({f for f, _ in s}) == len(s) for s in m1)


