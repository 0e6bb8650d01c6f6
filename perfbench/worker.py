"""Spark side of one benchmark run: starts a fresh session, sets up the
workload through the program's public functions, serves or runs it, and
checks its outputs after the timed window.

Run by ``run.py`` as ``python3 worker.py <workload> <config.json>``. It
talks to the runner over stdin/stdout lines that start with ``@perfbench``;
everything else on those streams is Spark's own output.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer  # noqa: E402

PKG = "modelorecomendacion_analisisspark_streaming_mas_spark"

# One cold pass over these catalog entries, in this order: one per layer
# that the catalog's performance work changes -- plans and sources (q01,
# q21), operators (e06's coarse quantizer), graph iterations (g06) and
# availableNow streaming with Python-worker state (s09). The pass is kept
# this short because every run of every workload must fit the benchmark's
# total time budget.
CATALOG = [
    "q01_pricing_summary", "q21_asof_click_attribution", "e06_knn_ivfpq",
    "g06_weighted_pagerank_top100", "s09_stream_longest_run",
]


def send(kind: str, obj) -> None:
    sys.stdout.write(f"@perfbench {kind} {json.dumps(obj)}\n")
    sys.stdout.flush()


def recv() -> dict:
    line = sys.stdin.readline()
    if not line:
        raise SystemExit("runner went away")
    return json.loads(line)


def start_session(tracer: Tracer, name: str):
    from importlib import import_module

    get_spark = import_module(f"{PKG}.session").get_spark
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class EngineCounters:
    """Engine-side counters of a traced run, read through py4j and /proc:
    task totals of completed stages and jobs, codegen, JVM garbage
    collection and JVM CPU time. Stages are summed as they complete
    (``collect``), so the status store's retention limit never drops one."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._stage_args = (None, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
                            jvm.java.util.ArrayList())
        self._jvm_stat = f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/stat"
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.totals = {"jobs": 0, "tasks": 0, "task_run_ms": 0, "task_cpu_ns": 0,
                       "shuffle_write_bytes": 0}

    def collect(self) -> dict:
        """Add the stages and jobs completed since the last call to
        ``totals`` and return what was added."""
        self._bus.waitUntilEmpty()  # every finished task is in the store
        added = dict.fromkeys(self.totals, 0)
        stages = self._store.stageList(*self._stage_args)
        for i in range(stages.size()):
            st = stages.apply(i)
            key = (st.stageId(), st.attemptId())
            if key in self._seen_stages or st.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(key)
            added["tasks"] += st.numCompleteTasks()
            added["task_run_ms"] += st.executorRunTime()
            added["task_cpu_ns"] += st.executorCpuTime()
            added["shuffle_write_bytes"] += st.shuffleWriteBytes()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() not in self._seen_jobs and job.status().toString() == "SUCCEEDED":
                self._seen_jobs.add(job.jobId())
                added["jobs"] += 1
        for k, v in added.items():
            self.totals[k] += v
        return added

    def codegen(self) -> tuple[int, float]:
        """(classes compiled, compile milliseconds) since the JVM started."""
        return int(self._compiles.getCount()), self._codegen.compileTime() / 1e6

    def gc_ms(self) -> float:
        """Milliseconds the JVM has spent in garbage collection."""
        return float(sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size())))

    def jvm_cpu_s(self) -> float:
        """User plus system CPU seconds of the JVM process."""
        with open(self._jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def snapshot(self) -> dict:
        """Readings that the runner turns into window differences."""
        compiles, codegen_ms = self.codegen()
        return {"compiles": compiles, "codegen_ms": codegen_ms, "gc_ms": self.gc_ms(),
                "jvm_cpu_s": self.jvm_cpu_s(), "py_cpu_s": python_cpu_s()}


def engine_layers(engine: EngineCounters, window: dict, window_end: dict, ops: int,
                  persisted_rdds: int, persisted_bytes: int) -> dict:
    """The per-layer metrics every workload reports, from the counters'
    totals, the snapshots at the start and end of the timed window and the
    number of operations in it. Codegen and GC count from JVM start."""
    t = engine.totals
    return {
        "spark.jobs": (t["jobs"], "count"),
        "spark.tasks": (t["tasks"], "count"),
        "spark.task_run_s": (t["task_run_ms"] / 1e3, "s"),
        "spark.task_cpu_s": (t["task_cpu_ns"] / 1e9, "s"),
        "spark.shuffle_write_mb": (t["shuffle_write_bytes"] / 1e6, "MB"),
        "jvm.codegen_compiles": (window_end["compiles"], "count"),
        "jvm.codegen_ms": (window_end["codegen_ms"], "ms"),
        "jvm.gc_ms": (window_end["gc_ms"], "ms"),
        "jvm.cpu_s": (window_end["jvm_cpu_s"] - window["jvm_cpu_s"], "s"),
        "python.driver_cpu_ms_per_op": ((window_end["py_cpu_s"] - window["py_cpu_s"]) * 1e3 / ops, "ms"),
        "cache.persisted_rdds": (persisted_rdds, "count"),
        "cache.persisted_bytes": (persisted_bytes, "bytes"),
    }


def python_cpu_s() -> float:
    """User plus system CPU seconds of this (the program's driver) process."""
    t = os.times()
    return t.user + t.system


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, memory plus disk bytes) as Spark reports them now."""
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(info), sum(i.memSize() + i.diskSize() for i in info)


def settled_storage(spark) -> tuple[int, int]:
    """``storage`` once garbage is collected.

    Intermediate RDDs that nothing references any more are unpersisted by
    Spark only after the JVM collects them, and a JVM object is collectable
    only once Python has dropped its py4j handle. py4j sends those
    dereferences from a background thread that polls its queue once a
    second, so a plain reading depends on when either collector last ran
    and on that thread. Each round collects in Python, waits until the
    queue is sent, collects in the JVM and reads; two equal rounds end it."""
    import gc

    queue = getattr(spark.sparkContext._gateway._gateway_client, "finalizer_deque", None)
    last = None
    for _ in range(10):
        gc.collect()
        while queue:
            time.sleep(0.05)
        time.sleep(0.1)  # the last dereference taken off the queue is in flight
        spark._jvm.System.gc()
        time.sleep(0.2)
        now = storage(spark)
        if now == last:
            break
        last = now
    return now


def add_progress_listener(spark):
    """Collect every streaming trigger's progress (durationMs per phase,
    input rows, state operators) through a listener the benchmark owns.
    Returns the list it fills and a callable that removes the listener."""
    from pyspark.sql.streaming import StreamingQueryListener

    progress: list[dict] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    listener = Listener()
    spark.streams.addListener(listener)
    return progress, lambda: spark.streams.removeListener(listener)


# --- recommend_serving -------------------------------------------------------


class TimedRecommender:
    """Stands in for RecommenderState behind make_server and times each
    ``recommend`` call; the HTTP boundary exposes no request id here."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.tracer = tracer

    def recommend(self, seed_ratings, top_n: int = 5):
        with self.tracer.span("ml.recommend"):
            return self.inner.recommend(seed_ratings, top_n=top_n)


def recommend_serving(cfg: dict, tracer: Tracer) -> dict:
    import pyarrow.parquet as pq
    from importlib import import_module

    rec = import_module(f"{PKG}.ml.recommend")
    serving = import_module(f"{PKG}.serving.app")
    from pyspark.ml.recommendation import ALSModel
    from pyspark.sql import functions as F

    with tracer.span("setup"):
        spark = start_session(tracer, "recommend_serving")
        engine = EngineCounters(spark) if tracer.enabled else None
        ratings = rec.ratings_from_testdata(spark, cfg["data"])
        p = rec.REFERENCE_PARAMS
        with tracer.span("ml.als_fit"):
            model, rmse = rec.train_eval(
                ratings, rank=p["rank"], max_iter=p["maxIter"], reg_param=p["regParam"]
            )
        if engine:
            engine.collect()
        with tracer.span("ml.model_io"):
            path = os.path.join(cfg["work"], "als_model")
            model.write().overwrite().save(path)
            # ``fitted`` stays referenced to the end of the run, as a trained
            # model does in a long-lived session: persisted_mb reads the
            # factor RDDs that ALS keeps persisted for it
            fitted, model = model, ALSModel.load(path)
        part = pq.read_table(os.path.join(cfg["data"], "part.parquet"), columns=["p_partkey", "p_name"])
        titles = dict(zip(part["p_partkey"].to_pylist(), part["p_name"].to_pylist()))
        with tracer.span("ml.item_factors"):
            state = serving.RecommenderState.from_model(model, titles)
        server = serving.make_server(
            0, recommender=TimedRecommender(state, tracer) if tracer.enabled else state
        )
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    if engine:
        engine.collect()
        window = engine.snapshot()
    send("ready", {"t_ready": time.time(), "port": server.server_address[1]})

    cmd = recv()  # the generator has finished
    if engine:
        engine.collect()
        window_end = engine.snapshot()
    server.shutdown()
    server.server_close()
    thread.join()
    sc = spark.sparkContext
    sc.setJobGroup("checks", "checks")
    persisted_rdds, persisted_bytes = settled_storage(spark)
    del fitted

    import checks

    with open(cmd["loadgen_out"]) as f:
        out = json.load(f)
    requests = out["warmup"] + out["open"] + out["closed"]
    expected: dict[tuple, list] = {}  # the closed loop repeats request bodies

    def fold_in(seed):
        key = tuple(map(tuple, seed))
        if key not in expected:
            expected[key] = rec.fold_in(state.item_ids, state.Y, list(key))
        return expected[key]

    # the global-mean baseline is a Spark job; run it beside the NumPy checks
    baseline: list[float] = []
    job = threading.Thread(
        target=lambda: baseline.append(ratings.select(F.stddev_pop("rating")).first()[0])
    )
    job.start()
    bad = checks.check_recommendations(requests, fold_in)
    # fold_in itself against an independent twin, on every fourth distinct
    # seed list (the twin's cost would otherwise double the checks)
    bad += checks.check_fold_in(state.item_ids, state.Y, dict(list(expected.items())[::4]))
    job.join()
    mean_rmse = baseline[0]
    bad += checks.check_rmse(rmse, mean_rmse)
    result = {"mismatches": bad[:20], "persisted_rdds": persisted_rdds,
              "persisted_bytes": persisted_bytes,
              "model_rmse": rmse, "mean_rmse": mean_rmse, "failed_checks": len(bad)}
    if engine:
        result["engine"] = engine_layers(engine, window, window_end, len(requests),
                                         persisted_rdds, persisted_bytes)
        result["recommend_spans"] = [
            (sp["start"], (sp["end"] - sp["start"]) * 1e3)
            for sp in tracer.spans if sp["name"] == "ml.recommend"
        ]
    return result


# --- analyst_catalog ---------------------------------------------------------


def run_oracles(data: str, registry, out: dict) -> None:
    """Each catalog entry's ``Query.oracle`` in DuckDB over the same tables."""
    import duckdb

    con = duckdb.connect()
    for file in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {file.removesuffix('.parquet')} AS SELECT * FROM '{data}/{file}'")
    for name in CATALOG:
        out[name] = con.execute(registry[name].oracle).df()


def analyst_catalog(cfg: dict, tracer: Tracer) -> dict:
    from importlib import import_module

    REGISTRY = import_module(f"{PKG}.plans").REGISTRY
    canon = import_module(f"{PKG}.__main__")._canon

    with tracer.span("setup"):
        spark = start_session(tracer, "analyst_catalog")
    engine = EngineCounters(spark) if tracer.enabled else None
    progress, remove_listener = add_progress_listener(spark) if engine else (None, None)
    sc = spark.sparkContext
    if engine:
        engine.collect()
        window = engine.snapshot()
    send("ready", {"t_ready": time.time()})

    frames, counts, layers, after_entry = {}, {}, {}, {}
    t0 = time.time()
    with tracer.span("catalog"):
        for name in CATALOG:
            if engine:
                compiles0, _ = engine.codegen()
            sc.setJobGroup(name, name)
            with tracer.span(f"plans.{name}"):
                b0 = time.time()
                with tracer.span(f"plans.{name}.build"):
                    df = REGISTRY[name].fn(spark, cfg["data"])
                b1 = time.time()
                with tracer.span(f"plans.{name}.execute"):
                    counts[name] = df.count()
                b2 = time.time()
            frames[name] = df
            if engine:
                layers[name] = {
                    "build_s": b1 - b0, "execute_s": b2 - b1,
                    "tasks": engine.collect()["tasks"],
                    "codegen_compiles": engine.codegen()[0] - compiles0,
                }
                after_entry[name] = storage(spark)  # not yet collected: a diagnostic
    t1 = time.time()
    catalog_s = t1 - t0
    if engine:
        window_end = engine.snapshot()
        remove_listener()
    sc.setJobGroup("checks", "checks")
    persisted_rdds, persisted_bytes = settled_storage(spark)
    # the oracles run in DuckDB beside Spark's own check work
    oracles: dict = {}
    oracle_job = threading.Thread(target=run_oracles, args=(cfg["data"], REGISTRY, oracles))
    oracle_job.start()
    got = {name: frames[name].toPandas() for name in CATALOG}
    oracle_job.join()

    import checks

    bad: list[str] = []
    for name in CATALOG:
        bad += checks.check_frame(name, got[name], oracles[name], canon)
    result = {
        "catalog_s": catalog_s, "persisted_bytes": persisted_bytes,
        "persisted_rdds": persisted_rdds, "mismatches": bad, "failed_checks": len(bad),
        "rows": counts, "checks_s": time.time() - t1,
    }
    if engine:
        result["engine"] = engine_layers(engine, window, window_end, len(CATALOG),
                                         persisted_rdds, persisted_bytes)
        result["layers"] = layers
        result["progress"] = progress
        result["persisted_after_entry"] = after_entry
    return result


def main() -> int:
    workload, cfg_path = sys.argv[1], sys.argv[2]
    with open(cfg_path) as f:
        cfg = json.load(f)
    tracer = Tracer(bool(cfg["trace"]))
    run = {"recommend_serving": recommend_serving, "analyst_catalog": analyst_catalog}[workload]
    result = run(cfg, tracer)
    if tracer.enabled:
        tracer.write(os.path.join(cfg["work"], "spans.worker.json"))
    send("result", result)
    # The runner stops the JVM with this process group; skipping
    # SparkContext.stop() keeps the teardown out of every run's wall time.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
