"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes the run's inputs from the seed,
starts the program in a fresh Spark session (``local[nproc]``) in a child
process, drives it from a separate generator process, checks its outputs
after the timed window, and prints one JSON object as the last line of
stdout: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it (``detail ...``) carries diagnostics:
sample counts, quartiles, generator lateness and the host probe.

Everything the run writes goes under ``.perfbench_work/`` in the checkout;
its per-run directory is removed at exit, traces are kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from spans import self_times  # noqa: E402
from stats import due_latencies_ms, finite_ms, host_probe_s, percentile, tail_percentile  # noqa: E402

PKG = "modelorecomendacion_analisisspark_streaming_mas_spark"
WORKLOADS = ("recommend_serving", "analyst_catalog")
# Open-loop offered rate for recommend_serving, fixed so that every run and
# every commit is measured at the same load: about half of the closed-loop
# throughput measured with 4 connections on a 4-core host.
OPEN_RATE = 350.0
DEADLINE_S = 170.0  # a run must end within 180 s


class Worker:
    """The Spark-side child process, in its own process group so that its
    JVM and Python workers are stopped with it."""

    def __init__(self, workload: str, cfg: dict, env: dict, work: str) -> None:
        cfg_path = os.path.join(work, "worker.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log_path = os.path.join(work, "worker.log")
        self._log = open(self.log_path, "w")
        self.t_spawn = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), workload, cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, env=env, cwd=work, start_new_session=True,
        )
        self._lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@perfbench "):
                self._lines.put(line.split(" ", 2)[1:])
            else:
                self._log.write(line)
        self._lines.put(None)

    def expect(self, kind: str, deadline: float) -> dict:
        try:
            msg = self._lines.get(timeout=max(0.0, deadline - time.time()))
        except queue.Empty:
            raise RuntimeError(f"worker sent no {kind!r} before the deadline") from None
        if msg is None or msg[0] != kind:
            raise RuntimeError(f"worker exited before {kind!r}; see its log:\n{self.tail()}")
        return json.loads(msg[1])

    def send(self, obj: dict) -> None:
        self.proc.stdin.write(json.dumps(obj) + "\n")
        self.proc.stdin.flush()

    def tail(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])

    def stop(self) -> None:
        """Kill the whole group (the worker, its JVM and Python workers) and
        wait until none of its processes is left. Every message the runner
        needs has been read by then, and the run directory is removed
        afterwards, so nothing is lost by skipping a clean shutdown."""
        if self._group_alive():
            os.killpg(self.proc.pid, signal.SIGKILL)
        self.proc.wait()
        deadline = time.time() + 10
        while self._group_alive() and time.time() < deadline:
            time.sleep(0.05)
        self._reader.join(timeout=5)
        self._log.close()

    def _group_alive(self) -> bool:
        try:
            os.killpg(self.proc.pid, 0)
        except ProcessLookupError:
            return False
        return True


class Loadgen:
    """The generator process. It draws its request bodies first; the
    runner starts the server only once they exist and then hands it the
    port, so the generator's own start-up is never part of ``setup_s``."""

    def __init__(self, args: list[str], env: dict, deadline: float) -> None:
        self.deadline = deadline
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "loadgen.py"), *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
        )
        line = self.proc.stdout.readline()
        if line.strip() != "prepared":
            self.stop()
            raise RuntimeError("generator exited before preparing its requests")

    def start(self, port: int) -> None:
        self.proc.stdin.write(f"{port}\n")
        self.proc.stdin.flush()

    def wait(self) -> None:
        if self.proc.wait(timeout=max(1.0, self.deadline - time.time())) != 0:
            raise RuntimeError(f"generator exited with code {self.proc.returncode}")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def p50(values: list[float]) -> float:
    return percentile(values, 50)


def spread_info(values: list[float]) -> dict:
    """Sample count, median and the highest percentile with ten samples
    beyond it, for the detail line."""
    tail = tail_percentile(values)
    return {"n": len(values), "p50": p50(values) if values else None,
            "tail": None if tail is None else {"q": tail[0], "value": tail[1]}}


# --- workloads ---------------------------------------------------------------


def recommend_serving(ctx: dict) -> tuple[dict, dict, dict]:
    datagen.write(ctx["data"], ctx["seed"], only=["lineitem", "orders", "part"])
    out_path = os.path.join(ctx["work"], "loadgen.json")
    half = ctx["seconds"] / 2
    gen = ctx["loadgen"]([
        "--seed", str(ctx["seed"]), "--threads", str(ctx["nproc"]), "--out", out_path,
        "--data", ctx["data"], "--rate", str(OPEN_RATE),
        "--open-seconds", str(half), "--closed-seconds", str(half),
    ])
    w = ctx["spawn"]("recommend_serving", {})
    ready = w.expect("ready", ctx["deadline"])
    gen.start(ready["port"])
    gen.wait()
    t_loadgen_end = time.time()
    w.send({"loadgen_out": out_path})
    res = w.expect("result", ctx["deadline"])
    t_checked = time.time()
    with open(out_path) as f:
        lg = json.load(f)

    setup_s = lg["t_first_due"] - w.t_spawn
    lat = due_latencies_ms(lg["open"])
    cap = half * 1e3
    lo, hi = lg["closed_window"]
    done_closed = [r for r in lg["closed"] if r["ok"] and r["done"] <= hi]
    late = [(r["sent"] - r["due"]) * 1e3 for r in lg["open"]]
    service = [(r["done"] - r["sent"]) * 1e3 for r in lg["open"] if r["ok"]]
    sent = lg["warmup"] + lg["open"] + lg["closed"]
    failed_req = sum(not r["ok"] for r in sent)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_ms": (finite_ms(percentile(lat, 50), cap), "ms"),
        "throughput_rps": (len(done_closed) / (hi - lo), "1/s"),
        "persisted_mb": (res["persisted_bytes"] / 1e6, "MB"),
    }
    layers = {}
    detail = {}
    if ctx["trace"]:
        spans = _worker_spans(ctx)
        layers = engine_layers(spans, res)
        # the open loop only: closed-loop calls contend for the interpreter
        open_lo, open_hi = lg["t_first_due"], max(r["done"] for r in lg["open"])
        rec_ms = p50([ms for t, ms in res["recommend_spans"] if open_lo <= t <= open_hi])
        detail["workload_layers"] = {
            "ml.als_fit_s": _span_s(spans, "ml.als_fit"),
            "ml.model_io_s": _span_s(spans, "ml.model_io"),
            "ml.item_factors_s": _span_s(spans, "ml.item_factors"),
            "ml.recommend_ms": rec_ms,
            "serving.http_ms": p50(service) - rec_ms,
            "loadgen.late_p95_ms": percentile(late, 95),
        }
        request_spans = [
            {"id": f"req-{r['id']}", "name": "loadgen.request", "start": r.get("due", r["sent"]),
             "end": r["done"], "parent": None, "request_id": r["id"]}
            for r in sent
        ]
        _write_trace(ctx, spans + request_spans)
    detail.update({
        "offered_rps": lg["rate"], "connections": lg["threads"],
        # p95 is reported here only: it does not repeat within a tenth
        "open_latency_ms": {**spread_info(lat), "p95": finite_ms(percentile(lat, 95), cap)},
        "open_service_ms": spread_info(service),
        "open_late_ms": spread_info(late), "closed_completed": len(done_closed),
        "model_rmse": res["model_rmse"], "mean_rmse": res["mean_rmse"],
        "phases_s": {"setup": setup_s, "loadgen_total": t_loadgen_end - ready["t_ready"],
                     "checks": t_checked - t_loadgen_end},
        "mismatches": res["mismatches"], "persisted_rdds": res["persisted_rdds"],
    })
    counts = {"attempted": len(sent) + 1,
              "failed": failed_req + res["failed_checks"]}
    return metrics, layers, {**detail, **counts}


def analyst_catalog(ctx: dict) -> tuple[dict, dict, dict]:
    datagen.write(ctx["data"], ctx["seed"], only=["lineitem", "orders", "events", "embeddings"])
    w = ctx["spawn"]("analyst_catalog", {})
    ready = w.expect("ready", ctx["deadline"])
    res = w.expect("result", ctx["deadline"])
    catalog_s, entries = res["catalog_s"], len(res["rows"])
    metrics = {
        "setup_s": (ready["t_ready"] - w.t_spawn, "s"),
        # the pass is serial: mean time per entry, and its reciprocal
        "latency_ms": (catalog_s * 1e3 / entries, "ms"),
        "throughput_rps": (entries / catalog_s, "1/s"),
        "persisted_mb": (res["persisted_bytes"] / 1e6, "MB"),
    }
    detail = {"catalog_s": catalog_s, "rows": res["rows"], "mismatches": res["mismatches"],
              "checks_s": res["checks_s"], "persisted_rdds": res["persisted_rdds"],
              "attempted": entries, "failed": res["failed_checks"]}
    layers = {}
    if ctx["trace"]:
        spans = _worker_spans(ctx)
        layers = engine_layers(spans, res)
        entry_layers = {}
        for name, lay in res["layers"].items():
            entry_layers[f"plans.{name}.build_s"] = lay["build_s"]
            entry_layers[f"plans.{name}.execute_s"] = lay["execute_s"]
            entry_layers[f"spark.{name}.tasks"] = lay["tasks"]
            entry_layers[f"jvm.{name}.codegen_compiles"] = lay["codegen_compiles"]
        entry_layers.update(streaming_layers(res["progress"]))
        detail["workload_layers"] = entry_layers
        detail["persisted_after_entry"] = res["persisted_after_entry"]
        _write_trace(ctx, spans)
    return metrics, layers, detail


# --- tracing helpers ---------------------------------------------------------


def streaming_layers(progress: list[dict]) -> dict:
    """Per-trigger figures from StreamingQueryProgress events, for the
    detail line: the median durationMs of each phase over triggers that
    read data, trigger and row counts, and the last state operator."""
    prog = [p for p in progress if p["numInputRows"] > 0]
    state = next((p["stateOperators"][0] for p in reversed(progress) if p["stateOperators"]), {})

    def dur(key: str) -> float:
        return p50([p["durationMs"].get(key, 0) for p in prog])

    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.triggers": len(prog),
        "streaming.rows_per_trigger": p50([p["numInputRows"] for p in prog]),
        "streaming.state_rows": state.get("numRowsTotal", 0),
        "streaming.state_bytes": state.get("memoryUsedBytes", 0),
    }


def engine_layers(spans: list[dict], res: dict) -> dict:
    """The per-layer metrics that every workload reports: session start
    from the spans, the rest from the worker's engine counters."""
    layers = {"session.start_s": (_span_s(spans, "session.start"), "s")}
    layers.update({k: tuple(v) for k, v in res["engine"].items()})
    return layers


def _worker_spans(ctx: dict) -> list[dict]:
    with open(os.path.join(ctx["work"], "spans.worker.json")) as f:
        return json.load(f)


def _span_s(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _write_trace(ctx: dict, spans: list[dict]) -> None:
    out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    ctx["self_times_s"] = self_times(spans)
    path = os.path.join(out, f"{ctx['workload']}-seed{ctx['seed']}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans, "self_times_s": ctx["self_times_s"]}, f)


# --- main --------------------------------------------------------------------


def child_env(work: str, nproc: int) -> dict:
    """Pin the engine's parallelism to the host and keep every scratch file
    (JVM, Spark and Python temp dirs) inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    env.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="steady end-to-end and per-layer benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: {PKG}/ not found next to perfbench/", file=sys.stderr)
        return 2

    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    workers: list[Worker] = []
    gens: list[Loadgen] = []
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "nproc": nproc, "work": work,
        "data": os.path.join(work, "data"), "deadline": t_start + DEADLINE_S,
        "env": child_env(work, nproc),
    }

    def spawn(workload: str, extra: dict) -> Worker:
        cfg = {"trace": ctx["trace"], "work": work, "data": ctx["data"], **extra}
        workers.append(Worker(workload, cfg, ctx["env"], work))
        return workers[-1]

    def loadgen(args: list[str]) -> Loadgen:
        gens.append(Loadgen(args, ctx["env"], ctx["deadline"]))
        return gens[-1]

    ctx["spawn"] = spawn
    ctx["loadgen"] = loadgen
    try:
        probe = [host_probe_s()]
        run = {"recommend_serving": recommend_serving, "analyst_catalog": analyst_catalog}[args.workload]
        metrics, layers, detail = run(ctx)
        probe.append(host_probe_s())
    finally:
        for g in gens:
            g.stop()
        for w in workers:
            w.stop()
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = detail.pop("attempted"), detail.pop("failed")
    detail.update({"host_probe_s": probe, "nproc": nproc, "wall_s": time.time() - t_start,
                   "end_to_end": {k: v for k, (v, _) in metrics.items()}})
    if "self_times_s" in ctx:
        detail["self_times_s"] = ctx["self_times_s"]
    chosen = layers if args.trace else metrics
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)["per_layer" if args.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in manifest}
    if {k: u for k, (_, u) in chosen.items()} != want:
        print(f"error: metrics {sorted(chosen)} do not match BENCHMARK.json {sorted(want)}",
              file=sys.stderr)
        return 3
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
