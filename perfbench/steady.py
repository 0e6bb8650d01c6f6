"""Steadiness record: repeated runs of ``run.py`` on fresh seeds.

    python3 perfbench/steady.py --runs 10 --sets 2 --out perfbench/results/steadiness.json
    python3 perfbench/steady.py --overhead --out perfbench/results/overhead.json

For each set and workload, runs the benchmark ``--runs`` times with
distinct seeds and reports each end-to-end metric's median, quartiles and
spread ((q3 - q1) / median), then how far the second set's median is from
the first set's, against the bound in BENCHMARK.json. The host probe of
every run is kept beside it as a diagnostic; nothing is normalised by it.

``--overhead`` instead alternates untraced and traced runs per workload on
one seed (``--pairs`` of each) and reports the traced runs' median
end-to-end numbers minus the untraced runs'.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "error": proc.returncode, "stderr": proc.stderr[-2000:]}
    detail = json.loads(lines[-2].removeprefix("detail "))
    result = json.loads(lines[-1])
    return {"seed": seed, "wall_s": time.time() - t0, "result": result, "detail": detail}


def summarise(runs: list[dict], bounds: dict) -> dict:
    ok = [r for r in runs if "result" in r]
    out = {"runs": len(runs), "ok": len(ok),
           "all_correct": all(r["result"]["correct"] for r in ok) and len(ok) == len(runs),
           "failed_ops": sum(r["result"]["failed"] for r in ok),
           "host_probe_s": [r["detail"]["host_probe_s"] for r in ok],
           "wall_s": [round(r["wall_s"], 1) for r in ok], "metrics": {}}
    for name in ok[0]["result"]["metrics"] if ok else []:
        values = [r["result"]["metrics"][name]["value"] for r in ok]
        out["metrics"][name] = {**quartile_spread(values), "bound": bounds.get(name),
                                "values": values}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workloads", help="comma-separated; default: those in BENCHMARK.json")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--first-seed", type=int, default=1000,
                   help="set s uses seeds first-seed + 1000 * s + 0 .. runs - 1")
    p.add_argument("--overhead", action="store_true")
    p.add_argument("--pairs", type=int, default=2, help="untraced/traced pairs per workload")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    record: dict = {"run_seconds": seconds, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}

    if args.overhead:
        record["overhead"] = {}
        for w in workloads:
            seed = args.first_seed
            # untraced and traced alternate, so that host drift during the
            # pairs falls on both sides
            runs = [run_once(w, seed, seconds, trace) for _ in range(args.pairs) for trace in (0, 1)]
            plain, traced = runs[0::2], runs[1::2]
            e2e = {k: [r["detail"]["end_to_end"][k] for r in plain] for k in bounds}
            e2e_t = {k: [r["detail"]["end_to_end"][k] for r in traced] for k in bounds}
            record["overhead"][w] = {
                "seed": seed, "untraced": e2e, "traced": e2e_t,
                "traced_minus_untraced": {k: statistics.median(e2e_t[k]) - statistics.median(e2e[k])
                                          for k in bounds},
                "traced_correct": all(r["result"]["correct"] for r in traced),
                "per_layer": traced[-1]["result"]["metrics"],
                "workload_layers": traced[-1]["detail"].get("workload_layers"),
                "self_times_s": traced[-1]["detail"].get("self_times_s"),
            }
            print(w, json.dumps(record["overhead"][w]["traced_minus_untraced"]), flush=True)
    else:
        record["sets"] = []
        for s in range(args.sets):
            summary = {}
            for w in workloads:
                seeds = [args.first_seed + 1000 * s + i for i in range(args.runs)]
                runs = [run_once(w, seed, seconds, 0) for seed in seeds]
                summary[w] = summarise(runs, bounds)
                print(f"set {s + 1} {w}: " + json.dumps(
                    {k: round(v["spread"], 4) for k, v in summary[w]["metrics"].items()}), flush=True)
                with open(args.out, "w") as f:  # keep what is done if the run is cut
                    json.dump({**record, "sets": record["sets"] + [summary]}, f, indent=1)
            record["sets"].append(summary)
        if args.sets >= 2:
            agree = {}
            for w in workloads:
                m1, m2 = record["sets"][0][w]["metrics"], record["sets"][1][w]["metrics"]
                agree[w] = {k: {"median_1": m1[k]["median"], "median_2": m2[k]["median"],
                                "relative_change": m2[k]["median"] / m1[k]["median"] - 1,
                                "bound": bounds.get(k)} for k in m1 if k in m2}
            record["agreement"] = agree
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
