"""Per-query profiler for optimization rounds: run named catalog entries
warm, time each repetition, and dump ``explain("formatted")`` to a file.

    python tools/profile_query.py --queries m01,g06 [--sf-dir DIR]
        [--reps 3] [--noop] [--explain-dir plans/r16] [--suffix before]

``--noop`` times ``df.write.format("noop")`` (guide section 1.4: computes
every column, no sink cost) instead of the bench's ``df.count()``.
Streaming entries materialize fully inside the query function, so for
them the two are equivalent. Timing output goes to stdout as one JSON
line per query: {"name":..., "secs": [r1, r2, ...], "rows": N}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", required=True)
    # >= 1: --explain-dir dumps the plan of the last timed repetition
    ap.add_argument("--reps", type=_positive_int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--warm", default="q02_flagship_top_tokens,e01_knn_bruteforce",
                    help="comma-separated warm-up entries run once untimed ('' to skip)")
    args = ap.parse_args()

    from modelorecomendacion_analisisspark_streaming_mas_spark import get_spark
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY

    spark = get_spark(app_name="mras-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir

    for w in [x for x in args.warm.split(",") if x]:
        REGISTRY[w].fn(spark, sf_dir).count()

    def drain(timeout: float = 60.0) -> None:
        tracker = spark.sparkContext.statusTracker()
        t0 = time.perf_counter()
        while tracker.getActiveJobsIds() and time.perf_counter() - t0 < timeout:
            time.sleep(0.05)

    names = [x for x in args.queries.split(",") if x]
    # validate up front so a typo'd name fails readably before any timing
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(
            f"unknown quer{'y' if len(unknown) == 1 else 'ies'}: "
            f"{', '.join(unknown)} (not in REGISTRY; see plans/__init__.py)"
        )
    for name in names:
        q = REGISTRY[name]
        secs = []
        rows = None
        df = None
        for rep in range(args.reps):
            drain()
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                rows = df.count()
            secs.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            # reuse the last timed run's frame: rebuilding the plan here
            # re-executed any build-time jobs the query function runs
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            text = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(path, "w") as f:
                f.write(text)
        out = {"name": name, "secs": secs}
        if not args.noop:
            out["rows"] = rows  # undefined under --noop: omit, don't print null
        print(json.dumps(out))


if __name__ == "__main__":
    main()
