"""Load generator: a separate process that produces every input the
program sees during a timed window and times the program from outside.

    python3 loadgen.py --seed <n> --threads <k> --data <dir> --rate <r>
        --open-seconds <s> --closed-seconds <s> --out <file>

It first draws the request bodies from the seed and prints ``prepared``;
then it reads the server's port as one line on stdin, so the runner can
start the server after the bodies exist and the generator's own start-up
stays out of the server's set-up time. It POSTs ``/recommend`` first in an
open loop at a fixed offered rate (latency timed from each request's due
time, lateness recorded), then in a closed loop with one connection per
thread, using at most ``--threads`` threads (the runner passes nproc).
The same seed gives the same inputs.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import sys
import threading
import time

import numpy as np

# --- recommend_serving mix ---------------------------------------------------
# Seed lists are what a cold-start user would type into the reference's
# film form: popular films far more often than obscure ones (Zipf over the
# catalog's popularity ranking), lists from a single film up to a long
# questionnaire (log-uniform 1..50, so short and long solves both show),
# and about 2 % film ids the catalog does not know (typos, retired films),
# which the program must skip rather than fail on.
ZIPF_S = 1.0
MAX_SEED_LEN = 50
UNKNOWN_SHARE = 0.02
POOL = 3_200  # distinct bodies, enough that warm-up and open loop never repeat one
WARMUP_S = 1.0

def _post(port: int, body: bytes) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("POST", "/recommend", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def recommend_mix(seed: int, popularity: np.ndarray, catalog_size: int, n: int) -> list[list[list[float]]]:
    """``n`` seed-rating lists drawn from ``popularity`` (film ids, most
    rated first)."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, len(popularity) + 1) ** ZIPF_S
    cdf = np.cumsum(weights / weights.sum())
    lengths = np.minimum(MAX_SEED_LEN, np.exp(rng.uniform(0, math.log(MAX_SEED_LEN + 1), n)).astype(int))
    lengths = np.maximum(lengths, 1)
    out = []
    for length in lengths:
        films: list[int] = []
        while len(films) < length:
            draws = np.searchsorted(cdf, rng.random(2 * length), side="right")
            for f in popularity[np.minimum(draws, len(popularity) - 1)]:
                if int(f) not in films:
                    films.append(int(f))
                if len(films) == length:
                    break
        ratings = rng.integers(1, 6, length)
        unknown = rng.random(length) < UNKNOWN_SHARE
        seed_list = [
            [catalog_size + int(rng.integers(1, 1_000_000)) if u else f, int(r)]
            for f, r, u in zip(films, ratings, unknown)
        ]
        out.append(seed_list)
    return out


def _body(seed_list) -> bytes:
    return json.dumps({"ratings": [{"filmId": f, "rating": r} for f, r in seed_list]}).encode()


def run_recommend(args) -> dict:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = pq.read_table(os.path.join(args.data, "lineitem.parquet"), columns=["l_partkey"])
    vc = pc.value_counts(parts["l_partkey"]).to_pylist()
    vc.sort(key=lambda d: (-d["counts"], d["values"]))
    popularity = np.array([d["values"] for d in vc], dtype=np.int64)
    catalog = int(pq.read_metadata(os.path.join(args.data, "part.parquet")).num_rows)
    mix = recommend_mix(args.seed, popularity, catalog, POOL)
    bodies = [_body(s) for s in mix]
    print("prepared", flush=True)
    port = int(sys.stdin.readline())

    def open_loop(n: int, first: int) -> tuple[float, list[dict]]:
        """``n`` requests due every 1/rate seconds from now, sent by the
        worker threads; each record keeps its due time."""
        recs: list[dict] = [None] * n  # type: ignore[list-item]
        counter = itertools.count()
        t0 = time.time() + 0.05

        def worker():
            while True:
                i = next(counter)
                if i >= n:
                    return
                due = t0 + i / args.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                sent = time.time()
                try:
                    status, data = _post(port, bodies[(first + i) % POOL])
                except OSError:
                    status, data = 0, b""
                recs[i] = {"id": first + i, "due": due, "sent": sent, "done": time.time(),
                           "ok": status == 200, "raw": data, "pool": (first + i) % POOL}

        threads = [threading.Thread(target=worker) for _ in range(args.threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return t0, recs

    # Warm-up at the offered rate (part of set-up): a fresh server's first
    # requests stall for hundreds of milliseconds, which is start-up, not
    # the steady latency users of a running service see.
    n_warm = int(args.rate * WARMUP_S)
    _, warm_recs = open_loop(n_warm, 0)
    t0, open_recs = open_loop(int(args.rate * args.open_seconds), n_warm)
    counter = itertools.count(n_warm + len(open_recs))

    closed_recs: list[dict] = []
    lock = threading.Lock()
    start = time.time()
    end = start + args.closed_seconds

    def closed_worker():
        mine = []
        while True:
            i = next(counter)
            sent = time.time()
            if sent >= end:
                break
            try:
                status, data = _post(port, bodies[i % POOL])
            except OSError:
                status, data = 0, b""
            mine.append({"id": i, "sent": sent, "done": time.time(),
                         "ok": status == 200, "raw": data, "pool": i % POOL})
        with lock:
            closed_recs.extend(mine)

    threads = [threading.Thread(target=closed_worker) for _ in range(args.threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    for r in itertools.chain(warm_recs, open_recs, closed_recs):
        raw = r.pop("raw")
        r["seed"] = mix[r.pop("pool")]
        r["recs"] = (
            [[d["filmId"], d["score"]] for d in json.loads(raw)["recommendations"]]
            if r["ok"] else []
        )
    return {
        "rate": args.rate,
        "threads": args.threads,
        "t_first_due": t0,
        "warmup": warm_recs,
        "open": open_recs,
        "closed": closed_recs,
        "closed_window": [start, end],
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--threads", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--data", required=True, help="input tables")
    p.add_argument("--rate", type=float, required=True, help="open-loop requests/s")
    p.add_argument("--open-seconds", type=float, required=True)
    p.add_argument("--closed-seconds", type=float, required=True)
    args = p.parse_args(argv)
    out = run_recommend(args)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
