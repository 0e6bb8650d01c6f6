"""Serving veneer (SURVEY section 2.13 entry points 3-4) -- thin HTTP layer
over the engine, mirroring the reference's contracts:

* ``POST /recommend`` {"ratings": [{"filmId": int, "rating": int}]} ->
  {"recommendations": [{"filmId", "title", "score"}]}
  (app4/recommender.py:57-96; payload contract app2/index.html:70-82)
* ``GET /counts`` -> JSON rows of the incrementally-maintained streaming
  aggregate (app3/live_counts.py:72-101 -- but reading Spark streaming
  state instead of re-counting in pandas per request)
* ``POST /submit`` -> append the payload to the ingest spool (the app2
  Kafka-forwarding stand-in, app2/server.py:31-51)

Deliberately demo-glue: no framework, stdlib http.server, all engine work
behind pure functions so the HTTP layer stays trivially testable.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from ..ml.recommend import fold_in


class RecommenderState:
    """Loaded-once serving state: item factor matrix + title catalog
    (app4/recommender.py:26-36)."""

    def __init__(self, item_ids: np.ndarray, Y: np.ndarray, titles: dict[int, str]):
        self.item_ids = item_ids
        self.Y = Y
        self.titles = titles

    @classmethod
    def from_model(cls, model, titles: dict[int, str]) -> "RecommenderState":
        from ..ml.recommend import item_factor_matrix

        ids, Y = item_factor_matrix(model)
        return cls(ids, Y, titles)

    def recommend(self, seed_ratings: list[tuple[int, float]], top_n: int = 5) -> list[dict]:
        recs = fold_in(self.item_ids, self.Y, seed_ratings, top_n=top_n)
        return [
            {"filmId": i, "title": self.titles.get(i, f"item {i}"), "score": round(s, 4)}
            for i, s in recs
        ]


class CountsProvider:
    """Pull-through cache over a callable returning the current aggregate
    rows (e.g. ``lambda: out.collect()`` over the memory-sink frame that
    ``run_available_now`` returns)."""

    def __init__(self, fetch):
        self._fetch = fetch
        self._lock = threading.Lock()

    def counts(self) -> list[dict]:
        with self._lock:
            return [r.asDict() if hasattr(r, "asDict") else dict(r) for r in self._fetch()]


def make_server(
    port: int,
    recommender: RecommenderState | None = None,
    counts: CountsProvider | None = None,
    spool_path: str | None = None,
) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; call ``serve_forever`` in a
    thread. Port 0 picks a free port (server.server_address[1])."""

    # ThreadingHTTPServer handles each request on its own thread; appends to
    # the spool must be serialized or concurrent large writes can interleave
    # and corrupt JSONL lines.
    spool_lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _json(self, code: int, obj) -> None:
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):  # noqa: N802
            if self.path == "/counts" and counts is not None:
                self._json(200, {"counts": counts.counts()})
            elif self.path == "/health":
                self._json(200, {"ok": True})
            else:
                self._json(404, {"error": "not found"})

        def do_POST(self):  # noqa: N802
            length = int(self.headers.get("Content-Length", 0))
            try:
                payload = json.loads(self.rfile.read(length) or b"{}")
            except json.JSONDecodeError:
                self._json(400, {"error": "invalid JSON"})
                return
            if self.path == "/recommend" and recommender is not None:
                ratings = payload.get("ratings") or []
                try:
                    seed = [(int(r["filmId"]), float(r["rating"])) for r in ratings]
                except (KeyError, TypeError, ValueError):
                    self._json(400, {"error": "ratings must be [{filmId, rating}]"})
                    return
                if not seed:
                    self._json(400, {"error": "no ratings provided"})
                    return
                self._json(200, {"recommendations": recommender.recommend(seed)})
            elif self.path == "/submit" and spool_path is not None:
                spool_dir = os.path.dirname(spool_path)
                if spool_dir:  # bare filename -> cwd, nothing to create
                    os.makedirs(spool_dir, exist_ok=True)
                line = json.dumps(payload) + "\n"
                with spool_lock, open(spool_path, "a") as f:
                    f.write(line)
                self._json(200, {"queued": True})
            else:
                self._json(404, {"error": "not found"})

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)
