"""Output checks, run after each timed window. Each returns a list of
human-readable mismatches; an empty list means the outputs are correct."""

from __future__ import annotations

import itertools

import numpy as np


def check_recommendations(requests: list[dict], expected_fn) -> list[str]:
    """Every answered ``/recommend`` must list the same films, with scores
    equal at 4 dp, as ``expected_fn(seed) -> [(film, score)]`` computed in
    process on the same seed list."""
    bad = []
    for r in requests:
        if not r["ok"]:
            continue
        want = [(int(i), round(float(s), 4)) for i, s in expected_fn(r["seed"])]
        got = [(int(i), round(float(s), 4)) for i, s in r["recs"]]
        if got != want:
            bad.append(f"request {r['id']}: got {got} want {want}")
    return bad


def ridge_top(item_ids, Y, row: dict, seed, reg: float = 0.1, top_n: int = 5) -> list[tuple[int, float]]:
    """Independent twin of the program's fold-in: the ridge user vector
    from the augmented least-squares system [Y_r; sqrt(reg * n) I] u =
    [r; 0] over the n known films of ``seed`` (``row`` maps a film id to
    its row of ``Y``), every film scored, the rated ones skipped, and the
    ``top_n`` best of the rest."""
    known = {int(f): float(r) for f, r in seed if int(f) in row}
    if not known:
        return []
    k = Y.shape[1]
    a = np.vstack([Y[[row[f] for f in known]], np.sqrt(reg * len(known)) * np.eye(k)])
    b = np.concatenate([np.array(list(known.values())), np.zeros(k)])
    u = np.linalg.lstsq(a, b, rcond=None)[0]
    scores = Y @ u
    # the top_n best unrated films are among the top_n + n best of all
    m = min(top_n + len(known), len(scores))
    best = np.argpartition(-scores, m - 1)[:m]
    order = (i for i in best[np.argsort(-scores[best], kind="stable")] if int(item_ids[i]) not in known)
    return [(int(item_ids[i]), float(scores[i])) for i in itertools.islice(order, top_n)]


def check_fold_in(item_ids, Y, answers: dict, tol: float = 1e-6) -> list[str]:
    """The program's fold-in answers (seed tuple -> [(film, score)]) must
    name the same films as ``ridge_top``, with scores within ``tol``."""
    row = {int(f): i for i, f in enumerate(item_ids)}
    bad = []
    for seed, got in answers.items():
        want = ridge_top(item_ids, Y, row, seed)
        if [f for f, _ in got] != [f for f, _ in want] or any(
            abs(g - w) > tol for (_, g), (_, w) in zip(got, want)
        ):
            bad.append(f"fold_in {list(seed)[:3]}...: got {got} want {want}")
    return bad


def check_rmse(model_rmse: float, mean_rmse: float) -> list[str]:
    """A trained model must predict better than the global mean rating."""
    if model_rmse < mean_rmse:
        return []
    return [f"model RMSE {model_rmse:.4f} does not beat global-mean RMSE {mean_rmse:.4f}"]


def check_frame(name: str, got, want, canon) -> list[str]:
    """Result frame against its oracle frame after ``canon`` (column and
    row order removed, values as strings)."""
    if canon(got).equals(canon(want)):
        return []
    return [f"{name}: result differs from oracle ({len(got)} vs {len(want)} rows)"]
