"""The catalog's one process-lifetime memo: everything a query builds once
and later queries reuse -- staged replay and layout copies on local disk,
and frames, models and counts that live in a Spark session.

One keying rule for every value: ``(slot, sf_dir)`` names the entry, and
the entry is reused only while ``table_fingerprint(sf_dir, tables)`` and,
for session values, the session are unchanged.

* Fingerprint: a path-only key would serve stale derived data if the
  parquet under an sf_dir is regenerated in place within one process (a
  drift-variant sweep reusing a directory). Regeneration changes mtimes
  at the least, so the fingerprint misses and the entry is rebuilt.
* Session: localCheckpoint blocks, cached frames and fitted models sit in
  ONE session's block manager. Handing them to a query on a different or
  recreated session would dangle or cross-contaminate, so session values
  are rebuilt on any other session. The entry holds the session object,
  which pins its identity (no ``id()`` reuse). Staged dirs are plain
  files that any session can read, so they carry no session key.

When an entry is rebuilt, the old value is released first: its staged
dir is removed, and its frames are unpersisted (including the blocks of
an eager localCheckpoint). A build that raises leaves no entry, and the
half-written dir it was filling is removed. Values are built inside the
first query that needs them, so their cost stays in that query's timed
run. Every dir handed out here lives under one scratch root, which is
removed at interpreter exit.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable, Hashable
from typing import Any, NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession

from ..session import unpersist
from ..sources.readers import table_fingerprint

T = TypeVar("T")


class _Entry(NamedTuple):
    fingerprint: tuple
    session: SparkSession | None
    value: Any
    staged_dir: str | None


_ENTRIES: dict[tuple[Hashable, str], _Entry] = {}
_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh empty dir (sink, checkpoint or staging) that is removed at
    interpreter exit."""
    global _ROOT
    if _ROOT is None:
        _ROOT = tempfile.mkdtemp(prefix="mras_")
        atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_ROOT)


def staged(
    slot: Hashable, sf_dir: str, tables: tuple[str, ...], write: Callable[[str], T]
) -> T:
    """Memoized ``write(d)``: ``d`` is a fresh scratch dir that ``write``
    fills, and its return value (usually ``d`` itself) is what is cached.
    Any session may read the dir, so the key carries no session."""

    def build() -> tuple[T, str]:
        d = scratch_dir("staged")
        try:
            return write(d), d
        except BaseException:
            shutil.rmtree(d, ignore_errors=True)
            raise

    return _get(slot, sf_dir, tables, None, build)


def in_session(
    slot: Hashable,
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...],
    build: Callable[[], T],
) -> T:
    """Memoized ``build()`` for a value that lives in ``spark``'s session:
    frames, models, counts."""
    return _get(slot, sf_dir, tables, spark, lambda: (build(), None))


def _get(slot, sf_dir, tables, session, build):
    key = (slot, sf_dir)
    fp = table_fingerprint(sf_dir, tables)
    hit = _ENTRIES.get(key)
    if hit is not None and hit.fingerprint == fp and hit.session is session:
        return hit.value
    if hit is not None:
        del _ENTRIES[key]
        _release(hit)
    value, d = build()
    _ENTRIES[key] = _Entry(fp, session, value, d)
    return value


def _release(entry: _Entry) -> None:
    if entry.staged_dir is not None:
        shutil.rmtree(entry.staged_dir, ignore_errors=True)
    values = entry.value if isinstance(entry.value, tuple) else (entry.value,)
    for v in values:
        if isinstance(v, DataFrame):
            unpersist(v)
