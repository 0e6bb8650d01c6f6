"""The catalog's process-lifetime memo (plans/memo.py): keying, release of
replaced values, failed builds, and a guard that keeps hand-rolled
caches from growing back in plans/."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pandas as pd
import pytest

from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY

PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "modelorecomendacion_analisisspark_streaming_mas_spark",
    "plans",
)


def _fail_once(real):
    calls = []

    def flaky(*args, **kwargs):
        if not calls:
            calls.append(1)
            raise RuntimeError("injected staging failure")
        return real(*args, **kwargs)

    return flaky


def _private_sf_dir(tmp_path, sf_dir, tables):
    """A copy of some tables under a fresh sf_dir, so no earlier test's
    memo entry can satisfy the first call."""
    d = tmp_path / "sf"
    d.mkdir()
    for t in tables:
        shutil.copyfile(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def test_q54_staging_failure_is_rebuilt(spark, sf_dir, tmp_path, monkeypatch):
    """A schema-evolution staging write that raises must not leave its
    half-written dir cached: the next call stages again."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import batch5

    d = _private_sf_dir(tmp_path, sf_dir, ["part"])
    monkeypatch.setattr(batch5, "load_table", _fail_once(batch5.load_table))
    q54 = REGISTRY["q54_schema_evolution_read"].fn
    with pytest.raises(RuntimeError, match="injected"):
        q54(spark, d)
    n = q54(spark, d).agg({"n": "sum"}).first()[0]
    assert n == spark.read.parquet(f"{d}/part.parquet").count()


def test_q52_compaction_failure_is_rebuilt(spark, sf_dir, tmp_path, monkeypatch):
    """Same contract for q52's fragment-then-compact staging: a failed
    compaction must not leave an empty compacted dir cached."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import layout

    d = _private_sf_dir(tmp_path, sf_dir, ["lineitem"])
    monkeypatch.setattr(layout, "compact_parquet", _fail_once(layout.compact_parquet))
    q52 = REGISTRY["q52_compaction_roundtrip"].fn
    with pytest.raises(RuntimeError, match="injected"):
        q52(spark, d)
    n = q52(spark, d).agg({"n": "sum"}).first()[0]
    assert n == spark.read.parquet(f"{d}/lineitem.parquet").count()


def test_memo_rebuilds_and_releases_on_fingerprint_and_session_change(spark, tmp_path):
    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import memo

    sf = str(tmp_path)
    table = tmp_path / "t.parquet"
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(table)

    # staged dir: reused while the table is unchanged ...
    def write(d):
        pd.read_parquet(table).to_parquet(os.path.join(d, "copy.parquet"))
        return d

    d1 = memo.staged("test_copy", sf, ("t",), write)
    assert memo.staged("test_copy", sf, ("t",), write) == d1
    # ... rebuilt after an in-place rewrite, and the old dir is removed
    pd.DataFrame({"x": [1, 2, 3, 4]}).to_parquet(table)
    d2 = memo.staged("test_copy", sf, ("t",), write)
    assert d2 != d1 and not os.path.exists(d1)
    assert len(pd.read_parquet(os.path.join(d2, "copy.parquet"))) == 4

    # session value: reused within a session, rebuilt on another one,
    # and the replaced frames' blocks are freed
    builds = []

    def build():
        # a distinct plan per build: the cache manager matches frames by plan
        builds.append(1)
        n = 10 * len(builds)
        ckpt = spark.range(n).withColumn("y", F.col("id") * 2).localCheckpoint(eager=True)
        cached = spark.range(n).cache()
        cached.count()
        return ckpt, cached

    ckpt, cached = memo.in_session("test_frames", spark, sf, ("t",), build)
    assert memo.in_session("test_frames", spark, sf, ("t",), build)[0] is ckpt
    rdd_id = ckpt._jdf.queryExecution().logical().rdd().id()
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    assert persistent.containsKey(rdd_id) and cached.storageLevel.useMemory

    other = spark.newSession()
    new_ckpt, _ = memo.in_session("test_frames", other, sf, ("t",), build)
    assert new_ckpt is not ckpt
    persistent = spark.sparkContext._jsc.getPersistentRDDs()
    assert not persistent.containsKey(rdd_id)
    assert not cached.storageLevel.useMemory and not cached.storageLevel.useDisk


def test_failed_build_leaves_no_entry(tmp_path):
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import memo

    dirs = []

    def write(d):
        dirs.append(d)
        if len(dirs) == 1:
            raise RuntimeError("injected")
        return d

    with pytest.raises(RuntimeError):
        memo.staged("test_fail", str(tmp_path), (), write)
    assert not os.path.exists(dirs[0])
    assert memo.staged("test_fail", str(tmp_path), (), write) == dirs[1]


# plans/catalog.py's registry is filled once at import by @register; it
# holds query definitions, not derived data.
_ALLOWED_MODULE_CONTAINERS = {("catalog.py", "REGISTRY")}


def _empty_container(node: ast.AST) -> bool:
    if isinstance(node, (ast.Dict, ast.List, ast.Set)):
        return not getattr(node, "keys", None) and not getattr(node, "elts", None)
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in {"dict", "list", "set", "defaultdict", "OrderedDict"}
    )


def test_no_hand_rolled_caches_in_plans():
    """Process-lifetime state in plans/ lives in memo.py only: no other
    module registers exit hooks, makes temp dirs, or keeps a module-level
    container to fill at run time. And streaming queries run through
    sources/streams.py::run_available_now, whose checkpoints and memory-
    sink views do not outlive the run: no plans/ module sets a trigger or
    awaits a query itself."""
    bad = []
    for path in sorted(glob.glob(os.path.join(PLANS_DIR, "*.py"))):
        name = os.path.basename(path)
        if name == "memo.py":
            continue
        tree = ast.parse(open(path).read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
                if (node.value.id, node.attr) in {
                    ("atexit", "register"),
                    ("tempfile", "mkdtemp"),
                }:
                    bad.append(f"{name}:{node.lineno} {node.value.id}.{node.attr}")
            if isinstance(node, ast.Attribute) and node.attr in {"trigger", "awaitTermination"}:
                bad.append(f"{name}:{node.lineno} .{node.attr} (use run_available_now)")
            if isinstance(node, ast.ImportFrom) and node.module in {"atexit", "tempfile"}:
                bad.append(f"{name}:{node.lineno} from {node.module} import")
        for node in tree.body:
            targets = (
                node.targets
                if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign) else []
            )
            value = getattr(node, "value", None)
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and value is not None
                    and _empty_container(value)
                    and (name, t.id) not in _ALLOWED_MODULE_CONTAINERS
                ):
                    bad.append(f"{name}:{node.lineno} module-level container {t.id}")
    assert not bad, "use plans/memo.py instead:\n" + "\n".join(bad)
