"""Focused tests for the r17 spread() internals: the chained-Python
size gate (min_bytes) and the plan-size estimator backing it.

The gate's contract: below the floor a narrow single-split frame is NOT
repartitioned (the run-once regime pays the Exchange + Python-worker
spawn in full, r16 driver bench mm02 2.67 -> 8.11 s); above it the old
widening behavior is unchanged; and the partitioning decision can never
change WHAT a downstream operator computes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import (
    PY_CHAIN_SPREAD_MIN_BYTES,
    _plan_size_bytes,
    load_table,
    spread,
)


def test_plan_size_bytes_is_driver_side_and_sane(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    est = _plan_size_bytes(docs)
    assert est is not None and est > 0
    # projection prunes the estimate (Catalyst scales by column sizes)
    sel = docs.select("doc_id", "text")
    est_sel = _plan_size_bytes(sel)
    assert est_sel is not None and 0 < est_sel <= est


def test_min_bytes_skips_replay_sized_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base_parts = docs.rdd.getNumPartitions()
    gated = spread(docs, cap=8, min_bytes=PY_CHAIN_SPREAD_MIN_BYTES)
    # replay fixture is far below the floor: no repartition node added
    assert gated.rdd.getNumPartitions() == base_parts
    assert gated is docs


def test_min_bytes_zero_preserves_old_widening(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    target = min(8, spark.sparkContext.defaultParallelism)
    # the fixture is one small parquet file: below the target, so the
    # ungated spread must widen it to exactly the capped parallelism
    assert docs.rdd.getNumPartitions() < target
    widened = spread(docs, cap=8, min_bytes=0)
    assert widened.rdd.getNumPartitions() == target


def test_gate_never_changes_results(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = spread(docs, cap=8, min_bytes=PY_CHAIN_SPREAD_MIN_BYTES)
    b = spread(docs, cap=8, min_bytes=0)
    rows_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    rows_b = sorted(r["doc_id"] for r in b.select("doc_id").collect())
    assert rows_a == rows_b


def test_synth_table_identical_under_forced_spread(spark, sf_dir):
    """The mm-family synth output is partitioning-invariant: forcing the
    old unconditional spread produces byte-identical media rows."""
    import modelorecomendacion_analisisspark_streaming_mas_spark.functions.multimodal as mm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    gated = mm.synth_png_table(spark, docs, "doc_id", "text").select(
        "id", F.md5(F.base64("content")).alias("h")
    )
    old_floor = mm.PY_CHAIN_SPREAD_MIN_BYTES
    try:
        mm.PY_CHAIN_SPREAD_MIN_BYTES = 0
        forced = mm.synth_png_table(spark, docs, "doc_id", "text").select(
            "id", F.md5(F.base64("content")).alias("h")
        )
        a = sorted((r["id"], r["h"]) for r in gated.collect())
        b = sorted((r["id"], r["h"]) for r in forced.collect())
    finally:
        mm.PY_CHAIN_SPREAD_MIN_BYTES = old_floor
    assert a == b
