"""Physical-plan quality gate (the 100 TB discipline, SURVEY section 4):
filters push into the parquet scan, scans prune columns, small dims
broadcast, top-k lowers to TakeOrderedAndProject, and no row-at-a-time
Python ever appears in a catalog query's hot path.

These assertions are what keeps a correctness-green plan from silently
regressing into a scale-hostile one.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

# batch-shaped queries whose plan can be built without executing anything
PLANNABLE = [
    n
    for n in sorted(REGISTRY)
    if n[0] in "qdte" and n not in ("q17_sample_stats",)  # q17 builds via collect
]


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_to_scan(spark):
    p = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: the scan reads only the 7 needed columns
    assert "l_orderkey" not in p.split("ReadSchema")[1][:400]


def test_q04_star_join_broadcasts_dims(spark):
    p = _plan(spark, "q04_star_join_revenue")
    assert p.count("BroadcastHashJoin") >= 2  # nation + region at minimum
    assert "CartesianProduct" not in p


def test_q13_topk_lowers_to_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "q13_top_orders")


def test_q02_flagship_aggregates_before_join(spark):
    """The fact table must collapse (partial hash agg) before touching the
    part dim -- the order that makes the join dim-sized at 100 TB."""
    p = _plan(spark, "q02_flagship_top_tokens")
    agg_pos = p.find("HashAggregate")
    join_pos = p.find("BroadcastHashJoin")
    assert agg_pos != -1 and join_pos != -1
    # physical plans print top-down: the join consumes the agg, so the
    # aggregate appears BELOW (after) the join node in the string
    assert "FileScan parquet" in p[join_pos:]


def test_e01_broadcasts_query_side(spark):
    p = _plan(spark, "e01_knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_e05_broadcasts_query_side_both_stages(spark):
    """The truncated-rerank ANN must broadcast the tiny query side (like
    e01) and never fall back to a cartesian product; the rerank stage is
    a window over pass-1 survivors, not a second scan join."""
    p = _plan(spark, "e05_knn_truncated_rerank")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


# Queries whose PLAN deliberately contains Arrow-batched Python -- each one
# is the documented exemplar of a vectorized-Python operator class, never
# row-at-a-time:
#   e02: LSH signature matmul (pandas_udf -> ArrowEvalPython)
#   q33: per-group OLS (applyInPandas -> FlatMapGroupsInPandas)
#   q39: document chunker (Python UDTF -> BatchEvalPythonUDTF, Arrow-batched)
ARROW_DELIBERATE = {"e02_knn_lsh", "q33_group_regression", "q39_udtf_doc_chunks"}


@pytest.mark.parametrize("name", PLANNABLE)
def test_no_python_udf_in_hot_path(spark, name):
    """Catalog queries are JVM-only: no BatchEvalPython (row-at-a-time
    Python UDF) anywhere, ever. Arrow-batched Python appears only in the
    ARROW_DELIBERATE exemplars -- and even there, exactly once per plan
    (the vectorized stage), never as incidental expression evaluation."""
    p = _plan(spark, name)
    assert "BatchEvalPython " not in p, name  # row-at-a-time: never allowed
    arrow_nodes = (
        p.count("ArrowEvalPython")
        + p.count("FlatMapGroupsInPandas")
        + p.count("BatchEvalPythonUDTF")
    )
    if name in ARROW_DELIBERATE:
        # one vectorized stage per side of the operator; e02 buckets two
        # sides and the printed plan can repeat a reused subtree, so the
        # ceiling is 4 -- the assertion guards against Python creeping into
        # OTHER stages, not against the operator's own fan-out
        assert arrow_nodes >= 1, f"{name}: expected its deliberate Arrow stage"
        assert arrow_nodes <= 4, f"{name}: Arrow stages proliferated ({arrow_nodes})"
    else:
        assert arrow_nodes == 0, name


@pytest.mark.parametrize(
    "name",
    [n for n in PLANNABLE if n.startswith(("q0", "q1"))],
)
def test_scans_have_column_pruning(spark, name):
    """Every parquet scan must project a subset schema, never all columns
    of a wide table unless the query truly needs them."""
    p = _plan(spark, name)
    for frag in p.split("ReadSchema: ")[1:]:
        schema = frag.split("\n")[0]
        if "lineitem" in p and "l_comment" in schema:
            raise AssertionError(f"{name}: unpruned lineitem scan: {schema}")


def test_join_hints_respected(spark):
    """Strategy hints must override the planner's default choice: a dim
    join that auto-broadcasts flips to SortMergeJoin under merge() and to
    ShuffledHashJoin under shuffle_hash() -- the manual overrides for when
    statistics mislead the planner (stale stats, post-filter blowup)."""
    from pyspark.sql import functions as F
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import load_table

    cust = load_table(spark, SF, "customer")
    nation = load_table(spark, SF, "nation")

    def plan_of(joined):
        return joined._jdf.queryExecution().executedPlan().toString()

    default = plan_of(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    assert "BroadcastHashJoin" in default  # tiny dim: planner broadcasts

    merged = plan_of(cust.join(nation.hint("merge"), cust.c_nationkey == nation.n_nationkey))
    assert "SortMergeJoin" in merged and "BroadcastHashJoin" not in merged

    hashed = plan_of(
        cust.join(nation.hint("shuffle_hash"), cust.c_nationkey == nation.n_nationkey)
    )
    assert "ShuffledHashJoin" in hashed and "BroadcastHashJoin" not in hashed


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """partitionBy() writes must enable partition pruning on read: a filter
    on the partition column shows up as PartitionFilters on the scan (file
    listing skips non-matching directories), never as a post-scan filter
    over all partitions."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import load_table

    out = str(tmp_path / "orders_by_priority")
    load_table(spark, SF, "orders").write.partitionBy("o_orderpriority").parquet(out)
    back = spark.read.parquet(out).filter("o_orderpriority = '1-URGENT'")
    p = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p
    frag = p.split("PartitionFilters: [")[1].split("]")[0]
    assert "o_orderpriority" in frag and "1-URGENT" in frag
    # and the data survives the round trip
    assert back.count() == load_table(spark, SF, "orders").filter(
        "o_orderpriority = '1-URGENT'"
    ).count()


def test_parquet_aggregate_pushdown_metadata_only(spark):
    """COUNT/MIN/MAX with no filter can be answered from parquet footer
    statistics alone (PushedAggregation) -- at 100 TB that's a metadata
    scan instead of a data scan. Requires the DSv2 parquet reader; both
    confs restored afterwards."""
    prev_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{SF}/lineitem.parquet")
        agg = df.selectExpr(
            "count(*) AS n", "min(l_quantity) AS mn", "max(l_quantity) AS mx"
        )
        p = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in p
        row = agg.first()
        assert row["n"] == df.count() and row["mn"] == 1.0 and row["mx"] == 50.0
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)


def test_q30_grouping_sets_single_expand(spark):
    """GROUPING SETS must lower to ONE Expand + hash aggregate over a single
    scan -- not one scan per grouping set."""
    p = _plan(spark, "q30_grouping_sets")
    assert p.count("Expand") == 1
    assert p.count("FileScan parquet") == 1


def test_q31_subquery_decorrelated(spark):
    """The correlated scalar subquery must be de-correlated into an
    aggregate-then-join, never a per-row re-executed subquery."""
    p = _plan(spark, "q31_small_qty_revenue")
    assert "Subquery" not in p
    # per-part average = its own aggregate feeding a join
    assert p.count("HashAggregate") >= 2
    assert "Join" in p


def test_q29_semi_anti_carry_no_payload(spark):
    """left_semi/left_anti keep only the probe side's columns; the orders
    scan must read just the join key (+ the anti filter column)."""
    p = _plan(spark, "q29_semi_anti_dedup") if "q29_semi_anti_dedup" in REGISTRY else _plan(spark, "q29_semi_anti_customers")
    import re
    for m in re.finditer(r"ReadSchema: ([^\n]*)", p):
        if "o_custkey" in m.group(1):
            assert "o_totalprice" not in m.group(1) and "o_orderdate" not in m.group(1)


def test_q56_sessionization_single_data_shuffle(spark):
    """Both windows and the session aggregate share the user_id
    partitioning: exactly ONE hashpartitioning Exchange; the only other
    Exchange is the SinglePartition one feeding the global summary,
    which moves partial-aggregate rows, not data."""
    p = _plan(spark, "q56_batch_sessionization")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange") <= 2, p


def test_q62_bm25_prefilters_and_takeordered(spark):
    """The corpus scan must be pre-filtered by arrays_overlap BEFORE the
    generate/explode, and the final top-k must lower to TakeOrdered."""
    p = _plan(spark, "q62_bm25_topk")
    assert "TakeOrderedAndProject" in p
    assert "arrays_overlap" in p
    gen_pos = p.find("Generate explode")
    assert gen_pos != -1
    # the filter feeding the explode sits below it in the printed plan
    assert "arrays_overlap" in p[gen_pos:]
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q65_bloom_probes_are_broadcast_joins(spark):
    """The 16-row sketch dim and the member list must broadcast; the
    probed fact never shuffles for the join."""
    p = _plan(spark, "q65_bloom_prune_join")
    assert p.count("BroadcastHashJoin") >= 3  # w1, w2, member
    assert "SortMergeJoin" not in p


def test_q66_interval_rewrite_has_no_join(spark):
    """The binned interval-overlap plan is explode + partial agg -- the
    nested-loop inequality join must not appear at all."""
    p = _plan(spark, "q66_interval_month_overlap")
    assert "Generate explode" in p
    assert "Join" not in p  # no join operator of any kind
    assert "partial" in p  # map-side combine before the single shuffle


def test_q68_funnel_has_single_data_shuffle_and_no_python(spark):
    """One exchange for the per-user collect; the state machine runs as
    JVM aggregate expressions (no BatchEvalPython / ArrowEvalPython)."""
    p = _plan(spark, "q68_funnel_stages")
    assert "EvalPython" not in p  # the HOF state machine stays JVM-side
    assert "collect_list(struct" in p  # one per-user collect, partial-agg'd
    # funnel-type filter reaches the scan's data filters (pre-collect
    # prune); since r14 the NULL-user quarantine pushes ahead of it, so
    # match the CASE filter anywhere in a DataFilters list rather than
    # pinning list position
    assert re.search(r"DataFilters: \[[^\]]*CASE WHEN \(event_type", p)
    # and the r14 NULL-user quarantine itself reaches the parquet scan
    assert "PushedFilters: [IsNotNull(user_id)]" in p


def test_catalog_wide_no_cartesian_no_single_partition_window(spark):
    """CATALOG-WIDE mechanical gate (zero allowlist as of r6): no batch
    query's physical plan may contain a CartesianProduct, and no Window
    may be fed by an 'Exchange SinglePartition' -- the two shapes that
    categorically cannot survive 100 TB. The r6 two-level striped rank
    (q58/q63/q70) and the TakeOrdered bounds on every top-N rank are
    what make this hold with no exceptions."""
    bad = []
    for name in PLANNABLE + [n for n in sorted(REGISTRY) if n.startswith("g")]:
        p = _plan(spark, name)
        if "CartesianProduct" in p:
            bad.append((name, "CartesianProduct"))
        for frag in p.split("Window ")[1:]:
            # the exchange feeding each window appears just below it
            if "SinglePartition" in frag[:600]:
                bad.append((name, "single-partition window"))
                break
    assert not bad, bad


def test_topn_rank_windows_are_take_ordered_bounded(spark):
    """q64/q71/q73/t09/m06 publish a top-N of an aggregated space: the
    plan must bound via TakeOrderedAndProject BEFORE any ranking window
    so the single-partition stage only ever sees N rows."""
    for name in (
        "q64_vocab_coverage",
        "q73_event_transition_bigrams",
        "t09_bpe_pair_counts",
        "m06_cooccurrence_lift",
        "q71_kmv_sketch_setops",
    ):
        assert "TakeOrderedAndProject" in _plan(spark, name), name


def test_d14_broadcasts_centroids_no_cartesian(spark):
    """SemDeDup's corpus-sized joins: broadcast centroid assignment
    (checkpointed away in the final plan, so asserted on the quantizer
    d14 calls, over d14's input) and the cid equi-join -- never an
    unbroadcast cartesian in either stage."""
    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
        _as_double,
        pinned_centroids,
        rank_centroids,
        with_norm,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import (
        load_table,
    )

    # assignment stage (pre-checkpoint): centroids must broadcast
    emb = load_table(spark, SF, "embeddings")
    n = with_norm(emb.select("vec_id", _as_double(F.col("embedding")).alias("v")))
    assign = rank_centroids(n, pinned_centroids(n), digits=12)
    pa = assign._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in pa and "CartesianProduct" not in pa
    # full query (post-checkpoint): the pair join must be a cid equi-join
    p = _plan(spark, "d14_semantic_dedup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_q85_classifier_filter_single_shuffle(spark):
    """The frozen-classifier sweep is scan-shaped: scoring is a
    projection fused into the scan stage, so the per-source report is
    the ONLY Exchange in the plan."""
    p = _plan(spark, "q85_classifier_quality_filter")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Exchange") == 1, p


def test_q87_kanon_two_level_agg_shuffles(spark):
    """k-anonymous release is corpus agg -> cell-table regroup: exactly
    two hash Exchanges (cells, then suppressed regroup), nothing else --
    the suppression decision must never shuffle row data."""
    p = _plan(spark, "q87_kanon_release")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Exchange") == 2, p


def test_q86_ewma_fold_bounded_shuffles(spark):
    """EWMA anomaly: daily agg + per-type series fold -- two hash
    Exchanges; the recurrence itself runs inside a projection (no
    additional shuffle, no Python)."""
    p = _plan(spark, "q86_ewma_anomaly")
    assert p.count("Exchange hashpartitioning") == 2, p
    assert p.count("Exchange") == 2, p


def test_e09_e10_broadcast_probe_sides_only(spark):
    """The retrieval evals broadcast probe-sized frames (query vectors,
    top lists, probe labels) -- broadcast joins must be present and no
    plan may fall back to a cartesian product; the corpus side always
    stays partitioned."""
    for name in ("e09_knn_label_eval", "e10_rrf_hybrid"):
        p = _plan(spark, name)
        assert (
            p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
        ), (name, p)
        assert "CartesianProduct" not in p, name


def _logical_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def _defining_expr(plan: str, pos: int) -> str:
    """Walk backwards from ``pos`` (start of an ' AS name#id' alias)
    balancing parens to recover the full defining expression."""
    depth, i = 0, pos - 1
    while i >= 0:
        c = plan[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                break
            depth -= 1
        elif c in ",[\n" and depth == 0:
            break
        i -= 1
    return plan[i + 1 : pos]


def _wrapped_by_safe_mark(expr: str, agg_idx: int) -> bool:
    """True iff a round/floor/ceil/exact-cast opens BEFORE the
    aggregate at ``agg_idx`` and its paren closes AFTER it -- i.e. the
    mark quantizes the aggregate's OUTPUT. A mark merely appearing
    inside the aggregate (sum(round(x, 9)) -- the exact q62/e10
    engine-order class fixed in r11) is NOT safe: rounding the inputs
    leaves the summation order float-dependent (r12 ADVICE)."""
    for mark in ("round(", "floor(", "ceil(", "cast("):
        start = 0
        while True:
            i = expr.find(mark, start)
            if i == -1 or i >= agg_idx:
                break
            depth, j = 0, i + len(mark) - 1  # j at the mark's '('
            while j < len(expr):
                if expr[j] == "(":
                    depth += 1
                elif expr[j] == ")":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if j > agg_idx:  # the mark's parens span the aggregate
                if mark != "cast(":
                    return True
                seg = expr[i : j + 1]
                if (
                    " as bigint" in seg
                    or " as int" in seg
                    or " as decimal" in seg
                ):
                    return True
            start = i + 1
    return False

def _agg_arg_is_integer_typed(expr: str, agg_idx: int) -> bool:
    """True iff the aggregate's WHOLE argument is cast to an integral
    type (sum(cast(round(x * 1.0e9), 0) as bigint)) -- the integer-grid
    fold: summation over bigints is exact in any order, so the key is
    engine-independent even though the final attribute is a double
    (the grid mean divides the exact sum back down). Contrast
    sum(round(x, 9)): rounded DOUBLES still sum in engine order."""
    p = expr.index("(", agg_idx)
    depth, j = 0, p
    while j < len(expr):
        if expr[j] == "(":
            depth += 1
        elif expr[j] == ")":
            depth -= 1
            if depth == 0:
                break
        j += 1
    arg = expr[p + 1 : j].strip()
    if not arg.startswith("cast("):
        return False
    depth, k = 0, 4  # at cast's '('
    while k < len(arg):
        if arg[k] == "(":
            depth += 1
        elif arg[k] == ")":
            depth -= 1
            if depth == 0:
                break
        k += 1
    return k == len(arg) - 1 and bool(
        re.search(r" as (bigint|int|smallint|tinyint|decimal\([^)]*\))\)$", arg)
    )


def test_no_unrounded_float_aggregate_window_sort_keys(spark):
    """The t04/q62/e10/q16 rank-tie class, MECHANIZED (r11 VERDICT task
    6b): a Window sort key fed by an UNROUNDED avg() or sum() over
    doubles ranks on an engine-order-dependent float -- mathematically
    tied groups land one ulp apart per engine and swap ranks beneath the
    tie-break (first seen under the r11 dup-heavy hostile variant; q16
    was found latent by this very scan in r12). Sort keys must be integer
    aggregates (the plan prints their refs with an L suffix), grid folds
    (round/floor/ceil or an 'as bigint' re-integerization inside the
    defining expression), or per-row scores (no aggregate at all).

    Allowed exceptions -- e04/e06's ADC totals: each CASE-sum aggregates
    exactly ONE row per subspace (no addition order to depend on) and the
    M=4 totals add in a FIXED left-associated order (_adist_fixed_agg),
    so the float key is bit-identical across engines by construction."""
    import re

    ALLOWED = {("e04_knn_pq_adc", "adist"), ("e06_knn_ivfpq", "adist")}

    bad = []
    scan = PLANNABLE + [
        n for n in sorted(REGISTRY) if n.startswith(("g", "mm"))
    ]
    for name in scan:
        plan = _logical_plan(spark, name)
        keys = set()
        for m in re.finditer(r"(\w+)#(\d+)(L?) (?:ASC|DESC) NULLS", plan):
            attr, eid, long_suffix = m.groups()
            if not long_suffix:
                keys.add((attr, eid))
        for attr, eid in keys:
            for dm in re.finditer(
                r" AS " + re.escape(attr) + "#" + eid + r"\b", plan
            ):
                expr = _defining_expr(plan, dm.start()).lower()
                aggs = [a.start() for a in re.finditer(r"\b(avg|sum)\(", expr)]
                if not aggs:
                    continue
                # EVERY aggregate in the defining expression must be
                # output-quantized OR integer-summed; one safe + one bare
                # is still an engine-order-dependent key.
                if all(
                    _wrapped_by_safe_mark(expr, a)
                    or _agg_arg_is_integer_typed(expr, a)
                    for a in aggs
                ):
                    continue
                if (name, attr) not in ALLOWED:
                    bad.append((name, attr, expr.strip()[:120]))
                break
    assert not bad, (
        "window sort key fed by unrounded float aggregate -- rank on an "
        f"exact integer/grid key instead: {bad}"
    )


def test_megadoc_row_width_stays_linear(spark, tmp_path):
    """r13 longstr regression guard for the two quadratic plan shapes the
    variant found: t04's size(tokenize) sibling to explode(tokenize)
    re-split the raw text per token row (O(len x tokens) per doc), and
    q39's correlated LATERAL duplicated the parent text per emitted
    chunk (O(len^2) bytes per doc). On this 10-doc x 256 KiB fixture the
    broken shapes ran MINUTES; the fixed ones run seconds -- the 90 s
    ceiling holds >10x margin on a loaded host while still failing any
    reintroduction by an order of magnitude."""
    import time

    word = "tok"
    body = " ".join(f"{word}{i % 997}" for i in range(43_000))  # ~256 KiB
    rows = [(i, body + f" uniq{i}", "en", f"src{i % 3}", len(body) + 7)
            for i in range(10)]
    d = str(tmp_path / "megadocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")

    # d15 joined r14: its chunker exploded span structs while carrying
    # the FULL token array into every span row (the q39 payload class,
    # ~16 GB per 1 MiB doc) AND its bounds list was a lambda-captured
    # expression re-evaluated per chunk (the shingles class); count()
    # works here because the per-doc aggregate forces chunk generation.
    for name in ("t04_tfidf_top_terms", "q39_udtf_doc_chunks", "d15_cdc_chunk_dedup"):
        t0 = time.perf_counter()
        n = REGISTRY[name].fn(spark, d).count()
        wall = time.perf_counter() - t0
        assert n > 0, name
        assert wall < 90, f"{name}: {wall:.0f}s on 10x256KiB docs -- quadratic row-width shape reintroduced?"

    # t05 (r14 find): shingles() used to re-evaluate an unmaterialized
    # tokenize(text) INSIDE its per-window lambda -- O(len x windows) per
    # doc; 1 MiB docs stalled indefinitely where the fixed shape runs in
    # seconds. count() would PRUNE the fingerprint projections entirely
    # (how the bug originally hid), so force full evaluation with an
    # aggregate over the computed columns.
    t0 = time.perf_counter()
    out = REGISTRY["t05_doc_fingerprints"].fn(spark, d)
    row = out.agg(
        F.sum("n_windows").alias("w"), F.min("min_window_fp").alias("m")
    ).first()
    wall = time.perf_counter() - t0
    assert row["w"] and row["w"] > 0
    assert wall < 90, f"t05: {wall:.0f}s on 10x256KiB docs -- quadratic shingle lambda reintroduced?"
