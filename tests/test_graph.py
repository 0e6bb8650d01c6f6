"""Graph algorithm semantics tests: hand-checkable PageRank fixpoint and
planted connected components."""

from __future__ import annotations

import numpy as np

from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
    connected_components,
    in_degrees,
    pagerank,
)


def _vertices(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "id string")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_matches_numpy_power_iteration(spark):
    # a -> b, a -> c, b -> c, c -> a
    ids = ["a", "b", "c"]
    pairs = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")]
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(_vertices(spark, ids), _edges(spark, pairs), max_iter=10).collect()
    }
    # same recurrence in numpy
    idx = {v: i for i, v in enumerate(ids)}
    out_deg = np.zeros(3)
    for s, _ in pairs:
        out_deg[idx[s]] += 1
    r = np.ones(3)
    for _ in range(10):
        contrib = np.zeros(3)
        for s, d in pairs:
            contrib[idx[d]] += r[idx[s]] / out_deg[idx[s]]
        r = 0.15 + 0.85 * contrib
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])


def test_pagerank_dangling_vertex_gets_reset_only(spark):
    # b has no in-links beyond a; c is a sink; d is isolated
    ids = ["a", "b", "c", "d"]
    pairs = [("a", "b"), ("b", "c")]
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(_vertices(spark, ids), _edges(spark, pairs), max_iter=5).collect()
    }
    assert abs(got["d"] - 0.15) < 1e-12  # isolated: reset mass only
    assert got["c"] > got["b"] > got["d"]


def test_connected_components_planted(spark):
    ids = ["a", "b", "c", "x", "y", "z", "lone"]
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("y", "z")]
    got = {
        r["id"]: r["component"]
        for r in connected_components(_vertices(spark, ids), _edges(spark, pairs)).collect()
    }
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"
    assert got["lone"] == "lone"


def test_connected_components_pointer_jump_beats_diameter(spark):
    """A 12-node path has diameter 11; one-hop propagation needs 11 rounds.
    The pointer-jumping shortcut must converge in far fewer (reach at least
    doubles per round), so max_iter=5 suffices."""
    ids = [f"n{i:02d}" for i in range(12)]
    pairs = [(ids[i], ids[i + 1]) for i in range(11)]
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            _vertices(spark, ids), _edges(spark, pairs), max_iter=5
        ).collect()
    }
    assert set(got.values()) == {"n00"}


def test_connected_components_nonconvergence_is_loud(spark):
    import pytest

    ids = ["a", "b", "c", "d", "e", "f"]
    pairs = [(ids[i], ids[i + 1]) for i in range(5)]
    with pytest.warns(RuntimeWarning, match="did not converge"):
        connected_components(_vertices(spark, ids), _edges(spark, pairs), max_iter=1).collect()
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            _vertices(spark, ids), _edges(spark, pairs), max_iter=1, on_nonconverged="raise"
        ).collect()


def test_encoded_graph_decodes_to_string_graph(spark):
    """The packed-long graph (customer c -> 2c, part p -> 2p+1) must decode
    to exactly the prefixed-string graph the reference's scheme produces."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        bipartite_graph,
        bipartite_graph_encoded,
        decode_vertex_id,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    v_str, e_str = bipartite_graph(spark, sf)
    v_enc, e_enc = bipartite_graph_encoded(spark, sf)
    assert dict(v_enc.dtypes)["id"] == "bigint"
    decoded_edges = sorted(
        map(
            tuple,
            e_enc.select(
                decode_vertex_id(F.col("src")).alias("src"),
                decode_vertex_id(F.col("dst")).alias("dst"),
            ).collect(),
        )
    )
    assert decoded_edges == sorted(map(tuple, e_str.collect()))
    assert v_enc.count() == v_str.count()
    # parity split matches the tipo tag
    bad = v_enc.filter(
        ((F.col("id") % 2 == 0) & (F.col("tipo") != "customer"))
        | ((F.col("id") % 2 == 1) & (F.col("tipo") != "part"))
    ).count()
    assert bad == 0


def test_in_degrees(spark):
    pairs = [("a", "c"), ("b", "c"), ("a", "d")]
    got = {r["id"]: r["inDegree"] for r in in_degrees(_edges(spark, pairs)).collect()}
    assert got == {"c": 2, "d": 1}


def test_g03_cc_oracle_on_planted_multicomponent_graph():
    """The g03 DuckDB oracle (unrolled min-label + pointer jump) must get
    planted multi-component structure right -- the real tables collapse to
    one giant component, which would hide a propagation bug."""
    import duckdb

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.graphq import _cc_oracle

    con = duckdb.connect()
    # orders: orderkey -> custkey; lineitem: orderkey -> partkey.
    # Components: {c1,p1,p2,c2} (size 4), {c3,p3} (size 2), {c4,p4} (size 2).
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES"
        " (10, 1), (11, 2), (12, 3), (13, 4)"
        ") t(o_orderkey, o_custkey)"
    )
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM (VALUES"
        " (10, 101), (10, 102), (11, 102), (12, 103), (13, 104)"
        ") t(l_orderkey, l_partkey)"
    )
    got = {r[0]: r[1] for r in con.execute(_cc_oracle(12)).fetchall()}
    assert got == {2: 2, 4: 1}


def test_triangle_count_planted(spark):
    """Two triangles sharing edge (2,3); duplicate and reversed edges must
    not change counts."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 2), (2, 1), (1, 2), (5, 6)],
        "src long, dst long",
    )
    got = {r["v"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_bfs_levels_on_planted_chain_and_island(spark):
    """Chain 1-2-3-4-5 seeded at 1, plus a disconnected island 10-11:
    levels are hop distances, the island stays NULL (unreached), and a
    max_iter cutoff truncates exactly at the cutoff."""
    from pyspark.sql import functions as F
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        bfs_levels,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {
        r["id"]: r["level"]
        for r in bfs_levels(vertices, edges, seeds, max_iter=6).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 10: None, 11: None}
    truncated = {
        r["id"]: r["level"]
        for r in bfs_levels(vertices, edges, seeds, max_iter=2).collect()
    }
    assert truncated == {1: 0, 2: 1, 3: 2, 4: None, 5: None, 10: None, 11: None}


def test_weighted_pagerank_degenerates_to_unweighted(spark):
    """With all-equal weights, rank*w/sum(w) == rank/outDegree, so
    pagerank_weighted must equal pagerank to float tolerance on any
    graph (here: a 3-cycle plus a dangling chord)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        pagerank,
        pagerank_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    from pyspark.sql import functions as F

    w_edges = edges.withColumn("weight", F.lit(7))
    pr = {r["id"]: r["pagerank"] for r in pagerank(vertices, edges, max_iter=8).collect()}
    prw = {
        r["id"]: r["pagerank"]
        for r in pagerank_weighted(vertices, w_edges, max_iter=8).collect()
    }
    assert set(pr) == set(prw)
    for k in pr:
        assert abs(pr[k] - prw[k]) < 1e-9


def test_weighted_pagerank_favors_heavy_edge(spark):
    """A source splitting 9:1 between two sinks must rank the heavy sink
    strictly higher -- the property unweighted PageRank cannot express."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        pagerank_weighted,
    )

    edges = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1)], "src long, dst long, weight long"
    )
    vertices = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    pr = {
        r["id"]: r["pagerank"]
        for r in pagerank_weighted(vertices, edges, max_iter=5).collect()
    }
    assert pr[2] > pr[3] > 0


def test_kcore_reaches_fixpoint_and_every_survivor_qualifies(spark, sf_dir):
    """g07's 8 unrolled rounds must actually CONVERGE at test SFs (else
    the result is a prefix, not the k-core), and every surviving vertex
    must have degree >= k within the surviving subgraph."""
    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        bipartite_graph_encoded,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.graphq import (
        _G07_K,
        _G07_ROUNDS,
    )

    _, edges = bipartite_graph_encoded(spark, sf_dir)
    e = edges
    for _ in range(_G07_ROUNDS):
        ks = (
            e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _G07_K).select("src")
        )
        kd = (
            e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= _G07_K).select("dst")
        )
        e = (
            e.join(ks, "src", "left_semi")
            .join(kd, "dst", "left_semi")
            .localCheckpoint(eager=True)
        )
    n = e.count()
    assert n > 0, "degenerate fixture: empty core proves nothing"
    # one more round must change nothing (fixpoint reached)
    ks = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).filter(F.col("d") >= _G07_K).select("src")
    kd = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d")).filter(F.col("d") >= _G07_K).select("dst")
    again = e.join(ks, "src", "left_semi").join(kd, "dst", "left_semi").count()
    assert again == n
    # survivor property
    bad = (
        e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).filter(F.col("d") < _G07_K).count()
        + e.groupBy("dst").agg(F.count(F.lit(1)).alias("d")).filter(F.col("d") < _G07_K).count()
    )
    assert bad == 0


def test_g13_entry_is_multi_hop_and_nonempty(spark, sf_dir):
    """g13's driver certificate must never be vacuous again (its r8
    record hash-matched 0 rows vs 0 rows at sf0.01): the nearest-
    indirect-partner target set excludes nation 0's direct successors,
    so every returned path has length >= 2 BY CONSTRUCTION, and the
    entry must return rows on the shipped testdata."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.graphq import (
        g13_bfs_trade_paths,
    )

    rows = g13_bfs_trade_paths(spark, sf_dir).collect()
    assert rows, "g13 must be non-empty on shipped testdata"
    assert all(r["path_len"] >= 2 for r in rows)
    assert all(r["n_paths"] >= 1 for r in rows)


def test_g09_lpa_matches_python_reference_on_random_graphs(spark):
    """Synchronous LPA with the pinned (count DESC, label ASC)
    tie-break must match a sequential reference on arbitrary small
    undirected graphs -- the oracle pins one trade graph; this pins the
    ALGORITHM."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(4, 9)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(n * 2)
                )
                if a != b
            }
        )
        if not edges:
            continue
        # sequential reference: 4 synchronous rounds
        verts = sorted({v for e in edges for v in e})
        nbrs = {v: [] for v in verts}
        for a, b in edges:
            nbrs[a].append(b)
            nbrs[b].append(a)
        lab = {v: v for v in verts}
        for _ in range(4):
            new = {}
            for v in verts:
                counts: dict = {}
                for u in nbrs[v]:
                    counts[lab[u]] = counts.get(lab[u], 0) + 1
                new[v] = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            lab = new
        # distributed twin (same loop as g09, small-graph input)
        und = spark.createDataFrame(edges, "a int, b int")
        sym = und.select(
            F.col("a").alias("dst"), F.col("b").alias("src")
        ).unionAll(und.select(F.col("b").alias("dst"), F.col("a").alias("src")))
        labels = sym.select(F.col("dst").alias("v")).distinct().select(
            "v", F.col("v").alias("lab")
        )
        vw = W.partitionBy("v").orderBy(F.desc("n"), F.asc("lab"))
        for _ in range(4):
            nb = sym.join(labels, sym.src == labels.v).select(
                F.col("dst").alias("v"), "lab"
            )
            labels = (
                nb.groupBy("v", "lab")
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("rn", F.row_number().over(vw))
                .filter(F.col("rn") == 1)
                .select("v", "lab")
            )
        got = {r["v"]: r["lab"] for r in labels.collect()}
        assert got == lab, (trial, edges, got, lab)


def test_g15_entry_structural_invariants(spark, sf_dir):
    """g15 acceptance, structural at ANY data: 25 nations out, each
    source nation keeps at least its reset mass (0.15 teleports only to
    the source), per-source rank mass never exceeds 1 (dangling mass is
    dropped, never redistributed), and the in-degree column (computed
    via aggregateMessages) totals exactly |E|."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY, graphq

    df = REGISTRY["g15_parallel_personalized_pagerank"].fn(spark, sf_dir).toPandas()
    assert len(df) == 25
    assert list(df.columns) == ["nation", "ppr_0", "ppr_1", "ppr_2", "in_deg"]
    _, edges = graphq._top3_trade_graph(spark, sf_dir)
    nation = {
        r["id"]: r["name"]
        for r in graphq._top3_trade_graph(spark, sf_dir)[0].collect()
    }
    by_nation = df.set_index("nation")
    for j, src in enumerate(graphq._G15_SOURCES):
        col = f"ppr_{j}"
        assert by_nation.loc[nation[src], col] >= 0.15 - 1e-9
        # ranks are presented rounded to 6dp: 25 values can each carry
        # up to 5e-7 of rounding, so the mass bound gets that allowance
        assert (df[col] >= 0).all() and df[col].sum() <= 1.0 + 25 * 5e-7
    assert int(df["in_deg"].sum()) == edges.count()


def _result_rdd_id(df) -> int:
    plan = df._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() != "LogicalRDD":
        plan = plan.child()
    return plan.rdd().id()


def test_pagerank_modes_leave_only_their_result_persisted(spark):
    """Every PageRank mode releases its edge+normalizer frame and each
    superseded rank checkpoint: a call adds exactly one persisted RDD,
    the result's own checkpoint, which keeps reading the same rows."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        pagerank_parallel_personalized,
        pagerank_personalized,
        pagerank_tol,
        pagerank_weighted,
    )

    sc = spark.sparkContext._jsc.sc()
    vertices = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (1, 4, 1), (4, 5, 1)],
        "src long, dst long, weight long",
    )
    runs = {
        "pagerank": lambda: pagerank(vertices, edges, max_iter=3),
        "weighted": lambda: pagerank_weighted(vertices, edges, max_iter=3),
        "personalized": lambda: pagerank_personalized(vertices, edges, 1, max_iter=3),
        "parallel": lambda: pagerank_parallel_personalized(
            vertices, edges, [1, 4], max_iter=3
        ),
        "tol": lambda: pagerank_tol(vertices, edges, tol=1e-9, max_iter_cap=2)[0],
    }
    for name, run in runs.items():
        before = {i.id() for i in sc.getRDDStorageInfo()}
        result = run()
        left = {i.id() for i in sc.getRDDStorageInfo()} - before
        assert left == {_result_rdd_id(result)}, (name, left)
        rows = sorted(result.collect())
        assert len(rows) == 5 and rows == sorted(result.collect()), name


def test_g06_leaves_only_its_result_persisted(spark, sf_dir):
    """g06 checkpoints its input edges and vertices for the kernel and
    releases both once the kernel's own final checkpoint holds the ranks:
    the entry adds exactly one persisted RDD, which keeps reading the
    same rows."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY

    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    result = REGISTRY["g06_weighted_pagerank_top100"].fn(spark, sf_dir)
    left = {i.id() for i in sc.getRDDStorageInfo()} - before
    assert left == {_result_rdd_id(result)}, left
    rows = result.collect()
    assert rows and rows == result.collect()
