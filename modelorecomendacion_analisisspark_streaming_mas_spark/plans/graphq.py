"""Graph query catalog (G1-G4) over the customer->part bipartite graph.

g02's oracle is the full 10-iteration PageRank UNROLLED into SQL CTEs --
the DataFrame loop and the SQL recurrence compute the identical fixpoint
prefix, so even an iterative graph algorithm gets a hash-level oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph.algorithms import (
    bipartite_graph_encoded,
    connected_components,
    decode_vertex_id,
    in_degrees,
    pagerank,
    pagerank_weighted,
    weighted_bipartite_edges,
)
from ..session import unpersist
from . import memo
from .catalog import register


# The encoded graph is loop-invariant ACROSS the five graph queries that
# share it (g02/g03/g05/g07 iterate on it; g01's degree pass reads it):
# build + localCheckpoint ONCE per (session, sf_dir) and reuse -- the
# fact join + distinct + materialization is ~5s of pure duplication per
# query otherwise.
def _shared_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    return memo.in_session(
        "bipartite_graph",
        spark,
        sf_dir,
        ("lineitem", "orders"),
        lambda: bipartite_graph_encoded(spark, sf_dir),
    )


_EDGES_SQL = """
edges AS (
  SELECT DISTINCT 'c' || o.o_custkey AS src, 'p' || l.l_partkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
)"""


# --------------------------------------------------------------------------
# g01: in-degrees (G2) -- top-100 most-connected parts.
# --------------------------------------------------------------------------


@register(
    "g01_part_in_degrees",
    oracle=f"""
WITH {_EDGES_SQL}
SELECT dst AS id, count(*) AS inDegree
FROM edges GROUP BY dst
ORDER BY inDegree DESC, id
LIMIT 100
""",
)
def g01_part_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    # degrees aggregate on packed-long ids (cheap shuffle), decode to the
    # reference's prefixed strings only for ordering + presentation.
    # Goes through the SHARED materialized graph: alone, a single-pass
    # consumer would skip the checkpoint, but four sibling queries reuse
    # the same frames, so one materialization amortizes across all five.
    _, edges = _shared_graph(spark, sf_dir)
    return (
        in_degrees(edges)
        .select(decode_vertex_id(F.col("id")).alias("id"), "inDegree")
        .orderBy(F.desc("inDegree"), F.asc("id"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# g02: PageRank (G3), reset 0.15, 10 iterations, GraphFrames semantics.
# --------------------------------------------------------------------------


def _pagerank_oracle(iters: int = 10, where: str = "") -> str:
    ctes = [
        _EDGES_SQL.strip(),
        """verts AS (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
)""",
        """deg AS (
  SELECT src, count(*) AS d FROM edges GROUP BY src
)""",
        """e AS (
  SELECT edges.src, edges.dst, deg.d FROM edges JOIN deg ON edges.src = deg.src
)""",
        "r0 AS (\n  SELECT id, 1.0 AS rank FROM verts\n)",
    ]
    for n in range(1, iters + 1):
        ctes.append(
            f"""r{n} AS (
  SELECT v.id, 0.15 + 0.85 * COALESCE(s.contrib, 0.0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst, sum(r.rank / e.d) AS contrib
    FROM e JOIN r{n - 1} r ON e.src = r.id GROUP BY e.dst
  ) s ON v.id = s.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, round(rank, 6) AS pagerank
FROM r{iters}
{where}
ORDER BY rank DESC, id
LIMIT 100
"""
    )


@register("g02_pagerank_top100", oracle=_pagerank_oracle(10))
def g02_pagerank_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    vertices, edges = _shared_graph(spark, sf_dir)
    return _top100(pagerank(vertices, edges, reset_prob=0.15, max_iter=10))


def _top100(pr: DataFrame) -> DataFrame:
    """The top 100 of an (id, pagerank) frame over packed-long ids, as the
    unrolled-SQL oracles present them: the rounds iterate on packed longs,
    and the decode happens once, before the (rank, string-id) tie-break
    ordering the oracle pins."""
    return (
        pr.select(decode_vertex_id(F.col("id")).alias("id"), "pagerank")
        .orderBy(F.desc("pagerank"), F.asc("id"))
        .limit(100)
        .select("id", F.round("pagerank", 6).alias("pagerank"))
    )


# --------------------------------------------------------------------------
# g03: connected components (G4) -- component-size histogram (the
# reference's cells 16-17 shape). The histogram is invariant to label
# choice, so the oracle does not need Spark's packed-long labels: it
# unrolls min-label propagation WITH pointer jumping (label <- label of
# label) into SQL CTEs, the same O(log diameter) recurrence the DataFrame
# loop runs (graph/algorithms.py connected_components). `rounds` is a
# hard upper bound on the rounds either engine needs at any test SF;
# tests/test_graph.py pins oracle==Spark equality and the Spark side
# raises on non-convergence, so a diameter blow-up cannot silently
# diverge the two.
# --------------------------------------------------------------------------


def _cc_oracle(rounds: int = 12) -> str:
    # Every CTE below is referenced more than once per round; DuckDB
    # inlines plain CTEs, which would re-execute each level's predecessor
    # twice -- exponential in `rounds`. MATERIALIZED pins one execution
    # per level (the oracle is then linear in rounds, like the engine).
    ctes = [
        _EDGES_SQL.strip(),
        """sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
)""",
        """verts AS (
  SELECT DISTINCT src AS id FROM sym
)""",
        "l0 AS MATERIALIZED (\n  SELECT id, id AS lab FROM verts\n)",
    ]
    for n in range(1, rounds + 1):
        ctes.append(
            f"""p{n} AS MATERIALIZED (
  SELECT v.id, least(v.lab, COALESCE(m.mn, v.lab)) AS lab
  FROM l{n - 1} v LEFT JOIN (
    SELECT s.dst AS id, min(r.lab) AS mn
    FROM sym s JOIN l{n - 1} r ON s.src = r.id GROUP BY s.dst
  ) m ON v.id = m.id
)"""
        )
        # Pointer jump: labels are vertex ids, so re-resolve through the
        # freshly propagated table (path halving).
        ctes.append(
            f"""l{n} AS MATERIALIZED (
  SELECT a.id, b.lab FROM p{n} a JOIN p{n} b ON a.lab = b.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT size, count(*) AS n_components FROM (
  SELECT lab, count(*) AS size FROM l{rounds} GROUP BY lab
) GROUP BY size ORDER BY size
"""
    )


@register("g03_component_histogram", oracle=_cc_oracle(12))
def g03_component_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # component labels never leave the query (histogram of sizes), so the
    # packed-long graph needs no decode at all
    vertices, edges = _shared_graph(spark, sf_dir)
    cc = connected_components(vertices, edges)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.groupBy("size").agg(F.count(F.lit(1)).alias("n_components")).orderBy("size")


# --------------------------------------------------------------------------
# g04: per-nation triangle counts over the nation-trade graph (nations
# linked when a customer of one buys from a supplier of the other).
# Exercises triangle_count's degree-ordered wedge enumeration (see
# graph/algorithms.py for the scale rationale); the oracle enumerates
# canonical x<y<z triangles directly.
# --------------------------------------------------------------------------


@register(
    "g04_trade_triangles",
    oracle="""
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey != s.s_nationkey
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT v, count(*) AS n_triangles FROM (
  SELECT x AS v FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY v
""",
)
def g04_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.algorithms import triangle_count
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst")
        )
    )
    return triangle_count(edges)


# --------------------------------------------------------------------------
# g05: multi-source BFS hop-distance histogram -- "how far is every
# vertex from the nearest seed customer" (seeds: c_custkey % 100 == 0,
# i.e. packed id % 200 == 0). The engine runs frontier message-passing
# (per-round work = frontier edges, early exit on empty frontier); the
# oracle unrolls the equivalent Bellman-Ford recurrence into 6
# MATERIALIZED CTE levels, the g02/g03 technique. After round n both
# assign level(v) = dist(v) iff dist(v) <= n, so the histograms match
# bit-for-bit; unreached vertices report level -1.
# --------------------------------------------------------------------------

_G05_ROUNDS = 6


def _bfs_oracle(rounds: int = _G05_ROUNDS) -> str:
    ctes = [
        _EDGES_SQL.strip(),
        """sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
)""",
        """verts AS (
  SELECT DISTINCT src AS id FROM sym
)""",
        """l0 AS MATERIALIZED (
  SELECT id, CASE WHEN id LIKE 'c%' AND CAST(substr(id, 2) AS BIGINT) % 100 = 0
                  THEN 0 END AS lev
  FROM verts
)""",
    ]
    for n in range(1, rounds + 1):
        ctes.append(
            f"""l{n} AS MATERIALIZED (
  SELECT v.id, least(v.lev, m.mn + 1) AS lev
  FROM l{n - 1} v LEFT JOIN (
    SELECT s.dst AS id, min(r.lev) AS mn
    FROM sym s JOIN l{n - 1} r ON s.src = r.id
    WHERE r.lev IS NOT NULL GROUP BY s.dst
  ) m ON v.id = m.id
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(coalesce(lev, -1) AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_vertices
FROM l{rounds} GROUP BY 1
"""
    )


@register(
    "g05_bfs_level_histogram",
    oracle=_bfs_oracle(),
    doc="Multi-source BFS (6 rounds) hop-distance histogram from seed "
    "customers; frontier message-passing engine vs unrolled Bellman-Ford "
    "oracle; unreached = -1.",
)
def g05_bfs_level_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.algorithms import bfs_levels

    vertices, edges = _shared_graph(spark, sf_dir)
    seeds = vertices.filter(F.col("id") % 200 == 0).select("id")
    dist = bfs_levels(vertices, edges, seeds, max_iter=_G05_ROUNDS)
    return dist.groupBy(
        F.coalesce(F.col("level"), F.lit(-1)).cast("long").alias("level")
    ).agg(F.count(F.lit(1)).alias("n_vertices"))


# --------------------------------------------------------------------------
# g06: WEIGHTED PageRank -- the semantic nuance the reference leaves on
# the table: its edges carry rating weights
# (GraphFrames_prueba/Explorativa3.ipynb:94-102) but GraphFrames pageRank
# ignores them. Here the edge weight is the (customer, part) purchase
# multiplicity and u's contribution to v is rank(u) * w(u,v) / sum_x
# w(u,x); with all-equal weights this degenerates to g02 exactly. Oracle:
# the same unrolled-CTE technique as g02, with the weighted recurrence.
# --------------------------------------------------------------------------

_W_EDGES_SQL = """
edges AS (
  SELECT 'c' || o.o_custkey AS src, 'p' || l.l_partkey AS dst,
         count(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
  GROUP BY 1, 2
)"""


def _weighted_pagerank_oracle(iters: int = 10) -> str:
    ctes = [
        _W_EDGES_SQL.strip(),
        """verts AS (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
)""",
        """ws AS (
  SELECT src, sum(w) AS wsum FROM edges GROUP BY src
)""",
        """e AS (
  SELECT edges.src, edges.dst, edges.w, ws.wsum
  FROM edges JOIN ws ON edges.src = ws.src
)""",
        "r0 AS (\n  SELECT id, 1.0 AS rank FROM verts\n)",
    ]
    for n in range(1, iters + 1):
        ctes.append(
            f"""r{n} AS (
  SELECT v.id, 0.15 + 0.85 * COALESCE(s.contrib, 0.0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst, sum(r.rank * e.w / e.wsum) AS contrib
    FROM e JOIN r{n - 1} r ON e.src = r.id GROUP BY e.dst
  ) s ON v.id = s.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT id, round(rank, 6) AS pagerank
FROM r{iters}
ORDER BY rank DESC, id
LIMIT 100
"""
    )


@register(
    "g06_weighted_pagerank_top100",
    oracle=_weighted_pagerank_oracle(10),
    doc="Weighted PageRank (contrib = rank*w/sum w), 10 iterations, edge "
    "weight = purchase multiplicity; unrolled-CTE oracle like g02.",
)
def g06_weighted_pagerank_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = weighted_bipartite_edges(spark, sf_dir).localCheckpoint(eager=True)
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pr = pagerank_weighted(vertices, edges, reset_prob=0.15, max_iter=10)
    # the result is the kernel's own final checkpoint: it no longer reads
    # the inputs, so their blocks go now rather than at the next JVM GC
    unpersist(edges)
    unpersist(vertices)
    return _top100(pr)


# --------------------------------------------------------------------------
# g07: k-CORE decomposition (k=20: a real 3-5-round cascade to a
# NON-degenerate core at every test SF -- k=16 peels almost nothing,
# k=24 collapses to empty) -- iterative peeling: delete every
# vertex whose degree in the REMAINING subgraph is < k, until stable.
# The densest-backbone extractor (spam/bot rings, co-purchase cores) the
# degree query (g01) cannot express. Both sides peel SIMULTANEOUSLY per
# round (degrees computed on the round's edge set, then both filters
# applied), which is exactly the recurrence the oracle unrolls -- so
# even if convergence needed more rounds, the two engines agree on the
# identical prefix. 8 rounds converges at every test SF (asserted by
# the fixpoint check in tests).
# --------------------------------------------------------------------------

_G07_K = 20
_G07_ROUNDS = 8


def _kcore_oracle(k: int = _G07_K, rounds: int = _G07_ROUNDS) -> str:
    ctes = [_EDGES_SQL.strip().replace("edges AS", "e0 AS MATERIALIZED")]
    for i in range(rounds):
        ctes.append(
            f"""ks{i} AS (
  SELECT src FROM e{i} GROUP BY src HAVING count(*) >= {k}
)"""
        )
        ctes.append(
            f"""kd{i} AS (
  SELECT dst FROM e{i} GROUP BY dst HAVING count(*) >= {k}
)"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i} e
  JOIN ks{i} USING (src) JOIN kd{i} USING (dst)
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_customers,
       CAST(count(DISTINCT dst) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_edges
FROM e{rounds}
"""
    )


@register(
    "g07_kcore_summary",
    oracle=_kcore_oracle(),
    doc="20-core of the bipartite purchase graph via simultaneous "
    "iterative peeling (8 rounds, converged at test SFs); unrolled-SQL "
    "oracle like g02/g03; surviving vertex/edge counts.",
)
def g07_kcore_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.algorithms import BROADCAST_VERTEX_LIMIT, _maybe_broadcast

    from pyspark.sql import Window

    _, edges = _shared_graph(spark, sf_dir)
    prev_n = edges.count()  # edges already materialized
    small = prev_n < BROADCAST_VERTEX_LIMIT
    e = edges
    for _ in range(_G07_ROUNDS):
        if small:
            # one materialization job per round (two shuffles inside):
            # both degree windows computed on the SAME round's edge set,
            # then filtered -- identical simultaneous semantics, but no
            # per-round broadcast builds (the groupBy+semi-join variant
            # ran ~4 jobs/round and measured 36s at sf0.1; this is ~9s).
            e = (
                e.withColumn(
                    "ds", F.count(F.lit(1)).over(Window.partitionBy("src"))
                )
                .withColumn(
                    "dd", F.count(F.lit(1)).over(Window.partitionBy("dst"))
                )
                .filter((F.col("ds") >= _G07_K) & (F.col("dd") >= _G07_K))
                .drop("ds", "dd")
                .localCheckpoint(eager=True)
            )
        else:
            # big-graph path: per-key windows put a mega-degree vertex's
            # whole edge list in one partition (no partial aggregation),
            # so above the counted limit peel via groupBy (map-side
            # combine) + semi-joins instead
            keep_src = (
                e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _G07_K).select("src")
            )
            keep_dst = (
                e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _G07_K).select("dst")
            )
            e = (
                e.join(keep_src, "src", "left_semi")
                .join(keep_dst, "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        # the count doubles as the FIXPOINT probe: peeling only ever
        # removes edges, so an unchanged count means the remaining
        # oracle rounds are identity and early exit is sound
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    return e.agg(
        F.countDistinct("src").alias("n_customers"),
        F.countDistinct("dst").alias("n_parts"),
        F.count(F.lit(1)).alias("n_edges"),
    )


# --------------------------------------------------------------------------
# g08: local clustering coefficient -- lcc(v) = 2*tri(v) / (deg(v) *
# (deg(v)-1)) over the undirected nation trade graph (g04's edges). The
# triangle side reuses the degree-ordered wedge join (degeneracy-bounded
# fan-out); degrees are one partial agg; the division is exact-int-
# derived, rounded at 6dp identically in the oracle.
# --------------------------------------------------------------------------

_G08_ORACLE = """
WITH und AS (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey != s.s_nationkey
), deg AS (
  SELECT v, count(*) AS deg FROM (
    SELECT a AS v FROM und UNION ALL SELECT b FROM und
  ) GROUP BY v
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), tric AS (
  SELECT v, count(*) AS n_triangles FROM (
    SELECT x AS v FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY v
)
SELECT d.v, CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.deg >= 2
                  THEN 2.0 * coalesce(t.n_triangles, 0) / (d.deg * (d.deg - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM deg d LEFT JOIN tric t USING (v)
ORDER BY d.v
"""


@register(
    "g08_clustering_coefficient",
    oracle=_G08_ORACLE,
    doc="Local clustering coefficient per vertex of the nation trade "
    "graph: degree-ordered triangle counts (g04 engine) + degree agg, "
    "lcc = 2*tri/(deg*(deg-1)).",
)
def g08_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.algorithms import triangle_count
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
    )
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_count(edges)
    lcc = F.when(
        F.col("deg") >= 2,
        F.round(
            2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1)),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        deg.join(tri, "v", "left")
        .select(
            "v",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            lcc.alias("lcc"),
        )
        .orderBy("v")
    )


# --------------------------------------------------------------------------
# g09: label propagation (community detection) -- the last GraphFrames
# surface the catalog lacked (pageRank g02/g06, connectedComponents g03,
# triangleCount g04/g08, bfs g05, degrees g01 already have twins).
# Synchronous LPA over the undirected nation trade graph: every vertex
# starts as its own label; each round it adopts the most frequent label
# among its neighbors (count DESC, label ASC tie-break -- GraphFrames
# breaks ties by hash partition order, which is nondeterministic; the
# pinned tie-break is what makes an exact oracle possible). 4 unrolled
# rounds. Integer-only arithmetic: zero float surface. At scale each
# round is ONE shuffle of (vertex, label) keyed by vertex -- the edge
# table is built once from the facts and reused (localCheckpoint), and
# label frames are vertex-sized, not edge-sized.
# --------------------------------------------------------------------------

_G09_ROUNDS = 4

# AS MATERIALIZED on und and each l{r} is load-bearing, not a style nit:
# each nb{r} references both und AND l{r-1} twice (the two UNION arms),
# so an inlining planner re-executes the whole upstream lineage 2x per
# round -- 2^ROUNDS copies of the 4-table und join. At sf0.1 that
# exhausted 80 GB of DuckDB spill; materialized, the oracle is linear
# in ROUNDS and runs in seconds (the g13 lesson, SCALING.md r8).
_G09_UND_SQL = """
und AS MATERIALIZED (
  SELECT DISTINCT least(c.c_nationkey, s.s_nationkey) AS a,
                  greatest(c.c_nationkey, s.s_nationkey) AS b
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey != s.s_nationkey
)"""


def _g09_round_sql(r: int) -> str:
    return f"""
nb{r} AS (
  SELECT e.a AS v, l.lab FROM und e JOIN l{r-1} l ON l.v = e.b
  UNION ALL
  SELECT e.b AS v, l.lab FROM und e JOIN l{r-1} l ON l.v = e.a
),
c{r} AS (SELECT v, lab, count(*) AS n FROM nb{r} GROUP BY v, lab),
l{r} AS MATERIALIZED (
  SELECT v, lab FROM (
    SELECT v, lab, row_number() OVER (PARTITION BY v ORDER BY n DESC, lab) AS rn
    FROM c{r}
  ) WHERE rn = 1
)"""


def _g09_oracle() -> str:
    rounds = ",".join(_g09_round_sql(r) for r in range(1, _G09_ROUNDS + 1))
    return f"""
WITH {_G09_UND_SQL},
verts AS (SELECT a AS v FROM und UNION SELECT b FROM und),
l0 AS (SELECT v, v AS lab FROM verts),{rounds}
SELECT CAST(v AS BIGINT) AS v, CAST(lab AS BIGINT) AS community
FROM l{_G09_ROUNDS}
"""


@register(
    "g09_label_propagation",
    oracle=_g09_oracle(),
    doc="Synchronous label propagation (4 rounds) over the undirected "
    "nation trade graph with a pinned deterministic tie-break "
    "(count DESC, label ASC); integer-exact unrolled-CTE oracle. "
    "Each round shuffles vertex-sized label frames only.",
)
def g09_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    und = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select(
            F.least(cust.c_nationkey, supp.s_nationkey).alias("a"),
            F.greatest(cust.c_nationkey, supp.s_nationkey).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # the fact join runs ONCE: only the symmetrized frame below is
        # checkpointed (und feeds it exactly once)
    )
    # symmetrize ONCE so each round is a single labels join keyed on src
    # (two joins per round would double the per-round shuffle work)
    sym = und.select(F.col("a").alias("dst"), F.col("b").alias("src")).unionAll(
        und.select(F.col("b").alias("dst"), F.col("a").alias("src"))
    ).localCheckpoint(eager=True)
    verts = sym.select(F.col("dst").alias("v")).distinct()
    labels = verts.select("v", F.col("v").alias("lab"))
    vw = W.partitionBy("v").orderBy(F.desc("n"), F.asc("lab"))
    for _ in range(_G09_ROUNDS):
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
    return labels.select(
        F.col("v").cast("long").alias("v"),
        F.col("lab").cast("long").alias("community"),
    )


# --------------------------------------------------------------------------
# g10: the GraphFrames NOTEBOOK PIPELINE through the drop-in adapter --
# the reference's Explorativa3.ipynb cell-12 shape (GraphFrame(v, e) with
# a 'tipo' vertex attribute, .pageRank(resetProbability=0.15, maxIter=N),
# filter one vertex class, order by pagerank) ported verbatim onto the
# TPC-H bipartite graph, driver-certified against the same unrolled-CTE
# oracle family as g02. 4 iterations (not the notebook's 10) keep the
# bench cost of this ADAPTER-PATH certification low; the adapter forwards
# to the identical pagerank() loop g02 already certifies at 10.
# --------------------------------------------------------------------------

_G10_ITERS = 4


@register(
    "g10_graphframe_notebook_port",
    oracle=_pagerank_oracle(_G10_ITERS, where="WHERE id LIKE 'p%'"),
    doc="GraphFrame adapter port of the reference notebook's pageRank "
    "pipeline (GraphFrames_prueba/Explorativa3.ipynb cell 12): vertices "
    "with a tipo attribute, pageRank through the adapter, part-class "
    "top-100; oracle = unrolled PageRank CTEs filtered to parts.",
)
def g10_graphframe_notebook_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.graphframe import GraphFrame

    vertices, edges = _shared_graph(spark, sf_dir)
    # packed-long encoding: even = customer, odd = part (bipartite_graph_encoded)
    v = vertices.withColumn(
        "tipo", F.when(F.col("id") % 2 == 0, "customer").otherwise("part")
    )
    g = GraphFrame(v, edges)
    pr = g.pageRank(resetProbability=0.15, maxIter=_G10_ITERS)
    return _top100(pr.vertices.filter("tipo = 'part'"))


# --------------------------------------------------------------------------
# g11: MOTIF FINDING through the GraphFrame adapter (the last drop-in
# library surface: graphframes' find() DSL, which the reference could call
# on the Explorativa3.ipynb graph object). Pattern
# "(a)-[e1]->(b); (b)-[e2]->(c); !(c)-[]->(a)" over the DIRECTED nation
# trade graph (nation X buys from nation Y), + a.id != c.id struct-field
# filter: OPEN directed trade wedges -- a buys via b from c but never
# directly from c. The adapter compiles the motif to equi-joins + one left
# anti join; the oracle unrolls the identical composition into SQL joins
# (the g02/g05 technique). Output: open-wedge count per origin nation.
# --------------------------------------------------------------------------

_G11_EDGES_SQL = """
pairs AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS n
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey  = c.c_custkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
  WHERE c.c_nationkey != s.s_nationkey
  GROUP BY c.c_nationkey, s.s_nationkey
),
ed AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY n DESC, dst) AS rn
    FROM pairs
  ) WHERE rn <= 3
)"""


# g11/g12/g13/g14/g15 all derive from the SAME top-3 trade graph: build
# the 4-table join + window ONCE per (session, sf_dir) and localCheckpoint
# the two tiny frames (25 vertices / <=75 edges), which saves ~2s of
# duplicated fact-join work per entry.
def _top3_trade_graph(spark: SparkSession, sf_dir: str):
    return memo.in_session(
        "trade_graph",
        spark,
        sf_dir,
        ("lineitem", "orders", "customer", "supplier", "nation"),
        lambda: _build_top3_trade_graph(spark, sf_dir),
    )


def _build_top3_trade_graph(spark: SparkSession, sf_dir: str):
    """Shared sparse nation trade graph for the adapter-surface entries
    (g11 motif, g12 personalized PageRank, g13 bfs, g14 SCC, g15
    parallel personalized PageRank): each nation keeps its 3
    highest-volume supplier nations. Deterministic (integer lineitem
    counts, dst tie-break) and sparse BY CONSTRUCTION at every scale --
    the raw distinct-pair graph saturates to near-complete past sf0.01,
    which would make every wedge closed / every vertex one hop away.
    Returns (vertices(id, name), edges(src, dst)), both materialized."""
    from pyspark.sql import Window

    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey != supp.s_nationkey)
        .groupBy(cust.c_nationkey.alias("src"), supp.s_nationkey.alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w3 = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    edges = (
        pairs.withColumn("rn", F.row_number().over(w3))
        .filter(F.col("rn") <= 3)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    # one row per vertex IDENTITY: duplicate nation rows (the r13 dupx
    # variant) would otherwise multiply every vertex join -- motif counts,
    # PR contributions, name joins -- by the copy count
    v = (
        nation.select(
            F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
        )
        .dropDuplicates(["id"])
        .localCheckpoint(eager=True)
    )
    return v, edges


@register(
    "g11_motif_open_trade_wedges",
    oracle=f"""
WITH {_G11_EDGES_SQL},
wedge AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM ed e1 JOIN ed e2 ON e2.src = e1.dst
  WHERE e2.dst != e1.src
), open_wedge AS (
  SELECT w.a, w.b, w.c FROM wedge w
  ANTI JOIN ed ON ed.src = w.c AND ed.dst = w.a
)
SELECT n.n_name AS nation, count(*) AS n_open_wedges
FROM open_wedge w JOIN (SELECT DISTINCT n_nationkey, n_name FROM nation) n ON w.a = n.n_nationkey
GROUP BY n.n_name
ORDER BY n_open_wedges DESC, nation
""",
    doc="GraphFrames motif find() through the drop-in adapter: "
    "'(a)-[e1]->(b); (b)-[e2]->(c); !(c)-[]->(a)' + a!=c filter over the "
    "top-3-partner nation trade graph (each nation keeps its 3 "
    "highest-volume supplier nations -- integer counts, dst tie-break, "
    "so the graph is sparse BY CONSTRUCTION at every scale and the "
    "negation is non-trivial); per-origin open-wedge counts. Oracle "
    "unrolls the motif into the identical join+anti-join composition.",
)
def g11_motif_open_trade_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.graphframe import GraphFrame

    v, edges = _top3_trade_graph(spark, sf_dir)
    g = GraphFrame(v, edges)
    wedges = g.find("(a)-[e1]->(b); (b)-[e2]->(c); !(c)-[]->(a)").filter(
        F.col("a.id") != F.col("c.id")
    )
    return (
        wedges.groupBy(F.col("a.name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_open_wedges"))
        .orderBy(F.desc("n_open_wedges"), F.asc("nation"))
    )


# --------------------------------------------------------------------------
# g12: PERSONALIZED PageRank through the adapter (pageRank(sourceId=...),
# the GraphX teleport-to-source mode the adapter used to refuse): reset
# mass teleports only to nation 0, rank_0 is the source indicator, 10
# iterations over the shared top-3 trade graph. The oracle unrolls the
# personalized recurrence exactly like g02's static one; e-notation
# double literals keep DuckDB out of DECIMAL arithmetic.
# --------------------------------------------------------------------------

_G12_ITERS = 10


def _g12_oracle(iters: int = _G12_ITERS) -> str:
    ind = "(CASE WHEN v.id = 0 THEN 1e0 ELSE 0e0 END)"
    ctes = [
        _G11_EDGES_SQL.strip(),
        "verts AS (SELECT DISTINCT n_nationkey AS id FROM nation)",
        "deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src)",
        "e AS (SELECT ed.src, ed.dst, deg.d FROM ed JOIN deg ON ed.src = deg.src)",
        "r0 AS (SELECT id, CASE WHEN id = 0 THEN 1e0 ELSE 0e0 END AS rank FROM verts)",
    ]
    for n in range(1, iters + 1):
        ctes.append(
            f"""r{n} AS (
  SELECT v.id, 1.5e-1 * {ind} + 8.5e-1 * COALESCE(s.contrib, 0e0) AS rank
  FROM verts v LEFT JOIN (
    SELECT e.dst, sum(r.rank / e.d) AS contrib
    FROM e JOIN r{n - 1} r ON e.src = r.id GROUP BY e.dst
  ) s ON v.id = s.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.n_name AS nation, round(r.rank, 6) AS pagerank
FROM r{iters} r JOIN (SELECT DISTINCT n_nationkey, n_name FROM nation) n ON r.id = n.n_nationkey
ORDER BY r.rank DESC, nation
"""
    )


@register(
    "g12_personalized_pagerank",
    oracle=_g12_oracle(),
    doc="Personalized PageRank through the GraphFrame adapter "
    "(pageRank(sourceId=0), GraphX teleport-to-source semantics, 10 "
    "iterations) over the top-3-partner nation trade graph; oracle "
    "unrolls the personalized recurrence into CTEs (the g02 technique).",
)
def g12_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.graphframe import GraphFrame

    v, edges = _top3_trade_graph(spark, sf_dir)
    g = GraphFrame(v, edges)
    pr = g.pageRank(resetProbability=0.15, maxIter=_G12_ITERS, sourceId=0)
    return (
        pr.vertices.select("name", "pagerank")
        .orderBy(F.desc("pagerank"), F.asc("name"))
        .select(F.col("name").alias("nation"), F.round("pagerank", 6).alias("pagerank"))
    )


# --------------------------------------------------------------------------
# g13: path-materializing BFS through the adapter (bfs(fromExpr, toExpr),
# the other formerly-refused library surface): SHORTEST paths from nation
# 0 to its NEAREST INDIRECT trade partners -- any nation that is neither
# the source nor one of its direct top-3 supplier nations -- over the
# shared top-3 trade graph, stopping at the first level that reaches a
# target (farther targets excluded -- library semantics). Excluding the
# direct successors from the target set forces path_len >= 2 BY
# CONSTRUCTION (level-1 vertices are exactly the excluded hop-1 set), so
# the entry is non-empty whenever the BFS reaches anything past level 1
# -- true at every shipped scale, unlike the earlier "id >= 20" target
# that was empty at sf0.01 and single-hop elsewhere (vacuous driver
# certificate, r8 VERDICT). The entry aggregates the materialized path
# rows to (target, shortest length, number of shortest paths); the
# oracle replays the level-synchronous expansion as per-level walk-count
# DP CTEs and picks the minimum reaching level (a minimal-length walk is
# necessarily simple, so walk counts at the stopping level equal
# materialized shortest-path counts) -- all-integer, no float surface.
# --------------------------------------------------------------------------

_G13_MAX_LEN = 10


def _g13_oracle(max_len: int = _G13_MAX_LEN) -> str:
    ctes = [
        _G11_EDGES_SQL.strip(),
        "w1 AS (SELECT dst AS v, CAST(1 AS BIGINT) AS n FROM ed WHERE src = 0)",
    ]
    for k in range(2, max_len + 1):
        ctes.append(
            f"""w{k} AS (
  SELECT e.dst AS v, CAST(sum(w.n) AS BIGINT) AS n
  FROM w{k - 1} w JOIN ed e ON e.src = w.v GROUP BY e.dst
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT v, {k} AS k, n FROM w{k}" for k in range(1, max_len + 1)
    )
    ctes.append(f"allw AS (\n{unions}\n)")
    ctes.append(
        "hits AS (SELECT * FROM allw WHERE v != 0 "
        "AND v NOT IN (SELECT dst FROM ed WHERE src = 0))"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT v AS to_id, CAST(k AS INT) AS path_len, n AS n_paths
FROM hits WHERE k = (SELECT min(k) FROM hits)
ORDER BY to_id
"""
    )


@register(
    "g13_bfs_trade_paths",
    oracle=_g13_oracle(),
    doc="Path-materializing bfs through the GraphFrame adapter "
    "(bfs('id = 0', 'id != 0 AND NOT hop1')) over the top-3-partner "
    "nation trade graph, targets = nearest INDIRECT trade partners (the "
    "hop1 vertex attribute marks nation 0's direct successors, so every "
    "shortest path has length >= 2 by construction): per reached "
    "target, the shortest path length and the count of materialized "
    "shortest-path rows; oracle replays the expansion as integer "
    "walk-count DP CTEs stopped at the minimum reaching level.",
)
def g13_bfs_trade_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.graphframe import GraphFrame

    v, edges = _top3_trade_graph(spark, sf_dir)
    hop1 = (
        edges.filter(F.col("src") == 0)
        .select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("hop1", F.lit(True))
    )
    v2 = v.join(F.broadcast(hop1), "id", "left").withColumn(
        "hop1", F.coalesce("hop1", F.lit(False))
    )
    g = GraphFrame(v2, edges)
    paths = g.bfs("id = 0", "id != 0 AND NOT hop1", maxPathLength=_G13_MAX_LEN)
    # columns are from, e0, v1, ..., e_{L-1}, to -> L = (#cols - 1) // 2
    path_len = (len(paths.columns) - 1) // 2
    return (
        paths.groupBy(F.col("to.id").alias("to_id"))
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .withColumn("path_len", F.lit(path_len).cast("int"))
        .select("to_id", "path_len", "n_paths")
        .orderBy("to_id")
    )


# --------------------------------------------------------------------------
# g14: strongly connected components through the adapter
# (stronglyConnectedComponents(maxIter), the last algorithm on the
# library surface without a catalog certificate): per-nation SCC id over
# the shared top-3 trade graph -- one multi-nation trading bloc plus
# singleton nations at every shipped scale, so the certificate is never
# empty or all-trivial. Spark side is the distributed trim + forward-
# coloring + backward-confinement peeling (graph/graphframe.py, pinned
# against Tarjan on random digraphs in tests); the oracle computes the
# 25-vertex transitive closure with a recursive CTE and labels each
# vertex with the smallest mutually-reachable id -- all-integer.
# --------------------------------------------------------------------------


@register(
    "g14_scc_trade_components",
    oracle=f"""
WITH RECURSIVE {_G11_EDGES_SQL},
reach(s, d) AS (
  SELECT src, dst FROM ed
  UNION
  SELECT r.s, e.dst FROM reach r JOIN ed e ON e.src = r.d
),
mutual AS (
  SELECT r1.s AS v, min(r1.d) AS mn
  FROM reach r1 JOIN reach r2 ON r1.s = r2.d AND r1.d = r2.s
  GROUP BY r1.s
)
SELECT n.n_name AS nation,
       CAST(least(n.n_nationkey, coalesce(m.mn, n.n_nationkey)) AS INT) AS component
FROM (SELECT DISTINCT n_nationkey, n_name FROM nation) n LEFT JOIN mutual m ON m.v = n.n_nationkey
ORDER BY nation
""",
    doc="GraphFrames stronglyConnectedComponents through the drop-in "
    "adapter over the top-3-partner nation trade graph: per-nation SCC "
    "id (smallest member), one multi-nation trading bloc + singletons "
    "at every scale; oracle = recursive-CTE transitive closure with "
    "min mutually-reachable id.",
)
def g14_scc_trade_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..graph.graphframe import GraphFrame

    v, edges = _top3_trade_graph(spark, sf_dir)
    scc = GraphFrame(v, edges).stronglyConnectedComponents(maxIter=10)
    return scc.select(
        F.col("name").alias("nation"), F.col("component").cast("int").alias("component")
    ).orderBy("nation")


# --------------------------------------------------------------------------
# g15: PARALLEL personalized PageRank through the adapter
# (parallelPersonalizedPageRank(sourceIds=[0,1,2], maxIter=10) -- one
# edge join + one aggregate per round for ALL k sources, vertices carry
# a `pageranks` ml DenseVector in sourceIds order) over the shared top-3
# trade graph, plus the vertex in-degree computed with aggregateMessages
# (sendToDst=1, sum -- which exercises the triplets join the adapter
# compiles messages from). Closes the adapter certificate matrix: every
# adapter algorithm now has a driver-checked catalog entry (pageRank
# g02/g06/g12, CC g03, SCC g14, triangles g04/g08, bfs g05/g13, LPA g09,
# motifs g11, parallelPersonalizedPageRank + aggregateMessages +
# triplets here). Oracle: one CTE chain carrying k=3 rank columns
# (exactly the Spark shape) in the g12 dyadic-literal regime; in-degree
# is an exact integer count.
# --------------------------------------------------------------------------

_G15_SOURCES = [0, 1, 2]
_G15_ITERS = 10


def _g15_oracle(iters: int = _G15_ITERS) -> str:
    inds = [
        f"(CASE WHEN v.id = {s} THEN 1e0 ELSE 0e0 END)" for s in _G15_SOURCES
    ]
    k = len(_G15_SOURCES)
    r0 = ", ".join(
        f"CASE WHEN id = {s} THEN 1e0 ELSE 0e0 END AS k{j}"
        for j, s in enumerate(_G15_SOURCES)
    )
    ctes = [
        _G11_EDGES_SQL.strip(),
        "verts AS (SELECT DISTINCT n_nationkey AS id FROM nation)",
        "deg AS (SELECT src, count(*) AS d FROM ed GROUP BY src)",
        "e AS MATERIALIZED (SELECT ed.src, ed.dst, deg.d FROM ed JOIN deg ON ed.src = deg.src)",
        "indeg AS (SELECT dst AS id, count(*) AS in_deg FROM ed GROUP BY dst)",
        f"r0 AS (SELECT id, {r0} FROM verts)",
    ]
    for n in range(1, iters + 1):
        nxt = ", ".join(
            f"1.5e-1 * {inds[j]} + 8.5e-1 * COALESCE(s.c{j}, 0e0) AS k{j}"
            for j in range(k)
        )
        sums = ", ".join(f"sum(r.k{j} / e.d) AS c{j}" for j in range(k))
        ctes.append(
            f"""r{n} AS (
  SELECT v.id, {nxt}
  FROM verts v LEFT JOIN (
    SELECT e.dst, {sums}
    FROM e JOIN r{n - 1} r ON e.src = r.id GROUP BY e.dst
  ) s ON v.id = s.dst
)"""
        )
    ranks = ", ".join(f"round(r.k{j}, 6) AS ppr_{j}" for j in range(k))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT n.n_name AS nation, {ranks}, COALESCE(i.in_deg, 0) AS in_deg
FROM r{iters} r
JOIN (SELECT DISTINCT n_nationkey, n_name FROM nation) n ON r.id = n.n_nationkey
LEFT JOIN indeg i ON r.id = i.id
ORDER BY nation
"""
    )


@register(
    "g15_parallel_personalized_pagerank",
    oracle=_g15_oracle(),
    doc="parallelPersonalizedPageRank through the GraphFrame adapter "
    "(sourceIds=[0,1,2], maxIter=10, vertices carry a `pageranks` "
    "DenseVector -- expanded to per-source columns) over the "
    "top-3-partner nation trade graph, joined with the in-degree from "
    "aggregateMessages(sendToDst=1, sum) -- the triplets-compiled "
    "message-passing surface. Oracle: one CTE chain with k rank columns "
    "(the g12 recurrence regime) + an exact integer in-degree count.",
)
def g15_parallel_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    from ..graph.graphframe import AM, GraphFrame

    v, edges = _top3_trade_graph(spark, sf_dir)
    res = GraphFrame(v, edges).parallelPersonalizedPageRank(
        resetProbability=0.15, sourceIds=_G15_SOURCES, maxIter=_G15_ITERS
    )
    indeg = res.aggregateMessages(
        F.sum(AM.msg).cast("long").alias("in_deg"), sendToDst=F.lit(1)
    )
    arr = vector_to_array(F.col("pageranks"))
    return (
        res.vertices.join(indeg, "id", "left")
        .select(
            F.col("name").alias("nation"),
            *[
                F.round(arr[j], 6).alias(f"ppr_{j}")
                for j in range(len(_G15_SOURCES))
            ],
            F.coalesce(F.col("in_deg"), F.lit(0).cast("long")).alias("in_deg"),
        )
        .orderBy("nation")
    )
