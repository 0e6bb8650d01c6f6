"""Graph analytics (SURVEY.md section 2.10, G1-G4) -- DataFrame-native.

The reference uses GraphFrames over the bipartite user-movie graph
(GraphFrames_prueba/Explorativa3.ipynb:88-102: vertices = users+movies with
a ``tipo`` tag, edges user->movie weighted by rating; pageRank cell 12, CC
cell 15). The GraphFrames jar is unavailable offline, and -- as SURVEY
section 2.10 notes -- its degree/PR/CC all lower to the same DataFrame
joins/aggregations used here, so this module IS the documented fallback,
with identical semantics:

* degrees == edges.groupBy(dst).count()
* pageRank: iterated sparse matrix-vector product, rank = reset +
  (1-reset) * sum(rank_src/out_deg_src) -- GraphFrames' un-normalized
  formulation (ranks sum to ~|V|), uniform edge weight.
* connectedComponents: min-label propagation with a pointer-jumping
  shortcut each round (label(v) <- label(label(v))), so reach doubles per
  iteration -- O(log diameter) rounds, the property the plain one-hop
  variant lacks. Non-convergence within max_iter warns (or raises).

One deliberate improvement: the reference re-uses raw MovieLens ids as
vertex ids, and userId/filmId RANGES OVERLAP (1..6040 vs 1..3952), silently
merging unrelated user/movie vertices. Vertex ids here are prefixed
('c<custkey>' / 'p<partkey>') so the bipartite sets stay disjoint.

Scale: each PR iteration is one shuffle (join on src + groupBy dst);
lineage is truncated with localCheckpoint every PAGERANK_CHECKPOINT_EVERY
iterations (reliable checkpoint on a cluster), and every PageRank mode
runs the one kernel ``_power_iterate``. CC's shortcut join doubles reach
per step -> O(log(diameter)) rounds.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import unpersist

def bipartite_graph(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """G1: vertices (customers+parts, tagged) and distinct directed edges
    customer->part from the order fact (the ratings-graph analog)."""
    v, e = bipartite_graph_encoded(spark, sf_dir)
    edges = e.select(
        decode_vertex_id(F.col("src")).alias("src"),
        decode_vertex_id(F.col("dst")).alias("dst"),
    )
    vertices = v.select(decode_vertex_id(F.col("id")).alias("id"), "tipo")
    return vertices, edges


def bipartite_graph_encoded(
    spark: SparkSession, sf_dir: str, materialize: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Same graph, vertex ids packed into LONGS: customer c -> 2c,
    part p -> 2p+1 (disjoint by parity, the prefixed-string scheme's
    integer twin). Iterative algorithms shuffle the id columns every
    round -- 8-byte longs hash/compare/serialize several times faster
    than strings, so graph queries iterate on the encoded graph and
    decode only at the presentation edge (``decode_vertex_id``, a pure
    expression -- no join). The orders side of the build join is
    broadcast only below a counted row limit: (o_orderkey, o_custkey)
    is ~16 bytes/row, but orders is itself a fact table (~1.5B rows at
    sf1000), so the hint is gated the same way BROADCAST_VERTEX_LIMIT
    gates the iterative loops -- above the limit the hint is dropped
    and AQE picks the join strategy.

    ``materialize=False`` skips the eager localCheckpoints: correct for
    SINGLE-PASS consumers (a degree count reads edges once and never
    touches vertices -- checkpoint materialization would be pure
    overhead); iterative algorithms must keep the default so every
    round reuses the materialized frames instead of re-running the
    fact join."""
    edges = _purchase_pairs(spark, sf_dir).distinct()
    if materialize:
        # materialize once: vertices derive from edges twice, and every
        # algorithm iteration would otherwise re-run the fact join+distinct
        # (eager localCheckpoint beat .cache() ~3x here -- cache's
        # re-optimization of the cached plan per derivation is not free)
        edges = edges.localCheckpoint(eager=True)
    customers = edges.select(F.col("src").alias("id")).distinct().withColumn("tipo", F.lit("customer"))
    parts = edges.select(F.col("dst").alias("id")).distinct().withColumn("tipo", F.lit("part"))
    vertices = customers.unionByName(parts)  # O8
    if materialize:
        vertices = vertices.localCheckpoint(eager=True)
    return vertices, edges


def weighted_bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoded (src, dst, weight) with weight = purchase multiplicity: the
    weighted twin of ``bipartite_graph_encoded``'s edges (groupBy count
    instead of distinct -- the same single fact-join shuffle)."""
    return (
        _purchase_pairs(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One encoded (src, dst) row per line item: customer -> part."""
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # bounded limit+1 probe, not a full count: decides the broadcast the
    # counted way instead of force-broadcasting a fact table
    orders_small = orders.limit(BROADCAST_VERTEX_LIMIT + 1).count() <= BROADCAST_VERTEX_LIMIT
    return (
        li.join(_maybe_broadcast(orders, orders_small), li.l_orderkey == orders.o_orderkey)
        # a vertex must HAVE an id: a NULL custkey/partkey would mint a
        # NULL vertex that no equi-join in any iterative algorithm can
        # ever match (CC never merges it, BFS never reaches it), so the
        # engines drift apart one phantom component at a time (r14
        # nullkeys find). Edges with an unidentifiable endpoint are
        # dropped at build, mirrored in plans/graphq._EDGES_SQL and
        # _W_EDGES_SQL.
        .filter(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
    )


def decode_vertex_id(nid) -> F.Column:
    """Packed long vertex id -> the reference-parity prefixed string
    ('c<custkey>' / 'p<partkey>') as a pure expression (no lookup join).

    floor(nid/2) via arithmetic shift, never float division: ids above
    2^53 would lose precision in a double and decode to the wrong key.
    For even ids (customers) nid>>1 == nid/2; for odd ids (parts)
    nid>>1 == (nid-1)/2 -- one exact expression covers both branches."""
    half = F.shiftright(nid, 1)
    return F.when(nid % 2 == 0, F.concat(F.lit("c"), half)).otherwise(
        F.concat(F.lit("p"), half)
    )


def in_degrees(edges: DataFrame) -> DataFrame:
    """G2: per-vertex in-degree (== GraphFrames g.inDegrees)."""
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("inDegree"))


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("outDegree"))


# Vertex-frame row count under which iterative algorithms broadcast the
# per-iteration small side (ranks/labels) instead of shuffling the edge
# table every round. localCheckpoint erases Catalyst's size stats, so
# auto-broadcast never fires on these frames -- the explicit, counted
# decision below is the AQE-spirit replacement. ~5M rows of (long, double)
# is well under typical executor memory; beyond it, fall back to shuffle.
BROADCAST_VERTEX_LIMIT = 5_000_000


def _maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


# Rounds between rank checkpoints in the fixed-round PageRank modes (the
# ``tol`` mode checkpoints every round: its delta probe materializes each
# round anyway). Each round's broadcast build re-executes the rank plan
# back to the last checkpoint, so a deep cadence re-runs whole rounds,
# while a checkpoint every round pays one materialization job per round.
# 2 over 3, A/B on this kernel at sf0.1, local[4]: warm kernel-only, 6
# ABBA pairs in one process, g02 6.87 vs 7.10 s median (2 faster in 6/6),
# g06 6.99 vs 6.86 s (3/6); cold whole entry, one process per run, 4
# alternating rounds, g06 21.6 vs 23.0 s (4/4), g02 23.2 vs 22.5 s (1/4).
# Neither cadence wins in both settings, so 2 stays: it checkpoints g06
# on rounds 2, 4, ..., 10 as before, and cadence 3 had cost g06 43% in
# the r16 driver bench (5.94 -> 8.50 s).
PAGERANK_CHECKPOINT_EVERY = 2


def _indicator(source_id) -> F.Column:
    """The personalized teleport column: 1.0 on the source, 0.0 elsewhere."""
    return F.when(F.col("id") == F.lit(source_id), F.lit(1.0)).otherwise(F.lit(0.0))


def _power_iterate(
    vertices: DataFrame,
    edges: DataFrame,
    teleports: list[F.Column],
    reset_prob: float,
    max_iter: int,
    weight_col: str | None = None,
    tol: float | None = None,
) -> tuple[DataFrame, int]:
    """The power iteration behind every PageRank mode, one rank column
    ``r<j>`` per teleport column ``t_j``:

        rank_0 = t_j
        rank_n+1(v) = reset_prob * t_j(v)
                      + (1 - reset_prob) * sum_{u->v} rank_n(u) * share(u->v)

    ``share`` is 1/outDegree(u), or w(u,v)/sum_x w(u,x) with
    ``weight_col``. Dangling mass is dropped (GraphX semantics). Runs
    ``max_iter`` rounds, or with ``tol`` stops early once the largest
    per-vertex change falls below it. Returns (id, r0..r<k-1>) and the
    rounds run.

    Scale shape: the edge+normalizer frame is checkpointed once; below
    BROADCAST_VERTEX_LIMIT every round broadcasts the rank frame, so the
    edge table never shuffles -- each round is a map-side broadcast join
    + partial agg whose shuffle carries ~|V| partial sums, not |E| rows.

    Storage: the returned frame is the last round's checkpoint. Every
    superseded rank checkpoint is released once the next is
    materialized, and the edge frame before returning, so a call leaves
    exactly one persisted RDD behind: the result."""
    damp = 1.0 - reset_prob
    small = vertices.count() < BROADCAST_VERTEX_LIMIT  # cheap: checkpointed
    cols = [f"r{j}" for j in range(len(teleports))]
    if weight_col is None:
        norm, w = F.count(F.lit(1)), []
    else:
        norm, w = F.sum(weight_col), [F.col(weight_col).alias("w")]
    norms = edges.groupBy(F.col("src").alias("id")).agg(norm.alias("norm"))
    e = (
        edges.join(_maybe_broadcast(norms, small), edges.src == F.col("id"))
        .select("src", "dst", *w, "norm")
        .localCheckpoint(eager=True)
    )

    def share(r: str) -> F.Column:
        # the oracles' operand order: they round to 6 digits, and a
        # pre-divided w/wsum can differ from rank*w/wsum in the last ulp
        if weight_col is None:
            return F.col(r) / F.col("norm")
        return F.col(r) * F.col("w") / F.col("norm")

    ranks = vertices.select("id", *[t.alias(r) for t, r in zip(teleports, cols)])
    held = None  # the newest rank checkpoint
    if tol is not None:
        ranks = held = ranks.localCheckpoint(eager=True)  # the first probe's baseline
    it = 0
    for it in range(1, max_iter + 1):
        contribs = (
            e.join(_maybe_broadcast(ranks, small), e.src == ranks.id)
            .select("dst", *[share(r).alias(r) for r in cols])
            .groupBy("dst")
            .agg(*[F.sum(r).alias(r) for r in cols])
        )
        nxt = vertices.join(
            _maybe_broadcast(contribs, small), vertices.id == contribs.dst, "left"
        ).select(
            "id",
            *[
                (
                    F.lit(reset_prob) * t
                    + F.lit(damp) * F.coalesce(F.col(r), F.lit(0.0))
                ).alias(r)
                for t, r in zip(teleports, cols)
            ],
        )
        converged = False
        if tol is not None or it % PAGERANK_CHECKPOINT_EVERY == 0 or it == max_iter:
            nxt = nxt.localCheckpoint(eager=True)
            if tol is not None:
                deltas = (
                    nxt.join(ranks.select("id", *[F.col(r).alias(f"p{r}") for r in cols]), "id")
                    .agg(*[F.max(F.abs(F.col(r) - F.col(f"p{r}"))) for r in cols])
                    .collect()[0]
                )
                converged = None not in deltas and max(deltas) < tol
            if held is not None:
                unpersist(held)
            held = nxt
        ranks = nxt
        if converged:
            break
    unpersist(e)
    return ranks, it


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    reset_prob: float = 0.15,
    max_iter: int = 10,
) -> DataFrame:
    """G3: GraphFrames-semantics PageRank (resetProbability=0.15,
    maxIter=10 -- Explorativa3.ipynb:372-376). Returns (id, pagerank)."""
    ranks, _ = _power_iterate(vertices, edges, [F.lit(1.0)], reset_prob, max_iter)
    return ranks.select("id", F.col("r0").alias("pagerank"))


def pagerank_weighted(
    vertices: DataFrame,
    edges: DataFrame,
    weight_col: str = "weight",
    reset_prob: float = 0.15,
    max_iter: int = 10,
) -> DataFrame:
    """Weighted PageRank: contribution of u to v is rank(u) * w(u,v) /
    sum_x w(u,x) -- the natural generalization the reference's graph
    invites but GraphFrames ignores (its edges carry rating weights,
    GraphFrames_prueba/Explorativa3.ipynb:94-102, yet pageRank treats
    them as unweighted). With all weights equal this reduces exactly to
    ``pagerank``."""
    ranks, _ = _power_iterate(
        vertices, edges, [F.lit(1.0)], reset_prob, max_iter, weight_col=weight_col
    )
    return ranks.select("id", F.col("r0").alias("pagerank"))


def pagerank_personalized(
    vertices: DataFrame,
    edges: DataFrame,
    source_id,
    reset_prob: float = 0.15,
    max_iter: int = 10,
) -> DataFrame:
    """Personalized PageRank (the GraphFrames ``pageRank(sourceId=...)``
    surface): the reset mass teleports ONLY to the source vertex --
    rank_{k+1}(v) = reset_prob * [v == source] + damp * sum contribs --
    and rank_0 is the source indicator, so every unit of rank is mass
    that flowed out of the source."""
    ranks, _ = _power_iterate(
        vertices, edges, [_indicator(source_id)], reset_prob, max_iter
    )
    return ranks.select("id", F.col("r0").alias("pagerank"))


def pagerank_parallel_personalized(
    vertices: DataFrame,
    edges: DataFrame,
    source_ids: list,
    reset_prob: float = 0.15,
    max_iter: int = 10,
) -> DataFrame:
    """All-sources-at-once personalized PageRank (the GraphFrames
    ``parallelPersonalizedPageRank`` surface): the ``pagerank_personalized``
    recurrence run jointly for k sources -- the rank frame carries one
    column per source, so each iteration is ONE edge join + ONE aggregate
    regardless of k (that is the 'parallel': k single-source runs would
    scan the edge table k times per round). Returns (id, pageranks
    array<double>) with entries in ``source_ids`` order."""
    if not source_ids:
        raise ValueError("parallel personalized PageRank needs >= 1 source id")
    ranks, _ = _power_iterate(
        vertices, edges, [_indicator(s) for s in source_ids], reset_prob, max_iter
    )
    return ranks.select(
        "id", F.array(*[F.col(f"r{j}") for j in range(len(source_ids))]).alias("pageranks")
    )


def pagerank_tol(
    vertices: DataFrame,
    edges: DataFrame,
    reset_prob: float = 0.15,
    tol: float = 1e-3,
    source_id=None,
    max_iter_cap: int = 100,
) -> tuple[DataFrame, int]:
    """Until-convergence PageRank (the GraphFrames ``pageRank(tol=...)``
    mode): iterate the static (or, with ``source_id``, personalized)
    update until the largest per-vertex rank change falls below ``tol``,
    capped at ``max_iter_cap`` rounds. Returns (ranks, iterations run).

    Convergence-dependent iteration counts make this mode inherently
    data-dependent -- catalog certification uses the fixed-iteration
    twins; tests pin agreement with a long fixed run."""
    teleport = F.lit(1.0) if source_id is None else _indicator(source_id)
    ranks, it = _power_iterate(
        vertices, edges, [teleport], reset_prob, max_iter_cap, tol=tol
    )
    return ranks.select("id", F.col("r0").alias("pagerank")), it


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 20,
    on_nonconverged: str = "warn",
) -> DataFrame:
    """G4: undirected connected components. Returns (id, component) where
    component is the smallest reachable vertex id under the id column's
    native ordering (lexicographic for strings, numeric for encoded longs).

    Each round does (1) min-label propagation over edges, then (2) a
    pointer-jumping shortcut ``label(v) <- label(label(v))`` -- valid
    because a label is always the id of a reachable vertex, so the label's
    label is also reachable. The shortcut doubles effective reach per
    round, giving O(log diameter) convergence (the plain one-hop variant
    is O(diameter)). Fixpoint is detected by comparing labels round-over-
    round; exhausting ``max_iter`` while labels are still changing means
    the result is NOT a correct component assignment -- behavior then
    follows ``on_nonconverged``: "warn" (default) or "raise".
    """
    if on_nonconverged not in ("warn", "raise"):
        raise ValueError(f"on_nonconverged must be 'warn' or 'raise', got {on_nonconverged!r}")
    sym = (
        edges.select("src", "dst")
        .unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)  # loop-invariant
    )
    # small vertex set -> broadcast the label frame per round so the
    # (2x) edge table never shuffles (see _power_iterate for the rationale)
    small = vertices.count() < BROADCAST_VERTEX_LIMIT
    labels = vertices.select("id", F.col("id").alias("component"))
    changed = 1
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(_maybe_broadcast(labels, small), sym.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("component").alias("ncomp"))
        )
        # carry the previous label through so the convergence check below
        # is a column compare on one frame, not an extra self-join
        hop = (
            labels.join(_maybe_broadcast(neighbor_min, small), labels.id == F.col("nid"), "left")
            .select(
                "id",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"), F.coalesce(F.col("ncomp"), F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jump: re-resolve each label through the freshly-hopped map
        lut = hop.select(F.col("id").alias("lid"), F.col("component").alias("lcomp"))
        new_labels = (
            hop.join(_maybe_broadcast(lut, small), hop.component == F.col("lid"), "left")
            .select(
                "id",
                "prev",
                F.coalesce(F.col("lcomp"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("prev") != F.col("component")).limit(1).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge within max_iter={max_iter}; "
            "labels were still changing -- result is not a valid component "
            "assignment. Increase max_iter."
        )
        if on_nonconverged == "raise":
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected simple graph given as
    a (src, dst) edge list (either direction, duplicates allowed).

    Scale design -- the join-explosion control is DEGREE ORDERING: orient
    every edge from its lower-degree endpoint to its higher-degree one
    (ties broken by id), so each triangle is enumerated exactly once from
    its lowest-degree corner and the wedge-join fan-out is bounded by the
    graph's degeneracy rather than its max degree. On a power-law graph
    this is the difference between max_degree^2 candidate wedges at one
    hub and a near-uniform workload; the classic MapReduce formulation
    (Suri & Vassilvitskii, WWW'11) and GraphFrames' triangle routine use
    the same orientation. Three shuffles total: degree agg, wedge join,
    closing-edge semi-join.
    """
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
    # Orient: lower (degree, id) -> higher (degree, id); total order, so
    # the oriented graph is acyclic and every triangle has one source.
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(F.struct(F.col("b").alias("lo"), F.col("a").alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    # Wedges from each source u: (u -> x, u -> y) with x, y distinct
    # out-neighbors; the triangle closes iff oriented edge x->y or y->x
    # exists -- but orientation is a total order, so exactly lo(x,y)->hi(x,y).
    o1 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("x"))
    o2 = oriented.select(F.col("lo").alias("u"), F.col("hi").alias("y"))
    wedges = o1.join(o2, "u").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("lo", "hi").alias("x"), F.greatest("lo", "hi").alias("y")
    )
    tris = wedges.join(closing, ["x", "y"])  # (u, x, y) is a triangle
    per_vertex = (
        tris.select(F.col("u").alias("v"))
        .unionAll(tris.select(F.col("x").alias("v")))
        .unionAll(tris.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_vertex


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 5,
) -> DataFrame:
    """Synchronous label propagation (community detection) over the
    UNDIRECTED graph: every vertex starts as its own label; each round it
    adopts the most frequent label among its neighbors. Returns
    (id, label). GraphFrames' labelPropagation breaks frequency ties by
    hash-partition order (nondeterministic run to run); this pins
    count DESC, label ASC so results are reproducible and oracle-able
    (the g09 catalog entry hash-certifies the same recurrence).

    Scale shape: the edge table is symmetrized and checkpointed ONCE;
    each round is one join keyed on src + one (vertex, label) partial
    agg -- label frames are vertex-sized, never edge-sized. Isolated
    vertices keep their own id as label.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = (
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(und.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window as W

    labels = vertices.select("id", F.col("id").alias("lab"))
    vw = W.partitionBy("v").orderBy(F.desc("n"), F.asc("lab"))
    for _ in range(max_iter):
        nb = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("v"), "lab"
        )
        new = (
            nb.groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("rn", F.row_number().over(vw))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("id"), "lab")
        )
        # isolated vertices (no neighbors) keep their current label
        labels = (
            vertices.select("id")
            .join(labels.select("id", F.col("lab").alias("old")), "id", "left")
            .join(new.select("id", F.col("lab").alias("upd")), "id", "left")
            .select("id", F.coalesce("upd", "old").alias("lab"))
            .localCheckpoint(eager=True)
        )
    return labels.select("id", F.col("lab").alias("label"))


def bfs_levels(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 6,
) -> DataFrame:
    """Multi-source unweighted BFS over the UNDIRECTED graph: returns
    (id, level) where level is the hop distance to the nearest seed, or
    NULL if unreached within ``max_iter`` rounds.

    Unlike pagerank's cadenced checkpointing, dist is checkpointed every
    round: the per-round frontier-emptiness probe forces materialization
    regardless, so a cadence would just re-execute off-cadence joins twice.

    Frontier message passing, not full relaxation: round i sends messages
    only from vertices settled at level i-1, so per-round work is
    |frontier edges|, and the loop early-exits on an empty frontier. The
    per-round shuffle carries vertex ids only. Equivalent by induction to
    the Bellman-Ford unrolling the oracle runs (after round n, level(v) =
    dist(v) iff dist(v) <= n). Below BROADCAST_VERTEX_LIMIT the frontier
    and message frames broadcast, so the edge table never shuffles --
    the same regime pagerank() uses.
    """
    small = vertices.count() < BROADCAST_VERTEX_LIMIT
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    dist = vertices.select("id").join(
        _maybe_broadcast(
            seeds.select("id").distinct().withColumn("level", F.lit(0)), small
        ),
        "id",
        "left",
    )
    dist = dist.localCheckpoint(eager=True)
    frontier = dist.filter(F.col("level") == 0).select("id")
    for i in range(1, max_iter + 1):
        # dist is ALWAYS checkpointed at this point (pre-loop or end of the
        # previous round), so this emptiness probe scans materialized
        # partitions instead of re-executing the round's join a second time
        # when the frontier is then consumed for messages below.
        if frontier.limit(1).count() == 0:
            break
        msgs = (
            sym.join(_maybe_broadcast(frontier, small), sym.src == frontier.id)
            .select(F.col("dst").alias("mid"))
            .distinct()
        )
        dist = dist.join(
            _maybe_broadcast(msgs, small), dist.id == msgs.mid, "left"
        ).select(
            "id",
            F.when(F.col("level").isNotNull(), F.col("level"))
            .otherwise(F.when(F.col("mid").isNotNull(), F.lit(i)))
            .alias("level"),
        )
        # Checkpoint every round before deriving the probe-bearing frontier:
        # the probe forces materialization anyway, so cadenced checkpointing
        # would only buy re-running the join once more per off-cadence round.
        dist = dist.localCheckpoint(eager=True)
        frontier = dist.filter(F.col("level") == i).select("id")
    return dist
