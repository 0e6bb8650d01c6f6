"""Similarity search over embedding columns (north-star surface).

Scale shapes:

* ``cosine_topk_bruteforce``: the query side is REQUIRED to be small (it is
  broadcast); the candidate side streams. Cost is |Q| x |C| dot products of
  JVM-side higher-order-function arithmetic -- no Python, no shuffle except
  the final per-query top-k (grouped window over |Q| keys). This is the
  exactness baseline.
* ``cosine_near_dup_matmul``: every (query, candidate) pair above a cosine
  threshold, one Arrow-batched NumPy matmul per candidate batch against a
  collected, broadcast query matrix; no shuffle.
* ``lsh_cosine_topk``: random-hyperplane signatures bucket both sides; dot
  products only run within matching buckets, turning |Q| x |C| into
  sum over buckets |Q_b| x |C_b|. Recall is tested against the brute-force
  baseline in tests/test_ann_recall.py.
* The pinned-centroid coarse quantizer (``CENTROID_STRIDE``,
  ``pinned_centroids``, ``rank_centroids``): every vector ranked against
  the deterministic centroid set ``vec_id % CENTROID_STRIDE == 0``. The
  IVF and NSW searches below and the catalog's list-based entries (e06,
  e07, e12, d14, s28, s29) all build on it.
* ``ivf_cosine_topk``: IVF-flat -- exact cosine only within each query's
  ``nprobe`` nearest centroid lists.
* ``nsw_beam_topk``: navigable-small-world graph over the centroid lists
  plus a fixed-width beam search.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.readers import spread


# Hard ceiling on the collected-and-broadcast query side of the matmul
# near-dup scan: 100k rows x 64 doubles ~ 50 MB broadcast, comfortably
# inside executor/driver budgets; anything bigger belongs in the LSH path.
MATMUL_QUERY_ROW_LIMIT = 100_000


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(df: DataFrame) -> DataFrame:
    """``df`` plus ``vn``, the L2 norm of its double-array column ``v``."""
    return df.withColumn("vn", F.sqrt(_dot(F.col("v"), F.col("v"))))


# The coarse quantizer's centroids are the pinned corpus vectors
# vec_id % CENTROID_STRIDE == 0: deterministic, so every index built on
# them (and its SQL oracle) is reproducible from the data alone, unlike
# seeded k-means.
CENTROID_STRIDE = 37


def pinned_centroids(e: DataFrame) -> DataFrame:
    """The centroid table ``(cid, cv, cvn)`` of a ``(vec_id, v, vn)``
    frame."""
    return e.filter(F.col("vec_id") % CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("vn").alias("cvn")
    )


def rank_centroids(e: DataFrame, cent: DataFrame, digits: int | None = None) -> DataFrame:
    """Rank every centroid of ``cent`` for every vector of ``e``: the
    columns of ``e`` (``vec_id``, ``v``, ``vn`` and any extras, which pass
    through) plus ``cid`` and ``crn``, the centroid's rank by cosine
    ``cc`` descending, ties to the lower ``cid``. ``crn == 1`` is the
    vector's inverted list; ``crn <= nprobe`` its probed lists. ``digits``
    rounds ``cc`` before ranking, for oracles that rank on a rounded
    cosine.

    The centroid table is tiny and broadcast, so the only shuffle is the
    per-vector window keyed by ``vec_id``. The cosine stays a SQL dot
    product: the oracles' hash-exactness depends on its summation order.

    What stays with the caller:

    * spreading ``e``. A replay-sized embeddings parquet arrives as ONE
      split, which serializes this |corpus| x |centroids| dot-product
      lattice onto a single core; ``spread`` widens it (a no-op on real
      multi-split scans). Selecting before the spread moves only the
      consumed columns through the widening shuffle.
    * which ``crn`` rows to keep, and whether to cache the result. The
      scan is the dominant build CPU, so a result with several consumers
      (lists and probes in IVF; home, candidates, hubs and entry beam in
      NSW) is persisted: unpersisted, each consumer re-executes the whole
      cross join and window.
    """
    cc = _dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cvn"))
    if digits is not None:
        cc = F.round(cc, digits)
    wc = Window.partitionBy("vec_id").orderBy(F.desc("cc"), F.asc("cid"))
    return (
        e.crossJoin(F.broadcast(cent))
        .withColumn("cc", cc)
        .withColumn("crn", F.row_number().over(wc))
        .select(*e.columns, "cid", "crn")
    )


def cosine_topk_bruteforce(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query vector against all candidates.

    Output: (query_id, neighbor_id, cosine, rn) -- ranked on the raw
    cosine with neighbor_id tie-break, cosine rounded to 4 for stable
    cross-engine comparison.
    """
    # norms are per-ROW quantities: compute them once per side, not per
    # pair (each query/candidate participates in many pairs; the per-pair
    # recompute was the dominant cost). sqrt(dot(v,v)) here is the same
    # expression evaluated per pair before -- results are bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q.withColumn("qn", F.sqrt(_dot(F.col("qv"), F.col("qv"))))
    # select BEFORE spread so the widening repartition shuffles only the
    # two consumed columns, not every column of the candidates table
    c = spread(
        candidates.select(
            F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
        )
    )
    c = c.withColumn("cn", F.sqrt(_dot(F.col("cv"), F.col("cv"))))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_raw", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def cosine_near_dup_matmul(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Embedding-cosine near-duplicate scan: every (query, candidate) pair
    with cosine >= threshold, computed by Arrow-batched NumPy matmul.

    The 100 TB shape for "new batch vs corpus" dedup: the query side is
    collected and broadcast as ONE dense row-normalized matrix (required
    small -- e.g. today's ingest); the corpus streams through
    ``mapInPandas``, each Arrow batch doing a single BLAS ``C @ Q.T``
    (vectorized, ~100x a per-row HOF fold). No shuffle at all -- the
    output is a pure per-partition flatMap. Full-corpus self-dedup at
    scale instead goes through the LSH route (``lsh_cosine_topk``).
    """
    import pandas as pd

    # "Required small" is ENFORCED, not advisory (same counted-decision
    # pattern as graph.algorithms.BROADCAST_VERTEX_LIMIT): a bounded
    # limit+1 probe -- never a full count of an unbounded frame -- decides
    # whether the collect is safe. Oversized query sides must go through
    # lsh_cosine_topk instead of OOMing the driver.
    probe = queries.select(id_col).limit(MATMUL_QUERY_ROW_LIMIT + 1).count()
    if probe > MATMUL_QUERY_ROW_LIMIT:
        raise ValueError(
            f"cosine_near_dup_matmul query side exceeds "
            f"{MATMUL_QUERY_ROW_LIMIT} rows; it is collected+broadcast and "
            f"must stay small. Use lsh_cosine_topk for corpus-scale query "
            f"sides."
        )
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        # EMPTY query batch (r12 empty-tables hostile variant): np.array
        # of zero vectors is 1-D and the axis-1 normalize throws; the
        # correct result is simply no pairs
        spark = candidates.sparkSession
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double"
        )
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bc = candidates.sparkSession.sparkContext.broadcast((q_ids, qm))

    def scan(batches):
        ids_q, qn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cm /= np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qn.T  # (batch, |Q|)
            ci, qi = np.nonzero(sims >= threshold)
            cand_ids = pdf[id_col].to_numpy()[ci]
            query_ids = ids_q[qi]
            keep = cand_ids != query_ids
            yield pd.DataFrame(
                {
                    "query_id": query_ids[keep],
                    "neighbor_id": cand_ids[keep],
                    "cosine": np.round(sims[ci, qi][keep], 4),
                }
            )

    return candidates.select(id_col, vec_col).mapInPandas(
        scan, "query_id long, neighbor_id long, cosine double"
    )


def ivf_cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_pred=None,
) -> DataFrame:
    """IVF-flat approximate nearest neighbors over ``(vec_id, embedding)``,
    fully deterministic (and therefore SQL-oracle-checkable) through the
    pinned-centroid coarse quantizer.

    Structure: (1) assign every vector to its nearest centroid by cosine
    (its inverted list); (2) each query probes its ``nprobe`` nearest
    lists; (3) exact cosine top-k runs only within probed lists. The
    only shuffles are the quantizer's per-vector window and the list
    equi-join. Search cost drops from |Q|x|C| to
    |Q| x nprobe x avg-list-size.
    """
    # per-row norm computed once (see cosine_topk_bruteforce: the per-pair
    # recompute was the dominant cost; values are bit-identical)
    e = with_norm(
        spread(embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v")))
    )
    ranked = rank_centroids(e, pinned_centroids(e)).persist()
    lists = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("vn").alias("nn"), "cid"
    )
    probes = ranked.filter(F.col("crn") <= nprobe)
    if query_pred is not None:
        probes = probes.filter(query_pred(F.col("vec_id")))
    probes = probes.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"), "cid"
    )

    pairs = probes.join(lists, "cid").filter(F.col("query_id") != F.col("neighbor_id"))
    sim = pairs.withColumn(
        "cos_raw", _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


# Quantization scale for the DETERMINISTIC signature path: vectors are
# snapped to integers (round-half-away-from-zero at 3 decimals) so the
# plane dot products are exact int64 arithmetic in BOTH engines -- no
# float summation-order ambiguity can flip a sign bit at the >= 0
# boundary, which is what makes the e02 oracle hash-exact rather than
# merely "usually agrees".
LSH_QUANT_SCALE = 1000.0


def md5_rademacher_planes(
    dim: int, n_planes: int, n_tables: int, tag: str = "lshpl"
) -> np.ndarray:
    """+-1 hyperplanes derived from portable md5 -- component (t, p, d) is
    +1 iff the low bit of ``int(md5(f"{tag}|{t}|{p}|{d}")[:8], 16)`` is 0.

    Rademacher projections are a standard sign-LSH variant (same collision
    -probability-vs-angle guarantee family as Gaussian planes); deriving
    them from md5 makes the whole LSH structure reproducible inside any
    engine with an md5() function, so the DuckDB oracle rebuilds identical
    tables instead of trusting row counts.
    """
    import hashlib

    planes = np.empty((n_tables, n_planes, dim), dtype=np.int64)
    for t in range(n_tables):
        for p in range(n_planes):
            for d in range(dim):
                h = int(
                    hashlib.md5(f"{tag}|{t}|{p}|{d}".encode()).hexdigest()[:8], 16
                )
                planes[t, p, d] = 1 if h % 2 == 0 else -1
    return planes


def _det_signatures_udf(planes: np.ndarray):
    """Integer twin of ``_all_signatures_udf``: quantize each vector to
    int64 (round half away from zero, matching SQL round()), then one
    exact int64 matmul against the +-1 planes yields every table's sign
    bits. Bit-for-bit reproducible by the oracle's list arithmetic."""
    from pyspark.sql.functions import pandas_udf

    n_tables, n_planes, dim = planes.shape
    flat = planes.reshape(n_tables * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        V = np.asarray(vecs.tolist(), dtype=np.float64).reshape(len(vecs), dim)
        # floor(|x|*scale + 0.5) * sign(x): round HALF AWAY FROM ZERO --
        # np.round would be banker's and disagree with SQL on exact .5s.
        Q = (np.floor(np.abs(V) * LSH_QUANT_SCALE + 0.5) * np.sign(V)).astype(
            np.int64
        )
        bits = (Q @ flat.T >= 0).reshape(len(V), n_tables, n_planes)
        buckets = (bits * weights).sum(axis=2)
        return pd.Series(list(buckets))

    return sigs


def _all_signatures_udf(tables: list[list[list[float]]]):
    """Arrow-batched signature computation: ONE (batch x dim) @ (dim x
    n_tables*n_planes) matmul yields every table's sign bits at once.

    The previous pure-expression version unrolled n_tables x n_planes
    separate 64-element HOF folds with literal plane arrays -- whole-stage
    codegen compiled minutes' worth of generated Java for what BLAS does
    in one call, and the compile cost alone dominated the query. This is
    the documented "UDFs are the slow path ... EXCEPT vectorized math"
    carve-out: signatures via Arrow matmul, bucketing/join/top-k stay JVM.
    """
    from pyspark.sql.functions import pandas_udf

    P = np.array(tables, dtype=np.float64)  # (n_tables, n_planes, dim)
    n_tables, n_planes, dim = P.shape
    flat = P.reshape(n_tables * n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit weights per plane

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        # explicit (batch, dim) shape: an empty Arrow batch otherwise
        # yields shape (0,) and the matmul raises instead of returning
        # zero rows
        V = np.asarray(vecs.tolist(), dtype=np.float64).reshape(len(vecs), dim)
        bits = (V @ flat.T >= 0).reshape(len(V), n_tables, n_planes)
        buckets = (bits * weights).sum(axis=2)  # (batch, n_tables)
        return pd.Series(list(buckets))

    return sigs


def lsh_cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    plane_mode: str = "md5",
) -> DataFrame:
    """Approximate cosine top-k: ``n_tables`` independent sign-LSH tables of
    ``n_planes`` hyperplanes; dot products only within shared buckets.

    ``plane_mode="md5"`` (default) uses md5-derived +-1 planes with exact
    integer signature arithmetic -- oracle-reproducible (e02's hash-exact
    driver check). ``plane_mode="gaussian"`` keeps the seeded Gaussian
    planes for callers that want them.
    """
    if plane_mode == "md5":
        sig_udf = _det_signatures_udf(md5_rademacher_planes(dim, n_planes, n_tables))
    else:
        tables = [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
        sig_udf = _all_signatures_udf(tables)

    def bucketed(df: DataFrame, side: str) -> DataFrame:
        # norm once per input row, BEFORE the n_tables-way explode (and
        # long before pair scoring, where it used to be recomputed per pair);
        # all table signatures in one Arrow matmul, posexplode to (t, b)
        v = F.col(f"{side}_v")
        base = (
            df.select(
                F.col(id_col).alias(f"{side}_id"), _as_double(F.col(vec_col)).alias(f"{side}_v")
            )
            .withColumn(f"{side}_n", F.sqrt(_dot(v, v)))
            .withColumn("sigs", sig_udf(v))
        )
        return base.select(
            f"{side}_id", f"{side}_v", f"{side}_n", F.posexplode("sigs").alias("t", "b")
        )

    qb = bucketed(queries, "q")
    # select before spread: the repartition moves only (id, vec), never
    # unconsumed payload columns of the candidates table
    cb = bucketed(spread(candidates.select(F.col(id_col), F.col(vec_col))), "c")
    pairs = (
        cb.join(F.broadcast(qb), ["t", "b"])
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", "q_v", "q_n", "c_v", "c_n")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = pairs.withColumn(
        "cos_raw", _dot(F.col("q_v"), F.col("c_v")) / (F.col("q_n") * F.col("c_n"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("cos_raw", 4).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def nsw_beam_topk(
    embeddings: DataFrame,
    k: int = 5,
    beam_width: int = 8,
    rounds: int = 3,
    neighbors_per_node: int = 4,
    query_pred=None,
) -> DataFrame:
    """Graph-traversal ANN (the HNSW/NSW family's flat tier), fully
    deterministic and therefore SQL-oracle-checkable: a pinned
    navigable-small-world graph + fixed-width beam search.

    Structure (every stage reuses the pinned-centroid coarse quantizer, so
    the whole index is reproducible from the data alone):

    1. NEIGHBOR GRAPH, two layers like HNSW: layer 0 is short-range --
       candidates for vector x are the members of x's top-2 centroid
       lists (never all-pairs: the same banded-candidates discipline as
       IVF/LSH), keep ``neighbors_per_node`` best by cosine (id
       tie-break); layer 1 is long-range -- every vector links to its
       home centroid, so centroids are hubs whose symmetrized degree is
       their list size. The hub edges are what make the graph NAVIGABLE:
       without them a width-8 beam entering at a far centroid stays
       trapped among that centroid's cluster-mates (measured planted
       recall 0.17); with them one hop descends from the entry hub into
       the right neighborhood and the short-range edges refine.
    2. ENTRY POINTS -- each query starts at its 2 nearest centroids
       (which are corpus vectors), i.e. the layer-1 descent of HNSW.
    3. BEAM -- ``rounds`` synchronous expansions: frontier = beam union
       beam's graph neighbors, score cosine(query, node), keep the
       ``beam_width`` best per query (cos DESC, id ASC). Per-round work is
       |Q| x beam x degree dot products; the query table broadcasts.
    4. RESULT -- top-``k`` of the final beam, query itself excluded.

    At 100 TB the graph build is the dominant cost but stays
    list-bounded (sum over lists |L|^2, the SemDeDup-style guard regime);
    search cost is independent of corpus size -- that is the point of the
    NSW family. Recall vs brute force is pytest-gated
    (tests/test_ann_recall.py).
    """
    e = with_norm(
        spread(embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v")))
    )
    ranked = rank_centroids(e, pinned_centroids(e)).persist()
    home = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("hid"), F.col("v").alias("hv"), F.col("vn").alias("hn"), "cid"
    )
    # graph candidates: x's probe-2 lists' members; top-R per x, symmetrized
    cand = (
        ranked.filter(F.col("crn") <= 2)
        .select(F.col("vec_id").alias("src"), "v", "vn", "cid")
        .join(home, "cid")
        .filter(F.col("src") != F.col("hid"))
        .withColumn("cos", _dot(F.col("v"), F.col("hv")) / (F.col("vn") * F.col("hn")))
    )
    wn = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("hid"))
    nn = (
        cand.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") <= neighbors_per_node)
        .select("src", F.col("hid").alias("dst"))
    )
    # layer-1 hub edges: vector <-> its home centroid (a centroid's own
    # home is itself; drop the self-loop)
    hub = (
        ranked.filter((F.col("crn") == 1) & (F.col("vec_id") != F.col("cid")))
        .select(F.col("vec_id").alias("src"), F.col("cid").alias("dst"))
    )
    links = nn.union(hub)
    und = (
        links.union(links.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # 3 beam rounds re-read it; cut the lineage
    )

    queries = e
    if query_pred is not None:
        queries = queries.filter(query_pred(F.col("vec_id")))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn")
    )

    beam_ranked = ranked.filter(F.col("crn") <= 2)
    if query_pred is not None:
        beam_ranked = beam_ranked.filter(query_pred(F.col("vec_id")))
    beam = beam_ranked.select(F.col("vec_id").alias("query_id"), F.col("cid").alias("node"))

    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("node"))
    for _ in range(rounds):
        frontier = beam.select("query_id", "node").union(
            beam.join(und, beam.node == und.src).select("query_id", F.col("dst").alias("node"))
        ).distinct()
        rescored = (
            frontier.join(e, frontier.node == e.vec_id)
            .join(F.broadcast(q), "query_id")
            .withColumn("cos", _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("vn")))
        )
        beam = (
            rescored.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= beam_width)
            .select("query_id", "node", "cos")
            # LAZY persist, not an eager checkpoint (r16): the next round
            # references this beam twice (frontier = beam UNION beam><und),
            # so without caching the subtree doubles per round; the cache
            # dedupes it at execution WITHOUT paying one materialization
            # job per round up front. |Q| x beam_width rows -- tiny.
            .persist()
        )
    return (
        beam.filter(F.col("node") != F.col("query_id"))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col("node").alias("neighbor_id"),
            F.round("cos", 4).alias("cosine"),
            F.col("rn").cast("long").alias("rn"),
        )
    )
