"""Drop-in ``GraphFrame`` adapter: the graphframes-library surface the
reference's notebooks use (GraphFrames_prueba/Explorativa3.ipynb:94-102,
372-376, 460 -- ``GraphFrame(v, e)``, ``.inDegrees``, ``.pageRank``,
``.connectedComponents``), re-expressed over this package's oracle-verified
DataFrame algorithms (graph/algorithms.py) so notebook code ports verbatim
WITHOUT the graphframes jar.

Design notes vs the library:

* No ``spark.sparkContext.setCheckpointDir`` needed -- the underlying
  algorithms ``localCheckpoint`` internally (the notebook's mandatory
  checkpoint-dir cell becomes a no-op).
* ``labelPropagation`` pins frequency ties (count DESC, label ASC);
  the library's tie-break follows hash-partition order and is
  nondeterministic run to run.
* ``connectedComponents`` labels each component with its smallest member
  id (the library's default algorithm does the same).
* Algorithms return plain DataFrames / GraphFrames exactly like the
  library: ``pageRank`` returns a GraphFrame whose vertices carry
  ``pagerank`` and whose edges carry ``weight``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .algorithms import (
    bfs_levels,
    connected_components,
    in_degrees,
    label_propagation,
    out_degrees,
    pagerank,
    pagerank_parallel_personalized,
    pagerank_personalized,
    pagerank_tol,
    pagerank_weighted,
    triangle_count,
)

ID = "id"
SRC = "src"
DST = "dst"


class GraphFrame:
    """``GraphFrame(v, e)``: v must have an ``id`` column; e must have
    ``src`` and ``dst`` columns. Extra columns on either side are carried
    through, matching the library's contract."""

    def __init__(self, v: DataFrame, e: DataFrame) -> None:
        if ID not in v.columns:
            raise ValueError(f"vertex DataFrame must have an '{ID}' column, got {v.columns}")
        missing = [c for c in (SRC, DST) if c not in e.columns]
        if missing:
            raise ValueError(f"edge DataFrame must have {missing} column(s), got {e.columns}")
        self._vertices = v
        self._edges = e

    # -- structure ---------------------------------------------------------

    @property
    def vertices(self) -> DataFrame:
        return self._vertices

    @property
    def edges(self) -> DataFrame:
        return self._edges

    def __repr__(self) -> str:
        v, e = self._vertices, self._edges
        return f"GraphFrame(v:[{', '.join(v.columns)}], e:[{', '.join(e.columns)}])"

    # -- persistence (delegates to both frames, returns self like the
    #    library so notebook chains `g.cache().pageRank(...)` port) -------

    def cache(self) -> "GraphFrame":
        self._vertices.cache()
        self._edges.cache()
        return self

    def persist(self, storageLevel=None) -> "GraphFrame":
        if storageLevel is None:
            self._vertices.persist()
            self._edges.persist()
        else:
            self._vertices.persist(storageLevel)
            self._edges.persist(storageLevel)
        return self

    def unpersist(self, blocking: bool = False) -> "GraphFrame":
        self._vertices.unpersist(blocking)
        self._edges.unpersist(blocking)
        return self

    # -- degrees (vertices with zero degree are omitted, like the library) -

    @property
    def inDegrees(self) -> DataFrame:
        return in_degrees(self._edges)

    @property
    def outDegrees(self) -> DataFrame:
        return out_degrees(self._edges)

    @property
    def degrees(self) -> DataFrame:
        both = self._edges.select(F.col(SRC).alias(ID)).unionAll(
            self._edges.select(F.col(DST).alias(ID))
        )
        return both.groupBy(ID).agg(F.count(F.lit(1)).alias("degree"))

    # -- triplets / message passing ----------------------------------------

    @property
    def triplets(self) -> DataFrame:
        """One row per edge with struct columns ``src``, ``edge``, ``dst``
        carrying the full vertex/edge attributes (library shape). Inner
        joins: an edge whose endpoint is absent from the vertex frame is
        dropped, like the library."""
        vstruct = F.struct(*[F.col(c) for c in self._vertices.columns])
        estruct = F.struct(*[F.col(c) for c in self._edges.columns])
        e = self._edges.select(
            estruct.alias("edge"), F.col(SRC).alias("__ts"), F.col(DST).alias("__td")
        )
        vs = self._vertices.select(vstruct.alias("src"), F.col(ID).alias("__ts"))
        vd = self._vertices.select(vstruct.alias("dst"), F.col(ID).alias("__td"))
        return e.join(vs, "__ts").join(vd, "__td").select("src", "edge", "dst")

    def aggregateMessages(self, aggCol, sendToSrc=None, sendToDst=None) -> DataFrame:
        """GraphX-style message passing (``graphframes.lib.
        AggregateMessages``): evaluate ``sendToSrc`` / ``sendToDst`` over
        each triplet (reference fields via ``AggregateMessages.src/dst/
        edge``), deliver to the corresponding endpoint, and aggregate all
        messages per vertex with ``aggCol`` (reference the message via
        ``AggregateMessages.msg``). Returns (id, <agg>) for vertices that
        received at least one message -- library semantics.

        Compiles to: triplet join -> per-direction projection -> union ->
        hash aggregate on id. One shuffle for the aggregate; the triplet
        join shuffles on vertex ids like every other algorithm here."""
        if sendToSrc is None and sendToDst is None:
            raise ValueError("aggregateMessages requires sendToSrc and/or sendToDst")
        trip = self.triplets
        parts = []
        if sendToSrc is not None:
            parts.append(trip.select(F.col("src")[ID].alias(ID), sendToSrc.alias("MSG")))
        if sendToDst is not None:
            parts.append(trip.select(F.col("dst")[ID].alias(ID), sendToDst.alias("MSG")))
        msgs = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        return msgs.groupBy(ID).agg(aggCol)

    # -- subgraph helpers --------------------------------------------------

    def filterVertices(self, condition) -> "GraphFrame":
        """Keep vertices matching ``condition``; edges restricted to the
        surviving endpoints (two semi-joins, no shuffle of attributes)."""
        v = self._vertices.filter(condition)
        ids = v.select(ID)
        e = (
            self._edges.join(ids.withColumnRenamed(ID, SRC), SRC, "left_semi")
            .join(ids.withColumnRenamed(ID, DST), DST, "left_semi")
        )
        return GraphFrame(v, e)

    def filterEdges(self, condition) -> "GraphFrame":
        return GraphFrame(self._vertices, self._edges.filter(condition))

    def dropIsolatedVertices(self) -> "GraphFrame":
        touched = (
            self._edges.select(F.col(SRC).alias(ID))
            .unionAll(self._edges.select(F.col(DST).alias(ID)))
            .distinct()
        )
        return GraphFrame(self._vertices.join(touched, ID, "left_semi"), self._edges)

    # -- algorithms --------------------------------------------------------

    def pageRank(
        self,
        resetProbability: float = 0.15,
        sourceId=None,
        maxIter: int | None = None,
        tol: float | None = None,
        weightCol: str | None = None,
    ) -> "GraphFrame":
        """PageRank, all three library modes. Returns a GraphFrame whose
        vertices carry ``pagerank`` and whose edges carry ``weight`` (the
        src-normalized edge weight).

        * static fixed-iteration (``maxIter``): rank = resetProbability +
          (1-resetProbability) * sum of neighbor contributions; ranks sum
          to ~|V| (library semantics; the reference runs maxIter=10).
        * personalized (``sourceId``): reset mass teleports only to the
          source and rank_0 is the source indicator, so every unit of
          rank is mass that flowed out of the source (GraphX semantics,
          dangling mass dropped like the static mode).
        * until-convergence (``tol``): iterate until the largest
          per-vertex change falls below ``tol`` (max 100 rounds);
          composes with ``sourceId``.

        ``weightCol`` is an extension the library lacks: contributions
        weighted by an edge column (see pagerank_weighted); it does not
        compose with ``sourceId``/``tol``.
        """
        if maxIter is None and tol is None:
            raise ValueError("pageRank: pass maxIter or tol")
        if weightCol is not None and (sourceId is not None or tol is not None):
            raise ValueError(
                "pageRank: weightCol does not compose with sourceId/tol"
            )
        ids = self._vertices.select(ID)
        if tol is not None:
            ranks, _iters = pagerank_tol(
                ids, self._edges, reset_prob=resetProbability, tol=tol,
                source_id=sourceId,
            )
        elif sourceId is not None:
            ranks = pagerank_personalized(
                ids, self._edges, source_id=sourceId,
                reset_prob=resetProbability, max_iter=maxIter,
            )
        elif weightCol is not None:
            ranks = pagerank_weighted(
                ids, self._edges, weight_col=weightCol,
                reset_prob=resetProbability, max_iter=maxIter,
            )
        else:
            ranks = pagerank(
                ids, self._edges, reset_prob=resetProbability, max_iter=maxIter
            )
        # a vertex without a rank row gets what the walk would give it:
        # 0 when reset mass goes to the source alone (sourceId/tol modes),
        # else the reset mass only (a dangling vertex gets no contributions)
        floor = 0.0 if tol is not None or sourceId is not None else resetProbability
        v = self._vertices.join(ranks, ID, "left").withColumn(
            "pagerank", F.coalesce(F.col("pagerank"), F.lit(floor))
        )
        return GraphFrame(v, self._normalized_edges(weightCol))

    def parallelPersonalizedPageRank(
        self,
        resetProbability: float = 0.15,
        sourceIds: list | None = None,
        maxIter: int | None = None,
    ) -> "GraphFrame":
        """All sources at once (library surface): vertices carry a
        ``pageranks`` ml DenseVector with one entry per source in
        ``sourceIds`` order, edges carry the src-normalized ``weight`` --
        the library's exact result shape. One edge join + one aggregate
        per iteration regardless of k (see
        algorithms.pagerank_parallel_personalized)."""
        if not sourceIds or maxIter is None:
            raise ValueError(
                "parallelPersonalizedPageRank: pass sourceIds (non-empty) "
                "and maxIter"
            )
        from pyspark.ml.functions import array_to_vector

        ranks = pagerank_parallel_personalized(
            self._vertices.select(ID),
            self._edges,
            source_ids=list(sourceIds),
            reset_prob=resetProbability,
            max_iter=maxIter,
        )
        v = self._vertices.join(ranks, ID, "left").withColumn(
            "pageranks", array_to_vector("pageranks")
        )
        return GraphFrame(v, self._normalized_edges())

    def _normalized_edges(self, weight_col: str | None = None) -> DataFrame:
        """The edges plus the library's src-normalized ``weight``:
        1/outDegree, or ``weight_col`` over its per-src sum."""
        w = F.lit(1.0) if weight_col is None else F.col(weight_col)
        norm = self._edges.groupBy(F.col(SRC).alias(ID)).agg(F.sum(w).alias("_norm"))
        return (
            self._edges.join(norm, self._edges[SRC] == norm[ID])
            .drop(ID)
            .withColumn("weight", w / F.col("_norm"))
            .drop("_norm")
        )

    def connectedComponents(self, algorithm: str = "graphframes", **kw) -> DataFrame:
        """Undirected connected components; returns the vertex DataFrame
        plus a ``component`` column = smallest member id."""
        comp = connected_components(self._vertices.select(ID), self._edges, **kw)
        return self._vertices.join(comp, ID, "left").withColumn(
            # vertices absent from the edge set are their own component
            "component", F.coalesce(F.col("component"), F.col(ID))
        )

    def stronglyConnectedComponents(self, maxIter: int = 10) -> DataFrame:
        """Directed strongly connected components; returns the vertex
        DataFrame plus a ``component`` column = smallest member id of the
        vertex's SCC (library shape).

        Distributed trim + forward-coloring + backward-confinement
        peeling (the GraphX family):

        1. TRIM to fixpoint: a vertex with no in-edge or no out-edge in
           the remaining graph is a singleton SCC -- assign and drop.
           (Handles chains/DAG tails in O(peel depth) cheap rounds that
           pure coloring would pay one expensive round each for.)
        2. COLOR forward to fixpoint: color(v) = min id that reaches v.
        3. CONFINE backward from each color root c (color(c) = c): every
           vertex that reaches c within its own color class is in c's
           SCC -- assign and drop.
        Repeat. Every round peels at least each root's SCC, so the outer
        loop is bounded by the peel depth; ``maxIter`` is a loud guard
        (ValueError on non-convergence, like connected_components), not a
        silent truncation. All steps are id-keyed joins/aggregates;
        frontiers are localCheckpointed like bfs/shortestPaths."""
        ids = self._vertices.select(ID)
        e_all = (
            self._edges.select(SRC, DST)
            .filter(F.col(SRC) != F.col(DST))
            .distinct()
            .localCheckpoint(eager=True)
        )
        remaining = ids.localCheckpoint(eager=True)
        done: DataFrame | None = None

        def _assign(frame: DataFrame) -> None:
            nonlocal done
            done = frame if done is None else done.unionByName(frame)

        for _ in range(maxIter):
            if remaining.limit(1).count() == 0:
                break
            # edges among remaining vertices
            e = (
                e_all.join(remaining.withColumnRenamed(ID, SRC), SRC, "left_semi")
                .join(remaining.withColumnRenamed(ID, DST), DST, "left_semi")
                .localCheckpoint(eager=True)
            )
            # 1. trim to fixpoint
            while True:
                have_in = e.select(F.col(DST).alias(ID)).distinct()
                have_out = e.select(F.col(SRC).alias(ID)).distinct()
                core = (
                    remaining.join(have_in, ID, "left_semi")
                    .join(have_out, ID, "left_semi")
                    .localCheckpoint(eager=True)
                )
                trivial = remaining.join(core, ID, "left_anti")
                if trivial.limit(1).count() == 0:
                    break
                _assign(trivial.select(ID, F.col(ID).alias("component")))
                remaining = core
                e = (
                    e.join(remaining.withColumnRenamed(ID, SRC), SRC, "left_semi")
                    .join(remaining.withColumnRenamed(ID, DST), DST, "left_semi")
                    .localCheckpoint(eager=True)
                )
            if remaining.limit(1).count() == 0:
                break
            # 2. forward min-color propagation to fixpoint
            color = remaining.withColumn("color", F.col(ID)).localCheckpoint(eager=True)
            while True:
                upd = (
                    e.join(
                        color.select(F.col(ID).alias(SRC), F.col("color").alias("c_src")),
                        SRC,
                    )
                    .groupBy(DST)
                    .agg(F.min("c_src").alias("m"))
                )
                new = (
                    color.join(upd.withColumnRenamed(DST, ID), ID, "left")
                    .select(
                        ID,
                        F.least(
                            F.col("color"), F.coalesce(F.col("m"), F.col("color"))
                        ).alias("color"),
                    )
                    .localCheckpoint(eager=True)
                )
                changed = (
                    new.alias("n")
                    .join(color.alias("o"), ID)
                    .filter(F.col("n.color") != F.col("o.color"))
                    .limit(1)
                    .count()
                )
                color = new
                if changed == 0:
                    break
            # 3. backward confinement from the color roots
            scc = color.filter(F.col("color") == F.col(ID)).localCheckpoint(eager=True)
            while True:
                cand = e.join(
                    scc.select(F.col(ID).alias(DST), F.col("color").alias("c_u")), DST
                ).select(F.col(SRC).alias(ID), "c_u")
                add = (
                    cand.join(color, ID)
                    .filter(F.col("color") == F.col("c_u"))
                    .select(ID, "color")
                    .distinct()
                    .join(scc, ID, "left_anti")
                    .localCheckpoint(eager=True)
                )
                if add.limit(1).count() == 0:
                    break
                scc = scc.unionByName(add).localCheckpoint(eager=True)
            _assign(scc.select(ID, F.col("color").alias("component")))
            remaining = remaining.join(scc, ID, "left_anti").localCheckpoint(eager=True)
        if remaining.limit(1).count() > 0:
            raise ValueError(
                f"stronglyConnectedComponents did not converge in {maxIter} "
                "peeling rounds; raise maxIter"
            )
        if done is None:  # empty vertex frame: nothing was ever assigned
            return self._vertices.withColumn("component", F.col(ID))
        return self._vertices.join(done, ID, "left").withColumn(
            "component", F.coalesce(F.col("component"), F.col(ID))
        )

    def labelPropagation(self, maxIter: int) -> DataFrame:
        """Community detection; returns vertices plus a ``label`` column.
        Ties pinned (count DESC, label ASC) -- deterministic, unlike the
        library."""
        lab = label_propagation(self._vertices.select(ID), self._edges, max_iter=maxIter)
        return self._vertices.join(lab, ID, "left").withColumn(
            "label", F.coalesce(F.col("label"), F.col(ID))
        )

    def triangleCount(self) -> DataFrame:
        """Per-vertex triangle count over the undirected simple graph;
        returns vertices plus a ``count`` column (0 for triangle-free
        vertices, like the library)."""
        tri = triangle_count(self._edges).withColumnRenamed("v", ID)
        return self._vertices.join(tri, ID, "left").withColumn(
            "count", F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
        ).drop("n_triangles")

    def shortestPaths(self, landmarks: list) -> DataFrame:
        """Hop distances to each landmark (undirected, unweighted);
        returns vertices plus a ``distances`` map column keyed by
        landmark, omitting unreachable landmarks -- library semantics.
        One bounded BFS per landmark (landmark lists are small by
        contract)."""
        spark = self._vertices.sparkSession
        ids = self._vertices.select(ID)
        # Dedupe (duplicate landmarks would create ambiguous duplicate
        # columns) but keep first-appearance order for the map keys.
        uniq = list(dict.fromkeys(landmarks))
        out = ids
        for i, lm in enumerate(uniq):
            seeds = spark.createDataFrame([(lm,)], [ID])
            # bfs_levels early-exits on an empty frontier, so an
            # effectively-unbounded round cap never runs past the graph's
            # diameter -- no |V| count() needed just to bound the loop.
            lv = bfs_levels(ids, self._edges, seeds, max_iter=2**31 - 1)
            # Temp columns are named by landmark INDEX: landmark values
            # containing dots/backticks would break F.col resolution if
            # interpolated into the name.
            out = out.join(lv.withColumnRenamed("level", f"_d_{i}"), ID, "left")
        pairs = []
        for i, lm in enumerate(uniq):
            pairs.append(
                F.when(
                    F.col(f"_d_{i}").isNotNull(),
                    F.struct(F.lit(lm).alias("k"), F.col(f"_d_{i}").cast("int").alias("v")),
                )
            )
        dist = F.map_from_entries(
            F.filter(F.array(*pairs), lambda s: s.isNotNull())
        ).alias("distances")
        return self._vertices.join(
            out.select(ID, dist), ID, "left"
        )

    def find(self, pattern: str) -> DataFrame:
        """Motif finding (library DSL subset): ``;``-separated terms, each
        either an edge ``(a)-[e]->(b)``, a negated edge ``!(a)-[]->(b)``,
        or a bare vertex ``(a)``. Vertices/edges may be anonymous
        (``()`` / ``[]``); repeated vertex names unify; anonymous elements
        never unify. Returns one struct column per DISTINCT named element
        in first-appearance order -- vertex structs carry all vertex
        columns, edge structs all edge columns (library result shape).

        Compiled to a pure join composition: one equi-join per positive
        edge term (the edges frame self-joined on the shared endpoint
        ids), one LEFT ANTI join per negated term, and a final attribute
        join per named vertex. Shuffles are keyed on vertex ids --
        Catalyst picks sort-merge or broadcast per side as usual, so the
        plan scales like any multi-way equi-join. Patterns whose terms
        share no vertex are cross products by definition (library
        semantics) and are only safe on tiny frames.

        Repeated edge names unify like the library's: the later
        occurrence is an equality constraint on (src, dst) against the
        first (with parallel multi-edges this matches any same-endpoint
        edge, not the identical row). Remaining limit vs the library
        (loud, not silent): negated terms need an anonymous edge and both
        endpoints named + bound by a positive/vertex term.
        """
        import re

        edge_re = re.compile(r"^(!?)\((\w*)\)-\[(\w*)\]->\((\w*)\)$")
        vert_re = re.compile(r"^\((\w*)\)$")
        terms = [t.strip() for t in pattern.split(";") if t.strip()]
        if not terms:
            raise ValueError(f"empty motif pattern: {pattern!r}")
        parsed: list[tuple] = []
        for t in terms:
            m = edge_re.match(t)
            if m:
                neg, a, e, b = m.groups()
                if neg and e:
                    raise ValueError(
                        f"negated motif term {t!r} must use an anonymous edge []"
                    )
                parsed.append(("edge", bool(neg), a or None, e or None, b or None))
                continue
            m = vert_re.match(t)
            if m:
                parsed.append(("vertex", m.group(1) or None))
                continue
            raise ValueError(f"unsupported motif term: {t!r}")

        ecols = list(self._edges.columns)
        vcols = list(self._vertices.columns)
        bound: dict[str, str] = {}  # vertex name -> id column in cur
        out_order: list[tuple[str, str]] = []  # (kind, name) first appearance
        edge_col: dict[str, str] = {}  # edge name -> struct column in cur
        edge_ends: dict[str, tuple[str, str]] = {}  # edge name -> (src, dst) cols
        cur: DataFrame | None = None

        def note(kind: str, name: str | None) -> None:
            if name and (kind, name) not in out_order:
                out_order.append((kind, name))

        # positive edge terms first: they are the generators every other
        # term constrains
        for i, term in enumerate(p for p in parsed if p[0] == "edge" and not p[1]):
            _, _, a, e, b = term
            note("vertex", a)
            note("edge", e)
            note("vertex", b)
            if e is not None and e in edge_ends:
                # repeated edge name = the SAME edge ELEMENT (library
                # semantics): no second edge occurrence is generated --
                # the term's endpoints bind to / filter against the FIRST
                # occurrence's src/dst columns. Exact on multigraphs too:
                # a parallel same-endpoint edge is a DIFFERENT element,
                # and a (src, dst)-only self-join would wrongly match it
                # (duplicated rows, e showing the first edge).
                s0, d0 = edge_ends[e]
                for vname, col0 in ((a, s0), (b, d0)):
                    if vname is None:
                        continue
                    if vname in bound and bound[vname] != col0:
                        cur = cur.filter(F.col(bound[vname]) == F.col(col0))
                    else:
                        bound.setdefault(vname, col0)
                continue
            t = self._edges.select(
                F.struct(*[F.col(c) for c in ecols]).alias(f"__mfe_{i}"),
                F.col(SRC).alias(f"__mfs_{i}"),
                F.col(DST).alias(f"__mfd_{i}"),
            )
            if a is not None and a == b:
                t = t.filter(F.col(f"__mfs_{i}") == F.col(f"__mfd_{i}"))
            if cur is None:
                cur = t
            else:
                cond = []
                if a in bound:
                    cond.append(cur[bound[a]] == t[f"__mfs_{i}"])
                if b in bound:
                    cond.append(cur[bound[b]] == t[f"__mfd_{i}"])
                if cond:
                    c = cond[0]
                    for extra in cond[1:]:
                        c = c & extra
                    cur = cur.join(t, c)
                else:
                    cur = cur.crossJoin(t)  # disconnected pattern: library semantics
            if a is not None and a not in bound:
                bound[a] = f"__mfs_{i}"
            if b is not None and b not in bound:
                bound[b] = f"__mfd_{i}"
            if e is not None and e not in edge_col:
                edge_col[e] = f"__mfe_{i}"
                edge_ends[e] = (f"__mfs_{i}", f"__mfd_{i}")

        # bare vertex terms bind any still-unbound names against the
        # vertex frame (already-bound names add nothing: endpoints unify)
        for j, term in enumerate(p for p in parsed if p[0] == "vertex"):
            name = term[1]
            note("vertex", name)
            if name is None or name in bound:
                continue
            ids = self._vertices.select(F.col(ID).alias(f"__mfv_{j}"))
            cur = ids if cur is None else cur.crossJoin(ids)
            bound[name] = f"__mfv_{j}"

        # negated terms: anti-join the bound endpoint pair against edges
        for term in (p for p in parsed if p[0] == "edge" and p[1]):
            _, _, a, e, b = term
            if a is None or b is None or a not in bound or b not in bound:
                raise ValueError(
                    f"negated motif term !({a})-[]->({b}) requires both "
                    f"endpoints to be named and bound by a positive term"
                )
            anti = self._edges.select(
                F.col(SRC).alias("__mfas"), F.col(DST).alias("__mfad")
            )
            cur = cur.join(
                anti,
                (cur[bound[a]] == anti["__mfas"]) & (cur[bound[b]] == anti["__mfad"]),
                "left_anti",
            )

        if cur is None:
            # e.g. "()" or "(); ()": nothing to generate rows from and
            # nothing to return -- refuse loudly instead of asserting.
            raise ValueError(f"motif pattern binds no elements: {pattern!r}")

        # attach vertex attribute structs (inner join, like the library:
        # an edge endpoint absent from the vertices frame drops the match)
        for k, (kind, name) in enumerate(out_order):
            if kind != "vertex":
                continue
            vstruct = self._vertices.select(
                F.col(ID).alias(f"__mfj_{k}"),
                F.struct(*[F.col(c) for c in vcols]).alias(f"__mfo_{name}"),
            )
            cur = cur.join(vstruct, cur[bound[name]] == vstruct[f"__mfj_{k}"]).drop(
                f"__mfj_{k}"
            )

        final = []
        for kind, name in out_order:
            src_col = f"__mfo_{name}" if kind == "vertex" else edge_col[name]
            final.append(F.col(src_col).alias(name))
        return cur.select(*final)

    def bfs(self, fromExpr, toExpr, edgeFilter=None, maxPathLength: int = 10) -> DataFrame:
        """Path-materializing breadth-first search (library semantics):
        SHORTEST paths from any vertex matching ``fromExpr`` to any
        matching ``toExpr``, one row per path, columns
        ``from, e0, v1, e1, ..., to`` (all structs). Stops at the FIRST
        level where any target is reached -- targets farther away are not
        returned -- and returns an empty ``(from, to)`` frame when no
        target is reachable within ``maxPathLength``.

        Implementation: level-synchronous join expansion -- each round
        joins the frontier's end vertices against the (optionally
        filtered) edge frame and attaches the next vertex struct; the
        per-level reached probe reads the checkpointed frontier. No
        visited-set is needed for correctness: a minimal-length walk is
        necessarily simple, so every row at the stopping level is a
        simple shortest path. Frontier width can grow with path count --
        the library has the same property; bound ``maxPathLength``
        accordingly on dense graphs.
        """
        v = self._vertices
        vstruct = F.struct(*[F.col(c) for c in v.columns])
        src_ids = v.filter(fromExpr).select(ID)
        tgt_ids = v.filter(toExpr).select(ID).localCheckpoint(eager=True)
        # level 0: a source that is itself a target is a zero-hop path
        hits0 = v.filter(fromExpr).filter(toExpr)
        if hits0.limit(1).count() > 0:
            return hits0.select(vstruct.alias("from"), vstruct.alias("to"))
        e = self._edges if edgeFilter is None else self._edges.filter(edgeFilter)
        # loop-invariant frames materialized ONCE: the per-level joins and
        # the per-level reached/empty probes would otherwise re-execute the
        # caller's full vertex/edge lineage (often a multi-join build) on
        # every round -- measured 43s -> 6s on the g13 entry.
        base_e = e.select(
            F.struct(*[F.col(c) for c in e.columns]).alias("__es"),
            F.col(SRC).alias("__s"),
            F.col(DST).alias("__d"),
        ).localCheckpoint(eager=True)
        base_v = v.select(
            vstruct.alias("__vs"), F.col(ID).alias("__vid")
        ).localCheckpoint(eager=True)
        cur = (
            v.join(src_ids, ID, "left_semi")
            .select(vstruct.alias("from"), F.col(ID).alias("__cur"))
            .localCheckpoint(eager=True)
        )
        for k in range(1, maxPathLength + 1):
            ek = base_e.select(F.col("__es").alias(f"e{k - 1}"), "__s", "__d")
            vk = base_v.select(F.col("__vs").alias(f"__v{k}"), "__vid")
            cur = (
                cur.join(ek, cur["__cur"] == ek["__s"])
                .join(vk, ek["__d"] == vk["__vid"])
                .drop("__cur", "__s", "__d")
                .withColumnRenamed("__vid", "__cur")
                .localCheckpoint(eager=True)
            )
            hits = cur.join(
                tgt_ids.withColumnRenamed(ID, "__cur"), "__cur", "left_semi"
            )
            if hits.limit(1).count() > 0:
                renames = [F.col("from")]
                for i in range(1, k):
                    renames.append(F.col(f"e{i - 1}"))
                    renames.append(F.col(f"__v{i}").alias(f"v{i}"))
                renames.append(F.col(f"e{k - 1}"))
                renames.append(F.col(f"__v{k}").alias("to"))
                return hits.select(*renames)
            if cur.limit(1).count() == 0:
                break  # frontier died out before maxPathLength
        out_schema = v.schema
        empty = v.sparkSession.createDataFrame([], out_schema)
        es = F.struct(*[F.col(c) for c in v.columns])
        return empty.select(es.alias("from"), es.alias("to"))


class _TripletCol:
    """Lazy ``F.col`` descriptor: building a Column requires an active
    SparkSession in classic mode, so resolve at ATTRIBUTE ACCESS (inside a
    running session) rather than at import."""

    def __init__(self, name: str) -> None:
        self._name = name

    def __get__(self, obj, objtype=None):
        return F.col(self._name)


class AggregateMessages:
    """Companion to ``GraphFrame.aggregateMessages`` mirroring
    ``graphframes.lib.AggregateMessages``: column handles into the triplet
    (``src``/``dst``/``edge``) for message expressions, and ``msg`` for
    the aggregation column. Class attributes, so notebook code using the
    library's ``AM.src["attr"]`` idiom ports verbatim."""

    src = _TripletCol("src")
    dst = _TripletCol("dst")
    edge = _TripletCol("edge")
    msg = _TripletCol("MSG")


AM = AggregateMessages
