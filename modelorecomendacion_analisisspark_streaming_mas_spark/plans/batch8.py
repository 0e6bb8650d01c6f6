"""Round-6 catalog additions -- four LLM-data-pipeline operator families
the catalog did not cover yet, each Spark-first and oracle-paired:

* d13: CROSS-DOCUMENT exact substring-span detection -- the shape of
  suffix-array training-data dedup (Lee et al. 2021, "Deduplicating
  Training Data Makes Language Models Better"), re-expressed as a
  position-carrying shingle join + run-length compression. d04/d02 score
  whole-document similarity; d13 finds the duplicated SPANS inside
  otherwise-distinct documents.
* q82: DSIR-style importance weighting (Xie et al. 2023, "Data Selection
  for Language Models via Importance Resampling"): hashed-unigram bucket
  LM of a target slice vs the raw corpus, per-document log-likelihood
  ratio, per-source selection summary.
* m07: offline ranking-metric evaluation (hit-rate / precision / NDCG @5)
  of a popularity recommender under a leave-last-order-out split -- the
  eval harness every recommender pipeline needs beside ALS training
  (reference trains ALS in ModeloRecomendacion/ModeloRecomendacion.ipynb
  but publishes RMSE only; ranking metrics are the production measure).
* t10: per-document token Shannon entropy + type-token ratio, aggregated
  per source -- the low-entropy/gibberish axis of quality filtering that
  t01 (lengths), t06 (repetition), and t08 (LM cross-entropy) do not
  capture.
* e08: MMR-diversified retrieval (Carbonell & Goldstein 1998) -- greedy
  maximal-marginal-relevance selection over each query's ANN pool, with
  the sequential greedy recurrence unrolled into oracle CTEs.

Scale notes are inline per query; every window is partitioned, every
global top-N is TakeOrdered-bounded, and the only broadcast sides are
O(buckets) or O(k) by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import md5_hash32, tokenize
from ..operators.similarity import CENTROID_STRIDE, pinned_centroids, rank_centroids, with_norm
from ..sources.readers import load_table
from .catalog import grid_mean_spark, grid_mean_sql, register

# --------------------------------------------------------------------------
# d13: duplicated-span statistics. Every k-token window (k=5) of every
# document is a position-stamped shingle; a position is DUPLICATED when
# its shingle occurs in >= 2 distinct documents; consecutive duplicated
# positions compress into spans (run-length via the pos - row_number
# trick). Per doc: position counts, duplicated fraction, longest span.
#
# Scale shape: one explode (corpus token count rows), one partial-agg'd
# groupBy(shingle) for the duplicate set, one shuffle join keyed on the
# shingle (AQE handles hot stop-phrase skew), then per-DOC windows only.
# The suffix-array construction this replaces is inherently sequential;
# the shingle join is embarrassingly parallel at the cost of fixing k.
# --------------------------------------------------------------------------

_D13_K = 5
_D13_TOPN = 50

# position-stamped shingles via lead() windows (the slice-comprehension
# struct form was quadratic in doc length -- r14 longstr find, the
# shingle_rows_sql class with a position kept): _rid partitions so
# duplicate doc rows (dupx) cannot interleave window positions.
_D13_SH = " || ' ' || ".join(
    ["_w"] + [f"lead(_w, {k}) OVER pw" for k in range(1, _D13_K)]
)

_D13_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= {_D13_K}
), pos AS (
  SELECT doc_id, pos, sh FROM (
    SELECT doc_id, _i AS pos, _n, {_D13_SH} AS sh
    FROM (SELECT _rid, doc_id, len(t) AS _n,
                 generate_subscripts(t, 1) AS _i, unnest(t) AS _w FROM tok)
    WINDOW pw AS (PARTITION BY _rid ORDER BY _i)
  ) WHERE pos + {_D13_K - 1} <= _n
), dup AS (
  SELECT sh FROM pos GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
), dp AS (
  SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (sh)
), runs AS (
  SELECT doc_id, grp, count(*) AS run_len
  FROM (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        FROM dp)
  GROUP BY doc_id, grp
), agg AS (
  SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_dup_pos,
         CAST(max(run_len) AS BIGINT) AS longest_span
  FROM runs GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) - {_D13_K - 1} AS BIGINT) AS n_pos,
       coalesce(a.n_dup_pos, 0) AS n_dup_pos,
       round(coalesce(a.n_dup_pos, 0)
             / CAST(len(t.t) - {_D13_K - 1} AS DOUBLE), 4) AS dup_frac,
       coalesce(a.longest_span, 0) AS longest_span
FROM tok t LEFT JOIN agg a USING (doc_id)
ORDER BY dup_frac DESC, longest_span DESC, doc_id
LIMIT {_D13_TOPN}
"""


def duplicated_span_stats(docs: DataFrame, k: int = _D13_K) -> DataFrame:
    """Per-document duplicated-span statistics over k-token shingles.
    Returns one row per document with >= k tokens: total shingle
    positions, duplicated positions, duplicated fraction, and the
    longest consecutive duplicated span (in positions; add k-1 for its
    token length)."""
    from ..sources.readers import spread

    # spread: the k-gram concat lattice below is the dominant CPU and a
    # replay-sized documents scan is ONE split (no-op on real scans)
    tok = spread(docs.select("doc_id", "text")).select(
        "doc_id", tokenize("text").alias("t")
    ).filter(F.size("t") >= k)
    sh_arr = F.transform(
        F.sequence(F.lit(1), F.size("t") - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice("t", i, k)),
    )
    pos = tok.select(
        "doc_id", F.posexplode(sh_arr).alias("pos0", "sh")
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "sh"
    # persisted (r16): consumed twice (the nd>=2 dup-shingle aggregate AND
    # the dp probe join); unpersisted, both sides re-ran the shingle
    # explode. One row per shingle position -- the same volume the groupBy
    # shuffle already carries; spills via MEMORY_AND_DISK.
    ).persist()
    dup = (
        pos.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    dp = pos.join(dup, "sh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        dp.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    agg = runs.groupBy("doc_id").agg(
        F.sum("run_len").cast("long").alias("n_dup_pos"),
        F.max("run_len").cast("long").alias("longest_span"),
    )
    base = tok.select("doc_id", (F.size("t") - (k - 1)).cast("long").alias("n_pos"))
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce("n_dup_pos", F.lit(0)).cast("long").alias("n_dup_pos"),
            F.round(
                F.coalesce("n_dup_pos", F.lit(0)) / F.col("n_pos").cast("double"), 4
            ).alias("dup_frac"),
            F.coalesce("longest_span", F.lit(0)).cast("long").alias("longest_span"),
        )
    )


@register(
    "d13_duplicated_spans",
    oracle=_D13_ORACLE,
    doc="Cross-document exact substring-span detection (suffix-array dedup "
    "shape, Lee et al. 2021): position-stamped 5-gram shingle join + "
    "run-length compression; top-50 most-duplicated documents.",
)
def d13_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stats = duplicated_span_stats(docs)
    order = [F.desc("dup_frac"), F.desc("longest_span"), F.asc("doc_id")]
    # dup_frac is a ratio of two small ints -- the same IEEE division in
    # both engines -- so ordering on it is cross-engine deterministic.
    return stats.orderBy(*order).limit(_D13_TOPN)


# --------------------------------------------------------------------------
# q82: DSIR importance weights. Target distribution = English documents
# (lang = 'en'); raw distribution = whole corpus. Features are hashed
# unigram buckets (md5 -> 256 buckets, bit-identical in DuckDB); both
# LMs are Laplace-smoothed bucket unigram models. Per document:
# w(doc) = sum_tokens [ln p_target(bucket) - ln p_raw(bucket)], i.e. the
# log importance ratio DSIR resamples by. Published per SOURCE (mean
# weight, selected count at a fixed threshold) so the result set's
# membership is fixed -- no float rank boundary.
#
# Scale shape: one explode + groupBy(bucket) builds BOTH 256-row LMs in
# a single pass (conditional aggregation); the per-token scoring join is
# a broadcast of the 256-row ratio table; per-doc and per-source aggs
# are partial-agg friendly. Nothing driver-side beyond the 256-row table.
# --------------------------------------------------------------------------

_Q82_BUCKETS = 256
_Q82_THRESHOLD = 0.05

_Q82_ORACLE = f"""
WITH tokens AS (
  SELECT doc_id, source, lang = 'en' AS is_target,
         unnest(string_split(text, ' ')) AS w
  FROM documents
), toks AS (
  SELECT doc_id, source, is_target,
         ('0x' || substr(md5(w), 1, 8))::UBIGINT % {_Q82_BUCKETS} AS b
  FROM tokens
), lm AS (
  SELECT b,
         count(*) FILTER (WHERE is_target) AS tc,
         count(*) AS rc
  FROM toks GROUP BY b
), tot AS (
  SELECT sum(tc) AS tt, sum(rc) AS rt FROM lm
), ratio AS (
  -- lr pre-rounded to 9dp BEFORE the per-doc sum (the q62 device): the
  -- downstream sum runs in engine-dependent partial-agg order, and
  -- unquantized libm ln() terms could flip a 6dp digit across engines.
  SELECT b,
         round(ln((tc + 1) / CAST(tt + {_Q82_BUCKETS} AS DOUBLE))
               - ln((rc + 1) / CAST(rt + {_Q82_BUCKETS} AS DOUBLE)), 9) AS lr
  FROM lm CROSS JOIN tot
), doc_w AS (
  SELECT t.doc_id, t.source, sum(r.lr) / count(*) AS w_mean
  FROM toks t JOIN ratio r USING (b)
  GROUP BY t.doc_id, t.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(w_mean), 6) AS avg_weight,
       CAST(count(*) FILTER (WHERE round(w_mean, 6) >= {_Q82_THRESHOLD})
            AS BIGINT) AS n_selected
FROM doc_w GROUP BY source
ORDER BY source
"""


@register(
    "q82_dsir_importance_weights",
    oracle=_Q82_ORACLE,
    doc="DSIR importance resampling weights (Xie et al. 2023): hashed-"
    "unigram bucket LMs (target=en vs raw), per-doc mean log ratio, "
    "per-source selection summary at a fixed threshold.",
)
def q82_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(tokenize("text")).alias("w"),
    ).select(
        "doc_id", "source", "is_target",
        (md5_hash32(F.col("w")) % _Q82_BUCKETS).alias("b"),
    )
    lm = toks.groupBy("b").agg(
        F.count(F.when(F.col("is_target"), 1)).alias("tc"),
        F.count(F.lit(1)).alias("rc"),
    )
    # Totals stay IN-PLAN (1-row agg cross-joined onto the 256-row LM):
    # a driver-side .first() here would add a third corpus scan -- DSIR
    # inherently needs two (LM build + scoring), not three.
    tot = lm.agg(F.sum("tc").alias("tt"), F.sum("rc").alias("rt"))
    ratio = lm.crossJoin(F.broadcast(tot)).select(
        "b",
        # 9dp pre-round before the aggregating sum, mirroring the oracle
        F.round(
            F.log((F.col("tc") + 1) / (F.col("tt") + _Q82_BUCKETS).cast("double"))
            - F.log((F.col("rc") + 1) / (F.col("rt") + _Q82_BUCKETS).cast("double")),
            9,
        ).alias("lr"),
    )
    doc_w = (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc_id", "source")
        .agg((F.sum("lr") / F.count(F.lit(1))).alias("w_mean"))
    )
    return (
        doc_w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("w_mean"), 6).alias("avg_weight"),
            F.count(F.when(F.round("w_mean", 6) >= _Q82_THRESHOLD, 1))
            .cast("long")
            .alias("n_selected"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# m07: ranking-metric evaluation of a popularity recommender under
# leave-last-order-out. Train = every order except each customer's last
# (latest o_orderdate, o_orderkey tie-break); test = that last order's
# part set. Recommend the train-global top-5 parts to every customer and
# score hit-rate@5, precision@5, NDCG@5 averaged over customers with a
# non-empty test basket.
#
# Scale shape: the split is one per-customer window on orders (shuffle
# keyed on custkey); popularity is a partial-agg count + TakeOrdered(5);
# the rec list is a 5-row broadcast; scoring joins test baskets to it.
# --------------------------------------------------------------------------

_M07_K = 5

_M07_ORACLE = f"""
WITH ranked AS (
  SELECT o_orderkey, o_custkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
), test_orders AS (
  SELECT o_orderkey, o_custkey FROM ranked WHERE rn = 1
), train_orders AS (
  SELECT o_orderkey FROM ranked WHERE rn > 1
), pop AS (
  SELECT l_partkey, count(*) AS cnt
  FROM lineitem JOIN train_orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey
), recs AS (
  SELECT l_partkey,
         row_number() OVER (ORDER BY cnt DESC, l_partkey) AS pos
  FROM pop ORDER BY cnt DESC, l_partkey LIMIT {_M07_K}
), test_basket AS (
  SELECT t.o_custkey, l.l_partkey
  FROM test_orders t JOIN lineitem l ON l.l_orderkey = t.o_orderkey
  GROUP BY t.o_custkey, l.l_partkey
), basket_size AS (
  SELECT o_custkey, count(*) AS n_rel FROM test_basket GROUP BY o_custkey
), hits AS (
  -- 1/log2(pos+1) terms pre-rounded to 12dp before the sum (libm-ulp +
  -- summation-order protection, the q62 device)
  SELECT b.o_custkey,
         count(r.pos) AS n_hits,
         coalesce(sum(round(1.0 / log2(r.pos + 1), 12)), 0.0) AS dcg
  FROM test_basket b LEFT JOIN recs r ON b.l_partkey = r.l_partkey
  GROUP BY b.o_custkey
), per_user AS (
  SELECT h.o_custkey,
         CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END AS hit,
         h.n_hits / {_M07_K}.0 AS prec,
         round(h.dcg / list_sum([round(1.0 / log2(i + 1), 12)
                           for i in generate_series(1, least({_M07_K}, s.n_rel))]),
               9) AS ndcg
  FROM hits h JOIN basket_size s USING (o_custkey)
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       {grid_mean_sql('hit', 1, 6)} AS hit_rate,
       {grid_mean_sql('prec', 5, 6)} AS precision_at_5,
       {grid_mean_sql('ndcg', 1_000_000_000, 6)} AS ndcg_at_5
FROM per_user
"""


@register(
    "m07_ranking_metrics",
    oracle=_M07_ORACLE,
    doc="Offline recommender evaluation: leave-last-order-out split, "
    "popularity top-5 recommendations, hit-rate / precision / NDCG @5 "
    "averaged over customers.",
)
def m07_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    ranked = orders.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("rn")
    )
    test_orders = ranked.filter(F.col("rn") == 1).select("o_orderkey", "o_custkey")
    train_orders = ranked.filter(F.col("rn") > 1).select("o_orderkey")
    pop = (
        li.join(train_orders, li["l_orderkey"] == train_orders["o_orderkey"])
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-5 recs: TakeOrdered bound, then a 5-row window for positions
    recs = (
        pop.orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(_M07_K)
        .withColumn(
            "pos",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("l_partkey"))),
        )
        .select("l_partkey", "pos")
    )
    test_basket = (
        test_orders.join(li, li["l_orderkey"] == test_orders["o_orderkey"])
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    basket_size = test_basket.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    hits = (
        test_basket.join(F.broadcast(recs), "l_partkey", "left")
        .groupBy("o_custkey")
        .agg(
            F.count("pos").alias("n_hits"),
            # 12dp pre-round of each 1/log2(pos+1) term, mirroring the
            # oracle (libm-ulp + summation-order protection)
            F.coalesce(
                F.sum(F.round(1.0 / F.log2(F.col("pos") + 1), 12)), F.lit(0.0)
            ).alias("dcg"),
        )
    )
    # ideal DCG depends only on min(k, n_rel) -- a k-case expression, no
    # join; terms quantized at 12dp exactly like the oracle's list_sum
    idcg_vals = [
        sum(round(1.0 / __import__("math").log2(i + 1), 12) for i in range(1, m + 1))
        for m in range(1, _M07_K + 1)
    ]
    m = F.least(F.lit(_M07_K), F.col("n_rel")).cast("int")
    idcg = F.element_at(F.array(*[F.lit(v) for v in idcg_vals]), m)
    per_user = hits.join(basket_size, "o_custkey").select(
        F.when(F.col("n_hits") > 0, 1).otherwise(0).alias("hit"),
        (F.col("n_hits") / float(_M07_K)).alias("prec"),
        F.round(F.col("dcg") / idcg, 9).alias("ndcg"),
    )
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        # grid-aligned inputs (hit integral, prec in fifths, ndcg
        # 9dp-rounded): integer-grid means (r11, t14 lesson)
        grid_mean_spark("hit", 1, 6).alias("hit_rate"),
        grid_mean_spark("prec", 5, 6).alias("precision_at_5"),
        grid_mean_spark("ndcg", 1_000_000_000, 6).alias("ndcg_at_5"),
    )


# --------------------------------------------------------------------------
# t10: token-entropy quality signals. Shannon entropy of each document's
# token distribution via the one-pass identity
#   H = log2(n) - (1/n) * sum_w c_w * log2(c_w)
# (no per-token probability division), plus type-token ratio; aggregated
# per source with a low-entropy count at a fixed threshold, so result
# membership is fixed (no float rank boundary).
#
# Scale shape: one explode + two-level groupBy (doc,token -> doc), then a
# source-level partial agg. Everything JVM-side.
# --------------------------------------------------------------------------

_T10_LOW_ENTROPY = 4.0

_T10_ORACLE = f"""
WITH cnt AS (
  SELECT doc_id, source, w, count(*) AS c
  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM documents)
  GROUP BY doc_id, source, w
), ent AS (
  -- c*log2(c) contributions pre-rounded to 9dp before the (engine-order-
  -- dependent) sum, and the resulting entropy quantized at 9dp, so a
  -- libm ulp cannot flip the 6dp digits or the low-entropy threshold.
  SELECT doc_id, source,
         round(log2(sum(c)) - sum(round(c * log2(c), 9)) / sum(c), 9) AS entropy,
         count(*) / CAST(sum(c) AS DOUBLE) AS ttr
  FROM cnt GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       -- entropy is 9dp-QUANTIZED above, i.e. grid-aligned: its 6dp mean
       -- must use the integer-grid fold (the t14 class, r12 lint) -- a
       -- round(avg(...)) here can land one ulp either side of an exact
       -- half-microunit per engine. ttr stays round(avg(...)): a
       -- varying-denominator rational, exact half-grid hits measure-zero.
       {grid_mean_sql('entropy', 1_000_000_000, 6)} AS avg_entropy,
       round(avg(ttr), 6) AS avg_ttr,
       CAST(count(*) FILTER (WHERE round(entropy, 6) < {_T10_LOW_ENTROPY})
            AS BIGINT) AS n_low_entropy
FROM ent GROUP BY source
ORDER BY source
"""


@register(
    "t10_token_entropy",
    oracle=_T10_ORACLE,
    doc="Per-document token Shannon entropy (one-pass c*log2(c) identity) "
    "+ type-token ratio, per-source quality summary with low-entropy "
    "count at a fixed threshold.",
)
def t10_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", "source", F.explode(tokenize("text")).alias("w"))
        .groupBy("doc_id", "source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ent = cnt.groupBy("doc_id", "source").agg(
        # 9dp pre-round of each c*log2(c) term + 9dp quantized entropy,
        # mirroring the oracle (summation-order / libm-ulp protection)
        F.round(
            F.log2(F.sum("c"))
            - F.sum(F.round(F.col("c") * F.log2("c"), 9)) / F.sum("c"),
            9,
        ).alias("entropy"),
        (F.count(F.lit(1)) / F.sum("c").cast("double")).alias("ttr"),
    )
    return (
        ent.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            grid_mean_spark("entropy", 1_000_000_000, 6).alias("avg_entropy"),
            F.round(F.avg("ttr"), 6).alias("avg_ttr"),
            F.count(F.when(F.round("entropy", 6) < _T10_LOW_ENTROPY, 1))
            .cast("long")
            .alias("n_low_entropy"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# e08: MMR-diversified retrieval (Carbonell & Goldstein 1998) -- the RAG /
# eval-retrieval step after ANN: from each query's top-20 relevant
# candidates, greedily select 5 maximizing
#   mmr(d) = lambda * rel(q,d) - (1 - lambda) * max_{s in selected} sim(d, s)
# so the result set trades raw relevance for coverage.
#
# Scale shape: stage 1 is e01's broadcast-query candidate scan (the only
# corpus-sized work) bounded to 20 per query by a query-partitioned
# window; stage 2 (pairwise sims + 4 greedy rounds) touches only
# 20-row-per-query frames -- the greedy loop's joins are all
# O(queries * 20^2). The greedy recurrence is UNROLLED in the oracle
# (the g02/g05 technique), so even this sequential algorithm gets a
# hash-exact twin. Scores quantized to 12dp on both sides before every
# argmax (e05's device) to kill float rank boundaries.
# --------------------------------------------------------------------------

_E08_LAMBDA = 0.7
_E08_POOL = 20
_E08_K = 5


def _e08_oracle() -> str:
    head = f"""
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
), q AS (SELECT * FROM n WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS id, c.v AS cv, c.nrm AS cn,
         round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 12) AS rel
  FROM q JOIN n c ON q.vec_id <> c.vec_id
), cand AS (
  SELECT query_id, id, cv, cn, rel
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, id) AS crn
        FROM scored)
  WHERE crn <= {_E08_POOL}
), pairs AS (
  SELECT a.query_id, a.id AS a_id, b.id AS b_id,
         round(list_dot_product(a.cv, b.cv) / (a.cn * b.cn), 12) AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.id <> b.id
), sel1 AS (
  SELECT query_id, id, 1 AS step, rel
  FROM (SELECT query_id, id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, id) AS rn
        FROM cand)
  WHERE rn = 1
)"""
    ctes = [head.strip()]
    for t in range(2, _E08_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, t))
        ctes.append(f"""sel{t} AS (
  SELECT query_id, id, {t} AS step, rel FROM (
    SELECT c.query_id, c.id, c.rel,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY round({_E08_LAMBDA} * c.rel - {1 - _E08_LAMBDA:.1f} * ms.maxsim, 12) DESC,
                      c.id
           ) AS rn
    FROM cand c
    JOIN (SELECT p.query_id, p.a_id, max(p.sim) AS maxsim
          FROM pairs p JOIN ({prev}) s
            ON p.query_id = s.query_id AND p.b_id = s.id
          GROUP BY p.query_id, p.a_id) ms
      ON ms.query_id = c.query_id AND ms.a_id = c.id
    WHERE NOT EXISTS (SELECT 1 FROM ({prev}) s2
                      WHERE s2.query_id = c.query_id AND s2.id = c.id)
  ) WHERE rn = 1
)""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, _E08_K + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, id AS neighbor_id, CAST(step AS BIGINT) AS step,
       round(rel, 4) AS relevance
FROM ({union})
ORDER BY query_id, step
"""
    )


@register(
    "e08_mmr_diversified",
    oracle=_e08_oracle(),
    doc="MMR-diversified retrieval: top-20 relevance pool per query (e01 "
    "shape), then 5 greedy maximal-marginal-relevance picks (lambda=0.7); "
    "greedy recurrence unrolled into the oracle CTEs.",
)
def e08_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double, _dot
    from ..sources.readers import spread

    emb = load_table(spark, sf_dir, "embeddings")
    n = spread(emb).select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm")), 12
            ).alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("id"))
    cand = (
        scored.withColumn("crn", F.row_number().over(wq))
        .filter(F.col("crn") <= _E08_POOL)
        .drop("crn")
        # the pool is queries x 20 rows; everything below iterates on it,
        # so materialize once instead of re-running the corpus scan per
        # greedy round
        .localCheckpoint(eager=True)
    )
    a = cand.select("query_id", F.col("id").alias("a_id"), "cv", "cn")
    b = cand.select(
        "query_id", F.col("id").alias("b_id"),
        F.col("cv").alias("bv"), F.col("cn").alias("bn"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id", "a_id", "b_id",
            F.round(
                _dot(F.col("cv"), F.col("bv")) / (F.col("cn") * F.col("bn")), 12
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    slim = cand.select("query_id", "id", "rel")
    sel = (
        slim.withColumn("rn", F.row_number().over(wq.orderBy(F.desc("rel"), F.asc("id"))))
        .filter(F.col("rn") == 1)
        .select("query_id", "id", F.lit(1).alias("step"), "rel")
    )
    lam = _E08_LAMBDA
    for t in range(2, _E08_K + 1):
        maxsim = (
            pairs.join(
                sel.select("query_id", F.col("id").alias("b_id")),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", "a_id")
            .agg(F.max("sim").alias("maxsim"))
        )
        rem = slim.join(
            sel.select("query_id", "id"), ["query_id", "id"], "left_anti"
        )
        pick = (
            rem.join(
                maxsim,
                (rem["query_id"] == maxsim["query_id"])
                & (rem["id"] == maxsim["a_id"]),
            )
            .select(rem["query_id"], "id", "rel", "maxsim")
            .withColumn(
                "mmr", F.round(lam * F.col("rel") - (1 - lam) * F.col("maxsim"), 12)
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("mmr"), F.asc("id")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("query_id", "id", F.lit(t).alias("step"), "rel")
        )
        # truncate lineage each round: the greedy chain otherwise nests 4
        # levels of join+window plans over a <=25-row frame and planning
        # time dwarfs execution
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.col("step").cast("long").alias("step"),
        F.round("rel", 4).alias("relevance"),
    ).orderBy("query_id", "step")


# --------------------------------------------------------------------------
# d14: SemDeDup -- semantic deduplication via cluster-then-pairwise
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): assign every embedding to its
# nearest pinned centroid (e03's deterministic coarse quantizer -- the
# device that makes the clustering SQL-oracle-checkable, unlike seeded
# k-means), then compare pairs ONLY within a cluster; a document is
# dropped when an earlier-id cluster-mate sits above the cosine
# threshold (keep-first rule). The whole point at 100 TB: pairwise cost
# is quadratic in LIST size, never corpus size -- the inverted list is
# the unit of comparison.
#
# Scale shape: centroid table broadcast (|corpus|/37 rows at test SF; a
# fixed k at scale); assignment is a per-vector argmax window keyed on
# vec_id (perfectly spread); the pair join is an equi-join on cid.
# Assignment rank quantized to 12dp on both sides (e05's device).
# --------------------------------------------------------------------------

_D14_TAU = 0.30

_D14_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn
         FROM n WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT n.vec_id, n.v, n.nrm, cent.cid,
         round(list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn), 12) AS cc
  FROM n, cent
), ranked AS (
  SELECT vec_id, v, nrm, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), lists AS (SELECT vec_id, v, nrm, cid FROM ranked WHERE crn = 1),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM lists a JOIN lists b ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT b_id AS dropped_id,
       CAST(min(a_id) AS BIGINT) AS kept_id,
       CAST(count(*) AS BIGINT) AS n_matches
FROM pairs WHERE cos >= {_D14_TAU}
GROUP BY b_id
ORDER BY dropped_id
"""


@register(
    "d14_semantic_dedup",
    oracle=_D14_ORACLE,
    doc="SemDeDup (Abbas et al. 2023): nearest-pinned-centroid clustering "
    "(e03's deterministic quantizer), within-cluster pairwise cosine, "
    "keep-first drop list at tau=0.30; pairwise cost bounded by list "
    "size, never corpus size.",
)
def d14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double, _dot
    from ..sources.readers import spread

    emb = load_table(spark, sf_dir, "embeddings")
    n = with_norm(spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v")))
    lists = (
        rank_centroids(n, pinned_centroids(n), digits=12)
        .filter(F.col("crn") == 1)
        .select("vec_id", "v", "vn", "cid")
        # a real SemDeDup pipeline persists the cluster assignment (it is
        # reused downstream); materializing here also feeds the blowup
        # guard below without a second corpus scan
        .localCheckpoint(eager=True)
    )
    # The failure mode pairwise-within-cluster cannot survive: a
    # degenerate quantizer that routes everything to one centroid turns
    # the pair join quadratic in CORPUS size. Fail loudly at a counted
    # cap instead of OOMing (the paper's answer is re-clustering with
    # more centroids).
    max_list = 50_000
    hot = (
        lists.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") > max_list)
        .take(1)
    )
    if hot:
        raise ValueError(
            f"d14: cluster {hot[0]['cid']} holds {hot[0]['sz']} vectors "
            f"(cap {max_list}); pairwise within it would be quadratic -- "
            "increase centroid count (lower stride) and re-cluster"
        )
    a = lists.select(
        "cid", F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"), F.col("vn").alias("an"),
    )
    b = lists.select(
        "cid", F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"), F.col("vn").alias("bn"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cos", _dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn")))
    )
    return (
        pairs.filter(F.col("cos") >= _D14_TAU)
        .groupBy("b_id")
        .agg(
            F.min("a_id").cast("long").alias("kept_id"),
            F.count(F.lit(1)).cast("long").alias("n_matches"),
        )
        .select(F.col("b_id").alias("dropped_id"), "kept_id", "n_matches")
        .orderBy("dropped_id")
    )


# --------------------------------------------------------------------------
# d15: content-defined chunking (CDC) dedup -- the storage-dedup trick
# (LBFS, Muthitacharoen et al. 2001; rsync/Venti lineage) applied to
# training text: chunk boundaries fall where the rolling 5-gram hash
# hits 0 mod 16, so boundaries are a function of CONTENT, not position
# -- insert one token at a document's head and, unlike fixed-size
# chunking, every later chunk identity survives. Duplicate chunks are
# then exact-hash matches across documents (cf. d13, which finds spans
# at fixed k but is oblivious to chunk identity reuse).
#
# Scale shape: boundary detection and chunk assembly are pure JVM array
# HOFs inside the row (no explode until chunks exist -- corpus rows,
# then ~n/16-token chunk rows); cross-doc duplicate detection is one
# partial-agg'd groupBy(chunk_hash). Every window is absent; ordering
# is an exact integer-ratio sort.
# --------------------------------------------------------------------------

_D15_W = 5  # rolling window (tokens)
_D15_MOD = 16  # expected chunk length = MOD tokens
_D15_TOPN = 50

def _cdc_chunk_ctes() -> str:
    """Shared DuckDB CTE chain producing the CDC chunk lattice `ch`
    (doc_id, n, clen, chash) over DISTINCT document identities --
    fully LINEAR in document length: the old form built per-doc hash
    LISTS and boundary/span comprehensions that DuckDB evaluates
    quadratically on megadocs (the r14 longstr shingle_rows_sql class).
    Rolling boundary detection runs as lag() windows over unnested
    token positions; span membership is a cumulative bound count; chunk
    text reassembles via ordered string_agg. 31^4/31^3/31^2 literals
    match the engine's cdc_chunk_frame polynomial exactly. `_rid`
    partitions every window (the t14 device) so duplicate rows can
    never interleave positions."""
    return f"""tok AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, string_split(text, ' ') AS t
  FROM (SELECT DISTINCT doc_id, text FROM documents)
  WHERE len(string_split(text, ' ')) >= {_D15_W}
), hh AS (
  SELECT _rid, doc_id, n, i, w,
         ('0x' || substr(md5(w), 1, 8))::UBIGINT % 2147483647 AS h
  FROM (SELECT _rid, doc_id, len(t) AS n,
               generate_subscripts(t, 1) AS i, unnest(t) AS w FROM tok)
), roll AS (
  SELECT _rid, doc_id, n, i, w,
         CASE WHEN i >= {_D15_W} AND i < n AND
                   (lag(h, 4) OVER pw * 923521 + lag(h, 3) OVER pw * 29791
                    + lag(h, 2) OVER pw * 961 + lag(h, 1) OVER pw * 31 + h)
                   % 2147483647 % {_D15_MOD} = 0
              THEN 1 ELSE 0 END AS is_bound
  FROM hh
  WINDOW pw AS (PARTITION BY _rid ORDER BY i)
), sp AS (
  SELECT _rid, doc_id, n, i, w,
         1 + coalesce(sum(is_bound) OVER (
               PARTITION BY _rid ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS span_id
  FROM roll
), ch AS (
  SELECT doc_id, any_value(n) AS n, CAST(count(*) AS BIGINT) AS clen,
         md5(string_agg(w, ' ' ORDER BY i)) AS chash
  FROM sp GROUP BY _rid, doc_id, span_id
)"""


_D15_ORACLE = f"""
WITH {_cdc_chunk_ctes()}, dup AS (
  SELECT chash FROM ch GROUP BY chash HAVING count(DISTINCT doc_id) >= 2
), per_doc AS (
  SELECT c.doc_id, any_value(c.n) AS n,
         count(*) AS n_chunks,
         count(d.chash) AS n_dup_chunks,
         coalesce(sum(c.clen) FILTER (WHERE d.chash IS NOT NULL), 0) AS dup_tokens
  FROM ch c LEFT JOIN dup d USING (chash)
  GROUP BY c.doc_id
)
SELECT p.doc_id,
       CAST(p.n_chunks AS BIGINT) AS n_chunks,
       CAST(p.n_dup_chunks AS BIGINT) AS n_dup_chunks,
       CAST(p.dup_tokens AS BIGINT) AS dup_tokens,
       round(p.dup_tokens / CAST(p.n AS DOUBLE), 4) AS dup_token_frac
FROM per_doc p
ORDER BY dup_token_frac DESC, doc_id
LIMIT {_D15_TOPN}
"""


def cdc_chunk_frame(docs: DataFrame, spread_input: bool = True) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, n, clen, chash): content-defined
    chunks of each document (the d15 chunker, shared with the s30
    streaming probe -- identical expressions, so batch and stream chunk
    IDENTITIES agree by construction).

    Boundary hash = per-token md5 reduced once, combined per window by a
    degree-4 polynomial (exact int64, same constants as rolling_hash):
    one md5 per TOKEN instead of one md5 of a rebuilt 5-gram string per
    POSITION -- 5x fewer hashes, zero string concatenation, identical
    content-definition (window function of the same 5 tokens)."""
    w, mod = _D15_W, _D15_MOD
    # one row per document IDENTITY: duplicate doc rows (r13 dupx) would
    # multiply every chunk count and break the dup-fraction denominators
    from ..sources.readers import spread

    src = docs.select("doc_id", "text")
    if spread_input:
        # spread: the per-token md5 + polynomial window lattice below is
        # the dominant CPU; a replay-sized scan is ONE split (no-op on
        # real multi-split scans). Callers chunking a SMALL frame per
        # micro-batch (the s30 probe) pass spread_input=False -- there a
        # repartition per batch costs more than the parallelism buys.
        src = spread(src)
    tok = (
        src
        .dropDuplicates(["doc_id", "text"])
        .select("doc_id", tokenize("text").alias("t"))
        .filter(F.size("t") >= w)
    )
    n = F.size("t")
    M = 2_147_483_647
    tok = tok.withColumn(
        "hs", F.transform("t", lambda x: md5_hash32(x) % F.lit(M))
    )
    pows = [923521, 29791, 961, 31, 1]

    def _window_hash(i):
        total = None
        for j, p in enumerate(pows):
            term = F.element_at("hs", i - (w - 1 - j)) * F.lit(p)
            total = term if total is None else total + term
        return total % F.lit(M)

    bounds = F.filter(
        F.sequence(F.lit(w), n), lambda i: _window_hash(i) % mod == 0
    )
    # bs MUST be a materialized column, not an expression: the chunks
    # lambda below references it per span element, and Catalyst
    # re-evaluates lambda-captured EXPRESSIONS per element (the r14
    # shingles class) -- the whole bounds filter would re-run once per
    # chunk, O(n^2/MOD) per doc
    tok = tok.withColumn(
        "bs",
        F.concat(
            F.array(F.lit(0)),
            F.filter(bounds, lambda x: x < n),
            F.array(n),
        ),
    )
    bs = F.col("bs")
    # chunk stats are computed INSIDE the row (one transform over the
    # span list; total slice work = n tokens) and only the tiny
    # (clen, chash) structs explode. The old shape exploded the spans
    # FIRST and carried the full token array into every span row --
    # O(len x n_spans) bytes per doc, the q39 payload-duplication class:
    # invisible at 64 KiB (40 MB/doc), ~16 GB per 1 MiB megadoc (r14
    # longstr find; the oracle had the matching quadratic in its list
    # comprehensions, so the pair hid each other).
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(bs) - 1),
        lambda j: F.struct(
            (F.element_at(bs, j + 1) - F.element_at(bs, j)).alias("clen"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "t",
                        F.element_at(bs, j) + 1,
                        F.element_at(bs, j + 1) - F.element_at(bs, j),
                    ),
                )
            ).alias("chash"),
        ),
    )
    return (
        tok.select("doc_id", n.alias("n"), F.explode(chunks).alias("c"))
        .select("doc_id", "n", F.col("c.clen").alias("clen"), F.col("c.chash").alias("chash"))
    )


@register(
    "d15_cdc_chunk_dedup",
    oracle=_D15_ORACLE,
    doc="Content-defined chunking dedup (LBFS/rsync lineage): 5-token "
    "window hash boundaries (per-token md5 + degree-4 polynomial, mod "
    "16), exact chunk-hash duplicates across documents, per-doc "
    "duplicated-token fraction; boundary detection is in-row JVM array "
    "HOFs, cross-doc detection one groupBy.",
)
def d15_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # persisted (r16): consumed twice (cross-doc dup aggregate + the
    # per-doc join-back); unpersisted, both re-ran the chunk lattice
    ch = cdc_chunk_frame(docs).persist()
    dup = (
        ch.groupBy("chash")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chash")
        .withColumn("is_dup", F.lit(1))
    )
    per_doc = (
        ch.join(dup, "chash", "left")
        .groupBy("doc_id", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.count("is_dup").cast("long").alias("n_dup_chunks"),
            F.coalesce(
                F.sum(F.when(F.col("is_dup").isNotNull(), F.col("clen"))), F.lit(0)
            )
            .cast("long")
            .alias("dup_tokens"),
        )
    )
    return (
        per_doc.select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "dup_tokens",
            F.round(F.col("dup_tokens") / F.col("n").cast("double"), 4).alias(
                "dup_token_frac"
            ),
        )
        .orderBy(F.desc("dup_token_frac"), F.asc("doc_id"))
        .limit(_D15_TOPN)
    )


# --------------------------------------------------------------------------
# t11: Zipf-law fit of the corpus term distribution -- tokenizer/corpus
# planning signal (a healthy natural-language corpus fits ln f ~ -s ln r
# with s near 1; synthetic or templated text bends the curve). OLS over
# (ln rank, ln freq) of the top-100 terms via Spark's built-in
# regr_slope/regr_intercept/regr_r2 JVM aggregates (q33 is the
# applyInPandas OLS exemplar; this is the built-in-aggregate one).
# The rank table is TakeOrdered-bounded to 100 rows before the window,
# same as q64.
# --------------------------------------------------------------------------

_T11_TOPK = 100

_T11_ORACLE = f"""
WITH freq AS (
  SELECT term, count(*) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
), top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rank
  FROM freq ORDER BY cnt DESC, term LIMIT {_T11_TOPK}
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(cnt), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(cnt), ln(rank)), 6) AS zipf_intercept,
       round(regr_r2(ln(cnt), ln(rank)), 6) AS r2
FROM top
"""


@register(
    "t11_zipf_fit",
    oracle=_T11_ORACLE,
    doc="Zipf-law OLS fit over the top-100 term frequencies (ln f ~ s ln "
    "r) via built-in regr_slope/regr_intercept/regr_r2 aggregates; "
    "TakeOrdered-bounded rank table.",
)
def t11_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        freq.orderBy(F.desc("cnt"), F.asc("term"))
        .limit(_T11_TOPK)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("term"))),
        )
    )
    lf, lr = F.log(F.col("cnt").cast("double")), F.log(F.col("rank").cast("double"))
    return top.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lf, lr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# t12: BPE tokenizer APPLICATION -- the step after t09's merge-candidate
# counting: apply a trained merge table to encode the corpus. The merge
# table is a PINNED model artifact (like e03's pinned centroids -- what
# makes the sequential encode oracle-checkable); each merge is one
# greedy left-to-right fold over the token array (non-overlapping: a
# just-merged token is never the left side of the same merge's next
# application, exactly BPE's pair-replacement semantics), and the 8
# merges chain as 8 nested folds -- all in-row JVM expressions, no
# explode until the per-source aggregate.
#
# Scale shape: one pass over (word, freq) -- encoding cost rides the
# DISTINCT-word table, not corpus occurrences (the classic BPE-training
# optimization, same as t09); per-source stats weight back by frequency.
# --------------------------------------------------------------------------

_T12_MERGES = [
    ("t", "h"), ("th", "e"), ("e", "r"), ("s", "t"),
    ("o", "r"), ("a", "n"), ("i", "n"), ("st", "r"),
]


def _t12_oracle() -> str:
    # one merge per CTE layer: DuckDB's binder rejects NESTED list_reduce
    # lambdas, but a column reference between layers binds fine
    layers = []
    for i, (a, b) in enumerate(_T12_MERGES):
        # each layer re-wraps tokens as single-element lists: the fold's
        # accumulator is a FLAT token list, and list_reduce seeds from the
        # first element, which must therefore be a list itself
        layers.append(f"""m{i} AS (
  SELECT * REPLACE (list_reduce([[t] for t in chars], (acc, x) ->
      CASE WHEN len(acc) > 0 AND acc[-1] = '{a}' AND x[1] = '{b}'
           THEN acc[:len(acc)-1] || ['{a}{b}'] ELSE acc || x END) AS chars)
  FROM {'words_ch' if i == 0 else f'm{i - 1}'}
)""")
    chain = ",\n".join(layers)
    last = f"m{len(_T12_MERGES) - 1}"
    return f"""
WITH words AS (
  SELECT source, w AS word, count(*) AS freq
  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY source, w
), words_ch AS (
  SELECT source, word, freq,
         [word[i] for i in generate_series(1, length(word))] AS chars
  FROM words
),
{chain},
enc AS (
  SELECT source, freq, length(word) AS n_chars, len(chars) AS n_tokens
  FROM {last}
)
SELECT source,
       CAST(sum(freq) AS BIGINT) AS n_words,
       CAST(sum(n_chars * freq) AS BIGINT) AS chars_total,
       CAST(sum(n_tokens * freq) AS BIGINT) AS tokens_total,
       round(sum(n_tokens * freq) / CAST(sum(n_chars * freq) AS DOUBLE), 6)
         AS compression
FROM enc GROUP BY source
ORDER BY source
"""


def bpe_encode_tokens(word_col, merges=None):
    """Token array after applying the pinned BPE merge table to a word:
    chars -> N greedy left-to-right pair-merge folds (JVM expressions)."""
    merges = merges if merges is not None else _T12_MERGES
    toks = F.transform(
        F.sequence(F.lit(1), F.length(word_col)),
        lambda i: F.substring(word_col, i, 1),
    )
    empty = F.expr("cast(array() as array<string>)")

    def one_merge(a: str, b: str):
        def step(acc, x):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a)
                & (x == b),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(F.concat(acc, F.array(x)))

        return step

    for a, b in merges:
        toks = F.aggregate(toks, empty, one_merge(a, b))
    return toks


@register(
    "t12_bpe_encode",
    oracle=_t12_oracle(),
    doc="BPE tokenizer application: pinned 8-merge table encoded as 8 "
    "greedy left-to-right folds over the distinct-word table, per-source "
    "token/char compression stats weighted back by word frequency.",
)
def t12_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("source", F.explode(tokenize("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("source", F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    enc = words.select(
        "source",
        "freq",
        F.length("word").alias("n_chars"),
        F.size(bpe_encode_tokens(F.col("word"))).alias("n_tokens"),
    )
    return (
        enc.groupBy("source")
        .agg(
            F.sum("freq").cast("long").alias("n_words"),
            F.sum(F.col("n_chars") * F.col("freq")).cast("long").alias("chars_total"),
            F.sum(F.col("n_tokens") * F.col("freq")).cast("long").alias("tokens_total"),
            F.round(
                F.sum(F.col("n_tokens") * F.col("freq"))
                / F.sum(F.col("n_chars") * F.col("freq")).cast("double"),
                6,
            ).alias("compression"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q83: PSI drift monitor -- the training-data drift primitive: compare
# the value distribution of two snapshots of the same feed (here: the
# events table split by md5(event_id) into "baseline" vs "candidate",
# the deterministic stand-in for yesterday/today) with the Population
# Stability Index per feature bucket:
#   PSI = sum_b (p_cand(b) - p_base(b)) * ln(p_cand(b) / p_base(b))
# over 10 fixed-width value buckets per event_type, Laplace-smoothed so
# empty buckets stay finite. PSI >= 0.2 is the conventional "investigate"
# flag, evaluated on the 6dp-rounded value so the boolean cannot flip on
# a ulp.
#
# Scale shape: one scan, one groupBy (type, bucket, side) partial agg;
# everything after runs on |types| x 10 rows.
# --------------------------------------------------------------------------

_Q83_BUCKETS = 10
_Q83_VLO, _Q83_VHI = 0.0, 1.0  # events.value domain

_Q83_ORACLE = f"""
WITH tagged AS (
  SELECT event_type,
         ('0x' || substr(md5('snap|' || event_id::VARCHAR), 1, 8))::UBIGINT % 2 AS side,
         least(greatest(floor((value - {_Q83_VLO}) / (({_Q83_VHI} - {_Q83_VLO}) / {_Q83_BUCKETS})),
                        0), {_Q83_BUCKETS - 1}) AS bucket
  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), cells AS (
  SELECT event_type, bucket,
         count(*) FILTER (WHERE side = 0) AS n_base,
         count(*) FILTER (WHERE side = 1) AS n_cand
  FROM tagged GROUP BY event_type, bucket
), tot AS (
  SELECT event_type, sum(n_base) AS t_base, sum(n_cand) AS t_cand
  FROM cells GROUP BY event_type
), p AS (
  SELECT c.event_type,
         (c.n_base + 1) / CAST(t.t_base + {_Q83_BUCKETS} AS DOUBLE) AS pb,
         (c.n_cand + 1) / CAST(t.t_cand + {_Q83_BUCKETS} AS DOUBLE) AS pc
  FROM cells c JOIN tot t USING (event_type)
)
SELECT event_type,
       round(sum(round((pc - pb) * ln(pc / pb), 9)), 6) AS psi,
       round(sum(round((pc - pb) * ln(pc / pb), 9)), 6) >= 0.2 AS drift_flag
FROM p GROUP BY event_type
ORDER BY event_type
"""
# per-bucket PSI contributions pre-rounded to 9dp before the sum (the q62
# device): the 10-term sum runs in engine-dependent order over libm ln()
# values, and an unquantized ulp could flip a 6dp digit or the 0.2 flag.


@register(
    "q83_psi_drift",
    oracle=_Q83_ORACLE,
    doc="PSI drift monitor: deterministic snapshot split of events, "
    "10-bucket Laplace-smoothed value histograms per event_type, "
    "Population Stability Index + conventional 0.2 flag on the rounded "
    "value.",
)
def q83_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_events

    # NaN = invalid reading, excluded like NULL on both engines (the r13
    # extremes variant: Spark floor(NaN) -> NULL -> bucket 0, DuckDB's
    # NaN-sorts-high -> bucket 9 -- the histogram must not depend on it)
    ev = load_events(spark, sf_dir).filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    width = (_Q83_VHI - _Q83_VLO) / _Q83_BUCKETS
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - _Q83_VLO) / width), F.lit(0)),
        F.lit(_Q83_BUCKETS - 1),
    )
    side = (
        F.conv(F.substring(F.md5(F.concat(F.lit("snap|"), F.col("event_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    cells = (
        ev.select("event_type", side.alias("side"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.when(F.col("side") == 0, 1)).alias("n_base"),
            F.count(F.when(F.col("side") == 1, 1)).alias("n_cand"),
        )
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("n_base").alias("t_base"), F.sum("n_cand").alias("t_cand")
    )
    p = cells.join(tot, "event_type").select(
        "event_type",
        ((F.col("n_base") + 1) / (F.col("t_base") + _Q83_BUCKETS).cast("double")).alias("pb"),
        ((F.col("n_cand") + 1) / (F.col("t_cand") + _Q83_BUCKETS).cast("double")).alias("pc"),
    )
    psi = F.round(
        F.sum(
            F.round((F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb")), 9)
        ),
        6,
    )
    return (
        p.groupBy("event_type")
        .agg(psi.alias("psi"))
        .select("event_type", "psi", (F.col("psi") >= 0.2).alias("drift_flag"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q84: training-mix allocation -- temperature-based source sampling
# (alpha = 0.5, the multilingual-LM exponent of Conneau & Lample 2019)
# under per-source AVAILABILITY CAPS, solved by water-filling: allocate
# the token budget proportionally to c_s^alpha, clamp saturated sources
# at their capacity, redistribute the excess among the unsaturated --
# three rounds unrolled (enough to reach the fixpoint for any source
# count at these SFs; the oracle unrolls the identical recurrence, the
# g02 technique applied to an optimization loop).
#
# Scale shape: ONE corpus aggregate (tokens per source); every
# water-filling round runs on the |sources|-row frame. Floors are taken
# on 9dp-quantized products so an engine ulp cannot flip an integer
# boundary.
# --------------------------------------------------------------------------

_Q84_ALPHA = 0.5
_Q84_BUDGET_FRAC = 0.4
_Q84_ROUNDS = 3


def _q84_round_sql(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""
d{k} AS (
  SELECT sum(CASE WHEN NOT sat THEN w END) AS denom,
         sum(CASE WHEN sat THEN cap END) AS used
  FROM {prev}
),
r{k} AS (
  SELECT p.source, p.cap, p.w,
         p.sat OR (NOT p.sat AND
           floor(round(p.w / d.denom * (b.budget - coalesce(d.used, 0)), 9))
             >= p.cap) AS sat,
         CASE WHEN p.sat THEN p.alloc
              WHEN floor(round(p.w / d.denom * (b.budget - coalesce(d.used, 0)), 9))
                   >= p.cap THEN p.cap
              ELSE CAST(floor(round(p.w / d.denom
                   * (b.budget - coalesce(d.used, 0)), 9)) AS BIGINT) END AS alloc
  FROM {prev} p CROSS JOIN d{k} d CROSS JOIN b
)"""


def _q84_oracle() -> str:
    rounds = ",".join(_q84_round_sql(k) for k in range(1, _Q84_ROUNDS + 1))
    return f"""
WITH avail AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
  FROM documents GROUP BY source
), b AS (
  SELECT CAST(floor(sum(cap) * {_Q84_BUDGET_FRAC}) AS BIGINT) AS budget FROM avail
), r0 AS (
  SELECT source, cap, pow(cap, {_Q84_ALPHA}) AS w,
         false AS sat, CAST(0 AS BIGINT) AS alloc
  FROM avail
),{rounds}
SELECT source, cap, sat AS saturated, alloc AS tokens_allocated
FROM r{_Q84_ROUNDS}
ORDER BY source
"""


def waterfill_allocation(
    avail: DataFrame,
    budget_frame: DataFrame,
    alpha: float = _Q84_ALPHA,
    rounds: int = _Q84_ROUNDS,
) -> DataFrame:
    """Water-filling temperature allocation over an (source, cap) frame
    and a 1-row (budget) frame: proportional to cap^alpha, saturated
    sources clamp at cap and their excess redistributes among the rest.
    Returns (source, cap, saturated, tokens_allocated)."""
    state = (
        avail.crossJoin(F.broadcast(budget_frame))
        .withColumn("w", F.pow("cap", alpha))
        .withColumn("sat", F.lit(False))
        .withColumn("alloc", F.lit(0).cast("long"))
    )
    for _ in range(rounds):
        d = state.agg(
            F.sum(F.when(~F.col("sat"), F.col("w"))).alias("denom"),
            F.coalesce(F.sum(F.when(F.col("sat"), F.col("cap"))), F.lit(0)).alias(
                "used"
            ),
        )
        share = F.floor(
            F.round(
                F.col("w") / F.col("denom") * (F.col("budget") - F.col("used")), 9
            )
        ).cast("long")
        state = (
            state.crossJoin(F.broadcast(d))
            .withColumn(
                "alloc",
                F.when(F.col("sat"), F.col("alloc"))
                .when(share >= F.col("cap"), F.col("cap"))
                .otherwise(share),
            )
            .withColumn("sat", F.col("sat") | (share >= F.col("cap")))
            .drop("denom", "used")
        )
    return state.select(
        "source",
        "cap",
        F.col("sat").alias("saturated"),
        F.col("alloc").alias("tokens_allocated"),
    ).orderBy("source")


@register(
    "q84_token_budget_waterfill",
    oracle=_q84_oracle(),
    doc="Training-mix allocation: alpha=0.5 temperature sampling over "
    "source availability with water-filling redistribution of saturated "
    "sources' excess (3 unrolled rounds); one corpus aggregate, then "
    "|sources|-row arithmetic.",
)
def q84_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(tokenize("text"))).cast("long").alias("cap")
    )
    budget_frame = avail.agg(
        F.floor(F.sum("cap") * _Q84_BUDGET_FRAC).cast("long").alias("budget")
    )
    return waterfill_allocation(avail, budget_frame)


# --------------------------------------------------------------------------
# q85: FROZEN-CLASSIFIER quality filtering -- the model-based curation
# stage (FineWeb-Edu / DCLM style): a trained quality classifier is
# FROZEN and swept over the corpus as a pure scoring pass. At 100 TB the
# model is a broadcast constant and the sweep is scan-shaped -- per-doc
# feature extraction + a dot product + sigmoid, all JVM expressions, no
# Python in the hot path, ONE shuffle (the per-source report agg).
# The reference scores docs only with hand heuristics; this is the
# production upgrade: the heuristic features become MODEL INPUTS and the
# decision boundary is learned (weights pinned here so the catalog query
# is deterministic; tests/test_batch7_ops.py trains an MLlib
# LogisticRegression on the same features to show the pinned scorer is
# the deployment half of a real train/deploy split).
# --------------------------------------------------------------------------

_Q85_STOPS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
_Q85_W = {"bias": -5.5, "len": 0.6, "div": 3.0, "toklen": 0.4, "stop": -2.0}
_Q85_CUT = 0.5

_Q85_ORACLE = f"""
WITH feat AS (
  SELECT source, string_split(text, ' ') AS toks, text
  FROM documents
), sc AS (
  SELECT source, len(toks) AS n_tokens,
         round(1.0 / (1.0 + exp(-(
             {_Q85_W['bias']}
           + {_Q85_W['len']} * ln(1 + len(toks))
           + {_Q85_W['div']} * (len(list_distinct(toks))::DOUBLE / len(toks))
           + {_Q85_W['toklen']} * (length(replace(text, ' ', ''))::DOUBLE / len(toks))
           + {_Q85_W['stop']} * (len(list_filter(toks,
                 t -> list_contains({_Q85_STOPS!r}, t)))::DOUBLE / len(toks))
         ))), 6) AS score
  FROM feat
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN score >= {_Q85_CUT} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {grid_mean_sql('score', 1_000_000, 6)} AS avg_score,
       CAST(sum(CASE WHEN score >= {_Q85_CUT} THEN n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM sc GROUP BY source
"""


def classifier_quality_score(text_col):
    """Frozen logistic quality score as a single JVM expression tree:
    sigmoid(w . [ln(1+len), distinct-ratio, mean-token-len, stop-frac]),
    rounded to 6dp. Whole-stage-codegen friendly; broadcastable weights
    are plain literals."""
    toks = F.split(text_col, " ")
    n_tok = F.size(toks)
    f_len = F.log(F.lit(1.0) + n_tok)
    f_div = F.size(F.array_distinct(toks)) / n_tok
    f_tok = F.length(F.regexp_replace(text_col, " ", "")) / n_tok
    stops = F.array(*[F.lit(s) for s in _Q85_STOPS])
    f_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))) / n_tok
    z = (
        F.lit(_Q85_W["bias"])
        + F.lit(_Q85_W["len"]) * f_len
        + F.lit(_Q85_W["div"]) * f_div
        + F.lit(_Q85_W["toklen"]) * f_tok
        + F.lit(_Q85_W["stop"]) * f_stop
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6), n_tok


@register(
    "q85_classifier_quality_filter",
    oracle=_Q85_ORACLE,
    doc="Model-based quality filtering with a frozen logistic classifier "
    "(FineWeb-Edu shape): per-doc feature extraction + sigmoid scoring as "
    "one codegen'd projection, threshold gate, per-source keep report. "
    "Scan-shaped; one shuffle.",
)
def q85_classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    score, n_tok = classifier_quality_score(F.col("text"))
    scored = docs.select(
        "source", n_tok.alias("n_tokens"), score.alias("score")
    )
    kept = F.col("score") >= _Q85_CUT
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        # score is 6dp-rounded: integer-grid mean (r11, t14 lesson)
        grid_mean_spark("score", 1_000_000, 6).alias("avg_score"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
    )


# --------------------------------------------------------------------------
# t13: BPE tokenizer TRAINING -- the iterative half that t09 (one round
# of pair counts) and t12 (applying pinned merges) bracket. Classic
# Sennrich et al. 2016 training loop, Spark-first:
#   corpus -> distinct-word histogram (ONE corpus pass, the only big
#   shuffle; persisted), then per round: pair counts over the histogram
#   (explode + sum agg -- shuffle sized by |alphabet U merges|^2, tiny),
#   argmax to the driver (O(1) rows -- the learned merge IS driver
#   state, exactly like a trained model), greedy left-to-right
#   non-overlapping merge as a pure JVM F.aggregate fold.
# At 100 TB the histogram is |distinct words| << corpus, the iteration
# cost never touches the corpus again, and every merge round is a
# codegen'd projection over the persisted histogram. Integer-only
# arithmetic: the oracle (unrolled per-round recursive CTEs replaying
# the same greedy fold) is exact with zero float risk.
# --------------------------------------------------------------------------

_T13_ROUNDS = 4


def _t13_round_sql(r: int) -> str:
    return f"""
p{r} AS (
  SELECT pr.lhs AS lhs, pr.rhs AS rhs, CAST(sum(freq) AS BIGINT) AS n
  FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(syms)),
                  i -> struct_pack(lhs := syms[i], rhs := syms[i+1]))) AS pr
    FROM w{r-1}
  )
  GROUP BY 1, 2
),
b{r} AS (SELECT lhs, rhs, n FROM p{r} ORDER BY n DESC, lhs, rhs LIMIT 1),
m{r} AS (
  SELECT w.word, w.freq, w.syms, b.lhs AS mA, b.rhs AS mB, 1 AS i,
         CAST([] AS VARCHAR[]) AS acc
  FROM w{r-1} w CROSS JOIN b{r} b
  UNION ALL
  SELECT word, freq, syms, mA, mB,
         CASE WHEN i < len(syms) AND syms[i] = mA AND syms[i+1] = mB
              THEN i + 2 ELSE i + 1 END AS i,
         CASE WHEN i < len(syms) AND syms[i] = mA AND syms[i+1] = mB
              THEN list_append(acc, mA || mB)
              ELSE list_append(acc, syms[i]) END AS acc
  FROM m{r} WHERE i <= len(syms)
),
w{r} AS (SELECT word, freq, acc AS syms FROM m{r} WHERE i > len(syms))"""


def _t13_oracle() -> str:
    rounds = ",".join(_t13_round_sql(r) for r in range(1, _T13_ROUNDS + 1))
    finals = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rank, lhs, rhs, lhs || rhs AS merged, n"
        f" FROM b{r}"
        for r in range(1, _T13_ROUNDS + 1)
    )
    return f"""
WITH RECURSIVE w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS syms
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
),{rounds}
{finals}
"""


def bpe_greedy_merge(syms_col, lhs: str, rhs: str):
    """One BPE merge round over a symbol array: greedy left-to-right
    non-overlapping replacement of adjacent (lhs, rhs) with lhs||rhs,
    as a pure JVM fold (F.aggregate). A just-merged element equals
    lhs||rhs != lhs, so `last(acc) == lhs` marks exactly the positions
    the classic trainer merges -- no overlap double-merge."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (s == F.lit(rhs)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), s)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


@register(
    "t13_bpe_train_merges",
    oracle=_t13_oracle(),
    doc="BPE tokenizer training (Sennrich 2016), 4 merge rounds: one "
    "corpus pass builds the persisted word histogram; each round counts "
    "adjacent symbol pairs, takes the argmax merge (n DESC, pair ASC), "
    "and applies it as a greedy JVM fold. Integer-exact oracle via "
    "unrolled recursive CTEs.",
)
def t13_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
            ).alias("syms"),
        )
    )
    cur = words.persist()
    persisted = [cur]
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for r in range(1, _T13_ROUNDS + 1):
            pairs = (
                cur.filter(F.size("syms") >= 2)
                .select(
                    "freq",
                    F.explode(
                        F.expr(
                            "transform(sequence(0, size(syms) - 2),"
                            " i -> struct(syms[i] AS lhs, syms[i+1] AS rhs))"
                        )
                    ).alias("p"),
                )
                .groupBy("p.lhs", "p.rhs")
                .agg(F.sum("freq").alias("n"))
            )
            # O(1) driver rows: the argmax merge is the model being learned
            rows = pairs.orderBy(F.desc("n"), "lhs", "rhs").limit(1).collect()
            if not rows:
                # degenerate corpus (no adjacent pair anywhere -- every
                # word fully merged, all words single-char, or an EMPTY
                # corpus, the r12 empty-tables hostile variant): STOP
                # and return the merges learned so far. This is what the
                # oracle does too -- each unrolled b{r} CTE with no
                # pairs contributes zero rows (an empty pair table stays
                # empty for every later round), so the short merge table
                # is the AGREED answer, not a divergence.
                break
            best = rows[0]
            merges.append(
                (r, best["lhs"], best["rhs"], best["lhs"] + best["rhs"], int(best["n"]))
            )
            if r < _T13_ROUNDS:
                cur = cur.select(
                    "word",
                    "freq",
                    bpe_greedy_merge(
                        F.col("syms"), best["lhs"], best["rhs"]
                    ).alias("syms"),
                ).persist()
                persisted.append(cur)
        return spark.createDataFrame(
            merges, "rank long, lhs string, rhs string, merged string, n long"
        )
    finally:
        for df in persisted:
            df.unpersist()


# --------------------------------------------------------------------------
# e09: EMBEDDING-QUALITY PROBE EVAL -- the standard "probe suite" check
# an embedding pipeline runs after (re)training: a fixed, counted probe
# set is classified by 5-NN majority vote over the corpus and scored
# against gold labels per class. Uses e01's exact brute-force search
# (probe side broadcast: the suite is O(50) BY DESIGN -- eval cost
# scales with the corpus scan, not with corpus x corpus) and integer
# majority voting (n DESC, label ASC tie-break), so the only float
# surface is the same raw-cosine rank boundary e01 has certified for
# rounds. At 100 TB you swap the brute-force search for e03's IVF probe
# and keep every line of the voting/scoring unchanged.
# --------------------------------------------------------------------------

_E09_PROBES = 50
_E09_K = 5

# identities, not rows (r13 dupx): duplicate embedding rows multiply the
# probe set, the candidate ranks, and the vote fan-in -- both sides
# dedupe to DISTINCT (vec_id, embedding, label) before anything ranks.
_E09_ORACLE = f"""
WITH ids AS (
  SELECT DISTINCT vec_id, embedding, label FROM embeddings
), q AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label
  FROM ids WHERE vec_id < {_E09_PROBES}
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM ids
), scored AS (
  SELECT q.vec_id AS query_id, q.label AS true_label,
         c.vec_id AS neighbor_id, c.label AS nb_label,
         list_dot_product(q.v, c.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos_raw
  FROM q, c WHERE q.vec_id <> c.vec_id
), top AS (
  SELECT query_id, true_label, nb_label,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
  FROM scored QUALIFY rn <= {_E09_K}
), votes AS (
  SELECT query_id, true_label, nb_label, count(*) AS n
  FROM top GROUP BY 1, 2, 3
), pred AS (
  SELECT query_id, true_label, nb_label AS pred_label,
         row_number() OVER (PARTITION BY query_id ORDER BY n DESC, nb_label) AS vr
  FROM votes QUALIFY vr = 1
)
SELECT true_label AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS accuracy
FROM pred GROUP BY true_label
"""


@register(
    "e09_knn_label_eval",
    oracle=_E09_ORACLE,
    doc="Embedding probe-suite eval: counted 50-probe set classified by "
    "5-NN cosine majority vote (n DESC, label ASC tie-break) against "
    "gold labels; per-class accuracy from exact integer votes. Probe "
    "side broadcast; scan-shaped over the corpus.",
)
def e09_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import cosine_topk_bruteforce

    # vector identities (see _E09_ORACLE comment)
    emb = load_table(spark, sf_dir, "embeddings").dropDuplicates()
    labels = emb.select("vec_id", "label")
    probes = emb.filter(F.col("vec_id") < _E09_PROBES)
    top = cosine_topk_bruteforce(emb, probes, k=_E09_K)
    # broadcast the PROBE-SIZED sides, never the corpus label table:
    # `top` is <= probes*k rows, and the truth join needs only the
    # probe rows of `labels` -- both O(probe suite) by construction
    nb_labels = labels.withColumnRenamed("label", "nb_label")
    votes = (
        nb_labels.join(F.broadcast(top), nb_labels.vec_id == top.neighbor_id)
        .drop("vec_id")
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vw = W.partitionBy("query_id").orderBy(F.desc("n"), F.asc("nb_label"))
    pred = (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .join(
            F.broadcast(
                labels.filter(F.col("vec_id") < _E09_PROBES).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("true_label"),
                )
            ),
            "query_id",
        )
    )
    # when/otherwise(0), not bool.cast: the oracle's CASE ... ELSE 0 END
    # scores a NULL-label comparison as 0, while sum over NULL casts
    # returns NULL (seen under the r12 all-NULL hostile variant, where
    # every gold label is NULL)
    correct = F.when(F.col("nb_label") == F.col("true_label"), F.lit(1)).otherwise(
        F.lit(0)
    ).cast("long")
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(correct).alias("n_correct"),
        F.round(F.sum(correct) / F.count(F.lit(1)), 6).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# q86: EWMA VOLUME-ANOMALY detection -- the monitoring twin of q83 (PSI
# watches the value DISTRIBUTION drift; q86 watches event VOLUME): per
# event type, the daily count series is smoothed by an exponential
# moving average (alpha=0.25) and each type publishes its top-3 most anomalous
# days (|count/EWMA - 1|, the relative jump against the running mean --
# a rank, not a fixed threshold, so the report stays meaningful at any
# volume: relative day-to-day noise shrinks as 1/sqrt(n)). The corpus-sized work is ONE partial+final
# count aggregate; the recurrence then runs per type over a
# horizon-bounded daily series (365 rows/type/year -- safe inside a
# single row), as a JVM struct-accumulator fold (q68's technique).
# Exactness: the recurrence is the same IEEE double ops in the same
# fixed (chronological) order on both engines -- alpha/1-alpha are
# exact binary fractions and NO libm is involved, so the fold is
# bit-identical, not merely close; the oracle replays it as a
# per-type recursive CTE (double literals written 0.25e0 etc. to keep
# DuckDB out of DECIMAL arithmetic).
# --------------------------------------------------------------------------

_Q86_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), seq AS (
  SELECT event_type, day, n,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
  FROM daily
), rec AS (
  SELECT event_type, day, n, i, CAST(n AS DOUBLE) AS ewma,
         CAST(NULL AS DOUBLE) AS prev
  FROM seq WHERE i = 1
  UNION ALL
  SELECT s.event_type, s.day, s.n, s.i,
         0.25e0 * s.n + 0.75e0 * r.ewma, r.ewma
  -- NULL-safe type equality: a NULL event_type forms a daily series like
  -- any other group (the engine's groupBy-fold keeps it), but a plain
  -- equi-join can never chain it past i=1 (r14 nullkeys find)
  FROM rec r JOIN seq s
    ON s.event_type IS NOT DISTINCT FROM r.event_type AND s.i = r.i + 1
)
SELECT event_type, day, n,
       round(prev, 6) AS ewma_prev, round(n / prev, 6) AS ratio,
       CAST(rn AS BIGINT) AS rn
FROM (
  SELECT event_type, day, n, prev,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY abs(n / prev - 1e0) DESC, day
         ) AS rn
  FROM rec WHERE prev IS NOT NULL
) WHERE rn <= 3
"""


@register(
    "q86_ewma_anomaly",
    oracle=_Q86_ORACLE,
    doc="EWMA volume-anomaly monitor (alpha=0.25, top-3 relative jumps "
    "per type against the running mean): one corpus count aggregate, "
    "then a bit-identical JVM fold over each type's horizon-bounded "
    "daily series; oracle replays the recurrence as a recursive CTE. "
    "Rank boundaries are safe because the fold involves no libm: both "
    "engines produce bit-identical doubles.",
)
def q86_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    return ewma_anomaly_report(daily)


def ewma_anomaly_report(daily: DataFrame) -> DataFrame:
    """(event_type, day, n) -> q86's top-3 anomaly report: the
    bit-identical chronological EWMA fold + relative-jump ranking.
    Shared with s31 (streaming twin), which feeds the SAME tiny daily
    frame from streaming state -- the report logic never forks."""
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("xs")
    )
    row_t = (
        "struct<day:string,n:bigint,prev:double,ratio:double>"
    )
    acc_t = f"struct<prev:double,rows:array<{row_t}>>"
    init = F.struct(
        F.lit(None).cast("double").alias("prev"),
        F.array().cast(f"array<{row_t}>").alias("rows"),
    ).cast(acc_t)

    def step(acc, x):
        prev = acc["prev"]
        nd = x["n"].cast("double")
        new_prev = F.when(
            prev.isNull(), nd
        ).otherwise(F.lit(0.25) * nd + F.lit(0.75) * prev)
        row = F.struct(
            x["day"].alias("day"),
            x["n"].alias("n"),
            prev.alias("prev"),
            (nd / prev).alias("ratio"),
        )
        rows = F.when(prev.isNull(), acc["rows"]).otherwise(
            F.concat(acc["rows"], F.array(row))
        )
        return F.struct(new_prev.alias("prev"), rows.alias("rows"))

    folded = series.select(
        "event_type",
        F.aggregate(F.col("xs"), init, step, lambda a: a["rows"]).alias("rows"),
    )
    out = folded.select("event_type", F.explode("rows").alias("r"))
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy(
        F.desc(F.abs(F.col("r.ratio") - F.lit(1.0))), F.asc(F.col("r.day"))
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "event_type",
            F.col("r.day").alias("day"),
            F.col("r.n").alias("n"),
            F.round("r.prev", 6).alias("ewma_prev"),
            F.round("r.ratio", 6).alias("ratio"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


# --------------------------------------------------------------------------
# e10: HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack et al.
# 2009) -- the standard RAG pattern the catalog's two retrieval stacks
# feed: q62's lexical BM25 list and an e01-shaped semantic cosine list
# are fused on RANKS, rrf = sum 1/(60+rank). Fusing ranks rather than
# scores is WHY the method works across incomparable scorers -- and why
# the fusion stage here is float-safe: both engines compute
# 1/(60+int) and one fixed-order addition, bit-identical; the only
# float surfaces are the two upstream rank boundaries q62 and e01
# already certify. Both lists are TakeOrdered-bounded (50) before any
# ranking window (the t09 idiom), the fusion join is 50x50-row, and at
# scale each list generator keeps its own plan (BM25's inverted-index
# probe, ANN's IVF probe) untouched.
# --------------------------------------------------------------------------

_E10_K = 60  # RRF damping constant (Cormack et al. default)
_E10_TOPK = 20
_E10_LIST = 50
_E10_QVEC = 0  # pinned query: document/embedding id 0

# the lexical CTEs must track q62's constants: the Spark side reuses
# bm25_doc_scores, so a drifting copy here would be a silent future
# hash mismatch
from .batch6 import _Q62_B, _Q62_K1, _Q62_TERMS_SQL  # noqa: E402

_E10_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), stats AS (
  SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM base
), tok AS (
  SELECT doc_id, len(ws) AS dl, unnest(ws) AS term
  FROM base WHERE list_has_any(ws, [{_Q62_TERMS_SQL}])
), tf AS (
  SELECT doc_id, term, dl, count(*) AS tf
  FROM tok WHERE term IN ({_Q62_TERMS_SQL})
  GROUP BY doc_id, term, dl
), df_t AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT tf.doc_id,
         round(
           ln(1.0 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
           * (tf.tf * ({_Q62_K1} + 1.0))
           / (tf.tf + {_Q62_K1} * (1.0 - {_Q62_B} + {_Q62_B} * tf.dl / stats.avgdl)),
           9) AS c
  FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN stats
), lexs AS (
  -- exact integer nano sum, tracking bm25_doc_scores' _s (t04 lesson)
  SELECT doc_id, sum(CAST(round(c * 1000000000) AS BIGINT)) AS s
  FROM contrib GROUP BY doc_id
), lex AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_lex
  FROM lexs QUALIFY rank_lex <= {_E10_LIST}
), e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), qv AS (SELECT v FROM e WHERE vec_id = {_E10_QVEC}
), sems AS (
  SELECT e.vec_id AS doc_id,
         list_dot_product(qv.v, e.v)
           / (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(e.v, e.v))) AS cos
  FROM e, qv WHERE e.vec_id <> {_E10_QVEC}
), sem AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_sem
  FROM sems QUALIFY rank_sem <= {_E10_LIST}
), fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         l.rank_lex, s.rank_sem,
         coalesce(1e0 / ({_E10_K} + l.rank_lex), 0e0)
           + coalesce(1e0 / ({_E10_K} + s.rank_sem), 0e0) AS rrf
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_sem AS BIGINT) AS rank_sem,
       round(rrf, 9) AS rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rn
FROM fused QUALIFY rn <= {_E10_TOPK}
"""


@register(
    "e10_rrf_hybrid",
    oracle=_E10_ORACLE,
    doc="Hybrid retrieval, reciprocal-rank fusion of q62's BM25 list and "
    "an e01-shaped cosine list (k=60): rank-based fusion is bit-exact by "
    "construction; both lists TakeOrdered-bounded before ranking, fusion "
    "join is 50x50 rows.",
)
def e10_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.similarity import cosine_topk_bruteforce
    from .batch6 import bm25_doc_scores

    lex_order = [F.desc("_s"), F.asc("doc_id")]
    lex = (
        bm25_doc_scores(spark, sf_dir)
        .orderBy(*lex_order)
        .limit(_E10_LIST)
        .withColumn(
            "rank_lex", F.row_number().over(W.orderBy(*lex_order)).cast("long")
        )
        .select("doc_id", "rank_lex")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") == _E10_QVEC), k=_E10_LIST
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rn").alias("rank_sem"))
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_E10_K) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_E10_K) + F.col("rank_sem")), F.lit(0.0))
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id", "rank_lex", "rank_sem", rrf.alias("rrf_raw")
    )
    out_order = [F.desc("rrf_raw"), F.asc("doc_id")]
    return (
        fused.orderBy(*out_order)
        .limit(_E10_TOPK)
        .withColumn("rn", F.row_number().over(W.orderBy(*out_order)).cast("long"))
        .select(
            "doc_id", "rank_lex", "rank_sem",
            F.round("rrf_raw", 9).alias("rrf"), "rn",
        )
    )


# --------------------------------------------------------------------------
# q87: K-ANONYMOUS RELEASE aggregation -- the governance step before a
# corpus statistics table leaves the pipeline: publish per-(source,
# lang) doc counts and char totals, but any cell with fewer than k=5
# docs is PRIMARY-SUPPRESSED and rolled into a per-source
# '__suppressed__' remainder row, so small cells never leak and source
# totals are preserved exactly. Two-level aggregation: one corpus-sized
# partial+final agg to the cell table, then cell-table-sized regroup --
# the suppression decision never touches row data. Integer-only.
# (The remainder row is retained even when it is itself small --
# standard primary suppression; complementary-suppression audits are a
# release-review concern, not a query concern.)
# --------------------------------------------------------------------------

_Q87_K = 5

_Q87_ORACLE = f"""
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY source, lang
)
SELECT source,
       CASE WHEN n < {_Q87_K} THEN '__suppressed__' ELSE lang END AS lang_out,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN n < {_Q87_K} THEN 1 ELSE 0 END) AS BIGINT) AS n_cells_suppressed
FROM cells
GROUP BY source, CASE WHEN n < {_Q87_K} THEN '__suppressed__' ELSE lang END
"""


@register(
    "q87_kanon_release",
    oracle=_Q87_ORACLE,
    doc="k-anonymous release aggregation (k=5): per-(source,lang) cells "
    "with <k docs are primary-suppressed into a per-source remainder row "
    "preserving exact totals; corpus agg + cell-table regroup, "
    "integer-only.",
)
def q87_kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
    )
    lang_out = F.when(
        F.col("n") < _Q87_K, F.lit("__suppressed__")
    ).otherwise(F.col("lang"))
    return (
        cells.select(
            "source",
            lang_out.alias("lang_out"),
            "n",
            "chars",
            (F.col("n") < _Q87_K).cast("long").alias("supp"),
        )
        .groupBy("source", "lang_out")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("sum_chars"),
            F.sum("supp").cast("long").alias("n_cells_suppressed"),
        )
    )
