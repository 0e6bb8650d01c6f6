"""Round-5 catalog additions. Each entry extends a north-star family
with a shape 100 TB pipelines actually run:

* ANN: e05 truncated-dim rerank (quarter the scan bytes), e07 filtered
  search (predicate pushed into the IVF list scan).
* Dedup: d11 canonical-URL (provenance keying), d12 truncation/prefix
  (the mode Jaccard misses at wildly different lengths).
* Curation: q74 leakage-safe cluster-aware split, q75 token-budget
  curriculum (threshold refinement, no global sort), q80 per-source
  score calibration.
* Lakehouse: q77 MERGE/upsert-apply, q78 delete-propagation cascade,
  q79 ANALYZE-style table profiling.
* Text/sequence: t09 BPE merge-candidate pair counts, q73 per-user
  event-transition bigrams.
* Recommendations: m06 co-occurrence with lift (popularity-corrected).

(e06 IVFPQ lives beside its e03/e04 building blocks in northstar2.py;
s22-s24 streaming additions live in streamq.py / stateful_probe.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.similarity import CENTROID_STRIDE, pinned_centroids, rank_centroids, with_norm
from ..sources.readers import load_table
from .catalog import disc_money_sum_spark, disc_money_sum_sql, grid_mean_spark, grid_mean_sql, register


# --------------------------------------------------------------------------
# e05: truncated-dimension two-stage ANN (Matryoshka-style rerank). Pass 1
# scores ALL candidates on only the first 16 of 64 dims -- at scale that
# is a quarter of the memory bandwidth, and with the prefix stored as its
# own parquet column the full vectors are never read in the scan phase
# (column pruning). Pass 2 reranks the m=20 survivors per query with the
# full-dim cosine. Both passes are plain joins + windows -> exact oracle.
# --------------------------------------------------------------------------

_E05_PROBE_DIMS = 16
_E05_RERANK_M = 20
_E05_K = 5

_E05_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         embedding[1:{_E05_PROBE_DIMS}]::DOUBLE[] AS p
  FROM embeddings
), q AS (SELECT * FROM e WHERE vec_id < 10),
pass1 AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.v AS cv, q.v AS qv,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_dot_product(q.p, c.p)
                    / (sqrt(list_dot_product(q.p, q.p)) * sqrt(list_dot_product(c.p, c.p))), 12) DESC,
                    c.vec_id
         ) AS prn
  FROM q JOIN e c ON q.vec_id <> c.vec_id
), rerank AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos_raw
  FROM pass1 WHERE prn <= {_E05_RERANK_M}
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS rn
FROM rerank QUALIFY rn <= {_E05_K}
"""


def truncated_rerank_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = _E05_K,
    probe_dims: int = _E05_PROBE_DIMS,
    rerank_m: int = _E05_RERANK_M,
) -> DataFrame:
    """Two-stage ANN: coarse cosine on the leading ``probe_dims`` dims
    over all candidates, exact full-dim rerank of the ``rerank_m``
    survivors. Query side broadcast (small by contract, like e01); the
    candidate scan touches only the prefix slice, so with the prefix
    materialized as a separate column the scan phase never reads full
    vectors."""
    from ..operators.similarity import _as_double, _dot

    c = embeddings.select(
        F.col(id_col).alias("c_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cp", F.slice("cv", 1, probe_dims))
    q = queries.select(
        F.col(id_col).alias("q_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qp", F.slice("qv", 1, probe_dims))
    pass1 = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            # Quantized to 12dp BEFORE ranking (same on the oracle side):
            # raw doubles can diverge from DuckDB in the last ulp, and an
            # unquantized rank-20 boundary tie would change the survivor
            # set; at 12dp both engines agree and ties fall to the
            # deterministic c_id tie-break.
            "cos_p",
            F.round(
                _dot(F.col("qp"), F.col("cp"))
                / (
                    F.sqrt(_dot(F.col("qp"), F.col("qp")))
                    * F.sqrt(_dot(F.col("cp"), F.col("cp")))
                ),
                12,
            ),
        )
    )
    w1 = Window.partitionBy("q_id").orderBy(F.desc("cos_p"), F.asc("c_id"))
    survivors = pass1.withColumn("prn", F.row_number().over(w1)).filter(
        F.col("prn") <= rerank_m
    )
    rerank = survivors.withColumn(
        "cos_raw",
        _dot(F.col("qv"), F.col("cv"))
        / (
            F.sqrt(_dot(F.col("qv"), F.col("qv")))
            * F.sqrt(_dot(F.col("cv"), F.col("cv")))
        ),
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        rerank.withColumn("rn", F.row_number().over(w2).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.round("cos_raw", 4).alias("cosine"),
            "rn",
        )
    )


@register(
    "e05_knn_truncated_rerank",
    oracle=_E05_ORACLE,
    doc="Matryoshka-style two-stage ANN: coarse cosine on the first 16 of "
    "64 dims over all candidates (quarter the scan bytes), exact full-dim "
    "rerank of the top-20 survivors; exact oracle for both stages.",
)
def e05_knn_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return truncated_rerank_topk(emb, emb.filter(F.col("vec_id") < 10))


# --------------------------------------------------------------------------
# d11: canonical-URL dedup -- the web-crawl dedup mode that keys on WHERE
# a page came from rather than its content: scheme/host case, query
# strings, fragments, and trailing slashes are noise; path case is not.
# The fixture plants exactly those four variant classes over a shared
# page space (doc_id mod 97 pages x mod 3 hosts), so canonicalization
# must collapse them. Chain is pure JVM regexp -- no UDF.
# --------------------------------------------------------------------------

_D11_URL_SQL = """CASE doc_id % 4
  WHEN 0 THEN 'https://cdn' || (doc_id % 3)::VARCHAR || '.example.com/doc/page' || (doc_id % 97)::VARCHAR
  WHEN 1 THEN 'HTTPS://CDN' || (doc_id % 3)::VARCHAR || '.EXAMPLE.COM/doc/page' || (doc_id % 97)::VARCHAR || '/'
  WHEN 2 THEN 'https://cdn' || (doc_id % 3)::VARCHAR || '.example.com/doc/page' || (doc_id % 97)::VARCHAR || '?utm_source=feed&utm_medium=rss'
  ELSE 'https://cdn' || (doc_id % 3)::VARCHAR || '.example.com/doc/page' || (doc_id % 97)::VARCHAR || '#section-2'
END"""

_D11_ORACLE = f"""
WITH u AS (
  SELECT doc_id, {_D11_URL_SQL} AS url FROM documents
), c AS (
  SELECT doc_id, url,
         lower(regexp_extract(regexp_replace(regexp_replace(url, '[#?].*$', ''), '/+$', ''),
                              '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1))
         || regexp_replace(regexp_replace(regexp_replace(url, '[#?].*$', ''), '/+$', ''),
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*', '') AS canonical_url
  FROM u
)
SELECT canonical_url,
       CAST(min(doc_id) AS BIGINT) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS n_variants
FROM c
GROUP BY canonical_url
HAVING count(*) > 1
"""


def canonical_url(url) -> F.Column:
    """RFC-3986-spirit canonicalization as one JVM expression chain:
    drop fragment+query, strip trailing slashes, lowercase ONLY the
    scheme://host part (paths are case-sensitive)."""
    stripped = F.regexp_replace(
        F.regexp_replace(url, r"[#?].*$", ""), r"/+$", ""
    )
    head = F.lower(
        F.regexp_extract(stripped, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1)
    )
    tail = F.regexp_replace(stripped, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "")
    return F.concat(head, tail)


@register(
    "d11_canonical_url_dedup",
    oracle=_D11_ORACLE,
    doc="Canonical-URL dedup: lowercase scheme+host, strip query/"
    "fragment/trailing slashes (path case preserved); groups the four "
    "planted variant classes per page; pure JVM regexp chain.",
)
def d11_canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    host = F.concat(F.lit("cdn"), (F.col("doc_id") % 3).cast("string"))
    page = F.concat(F.lit("page"), (F.col("doc_id") % 97).cast("string"))
    base = F.concat(host, F.lit(".example.com/doc/"), page)
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://"), base))
        .when(
            F.col("doc_id") % 4 == 1,
            # host case noise only -- path case is SIGNIFICANT and must
            # survive canonicalization, so the variant keeps it lowercase
            F.concat(
                F.lit("HTTPS://CDN"),
                (F.col("doc_id") % 3).cast("string"),
                F.lit(".EXAMPLE.COM/doc/"),
                page,
                F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://"), base, F.lit("?utm_source=feed&utm_medium=rss")
            ),
        )
        .otherwise(F.concat(F.lit("https://"), base, F.lit("#section-2")))
    )
    u = docs.select("doc_id", url.alias("url"))
    return (
        u.withColumn("canonical_url", canonical_url(F.col("url")))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("url").alias("n_variants"),
        )
        .filter(F.col("n_urls") > 1)
    )


# --------------------------------------------------------------------------
# q73: event-transition bigrams -- the (prev_type -> next_type) frequency
# matrix over per-user event sequences, the sequence-mining primitive
# under session analysis and next-action models. Per-user lag window
# (hash shuffle on user_id, NO global sort); deterministic (ts, event_id)
# ordering; global top-20 via one tiny agg.
# --------------------------------------------------------------------------

_Q73_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY n DESC, prev_type, next_type) AS BIGINT) AS rn
FROM pairs QUALIFY rn <= 20
"""


@register(
    "q73_event_transition_bigrams",
    oracle=_Q73_ORACLE,
    doc="Per-user event-type transition bigrams (lag window ordered by "
    "ts,event_id), global top-20 transitions; shuffle keyed on user_id, "
    "no global sort.",
)
def q73_event_transition_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # TakeOrdered bound first: the ranking window sees 20 rows, not the
    # full |types|^2 transition space.
    order = [F.desc("n"), F.asc("prev_type"), F.asc("next_type")]
    return (
        pairs.orderBy(*order)
        .limit(20)
        .withColumn("rn", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("prev_type", "next_type", "n", "rn")
    )


# --------------------------------------------------------------------------
# t09: BPE merge-candidate statistics -- the first step of byte-pair-
# encoding tokenizer training: count adjacent character pairs across the
# corpus, weighted by WORD FREQUENCY (the classic optimization: train on
# the distinct-word histogram, not the raw token stream -- at 100 TB the
# distinct-word table is orders of magnitude smaller than the corpus).
# The top pair is the first BPE merge. Exact oracle; chars via substring
# so both engines agree on pair extraction.
# Guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
# generate_series(1, 0) is empty -- single-char words are filtered
# before the transform on both sides.
# --------------------------------------------------------------------------

_T09_ORACLE = """
WITH words AS (
  SELECT word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2
  GROUP BY word
), pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                               i -> substr(word, i, 2))) AS pair,
         freq
  FROM words
), agg AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair
)
SELECT pair, n,
       CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rn
FROM agg QUALIFY rn <= 30
"""


@register(
    "t09_bpe_pair_counts",
    oracle=_T09_ORACLE,
    doc="BPE tokenizer-training step 1: adjacent char-pair counts "
    "weighted by distinct-word frequency (train on the word histogram, "
    "not the corpus); top-30 merge candidates.",
)
def t09_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    agg = pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
    # TakeOrdered bound first: the ranking window sees 30 rows, not the
    # full byte-pair space.
    order = [F.desc("n"), F.asc("pair")]
    return (
        agg.orderBy(*order)
        .limit(30)
        .withColumn("rn", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select("pair", "n", "rn")
    )


# --------------------------------------------------------------------------
# q74: LEAKAGE-SAFE train/test split -- the step after near-dup clustering
# that naive pipelines get wrong: hashing doc_id puts two near-duplicates
# on opposite sides of the split and the eval set leaks into training.
# Correct unit of assignment is the NEAR-DUP CLUSTER: split on
# hash(component label), singletons on hash(own id). Reuses d07's pair
# graph + connected components wholesale; the oracle is d07's lattice +
# the same hash split. n_groups per side proves group-atomicity (a
# spanning group would raise the group count).
# --------------------------------------------------------------------------


def _q74_oracle() -> str:
    from .curation import _d07_oracle

    prefix = _d07_oracle(8).rsplit("SELECT lab AS keep_id", 1)[0]
    return (
        prefix.rstrip()
        + """,
assigned AS (
  SELECT d.doc_id, COALESCE(l.lab, d.doc_id) AS gid
  FROM documents d LEFT JOIN l8 l ON d.doc_id = l.id
), sp AS (
  SELECT doc_id, gid,
         CASE WHEN (('0x'||substr(md5('split|' || gid::VARCHAR),1,8))::UBIGINT)::BIGINT % 10 < 2
              THEN 'test' ELSE 'train' END AS split
  FROM assigned
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT gid) AS BIGINT) AS n_groups
FROM sp GROUP BY split
"""
    )


@register(
    "q74_cluster_aware_split",
    oracle=_q74_oracle(),
    doc="Leakage-safe 80/20 split: near-dup clusters (d07's CC labels) are "
    "the atomic unit -- hash(component) decides the side, so no near-"
    "duplicate pair ever spans train/test.",
)
def q74_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_hash32
    from .curation import _near_dup_components

    docs = load_table(spark, sf_dir, "documents")
    cc = _near_dup_components(spark, sf_dir).select(
        F.col("id").alias("doc_id"), "component"
    )
    # NO broadcast hint: the label frame is sized by the duplicate
    # population (potentially corpus-scale); a plain key-partitioned
    # left join is the shape that survives, and AQE may still broadcast
    # it when it is actually small
    assigned = docs.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("gid")
    )
    split = F.when(
        md5_hash32(F.concat(F.lit("split|"), F.col("gid").cast("string"))) % 10 < 2,
        "test",
    ).otherwise("train")
    return (
        assigned.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("gid").alias("n_groups"),
        )
    )


# --------------------------------------------------------------------------
# q75: token-budget curriculum fill -- "take the highest-quality docs
# until the token budget is spent", the selection step of budgeted
# pretraining mixes. Semantics: global order by (score DESC, doc_id),
# keep docs while cumulative token count <= budget.
#
# Scale shape: NO global sort/window. Scores are rounded to 3dp, so the
# per-score histogram is bounded by the score RANGE (a few thousand rows
# at any corpus size); the driver walks that tiny histogram to find the
# boundary score, whole buckets above it are taken with a plain filter,
# and only the boundary bucket runs a (bucket-partitioned) cumulative
# window. The collect is limit-probed: it fails loudly rather than
# pulling an unbounded histogram.
# --------------------------------------------------------------------------

_Q75_BUDGET = 10_000
_Q75_HIST_LIMIT = 100_000

_Q75_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         round(n_chars * 1.0 / len(string_split(text, ' ')), 3) AS score
  FROM documents
), o AS (
  -- default RANGE (peer-inclusive) cumulative, NOT ROWS: exact duplicate
  -- docs (r13 dupx) are peers on (score, doc_id), and the budget cut
  -- must take or drop a document's copies ATOMICALLY on both engines --
  -- the engine's boundary-bucket window is peer-inclusive the same way.
  -- Identical on duplicate-free data.
  SELECT *, sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
  FROM t
)
SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(n_tokens) AS BIGINT) AS sel_tokens
FROM o WHERE cum <= {_Q75_BUDGET} GROUP BY source
"""


@register(
    "q75_token_budget_curriculum",
    oracle=_Q75_ORACLE,
    doc="Budgeted curriculum selection: highest chars-per-token score "
    "first until the token budget fills; threshold-refinement plan (tiny "
    "score histogram driver-side, boundary bucket windowed per-bucket) "
    "instead of a global sort.",
)
def q75_token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.round(F.col("n_chars") / F.size(F.split("text", " ")), 3).alias("score"),
    ).localCheckpoint(eager=True)  # scored once; reused by filter + boundary window

    hist = (
        t.groupBy("score")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .orderBy(F.desc("score"))
        .limit(_Q75_HIST_LIMIT + 1)
        .collect()
    )
    if len(hist) > _Q75_HIST_LIMIT:
        raise ValueError(
            f"score histogram exceeds {_Q75_HIST_LIMIT} buckets; "
            "coarsen the score rounding before using the driver-side walk"
        )
    acc = 0
    boundary_score = None
    boundary_remaining = 0
    full_cut = None  # scores strictly above this are taken whole
    for row in hist:
        if acc + row["bucket_tokens"] <= _Q75_BUDGET:
            acc += row["bucket_tokens"]
            full_cut = row["score"]
        else:
            boundary_score = row["score"]
            boundary_remaining = _Q75_BUDGET - acc
            break
    whole = t.filter(F.col("score") >= full_cut) if full_cut is not None else t.limit(0)
    parts = [whole]
    if boundary_score is not None:
        w = Window.partitionBy("score").orderBy("doc_id")
        boundary = (
            t.filter(F.col("score") == boundary_score)
            .withColumn("cum", F.sum("n_tokens").over(w))
            .filter(F.col("cum") <= boundary_remaining)
            .drop("cum")
        )
        parts.append(boundary)
    selected = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return selected.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_tokens").alias("sel_tokens"),
    )


# --------------------------------------------------------------------------
# q77: MERGE / upsert-apply semantics (the lakehouse write primitive
# Spark-on-parquet lacks as a verb, expressed as the relational plan a
# MERGE compiles to): a keyed change set (inserts + updates + deletes,
# DELETE WINS on conflict) applied to a base snapshot via one
# key-partitioned full outer join -- the copy-on-write MERGE shape. The
# change set derives deterministically from the base so the oracle can
# rebuild it; the output aggregates the merged snapshot per segment,
# proving row-level apply semantics (an off-by-one in any branch shifts
# a count or a sum).
# --------------------------------------------------------------------------

_Q77_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
), changes AS (
  SELECT c_custkey AS k, 'U' AS op, round(c_acctbal + 100.0, 2) AS new_bal
  FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 13 <> 0
  UNION ALL
  SELECT c_custkey, 'D', NULL FROM customer WHERE c_custkey % 13 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'I', round(c_custkey * 1.5, 2)
  FROM customer WHERE c_custkey % 17 = 0
), merged AS (
  SELECT COALESCE(b.c_custkey, c.k) AS k,
         COALESCE(b.c_mktsegment, 'NEW') AS seg,
         CASE WHEN c.op = 'U' THEN c.new_bal
              WHEN c.op = 'I' THEN c.new_bal
              ELSE b.c_acctbal END AS bal
  FROM base b FULL OUTER JOIN changes c ON b.c_custkey = c.k
  WHERE c.op IS NULL OR c.op <> 'D'
)
SELECT seg, CAST(count(*) AS BIGINT) AS n_rows,
       (sum(CAST(round(bal * 100) AS BIGINT)) / 1e2) AS sum_bal
FROM merged GROUP BY seg
"""


@register(
    "q77_merge_upsert_apply",
    oracle=_Q77_ORACLE,
    doc="MERGE semantics on parquet: keyed inserts/updates/deletes "
    "(delete wins) applied through one key-partitioned full outer join "
    "-- the copy-on-write MERGE plan; per-segment aggregate of the "
    "merged snapshot proves row-level apply.",
)
def q77_merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select("c_custkey", "c_mktsegment", "c_acctbal")
    updates = (
        cust.filter((F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 13 != 0))
        .select(
            F.col("c_custkey").alias("k"),
            F.lit("U").alias("op"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal"),
        )
    )
    deletes = cust.filter(F.col("c_custkey") % 13 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("new_bal"),
    )
    inserts = cust.filter(F.col("c_custkey") % 17 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("k"),
        F.lit("I").alias("op"),
        F.round(F.col("c_custkey") * 1.5, 2).alias("new_bal"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = (
        base.join(changes, base.c_custkey == changes.k, "full_outer")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce("c_mktsegment", F.lit("NEW")).alias("seg"),
            F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("bal"),
        )
    )
    return merged.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.round(F.col("bal") * 100).cast("long")) / F.lit(1e2)).alias("sum_bal"),
    )


# --------------------------------------------------------------------------
# m06: co-occurrence recommendations with LIFT -- the "users who bought X
# also bought Y" statistic m03's cosine does not give (cosine rewards
# rating-vector alignment; lift corrects for item popularity, the thing
# that makes naive co-counts recommend bestsellers to everyone). Scope
# is bounded the scale-correct way: pairs only among the top-50 most
# popular parts (deterministic count/partkey ranking, broadcast), so the
# pair space is N^2/2 regardless of corpus size.
# --------------------------------------------------------------------------

_M06_TOP = 50
_M06_K = 20

_M06_ORACLE = f"""
WITH bask AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
), n_c AS (SELECT count(DISTINCT cust) AS n FROM bask),
pop AS (
  SELECT part, count(*) AS n_cust,
         row_number() OVER (ORDER BY count(*) DESC, part) AS prn
  FROM bask GROUP BY part
), top AS (SELECT part, n_cust FROM pop WHERE prn <= {_M06_TOP}),
tb AS (
  SELECT b.cust, b.part, t.n_cust FROM bask b JOIN top t USING (part)
), pairs AS (
  SELECT a.part AS part_a, b.part AS part_b,
         a.n_cust AS na, b.n_cust AS nb, count(*) AS nab
  FROM tb a JOIN tb b ON a.cust = b.cust AND a.part < b.part
  GROUP BY 1, 2, 3, 4
)
SELECT part_a, part_b, CAST(nab AS BIGINT) AS n_both,
       round(nab * 1.0 * n_c.n / (na * 1.0 * nb), 4) AS lift,
       CAST(row_number() OVER (ORDER BY nab * 1.0 * n_c.n / (na * 1.0 * nb) DESC, part_a, part_b) AS BIGINT) AS rn
FROM pairs, n_c QUALIFY rn <= {_M06_K}
"""


@register(
    "m06_cooccurrence_lift",
    oracle=_M06_ORACLE,
    doc="Item co-occurrence with lift among the top-50 popular parts "
    "(bounded pair space, broadcast top list); corrects for popularity "
    "the way raw co-counts cannot; top-20 by lift.",
)
def m06_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    bask = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        # a NULL customer / part is not a basket member: DataFrame
        # distinct-count would tally NULL as a customer (inflating every
        # lift by (n+1)/n) while the cust=cust pair join silently drops
        # those baskets anyway -- exclude them outright, mirrored in the
        # oracle (r14 nullkeys find)
        .filter(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)  # reused by n_c, pop, and the pair join
    )
    n_c = bask.select("cust").distinct().count()
    pop = bask.groupBy("part").agg(F.count(F.lit(1)).alias("n_cust"))
    # TakeOrdered, not a global row_number window: the part table can be
    # millions of rows at scale, and orderBy+limit keeps the top-50
    # selection distributed (per-partition heaps + driver merge)
    top = (
        pop.orderBy(F.desc("n_cust"), F.asc("part"))
        .limit(_M06_TOP)
        .select("part", "n_cust")
    )
    tb = bask.join(F.broadcast(top), "part")
    a = tb.select(
        F.col("cust"), F.col("part").alias("part_a"), F.col("n_cust").alias("na")
    )
    b = tb.select(
        F.col("cust"), F.col("part").alias("part_b"), F.col("n_cust").alias("nb")
    )
    pairs = (
        a.join(b, ["cust"])
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("nab"))
    )
    lift = (F.col("nab") * 1.0 * F.lit(n_c) / (F.col("na") * 1.0 * F.col("nb"))).alias(
        "lift_raw"
    )
    # TakeOrdered bound first: the ranking window sees K rows, not the
    # whole co-occurrence pair space.
    order = [F.desc("lift_raw"), F.asc("part_a"), F.asc("part_b")]
    return (
        pairs.withColumn("lift_raw", lift)
        .orderBy(*order)
        .limit(_M06_K)
        .withColumn("rn", F.row_number().over(Window.orderBy(*order)).cast("long"))
        .select(
            "part_a",
            "part_b",
            F.col("nab").alias("n_both"),
            F.round("lift_raw", 4).alias("lift"),
            "rn",
        )
    )


# --------------------------------------------------------------------------
# q78: DELETE PROPAGATION (right-to-be-forgotten): a deletion set of
# customers must cascade through the fact chain -- orders of deleted
# customers go, and lineitems of those orders go. The scale-correct
# shape is anti-join per hop with the deletion set broadcast (deletion
# lists are small relative to facts) and the orders->lineitem hop keyed
# on the FACT's join key, never a row-at-a-time scrub. Output: per-table
# survivor counts + surviving revenue, which any missed or over-deleted
# row shifts.
# --------------------------------------------------------------------------

# NOT EXISTS, not NOT IN: `NULL NOT IN (...)` evaluates NULL and silently
# EXCLUDES the row, while the engine's left_anti keeps a NULL-key row (no
# match -> survivor). For a deletion cascade the anti-join semantics are
# the correct ones -- an order with an unknown customer belongs to no
# DELETED customer -- so the oracle mirrors them NULL-safely (r14
# nullkeys find: 215 NULL-custkey orders vanished from the oracle only).
_Q78_ORACLE = f"""
WITH del AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 11 = 0
), surv_c AS (
  SELECT c_custkey FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.c_custkey = c.c_custkey)
), surv_o AS (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.c_custkey = o.o_custkey)
), surv_l AS (
  SELECT l.l_extendedprice, l.l_discount FROM lineitem l
  WHERE l.l_orderkey IN (SELECT o_orderkey FROM surv_o)
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM surv_c) AS n_customers,
       (SELECT CAST(count(*) AS BIGINT) FROM surv_o) AS n_orders,
       (SELECT CAST(count(*) AS BIGINT) FROM surv_l) AS n_lineitems,
       (SELECT {disc_money_sum_sql()} FROM surv_l) AS surviving_revenue
"""


@register(
    "q78_delete_propagation",
    oracle=_Q78_ORACLE,
    doc="Right-to-be-forgotten cascade: broadcast anti-join per hop "
    "(customers -> orders -> lineitem); per-table survivor counts + "
    "revenue prove no missed or over-deleted rows.",
)
def q78_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deletions = cust.filter(F.col("c_custkey") % 11 == 0).select("c_custkey")
    surv_c = cust.join(F.broadcast(deletions), "c_custkey", "left_anti")
    surv_o = orders.join(
        F.broadcast(deletions.withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
        "left_anti",
    )
    # second hop keys on the FACT's own join key: a left-semi against the
    # surviving orders (shuffle on l_orderkey; at scale this is the big
    # join and it is keyed correctly -- never broadcast the fact side)
    surv_l = li.join(
        surv_o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi"
    )
    counts = (
        surv_c.agg(F.count(F.lit(1)).alias("n_customers"))
        .crossJoin(surv_o.agg(F.count(F.lit(1)).alias("n_orders")))
        .crossJoin(
            surv_l.agg(
                F.count(F.lit(1)).alias("n_lineitems"),
                disc_money_sum_spark().alias("surviving_revenue"),
            )
        )
    )
    return counts


# --------------------------------------------------------------------------
# d12: TRUNCATION dedup -- doc B is a strict PREFIX of doc A (the crawl
# failure mode Jaccard misses: a 2000-token page and its 50-token
# truncation share almost no shingle mass, yet one subsumes the other).
# Candidates bucket on the hash of the first 8 tokens (truncations
# shorter than that cannot subsume meaningfully), verify by exact
# startswith, keep (survivor = longer, tie -> smaller id). The fixture
# plants truncations by re-ingesting each doc_id % 40 == 0 doc cut to
# its first 12 tokens under a new id.
# Skew note: a viral boilerplate PREFIX is the same hot-bucket mode as
# an LSH band -- at scale, apply operators/dedup.py's star-topology cap
# to the pk bucket (representative subset per bucket) exactly as
# lsh_candidate_pairs/lsh_probe_index do; uncapped here because the
# oracle certifies the complete pair set.
# --------------------------------------------------------------------------

_D12_ORACLE = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(string_split(text, ' ')[1:12], ' ')
  FROM documents WHERE doc_id % 40 = 0 AND len(string_split(text, ' ')) > 12
), keyed AS (
  SELECT doc_id, text,
         md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS pk,
         len(string_split(text, ' ')) AS n_tok
  FROM all_docs WHERE len(string_split(text, ' ')) >= 8
), pairs AS (
  SELECT a.doc_id AS full_id, b.doc_id AS trunc_id,
         a.n_tok AS full_tok, b.n_tok AS trunc_tok
  FROM keyed a JOIN keyed b
    ON a.pk = b.pk AND a.doc_id <> b.doc_id
   AND a.n_tok > b.n_tok
   AND starts_with(a.text, b.text || ' ')
)
SELECT full_id, trunc_id,
       CAST(full_tok AS BIGINT) AS full_tok,
       CAST(trunc_tok AS BIGINT) AS trunc_tok
FROM pairs
"""


@register(
    "d12_truncation_dedup",
    oracle=_D12_ORACLE,
    doc="Prefix/truncation dedup (the near-dup mode Jaccard misses when "
    "lengths differ wildly): bucket on first-8-token hash, verify exact "
    "startswith, longer doc survives; planted truncations at doc_id%40.",
)
def d12_truncation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    truncs = (
        docs.filter((F.col("doc_id") % 40 == 0) & (F.size(toks) > 12))
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, 12), " ").alias("text"),
        )
    )
    all_docs = docs.unionByName(truncs)
    atoks = F.split("text", " ")
    keyed = all_docs.filter(F.size(atoks) >= 8).select(
        "doc_id",
        "text",
        F.md5(F.array_join(F.slice(atoks, 1, 8), " ")).alias("pk"),
        F.size(atoks).alias("n_tok"),
    )
    a = keyed.select(
        F.col("doc_id").alias("full_id"),
        F.col("text").alias("full_text"),
        "pk",
        F.col("n_tok").alias("full_tok"),
    )
    b = keyed.select(
        F.col("doc_id").alias("trunc_id"),
        F.col("text").alias("trunc_text"),
        "pk",
        F.col("n_tok").alias("trunc_tok"),
    )
    return (
        a.join(b, "pk")
        .filter(
            (F.col("full_id") != F.col("trunc_id"))
            & (F.col("full_tok") > F.col("trunc_tok"))
            & F.col("full_text").startswith(F.concat(F.col("trunc_text"), F.lit(" ")))
        )
        .select(
            "full_id",
            "trunc_id",
            F.col("full_tok").cast("long").alias("full_tok"),
            F.col("trunc_tok").cast("long").alias("trunc_tok"),
        )
    )


# --------------------------------------------------------------------------
# q79: table profiling (ANALYZE-style column statistics) -- the metadata
# every optimizer and data-quality gate needs: per column min/max, null
# fraction, exact NDV. One pass over the fact table computes every
# column's stats simultaneously (a single aggregate, not one scan per
# column -- at 100 TB, N scans for N columns is the difference between
# minutes and hours); the unpivot to (column, stats) rows happens on the
# 1-row aggregate.
# --------------------------------------------------------------------------

_Q79_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

_Q79_ORACLE = """
WITH s AS (
  SELECT count(*) AS n,
         min(l_quantity) AS min_q,  max(l_quantity) AS max_q,
         count(DISTINCT l_quantity) AS ndv_q,
         min(l_extendedprice) AS min_e, max(l_extendedprice) AS max_e,
         count(DISTINCT l_extendedprice) AS ndv_e,
         min(l_discount) AS min_d,  max(l_discount) AS max_d,
         count(DISTINCT l_discount) AS ndv_d,
         min(l_tax) AS min_t,  max(l_tax) AS max_t,
         count(DISTINCT l_tax) AS ndv_t
  FROM lineitem
)
SELECT col, round(mn, 2) AS min_val, round(mx, 2) AS max_val,
       CAST(ndv AS BIGINT) AS ndv
FROM (
  SELECT 'l_quantity' AS col, min_q AS mn, max_q AS mx, ndv_q AS ndv FROM s
  UNION ALL SELECT 'l_extendedprice', min_e, max_e, ndv_e FROM s
  UNION ALL SELECT 'l_discount', min_d, max_d, ndv_d FROM s
  UNION ALL SELECT 'l_tax', min_t, max_t, ndv_t FROM s
) t
"""


@register(
    "q79_table_profile",
    oracle=_Q79_ORACLE,
    doc="ANALYZE-style column stats (min/max/exact NDV) for four lineitem "
    "measures in ONE aggregate pass (never a scan per column); unpivot "
    "happens on the 1-row result.",
)
def q79_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _Q79_COLS:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.countDistinct(c).alias(f"ndv_{c}"),
        ]
    s = li.agg(*aggs)
    stacked = s.select(
        F.expr(
            "stack({}, {}) AS (col, min_val, max_val, ndv)".format(
                len(_Q79_COLS),
                ", ".join(
                    f"'{c}', round(min_{c}, 2), round(max_{c}, 2), ndv_{c}"
                    for c in _Q79_COLS
                ),
            )
        )
    )
    return stacked


# --------------------------------------------------------------------------
# e07: FILTERED ANN -- vector search under a metadata predicate ("top-k
# neighbors with label = X"), the retrieval shape RAG stacks actually
# run. The naive post-filter (search first, filter after) silently
# under-fills k when the predicate is selective; the correct plan
# pushes the predicate INTO the candidate scan (pre-filter). Built on
# e03's IVF structure: probed lists are scanned with the label
# predicate applied before scoring, so each query returns a FULL top-5
# of matching candidates from its probed lists.
# --------------------------------------------------------------------------

_E07_LABEL = 3

_E07_ORACLE = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT e.vec_id, e.label, e.v, cent.cid,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS cc
  FROM e, cent
), ranked AS (
  SELECT vec_id, label, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), lists AS (
  SELECT vec_id AS neighbor_id, v AS nv, cid FROM ranked
  WHERE crn = 1 AND label = {_E07_LABEL}
), probes AS (
  SELECT vec_id AS query_id, v AS qv, cid FROM ranked WHERE crn <= 2 AND vec_id < 10
), sim AS (
  SELECT p.query_id, l.neighbor_id,
         list_dot_product(p.qv, l.nv)
           / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(l.nv, l.nv))) AS cos_raw
  FROM probes p JOIN lists l USING (cid)
  WHERE p.query_id <> l.neighbor_id
)
SELECT query_id, neighbor_id, round(cos_raw, 4) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS rn
FROM sim QUALIFY rn <= 5
"""


@register(
    "e07_knn_filtered",
    oracle=_E07_ORACLE,
    doc="Filtered ANN (RAG retrieval shape): label predicate pushed INTO "
    "the IVF list scan (pre-filter, not the k-starving post-filter); "
    "top-5 label-matching neighbors from the probed lists.",
)
def e07_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double, _dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = with_norm(emb.select("vec_id", "label", _as_double(F.col("embedding")).alias("v")))
    ranked = rank_centroids(e, pinned_centroids(e))
    # predicate applied BEFORE scoring: non-matching candidates never
    # reach the dot product (the pre-filter plan)
    lists = ranked.filter(
        (F.col("crn") == 1) & (F.col("label") == _E07_LABEL)
    ).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
        "cid",
    )
    probes = ranked.filter((F.col("crn") <= 2) & (F.col("vec_id") < 10)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        "cid",
    )
    sim = (
        probes.join(lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_raw", _dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 4).alias("cosine"),
            "rn",
        )
    )


# --------------------------------------------------------------------------
# q80: per-source score CALIBRATION -- raw quality scores are not
# comparable across sources (a web crawl and a books corpus have
# different score distributions), so mixture sampling on raw scores
# over-selects whichever source scores generously. Decile-normalize
# within source (ntile over the per-source distribution), then the
# cross-source gate selects "top 30% OF EACH SOURCE". Output: per-source
# selected counts + mean raw score of the selected slice (shows the raw
# thresholds differ across sources -- the point of calibrating).
#
# Scale note: ntile sorts each source inside ONE task -- exact-tie
# semantics for the oracle, fine at bench SFs, but a 10 TB source would
# bottleneck. The 100 TB variant is the q58/q75 technique: per-source
# decile BOUNDARIES from the (bounded, 3dp-rounded) score histogram,
# broadcast, assignment by comparison -- same gate, no per-source sort.
# --------------------------------------------------------------------------

_Q80_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source,
         round(n_chars * 1.0 / len(string_split(text, ' ')), 3) AS score
  FROM documents
), d AS (
  SELECT doc_id, source, score,
         ntile(10) OVER (PARTITION BY source ORDER BY score, doc_id) AS decile
  FROM t
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_selected,
       {grid_mean_sql('score', 1000, 4)} AS mean_raw_score,
       round(min(score), 3) AS min_raw_score
FROM d WHERE decile > 7
GROUP BY source
"""


@register(
    "q80_source_score_calibration",
    oracle=_Q80_ORACLE,
    doc="Per-source decile normalization of quality scores (ntile within "
    "source, deterministic (score, doc_id) order); top-30%-of-each-source "
    "gate; per-source raw-score stats show why calibration matters.",
)
def q80_source_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.round(F.col("n_chars") / F.size(F.split("text", " ")), 3).alias("score"),
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    d = t.withColumn("decile", F.ntile(10).over(w))
    return (
        d.filter(F.col("decile") > 7)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            # score is 3dp-rounded: integer-grid mean (r11, t14 lesson)
            grid_mean_spark("score", 1000, 4).alias("mean_raw_score"),
            F.round(F.min("score"), 3).alias("min_raw_score"),
        )
    )
