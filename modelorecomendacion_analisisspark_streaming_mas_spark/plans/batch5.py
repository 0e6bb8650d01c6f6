"""Round-3 batch additions: SQL-API parity, schema-evolution reads, and
single-pass data-quality expectations.

These close three engine-surface gaps a reference user switching over
would hit operationally:

* q53 -- the SQL entry point itself (SURVEY 2.13 API 2 / T7): the
  reference issues ``spark.sql`` over registered views
  (app3/live_counts.py:73, app/plot_live.py:17); q53 proves our engine
  accepts ONE textual SQL query and returns bit-identical results to an
  independent engine (DuckDB) running the very same string -- dialect
  parity, not just DataFrame parity.
* q54 -- schema evolution: at 100 TB, ingestion batches gain columns over
  time and rewriting old files is off the table; the engine must merge
  footers (``mergeSchema``) and null-fill the missing columns at scan
  time.
* q55 -- data-quality expectations: every large-scale training-data
  pipeline gates ingest on constraint checks (completeness, uniqueness,
  domain, bounds). One pass, one aggregate job, constraints evaluated
  as JVM expressions -- never one job per constraint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from . import memo
from .catalog import grid_mean_spark, grid_mean_sql, register

# --------------------------------------------------------------------------
# q53: one SQL string, two engines. The Spark side registers the three
# tables as temp views and executes EXACTLY the oracle string -- the
# literal same bytes DuckDB runs. Any dialect divergence (rounding,
# join semantics, grouping, ordering of aggregation) breaks the hash.
# --------------------------------------------------------------------------

_Q53_SQL = """
SELECT n.n_name AS nation,
       count(*) AS n_orders,
       (sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 1e2) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY n.n_name
"""


@register(
    "q53_sql_engine_parity",
    oracle=_Q53_SQL,
    doc="SQL API surface: the identical ANSI-SQL string executed by both "
    "Spark (spark.sql over temp views) and DuckDB must agree bit-for-bit.",
)
def q53_sql_engine_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7/API-2 analog (reference: spark.sql over memory-sink views,
    app3/live_counts.py:73). Catalyst sees only the SQL text: broadcast
    selection for the two small dims, partial aggregation, and join
    reordering all come from the optimizer, proving the declarative
    surface needs no DataFrame-side hints at this scale."""
    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q53_SQL)


# --------------------------------------------------------------------------
# q54: schema-evolution scan. Two ingestion "generations" of part are
# staged side by side -- generation 1 (even part keys) without
# p_retailprice, generation 2 (odd keys) with it. mergeSchema unifies
# the footers; generation-1 rows surface NULL retail prices. The oracle
# reproduces the same union-with-nulls from the ORIGINAL table, so the
# staging itself is proven lossless.
# --------------------------------------------------------------------------


def _evolved_part_dir(spark: SparkSession, sf_dir: str) -> str:
    def write(d: str) -> str:
        part = load_table(spark, sf_dir, "part")
        old_gen = part.filter(F.col("p_partkey") % 2 == 0).select(
            "p_partkey", "p_name", "p_brand", "p_type", "p_size"
        )
        new_gen = part.filter(F.col("p_partkey") % 2 == 1)
        old_gen.write.mode("overwrite").parquet(f"{d}/gen=1")
        new_gen.write.mode("overwrite").parquet(f"{d}/gen=2")
        return d

    return memo.staged("evolved_part", sf_dir, ("part",), write)


@register(
    "q54_schema_evolution_read",
    oracle="""
SELECT p_brand,
       count(*) AS n,
       count(CASE WHEN p_partkey % 2 = 1 THEN 1 END) AS n_priced,
       (sum(CAST(round((CASE WHEN p_partkey % 2 = 1 THEN p_retailprice END) * 100) AS BIGINT)) / 1e2) AS sum_price
FROM part
GROUP BY p_brand
""",
    doc="mergeSchema scan over two parquet generations; added column "
    "null-fills for pre-evolution files. Oracle on the original table.",
)
def q54_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: mergeSchema reads every file FOOTER (not data) to union
    schemas -- at 100 TB pin the merged schema in a metastore/manifest and
    pass it explicitly; the null-fill scan behavior is identical."""
    d = _evolved_part_dir(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(f"{d}/gen=1", f"{d}/gen=2")
    return merged.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("p_retailprice").alias("n_priced"),
        (F.sum(F.round(F.col("p_retailprice") * 100).cast("long")) / F.lit(1e2)).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# q55: data-quality expectations in ONE aggregate pass. Each constraint
# is a JVM conditional aggregate over the same scan; the result is one
# row per constraint (constraint, metric, passed) -- the Deequ-style
# contract shape, built from nothing but groupBy-less agg + an explode.
# --------------------------------------------------------------------------


@register(
    "q55_dq_expectations",
    oracle="""
WITH m AS (
    SELECT count(*) AS n_rows,
           count(l_comment_proxy) AS n_comment,
           count(DISTINCT l_orderkey * 16 + l_linenumber) AS n_pk,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty,
           count(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 END) AS n_flag_ok
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag,
                 CASE WHEN l_tax >= 0 THEN l_tax END AS l_comment_proxy
          FROM lineitem)
)
SELECT c.check_name, c.metric, c.passed
FROM m,
LATERAL (
    VALUES
        ('completeness_tax', round(CAST(n_comment AS DOUBLE) / n_rows, 6),
         CAST(n_comment = n_rows AS BOOLEAN)),
        ('unique_pk', round(CAST(n_pk AS DOUBLE) / n_rows, 6),
         CAST(n_pk = n_rows AS BOOLEAN)),
        ('qty_bounds', round(max_qty - min_qty, 6),
         CAST(COALESCE(min_qty >= 1 AND max_qty <= 50, TRUE) AS BOOLEAN)),
        ('returnflag_domain', round(CAST(n_flag_ok AS DOUBLE) / n_rows, 6),
         CAST(n_flag_ok = n_rows AS BOOLEAN))
) AS c(check_name, metric, passed)
""",
    doc="Single-pass constraint metrics (completeness / uniqueness / "
    "bounds / domain) over lineitem; one row per constraint.",
)
def q55_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All constraints share ONE scan + ONE aggregate (conditional
    aggregates stay inside whole-stage codegen); the per-constraint rows
    come from exploding a literal array of (name, metric, passed)
    structs -- no second job, no driver loop. At 100 TB this is the only
    acceptable shape: k constraints must not cost k scans."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_returnflag",
        F.when(F.col("l_tax") >= 0, F.col("l_tax")).alias("l_comment_proxy"),
    )
    m = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_comment_proxy").alias("n_comment"),
        F.countDistinct(
            F.col("l_orderkey") * 16 + F.col("l_linenumber")
        ).alias("n_pk"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.when(F.col("l_returnflag").isin("A", "N", "R"), 1)).alias(
            "n_flag_ok"
        ),
    )
    # try_divide: on a ZERO-row table (r12 empty-tables hostile variant)
    # every ratio is 0/0 -- Spark ANSI throws where DuckDB returns NULL
    frac = lambda num, den: F.round(F.try_divide(num.cast("double"), den), 6)  # noqa: E731
    checks = F.array(
        F.struct(
            F.lit("completeness_tax").alias("check_name"),
            frac(F.col("n_comment"), F.col("n_rows")).alias("metric"),
            (F.col("n_comment") == F.col("n_rows")).alias("passed"),
        ),
        F.struct(
            F.lit("unique_pk").alias("check_name"),
            frac(F.col("n_pk"), F.col("n_rows")).alias("metric"),
            (F.col("n_pk") == F.col("n_rows")).alias("passed"),
        ),
        F.struct(
            F.lit("qty_bounds").alias("check_name"),
            F.round(F.col("max_qty") - F.col("min_qty"), 6).alias("metric"),
            # vacuous truth on a zero-row table (both engines agree; a
            # bare NULL boolean renders differently per engine)
            F.coalesce(
                (F.col("min_qty") >= 1) & (F.col("max_qty") <= 50), F.lit(True)
            ).alias("passed"),
        ),
        F.struct(
            F.lit("returnflag_domain").alias("check_name"),
            frac(F.col("n_flag_ok"), F.col("n_rows")).alias("metric"),
            (F.col("n_flag_ok") == F.col("n_rows")).alias("passed"),
        ),
    )
    return (
        m.select(F.explode(checks).alias("c"))
        .select("c.check_name", "c.metric", "c.passed")
    )


# --------------------------------------------------------------------------
# q56: batch sessionization (gaps-and-islands). The batch twin of the
# streaming session windows (s03/s12): a session breaks when a user is
# idle > 30 minutes. The canonical two-window shape -- lag to mark
# breaks, running sum to number sessions -- with ONE data-sized shuffle:
# both windows and the per-session aggregate partition on the same
# user_id prefix, so Catalyst plans a single hashpartitioning Exchange;
# the only other Exchange is the final global summary, which moves one
# partial-aggregate row per partition (test_plan_quality pins both).
# --------------------------------------------------------------------------


@register(
    "q56_batch_sessionization",
    oracle=f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts)
                   <= 1800 THEN 0 ELSE 1 END AS brk
  FROM events
), numbered AS (
  SELECT user_id, ts,
         -- RANGE (peer-inclusive) cumulative frame, NOT ROWS: with exact
         -- duplicate (user, ts) rows (the r13 dupx variant) a ROWS frame
         -- splits a tie group across two sessions depending on where the
         -- brk row lands among its peers -- engine-dependent. RANGE gives
         -- every peer the whole tie group's brk total, so all copies of a
         -- boundary event land in the NEW session on both engines.
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess_id
  FROM marked
), sess AS (
  SELECT user_id, sess_id,
         count(*) AS n_events,
         CAST(max(floor(epoch(ts))) - min(floor(epoch(ts))) AS BIGINT) AS span_s
  FROM numbered GROUP BY user_id, sess_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       {grid_mean_sql('n_events', 1, 4)} AS avg_events_per_session,
       {grid_mean_sql('span_s', 1, 4)} AS avg_span_s,
       CAST(max(n_events) AS BIGINT) AS max_session_events
FROM sess
""",
    doc="Gaps-and-islands sessionization (30-min idle gap) over events; "
    "global session statistics.",
)
def q56_batch_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.readers import load_events

    ev = load_events(spark, sf_dir).select("user_id", "ts")
    w_ord = Window.partitionBy("user_id").orderBy("ts")
    # lag over ties: exactly ONE copy of a boundary event sees the >30min
    # gap (whichever sorts first among its peers); the others see gap 0.
    brk = F.when(
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w_ord) <= 1800,
        0,
    ).otherwise(1)
    # default frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW: peers share
    # the whole tie group's brk total, so duplicate (user, ts) rows (the
    # r13 dupx variant) cannot split across sessions in engine-dependent
    # ways -- a ROWS frame here did exactly that.
    numbered = ev.withColumn("brk", brk).withColumn(
        "sess_id", F.sum("brk").over(w_ord)
    )
    sess = numbered.groupBy("user_id", "sess_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("span_s"),
    )
    return sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        # integer inputs -> integer-grid means (r11, t14 lesson)
        grid_mean_spark("n_events", 1, 4).alias("avg_events_per_session"),
        grid_mean_spark("span_s", 1, 4).alias("avg_span_s"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


# --------------------------------------------------------------------------
# d08: fuzzy key join at edit distance <= 1 (FastSS deletion
# neighborhood + exact levenshtein verify) -- entity-resolution dedup
# for near-identical keys (typos, off-by-one ids). Unlike MinHash (d02)
# this candidate generator is COMPLETE: two strings within one edit
# always share a 1-deletion variant, so the only filter after the
# variant equi-join is the exact distance check. Output is the verified
# pair count plus the pair list capped by a deterministic top-100 (both
# mirrored in the oracle).
# --------------------------------------------------------------------------


@register(
    "d08_fuzzy_edit1_join",
    oracle="""
WITH v AS (
  SELECT c_custkey AS id, c_name AS name,
         unnest(list_distinct(
           [c_name] || [substr(c_name, 1, i-1) || substr(c_name, i+1)
                        for i in range(1, len(c_name)+1)]
         )) AS var
  FROM customer
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b
  FROM v a JOIN v b ON a.var = b.var AND a.id < b.id
), verified AS (
  SELECT id_a, id_b, levenshtein(name_a, name_b) AS dist
  FROM cand WHERE levenshtein(name_a, name_b) <= 1
)
SELECT id_a, id_b, CAST(dist AS INT) AS dist
FROM verified ORDER BY id_a, id_b LIMIT 100
""",
    doc="FastSS deletion-neighborhood fuzzy self-join on customer names, "
    "exact levenshtein <= 1 verify; deterministic top-100 pairs.",
)
def d08_fuzzy_edit1_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import edit1_neighborhood_join

    cust = load_table(spark, sf_dir, "customer")
    pairs = edit1_neighborhood_join(cust, "c_custkey", "c_name")
    return (
        pairs.select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("id_a", "id_b")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q57: deterministic WEIGHTED sampling (Efraimidis-Spirakis A-ES keys:
# k = -ln(u)/w, take the k smallest). The training-data mixing primitive
# "sample documents proportional to quality weight" -- made reproducible
# by drawing u from a content hash instead of an RNG (same contract as
# q28/q49), which is also what makes an exact cross-engine oracle
# possible at all. One projection + one TakeOrdered: no shuffle of the
# corpus, the top-k heap runs per partition.
# --------------------------------------------------------------------------

_Q57_ORACLE = """
WITH h AS (
  SELECT doc_id, source,
         ((('0x'||substr(md5('wsamp|' || doc_id::VARCHAR),1,8))::UBIGINT)::BIGINT + 1)
           / 4294967297.0 AS u,
         1.0 + (n_chars % 100) / 100.0 AS w
  FROM documents
)
-- rank on the 8dp-ROUNDED key (the q62/e05 quantize-before-rank device):
-- the cut at position 200 must not depend on a 1-ulp libm ln() gap
SELECT doc_id, source, round(-ln(u) / w, 8) AS k
FROM h ORDER BY round(-ln(u) / w, 8), doc_id LIMIT 200
"""


@register(
    "q57_weighted_sample",
    oracle=_Q57_ORACLE,
    doc="Efraimidis-Spirakis weighted sample (k = -ln(u)/w, smallest "
    "200), u content-hashed for reproducibility; exact oracle.",
)
def q57_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_hash32

    docs = load_table(spark, sf_dir, "documents")
    u = (
        md5_hash32(F.concat(F.lit("wsamp|"), F.col("doc_id").cast("string"))) + 1
    ) / F.lit(4294967297.0)
    w = 1.0 + (F.col("n_chars") % 100) / 100.0
    k = F.round(-F.log(u) / w, 8)
    return (
        docs.select("doc_id", "source", k.alias("k"))
        .orderBy("k", "doc_id")
        .limit(200)
    )


# --------------------------------------------------------------------------
# mm05: shard-manifest packing -- the WebDataset/tar-shard step of a
# multimodal training pipeline: pack items into ~TARGET-byte shards,
# preserving a deterministic order, and emit the manifest (shard ->
# item count, byte total) that the downstream loader consumes. Pure
# window arithmetic: running byte offset per source (window partitioned
# by source -- parallel across sources, never a global sort), shard id =
# floor(start_offset / target). Planning touches metadata columns only;
# blobs are never read (the mm01/mm03 discipline).
# --------------------------------------------------------------------------

_MM05_TARGET = 4096

_MM05_ORACLE = f"""
WITH ordered AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) - n_chars AS start_off
  FROM documents
)
SELECT source,
       CAST(floor(start_off / {_MM05_TARGET}.0) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM ordered
GROUP BY source, floor(start_off / {_MM05_TARGET}.0)
"""


@register(
    "mm05_shard_manifest",
    oracle=_MM05_ORACLE,
    doc="WebDataset-style shard packing manifest: per-source running byte "
    "offsets -> ~4KB shards; metadata-only, exact oracle.",
)
def mm05_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start_off = F.sum("n_chars").over(w) - F.col("n_chars")
    return (
        docs.withColumn(
            "shard_id",
            F.floor(start_off / float(_MM05_TARGET)).cast("long"),
        )
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("n_chars").cast("long").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# --------------------------------------------------------------------------
# q58: equi-depth histogram over l_extendedprice -- the column-statistics
# primitive (ANALYZE TABLE ... FOR COLUMNS builds exactly this shape to
# feed the cost-based optimizer; at 100 TB histogram quality decides join
# orders). ntile assigns equal-population buckets; per-bucket (lo, hi,
# count) is the histogram. ntile needs a total order -- at true scale the
# same statistic comes from approx_percentile boundaries; this entry
# keeps the exact shape so the oracle is exact, and documents the
# approximate twin (q09 exercises percentile_approx).
# --------------------------------------------------------------------------


@register(
    "q58_equidepth_histogram",
    oracle="""
WITH t AS (
  SELECT l_extendedprice AS v,
         ntile(16) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket
  FROM lineitem
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       round(min(v), 2) AS lo,
       round(max(v), 2) AS hi,
       CAST(count(*) AS BIGINT) AS n
FROM t GROUP BY bucket
""",
    doc="Equi-depth 16-bucket histogram of l_extendedprice (optimizer-"
    "statistics shape); deterministic ntile tie-break; exact oracle.",
)
def q58_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import striped_global_row_number

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
    )
    # ntile(16) over an unpartitioned window funnels the whole fact table
    # through ONE task (the r5 shape). Equivalent scale shape: exact
    # two-level global rank striped by 256 equal-width value ranges of v
    # (bounds from a one-pass min/max agg; any stripe boundaries that
    # respect the v-order are CORRECT, the quantile-ish balance is only a
    # load-leveling concern), then ntile's deterministic bucket-size
    # arithmetic on (rank, total).
    lo, hi = li.agg(F.min("v"), F.max("v")).first()
    # degenerate domain (single row / single distinct value, the r12
    # single-row hostile variant): width_bucket(v, lo, lo, .) is NULL in
    # Spark, which the stripe guard rejects loudly -- one stripe is the
    # correct (and trivially balanced) striping there
    stripe = (
        F.width_bucket(F.col("v"), F.lit(lo), F.lit(hi), F.lit(256))
        if lo is not None and hi is not None and lo < hi
        else F.lit(1)
    )
    ranked = striped_global_row_number(
        li,
        [F.asc("v"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        stripe,
        rank_col="_grn",
        total_col="_tot",
    )
    k = F.lit(16)
    base = (F.col("_tot") / k).cast("long")
    rem = F.col("_tot") % k
    pivot = rem * (base + 1)
    bucket = F.when(
        F.col("_grn") <= pivot, F.ceil(F.col("_grn") / (base + 1))
    ).otherwise(rem + F.ceil((F.col("_grn") - pivot) / base))
    return (
        ranked.withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(
            F.round(F.min("v"), 2).alias("lo"),
            F.round(F.max("v"), 2).alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# q59: snapshot diff / reconciliation -- the CDC-and-validation primitive
# (compare yesterday's table version to today's: what was added, removed,
# changed?). Version 2 is DERIVED deterministically from part (drop
# key%97==0, reprice key%10==0, add synthetic keys), so both engines
# diff the identical pair. Shape: one full-outer join on the key with
# null-flag classification -- ONE shuffle, payload compared via a
# column-pruned projection, the way a 100 TB reconciliation has to run
# (never two anti-joins + an inner join = three shuffles).
# --------------------------------------------------------------------------


@register(
    "q59_snapshot_diff",
    oracle="""
WITH v2 AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 10 = 0 THEN round(p_retailprice + 1.0, 2)
              ELSE p_retailprice END AS p_retailprice
  FROM part WHERE p_partkey % 97 <> 0
  UNION ALL
  SELECT p_partkey + 1000000, 9.99 FROM part WHERE p_partkey % 251 = 0
), d AS (
  SELECT CASE
           WHEN a.p_partkey IS NULL THEN 'added'
           WHEN b.p_partkey IS NULL THEN 'removed'
           WHEN a.p_retailprice <> b.p_retailprice THEN 'changed'
           ELSE 'unchanged'
         END AS change
  FROM part a FULL OUTER JOIN v2 b USING (p_partkey)
)
SELECT change, CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY change
""",
    doc="CDC-style snapshot reconciliation: full-outer join on the key, "
    "added/removed/changed/unchanged classification in one shuffle.",
)
def q59_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    v2 = (
        part.filter(F.col("p_partkey") % 97 != 0)
        .select(
            "p_partkey",
            F.when(
                F.col("p_partkey") % 10 == 0, F.round(F.col("p_retailprice") + 1.0, 2)
            )
            .otherwise(F.col("p_retailprice"))
            .alias("p_retailprice"),
        )
        .unionByName(
            part.filter(F.col("p_partkey") % 251 == 0).select(
                (F.col("p_partkey") + 1000000).alias("p_partkey"),
                F.lit(9.99).alias("p_retailprice"),
            )
        )
    )
    a = part.alias("a")
    b = v2.alias("b")
    # Explicit join condition (not USING) so BOTH side's key columns
    # survive: classification must test join-key presence, exactly as the
    # oracle's `a.p_partkey IS NULL` does. Testing payload nullness was a
    # proxy that misreads a genuinely-NULL p_retailprice as a missing row
    # (ADVICE r3) -- safe on TPC-H data, wrong in general.
    joined = a.join(
        b, F.col("a.p_partkey") == F.col("b.p_partkey"), "full_outer"
    )
    change = (
        F.when(F.col("a.p_partkey").isNull(), "added")
        .when(F.col("b.p_partkey").isNull(), "removed")
        .when(F.col("a.p_retailprice") != F.col("b.p_retailprice"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(change.alias("change"))
        .groupBy("change")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# q60: training SEQUENCE PACKING -- pack documents into fixed token-budget
# training sequences (the step between curation and the trainer: docs are
# concatenated up to ~context-length tokens per sample). The 100 TB shape
# is TWO-LEVEL: a single global cumulative-sum ordering would serialize
# the whole corpus through one window; instead docs hash into independent
# buckets (deterministic md5 shard) and each bucket packs internally with
# a partitioned window -- embarrassingly parallel, no global sort, and
# the bucket count is the write-parallelism knob. Boundary rule is
# cumulative-tokens-before-doc div budget (a doc straddling the boundary
# joins the earlier sequence, so fill_ratio can exceed 1.0 by at most one
# doc -- reported, not hidden). Fully SQL-expressible -> exact oracle.
# --------------------------------------------------------------------------


@register(
    "q60_sequence_packing",
    oracle="""
WITH d AS (
  SELECT doc_id, md5(text) AS ord,
         CAST((('0x' || substr(md5(text), 1, 8))::UBIGINT)::BIGINT % 8 AS INT)
           AS bucket,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), c AS (
  SELECT bucket, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY bucket ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT bucket, CAST(floor(cum_before / 512) AS INT) AS seq,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
       round(sum(n_tokens) / 512.0, 4) AS fill_ratio
FROM c GROUP BY bucket, seq
""",
    doc="Two-level fixed-token-budget sequence packing: md5-bucket shard, "
    "per-bucket cumulative window, no global sort.",
)
def q60_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.text import md5_hash32

    budget = 512
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5("text").alias("ord"),
        (md5_hash32(F.col("text")) % 8).cast("int").alias("bucket"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return (
        c.withColumn("seq", F.floor(F.col("cum_before") / budget).cast("int"))
        .groupBy("bucket", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.round(F.sum("n_tokens") / float(budget), 4).alias("fill_ratio"),
        )
    )
