"""Round-7 catalog additions -- LLM-data-pipeline operators, Spark-first
and oracle-paired:

* t14: CCNet-style perplexity quality filter (Wenzek et al. 2020,
  "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  Data"): a Laplace-smoothed bigram LM trained on a clean held-out
  slice scores every document; documents bucket into head/middle/tail.
  t08 self-scores the corpus under its own MLE model (no smoothing, no
  held-out split); t14 is the production filter shape -- a FROZEN
  reference LM applied to unseen text, with unseen-token mass handled
  explicitly.

Scale notes inline; the LM tables are model artifacts (bounded by the
clean slice's vocabulary, independent of corpus size) and broadcast,
so scoring is a scan-shaped map-side join -- exactly how a KenLM binary
rides in a real CCNet job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import CENTROID_STRIDE, pinned_centroids, rank_centroids, with_norm
from ..sources.readers import load_table
from .catalog import grid_mean_spark, grid_mean_sql, register, shingle_rows_sql

# CCNet buckets the corpus into head/middle/tail thirds by perplexity;
# fixed cross-entropy cuts near the observed terciles keep the entry
# deterministic (a percentile cut would put a float rank boundary in the
# oracle). Classification happens on the 6dp-ROUNDED score both engines.
_T14_HEAD = 3.48
_T14_MIDDLE = 3.56

# Bigrams pair positions WITHIN one physical row (synthetic rid), and
# lang/source ride along from that row -- never a join back through
# doc_id: under exact-duplicate doc rows (the r13 dupx variant) a doc_id
# position self-join cross-pairs the copies, scaling LM counts
# QUADRATICALLY while the engine's per-row arrays_zip scales them
# linearly (and Laplace smoothing makes the scale visible). rid is
# order-nondeterministic but only ever joins a row to itself, which
# requires the rid-bearing CTE to be evaluated exactly ONCE: DuckDB
# inlines plain CTEs per reference, so MATERIALIZED pins the single
# evaluation (r13 ADVICE; same device as the g15 oracle).
_T14_ORACLE = f"""
WITH drows AS MATERIALIZED (
  SELECT row_number() OVER () AS rid, doc_id, source, lang, text
  FROM documents
), tok AS (
  SELECT rid, doc_id, source, lang, string_split(text, ' ') AS ws FROM drows
), pos AS (
  SELECT rid, doc_id, source, lang,
         generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
  FROM tok
), big AS (
  SELECT a.rid, a.doc_id, a.source, a.lang, a.w AS w1, b.w AS w2
  FROM pos a JOIN pos b ON a.rid = b.rid AND b.pos = a.pos + 1
  WHERE a.w <> '' AND b.w <> ''
), slice_big AS (
  SELECT w1, w2 FROM big
  WHERE lang = 'en' AND doc_id % 5 = 0
), c12 AS (
  SELECT w1, w2, count(*) AS n12 FROM slice_big GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS n1 FROM slice_big GROUP BY w1
), v AS (
  SELECT count(DISTINCT w) AS vs FROM (
    SELECT unnest(ws) AS w FROM tok
    WHERE lang = 'en' AND doc_id % 5 = 0
  ) WHERE w <> ''
), sc AS (
  -- per-bigram -ln pre-rounded to 9dp before the per-doc mean; the
  -- mean itself is the integer-grid (1e-9 -> 6dp) half-away fold so
  -- exact half-microunit doc scores round identically in both engines
  -- (the r11 drift-sweep finding, catalog.grid_mean_sql)
  SELECT big.doc_id, big.source,
         {grid_mean_sql("round(-ln((coalesce(n12, 0) + 1) / CAST(coalesce(n1, 0) + vs AS DOUBLE)), 9)", 1_000_000_000, 6)} AS ce
  FROM big LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
       CROSS JOIN v
  GROUP BY big.doc_id, big.source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       {grid_mean_sql('ce', 1_000_000, 6)} AS avg_ce,
       CAST(count(*) FILTER (WHERE ce < {_T14_HEAD}) AS BIGINT) AS n_head,
       CAST(count(*) FILTER (WHERE ce >= {_T14_HEAD} AND ce < {_T14_MIDDLE})
            AS BIGINT) AS n_middle,
       CAST(count(*) FILTER (WHERE ce >= {_T14_MIDDLE}) AS BIGINT) AS n_tail
FROM sc GROUP BY source ORDER BY source
"""


@register(
    "t14_perplexity_filter",
    oracle=_T14_ORACLE,
    doc="CCNet-style perplexity filter (Wenzek et al. 2020): Laplace-"
    "smoothed bigram LM from the clean en/doc_id%5 slice, every doc "
    "scored under the FROZEN model (unseen tokens get 1/(0+V) mass), "
    "head/middle/tail buckets at fixed cuts on the rounded score.",
)
def t14_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ref analog: the reference filters its ratings corpus by
    hand-picked thresholds (Explorativa/Explorativa2.ipynb cell 6); this
    is the corpus-scale, model-based version every pretraining pipeline
    runs.

    Scale shape: ONE corpus scan builds the bigram stream; the LM (c12,
    c1, V) derives from the bounded clean slice and is broadcast -- the
    scoring join is map-side, no corpus shuffle besides the per-doc
    groupBy (partial-agg'd). At 100 TB the LM is a prebuilt artifact;
    here it is built in the same job from the slice for oracle parity.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.split("text", " ").alias("ws")
    )
    n = F.size("ws")
    bigrams = F.arrays_zip(
        F.slice("ws", 1, n - 1).alias("w1"), F.slice(F.col("ws"), 2, n - 1).alias("w2")
    )
    big = (
        docs.select("doc_id", "source", "lang", F.explode(bigrams).alias("b"))
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("b.w1").alias("w1"),
            F.col("b.w2").alias("w2"),
        )
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    in_slice = (F.col("lang") == "en") & (F.col("doc_id") % 5 == 0)
    slice_big = big.filter(in_slice)
    c12 = slice_big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = slice_big.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = (
        docs.filter(in_slice)
        .select(F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .agg(F.countDistinct("w").alias("vs"))
    )
    # try_divide, not /: with an EMPTY clean slice (e.g. every lang NULL,
    # the r12 all-NULL hostile variant) the denominator is 0 + vs = 0;
    # Spark 4's ANSI division throws where DuckDB's returns NULL -- the
    # engines must degrade identically (NULL lp -> NULL cross-entropy).
    lp = F.round(
        -F.log(
            F.try_divide(
                F.coalesce(F.col("n12"), F.lit(0)) + 1,
                (F.coalesce(F.col("n1"), F.lit(0)) + F.col("vs")).cast("double"),
            )
        ),
        9,
    )
    # Broadcast is right while the LM stays artifact-sized, but c12 is
    # bounded by the SLICE's distinct bigrams, not by a constant -- probe
    # the count (limit k+1, never a full count of a huge table) and fall
    # back to a shuffle join loudly past 2M rows (the P6 map-literal
    # device). Results are identical either way.
    _lm_cap = 2_000_000
    oversized = c12.select("w1").limit(_lm_cap + 1).count() > _lm_cap
    if oversized:  # pragma: no cover - needs a pathological slice
        import warnings

        warnings.warn(
            f"t14: slice LM exceeds {_lm_cap} bigrams; using shuffle joins "
            "(prune the LM or shrink the slice for the broadcast path)",
            stacklevel=2,
        )
    _side = (lambda d: d) if oversized else F.broadcast
    sc = (
        big.join(_side(c12), ["w1", "w2"], "left")
        .join(_side(c1), ["w1"], "left")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id", "source")
        # integer-grid mean (lp is 9dp-rounded): engine-independent at
        # exact half-microunits, the t14 drift-sweep finding (r11)
        .agg(grid_mean_spark(lp, 1_000_000_000, 6).alias("ce"))
    )
    return (
        sc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            grid_mean_spark("ce", 1_000_000, 6).alias("avg_ce"),
            # count(when(...)), not sum(bool.cast): the oracle's
            # count(*) FILTER ignores NULL predicates, so an all-NULL ce
            # slice (empty LM, the r12 all-NULL hostile variant) must
            # count 0 -- sum over all-NULL casts returns NULL instead.
            F.count(F.when(F.col("ce") < _T14_HEAD, 1)).alias("n_head"),
            F.count(
                F.when((F.col("ce") >= _T14_HEAD) & (F.col("ce") < _T14_MIDDLE), 1)
            ).alias("n_middle"),
            F.count(F.when(F.col("ce") >= _T14_MIDDLE, 1)).alias("n_tail"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# e11: SCALAR-QUANTIZED (SQ8) ANN -- the third codebook family next to
# IVF (e03) and PQ (e04): each dimension is linearly quantized to 8 bits
# against per-dimension [min, max] corpus stats (the faiss SQ8 /
# Milvus SQ8 shape). Asymmetric scoring: the query stays float, the
# corpus side is dequantized codes -- 4x memory cut (64 bytes vs 256)
# with one multiply-add per dim, no codebook training.
#
# Scale shape: the stats pass is ONE partial-agg'd aggregate producing a
# 64-value artifact (vs PQ's k-means); encode + dequant + dot are pure
# in-row JVM array HOFs after a broadcast of the 1-row stats frame; the
# only corpus-sized exchange is the per-query top-k window over n x |Q|
# scored rows (|Q| = 10 broadcast queries). At 100 TB the stats and the
# codes are persisted artifacts; scoring is scan-shaped.
#
# Determinism: codes are exact (floor over identically-ordered IEEE
# arithmetic on both engines); the dot is the index-ordered left fold
# both engines share; ranking happens on the 12dp-rounded score (e05
# device).
# --------------------------------------------------------------------------

_E11_TOPK = 5

_E11_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), dims AS (
  SELECT unnest(generate_series(1, 64)) AS d
), stats AS (
  SELECT d, min(v[d]) AS mn, max(v[d]) AS mx
  FROM e CROSS JOIN dims GROUP BY d
), lists AS (
  SELECT list(mn ORDER BY d) AS mns,
         list(CASE WHEN mx > mn THEN mx - mn ELSE 1.0e0 END ORDER BY d) AS ws
  FROM stats
), deq AS (
  SELECT vec_id,
         list_transform(v, (x, i) ->
           mns[i] + least(greatest(floor((x - mns[i]) / ws[i] * 2.55e2),
                                   0.0e0), 2.55e2) * ws[i] / 2.55e2) AS dv
  FROM e CROSS JOIN lists
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_dot_product(q.v, c.dv), 12) AS adot
  FROM e q JOIN deq c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
)
SELECT query_id, neighbor_id, round(adot, 6) AS approx_dot,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adot DESC, neighbor_id) AS BIGINT) AS rn
FROM scored QUALIFY rn <= {_E11_TOPK}
"""


def sq8_dequantized(e: DataFrame) -> DataFrame:
    """(vec_id, v) -> (vec_id, v, dv): SQ8 encode + dequantize against
    per-dimension corpus [min, max]. Exposed for the invariant tests
    (codes in [0,255]; reconstruction error bounded by one quantization
    step per dimension)."""
    dim = 64
    stats = e.agg(
        F.array(*[F.min(F.element_at("v", d + 1)) for d in range(dim)]).alias("mns"),
        F.array(
            *[
                F.when(
                    F.max(F.element_at("v", d + 1)) > F.min(F.element_at("v", d + 1)),
                    F.max(F.element_at("v", d + 1)) - F.min(F.element_at("v", d + 1)),
                ).otherwise(F.lit(1.0))
                for d in range(dim)
            ]
        ).alias("ws"),
    )
    with_stats = e.crossJoin(F.broadcast(stats))
    code = F.zip_with(
        "v",
        F.zip_with("mns", "ws", lambda mn, w: F.struct(mn.alias("mn"), w.alias("w"))),
        lambda x, s: F.least(
            F.greatest(F.floor((x - s["mn"]) / s["w"] * 255.0), F.lit(0.0)),
            F.lit(255.0),
        ),
    )
    dv = F.zip_with(
        code,
        F.zip_with("mns", "ws", lambda mn, w: F.struct(mn.alias("mn"), w.alias("w"))),
        lambda c, s: s["mn"] + c * s["w"] / 255.0,
    )
    return with_stats.select("vec_id", "v", dv.alias("dv"))


@register(
    "e11_knn_sq8",
    oracle=_E11_ORACLE,
    doc="SQ8 scalar-quantized ANN (faiss/Milvus SQ8 shape): per-dim "
    "8-bit linear codes against corpus [min,max] stats, asymmetric "
    "float-query x dequantized-corpus dot, top-5 per query; stats pass "
    "is one partial agg, everything else in-row JVM HOFs.",
)
def e11_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.similarity import _as_double, _dot
    from ..sources.readers import spread

    emb = load_table(spark, sf_dir, "embeddings")
    e = spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cand = sq8_dequantized(e)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot(F.col("qv"), F.col("dv")), 12).alias("adot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _E11_TOPK)
        .select("query_id", "neighbor_id", F.round("adot", 6).alias("approx_dot"), "rn")
    )


# --------------------------------------------------------------------------
# mm08: AUDIO ACTIVITY SEGMENTATION (the VAD shape) -- the segment-level
# audio primitive the multimodal family lacked: mm04 summarizes whole
# clips (rms/zcr), mm08 finds WHERE the activity is. Fixture = burst-
# gated tones through the REAL stdlib WAV encode->decode round-trip
# (amplitude gated per 400-sample block by md5 digest bytes, ~2/3 duty),
# so clips carry genuine on/off structure. Frames are 200 samples; a
# frame is active iff its mean-square energy clears 0.004 (quiet blocks
# decode to EXACT zeros after quantization; live blocks sit >= amp^2/2 =
# 0.005 at the lowest amp -- a >=25% margin over any quantization
# error). Output is ALL integers (frame/segment counts, longest run):
# no float surface in the oracle contract at all; the oracle replays
# synthesis + 16-bit quantization (the mm04 device) and does
# gaps-and-islands in SQL.
#
# Scale shape: one mapInPandas pass pipelined inside the scan (the mm02/
# mm04 Arrow contract), per-clip work O(samples); no shuffle at all
# until the final ORDER BY id of a doc-count-sized frame.
# --------------------------------------------------------------------------

# Every stage keys on a synthetic per-ROW rid (the t14 device): the
# engine is a per-row mapInPandas (each physical row yields its own
# correct segment stats, so duplicate doc rows -- r13 dupx -- yield
# multiplicity, not pollution), and a doc_id-keyed oracle would both
# cross-join frame rows between copies and fragment the gaps-and-islands
# run ids on row_number ties. rid only ever relates a row to itself, so
# the rid-bearing CTE is MATERIALIZED: DuckDB inlines plain CTEs and
# would otherwise re-evaluate row_number() OVER () independently per
# reference (r13 ADVICE; pcm is referenced twice downstream).
_MM08_ORACLE = """
WITH d AS MATERIALIZED (
  SELECT row_number() OVER () AS rid, doc_id AS id, md5(text) AS h,
         octet_length(encode(text)) % 1600 + 400 AS n
  FROM documents
), meta AS (
  SELECT rid, id, n, h,
         (('0x'||substr(h, 1, 4))::UINTEGER % 1800 + 200)::BIGINT AS freq,
         (('0x'||substr(h, 5, 2))::UINTEGER / 255.0) * 0.8 + 0.1 AS amp
  FROM d
), pcm AS (
  SELECT rid, id, n,
         [round((amp * (CASE WHEN ('0x'||substr(h, 2 * (3 + (i // 400)) + 1, 2))::UINTEGER >= 86
                        THEN 1.0e0 ELSE 0.0e0 END))
                * sin(((2 * pi()) * freq) * (i / 8000.0)) * 32767.0) / 32768.0
          for i in generate_series(0, n - 1)] AS p
  FROM meta
), fr AS (
  SELECT rid, id, n, p, unnest(generate_series(0, (n + 199) // 200 - 1)) AS f
  FROM pcm
), fe AS (
  SELECT rid, id, f,
         list_sum([x * x for x in p[f * 200 + 1 : least((f + 1) * 200, n)]])
           / (least((f + 1) * 200, n) - f * 200) AS ms
  FROM fr
), act AS (
  SELECT rid, id, f FROM fe WHERE ms > 0.004e0
), runs AS (
  SELECT rid, f, f - row_number() OVER (PARTITION BY rid ORDER BY f) AS g
  FROM act
), seg AS (
  SELECT rid, count(*) AS run_len FROM runs GROUP BY rid, g
), agg AS (
  SELECT rid, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(run_len) AS BIGINT) AS longest_run,
         CAST(sum(run_len) AS BIGINT) AS n_active
  FROM seg GROUP BY rid
)
SELECT pcm.id,
       CAST((n + 199) // 200 AS BIGINT) AS n_frames,
       coalesce(n_active, 0) AS n_active,
       coalesce(n_segments, 0) AS n_segments,
       coalesce(longest_run, 0) AS longest_run
FROM pcm LEFT JOIN agg USING (rid)
ORDER BY id
"""


@register(
    "mm08_audio_segments",
    oracle=_MM08_ORACLE,
    doc="Audio activity segmentation (VAD shape): burst-gated tones "
    "through the real WAV round-trip, 200-sample frame energies, "
    "gaps-and-islands segments; all-integer output, oracle replays "
    "synthesis + quantization.",
)
def mm08_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import (
        audio_energy_segments,
        decode_audio_wav,
        synth_wav_table_bursts,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synth_wav_table_bursts(spark, docs, "doc_id", "text")
    return audio_energy_segments(media, decode=decode_audio_wav).orderBy("id")


# --------------------------------------------------------------------------
# d16: SOFT DEDUPLICATION -- reweighting instead of dropping (the
# SoftDeDup idea: hard dedup throws away partially-duplicated documents
# wholesale; soft dedup keeps them but shrinks their sampling weight by
# how COMMON their content is corpus-wide). Each document's weight is
# the exact integer ratio n_distinct_5grams / sum(corpus doc-frequency
# of those 5grams): 1.0 for fully unique content, -> 1/k when every
# 5-gram appears in k documents. Published per source: doc count, mean
# weight, and how many docs fall below the 0.5 down-weight line.
#
# Scale shape: one shingle explode (O(total tokens)), one partial-agg'd
# groupBy(hash) for doc frequencies, one hash-join back (both sides
# corpus-sized -- honestly NOT broadcastable, unlike d06's tiny eval
# set), one per-doc aggregate. Weights are exact integer ratios rounded
# once -- no libm anywhere, so no float-boundary risk at the 0.5 gate
# beyond the single deterministic round.
# --------------------------------------------------------------------------

_D16_GATE = 0.5

_DUCK_H32 = "(('0x'||substr(md5({expr}),1,8))::UBIGINT)::BIGINT"

# 5-gram shingle rows via catalog.shingle_rows_sql (lead() windows -- the
# slice comprehension is quadratic in doc length, r14 longstr find);
# DISTINCT per _rid == the old per-row list_distinct (dupx multiplicity
# preserved).
_D16_ORACLE = f"""
WITH tok AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, source,
         string_split(text, ' ') AS t
  FROM documents
), {shingle_rows_sql('tok', 5, 'doc_id, source')},
sh AS (
  SELECT DISTINCT _rid, doc_id, source, g AS s FROM shw
), hashed AS (
  SELECT doc_id, source, {_DUCK_H32.format(expr='s')} AS h FROM sh
), df AS (
  -- (doc_id, h) pairs are already distinct (per-doc list_distinct), so
  -- a plain count IS the doc frequency -- no two-phase distinct agg
  SELECT h, count(*) AS nd FROM hashed GROUP BY h
), w AS (
  SELECT doc_id, source,
         round(count(*) / CAST(sum(nd) AS DOUBLE), 6) AS weight
  FROM hashed JOIN df USING (h)
  GROUP BY doc_id, source
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       {grid_mean_sql('weight', 1_000_000, 6)} AS avg_weight,
       CAST(count(*) FILTER (WHERE weight < {_D16_GATE}) AS BIGINT)
         AS n_downweighted
FROM w GROUP BY source ORDER BY source
"""


@register(
    "d16_soft_dedup_weights",
    oracle=_D16_ORACLE,
    doc="Soft deduplication: per-doc sampling weight = n_distinct_5grams "
    "/ sum(corpus doc-frequency of them) -- exact integer ratio, 1.0 "
    "for unique content; per-source mean weight + count below the 0.5 "
    "down-weight gate. Reweight-not-drop, the d01-d15 families' "
    "complement.",
)
def d16_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_hash32, shingles, tokenize
    from ..sources.readers import spread

    # spread: the shingle+md5 projection is the CPU-heavy stage and a
    # small parquet arrives as one input partition (see readers.spread)
    docs = spread(load_table(spark, sf_dir, "documents"))
    hashed = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(shingles(tokenize(F.col("text")), 5))).alias("s"),
    ).select("doc_id", "source", md5_hash32(F.col("s")).alias("h"))
    # materialize ONCE: both the doc-frequency agg and the weight join
    # consume the same expanded relation (at 100 TB this is the persisted
    # shingle table a soft-dedup pass would reuse anyway)
    hashed = hashed.localCheckpoint(eager=True)
    # (doc_id, h) distinct by construction: plain count == doc frequency
    df_tab = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
    w = (
        hashed.join(df_tab, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.count(F.lit(1)) / F.sum("nd").cast("double"), 6
            ).alias("weight")
        )
    )
    return (
        w.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            # weight sits on the 1e-6 grid: integer-grid mean (r11)
            grid_mean_spark("weight", 1_000_000, 6).alias("avg_weight"),
            F.sum((F.col("weight") < _D16_GATE).cast("long")).alias("n_downweighted"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# e12: TOMBSTONE-AWARE ANN INDEX HYGIENE -- the delete half of the index
# lifecycle (q78 propagates GDPR deletes through tables; s28 ingests new
# vectors; e12 is the report an index operator reads AFTER deletes:
# which inverted lists are hollowed out and due for compaction).
# Deleted vectors (deterministic tombstone set vec_id % 7 = 3) stay
# physically in their lists -- the faiss/Milvus soft-delete reality --
# so searches must filter them and the per-list LIVE fraction is the
# re-cluster/compaction signal. Assignment = the d14/s29 pinned-centroid
# lattice verbatim; everything after is one partial-agg'd groupBy(cid)
# of integers and an exact-ratio round.
# --------------------------------------------------------------------------

_E12_COMPACT_BELOW = 0.75

_E12_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
cent AS (SELECT vec_id AS cid, v AS cv, nrm AS cn
         FROM n WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT n.vec_id, cent.cid,
         round(list_dot_product(n.v, cent.cv) / (n.nrm * cent.cn), 12) AS cc
  FROM n, cent
), ranked AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), lists AS (SELECT vec_id, cid FROM ranked WHERE crn = 1),
agg AS (
  SELECT cid,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(count(*) FILTER (WHERE vec_id % 7 <> 3) AS BIGINT) AS n_live
  FROM lists GROUP BY cid
)
SELECT cid, n_total, n_live,
       round(n_live / CAST(n_total AS DOUBLE), 6) AS live_frac,
       round(n_live / CAST(n_total AS DOUBLE), 6) < {_E12_COMPACT_BELOW}
         AS needs_compaction
FROM agg ORDER BY cid
"""


@register(
    "e12_index_tombstone_hygiene",
    oracle=_E12_ORACLE,
    doc="Tombstone-aware ANN index hygiene: deterministic delete set "
    "(vec_id%7=3) against the pinned-centroid inverted lists; per-list "
    "total/live counts, live fraction, compaction flag below 0.75 -- "
    "the soft-delete maintenance report between q78 (delete "
    "propagation) and s28 (streaming ingest).",
)
def e12_index_tombstone_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import _as_double
    from ..sources.readers import spread

    emb = load_table(spark, sf_dir, "embeddings")
    n = with_norm(spread(emb).select("vec_id", _as_double(F.col("embedding")).alias("v")))
    lists = (
        rank_centroids(n, pinned_centroids(n), digits=12)
        .filter(F.col("crn") == 1)
        .select("vec_id", "cid")
    )
    live_frac = F.round(F.col("n_live") / F.col("n_total").cast("double"), 6)
    return (
        lists.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum((F.col("vec_id") % 7 != 3).cast("long")).alias("n_live"),
        )
        .select(
            "cid",
            "n_total",
            "n_live",
            live_frac.alias("live_frac"),
            (live_frac < _E12_COMPACT_BELOW).alias("needs_compaction"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# e13: GRAPH-TRAVERSAL ANN (the NSW/HNSW family) -- pinned small-world
# neighbor graph + fixed-width beam search, completing the retrieval
# matrix's missing family (brute e01, LSH e02, IVF e03, PQ e04/e06, SQ8
# e11 all exist; production vector search is dominated by graph
# traversal). Deterministic end to end: the graph derives from e03's
# pinned vec_id%37 quantizer, the beam is fixed-width with id
# tie-breaks, so the ORACLE REBUILDS THE ENTIRE INDEX AND SEARCH -- the
# beam rounds unroll into SQL CTEs exactly like g02's PageRank
# iterations. Recall vs brute force is additionally pytest-gated
# (tests/test_ann_recall.py).
# --------------------------------------------------------------------------

_E13_BEAM = 8
_E13_ROUNDS = 3
_E13_DEGREE = 4
_E13_TOPK = 5

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


def _e13_oracle(rounds: int = _E13_ROUNDS) -> str:
    ctes = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {CENTROID_STRIDE} = 0)",
        f"""scored AS (
  SELECT e.vec_id, e.v, cent.cid, {_COS.format(a='e.v', b='cent.cv')} AS cc
  FROM e, cent
)""",
        """ranked AS (
  SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
)""",
        "home AS (SELECT vec_id, v, cid FROM ranked WHERE crn = 1)",
        f"""cand AS (
  SELECT r.vec_id AS src, h.vec_id AS dst, {_COS.format(a='r.v', b='h.v')} AS cos
  FROM ranked r JOIN home h USING (cid)
  WHERE r.crn <= 2 AND r.vec_id != h.vec_id
)""",
        f"""nn AS (
  SELECT src, dst FROM (
    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn
    FROM cand
  ) WHERE rn <= {_E13_DEGREE}
)""",
        """hub AS (
  SELECT vec_id AS src, cid AS dst FROM ranked WHERE crn = 1 AND vec_id != cid
)""",
        "links AS (SELECT src, dst FROM nn UNION ALL SELECT src, dst FROM hub)",
        "und AS (SELECT src, dst FROM links UNION SELECT dst, src FROM links)",
        "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10)",
        """b0 AS (
  SELECT vec_id AS query_id, cid AS node FROM ranked WHERE crn <= 2 AND vec_id < 10
)""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""f{r} AS (
  SELECT query_id, node FROM b{r - 1}
  UNION
  SELECT b.query_id, u.dst AS node FROM b{r - 1} b JOIN und u ON u.src = b.node
)"""
        )
        ctes.append(
            f"""b{r} AS (
  SELECT query_id, node, cos FROM (
    SELECT f.query_id, f.node, {_COS.format(a='q.qv', b='e.v')} AS cos,
           row_number() OVER (
             PARTITION BY f.query_id
             ORDER BY {_COS.format(a='q.qv', b='e.v')} DESC, f.node
           ) AS rn
    FROM f{r} f JOIN q USING (query_id) JOIN e ON e.vec_id = f.node
  ) WHERE rn <= {_E13_BEAM}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, round(cos, 4) AS cosine, rn FROM (
  SELECT query_id, node AS neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS BIGINT) AS rn
  FROM b{rounds} WHERE node != query_id
) WHERE rn <= {_E13_TOPK}
"""
    )


@register(
    "e13_knn_nsw_beam",
    oracle=_e13_oracle(),
    doc="Graph-traversal ANN: pinned small-world graph (probe-2-list "
    "candidates, degree-4, symmetrized) + 3-round width-8 beam search "
    "from IVF entry points; top-5 per query vec_id<10. Oracle rebuilds "
    "the full index and unrolls the beam rounds into CTEs (the "
    "g02-iteration technique).",
)
def e13_knn_nsw_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import nsw_beam_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return nsw_beam_topk(
        emb,
        k=_E13_TOPK,
        beam_width=_E13_BEAM,
        rounds=_E13_ROUNDS,
        neighbors_per_node=_E13_DEGREE,
        query_pred=lambda vid: vid < 10,
    )
