"""North-star catalog, part 2: exact n-gram-Jaccard near-dup (prefix
filtering), embedding-cosine near-dup (NumPy matmul scan), IVF-flat ANN,
and rolling-hash document fingerprinting.

Relative to textops.py these fill the remaining BASELINE.json dedup /
similarity families: d02 is the PROBABILISTIC near-dup (MinHash prunes,
can miss), d04 is the EXACT one (prefix filter, complete at any
threshold); e01/e02 are brute-force / LSH ANN, e03 is the IVF scale path
with a full SQL oracle (its quantizer is deterministic, unlike k-means).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import ROLLING_BASE, ROLLING_MOD, rolling_hash, shingles, tokenize
from ..operators.dedup import ngram_jaccard_join
from ..operators.similarity import (
    CENTROID_STRIDE,
    _as_double,
    cosine_near_dup_matmul,
    ivf_cosine_topk,
    pinned_centroids,
    rank_centroids,
    with_norm,
)
from ..sources.readers import load_table, spread
from .catalog import register, shingle_rows_sql

_DUCK_H32 = "(('0x'||substr(md5({expr}),1,8))::UBIGINT)::BIGINT"


# --------------------------------------------------------------------------
# d04: EXACT n-gram Jaccard self-join at threshold 0.5 via prefix filtering
# (PPJoin). Complements d02: at 0.5, 16-hash/4-band MinHash would miss
# pairs (P[candidate] = 1-(1-0.5^4)^4 = 23%); the prefix filter misses none.
# --------------------------------------------------------------------------

# sh collapses to DISTINCT (doc_id, text): the pair lattice is over
# document IDENTITIES (ngram_jaccard_join dedupes its input the same way
# -- the r13 dupx sweep found duplicate rows truncating the engine's
# prefix windows AND the oracle's final joins re-inflating x(copies^2)).
# shingle lists come from catalog.shingle_rows_sql (lead() windows, linear
# in doc length -- the quadratic slice comprehension stalled on 1 MiB docs,
# r14 longstr); list(DISTINCT g) keyed on identity-distinct rows, and no
# downstream consumer depends on shingle order inside `s`.
_D04_ORACLE = f"""
WITH dsh AS MATERIALIZED (
  SELECT row_number() OVER () AS _rid, doc_id, string_split(text, ' ') AS t
  FROM (SELECT DISTINCT doc_id, text FROM documents)
), {shingle_rows_sql('dsh', 3, 'doc_id')},
sh AS (
  SELECT doc_id, list(DISTINCT g) AS s FROM shw GROUP BY doc_id
), ex AS (
  SELECT doc_id, len(s) AS sz, unnest(s) AS shingle FROM sh
), dfreq AS (
  SELECT shingle, count(*) AS df FROM ex GROUP BY shingle
), prefix AS (
  SELECT doc_id, shingle FROM (
    SELECT e.doc_id, e.sz, e.shingle,
           row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.shingle) AS rn
    FROM ex e JOIN dfreq d USING (shingle)
  ) WHERE rn <= sz - ceil(0.5 * sz) + 1
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
             / len(list_distinct(sa.s || sb.s)), 4) AS jaccard
FROM cands c
JOIN sh sa ON sa.doc_id = c.doc_a
JOIN sh sb ON sb.doc_id = c.doc_b
WHERE len(list_filter(sa.s, x -> list_contains(sb.s, x)))::DOUBLE
      / len(list_distinct(sa.s || sb.s)) >= 0.5
"""


@register("d04_ngram_jaccard_dedup", oracle=_D04_ORACLE)
def d04_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_join(docs, "doc_id", "text", threshold=0.5, shingle_n=3)


# --------------------------------------------------------------------------
# d05: embedding-cosine near-dup -- a 5% "new ingest" sample scanned against
# the full corpus by Arrow-batched NumPy matmul (mapInPandas). threshold
# 0.35 sits at the ~99.9th percentile of this corpus's pair cosines.
# --------------------------------------------------------------------------


@register(
    "d05_embedding_near_dups",
    oracle="""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id % 20 = 0)
SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       round(list_dot_product(q.v, e.v)
             / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))), 4) AS cosine
FROM q JOIN e ON q.vec_id <> e.vec_id
WHERE list_dot_product(q.v, e.v)
      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v))) >= 0.35
""",
)
def d05_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_near_dup_matmul(
        emb, emb.filter(F.col("vec_id") % 20 == 0), threshold=0.35
    )


# --------------------------------------------------------------------------
# e03: IVF-flat ANN with a deterministic coarse quantizer (vec_id % 37 docks
# as centroids), nprobe=2, exact cosine top-5 within probed lists. Full SQL
# oracle -- the IVF structure itself is verified, not just row counts.
# --------------------------------------------------------------------------

_E03_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.cid,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS cc
  FROM e, cent
), ranked AS (
  SELECT vec_id, v, cid, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS crn
  FROM scored
), lists AS (
  SELECT vec_id AS neighbor_id, v AS nv, cid FROM ranked WHERE crn = 1
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


@register("e03_knn_ivf", oracle=_E03_ORACLE)
def e03_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_cosine_topk(emb, k=5, nprobe=2, query_pred=lambda vid: vid < 10)


# --------------------------------------------------------------------------
# t05: document fingerprinting -- Rabin-Karp rolling hash of the full token
# stream + winnowing-style min-hash over 8-token windows (the standard
# plagiarism/near-dup fingerprint pair).
# --------------------------------------------------------------------------

# The 8-token windows are built with lead() over unnested positions, NOT a
# `t[i:i+7]` list-slice comprehension: DuckDB evaluates that comprehension
# quadratically in doc length (measured 9.9 s -> 46 s for 20k -> 40k tokens;
# the lead() form is 0.06 s -> 0.08 s, linear), which excluded t05 from the
# r13 longstr 1 MiB sweeps (SCALING.md). The window CTE keys on a
# MATERIALIZED synthetic rid (the t14 device) so exact-duplicate doc rows
# (dupx) keep per-row multiplicity instead of collapsing in the GROUP BY.
_T05_WINDOW_G = " || ' ' || ".join(
    ["w"] + [f"lead(w, {k}) OVER pw" for k in range(1, 8)]
)

_T05_ORACLE = f"""
WITH d AS MATERIALIZED (
  SELECT row_number() OVER () AS rid, doc_id, text FROM documents
), feat AS (
  SELECT rid, doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM d
), pos AS (
  SELECT rid, generate_subscripts(t, 1) AS i, unnest(t) AS w FROM feat
), win AS (
  SELECT rid, {_T05_WINDOW_G} AS g
  FROM pos
  WINDOW pw AS (PARTITION BY rid ORDER BY i)
), wfp AS (
  SELECT rid, min({_DUCK_H32.format(expr='g')}) AS min_fp,
         CAST(count(g) AS BIGINT) AS n_win
  FROM win WHERE g IS NOT NULL GROUP BY rid
)
SELECT f.doc_id,
       list_reduce([{_DUCK_H32.format(expr='x')} % {ROLLING_MOD} for x in f.t],
                   (acc, x) -> (acc * {ROLLING_BASE} + x) % {ROLLING_MOD})
         AS roll_fp,
       CASE WHEN f.n >= 8 THEN w.min_fp
            ELSE {_DUCK_H32.format(expr="array_to_string(f.t, ' ')")}
       END AS min_window_fp,
       CASE WHEN f.n >= 8 THEN w.n_win ELSE 1 END AS n_windows
FROM feat f LEFT JOIN wfp w USING (rid)
"""


@register("t05_doc_fingerprints", oracle=_T05_ORACLE)
def t05_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import md5_hash32

    docs = load_table(spark, sf_dir, "documents")
    # tokenize once and materialize the window array once (t04 discipline):
    # `ws`/`win` are referenced more than once below, which also keeps
    # CollapseProject from inlining the expensive expressions back in
    base = docs.select("doc_id", tokenize(F.col("text")).alias("ws"))
    base = base.withColumn("win", shingles(F.col("ws"), 8))
    return base.select(
        "doc_id",
        rolling_hash(F.col("ws")).alias("roll_fp"),
        F.array_min(
            F.transform(F.col("win"), lambda g: md5_hash32(g))
        ).alias("min_window_fp"),
        F.size(F.col("win")).cast("long").alias("n_windows"),
    )


# --------------------------------------------------------------------------
# mm01: multimodal metadata-only resize planning. The media table is the
# deterministic synth (documents text as blobs + typed metadata struct);
# the query computes per-image resize targets WITHOUT reading the binary
# column (parquet column pruning -- asserted in test_multimodal). Full SQL
# oracle over the same metadata derivation.
# --------------------------------------------------------------------------


@register(
    "mm01_resize_plan",
    oracle="""
WITH meta AS (
  SELECT doc_id AS id,
         (length(text) % 640 + 32)::INT AS width,
         (length(text) % 480 + 32)::INT AS height
  FROM documents
)
SELECT id, width, height,
       round(width  * least(1.0, 256.0 / greatest(width, height)))::INT AS target_w,
       round(height * least(1.0, 256.0 / greatest(width, height)))::INT AS target_h
FROM meta
""",
)
def mm01_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import resize_plan, synth_image_table

    docs = load_table(spark, sf_dir, "documents")
    return resize_plan(synth_image_table(spark, docs, "doc_id", "text"), max_side=256)


# --------------------------------------------------------------------------
# mm02: Arrow-batched feature extraction over the binary column via
# mapInPandas -- the REAL codec path (r4): every content blob is a valid
# PNG built by the stdlib encoder, decoded back by decode_image (PIL if
# present, else the stdlib inflate+unfilter decoder), so the features
# depend on genuine pixel data.
#
# HASH-EXACT oracle since r5 (was rows-only): the fixture pixels are
# md5-block bytes (multimodal._text_pixels), so DuckDB regenerates the
# identical pixel matrix from the text column and replays the feature
# arithmetic. Exactness is engineered, not hoped for: mean/std come from
# exact integer sums (image_feature_vector), the histogram uses exact
# dyadic bin boundaries, and the final sq-sum is an explicit left-fold
# matching Spark's F.aggregate order. The oracle therefore verifies the
# DECODED PIXELS (encode -> PNG -> decode round-trip must be lossless)
# -- a corrupted codec changes features and breaks the hash.
# --------------------------------------------------------------------------

_MM02_PX = (
    "[(('0x'||substr(md5(text||'|'||(k // 16)::VARCHAR), (k % 16) * 2 + 1, 2))::UINTEGER)::BIGINT "
    "for k in generate_series(0, npx - 1)]"
)

# left-fold order matches Spark's F.aggregate exactly (0.0 + f1^2 + ...)
_MM02_FSS = (
    "f_mean * f_mean + f_std * f_std + f_min * f_min + f_max * f_max"
    " + hist[1] * hist[1] + hist[2] * hist[2] + hist[3] * hist[3]"
    " + hist[4] * hist[4] + hist[5] * hist[5] + hist[6] * hist[6]"
    " + hist[7] * hist[7] + hist[8] * hist[8] + hist[9] * hist[9]"
    " + hist[10] * hist[10] + hist[11] * hist[11] + hist[12] * hist[12]"
)

# CTE prefix shared with s23's streaming-decode oracle (plans/streamq.py)
_MM02_FEATS_CTES = f"""
WITH d AS (
  SELECT doc_id AS id, text,
         octet_length(encode(text)) % 16 + 8 AS height,
         octet_length(encode(text)) % 24 + 8 AS width
  FROM documents
), px AS (
  SELECT id, width, height * width AS npx,
         {_MM02_PX} AS p
  FROM d
), sums AS (
  SELECT id, width, npx,
         list_sum(p)::BIGINT AS s1,
         list_sum([x * x for x in p])::BIGINT AS s2,
         list_min(p)::DOUBLE AS fmin,
         list_max(p)::DOUBLE AS fmax,
         [list_sum([CASE WHEN floor(x * (12.0 / 512.0)) = b THEN 1 ELSE 0 END for x in p])::DOUBLE
          for b in generate_series(0, 11)] AS hist
  FROM px
), feats AS (
  SELECT id, width,
         floor(s1 / npx * 1000000.0 + 0.5) / 1000000.0 AS f_mean,
         floor(sqrt(greatest(s2 / npx - (s1 / npx) * (s1 / npx), 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS f_std,
         fmin AS f_min, fmax AS f_max, hist
  FROM sums
)"""

_MM02_ORACLE = f"""
{_MM02_FEATS_CTES}
SELECT id,
       round({_MM02_FSS}, 4) AS feature_sq_sum,
       width::INT AS width
FROM feats
"""


@register("mm02_image_features", oracle=_MM02_ORACLE)
def mm02_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import (
        decode_image,
        extract_image_features,
        synth_png_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synth_png_table(spark, docs, "doc_id", "text")
    feats = extract_image_features(media, decode=decode_image)
    return feats.select(
        "id",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x), 4).alias(
            "feature_sq_sum"
        ),
        "width",
    )


# --------------------------------------------------------------------------
# mm03: video frame-sampling PLAN -- which frame indices to decode, computed
# purely from (fps, duration) metadata. The scan never reads the binary
# column (parquet column pruning), which is the whole point at 100 TB:
# planning a decode pass over a petabyte of video touches kilobytes of
# footer metadata. Fully SQL-expressible -> exact oracle.
# --------------------------------------------------------------------------


@register(
    "mm03_video_frame_plan",
    oracle="""
WITH meta AS (
  SELECT doc_id AS id,
         (length(text) % 2 * 6 + 24)::DOUBLE AS fps,
         (length(text) % 20 + 1)::DOUBLE AS duration_s
  FROM documents
)
SELECT id, fps,
       CAST(floor(i * 2.0 * fps) AS BIGINT) AS frame_idx
FROM meta, unnest(generate_series(0, CAST(floor(duration_s / 2.0) AS INT))) AS t(i)
""",
)
def mm03_video_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import frame_sample_plan, synth_video_table

    docs = load_table(spark, sf_dir, "documents")
    plan = frame_sample_plan(synth_video_table(spark, docs, "doc_id", "text"), every_s=2.0)
    return plan.select(
        "id", "fps", F.explode("frame_indices").alias("frame_idx")
    )


# --------------------------------------------------------------------------
# mm04: audio decode + acoustic features through the same Arrow-batched
# mapInPandas contract as mm02 -- REAL WAV containers (r4): 16-bit PCM
# tones encoded via stdlib wave, decoded back by decode_audio_wav, which
# also cross-checks the metadata-declared clip length against the
# container header.
#
# HASH-EXACT oracle since r5 (was rows-only): the tone is amp*sin(2pi f
# t) with (f, amp, n) md5/length-derived from text, so DuckDB replays
# synthesis AND 16-bit quantization (round(x*32767)/32768 -- the lossy
# step decode_wav inverts exactly). Post-quantization arithmetic is
# exact by construction: sample squares k^2/2^30 are dyadic doubles
# whose sums fit 41 bits, so rms is bit-identical regardless of
# summation order; zcr counts integer sign flips. The only cross-engine
# float dependency left is libm sin() agreeing to well under the 1/65534
# quantization step, a ~1e-11-per-sample tie risk.
# --------------------------------------------------------------------------

_MM04_ORACLE = """
WITH d AS (
  SELECT doc_id AS id, md5(text) AS h,
         octet_length(encode(text)) % 1600 + 400 AS n
  FROM documents
), meta AS (
  SELECT id, n,
         (('0x'||substr(h, 1, 4))::UINTEGER % 1800 + 200)::BIGINT AS freq,
         (('0x'||substr(h, 5, 2))::UINTEGER / 255.0) * 0.8 + 0.1 AS amp
  FROM d
), pcm AS (
  SELECT id, n,
         [round(amp * sin(((2 * pi()) * freq) * (i / 8000.0)) * 32767.0) / 32768.0
          for i in generate_series(0, n - 1)] AS p
  FROM meta
)
SELECT id,
       floor(n / 8000.0 * 1000000.0 + 0.5) / 1000000.0 AS duration_s,
       floor(sqrt(list_sum([x * x for x in p]) / n) * 1000000.0 + 0.5) / 1000000.0 AS rms,
       floor(list_sum(list_transform(generate_series(2, n), i ->
             CASE WHEN (p[i] < 0) != (p[i-1] < 0) THEN 1 ELSE 0 END)) / (n - 1)
             * 1000000.0 + 0.5) / 1000000.0 AS zcr
FROM pcm
"""


@register("mm04_audio_features", oracle=_MM04_ORACLE)
def mm04_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import (
        decode_audio_wav,
        extract_audio_features,
        synth_wav_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synth_wav_table(spark, docs, "doc_id", "text")
    return extract_audio_features(media, decode=decode_audio_wav)


# --------------------------------------------------------------------------
# e04: Product-Quantization ANN (PQ + ADC), the memory-compressed scale
# path beyond IVF: 64-dim vectors split into M=4 subspaces of 16 dims;
# each subspace's codebook is the deterministic pinned subset
# (vec_id % 53 -> 10 centroids), so the whole structure is
# oracle-verifiable like e03. Encode = per-subspace nearest centroid
# (vectors become 4 small codes -- at scale, 4 bytes instead of 256);
# query = Asymmetric Distance Computation: the query precomputes its
# distance to every (subspace, centroid) cell (a 40-row lookup table,
# broadcast), and each candidate's approx distance is the SUM of 4
# looked-up cells -- a groupBy, never a full-vector scan. L2^2 is
# computed as an index-ordered sum (zip_with+aggregate / indexed
# list_transform+list_sum) so both engines sum bit-identically.
#
# Honesty note on quality: the synthetic embeddings are UNCLUSTERED iid
# noise (same-label and cross-label mean L2^2 both =~ 2.0), so top-k
# recall vs brute force is ~chance for ANY quantizer at this codebook
# size -- the measured ADC-vs-true-distance correlation is +0.5, which
# is what a 4x16/10-centroid PQ delivers on structureless data. The
# oracle verifies the STRUCTURE exactly (codes, lookup table, ADC sums);
# tests pin the self-encoding invariant of codebook vectors.
# --------------------------------------------------------------------------

_E04_M = 4
_E04_SUBDIM = 16
_E04_STRIDE = 53
_E04_TOPK = 5

_E04_SUB_L2 = (
    "list_sum(list_transform({a}, (x, i) -> (x - {b}[i]) * (x - {b}[i])))"
)

def _adist_fixed_sql(prefix: str) -> str:
    """Fixed-order ADC total: one single-row CASE-sum per subspace, added
    left-associated -- ((pd0 + pd1) + pd2) + pd3 for M=4. A plain
    ``sum(pd)`` over the M rows adds in each engine's own order, and the
    resulting ulp differences reorder ranks whenever two neighbors'
    totals are within an ulp (seen under a 40%-drop drift variant); with
    per-subspace pd already bit-identical (_pq_sub_l2's indexed fold),
    this makes the TOTAL bit-identical too, on both engines."""
    expr = f"sum(CASE WHEN {prefix}.m = 0 THEN {prefix}.pd END)"
    for m in range(1, _E04_M):
        expr = f"({expr} + sum(CASE WHEN {prefix}.m = {m} THEN {prefix}.pd END))"
    return expr


def _adist_fixed_agg():
    """Spark twin of ``_adist_fixed_sql``: the per-subspace CASE-sums to
    pass to ``agg`` plus the left-associated total column."""
    import functools
    import operator

    sums = [
        F.sum(F.when(F.col("m") == m, F.col("pd"))).alias(f"_pd{m}")
        for m in range(_E04_M)
    ]
    total = functools.reduce(
        operator.add, [F.col(f"_pd{m}") for m in range(_E04_M)]
    ).alias("adist")
    return sums, total


_E04_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), subs AS (
  SELECT unnest(generate_series(0, {_E04_M - 1})) AS m
), sub_e AS (
  SELECT vec_id, m, v[m * {_E04_SUBDIM} + 1 : m * {_E04_SUBDIM} + {_E04_SUBDIM}] AS sv
  FROM e CROSS JOIN subs
), sub_cb AS (
  SELECT m, vec_id AS cid, sv AS cv FROM sub_e WHERE vec_id % {_E04_STRIDE} = 0
), assign AS (
  SELECT vec_id, m, cid,
         row_number() OVER (
           PARTITION BY vec_id, m
           ORDER BY {_E04_SUB_L2.format(a='sv', b='cv')}, cid
         ) AS rn
  FROM sub_e JOIN sub_cb USING (m)
), codes AS (
  SELECT vec_id, m, cid FROM assign WHERE rn = 1
), qd AS (
  SELECT s.vec_id AS query_id, s.m, c.cid,
         {_E04_SUB_L2.format(a='s.sv', b='c.cv')} AS pd
  FROM sub_e s JOIN sub_cb c USING (m)
  WHERE s.vec_id < 10
), approx AS (
  SELECT q.query_id, x.vec_id AS neighbor_id, {_adist_fixed_sql('q')} AS adist
  FROM codes x JOIN qd q ON q.m = x.m AND q.cid = x.cid
  WHERE x.vec_id <> q.query_id
  GROUP BY q.query_id, x.vec_id
)
SELECT query_id, neighbor_id, round(adist, 4) AS approx_l2sq,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS BIGINT) AS rn
FROM approx QUALIFY rn <= {_E04_TOPK}
"""


def _pq_sub_l2(a, b):
    """Index-ordered L2^2 (zip_with + left fold): bit-identical to the
    oracle's indexed list_transform + list_sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_subvectors(e: DataFrame) -> DataFrame:
    """(vec_id, v) -> (vec_id, m, sv): explode into M subspace slices."""
    return e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("long").alias("m"),
                        F.slice("v", m * _E04_SUBDIM + 1, _E04_SUBDIM).alias("sv"),
                    )
                    for m in range(_E04_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def pq_codes(e: DataFrame) -> DataFrame:
    """PQ encode: (vec_id, v) -> (vec_id, m, cid), the per-subspace
    nearest pinned centroid. Exposed for the structural invariant tests
    (a codebook vector must encode to itself)."""
    from pyspark.sql import Window

    sub_e = pq_subvectors(e)
    sub_cb = (
        sub_e.filter(F.col("vec_id") % _E04_STRIDE == 0)
        .select("m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    )
    scored = sub_e.join(F.broadcast(sub_cb), "m").withColumn(
        "d", _pq_sub_l2(F.col("sv"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_pred=None,
    k: int = _E04_TOPK,
) -> DataFrame:
    """PQ + ADC top-k as a reusable operator (e04 is this over the
    catalog embeddings with ``vec_id < 10`` queries). ``query_pred`` is a
    callable on the vec_id Column, or None for all-vectors-as-queries."""
    from pyspark.sql import Window

    e = embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sub_l2 = _pq_sub_l2
    sub_e = pq_subvectors(e)
    sub_cb = (
        sub_e.filter(F.col("vec_id") % _E04_STRIDE == 0)
        .select("m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    )
    codes = pq_codes(e)
    q_side = (
        sub_e.filter(query_pred(F.col("vec_id"))) if query_pred is not None else sub_e
    )
    qd = (
        q_side
        .join(F.broadcast(sub_cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "cid",
            sub_l2(F.col("sv"), F.col("cv")).alias("pd"),
        )
    )
    sums, total = _adist_fixed_agg()
    approx = (
        codes.join(F.broadcast(qd), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(*sums)
        .select("query_id", "neighbor_id", total)
    )
    rank_w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        approx.withColumn("rn", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adist", 4).alias("approx_l2sq"),
            "rn",
        )
    )


@register(
    "e04_knn_pq_adc",
    oracle=_E04_ORACLE,
    doc="Product-Quantization ANN with Asymmetric Distance Computation: "
    "M=4x16-dim subspaces, deterministic pinned codebooks (oracle-exact "
    "like e03); encode = per-subspace argmin, query = broadcast 40-cell "
    "lookup + sum of 4 codes per candidate.",
)
def e04_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, query_pred=lambda vid: vid < 10, k=_E04_TOPK)


# --------------------------------------------------------------------------
# mm06: multimodal dedup -- perceptual average-hash over REAL decoded PNG
# pixels (stdlib codec), grouped to find duplicate images. The chain
# encode -> decode -> block-mean aHash -> groupBy is the d01 shape moved
# into the image modality: dedup keys on pixel CONTENT, so byte-level
# container differences (re-encodes) collapse to one group.
#
# The corpus has no duplicate texts, so the dup population is planted
# the way it happens in production: a deterministic slice (doc_id % 25)
# is RE-INGESTED under new ids (+1_000_000) -- same pixels arriving a
# second time through a second encode pass.
#
# Oracle: the fixture pixels derive deterministically from each doc's
# text (functions/multimodal.py::_text_pixels), so identical text <=>
# identical pixels <=> identical phash, and dup groups keyed by
# min(doc_id) equal the text-identity groups -- giving this decode
# pipeline an EXACT oracle (conditional only on no 64-bit aHash
# collision between text-distinct docs, which the fixed testdata does
# not contain; a collision would split hash_match, not pass silently).
# --------------------------------------------------------------------------

_MM06_ORACLE = """
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0
)
SELECT CAST(min(doc_id) AS BIGINT) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_images
FROM all_docs GROUP BY md5(text) HAVING count(*) > 1
"""


@register(
    "mm06_image_phash_dedup",
    oracle=_MM06_ORACLE,
    doc="Perceptual average-hash dedup over real decoded images ACROSS "
    "container formats (originals PNG, re-ingests BMP since r5): dup "
    "groups (rep_id = min id, size) keyed on pixel content; oracle = "
    "the text-identity groups the deterministic fixture guarantees.",
)
def mm06_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.multimodal import (
        decode_image,
        image_average_hash,
        synth_bmp_table,
        synth_png_table,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    reingested = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    # second ingest arrives as a DIFFERENT container (BMP): the dedup
    # must key on decoded pixel content, not container bytes
    media = synth_png_table(spark, docs, "doc_id", "text").unionByName(
        synth_bmp_table(spark, reingested, "doc_id", "text")
    )
    hashes = image_average_hash(media, decode=decode_image)
    return (
        hashes.groupBy("phash")
        .agg(F.min("id").alias("rep_id"), F.count(F.lit(1)).alias("n_images"))
        .filter(F.col("n_images") > 1)
        .select("rep_id", "n_images")
    )


# --------------------------------------------------------------------------
# e06: IVF+PQ combined ANN -- the FAISS-IVFPQ shape and the actual
# billion-vector serving layout: a coarse quantizer routes the search to
# nprobe inverted lists (e03's structure), and within the probed lists
# candidates are scored by PQ Asymmetric Distance (e04's 40-cell lookup)
# instead of full vectors -- at scale the full vectors never leave disk;
# the search touches 4-byte codes only. Both building blocks are already
# deterministically pinned (docked centroids, docked codebooks), so the
# COMPOSITION inherits a full hash-exact oracle.
# --------------------------------------------------------------------------

_E06_NPROBE = 2

_E06_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id % {CENTROID_STRIDE} = 0),
scored AS (
  SELECT e.vec_id, e.v, cent.ccid,
         list_dot_product(e.v, cent.cv)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))) AS cc
  FROM e, cent
), ranked AS (
  SELECT vec_id, v, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY cc DESC, ccid) AS crn
  FROM scored
), lists AS (
  SELECT vec_id AS neighbor_id, ccid FROM ranked WHERE crn = 1
), probes AS (
  SELECT vec_id AS query_id, ccid FROM ranked WHERE crn <= {_E06_NPROBE} AND vec_id < 10
), cand AS (
  SELECT DISTINCT p.query_id, l.neighbor_id
  FROM probes p JOIN lists l USING (ccid)
  WHERE p.query_id <> l.neighbor_id
), subs AS (
  SELECT unnest(generate_series(0, {_E04_M - 1})) AS m
), sub_e AS (
  SELECT vec_id, m, v[m * {_E04_SUBDIM} + 1 : m * {_E04_SUBDIM} + {_E04_SUBDIM}] AS sv
  FROM e CROSS JOIN subs
), sub_cb AS (
  SELECT m, vec_id AS cid, sv AS cv FROM sub_e WHERE vec_id % {_E04_STRIDE} = 0
), assign AS (
  SELECT vec_id, m, cid,
         row_number() OVER (
           PARTITION BY vec_id, m
           ORDER BY {_E04_SUB_L2.format(a='sv', b='cv')}, cid
         ) AS rn
  FROM sub_e JOIN sub_cb USING (m)
), codes AS (
  SELECT vec_id, m, cid FROM assign WHERE rn = 1
), qd AS (
  SELECT s.vec_id AS query_id, s.m, c.cid,
         {_E04_SUB_L2.format(a='s.sv', b='c.cv')} AS pd
  FROM sub_e s JOIN sub_cb c USING (m)
  WHERE s.vec_id < 10
), approx AS (
  SELECT c.query_id, c.neighbor_id, {_adist_fixed_sql('q')} AS adist
  FROM cand c
  JOIN codes x ON x.vec_id = c.neighbor_id
  JOIN qd q ON q.query_id = c.query_id AND q.m = x.m AND q.cid = x.cid
  GROUP BY c.query_id, c.neighbor_id
)
SELECT query_id, neighbor_id, round(adist, 4) AS approx_l2sq,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY adist, neighbor_id) AS BIGINT) AS rn
FROM approx QUALIFY rn <= {_E04_TOPK}
"""


@register(
    "e06_knn_ivfpq",
    oracle=_E06_ORACLE,
    doc="IVF+PQ combined ANN (the FAISS-IVFPQ serving shape): coarse "
    "cosine routing to nprobe=2 docked-centroid lists, PQ-ADC scoring "
    "within the probed lists -- full vectors never touched at query "
    "time; composition of e03+e04's pinned structures, hash-exact.",
)
def e06_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    e = with_norm(spread(emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))))
    # narrow (vec_id, cid, crn) rows only: the full vectors never enter
    # the cache that lists and probes share
    ranked = rank_centroids(e, pinned_centroids(e)).select("vec_id", "cid", "crn").persist()
    lists = ranked.filter(F.col("crn") == 1).select(
        F.col("vec_id").alias("neighbor_id"), "cid"
    )
    probes = (
        ranked.filter((F.col("crn") <= _E06_NPROBE) & (F.col("vec_id") < 10))
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    cand = (
        probes.join(lists, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # spread the PQ side too: the per-subvector L2 scoring against the
    # broadcast codebook runs map-side in the scan stage, so a 1-split
    # replay scan would serialize it (select-first: narrow rows shuffle)
    e2 = spread(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    codes = pq_codes(e2).withColumnRenamed("vec_id", "neighbor_id")
    sub_e = pq_subvectors(e2)
    sub_cb = (
        sub_e.filter(F.col("vec_id") % _E04_STRIDE == 0)
        .select("m", F.col("vec_id").alias("cid"), F.col("sv").alias("cv"))
    )
    qd = (
        sub_e.filter(F.col("vec_id") < 10)
        .join(F.broadcast(sub_cb), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "cid",
            _pq_sub_l2(F.col("sv"), F.col("cv")).alias("pd"),
        )
    )
    sums, total = _adist_fixed_agg()
    approx = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(qd), ["query_id", "m", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(*sums)
        .select("query_id", "neighbor_id", total)
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        approx.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _E04_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.round("adist", 4).alias("approx_l2sq"),
            "rn",
        )
    )


# --------------------------------------------------------------------------
# mm07: VIDEO SCENE-CUT detection -- the step that turns mm03's frame
# PLAN into clip boundaries (training-clip extraction segments video at
# scene cuts, not fixed offsets). A 10% sampled video QA pass: each
# planned frame is synthesized as a REAL PNG (frame-seeded pixels,
# same md5-block scheme as mm02) and goes through the genuine
# encode -> decode -> feature path (mapInPandas, Arrow batches); a cut
# fires where consecutive frames' mean luminance jumps >= 8 levels.
# Exactness rides mm02's certified machinery: f_mean is half-up-6
# quantized from exact integer sums on BOTH engines, the per-video lag
# compares identical doubles, so the threshold decision cannot
# diverge. Scale: the decode pass is frame-count-sized (sampled), the
# lag window is partitioned by video, and each video's frame list is
# horizon-bounded by its duration.
# --------------------------------------------------------------------------

_MM07_TH = 8.0

_MM07_ORACLE = f"""
WITH d0 AS (
  SELECT doc_id AS vid, text AS dtext,
         (length(text) % 2 * 6 + 24)::DOUBLE AS fps,
         (length(text) % 20 + 1)::DOUBLE AS duration_s
  FROM documents WHERE doc_id % 10 = 0
), fr AS (
  SELECT vid, i, CAST(floor(i * 2.0 * fps) AS BIGINT) AS frame_idx,
         dtext || '#f' || CAST(floor(i * 2.0 * fps) AS BIGINT)::VARCHAR AS text
  FROM d0, unnest(generate_series(0, CAST(floor(duration_s / 2.0) AS INT))) AS t(i)
), dd AS (
  SELECT vid, i, frame_idx, text,
         octet_length(encode(text)) % 16 + 8 AS height,
         octet_length(encode(text)) % 24 + 8 AS width
  FROM fr
), px AS (
  SELECT vid, i, frame_idx, height * width AS npx, {_MM02_PX} AS p FROM dd
), fm AS (
  SELECT vid, i, frame_idx,
         floor(list_sum(p)::DOUBLE / npx * 1000000.0 + 0.5) / 1000000.0 AS f_mean
  FROM px
), lagd AS (
  SELECT vid, i, frame_idx,
         f_mean - lag(f_mean) OVER (PARTITION BY vid ORDER BY i) AS delta
  FROM fm
)
SELECT vid, CAST(i AS BIGINT) AS i, frame_idx, round(delta, 6) AS delta
FROM lagd WHERE abs(delta) >= {_MM07_TH}
"""


@register(
    "mm07_scene_cuts",
    oracle=_MM07_ORACLE,
    doc="Video scene-cut detection over mm03's frame plan: sampled "
    "videos' frames synthesized as real PNGs (frame-seeded md5 pixels), "
    "decoded through the mm02 feature path, cut where consecutive "
    "f_mean jumps >= 8; per-video lag window, frame-count-sized decode "
    "pass.",
)
def mm07_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.multimodal import (
        decode_image,
        extract_image_features,
        synth_png_table,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    meta = docs.select(
        F.col("doc_id").alias("vid"),
        F.col("text").alias("dtext"),
        ((F.length("text") % 2) * 6 + 24).cast("double").alias("fps"),
        ((F.length("text") % 20) + 1).cast("double").alias("duration_s"),
    )
    frames = (
        meta.select(
            "vid",
            "dtext",
            "fps",
            F.explode(
                F.sequence(
                    F.lit(0), F.floor(F.col("duration_s") / 2.0).cast("int")
                )
            ).alias("i"),
        )
        .withColumn(
            "frame_idx", F.floor(F.col("i") * 2.0 * F.col("fps")).cast("long")
        )
        .withColumn("fuid", F.expr("vid * 100 + i"))
        .withColumn(
            "ftext", F.concat("dtext", F.lit("#f"), F.col("frame_idx"))
        )
    )
    feats = extract_image_features(
        synth_png_table(spark, frames, "fuid", "ftext"), decode=decode_image
    )
    fm = feats.join(
        frames.select("fuid", "vid", "i", "frame_idx"),
        feats.id == F.col("fuid"),
    ).select("vid", "i", "frame_idx", F.element_at("features", 1).alias("f_mean"))
    w = W.partitionBy("vid").orderBy("i")
    lagd = fm.withColumn(
        "delta", F.col("f_mean") - F.lag("f_mean").over(w)
    )
    return lagd.filter(F.abs("delta") >= _MM07_TH).select(
        "vid",
        F.col("i").cast("long").alias("i"),
        "frame_idx",
        F.round("delta", 6).alias("delta"),
    )
