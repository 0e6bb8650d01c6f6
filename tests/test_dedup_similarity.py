"""Property tests for the north-star dedup/similarity operators beyond the
oracle hash-match: planted-duplicate recovery, LSH recall floors, edge
shapes (short docs)."""

from __future__ import annotations

import ast
import glob
import os

from pyspark.sql import functions as F

import modelorecomendacion_analisisspark_streaming_mas_spark as pkg

from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    simhash,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_cosine_topk,
)
from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import load_table


def test_exact_dedup_planted(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "A  b   c"), (3, "totally different"), (4, "a b c")],
        "doc_id long, text string",
    )
    out = {r["keep_id"]: r["n_docs"] for r in exact_dedup(df, "text", "doc_id").collect()}
    # normalization folds case+whitespace: docs 1,2,4 are one group keyed by min id
    assert out == {1: 3, 3: 1}


def test_minhash_finds_planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated words about spark shuffles and parquet footers"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = minhash_near_duplicates(df, "doc_id", "text", threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.5


def test_minhash_exhaustive_vs_lsh_recall(spark, sf_dir):
    """LSH candidate pruning must not lose any >=0.8 pair that a full
    pairwise Jaccard over the documents table finds."""
    docs = load_table(spark, sf_dir, "documents")
    found = minhash_near_duplicates(docs, "doc_id", "text", threshold=0.8)
    # brute-force truth: explode distinct shingles, self-join, exact jaccard
    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.text import shingles, tokenize

    sh = docs.select(
        F.col("doc_id"), F.array_distinct(shingles(tokenize(F.col("text")), 3)).alias("s")
    )
    ex = sh.select("doc_id", F.explode("s").alias("g"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
        .filter(F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")) >= 0.8)
    )
    truth_pairs = {(r["d1"], r["d2"]) for r in truth.collect()}
    found_pairs = {(r["doc_a"], r["doc_b"]) for r in found.collect()}
    assert truth_pairs == found_pairs  # 16x4-band LSH at jac>=0.8: no misses expected


def test_simhash_near_dup_close_hamming(spark):
    base = " ".join(f"w{i}" for i in range(60))
    near = base.replace("w30", "zz")
    df = spark.createDataFrame([(1, base), (2, near)], "doc_id long, text string")
    out = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    hamming = bin(out[1] ^ out[2]).count("1")
    assert hamming <= 6  # one token changed out of 60 -> few bit flips


def test_lsh_knn_recall_floor(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    brute = cosine_topk_bruteforce(emb, q, k=5).collect()
    approx = lsh_cosine_topk(emb, q, k=5).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    aset = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(bset & aset) / len(bset) >= 0.4  # floor on near-random vectors


def test_ngram_jaccard_exact_vs_bruteforce(spark, sf_dir):
    """Prefix filtering must be COMPLETE: identical pair set to the O(n^2)
    cross-join at the same threshold (the guarantee MinHash can't give)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.text import (
        shingles,
        tokenize,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
        ngram_jaccard_join,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ngram_jaccard_join(docs, "doc_id", "text", threshold=0.5).collect()
    }

    sets_ = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles(tokenize(F.col("text")), 3)).alias("s"),
    )
    a = sets_.select(F.col("id").alias("doc_a"), F.col("s").alias("sa"))
    b = sets_.select(F.col("id").alias("doc_b"), F.col("s").alias("sb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        # unrounded filter, rounded presentation -- same semantics as the
        # operator (and the d04 oracle's WHERE clause)
        .withColumn(
            "_j",
            F.size(F.array_intersect("sa", "sb")) / F.size(F.array_union("sa", "sb")),
        )
        .filter(F.col("_j") >= 0.5)
        .select("doc_a", "doc_b", F.round("_j", 4).alias("jaccard"))
    )
    want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in brute.collect()}
    assert got == want and len(want) > 0


def test_ngram_jaccard_threshold_boundary_filters_unrounded(spark):
    """d04 rounding-asymmetry regression (r9 self-review): a pair whose
    TRUE jaccard lies in [t - 5e-5, t) rounds4 to t but must be REJECTED,
    because the oracle's WHERE clause filters the unrounded ratio.

    Construction (all tokens unique, so consecutive-triple shingles are
    distinct and countable exactly): a common block of N tokens shared by
    both docs contributes N-2 shared shingles; disjoint 5000-token
    suffixes contribute only doc-local shingles (the 2 junction triples
    mix common+suffix tokens and differ between docs).
      reject pair: N=10001 -> J = 9999/19999 = 0.4999749... (rounds to 0.5)
      accept pair: N=10002 -> J = 10000/20000 = 0.5 exactly
    The reject pair IS a prefix-filter candidate (its 7500-shingle prefix
    holds ~2500 shared shingles), so only the verify filter decides."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
        ngram_jaccard_join,
        ngram_prefix_index,
        ngram_probe_index,
    )

    def doc(ns: str, n_common: int, suffix_ns: str) -> str:
        return " ".join(
            [f"{ns}{i}" for i in range(n_common)]
            + [f"{suffix_ns}{i}" for i in range(5000)]
        )

    rows = [
        (1, doc("c", 10001, "ra")),  # reject pair: J just under 0.5
        (2, doc("c", 10001, "rb")),
        (3, doc("k", 10002, "aa")),  # accept pair: J exactly 0.5
        (4, doc("k", 10002, "ab")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_join(df, "doc_id", "text", threshold=0.5).collect()
    }
    assert got == {(3, 4): 0.5}  # (1, 2) rounds to 0.5 but is sub-threshold

    # Same boundary through the streaming probe path (s33): index doc_a,
    # probe doc_b -- identical accept/reject decision.
    index = df.filter(F.col("doc_id").isin(1, 3))
    probes = df.filter(F.col("doc_id").isin(2, 4))
    sets_, prefix, dfreq = ngram_prefix_index(index, "doc_id", "text", threshold=0.5)
    hits = {
        (r["doc_id"], r["dup_of"]): r["jaccard"]
        for r in ngram_probe_index(
            sets_, prefix, dfreq, probes, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert hits == {(4, 3): 0.5}


def test_cosine_matmul_agrees_with_hof_bruteforce(spark, sf_dir):
    """The NumPy-matmul scan and the JVM HOF fold must agree pair-for-pair
    (same pairs, cosines equal to the rounded 4 decimals)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
        cosine_near_dup_matmul,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 20 == 0)
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_near_dup_matmul(emb, q, threshold=0.3).collect()
    }
    brute = cosine_topk_bruteforce(emb, q, k=10**9)
    want = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute.filter(F.col("cosine") >= 0.3).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    assert all(abs(got[k] - want[k]) < 1e-9 for k in got)


def test_ivf_recall_and_score_fidelity(spark, sf_dir):
    """IVF@nprobe=2 must (a) never invent scores -- every returned cosine
    equals the brute-force cosine for that pair -- and (b) keep recall@5
    above a floor on this corpus."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
        ivf_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ivf = ivf_cosine_topk(emb, k=5, nprobe=2, query_pred=lambda v: v < 10).collect()
    exact = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5).collect()

    exact_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=10**9).collect()
    }
    for r in ivf:
        assert exact_cos[(r["query_id"], r["neighbor_id"])] == r["cosine"]

    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    want_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.2, recall


def test_rolling_hash_matches_reference_impl(spark):
    """Rabin-Karp fold pinned against a driver-side Python recomputation."""
    import hashlib

    from modelorecomendacion_analisisspark_streaming_mas_spark.functions.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        rolling_hash,
        tokenize,
    )

    texts = ["alpha beta gamma", "alpha beta gamma", "alpha beta delta", "solo"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", rolling_hash(tokenize(F.col("text"))).alias("fp")).collect()
    }

    def py_roll(text: str) -> int:
        acc = 0
        for tok in text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % ROLLING_MOD
            acc = (acc * ROLLING_BASE + h) % ROLLING_MOD
        return acc

    assert got == {i: py_roll(t) for i, t in enumerate(texts)}
    assert got[0] == got[1] and got[0] != got[2]


def test_ppjoin_matches_bruteforce_on_random_corpora(spark):
    """EXACTNESS of the PPJoin prefix/length/positional pruning: on random
    small corpora, ngram_jaccard_join must return EXACTLY the pairs a
    brute-force O(n^2) Jaccard over the same shingle sets returns -- any
    over-aggressive pruning predicate loses pairs, any under-pruning is
    caught by the jaccard filter. Seeded RNG: deterministic but varied
    (short docs, near-dups, disjoint docs, repeated tokens)."""
    import itertools
    import random

    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
        ngram_jaccard_join,
    )

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(24):
        n = rng.randint(3, 14)
        words = [rng.choice(vocab) for _ in range(n)]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.4:  # plant a near-dup with a small edit
            mutated = list(words)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mutated)))

    df = spark.createDataFrame(docs, "doc_id long, text string")

    for threshold in (0.5, 0.8):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_join(df, "doc_id", "text", threshold=threshold).collect()
        }

        # brute force over the same normalized 3-gram shingle sets
        def shingle_set(text: str) -> frozenset:
            toks = text.lower().split()
            return frozenset(
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            )

        sets_ = {i: shingle_set(t) for i, t in docs}
        expect = {}
        for a, b in itertools.combinations(sorted(sets_), 2):
            sa, sb = sets_[a], sets_[b]
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if round(j, 4) >= threshold:
                expect[(a, b)] = round(j, 4)
        assert got == expect, (
            f"t={threshold}: missing={set(expect) - set(got)} "
            f"extra={set(got) - set(expect)}"
        )


def test_cosine_matmul_rejects_oversized_query_side(spark, sf_dir, monkeypatch):
    """The collected-and-broadcast query side has a hard counted limit; an
    oversized frame must raise (pointing at the LSH path) instead of
    collecting toward a driver OOM."""
    import pytest

    from modelorecomendacion_analisisspark_streaming_mas_spark.operators import similarity
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
        cosine_near_dup_matmul,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    monkeypatch.setattr(similarity, "MATMUL_QUERY_ROW_LIMIT", 3)
    with pytest.raises(ValueError, match="lsh_cosine_topk"):
        cosine_near_dup_matmul(emb, emb.limit(10))


def test_lsh_signatures_survive_empty_partitions(spark, sf_dir):
    """Sign-LSH signature matmul on a frame with empty partitions: the
    Arrow UDF must emit zero rows for an empty batch, not crash on a
    (0,)-shaped matmul."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.similarity import (
        lsh_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(8).repartition(32)
    out = lsh_cosine_topk(emb, emb.limit(2), k=2)
    assert out.count() >= 0


def test_near_dup_cluster_transitive_chain(spark):
    """d07 semantics: a-b and b-c near-dup pairs must collapse into ONE
    cluster keeping only min(doc_id), even when a-c alone would not pass
    the threshold (pairwise deletion would over-delete here)."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.graph.algorithms import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc = connected_components(verts, edges)
    clusters = {
        r["keep_id"]: r["n_docs"]
        for r in cc.groupBy(F.col("component").alias("keep_id"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    }
    assert clusters == {1: 3, 7: 2}


def test_pq_codebook_vectors_encode_to_themselves(spark, sf_dir):
    """PQ structural invariants: every vector gets exactly M codes, every
    code points at a pinned centroid, and a codebook vector's nearest
    centroid in every subspace is itself (distance 0)."""
    from pyspark.sql import functions as F
    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.northstar2 import (
        _E04_M,
        _E04_STRIDE,
        pq_codes,
    )
    from modelorecomendacion_analisisspark_streaming_mas_spark.sources.readers import (
        load_table,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    codes = pq_codes(e)
    n_vecs = e.count()
    per_vec = codes.groupBy("vec_id").count().collect()
    assert len(per_vec) == n_vecs
    assert all(r["count"] == _E04_M for r in per_vec)
    assert codes.filter(F.col("cid") % _E04_STRIDE != 0).count() == 0
    self_rows = codes.filter(F.col("vec_id") % _E04_STRIDE == 0)
    assert self_rows.filter(F.col("cid") != F.col("vec_id")).count() == 0


def test_cdc_chunk_identity_survives_head_insertion(spark):
    """The content-defined property that motivates d15/s30 over fixed-
    size chunking: prepending one token shifts every byte offset, yet
    all chunk identities from the first content-defined boundary onward
    must survive (boundaries are functions of local content, not
    position). Fixed-size framing would lose every chunk."""
    from pyspark.sql import functions as F

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.batch8 import (
        cdc_chunk_frame,
    )

    base = " ".join(f"tok{i * 7 % 97}" for i in range(400))
    df = spark.createDataFrame(
        [(1, base), (2, "NEW " + base)], "doc_id long, text string"
    )
    ch = cdc_chunk_frame(df).select("doc_id", "chash").collect()
    h1 = {r["chash"] for r in ch if r["doc_id"] == 1}
    h2 = {r["chash"] for r in ch if r["doc_id"] == 2}
    # everything after the first boundary is unaffected by the prepend:
    # the overlap must cover the vast majority of the original's chunks
    assert len(h1 & h2) >= len(h1) - 2, (len(h1), len(h1 & h2))
    # and the docs are NOT identical chunk-wise (the head chunk differs)
    assert h1 != h2


def test_ngram_probe_index_matches_bruteforce_on_random_corpora(spark):
    """EXACTNESS of the incremental probe (s33's operator pair): on random
    small corpora split into an indexed half and a probe half,
    ngram_prefix_index + ngram_probe_index must return EXACTLY the
    cross-half pairs a brute-force O(n*m) Jaccard returns -- the
    two-sided prefix pruning reuses the index's (df, shingle) order with
    unseen probe shingles ranked rarest, and any ordering inconsistency
    or over-aggressive predicate loses pairs here."""
    import random

    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
        ngram_prefix_index,
        ngram_probe_index,
    )

    rng = random.Random(4321)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(26):
        n = rng.randint(3, 14)
        words = [rng.choice(vocab) for _ in range(n)]
        docs.append((i, " ".join(words)))
        if rng.random() < 0.5:  # plant a near-dup with a small edit
            mutated = list(words)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            # 101 + i FLIPS parity, so every planted pair crosses the
            # even-index/odd-probe split below -- with 100 + i (same
            # parity) the expected cross-half pair set is EMPTY and the
            # test can no longer catch pruning that loses true pairs
            docs.append((101 + i, " ".join(mutated)))

    def shingle_set(text: str) -> frozenset:
        toks = text.lower().split()
        if len(toks) < 3:
            return frozenset({" ".join(toks)})
        return frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))

    index_docs = [(i, t) for i, t in docs if i % 2 == 0]
    probe_docs = [(i, t) for i, t in docs if i % 2 == 1]
    idx_df = spark.createDataFrame(index_docs, "doc_id long, text string")
    prb_df = spark.createDataFrame(probe_docs, "doc_id long, text string")

    for threshold in (0.5, 0.8):
        sets_i, prefix_i, dfreq_i = ngram_prefix_index(
            idx_df, "doc_id", "text", threshold=threshold
        )
        got = {
            (r["doc_id"], r["dup_of"]): r["jaccard"]
            for r in ngram_probe_index(
                sets_i, prefix_i, dfreq_i, prb_df, "doc_id", "text",
                threshold=threshold,
            ).collect()
        }
        expect = {}
        for p, pt in probe_docs:
            sp = shingle_set(pt)
            for x, xt in index_docs:
                sx = shingle_set(xt)
                j = len(sp & sx) / len(sp | sx)
                if j >= threshold:
                    expect[(p, x)] = round(j, 4)
        assert expect, "vacuous: no true cross-half pair to lose"
        assert got == expect, (threshold, got, expect)


def test_ngram_probe_index_overbound_batch_takes_shuffled_fallback(spark, monkeypatch):
    """The per-batch broadcast guard (PROBE_BROADCAST_SHINGLE_LIMIT): an
    earliest-offsets backfill can make micro-batch 1 the whole topic, so
    an over-bound batch must go through plain shuffled joins -- with
    results IDENTICAL to the broadcast path. Force the fallback by
    shrinking the bound to 1 shingle row and compare against the default
    (broadcast) path on the same corpus; also pin the plan shape: no
    broadcast exchange of the probe side under the shrunken bound."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators import dedup

    docs = [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(10))) for i in range(40)]
    docs += [(100 + i, t) for i, t in docs[:8]]  # planted exact dups
    idx_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 0], "doc_id long, text string"
    )
    prb_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 1], "doc_id long, text string"
    )
    sets_i, prefix_i, dfreq_i = dedup.ngram_prefix_index(idx_df, "doc_id", "text")

    def run():
        return dedup.ngram_probe_index(
            sets_i, prefix_i, dfreq_i, prb_df, "doc_id", "text"
        )

    broadcast_rows = {tuple(r) for r in run().collect()}
    assert dedup.PROBE_BROADCAST_SHINGLE_LIMIT > 10_000  # default = broadcast path
    # a real backfill batch trips BOTH gates (batch shingles and the
    # candidate payload both exceed the bound) -- shrink both
    monkeypatch.setattr(dedup, "PROBE_BROADCAST_SHINGLE_LIMIT", 1)
    monkeypatch.setattr(dedup, "PROBE_BROADCAST_CAND_SHINGLE_LIMIT", 1)
    fallback = run()
    assert "ResolvedHint" not in fallback._jdf.queryExecution().logical().toString()
    fallback_rows = {tuple(r) for r in fallback.collect()}
    assert broadcast_rows and fallback_rows == broadcast_rows


def test_ngram_probe_index_overbound_candidates_take_shuffled_verify(
    spark, monkeypatch
):
    """r10 ADVICE (medium): the verify join's broadcast payload is one
    probe shingle array per (probe, index-candidate) PAIR, so it scales
    with corpus-side collision multiplicity, not batch size -- a tiny
    batch probing a dup-heavy corpus can blow it while the batch-level
    gate passes. Force ONLY the candidate gate (batch gate left at its
    default, so the posting-list join still broadcasts) and pin result
    equality; also pin the plan shape both ways: the pair list is
    PERSISTED (r12), not lineage-truncated, so the returned frame's
    logical plan always carries the batch-side posting-join hint and a
    SECOND hint iff the candidate gate chose to broadcast -- assert on
    the hint COUNT."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators import dedup

    docs = [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(10))) for i in range(40)]
    docs += [(100 + i, t) for i, t in docs[:8]]  # planted exact dups
    idx_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 0], "doc_id long, text string"
    )
    prb_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 1], "doc_id long, text string"
    )
    sets_i, prefix_i, dfreq_i = dedup.ngram_prefix_index(idx_df, "doc_id", "text")

    def run():
        return dedup.ngram_probe_index(
            sets_i, prefix_i, dfreq_i, prb_df, "doc_id", "text"
        )

    assert dedup.PROBE_BROADCAST_CAND_SHINGLE_LIMIT > 10_000
    bcast = run()
    assert bcast._jdf.queryExecution().logical().toString().count("ResolvedHint") == 2
    broadcast_rows = {tuple(r) for r in bcast.collect()}
    monkeypatch.setattr(dedup, "PROBE_BROADCAST_CAND_SHINGLE_LIMIT", 1)
    fallback = run()
    assert (
        fallback._jdf.queryExecution().logical().toString().count("ResolvedHint") == 1
    )
    fallback_rows = {tuple(r) for r in fallback.collect()}
    assert broadcast_rows and fallback_rows == broadcast_rows


def test_lsh_band_index_probe_matches_one_shot_join(spark):
    """s26's band-once/probe-per-batch pair must return EXACTLY the
    one-shot lsh_probe_index candidates -- with the probe side broadcast
    AND through the shuffled fallback (the backfill-batch path), and
    with a bucket cap applied at index-build time."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators.dedup import (
        lsh_band_index,
        lsh_probe_banded,
        lsh_probe_index,
        minhash_signatures,
    )

    docs = [(i, " ".join(f"w{(i * 5 + k) % 17}" for k in range(9))) for i in range(30)]
    docs += [(200 + i, t) for i, t in docs[:10]]  # planted dups across halves
    idx = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 0], "doc_id long, text string"
    )
    prb = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 1], "doc_id long, text string"
    )
    idx_sigs = minhash_signatures(idx, "doc_id", "text").localCheckpoint(eager=True)
    prb_sigs = minhash_signatures(prb, "doc_id", "text").localCheckpoint(eager=True)
    for cap in (None, 2):
        want = {
            tuple(r)
            for r in lsh_probe_index(
                idx_sigs, prb_sigs, index_bucket_cap=cap
            ).collect()
        }
        assert want, "vacuous: no candidate pairs"
        banded = lsh_band_index(idx_sigs, index_bucket_cap=cap)
        for bcast in (True, False):
            got = {
                tuple(r)
                for r in lsh_probe_banded(
                    banded, prb_sigs, broadcast_probe=bcast
                ).collect()
            }
            assert got == want, (cap, bcast)


def test_ngram_probe_index_with_cache_hands_over_pair_list(spark):
    """r12 ADVICE: the per-batch pair-list cache must be handed to the
    caller EXPLICITLY (with_cache=True -> (result, cache)), not via a
    private attribute any intermediate transformation drops. The handle
    is the persisted pair frame: unpersisting it after the result
    materializes frees the storage immediately (no ContextCleaner wait),
    and the result itself is unaffected."""
    from modelorecomendacion_analisisspark_streaming_mas_spark.operators import dedup

    docs = [(i, " ".join(f"w{(i * 7 + k) % 23}" for k in range(10))) for i in range(40)]
    docs += [(100 + i, t) for i, t in docs[:8]]
    idx_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 0], "doc_id long, text string"
    )
    prb_df = spark.createDataFrame(
        [(i, t) for i, t in docs if i % 2 == 1], "doc_id long, text string"
    )
    sets_i, prefix_i, dfreq_i = dedup.ngram_prefix_index(idx_df, "doc_id", "text")

    out, cache = dedup.ngram_probe_index(
        sets_i, prefix_i, dfreq_i, prb_df, "doc_id", "text", with_cache=True
    )
    assert cache.storageLevel.useMemory or cache.storageLevel.useDisk
    rows = {tuple(r) for r in out.collect()}
    cache.unpersist(blocking=True)
    assert not (cache.storageLevel.useMemory or cache.storageLevel.useDisk)
    # default path: plain DataFrame, no tuple, no private attributes
    plain = dedup.ngram_probe_index(
        sets_i, prefix_i, dfreq_i, prb_df, "doc_id", "text"
    )
    assert not hasattr(plain, "_mras_probe_cache")
    assert {tuple(r) for r in plain.collect()} == rows


def _quantizer_copies(path: str) -> list[str]:
    """Hand-written copies of the pinned-centroid quantizer in one module:
    a cross join against a broadcast ``cent...`` frame, a
    ``% <stride> == 0`` filter on the stride 37, or a ``*_STRIDE = 37``
    declaration."""
    tree = ast.parse(open(path).read(), path)
    strides = {"CENTROID_STRIDE"}
    bad = []
    for node in tree.body:
        if isinstance(node, ast.Assign) and isinstance(node.value, ast.Constant):
            for t in node.targets:
                if isinstance(t, ast.Name) and node.value.value == 37:
                    strides.add(t.id)
                    if t.id.endswith("_STRIDE"):
                        bad.append(f"{node.lineno} {t.id} = 37")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "crossJoin"
            and node.args
            and isinstance(node.args[0], ast.Call)
            and "broadcast" in ast.unparse(node.args[0].func)
            and ast.unparse(node.args[0].args[0]).startswith("cent")
        ):
            bad.append(f"{node.lineno} {ast.unparse(node)[:60]}")
        if (
            isinstance(node, ast.Compare)
            and isinstance(node.left, ast.BinOp)
            and isinstance(node.left.op, ast.Mod)
            and isinstance(node.ops[0], ast.Eq)
        ):
            m = node.left.right
            if (isinstance(m, ast.Constant) and m.value == 37) or (
                isinstance(m, ast.Name) and m.id in strides
            ):
                bad.append(f"{node.lineno} {ast.unparse(node)}")
    return bad


def test_one_coarse_quantizer_in_the_package():
    """The pinned-centroid assignment lives in operators/similarity.py
    (``pinned_centroids`` / ``rank_centroids``) and nowhere else."""
    root = os.path.dirname(pkg.__file__)
    own = os.path.join(root, "operators", "similarity.py")
    bad = [
        f"{os.path.relpath(path, root)}:{b}"
        for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True))
        if path != own
        for b in _quantizer_copies(path)
    ]
    assert not bad, "use operators/similarity.py's quantizer:\n" + "\n".join(bad)
    # the check sees each of the three forms in the primitive itself
    assert len(_quantizer_copies(own)) == 3
