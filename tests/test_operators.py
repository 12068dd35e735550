"""Training-data operators: dedup, similarity, text, multimodal."""

from __future__ import annotations

import math

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from wikidata_sparql_history_spark.operators import (
    dedup,
    multimodal,
    similarity,
    text as text_ops,
)

SF = "/root/testdata/sf0.001"


def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_exact_dedup_finds_planted_dupes(spark):
    d = spark.createDataFrame(
        [(1, "Hello, world"), (2, "hello world!"), (3, "different text")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.n_dupes for r in dedup.exact_dedup(d).collect()}
    assert rows == {1: 2, 3: 1}  # 1 and 2 normalize identically; min id kept


def test_shingles_and_jaccard(spark):
    d = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),   # shares 3 of first shingles
            (3, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id1, r.id2): r.jaccard for r in
             dedup.ngram_jaccard_pairs(d, n=3, threshold=0.1).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs
    # doc1 shingles {abc,bcd,cde,def}, doc2 {abc,bcd,cde,deg}: J = 3/5
    assert math.isclose(pairs[(1, 2)], 0.6, abs_tol=1e-4)


def test_ngram_hot_shingle_cap_drops_ubiquitous(spark, monkeypatch):
    """Frequency cap: a shingle in > max_shingle_freq docs must not
    contribute candidate pairs, and the plan must broadcast the tiny
    hot set (anti-join), never the unbounded allowlist."""
    rows = [(i, f"common one two tail{i} x{i} y{i} z{i}") for i in range(4)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    # "common one two" appears in all 4 docs; with cap=3 it is hot and
    # dropped, leaving no shared shingles at all → no pairs
    capped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01, max_shingle_freq=3)
    assert capped.isEmpty()
    uncapped = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01,
                                         max_shingle_freq=None)
    assert uncapped.count() == 6  # all pairs share the hot shingle
    # plan-shape assertion on the pre-checkpoint plan (r7: the operator
    # materializes its inverted index before the self-join, which hides
    # the anti-join from the final plan text), so localCheckpoint is
    # patched to a no-op on the classic DataFrame, which overrides it
    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint",
                        lambda self, *a, **k: self)
    unmat = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.01,
                                      max_shingle_freq=3)
    plan = unmat._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight" in plan, plan[:2000]


def test_dedup_clusters_transitive_keeper(spark):
    """A≈B and B≈C collapse into one cluster with the min-id keeper
    even though (A, C) itself misses the similarity cut; unrelated
    docs keep themselves."""
    d = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e g"),   # J(1,2) = 0.6
            (3, "b c d e g h"),   # J(2,3) = 0.6, J(1,3) = 0.33
            (4, "x y z w v u"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(d, n=3, threshold=0.5)
    got = {(r.doc_id, r.keep_id) for r in dedup.dedup_clusters(d, pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4)}


def test_minhash_lsh_recalls_near_dupes(spark):
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely unrelated words appear in this string here"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id1, r.id2) for r in
             dedup.minhash_lsh_pairs(d, num_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similar_docs_close(spark):
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today ok"),
            (2, "the quick brown fox jumps over the lazy dog tonight ok"),
            (3, "completely unrelated words appear in this string here now"),
        ],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.simhash for r in dedup.simhash(d).collect()}
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    assert ham(h[1], h[2]) < ham(h[1], h[3])


def test_cosine_topk_self_similarity(spark):
    e = embs(spark)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = similarity.cosine_topk(e, q, k=3)
    rows = res.collect()
    assert len(rows) == 6  # 2 queries x 3 neighbors
    assert all(r.neighbor_id != r.qid for r in rows)


def test_cosine_topk_ignores_extra_caller_columns(spark):
    """Caller columns never reach the cross join: an embeddings frame
    that also carries a `qid` column (ambiguous against the query side
    before projection) gives the same neighbors as without it."""
    e = spark.createDataFrame(
        [(i, [float(i), float(i % 3), 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    want = sorted(tuple(r) for r in similarity.cosine_topk(e, q, k=3).collect())
    wide = e.withColumn("qid", -F.col("vec_id"))
    got = sorted(tuple(r) for r in similarity.cosine_topk(wide, q, k=3).collect())
    assert got == want
    assert len(want) == 9


def test_lsh_topk_bucket_invariant(spark):
    e = embs(spark)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ann = similarity.lsh_bucket_topk(e, q, k=5, n_planes=4)
    ann_rows = ann.collect()
    assert ann_rows, "LSH returned nothing"
    assert all(1 <= r.rank <= 5 for r in ann_rows)
    # same-bucket invariant: each returned neighbor hashes to the
    # query's bucket under the same hyperplanes
    buckets = {
        r.vec_id: r.bucket
        for r in e.select(
            "vec_id",
            similarity.lsh_bucket_key("embedding", 4, 64).alias("bucket"),
        ).collect()
    }
    for r in ann_rows:
        assert buckets[r.neighbor_id] == buckets[r.qid]
    # an identical copy of the query vector always lands in-bucket and
    # ranks first
    planted = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 9999).alias("vec_id"), "embedding", "label"
    )
    ann2 = similarity.lsh_bucket_topk(e.unionByName(planted), q, k=1, n_planes=4)
    top_for_q0 = {r.qid: r.neighbor_id for r in ann2.collect()}
    assert top_for_q0[0] == 9999


def test_ivf_topk_structure_and_planted_dup(spark):
    e = embs(spark)
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = similarity.ivf_topk(e, q, k=5, n_centroids=8, nprobe=2)
    rows = res.collect()
    assert rows and all(1 <= r.rank <= 5 for r in rows)
    assert all(r.neighbor_id != r.qid for r in rows)
    # an exact copy of the query vector lands in the same centroid's
    # list and must rank first
    planted = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 7777).alias("vec_id"), "embedding", "label"
    )
    res2 = similarity.ivf_topk(e.unionByName(planted), q, k=1,
                               n_centroids=8, nprobe=2)
    top = {r.qid: r.neighbor_id for r in res2.collect()}
    assert top[0] == 7777


def test_ivf_assign_invariants(spark):
    e = embs(spark).limit(100)
    cents = similarity.ivf_centroids(e, k=8)
    assert cents.count() == 8
    assign = similarity.ivf_assign(e, cents, nprobe=2)
    per_vec = assign.groupBy("vec_id").count().collect()
    assert all(r["count"] == 2 for r in per_vec)  # nprobe rows each
    # deterministic under repartitioning
    cents2 = similarity.ivf_centroids(e.repartition(7), k=8)
    assert sorted(r.centroid_id for r in cents.collect()) == sorted(
        r.centroid_id for r in cents2.collect()
    )


def test_embedding_near_dup_finds_self_planted(spark):
    e = embs(spark).limit(50)
    dup = e.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    planted = e.unionByName(dup)
    pairs = {(r.id1, r.id2) for r in
             similarity.embedding_near_dup(planted, threshold=0.999).collect()}
    assert (0, 10000) in pairs


def test_embedding_near_dup_multitable_recovers_all_perturbed(spark):
    """Multi-table blocking: every perturbed copy (first component
    zeroed, cosine ≈ 0.99) must be recovered — single-table LSH misses
    ~half of these; 8×4-plane tables must miss none. Output must also
    contain no sub-threshold pair (exact verify)."""
    e = embs(spark).select("vec_id", "embedding")
    pert = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(F.lit(0.0).cast("float")),
            F.slice("embedding", 2, F.size("embedding") - 1),
        ).alias("embedding"),
    )
    corpus = e.unionByName(pert)
    got = similarity.embedding_near_dup(
        corpus, threshold=0.9, n_planes=4, dims=64, tables=8
    ).collect()
    pairs = {(r.id1, r.id2) for r in got}
    n = e.count()
    expected = {(i, i + 10000) for i in range(n)}
    assert pairs == expected
    assert all(r.cosine >= 0.9 for r in got)


def test_redact_pii(spark):
    d = spark.createDataFrame(
        [(1, "mail me at bob.smith+x@corp.example.org or visit "
             "https://ex.com/a?b=1 tel +44 20 7946 0958 done"),
         (2, "nothing sensitive here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text_ops.redact_pii(d).collect()}
    assert rows[1].n_redactions == 3
    c = rows[1].clean
    assert "<EMAIL>" in c and "<URL>" in c and "<PHONE>" in c
    assert "bob.smith" not in c and "ex.com" not in c and "7946" not in c
    assert rows[2].clean == "nothing sensitive here"
    assert rows[2].n_redactions == 0


def test_hash_split_deterministic_and_partitioned(spark):
    d = docs(spark)
    s1 = {r.doc_id: r.split for r in text_ops.hash_split(d).collect()}
    s2 = {r.doc_id: r.split
          for r in text_ops.hash_split(d.repartition(7)).collect()}
    assert s1 == s2  # order/partitioning-independent
    frac_train = sum(v == "train" for v in s1.values()) / len(s1)
    assert 0.6 < frac_train < 0.9  # ~12/16 expected


def test_contamination_flags_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta iota"),  # 5 shared
         (2, "totally different words in this one here now")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            dedup.contamination(train, bench, n=3, min_shared=5).collect()}
    assert rows[1].contaminated == 1 and rows[1].n_shared == 5
    assert rows[2].contaminated == 0 and rows[2].n_shared == 0


def test_language_id_and_quality(spark):
    out = text_ops.language_id(docs(spark))
    assert out.filter(F.col("pred_lang").isNull()).isEmpty()
    q = text_ops.quality_score(docs(spark))
    bad = q.filter((F.col("quality") < 0) | (F.col("quality") > 1))
    assert bad.isEmpty()


def test_multimodal_feature_plumbing(spark):
    media = multimodal.media_from_documents(docs(spark).limit(30))
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    assert all(r.n_bytes > 0 for r in rows)
    # deterministic: same blob → same digest on re-run
    again = {r.media_id: r.digest for r in multimodal.extract_features(media).collect()}
    assert all(again[r.media_id] == r.digest for r in rows)


def test_repetition_stats_planted(spark):
    """Gopher-style repetition signals on planted texts: a degenerate
    repeat → fractions 1.0; an all-distinct text → 0.0."""
    from wikidata_sparql_history_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "x x x x x"),          # 5 words, 1 distinct; 4 bigrams, 1 distinct
            (2, "a b c d e"),          # all distinct
            (3, "a b a b a"),          # words: 5/2 distinct; bigrams: 4, 2 distinct
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_words, r.dup_word_frac, r.dup_bigram_frac)
           for r in repetition_stats(df).collect()}
    assert got[1] == (5, 0.8, 0.75)
    assert got[2] == (5, 0.0, 0.0)
    assert got[3] == (5, 0.6, 0.5)


def test_edit_distance_pairs_planted(spark):
    """Prefix-blocked Levenshtein near-dup: a tail-edited copy is found
    with the exact distance; unrelated docs never pair (blocked apart);
    a head-edited copy is missed by design (blocking recall tradeoff)."""
    from wikidata_sparql_history_spark.operators.dedup import edit_distance_pairs

    long_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, long_a),
            (2, long_a + " XY"),          # tail edit, dist 3
            (3, "completely different text about unrelated matters here"),
            (4, "ZZ " + long_a),          # head edit -> different block
        ],
        "doc_id long, text string",
    )
    got = {(r.id1, r.id2): r.dist for r in edit_distance_pairs(df).collect()}
    assert got == {(1, 2): 3}


def test_bm25_monotonic_and_zero(spark):
    """BM25: no query terms -> 0.0; more matches -> higher score; a
    rarer term outscores a ubiquitous one at equal tf."""
    from wikidata_sparql_history_spark.operators.text import bm25_score

    df = spark.createDataFrame(
        [
            (1, "the the the filler filler"),
            (2, "the filler filler filler filler"),
            (3, "no query words here at all"),
            (4, "rare filler filler filler filler"),
            (5, "filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.bm25 for r in bm25_score(df, ["the", "rare"]).collect()}
    assert got[3] == 0.0 and got[5] == 0.0
    assert got[1] > got[2] > 0          # higher tf -> higher score
    assert got[4] > got[2]              # 'rare' (df=1) beats 'the' (df=2)


def test_mixture_sample_rates_and_determinism(spark):
    from wikidata_sparql_history_spark.operators import text as text_ops
    from pyspark.sql import functions as F

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("d"), (F.col("id") % 4).cast("string"))
        .alias("domain"),
    )
    out = text_ops.mixture_sample(
        docs, {"d0": 1.0, "d1": 0.5, "d2": 0.0}, default_weight=0.25
    )
    rates = {
        r["domain"]: r["n"]
        for r in out.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    assert rates.get("d0") == 1000          # weight 1.0 keeps all
    assert "d2" not in rates                # weight 0.0 drops all
    assert 400 <= rates.get("d1", 0) <= 600     # ~50% of 1000
    assert 175 <= rates.get("d3", 0) <= 325     # default 25% of 1000
    # deterministic + repartition-independent
    again = text_ops.mixture_sample(
        docs.repartition(13), {"d0": 1.0, "d1": 0.5, "d2": 0.0},
        default_weight=0.25,
    )
    assert {r["doc_id"] for r in again.collect()} == \
        {r["doc_id"] for r in out.collect()}


def test_mixture_sample_weight_validation(spark):
    from wikidata_sparql_history_spark.operators import text as text_ops
    import pytest as _pytest

    docs = spark.range(3).selectExpr("id AS doc_id", "'d' AS domain")
    with _pytest.raises(ValueError, match="out of"):
        text_ops.mixture_sample(docs, {"d": 1.5})
