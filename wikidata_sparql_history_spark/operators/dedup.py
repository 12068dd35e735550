"""Deduplication operators for training-data pipelines.

Scale notes (100 TB):
- exact: one hash-shuffle on the fingerprint; Tungsten hash-agg with
  map-side partial aggregation.
- n-gram Jaccard: explode shingles → self-join on shingle → count
  co-occurrences. The shingle join is the classic inverted-index
  pattern; hot shingles (stopword runs) should be frequency-capped
  (`max_shingle_freq`) to keep the join skew-free.
- MinHash + LSH: signature = per-seed min over shingle hashes; band
  buckets join candidates only — no all-pairs blowup. Hash = md5 of
  (seed || shingle) so the DuckDB oracle reproduces it exactly.
- SimHash: 64-bit xxhash64 bitwise majority vote per document;
  near-dups are fingerprints a small hamming distance apart.
- embedding near-dup: cosine ≥ threshold via `similarity.py`.

All built-in expressions — no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalize_text():
    return F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]", "")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep the min doc_id per exact (normalized) text; emit
    (doc_id, n_dupes) survivors."""
    return (
        docs.select("doc_id", F.md5(normalize_text()).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("n_dupes"),
        )
        .select("doc_id", "n_dupes")
    )


def shingles(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle): word n-grams of normalized text.

    Implementation note: the words array is materialized behind a
    Generate (posexplode) barrier. Building shingles with element_at
    inside a `transform` lambda re-inlines the full split() per
    position (no common-subexpression elimination through lambdas) —
    O(len²) per document; this shape is O(len).

    `distinct=False` skips the per-doc set shuffle — correct for
    MinHash (min is duplicate-insensitive); Jaccard/SimHash need set
    semantics and use the default.
    """
    words_expr = F.split(F.trim(normalize_text()), r"\s+")
    w = docs.select("doc_id", words_expr.alias("words"))
    # r7: no `size(words) >= n` Filter — the predicate-pushdown rewrite
    # inlined the full normalize+split expression into the Filter, so
    # every row paid the regex TWICE (once in the filter, once in the
    # projection; measured 7.1 s → 3.6 s for the shingle pass at sf1.0).
    # The greatest(…, 0) slice bound gives short docs an empty slice →
    # posexplode emits nothing → identical row set, single evaluation
    # (guide §2.3 "project before the exchange" / §1.2 per-task work).
    pos = w.select(
        "doc_id",
        "words",
        F.posexplode(
            F.slice("words", 1, F.greatest(F.size("words") - (n - 1), F.lit(0)))
        ).alias("i", "w0"),
    )
    shingle = F.concat_ws(
        " ", "w0", *[F.element_at("words", F.col("i") + 1 + k) for k in range(1, n)]
    )
    out = pos.select("doc_id", shingle.alias("shingle"))
    return out.dropDuplicates(["doc_id", "shingle"]) if distinct else out


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard ≥ threshold.

    Inverted-index self-join; `max_shingle_freq` drops ubiquitous
    shingles (join-skew guard — each shingle of frequency f contributes
    f^2 candidate pairs).
    """
    sh = shingles(docs, n)
    if max_shingle_freq is not None:
        # broadcast the HOT set (freq > cap) and anti-join: it is tiny
        # by construction (each member appears in >cap docs, so there
        # are at most corpus_shingle_count/cap of them), whereas the
        # allowlist complement grows with the corpus and would OOM the
        # broadcast at 100 TB.
        hot = sh.groupBy("shingle").count().filter(
            F.col("count") > max_shingle_freq
        )
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    # thread each doc's shingle count through the inverted-index join so
    # the standard size bound prunes BEFORE the co-occurrence aggregate:
    # jaccard <= min(n1,n2)/max(n1,n2), so j >= t requires
    # min >= t * max — obviously-dissimilar pairs never reach the
    # groupBy. (The tiny epsilon keeps float rounding from over-pruning
    # exact-boundary pairs, e.g. t*n2 = 3.0000000000000004 vs n1 = 3.)
    from pyspark.sql import Window

    sh = sh.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    # r7: materialize the annotated inverted index ONCE — without this
    # both join sides replanned the whole shingle pipeline (scan →
    # shingle → per-doc distinct → hot-set anti-join → count window),
    # and the hot-set aggregation scanned it a third time (guide §3.3).
    sh = sh.localCheckpoint()
    a = sh.selectExpr("doc_id as id1", "n_sh as n1", "shingle")
    b = sh.selectExpr("doc_id as id2", "n_sh as n2", "shingle")
    eps = 1e-9
    size_ok = (
        (F.col("n1") >= F.col("n2") * F.lit(threshold) - F.lit(eps))
        & (F.col("n2") >= F.col("n1") * F.lit(threshold) - F.lit(eps))
    )
    inter = (
        a.join(b, "shingle")
        .filter((F.col("id1") < F.col("id2")) & size_ok)
        .groupBy("id1", "id2", "n1", "n2")
        .agg(F.count("*").alias("inter"))
    )
    out = inter.withColumn(
        "jaccard",
        F.round(F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 4),
    ).filter(F.col("jaccard") >= threshold)
    return out.select("id1", "id2", "jaccard")


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc_id, keep_id): the end of a dedup pipeline — fold near-dup
    PAIRS into clusters (connected components, hash-min label
    propagation) and elect the minimum doc_id as each cluster's
    keeper. Docs in no pair keep themselves.

    Transitivity matters at corpus scale: A≈B and B≈C must collapse to
    ONE keeper even when (A, C) itself missed the similarity cut.
    """
    from ..pipeline.canonicalize import connected_components

    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    cc = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(cc, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("keep_id")
        )
    )


def contamination(
    train: DataFrame, benchmark: DataFrame, n: int = 3, min_shared: int = 5
) -> DataFrame:
    """(doc_id, n_shared, contaminated): benchmark-contamination check
    — for each training doc, how many of its word n-grams appear
    anywhere in the benchmark set (the standard eval-decontamination
    gate; docs sharing ≥ `min_shared` n-grams get flagged for drop).

    Shape at 100 TB: benchmark shingles are a (comparatively small)
    distinct set — the semi-join side; the train side streams. One
    shuffle on the shingle key, counts aggregated map-side first.
    """
    bench_sh = shingles(benchmark, n).select("shingle").distinct()
    train_sh = shingles(train, n)
    shared = train_sh.join(bench_sh, "shingle", "left_semi")
    counts = shared.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shared")
    )
    return (
        train.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared)
            .cast("int")
            .alias("contaminated"),
        )
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 16, n: int = 3, hash_fn: str = "md5"
) -> DataFrame:
    """(doc_id, sig: array<string>): per-seed min over shingle hashes.

    hash_fn="md5": md5(seed||shingle) hex — stable across engines →
    oracle-reproducible in DuckDB (used by the correctness gate).
    hash_fn="xxhash64": JVM xxhash64(seed, shingle) — ~10× cheaper,
    the 100 TB path (same banding semantics, engine-specific values).
    """
    sh = shingles(docs, n, distinct=False)  # min() ignores duplicates
    if hash_fn == "xxhash64":
        # hash each shingle ONCE; derive the per-seed family with XOR
        # bijections (distinct 64-bit constants) — no overflow under
        # ANSI mode, 16 cheap XORs instead of 16 full string hashes
        base = F.xxhash64(F.col("shingle"))

        def seed_const(seed: int) -> int:
            c = (seed * 0x9E3779B97F4A7C15 + 0xC2B2AE3D27D4EB4F) & ((1 << 64) - 1)
            return c - (1 << 64) if c >= (1 << 63) else c

        mins = [
            F.min(base.bitwiseXOR(F.lit(seed_const(seed))))
            .cast("string")
            .alias(f"h{seed}")
            for seed in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.md5(F.concat(F.lit(str(seed) + "|"), F.col("shingle")))).alias(
                f"h{seed}"
            )
            for seed in range(num_hashes)
        ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing any band
    of the MinHash signature. Returns (id1, id2, n_bands_shared)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, num_hashes, n, hash_fn)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[
                F.element_at("sig", b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ]).alias("key"),
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # r7: materialize the banded signatures ONCE before the self-join.
    # Catalyst plans the two join branches as two separate copies of
    # the whole signature pipeline (scan → shingle → 16-way min
    # aggregate → band explode, twice — confirmed in
    # plans/r07/minhash_lsh_pairs_fast_before.txt), doubling the
    # dominant cost. One eager localCheckpoint feeds both sides from
    # the same blocks (guide §3.3: materialise an intermediate to
    # truncate duplicated subtrees). The checkpointed table is tiny
    # relative to the corpus (doc_id + band + key per band).
    banded = banded.localCheckpoint()
    a = banded.selectExpr("doc_id as id1", "band", "key")
    b = banded.selectExpr("doc_id as id2", "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("n_bands_shared"))
    )


def simhash(docs: DataFrame, bits: int = 64, n: int = 3) -> DataFrame:
    """(doc_id, simhash): bitwise majority vote over shingle xxhash64.

    Pure columnar: per bit b, sum(sign of bit) over shingles; bit set
    iff sum > 0. 64 aggregate expressions — wide but fully codegen'd.
    """
    sh = shingles(docs, n).withColumn("h", F.xxhash64("shingle"))

    def bit(b: int):
        # shiftleft wraps at bit 63 (two's complement) — a python
        # 1 << 63 literal would overflow Spark's LongType
        return F.shiftleft(F.lit(1).cast("long"), b)

    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(bit(b)) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = sh.groupBy("doc_id").agg(*votes)
    out = sum(
        (F.when(F.col(f"b{b}") > 0, bit(b)).otherwise(F.lit(0).cast("long"))
         for b in range(bits)),
        start=F.lit(0).cast("long"),
    )
    return agg.select("doc_id", out.alias("simhash"))


def _edit_blocks(docs: DataFrame, prefix_len: int) -> DataFrame:
    """(doc_id, text, blk) with degenerate blocks removed: rows whose
    normalized text is EMPTY or whitespace-only (all punctuation)
    share no meaningful prefix and would collapse into one giant
    block."""
    return docs.select(
        "doc_id",
        "text",
        F.substring(normalize_text(), 1, prefix_len).alias("blk"),
    ).filter(F.length(F.trim(F.col("blk"))) > 0)


def edit_distance_hot_blocks(
    docs: DataFrame, prefix_len: int = 40, max_block_size: int = 1000
) -> DataFrame:
    """(blk, count) for the prefix blocks edit_distance_pairs DROPS
    (it anti-joins exactly this set).

    Per the no-silent-caps rule: run this alongside
    edit_distance_pairs and log/route its rows — each dropped block
    is boilerplate-heavy content (thousands of docs opening with the
    same template sentence) that needs a different dedup strategy
    (ngram_jaccard_pairs / minhash, which shingle the WHOLE text)."""
    return (
        _edit_blocks(docs, prefix_len)
        .groupBy("blk")
        .count()
        .filter(F.col("count") > max_block_size)
    )


def edit_distance_pairs(
    docs: DataFrame,
    prefix_len: int = 40,
    max_dist: int = 8,
    max_block_size: int | None = 1000,
) -> DataFrame:
    """Exact-edit-distance near-dup pairs, prefix-blocked.

    Classic bounded pairwise verification: candidates are generated by
    NORMALIZED-PREFIX blocking (docs sharing their first `prefix_len`
    normalized characters — near-identical docs with a tail edit land
    in one block), then exact Levenshtein re-ranks the candidates and
    keeps pairs within `max_dist`. Levenshtein is a built-in on BOTH
    engines (JVM `levenshtein`, DuckDB `levenshtein`) with identical
    semantics, so the oracle is a direct dual-engine twin — no planted
    invariant needed.

    Candidate volume is bounded, not merely blocked: a block of
    frequency f yields O(f²) Levenshtein pairs, so on boilerplate-heavy
    corpora (many docs opening with the same template sentence) one
    hot block would degenerate toward all-pairs. Blocks with more than
    `max_block_size` members are DROPPED via a broadcast anti-join on
    the (tiny by construction) hot set — the same join-skew guard as
    ngram_jaccard_pairs' max_shingle_freq — and rows whose normalized
    text is empty never enter a block at all. Dropped blocks are NOT
    silent: enumerate them with edit_distance_hot_blocks(...) and
    route that content to a whole-text strategy (n-gram Jaccard /
    MinHash)."""
    base = _edit_blocks(docs, prefix_len)
    if max_block_size is not None:
        hot = edit_distance_hot_blocks(docs, prefix_len, max_block_size)
        base = base.join(F.broadcast(hot.select("blk")), "blk", "left_anti")
    a = base.selectExpr("doc_id AS id1", "text AS t1", "blk")
    b = base.selectExpr("doc_id AS id2", "text AS t2", "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("dist", F.levenshtein("t1", "t2"))
        .filter(F.col("dist") <= max_dist)
        .select("id1", "id2", F.col("dist").cast("int").alias("dist"))
    )
