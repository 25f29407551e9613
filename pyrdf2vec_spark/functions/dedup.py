"""Deduplication operators for training-data pipelines: exact hash,
word-shingle Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale shapes: exact dedup is one hash-groupBy; shingle Jaccard is an
inverted-index self-join (join on shingle, never all-pairs); MinHash+LSH
is band-bucket blocking (linear) and SimHash is a 16-bit
explode/agg/bitwise pipeline — all shuffle-bounded, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by md5(text): one hash aggregation.
    (text_hash, n_dups, keep_id) — keep_id = min doc_id of the group."""
    return (
        documents.select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def _word_shingles(k: int = 3):
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(1, "
        f"size(split(trim(lower(text)), ' +')) - {k - 1})), "
        f"i -> array_join(slice(split(trim(lower(text)), ' +'), i, {k}), ' ')))"
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.4,
    max_posting: int = 10_000,
) -> DataFrame:
    """Near-dup pairs by word k-gram Jaccard via inverted-index
    self-join: explode shingles → join on shingle → count common →
    |A∩B| / (|A|+|B|−|A∩B|). Quadratic only within a shingle's posting
    list; shingles appearing in more than ``max_posting`` documents are
    dropped from CANDIDATE GENERATION (a stopword 3-gram like "one of
    the" posts quadratically at corpus scale) — denominators still use
    the full shingle sets, so reported Jaccard values are exact; only
    pairs whose every common shingle is hot can be missed (such pairs
    are near-universal boilerplate, the standard LSH-style trade)."""
    sh = documents.select(
        "doc_id", _word_shingles(k).alias("shingles")
    ).withColumn("n_sh", F.size("shingles"))
    posts = sh.select("doc_id", "n_sh", F.explode("shingles").alias("s"))
    hot = (
        posts.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_posting)
        .select("s")
    )
    cand_posts = posts.join(hot, "s", "left_anti")
    a = cand_posts.select(F.col("doc_id").alias("a"), "s")
    b = cand_posts.select(F.col("doc_id").alias("b"), "s")
    cand = (
        a.join(b, "s")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # exact |A∩B| over the FULL posting lists for surviving candidates
    fa = posts.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("na"), "s")
    fb = posts.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("nb"), "s")
    common = (
        cand.join(fa, "a")
        .join(fb, ["b", "s"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").alias("common"))
    )
    return common.select(
        "a",
        "b",
        F.round(
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Test-set-leakage (decontamination) check: word k-gram overlap of
    every training document against a held-out benchmark/eval set — the
    scrub every large-scale training pipeline runs so eval examples
    don't leak into the corpus.

    ``benchmark`` carries (bench_id, text). Emits one row per
    contaminated pair: (doc_id, bench_id, overlap_ratio) where
    ``overlap_ratio`` = |doc ∩ bench| / |bench distinct k-grams| — the
    fraction of the BENCHMARK's distinct k-grams found in the document.
    Benchmark-relative on purpose: a long training document cannot
    dilute a fully-leaked short eval example. Filtered to
    ``overlap_ratio >= threshold``.

    Scale shape: the benchmark side is tiny next to a 100-TB corpus, so
    its exploded (k-gram → bench_id) posting list is BROADCAST; the
    training side is scan → explode → map-side hash join → partial
    agg. No shuffle carries document text, no all-pairs join anywhere.
    Benchmarks too large to broadcast degrade gracefully: drop the
    broadcast hint and the same plan runs as a shuffle join on the
    k-gram key.
    """
    d = documents.select(
        "doc_id", F.explode(_word_shingles(k)).alias("s")
    )
    b = benchmark.select(
        "bench_id", F.explode(_word_shingles(k)).alias("s")
    )
    b_sizes = b.groupBy("bench_id").agg(F.count("*").alias("n_bench"))
    hits = (
        d.join(F.broadcast(b), "s")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        hits.join(F.broadcast(b_sizes), "bench_id")
        .select(
            "doc_id",
            "bench_id",
            F.round(F.col("n_common") / F.col("n_bench"), 6).alias(
                "overlap_ratio"
            ),
        )
        .where(F.col("overlap_ratio") >= threshold)
    )


def minhash_dedup_pairs(
    documents: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_words: int = 3,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over document texts — the
    canonicalization LSH core (``canon.lsh_pairs``: integer min-hash
    permutations, band-bucket self-join, exact Jaccard of the two
    shingle-hash arrays) over WORD k-gram shingles (char n-grams are the
    right unit for short surface forms, word k-grams for documents — far
    more discriminative), with no blocking.

    Every LSH row is keyed by the 8-byte representative ``doc_id`` (min
    doc_id per distinct text) and carries the text's shingle hashes,
    NOT the text: at 100-TB doc scale a full document through the band
    exchange is real bytes — the one text-keyed shuffle left is the
    initial representative hash-agg (map-side partial), which is
    unavoidable. The pairs are lazy: a caller that reads them twice
    checkpoints them."""
    from pyrdf2vec_spark.canon import _shingle_hashes, lsh_pairs

    docs = documents.groupBy("text").agg(F.min("doc_id").alias("name"))
    # pin the per-text work's parallelism: the representative-agg
    # exchange is small (ids + texts), so AQE coalesces it — to ONE
    # partition at sf0.1 — and the most CPU-expensive map work in the
    # whole pipeline (per-text shingle transform + md5 + min-hashes)
    # then serializes on a single core (measured: a 4-7 s single-task
    # stage; the r4 text-keyed pipeline's equivalent stage ran 32-way).
    # An explicit-N repartition is the one shuffle origin AQE never
    # coalesces.
    docs = docs.repartition(
        documents.sparkSession.sparkContext.defaultParallelism, "name"
    )
    sets = docs.select(
        "name",
        F.lit(0).alias("block"),
        _shingle_hashes(_word_shingles(shingle_words)).alias("h"),
    )
    pairs = lsh_pairs(
        sets,
        num_hashes=num_hashes,
        band_size=band_size,
        jaccard_threshold=jaccard_threshold,
    )
    return pairs.select(
        F.col("a").alias("doc_a"),
        F.col("b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def dedup_components(
    documents: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    shingle_words: int = 3,
    max_iterations: int = 20,
) -> DataFrame:
    """End-to-end near-dup clustering: exact-dup links (doc → its
    text's min-doc representative) plus MinHash-LSH near-dup pairs,
    closed under the alternating large/small-star connected-components
    loop. Every document gets ``(doc_id, component_id)`` with
    component_id = the smallest doc_id in its duplicate cluster —
    i.e. "keep component_id, drop the rest" IS the dedup policy at
    corpus scale. All stages are banded/bucketed (no all-pairs) and the
    CC loop converges in O(log n) rounds.
    """
    from pyrdf2vec_spark.canon import connected_components

    near = minhash_dedup_pairs(
        documents, num_hashes, band_size, jaccard_threshold, shingle_words
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    reps = documents.groupBy("text").agg(F.min("doc_id").alias("rep"))
    exact = (
        documents.join(reps, "text")
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("doc_id").alias("a"), F.col("rep").alias("b"))
    )
    # checkpointed once: connected_components reads its edges twice
    edges = near.unionByName(exact).localCheckpoint(eager=True)
    cc = connected_components(edges, max_iterations)
    return (
        documents.select("doc_id")
        .join(cc.withColumnRenamed("name", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component_id"),
        )
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash document signatures (bit-majority over token hashes).

    Token hash = 60-bit int from md5 hex (engine-independent); bit b of
    the signature is 1 when the majority of tokens set it. Explode
    tokens × extract bits with integer ops, then one groupBy — scales
    as n_tokens × bits rows, shuffle-bounded. Supports bits ≤ 64 (the
    signature assembles via bitwise OR of shifted bits, so bit 63 lands
    in the sign bit of the bigint without overflow); 64 is the right
    width for real corpora, 16 keeps the oracle replica tractable.
    """
    if not 1 <= bits <= 64:
        raise ValueError("bits must be in [1, 64]")
    toks = documents.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), " +"))
        ).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    )
    # token hash is 60 bits; bits 60-63 derive from a second hex slice
    hi = F.conv(F.substring(F.md5("tok"), 16, 2), 16, 10).cast("bigint")
    toks = toks.withColumn("h2", hi)

    def bit_of(b: int):
        if b < 60:
            return F.shiftrightunsigned(F.col("h"), b) % 2
        return F.shiftrightunsigned(F.col("h2"), b - 60) % 2

    bit_votes = toks.select(
        "doc_id",
        *[(bit_of(b) * 2 - 1).alias(f"b{b}") for b in range(bits)],
    )
    agg = bit_votes.groupBy("doc_id").agg(
        *[F.sum(f"b{b}").alias(f"s{b}") for b in range(bits)]
    )
    sig_col = F.lit(0).cast("bigint")
    for b in range(bits):
        sig_col = sig_col.bitwiseOR(
            F.when(
                F.col(f"s{b}") > 0,
                F.shiftleft(F.lit(1).cast("bigint"), b),
            ).otherwise(F.lit(0).cast("bigint"))
        )
    return agg.select("doc_id", sig_col.alias("simhash"))


def simhash_band_widths(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(start, width) for ``max_hamming + 1`` contiguous bands: by
    pigeonhole, two signatures within Hamming distance max_hamming agree
    on at least one full band — the guarantee two-half blocking lacks at
    distance 2 (a 1+1 split across the halves matches neither)."""
    nb = max_hamming + 1
    if nb > bits:
        raise ValueError("max_hamming + 1 bands need max_hamming < bits")
    base, rem = divmod(bits, nb)
    out, start = [], 0
    for b in range(nb):
        width = base + (1 if b < rem else 0)
        out.append((start, width))
        start += width
    return out


def simhash_pairs(
    documents: DataFrame, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """Near-dup pairs whose SimHash differs in ≤ max_hamming bits.

    Blocking: the signature splits into ``max_hamming + 1`` bands and
    candidates join per-band (pigeonhole: ≤ max_hamming flips leave at
    least one band untouched) — sound at every max_hamming, unlike the
    fixed two-half scheme. Each band is an exact-match key, so posting
    lists shrink exponentially with band width; at corpus scale pair it
    with 64-bit signatures so the ~bits/(max_hamming+1)-bit band values
    spread over 2^21 buckets instead of 2^8.
    """
    sig = simhash(documents, bits).persist()
    return simhash_pairs_from_signatures(sig, bits, max_hamming)


def simhash_pairs_from_signatures(
    sig: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """Banded near-pair join over a precomputed ``(doc_id, simhash)``
    signature table — the blocking core of :func:`simhash_pairs`,
    exposed so signatures computed elsewhere (or adversarial test
    fixtures) reuse the same sound banding."""
    bands = simhash_band_widths(bits, max_hamming)
    blocks = None
    for which, (start, width) in enumerate(bands):
        # Extract bits [start, start+width) with an unsigned shift pair.
        # `shiftrightunsigned(sig, start) % 2**width` is WRONG for
        # bits=64: Spark's % keeps the dividend's sign, so a signature
        # with bit 63 set gets a negative band-0 block and misses its
        # bucket. shiftleft/shiftrightunsigned is sign-free.
        band_val = F.shiftrightunsigned(
            F.shiftleft(F.col("simhash"), 64 - start - width),
            64 - width,
        )
        part = sig.select(
            "doc_id", "simhash", band_val.alias("block"),
            F.lit(which).alias("which"),
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    a = blocks.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("ha"),
        "block", "which",
    )
    b = blocks.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("hb"),
        "block", "which",
    )
    cand = (
        a.join(b, ["block", "which"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()
    )
    out = cand.withColumn(
        "hamming", F.bit_count(F.expr("ha ^ hb")).cast("int")
    ).where(F.col("hamming") <= max_hamming).select("a", "b", "hamming")
    return out


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probes: int = 2,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold,
    APPROXIMATE by IVF-cell blocking: every vector is assigned to its
    ``n_probes`` nearest of ``n_centroids`` coarse centroids and pairs
    are compared only within a shared cell. Candidate count is
    ~N²·probes²/C per cell group instead of the all-pairs N² (the
    earlier 2-sign-bit scheme was N²/4 — an anti-pattern at scale).
    Recall rises with n_probes; near-identical vectors (cosine ≥ 0.98)
    land in the same top cell almost surely, but cell-boundary pairs
    can be missed — this is a blocking recall trade-off, not an exact
    operator. Grow n_centroids ∝ corpus size to bound cell populations.
    """
    from pyrdf2vec_spark.functions.similarity import (
        ivf_centroids,
        ivf_probe_assign,
    )

    cents = ivf_centroids(embeddings, n_centroids, id_col, vec_col)
    assigned = ivf_probe_assign(
        embeddings, cents, n_probes=n_probes, id_col=id_col, vec_col=vec_col
    )
    a = assigned.select(
        F.col("id").alias("a"), F.col("v").alias("va"), "centroid_id"
    )
    b = assigned.select(
        F.col("id").alias("b"), F.col("v").alias("vb"), "centroid_id"
    )
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS DOUBLE) * y), "
        "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
    )
    na = F.sqrt(F.expr(
        "aggregate(va, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * x)"
    ))
    nb = F.sqrt(F.expr(
        "aggregate(vb, CAST(0.0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * x)"
    ))
    return (
        a.join(b, "centroid_id")
        .where(F.col("a") < F.col("b"))
        .withColumn("cosine", dot / (na * nb))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", F.round("cosine", 6).alias("cosine"))
        .distinct()  # a pair may share several probed cells
    )
