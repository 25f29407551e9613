"""Entity canonicalization: exact-key blocking, fuzzy matching on the
residual, connected components only when the residual links anything
(north rule; no reference analogue — the reference assumes
pre-canonical URIs).

``canonical_mapping`` splits entity resolution the way SparkER (EDBT
2019) does — blocking, then a pruned candidate comparison, then
clustering:

1. **Exact blocking.** Every surface form is keyed by its normalized
   string (lower-case, non-alphanumeric runs → one space, trimmed), and
   each key's representative is its min surface. One aggregation, no
   iteration: ``Person_17``, ``person 17`` and ``PERSON-17`` merge here.
2. **Residual fuzzy matching, one representative per key.**
   ``lsh_pairs`` over the key's char n-gram shingle hashes, blocked on
   the key's digit runs: forms whose digit runs differ are never
   compared, so ``person 11`` never meets ``person 111`` however alike
   their shingles are.
3. **Clustering only when needed.** Alternating large-star/small-star
   connected components (Kiveris et al., "Connected Components in
   MapReduce and Beyond", SOCC'14) run only when verified pairs exist;
   canonical id = min member of each cluster.

``lsh_pairs`` is the one MinHash-LSH core. It takes one row per set —
``(name, block, h)``, ``h`` the set's 60-bit md5 shingle hashes — and
compares rows only within equal ``block`` values, so blocking is a
column, not an option. Each row's min-hashes (integer universal-hash
permutations of ``h``) and band keys are one
projection (no explode, no groupBy); buckets above ``max_bucket`` rows
are dropped, and pairs are verified by the exact Jaccard of their hash
arrays. Three callers: ``canonical_mapping`` (blocked on digit runs),
``candidate_pairs`` (every surface form, one constant block) and
``functions/dedup.minhash_dedup_pairs`` (word shingles of documents,
one constant block). ``connected_components`` is shared with
``functions/dedup.py`` too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from pyrdf2vec_spark.session import hard_local_checkpoint


def _norm_sql(col: str) -> str:
    """SQL for the normalized surface: lower-case, every
    non-alphanumeric run turned into one space, trimmed."""
    return (
        f"trim(regexp_replace(lower(regexp_replace({col}, "
        f"'[^A-Za-z0-9]+', ' ')), '\\\\s+', ' '))"
    )


def _shingles_sql(text: str, n: int) -> str:
    """SQL for the distinct char n-grams of ``text`` padded with one
    space on each side, so word starts and ends are shingles too."""
    padded = f"concat(' ', {text}, ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(1, length({padded}) - {n - 1})), "
        f"i -> substring({padded}, i, {n})))"
    )


def _shingle_hashes(shingles: Column) -> Column:
    """The 60-bit integer hashes (first 15 md5 hex digits) of a
    shingle array: the ``h`` column ``lsh_pairs`` takes."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
    )


# Mersenne prime 2^31-1: universal-hash modulus for min-hash permutations
# (31-bit operands keep a·x within int64 — no overflow under ANSI mode)
_P = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_k(x) = (a·(x mod P) + b) mod P."""
    import hashlib as _hl

    out = []
    for k in range(num_hashes):
        d = _hl.md5(f"minhash|{seed}|{k}".encode()).hexdigest()
        a = (int(d[:8], 16) % (_P - 1)) + 1
        b = int(d[8:16], 16) % _P
        out.append((a, b))
    return out


def _band_keys(mins: list[str], band_size: int) -> str:
    """SQL for the LSH bucketing keys: per band, the ``|``-joined
    min-hashes of ``band_size`` consecutive permutations (``posexplode``
    it into ``(band_idx, band_sig)``)."""
    bands = [
        f"concat_ws('|', {', '.join(mins[b * band_size : (b + 1) * band_size])})"
        for b in range(len(mins) // band_size)
    ]
    return f"array({', '.join(bands)})"


def lsh_pairs(
    sets: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """MinHash-LSH pairs over ``sets(name, block, h)``: lazy
    ``(a, b, jaccard)`` with ``a < b`` and exact Jaccard ≥
    ``jaccard_threshold``.

    ``h`` is a row's shingle hashes (``array<bigint>``, see
    ``_shingle_hashes``; min-hashes and the set functions ignore
    repeats); rows are compared only when their ``block``
    values are equal (pass a constant not to block). One projection
    computes each row's min-hashes and band keys (no explode, no
    groupBy); buckets above ``max_bucket`` rows are dropped (skew and
    garbage-collision valve), so the band self-join never goes
    quadratic; each pair is verified by the Jaccard of its two hash
    arrays. The only shuffles are the bucket count, the self-join and
    the pair ``distinct``."""
    mins = [
        f"array_min(transform(h, x -> pmod({a} * pmod(x, {_P}) + {b}, {_P})))"
        for a, b in _hash_params(num_hashes)
    ]
    key = ["block", "band_idx", "band_sig"]
    bands = sets.selectExpr(
        "name",
        "block",
        "h",
        f"posexplode({_band_keys(mins, band_size)}) AS (band_idx, band_sig)",
    )
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(*key))
    ).where(F.col("bucket_n") <= max_bucket)
    left = sized.select(*key, F.col("name").alias("a"), F.col("h").alias("ha"))
    right = sized.select(*key, F.col("name").alias("b"), F.col("h").alias("hb"))
    jaccard = F.size(F.array_intersect("ha", "hb")) / F.size(
        F.array_union("ha", "hb")
    )
    return (
        left.join(right, key)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= jaccard_threshold)
        .distinct()
    )


def candidate_pairs(
    surfaces: DataFrame,
    col: str = "name",
    n: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """``lsh_pairs`` over the distinct surface forms' normalized char
    n-gram shingles, with no blocking: (a, b, jaccard)."""
    sets = (
        surfaces.select(F.col(col).alias("name"))
        .distinct()
        .select(
            "name",
            F.lit(0).alias("block"),
            _shingle_hashes(F.expr(_shingles_sql(_norm_sql("name"), n))).alias("h"),
        )
    )
    return lsh_pairs(sets, num_hashes, band_size, jaccard_threshold, max_bucket)


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    edges(a, b) undirected → (name, component) with component = min
    member. Converges in O(log n) alternations; every step is a
    groupBy(min)+self-join — shuffle-bounded, no driver-side graph."""
    nodes = (
        edges.select(F.col("a").alias("name"))
        .union(edges.select(F.col("b").alias("name")))
        .distinct()
        .persist()
    )
    # hard checkpoints: each alternation derives new_e from e through
    # a union + two agg-joins (~4x size-estimate compounding per round)
    # — a plain localCheckpoint grows the carried sizeInBytes BigInt
    # geometrically over the O(log n) rounds big graphs need (see
    # hard_local_checkpoint's docstring)
    e = hard_local_checkpoint(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))

    for _ in range(max_iterations):
        # large-star (Alg. 2): for each u, m = min(Γ(u) ∪ {u});
        # emit (v, m) for every strictly larger neighbor v of u.
        n = _sym(e)
        mins = n.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        e1 = (
            n.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star (Alg. 3): S = smaller-or-equal neighbors of u;
        # m = min(S ∪ {u}); emit (v, m) for v ∈ S ∪ {u} \ {m}.
        n1 = _sym(e1).where(F.col("v") < F.col("u"))
        mins1 = n1.groupBy("u").agg(F.min("v").alias("m"))
        new_e = hard_local_checkpoint(
            n1.join(mins1, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins1.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        changed = (
            new_e.join(e, ["u", "v"], "left_anti")
            .union(e.join(new_e, ["u", "v"], "left_anti"))
            .limit(1)
            .count()
        )
        e = new_e
        if changed == 0:
            break
    # converged: e is a star forest (u → component root)
    comp = e.groupBy("u").agg(F.min("v").alias("component"))
    out = nodes.join(
        comp.withColumnRenamed("u", "name"), "name", "left"
    ).select("name", F.coalesce("component", F.col("name")).alias("component"))
    nodes.unpersist()
    return out


def canonical_mapping(
    surfaces: DataFrame,
    col: str = "name",
    # true surface variants normalize to (near-)identical strings, so the
    # verified-Jaccard bar is strict by default — 0.5 would merge
    # distinct entities that share a long common stem (person 17 / 18)
    jaccard_threshold: float = 0.9,
    num_hashes: int = 12,
    band_size: int = 2,
    n: int = 3,
) -> DataFrame:
    """surface form → canonical id (min member of its cluster).
    Singletons map to themselves.

    Surfaces with one normalized key form one cluster; clusters whose
    representatives are fuzzy pairs (equal digit runs, shingle Jaccard
    ≥ ``jaccard_threshold``) are merged by connected components, which
    run only when such a pair exists."""
    groups = (
        surfaces.select(F.col(col).alias("name"))
        .groupBy(F.expr(_norm_sql("name")).alias("key"))
        .agg(F.min("name").alias("rep"), F.collect_set("name").alias("names"))
    )
    # not persisted: the mapping is re-derived from the input, so AQE
    # coalesces its final shuffle and a stage write stays one file
    keyed = groups.select("rep", F.explode("names").alias("name"))
    sets = groups.select(
        F.col("rep").alias("name"),
        F.expr("array_join(regexp_extract_all(key, '[0-9]+', 0), ' ')").alias(
            "block"
        ),
        _shingle_hashes(F.expr(_shingles_sql("key", n))).alias("h"),
    )
    pairs = lsh_pairs(
        sets, num_hashes, band_size, jaccard_threshold
    ).localCheckpoint(eager=True)
    if pairs.isEmpty():
        return keyed.select("name", F.col("rep").alias("canonical"))
    comp = connected_components(pairs).withColumnRenamed("name", "rep")
    return keyed.join(comp, "rep", "left").select(
        "name", F.coalesce("component", "rep").alias("canonical")
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Apply a canonical mapping to subj/obj of a triples table
    (two broadcast-able joins; preds left untouched)."""
    m = mapping
    return (
        triples.join(
            m.withColumnRenamed("name", "subj").withColumnRenamed(
                "canonical", "subj_c"
            ),
            "subj",
            "left",
        )
        .join(
            m.withColumnRenamed("name", "obj").withColumnRenamed(
                "canonical", "obj_c"
            ),
            "obj",
            "left",
        )
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            "pred",
            F.coalesce("obj_c", "obj").alias("obj"),
        )
    )
