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
2. **Residual fuzzy matching, one representative per key.** Each row
   computes its char n-gram shingle array and its MinHash signature in
   one projection (salted-md5 shingle hashes, integer universal-hash
   permutations: no explode, no shuffle). The band self-join is blocked
   on ``(digit runs, band_idx, band_sig)``: forms whose digit runs
   differ are never compared, so ``person 11`` never meets
   ``person 111`` however alike their shingles are. Buckets above
   200 members are dropped (skew valve), and each pair is verified by
   the exact Jaccard of its two shingle arrays.
3. **Clustering only when needed.** Alternating large-star/small-star
   connected components (Kiveris et al., "Connected Components in
   MapReduce and Beyond", SOCC'14) run only when verified pairs exist;
   canonical id = min member of each cluster.

``lsh_pairs`` (MinHash-LSH over any ``(name, h)`` shingle-hash table,
posting-list verification) and ``connected_components`` are general
building blocks that ``functions/dedup.py`` uses for documents;
``candidate_pairs`` runs ``lsh_pairs`` over surface-form shingles.
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
    """SQL for the distinct char n-grams of ``text``."""
    return (
        f"array_distinct(transform(sequence(1, greatest(1, length({text}) - {n - 1})), "
        f"i -> substring({text}, i, {n})))"
    )


def _shingle_col(col: str, n: int):
    """Normalized char n-gram shingle set (space-padded, so word starts
    and ends are shingles too) — Catalyst-only, no UDF."""
    return F.expr(_shingles_sql(f"concat(' ', {_norm_sql(col)}, ' ')", n))


def _shingle_hash(s: Column) -> Column:
    """60-bit integer hash of one shingle (the first 15 md5 hex digits)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


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


def _permuted(hp: Column, a: int, b: int) -> Column:
    """h_k of a shingle hash already reduced mod P."""
    return F.pmod(F.lit(a) * hp + F.lit(b), F.lit(_P))


def _band_keys(mins: list[Column], band_size: int) -> Column:
    """LSH bucketing keys: per band, the ``|``-joined min-hashes of
    ``band_size`` consecutive permutations (``posexplode`` it into
    ``(band_idx, band_sig)``)."""
    return F.array(
        *[
            F.concat_ws("|", *mins[b * band_size : (b + 1) * band_size])
            for b in range(len(mins) // band_size)
        ]
    )


def shingle_hashes(
    surfaces: DataFrame, col: str = "name", n: int = 3
) -> DataFrame:
    """(name, h): one 60-bit integer hash per distinct char n-gram
    shingle of the normalized surface. ONE md5 per shingle — the k
    min-hash permutations are integer universal hashes over ``h``."""
    return (
        surfaces.select(F.col(col).alias("name"))
        .distinct()
        .select("name", F.explode(_shingle_col("name", n)).alias("s"))
        .select("name", _shingle_hash(F.col("s")).alias("h"))
        .distinct()
    )


def minhash_signatures(
    hashes: DataFrame, num_hashes: int = 12, seed: int = 42
) -> DataFrame:
    """One aggregation computes every permutation's min: (name, h0..hk)."""
    hp = F.pmod(F.col("h"), F.lit(_P))
    return hashes.groupBy("name").agg(
        *[
            F.min(_permuted(hp, a, b)).alias(f"h{k}")
            for k, (a, b) in enumerate(_hash_params(num_hashes, seed))
        ]
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
    """LSH-blocked candidate pairs over char n-gram shingles, verified
    by exact shingle Jaccard (entity-surface-form flavor; for documents
    use word shingles via lsh_pairs + a word-shingle hash table)."""
    return lsh_pairs(
        shingle_hashes(surfaces, col, n),
        num_hashes=num_hashes,
        band_size=band_size,
        jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket,
    )


def lsh_pairs(
    shingle_hash_df: DataFrame,
    num_hashes: int = 12,
    band_size: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket: int = 200,
    checkpoint: bool = True,
) -> DataFrame:
    """MinHash-LSH blocking + exact-Jaccard verify over ANY
    (name, h:bigint) shingle-hash table.

    Shape at scale: shingle hashes are computed ONCE and persisted; the
    band self-join never goes quadratic (buckets above ``max_bucket``
    are dropped — skew/garbage-collision safety valve); verification is
    a pair-driven posting-list join on integer hashes, not an
    array-carrying shuffle."""
    hashes = shingle_hash_df.persist()
    sizes = hashes.groupBy("name").agg(F.count("*").alias("n_sh"))
    sigs = minhash_signatures(hashes, num_hashes)
    bands = sigs.select(
        "name",
        F.posexplode(
            _band_keys([F.col(f"h{k}") for k in range(num_hashes)], band_size)
        ).alias("band_idx", "band_sig"),
    )
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band_idx", "band_sig"))
    ).where(F.col("bucket_n") <= max_bucket)
    left = sized.select("band_idx", "band_sig", F.col("name").alias("a"))
    right = sized.select("band_idx", "band_sig", F.col("name").alias("b"))
    pairs = (
        left.join(right, ["band_idx", "band_sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .persist()
    )
    pairs.count()  # materialize before the fan-out join
    # exact Jaccard: |A∩B| via (pair × a-shingles) probe into b's set
    common = (
        pairs.join(hashes.withColumnRenamed("name", "a"), "a")
        .join(hashes.withColumnRenamed("name", "b"), ["b", "h"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    verified = (
        common.join(sizes.withColumnRenamed("name", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("name", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("a", "b", "jaccard")
    )
    if not checkpoint:
        # plan-inspection mode (tools/explain_plans.py): return the
        # full lazy plan instead of the checkpointed RDD leaf. Caller
        # owns the persisted inputs' lifetime in this mode.
        return verified
    out = verified.localCheckpoint(eager=True)
    hashes.unpersist()
    pairs.unpersist()
    return out


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


def _residual_pairs(
    reps: DataFrame,
    n: int,
    num_hashes: int,
    band_size: int,
    jaccard_threshold: float,
) -> DataFrame:
    """(a, b) pairs of key representatives with equal digit runs, a
    shared LSH band and shingle Jaccard ≥ ``jaccard_threshold``.

    ``reps(key, rep)`` holds one row per normalized key. The shingle
    array and the min-hashes are per-row array functions, so the only
    shuffles are the band bucketing, the self-join and the pair
    ``distinct``."""
    sig = reps.select(
        "rep",
        F.expr("array_join(regexp_extract_all(key, '[0-9]+', 0), ' ')").alias(
            "digits"
        ),
        F.expr(_shingles_sql("concat(' ', key, ' ')", n)).alias("sh"),
    ).withColumn(
        "hp",
        F.transform("sh", lambda s: F.pmod(_shingle_hash(s), F.lit(_P))),
    )

    def min_hash(a: int, b: int) -> Column:
        return F.array_min(F.transform("hp", lambda x: _permuted(x, a, b)))

    mins = [min_hash(a, b) for a, b in _hash_params(num_hashes)]
    block = ["digits", "band_idx", "band_sig"]
    bands = sig.select(
        "rep",
        "digits",
        "sh",
        F.posexplode(_band_keys(mins, band_size)).alias("band_idx", "band_sig"),
    )
    # skew valve: buckets above lsh_pairs' default max_bucket are dropped
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(*block))
    ).where(F.col("bucket_n") <= 200)
    left = sized.select(*block, F.col("rep").alias("a"), F.col("sh").alias("sa"))
    right = sized.select(*block, F.col("rep").alias("b"), F.col("sh").alias("sb"))
    jaccard = F.size(F.array_intersect("sa", "sb")) / F.size(
        F.array_union("sa", "sb")
    )
    return (
        left.join(right, block)
        .where((F.col("a") < F.col("b")) & (jaccard >= jaccard_threshold))
        .select("a", "b")
        .distinct()
    )


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
    pairs = _residual_pairs(
        groups.select("key", "rep"),
        n,
        num_hashes,
        band_size,
        jaccard_threshold,
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
