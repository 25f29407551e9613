"""Walk extraction as iterative DataFrame self-joins.

The reference extracts walks per entity in forked worker processes
(pyrdf2vec/walkers/walker.py:158-165) doing dict-of-set adjacency lookups;
here the per-entity loop IS the partitioned frontier and each BFS depth is
one adjacency equi-join over the deduplicated edge table (SURVEY.md W1-W14).
Hub-entity skew in that join is handled by AQE skew-join splitting
(session.py); lineage growth in the iterative loop is cut by
localCheckpoint every few depths.

Walk layout (pyrdf2vec/typings.py:8-9): position 0 = root entity, odd
positions = predicates, even = entities.
"""

from __future__ import annotations

import hashlib
import itertools
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType
from pyspark.storagelevel import StorageLevel

from pyrdf2vec_spark.graph import SparkKG
from pyrdf2vec_spark.session import hard_local_checkpoint
from pyrdf2vec_spark.samplers import edge_weights, normalize_hop_weights

CHECKPOINT_EVERY = 4  # truncate join-loop lineage every k depths

# explicit broadcast of the edge side of the BFS join below this many
# edges — a pinned plan beats AQE flip-flopping around the size
# threshold; above it, shuffle join + AQE skew splitting take over.
# 1M edges ≈ 100 MB with md5-repr tokens: beyond that the per-executor
# hash-table build dominates (measured 1.8× slower than the shuffle
# join at 1.9M edges) — and a 100 TB graph never broadcasts its edges
BROADCAST_EDGE_LIMIT = 1_000_000


def _edge_side(kg: SparkKG, df: DataFrame) -> DataFrame:
    # a failing edge_count propagates: swallowing it here would
    # silently demote every walker join to sort-merge (r6 verdict)
    if kg.edge_count() <= BROADCAST_EDGE_LIMIT:
        return F.broadcast(df)
    # pin sort-merge above the limit: with compact (dense-id) edge
    # tables the compressed shuffle size sits near the 64 MB
    # autoBroadcast threshold, and AQE nondeterministically flips the
    # frontier join to a broadcast hash join — a multi-million-entry
    # hash table per task (measured 3-6x walk-stage blowups)
    return df.hint("merge")


def _prepartition_edge_table(kg: SparkKG, df: DataFrame, key: str) -> DataFrame:
    """Above the broadcast limit every BFS depth runs a sort-merge join
    on the frontier key — pre-partition AND pre-sort the (about to be
    cached) edge table on that key so each per-depth join exchanges
    (and sorts) ONLY the frontier: one |E| shuffle at build time buys
    max_depth edge-side exchanges. This is the co-partitioned shape a
    bucket-by-src storage table (storage.materialize_kg) hands a real
    cluster straight off the scan; in-memory the repartition stands in
    for the bucketed read. Below the limit the edge side broadcasts,
    so the extra shuffle would be pure cost — passthrough."""
    if kg.edge_count() <= BROADCAST_EDGE_LIMIT:
        return df
    return df.repartition(F.col(key)).sortWithinPartitions(key)


def _seeds(entities: DataFrame) -> DataFrame:
    return entities.select(F.col(entities.columns[0]).alias("entity")).distinct()


def _seed_fingerprint(entities: DataFrame) -> tuple:
    """Order-independent fingerprint of a seed set (one tiny agg job):
    (count, exact decimal sum of xxhash64, xor of a differently seeded
    xxhash64). Keys the one-live-overlay caches so repeat calls with
    the SAME seeds reuse a cached |E|-row table instead of rebuilding
    it; a different seed set has to collide in both hashes at once to
    be mistaken for a cached one."""
    row = (
        _seeds(entities)
        .agg(
            F.count("*").alias("n"),
            # decimal(38,0): a bigint sum of 64-bit hashes overflows
            # under ANSI; decimal is exact and order-independent
            F.sum(F.xxhash64("entity").cast("decimal(38,0)")).alias("h"),
            # a leading constant column re-seeds the hash chain: an
            # independent 64-bit hash of each entity
            F.bit_xor(F.xxhash64(F.lit(1), "entity")).alias("x"),
        )
        .first()
    )
    return (
        row["n"],
        None if row["h"] is None else int(row["h"]),
        row["x"],
    )


def _kg_walk_cache(kg: SparkKG) -> dict:
    """Per-KG memo of walker prep artifacts (token tables, tokenized
    edge tables). A KG is immutable after construction, so anything
    derived only from its edges is safe to reuse across BFS / DFS /
    encoded walker runs — rebuilding these per run was a measured part
    of the walk stage's fixed prep cost (BENCH/BASELINE.md)."""
    cache = getattr(kg, "_walk_cache", None)
    if cache is None:
        cache = kg._walk_cache = {}
    return cache


_PURE = object()  # ``fpr`` of a seed-independent cache entry


def _kg_cached(kg: SparkKG, key: tuple, build, fpr=_PURE):
    """The one cache policy of the walkers' per-KG prep tables.

    Pure entries (``fpr`` omitted) depend on the KG alone: ``build()``
    runs once and its value is stored bare under ``key``.

    Seeded overlays also depend on a seed set, so they are stored as
    ``(value, fpr)`` with at most ONE live per key: the cached value is
    reused only when ``fpr`` (a seed-set fingerprint) matches and is
    not None. Otherwise a fresh one is built and the previous one
    unpersisted, instead of accumulating an |E|-row persist per
    distinct seed set. A result DataFrame held from an earlier call
    then silently recomputes the evicted table's lineage if evaluated
    afterwards: materialize (persist + count, or write) a seeded result
    before issuing a different-seed call if you need both live."""
    cache = _kg_walk_cache(kg)
    prev = cache.get(key)
    if fpr is _PURE:
        if prev is None:
            prev = cache[key] = build()
        return prev
    if prev is not None and fpr is not None and prev[1] == fpr:
        return prev[0]
    built = build()
    if prev is not None:
        prev[0].unpersist()
    cache[key] = (built, fpr)
    return built


def _norm_edge_table(
    kg: SparkKG,
    sampler: str,
    inverse: bool,
    split: bool,
    alpha: float,
    set_col: str,
    hop_col: str,
    tokens: DataFrame | None = None,
    tokens_fpr: tuple | None = None,
) -> DataFrame:
    """The sampled walkers' weighted edge table — normalized weights,
    optional fused hop tokens, pre-partitioned + pre-sorted on the
    per-depth join key — kept persisted in the per-KG cache
    (:func:`_kg_cached`) rather than unpersisted before the caller
    materializes the returned lazy walks. Untokenized tables are pure
    entries per (sampler, inverse, split, alpha, set_col); tokenized
    tables are seed-dependent, so they are that config's seeded
    overlay, keyed by ``tokens_fpr``."""
    cfg = (sampler, bool(inverse), bool(split), round(alpha, 9), set_col)

    def build() -> DataFrame:
        weights = edge_weights(kg, sampler, alpha=alpha)
        if inverse:
            # inverse needs the per-candidate-set max/min (sampler.py:124-127)
            norm = normalize_hop_weights(
                weights, [set_col], kg=kg, inverse=True, split=split,
                obj_col=hop_col,
            )
        else:
            # the exponential-race argmin is invariant under positive
            # scaling of the candidate set, so the per-set
            # sum-normalization windows are unnecessary — raw weights
            # (plus the split division) give the identical sampling
            # distribution with zero window shuffles
            norm = weights.withColumn(
                "norm_weight", F.col("weight").cast("double")
            )
            if split:
                from pyrdf2vec_spark.samplers import split_degrees

                degs = split_degrees(kg).withColumnRenamed("name", hop_col)
                norm = (
                    norm.join(degs, hop_col, "left")
                    .where(F.coalesce(F.col("deg"), F.lit(0)) != 0)
                    .withColumn(
                        "norm_weight", F.col("norm_weight") / F.col("deg")
                    )
                    .drop("deg")
                )
        norm = norm.where(
            F.col("norm_weight").isNotNull() & (F.col("norm_weight") > 0)
        ).select("src", "pred", "dst", "norm_weight")
        if tokens is not None:
            # token of the hop vertex, joined ONCE onto the edge-weight
            # table (O(|E|)), not per walk occurrence
            norm = norm.join(
                tokens.withColumnRenamed("name", hop_col), hop_col
            ).withColumnRenamed("token", "hop_tok")
        return _prepartition_edge_table(kg, norm, set_col).persist()

    if tokens is None:
        return _kg_cached(kg, ("edges_norm",) + cfg, build)
    return _kg_cached(kg, ("edges_norm_tok",) + cfg, build, tokens_fpr)


# ---------------------------------------------------------------------------
# W1/W2 — exhaustive BFS (RandomWalker._bfs, pyrdf2vec/walkers/random.py:50-81)
# ---------------------------------------------------------------------------
def bfs_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    is_reverse: bool = False,
) -> DataFrame:
    """All maximal-or-dead-end walks of depth ≤ max_depth from each root.

    Reference semantics (random.py:67-81): a walk with ≥1 extension is
    REPLACED by its extensions, so the surviving set is depth-max_depth
    walks plus shorter dead-end walks. Reverse mode prepends (obj, pred)
    at the head, root ends up last (random.py:71-73).

    Each depth is one left join frontier→edges; rows with no match freeze
    into the finished set — exactly the replace-if-extended semantics.
    """
    walks = _seeds(entities).select(
        "entity", F.array(F.col("entity")).alias("walk")
    )
    e = _edge_side(kg, kg.edges)
    # FUSED dead/live loop (same shape as sampled_walks): a dead-end
    # walk rides the remaining depths frozen — its head matches no
    # edge, so the left join keeps the single unmatched row unchanged —
    # instead of branching into a per-depth `finished` union whose
    # branches re-execute every upstream join once each
    for depth in range(max_depth):
        if is_reverse:
            key = F.element_at(F.col("walk"), 1)
            joined = walks.join(e, key == e["dst"], "left")
            extended = F.concat(
                F.array(F.col("src"), F.col("pred")), F.col("walk")
            )
        else:
            key = F.element_at(F.col("walk"), -1)
            joined = walks.join(e, key == e["src"], "left")
            extended = F.concat(
                F.col("walk"), F.array(F.col("pred"), F.col("dst"))
            )
        walks = joined.select(
            "entity",
            F.when(F.col("pred").isNull(), F.col("walk"))
            .otherwise(extended)
            .alias("walk"),
        )
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    # no dedup shuffle needed: seeds and edges are distinct, so each
    # extension is unique per (walk, edge), and frozen dead-end walks
    # differ from longer survivors by length — the reference's set
    # semantics (random.py:67-81) hold by construction
    return walks


# ---------------------------------------------------------------------------
# W3 — sampled DFS walks (RandomWalker._dfs, random.py:83-118 +
# Sampler.sample_hop, samplers/sampler.py:138-180)
# ---------------------------------------------------------------------------
def _md5_uniform(*cols) -> "F.Column":
    """Engine-portable deterministic uniform in (0,1): the first 8 hex
    chars of md5(concat_ws('|', cols)) read as a 32-bit int, +0.5,
    / 2**32 — replicated verbatim in DuckDB oracles as
    ``((('0x' || substr(md5(a || '|' || b ...), 1, 8))::BIGINT)::DOUBLE
    + 0.5) / 4294967296.0``. Slightly costlier than xxhash64; used only
    by the ``portable_hash`` oracle paths."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))


def _race_key(other, depth: int, seed: int, portable_hash: bool):
    """Exponential-race key -ln(u)/w of one candidate hop, with u ∈
    (0,1) a deterministic hash of (slot, depth, candidate, seed): the
    argmin over a slot's candidates is drawn ∝ ``norm_weight``.
    ``other`` is the candidate's hop-vertex column. xxhash64 by
    default; ``portable_hash`` swaps in :func:`_md5_uniform`."""
    cols = (
        F.col("entity"), F.col("walk_id"), F.lit(depth),
        F.col("pred"), other, F.lit(seed),
    )
    if portable_hash:
        u = _md5_uniform(*cols)
    else:
        u = (
            F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1)).cast("double")
            + F.lit(1.0)
        ) / F.lit(float(2**31))
    return -F.log(u) / F.col("norm_weight")


def sampled_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    max_walks: int,
    sampler: str = "uniform",
    inverse: bool = False,
    split: bool = False,
    alpha: float = 0.85,
    seed: int = 42,
    is_reverse: bool = False,
    portable_hash: bool = False,
    tokens: DataFrame | None = None,
    tokens_fpr: tuple | None = None,
) -> DataFrame:
    """Exactly ``max_walks`` root-anchored walks per entity, each hop drawn
    with probability proportional to the sampler weight.

    ``portable_hash=True`` derives the per-candidate uniform from md5
    instead of xxhash64 — engine-independent (DuckDB-oracle-checkable)
    at slightly higher hash cost; the default stays on xxhash64 for the
    hot path.

    ``tokens`` (name, token) fuses md5 canonicalization into the walk
    build (see :func:`vertex_tokens`): the walk array is assembled from
    tokens while the active end and the sampling hash stay on raw names,
    so the draw sequence is bit-identical to the untokenized run. This
    replaces the driver-side entity collect the canonicalize-after
    pattern needed — O(|V|) token joins, no IN-lists, no driver state.

    The reference draws hops sequentially with a shared ``visited`` set
    (sampler.py:159-171) — inherently single-threaded state. We reproduce
    the *distribution* (documented divergence, SURVEY.md §5.4.1): every
    (entity, walk_id) slot extends depth-by-depth, choosing one candidate
    hop per step via the exponential-race trick: key =
    -ln(u)/w with u a per-(slot, depth, candidate) deterministic hash —
    the argmin is distributed ∝ w. One shuffle (min_by agg) per depth,
    fully deterministic given ``seed``.
    """
    # candidate-hop geometry flips under is_reverse: the reference draws
    # PREDECESSORS via get_hops(walk[0], True) (sampler.py:155-160), so
    # the candidate set for head h is {edges with dst == h} and the hop
    # vertex is the edge's src — the per-set normalization groups by dst
    # and the split division uses the src vertex's degree
    set_col, hop_col = ("dst", "src") if is_reverse else ("src", "dst")
    # weighted edge table: normalized, optionally tokenized, cached per
    # KG (see _norm_edge_table — this is also the r6 dead-persist fix),
    # pre-partitioned + pre-sorted on the per-depth join key so each
    # depth exchanges only the walk slots. The edge-side strategy is
    # pinned exactly like the BFS frontier joins (_edge_side): without
    # it AQE flips the per-depth join between broadcast and sort-merge
    # run-to-run near the size threshold — measured 3-6x q3 swings.
    norm = _edge_side(
        kg,
        _norm_edge_table(
            kg, sampler, inverse, split, alpha, set_col, hop_col,
            tokens=tokens, tokens_fpr=tokens_fpr,
        ),
    )

    seeds = _seeds(entities)
    if tokens is not None:
        seeds = seeds.join(
            tokens.withColumnRenamed("name", "entity"), "entity", "left"
        ).select(
            "entity",
            F.coalesce(F.col("token"), F.col("entity")).alias("root_tok"),
        )
    else:
        seeds = seeds.select("entity", F.col("entity").alias("root_tok"))
    slots = (
        seeds
        .crossJoin(
            entities.sparkSession.range(max_walks).select(
                F.col("id").cast("int").alias("walk_id")
            )
        )
        .select(
            "entity",
            "walk_id",
            F.col("entity").alias("cur"),
            F.array(F.col("root_tok")).alias("walk"),
        )
    )
    walks = slots
    # FUSED dead/live loop: a slot whose head has no candidate hops
    # rides the remaining depths frozen (its left join matches nothing,
    # the group's single all-null row keeps walk/cur unchanged) instead
    # of branching into a per-depth `finished` union. A group is
    # homogeneous by construction — its `cur` either has candidates
    # (all rows live) or none (exactly one null row) — so the argmin
    # never mixes the two. Output multiset is identical: every
    # (entity, walk_id) slot appears exactly once, its walk frozen at
    # death. The old split executed every per-depth join TWICE (once
    # per consumer branch) and fanned the final action into a
    # (max_depth+1)-branch union — measured as ~50 AQE stage jobs for
    # one q3 count at sf0.1.
    for depth in range(max_depth):
        if is_reverse:
            # head extends by its INCOMING edges (predecessor hops)
            joined = walks.join(norm, walks["cur"] == norm["dst"], "left")
        else:
            joined = walks.join(norm, walks["cur"] == norm["src"], "left")
        other = F.col("src") if is_reverse else F.col("dst")
        other_tok = F.col("hop_tok") if tokens is not None else other
        race_key = _race_key(other, depth, seed, portable_hash)
        picked = joined.groupBy("entity", "walk_id").agg(
            F.min_by(
                F.struct(
                    F.col("pred").alias("p"),
                    other.alias("o"),
                    other_tok.alias("otok"),
                ),
                # pred/other tiebreak makes near-tie picks deterministic
                F.struct(race_key.alias("k"), F.col("pred"), other),
            ).alias("hop"),
            F.first("walk").alias("walk"),
            F.first("cur").alias("cur"),
        )
        if is_reverse:
            nxt = F.concat(
                F.array(F.col("hop.otok"), F.col("hop.p")), F.col("walk")
            )
        else:
            nxt = F.concat(
                F.col("walk"), F.array(F.col("hop.p"), F.col("hop.otok"))
            )
        walks = picked.select(
            "entity",
            "walk_id",
            F.coalesce(F.col("hop.o"), F.col("cur")).alias("cur"),
            F.when(F.col("hop.p").isNull(), F.col("walk"))
            .otherwise(nxt)
            .alias("walk"),
        )
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    return walks.select("entity", "walk")


# ---------------------------------------------------------------------------
# W4 — with_reverse combination (random.py:134-139)
# ---------------------------------------------------------------------------
def combine_with_reverse(forward: DataFrame, reverse: DataFrame) -> DataFrame:
    """Per-entity cartesian product r_walk[:-1] + walk (root centered):
    equi-join on the root — each reverse walk (root last) loses its root
    and is prepended to each forward walk."""
    rev = reverse.select(
        F.col("entity"),
        F.expr("slice(walk, 1, size(walk) - 1)").alias("rev_prefix"),
    )
    return forward.join(rev, "entity").select(
        "entity", F.concat(F.col("rev_prefix"), F.col("walk")).alias("walk")
    )


def extract_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    max_walks: int | None = None,
    with_reverse: bool = False,
    sampler: str = "uniform",
    inverse: bool = False,
    split: bool = False,
    alpha: float = 0.85,
    seed: int = 42,
) -> DataFrame:
    """RandomWalker.extract_walks (random.py:120-140): BFS when max_walks
    is None, sampled DFS otherwise; optional reverse-combine."""
    if max_walks is None:
        fwd = bfs_walks(kg, entities, max_depth)
        if with_reverse:
            rev = bfs_walks(kg, entities, max_depth, is_reverse=True)
            return combine_with_reverse(fwd, rev)
        return fwd
    fwd = sampled_walks(
        kg, entities, max_depth, max_walks, sampler, inverse, split, alpha, seed
    )
    if with_reverse:
        rev = sampled_walks(
            kg,
            entities,
            max_depth,
            max_walks,
            sampler,
            inverse,
            split,
            alpha,
            seed + 1,
            is_reverse=True,
        )
        return combine_with_reverse(fwd, rev)
    return fwd


# ---------------------------------------------------------------------------
# W5/W6 — md5 canonicalization + dedup (random.py:142-183)
# ---------------------------------------------------------------------------
def _md5_repr(name: str, md5_bytes: int) -> str:
    """Byte-exact replica of random.py:162-163:
    str(md5(name.encode()).digest()[:md5_bytes]) — the b'...' tokens the
    golden corpora hard-code (tests/embedders/test_word2vec.py:8-77).
    The Python spec :func:`_md5_repr_sql`, the engine's only md5 repr,
    is tested against."""
    return str(hashlib.md5(name.encode()).digest()[:md5_bytes])


def _md5_repr_sql(expr: str, md5_bytes: int) -> str:
    """SQL expression producing EXACTLY Python's str(md5(s).digest()[:k])
    — the reference's token format (random.py:162-163) — fully inside
    whole-stage codegen, no Python.

    Python bytes-repr rules: \\t \\n \\r \\\\ escapes; quote style is
    b'..' unless the bytes contain 0x27 and no 0x22, then b".."
    (matching str repr); printable ASCII 32-126 literal; else \\xhh
    lowercase. The digest is computed once and bound via a
    single-element transform(array(..)) let-binding.
    """
    hexpair = "lpad(lower(hex(x)), 2, '0')"
    common = (
        "CASE WHEN x = 9 THEN '\\\\t' "
        "WHEN x = 10 THEN '\\\\n' "
        "WHEN x = 13 THEN '\\\\r' "
        "WHEN x = 92 THEN '\\\\\\\\' "
    )
    # single-quote mode: escape 0x27
    sq = (
        common
        + "WHEN x = 39 THEN '\\\\''' "
        + "WHEN x BETWEEN 32 AND 126 THEN char(x) "
        + f"ELSE concat('\\\\x', {hexpair}) END"
    )
    # double-quote mode: 0x27 literal (0x22 cannot occur in this mode)
    dq = (
        common
        + "WHEN x BETWEEN 32 AND 126 THEN char(x) "
        + f"ELSE concat('\\\\x', {hexpair}) END"
    )
    bytes_arr = (
        f"transform(sequence(1, {md5_bytes}), "
        "j -> cast(conv(hex(substring(bin, j, 1)), 16, 10) as int))"
    )
    body = (
        "CASE WHEN array_contains(bs, 39) AND NOT array_contains(bs, 34) "
        f"THEN concat('b\"', aggregate(bs, '', (acc, x) -> concat(acc, {dq})), '\"') "
        f"ELSE concat('b''', aggregate(bs, '', (acc, x) -> concat(acc, {sq})), '''') END"
    )
    return (
        f"transform(array(unhex(md5({expr}))), bin -> "
        f"transform(array({bytes_arr}), bs -> {body})[0])[0]"
    )


def canonicalize_walks(
    walks: DataFrame,
    entity_names: Iterable[str] | None = None,
    md5_bytes: int | None = 8,
    keep_root: bool = False,
    assume_distinct: bool = False,
) -> DataFrame:
    """Map even-position non-seed vertices to md5-digest reprs; keep seed
    entities and predicates (odd positions) verbatim (random.py:142-163).
    ``keep_root=True`` additionally keeps position 0 literal — the rule
    the golden corpora of tests/embedders/test_word2vec.py:8-77 encode.

    Pure Catalyst (:func:`_md5_repr_sql` inside one ``transform`` over
    the walk array) — zero shuffle, no Python worker. The seed names
    ride the plan as an IN-list, which the optimizer turns into a hash
    set lookup (OptimizeIn → InSet) once it is long.

    ``assume_distinct=True`` skips the output dedup: the vertex mapping
    is deterministic and injective up to md5 collisions, so
    already-distinct raw walks (BFS output) stay distinct — saving a
    full shuffle of the walk corpus. Leave False for DFS output, which
    contains genuine duplicates by design (random.py:103-117).
    """
    if md5_bytes is not None:
        keep = "i % 2 = 1"
        if keep_root:
            keep += " OR i = 0"
        ents = sorted(set(entity_names or []))
        if ents:
            # SQL string literals unescape backslashes: escape both it
            # and the quote so every name reaches the IN-list verbatim
            inlist = ", ".join(
                "'" + e.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for e in ents
            )
            keep += f" OR v IN ({inlist})"
        walks = walks.select(
            "entity",
            F.expr(
                f"transform(walk, (v, i) -> CASE WHEN {keep} THEN v "
                f"ELSE {_md5_repr_sql('v', md5_bytes)} END)"
            ).alias("walk"),
        )
    if assume_distinct:
        return walks
    return walks.dropDuplicates(["entity", "walk"])


def md5_token_base(kg: SparkKG, md5_bytes: int = 8) -> DataFrame:
    """(name, mtoken): the md5-digest repr of every entity vertex —
    computed once per KG per digest width and persisted; every walker
    run overlays its own seed rule on top instead of recomputing
    O(|V|) digests."""
    mtoken = F.expr(_md5_repr_sql("name", md5_bytes)).alias("mtoken")
    return _kg_cached(
        kg,
        ("md5_tokens", md5_bytes),
        lambda: kg.entity_names()
        .select("name", mtoken)
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


def indexed_name_table(
    kg: SparkKG, md5_bytes: int = 8
) -> tuple[DataFrame, int]:
    """(name, mtoken, j) with a dense, recompute-deterministic index
    0..|V|-1 per entity vertex, plus |V| itself — cached per KG per
    digest width. This is the single id authority for the encoded
    corpus layout: md5-token id = j, verbatim-name id = |V|+j, so id
    assignment never needs a vocab-wide union+distinct shuffle or a
    token-keyed re-join."""

    def build() -> tuple[DataFrame, int]:
        base, n = _zip_dense_index(md5_token_base(kg, md5_bytes), "name")
        return (
            base.withColumnRenamed("_idx", "j").persist(
                StorageLevel.MEMORY_AND_DISK
            ),
            n,
        )

    return _kg_cached(kg, ("indexed_names", md5_bytes), build)


def vertex_tokens(
    kg: SparkKG,
    entities: DataFrame | None = None,
    md5_bytes: int = 8,
) -> DataFrame:
    """(name, token) for every entity vertex: the md5-digest repr, or
    the verbatim name for seed entities (random.py:155-163 rule).
    O(|V|) repr computations — each hub vertex hashed once, not once
    per walk occurrence — and the digest table itself is cached per KG
    (:func:`md5_token_base`)."""
    base = md5_token_base(kg, md5_bytes)
    if entities is None:
        return base.select("name", F.col("mtoken").alias("token"))
    seeds = _seeds(entities).select(
        F.col("entity").alias("name"), F.lit(True).alias("is_seed")
    )
    return base.join(seeds, "name", "left").select(
        "name",
        F.when(F.coalesce("is_seed", F.lit(False)), F.col("name"))
        .otherwise(F.col("mtoken"))
        .alias("token"),
    )


def bfs_canonical_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    md5_bytes: int | None = 8,
    keep_root: bool = True,
    seed_entities: DataFrame | None = None,
    is_reverse: bool = False,
) -> DataFrame:
    """Fused BFS + md5 canonicalization: walks are BUILT from
    pre-canonicalized tokens, so the expensive repr runs once per
    distinct vertex (token table joined onto the edge table once)
    instead of once per walk element. Output ≡
    canonicalize_walks(bfs_walks(...)) for the same seed rule
    (differentially tested).

    ``keep_root=True`` keeps position 0 verbatim (golden-corpus rule);
    ``seed_entities`` marks additional names kept verbatim at even
    positions (the reference's _entities set); ``is_reverse`` walks
    predecessor edges and prepends, root ends up last (random.py:71-73).

    Caching: the tokenized edge table is cached per KG per (md5 width,
    direction) by :func:`_kg_cached` — with ``seed_entities`` as the
    one live seeded overlay, keyed by a fingerprint of the seed set
    (a different seed set evicts the previous overlay; see there).

    Lifetime: one seeded overlay lives per KG and key. A call with a
    different seed set evicts (unpersists) the overlay that an earlier
    result was built from; evaluating that still-lazy earlier result
    afterwards silently rebuilds the |E|-row tokenized edge table
    (correct output, surprise cost). Materialize a seeded result
    (persist + count, or write it) before a call with other seeds if
    both are needed.
    """
    if md5_bytes is None:
        return bfs_walks(kg, entities, max_depth, is_reverse=is_reverse)
    toks = vertex_tokens(kg, seed_entities, md5_bytes)
    hop_col = "src" if is_reverse else "dst"

    def build() -> DataFrame:
        # frontier join keys are xxhash64 bigints, not entity-name
        # strings: every BFS depth sort-merge-shuffles the (growing)
        # frontier on this key above BROADCAST_EDGE_LIMIT, and 8-byte
        # int sort/exchange beats arbitrary-length names; walk CONTENT
        # stays md5-repr strings (collision odds ~|V|²/2⁶⁵, same
        # documented bound as pagerank)
        tok_edges = (
            kg.edges.join(toks.withColumnRenamed("name", hop_col), hop_col)
            .withColumnRenamed("token", "hop_tok")
            .select(
                F.xxhash64("src").alias("src_id"),
                "pred",
                F.xxhash64("dst").alias("dst_id"),
                "hop_tok",
            )
        )
        return _prepartition_edge_table(
            kg, tok_edges, "dst_id" if is_reverse else "src_id"
        ).persist()

    # without a seed overlay the table depends on the KG alone, so
    # repeated walker runs skip the |E|-row join + persist entirely;
    # with one, a fingerprint of the seed set (one tiny agg job) lets
    # repeat calls with the SAME seeds reuse the cached overlay
    if seed_entities is None:
        built = _kg_cached(kg, ("edges_tok", md5_bytes, hop_col), build)
    else:
        built = _kg_cached(
            kg, ("edges_tok_seeded", md5_bytes, hop_col), build,
            _seed_fingerprint(seed_entities),
        )
    edges_tok = _edge_side(kg, built)
    root_tok = (
        F.col("entity")
        if keep_root
        else F.coalesce(F.col("token"), F.col("entity"))
    )
    seeds = _seeds(entities)
    if not keep_root:
        seeds = seeds.join(
            toks.withColumnRenamed("name", "entity"), "entity", "left"
        )
    walks = seeds.select(
        "entity",
        F.xxhash64("entity").alias("cur"),
        F.array(root_tok).alias("walk"),
    )
    # fused dead/live loop — see bfs_walks
    for depth in range(max_depth):
        if is_reverse:
            joined = walks.join(
                edges_tok, walks["cur"] == edges_tok["dst_id"], "left"
            )
            nxt_cur, extended = F.col("src_id"), F.concat(
                F.array(F.col("hop_tok"), F.col("pred")), F.col("walk")
            )
        else:
            joined = walks.join(
                edges_tok, walks["cur"] == edges_tok["src_id"], "left"
            )
            nxt_cur, extended = F.col("dst_id"), F.concat(
                F.col("walk"), F.array(F.col("pred"), F.col("hop_tok"))
            )
        walks = joined.select(
            "entity",
            F.coalesce(nxt_cur, F.col("cur")).alias("cur"),
            F.when(F.col("pred").isNull(), F.col("walk"))
            .otherwise(extended)
            .alias("walk"),
        )
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    return walks.select("entity", "walk")


def dense_token_ids(tokens: DataFrame, col: str = "token") -> DataFrame:
    """(token) → (token, tid) with DENSE ids 0..n-1, assigned without a
    single-partition global sort: per-partition row_number + a broadcast
    of per-partition offsets (the zipWithIndex pattern, all JVM-side).
    Dense ids matter for the corpus layout: an id drawn from 0..|vocab|
    has log2(|vocab|) bits of entropy, so parquet+zstd store ~2-3 bytes
    per token instead of 8 incompressible xxhash64 bytes."""
    # monotonically_increasing_id = (partition id << 33) | local row
    # sequence, assigned with ZERO extra shuffle — where the previous
    # Window.partitionBy(_pid).orderBy(token) forced a full re-shuffle
    # + sort of the vocab (measured seconds of the walk stage's fixed
    # prep cost). sortWithinPartitions pins a deterministic in-partition
    # order WITHOUT a shuffle (distinct's hash partitioning is already
    # deterministic), so the (token → id) assignment is identical across
    # runs AND under partition loss + recompute on a cluster — the
    # recompute-shift hazard the bare persist() left open.
    distinct = tokens.select(col).distinct()
    out, _ = _zip_dense_index(distinct, col)
    return out.withColumnRenamed("_idx", "tid")


def _zip_dense_index(df: DataFrame, sort_col: str) -> tuple[DataFrame, int]:
    """Append a dense 0..n-1 ``_idx`` column to an already-distinct DF
    with ZERO extra shuffle (per-partition mono ids + a broadcast of
    per-partition offsets — the zipWithIndex pattern, all JVM-side).
    ``sort_col`` pins a deterministic in-partition order so the
    assignment is identical across runs and partition recomputes.
    Returns (indexed_df, n_rows) — the row count falls out of the
    offsets pass for free."""
    base = (
        df.sortWithinPartitions(sort_col)
        .withColumn("_mono", F.monotonically_increasing_id())
        .persist()
    )
    mono_pid = F.shiftrightunsigned(F.col("_mono"), 33).cast("int")
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in base.select(mono_pid.alias("_pid"))
        .groupBy("_pid")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = base.sparkSession.createDataFrame(
        offsets or [(0, 0)], "_pid int, _off bigint"
    )
    local_seq = F.col("_mono").bitwiseAND(F.lit((1 << 33) - 1))
    out = (
        base.withColumn("_pid", mono_pid)
        .join(F.broadcast(off_df), "_pid")
        .select(*df.columns, (F.col("_off") + local_seq).alias("_idx"))
    )
    return out, acc


def bfs_encoded_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    md5_bytes: int | None = 8,
    keep_root: bool = True,
    seed_entities: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encoded BFS corpus: walks as ``array<bigint>`` token
    ids plus a (tid, token) vocabulary table — the at-scale storage
    layout. Ids are DENSE (0..|vocab|, via :func:`dense_token_ids`), so
    a depth-2 walk stores 5 × ~log2(|vocab|) bits after parquet+zstd
    instead of 5 × ~30-40-byte md5-repr strings — the walk-write stage
    is bandwidth-bound on one box (BENCH/BASELINE.md), and low-entropy
    ids are what the encoder can actually crush. Frontier JOIN keys stay
    xxhash64 of the vertex name (8-byte shuffles, no name strings;
    collision odds ~|V|²/2⁶⁵ as in pagerank).

    Returns (walks, vocab) with walks = (root, walk): ``root`` is the
    vocab id of the seed entity's VERBATIM name (so the corpus is pure
    integers — no strings ride the frontier shuffles or the write; join
    vocab on root to recover the entity name), ``walk`` the id array.
    Feed ids straight to Word2Vec as strings, or join through the vocab
    to recover the md5-repr corpus.

    Id layout (disjoint spaces off ONE per-KG indexed name table —
    no union+distinct over 2|V| rows, no vocab→name re-join; the old
    shape cost a measured ~3 s of fixed prep per run at 4M names):
    ``j`` = md5 token of name j; ``|V|+j`` = verbatim name j (seed
    roots / seed-overlay hops); ``2|V|+p`` = predicate p; ``2|V|+|P|+t``
    = non-vertex seed names. Predicates get their block BEFORE the
    seed extras so every edge-table id is seed-independent — that is
    what lets the tokenized integer edge table cache per KG. Ids are
    near-dense (verbatim slots exist only for seeds), so the parquet
    dictionary still sees ≤ 2|V|+|P|+|seeds| distinct values. One
    edge-case divergence vs the string-keyed vocab: a predicate URI
    that also occurs as a seed entity name gets two ids (one per role)
    — decoded corpora are identical either way.

    Caching: the predicate id table and the tokenized integer edge
    table are cached per KG per md5 width by :func:`_kg_cached` — with
    ``seed_entities`` the edge table is the one live seeded overlay,
    keyed by a fingerprint of the seed set (see there).

    Lifetime: one seeded overlay lives per KG and key. A call with a
    different seed set evicts (unpersists) the overlay that an earlier
    result was built from; evaluating that still-lazy earlier result
    afterwards silently rebuilds the |E|-row tokenized edge table
    (correct output, surprise cost). Materialize a seeded result
    (persist + count, or write it) before a call with other seeds if
    both are needed.
    """
    idx, n_v = indexed_name_table(kg, md5_bytes)
    e = kg.edges
    preds = e.select(F.col("pred").alias("token")).distinct()
    seed_set = _seeds(entities).persist()
    # hop-position ids: md5 id j, or the verbatim id |V|+j for names in
    # the seed overlay (random.py:155-163 rule)
    overlay_vocab = None
    if seed_entities is not None:
        ov = _seeds(seed_entities).select(
            F.col("entity").alias("name"), F.lit(True).alias("is_seed")
        )
        ovj = idx.join(ov, "name", "left")
        hop_map = ovj.select(
            "name",
            F.when(
                F.coalesce("is_seed", F.lit(False)), F.col("j") + n_v
            ).otherwise(F.col("j")).alias("hop_tid"),
        )
        overlay_vocab = ovj.where(F.col("is_seed")).select(
            (F.col("j") + n_v).alias("tid"), F.col("name").alias("token")
        )
    else:
        hop_map = idx.select("name", F.col("j").alias("hop_tid"))
    # seed names enter the vocab verbatim: keep_root roots use them
    # directly, and keep_root=False roots fall back to them for seeds
    # that aren't KG vertices; non-vertex seeds share the small "tail"
    # id space with the predicates (one tiny dense-id pass for both)
    seeds_j = seed_set.join(
        idx.select(F.col("name").alias("entity"), "j"), "entity", "left"
    )
    extras = seeds_j.where(F.col("j").isNull()).select(
        F.col("entity").alias("token")
    )
    # predicate ids are assigned over the predicates ALONE (offset
    # 2|V|), then non-vertex seed extras get the next block (offset
    # 2|V|+|P|): interleaving both in one dense-id pass (the old
    # layout) made every predicate id depend on the SEED SET, which
    # forbade caching the tokenized edge table across calls.
    # The predicate id table is CACHED (persisted) per KG alongside the
    # edge table it is baked into: recomputing it per call via
    # _zip_dense_index only renumbers identically while the distinct
    # shuffle's partitioning is unchanged — a mid-session
    # shuffle-partition change would otherwise silently pair a cached
    # edge table with a differently-numbered vocab. The cache hit also
    # skips the dense-index pass's driver collect.
    def build_pred_ids() -> tuple[DataFrame, int]:
        pred_raw, n_p = _zip_dense_index(preds, "token")
        pred_tab = pred_raw.select(
            "token", (F.col("_idx") + F.lit(2 * n_v)).alias("tid")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        return pred_tab, n_p

    pred_tab, n_p = _kg_cached(kg, ("pred_ids", md5_bytes), build_pred_ids)
    extras_tab, _ = _zip_dense_index(extras.distinct(), "token")
    extras_tab = extras_tab.select(
        "token", (F.col("_idx") + F.lit(2 * n_v + n_p)).alias("tid")
    )
    tail = pred_tab.unionByName(extras_tab)
    pred_tid = F.broadcast(
        pred_tab.select(
            F.col("token").alias("pred"), F.col("tid").alias("pred_tid")
        )
    )
    # the tokenized integer edge table is KG-pure when no seed overlay
    # rides the hop side, so repeated encoded-walk jobs skip the
    # |E|-row join + repartition and stop accumulating one persisted
    # |E|-row table per call
    def build_edges() -> DataFrame:
        return _prepartition_edge_table(
            kg,
            e.join(hop_map.withColumnRenamed("name", "dst"), "dst")
            .join(pred_tid, "pred")
            .select(
                F.xxhash64("src").alias("src_id"),
                F.xxhash64("dst").alias("dst_id"),
                "hop_tid",
                "pred_tid",
            ),
            "src_id",
        ).persist()

    if seed_entities is None:
        built = _kg_cached(kg, ("edges_ids", md5_bytes), build_edges)
    else:
        built = _kg_cached(
            kg, ("edges_ids_seeded", md5_bytes), build_edges,
            _seed_fingerprint(seed_entities),
        )
    edges_tok = _edge_side(kg, built)
    seeds = seeds_j.join(
        tail.select(F.col("token").alias("entity"),
                    F.col("tid").alias("_tail_tid")),
        "entity",
        "left",
    )
    verb_tid = F.when(F.col("j").isNotNull(), F.col("j") + n_v).otherwise(
        F.col("_tail_tid")
    )
    if keep_root:
        root_tid = verb_tid
    else:
        root_tid = F.coalesce(F.col("j"), F.col("_tail_tid"))
    walks = seeds.select(
        verb_tid.alias("root"),
        F.xxhash64("entity").alias("cur"),
        F.array(root_tid).alias("walk"),
    )
    # fused dead/live loop — see bfs_walks
    for depth in range(max_depth):
        joined = walks.join(
            edges_tok, walks["cur"] == edges_tok["src_id"], "left"
        )
        walks = joined.select(
            "root",
            F.coalesce(F.col("dst_id"), F.col("cur")).alias("cur"),
            F.when(F.col("pred_tid").isNull(), F.col("walk"))
            .otherwise(
                F.concat(
                    F.col("walk"),
                    F.array(F.col("pred_tid"), F.col("hop_tid")),
                )
            )
            .alias("walk"),
        )
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    out = walks.select("root", "walk")
    seed_vocab = seeds_j.where(F.col("j").isNotNull()).select(
        (F.col("j") + n_v).alias("tid"), F.col("entity").alias("token")
    )
    if overlay_vocab is not None:
        seed_vocab = seed_vocab.unionByName(overlay_vocab).dropDuplicates(
            ["tid"]
        )
    vocab = (
        idx.select(F.col("j").alias("tid"), F.col("mtoken").alias("token"))
        .unionByName(seed_vocab)
        .unionByName(tail.select("tid", "token"))
    )
    return out, vocab


def dfs_canonical_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    max_walks: int,
    md5_bytes: int | None = 8,
    sampler: str = "uniform",
    inverse: bool = False,
    split: bool = False,
    alpha: float = 0.85,
    seed: int = 42,
    with_reverse: bool = False,
    seed_entities: DataFrame | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Fused sampled-DFS + md5 canonicalization — the sampled twin of
    :func:`bfs_canonical_walks`. Tokens are joined onto the edge-weight
    table once (O(|E|)); no entity names ever reach the driver (the
    canonicalize-after pattern collected the full seed set into an
    IN-list — an OOM at millions of seeds). Sampling hashes stay on raw
    names, so draws are bit-identical to sampled_walks without tokens.

    Output ≡ canonicalize_walks(sampled_walks(...), seed_names)
    with the same seed rule (differentially tested); DFS output carries
    genuine duplicates by design (random.py:103-117), so the final
    dropDuplicates stays.

    Caching: with ``md5_bytes`` set, the tokenized edge-weight table
    of each direction and sampler config is a seeded overlay of
    :func:`_kg_cached`, keyed by the md5 width and a fingerprint of the
    seed set (``seed_entities``, else ``entities``).

    Lifetime: one seeded overlay lives per KG and key. A call with a
    different seed set evicts (unpersists) the overlay that an earlier
    result was built from; evaluating that still-lazy earlier result
    afterwards silently rebuilds the |E|-row tokenized edge table
    (correct output, surprise cost). Materialize a seeded result
    (persist + count, or write it) before a call with other seeds if
    both are needed.
    """
    toks = fpr = None
    if md5_bytes is not None:
        seed_src = seed_entities if seed_entities is not None else entities
        toks = vertex_tokens(kg, seed_src, md5_bytes)
        # one fingerprint job keys the tokenized edge-table overlay for
        # BOTH directions (and repeat same-seed calls reuse the cache)
        fpr = (md5_bytes,) + _seed_fingerprint(seed_src)
    fwd = sampled_walks(
        kg, entities, max_depth, max_walks, sampler, inverse, split,
        alpha, seed, portable_hash=portable_hash, tokens=toks,
        tokens_fpr=fpr,
    )
    if with_reverse:
        rev = sampled_walks(
            kg, entities, max_depth, max_walks, sampler, inverse, split,
            alpha, seed + 1, is_reverse=True, portable_hash=portable_hash,
            tokens=toks, tokens_fpr=fpr,
        )
        fwd = combine_with_reverse(fwd, rev)
    return fwd.dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W7 — AnonymousWalker (pyrdf2vec/walkers/anonymous.py:38-60)
# ---------------------------------------------------------------------------
def anonymous_walks(walks: DataFrame) -> DataFrame:
    """Replace every vertex whose name differs from the root by the
    0-based index of the first occurrence of its name in the walk —
    pure Catalyst higher-order functions, no UDF."""
    return walks.select(
        "entity",
        F.expr(
            "transform(walk, v -> CASE WHEN v = entity THEN v "
            "ELSE cast(array_position(walk, v) - 1 as string) END)"
        ).alias("walk"),
    ).dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W8 — WalkletWalker (pyrdf2vec/walkers/walklet.py:38-59)
# ---------------------------------------------------------------------------
def walklet_walks(walks: DataFrame, with_reverse: bool = False) -> DataFrame:
    """Explode each walk into length-2 (root, v_i) walklets (reversed pairs
    under with_reverse); length-1 walks survive as (root,)."""
    singles = walks.where(F.size("walk") == 1).select(
        "entity", F.array(F.col("entity")).alias("walk")
    )
    pair = (
        F.array(F.col("v"), F.col("entity"))
        if with_reverse
        else F.array(F.col("entity"), F.col("v"))
    )
    pairs = (
        walks.where(F.size("walk") > 1)
        .select(
            "entity",
            F.explode(F.expr("slice(walk, 2, size(walk) - 1)")).alias("v"),
        )
        .select("entity", pair.alias("walk"))
    )
    return singles.unionByName(pairs).dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W9 — NGramWalker (pyrdf2vec/walkers/ngram.py:60-114)
# ---------------------------------------------------------------------------
def ngram_walks(
    walks: DataFrame,
    grams: int = 3,
    wildcards: list[int] | None = None,
) -> DataFrame:
    """Relabel even positions ≥ grams by a global id of the trailing
    n-gram. The reference assigns ids by first-encounter order from a
    shared dict (_n_gram_map) — ids are opaque; we assign them by
    dense_rank over the distinct n-gram keys (deterministic, same
    one-to-many structure; documented divergence in id *values*).

    Wildcard variants (ngram.py:101-113): for each wildcard w, every
    combination of w positions (excluding root) is replaced by '*' and
    the variant re-relabeled. Combinations are enumerated per walk
    length on the driver (walk length ≤ 2·depth+1, tiny) and joined in.
    """
    work = walks.select("entity", "walk")
    if wildcards:
        lengths = [r[0] for r in walks.select(F.size("walk")).distinct().collect()]
        combo_rows = []
        for L in lengths:
            for w in wildcards:
                for idx in itertools.combinations(range(1, L), w):
                    combo_rows.append((L, list(idx)))
        if combo_rows:
            spark = walks.sparkSession
            combos = spark.createDataFrame(
                combo_rows, "walk_len int, wild_idx array<int>"
            )
            variants = (
                walks.join(combos, F.size("walk") == F.col("walk_len"))
                .select(
                    "entity",
                    F.expr(
                        "transform(walk, (v, i) -> CASE WHEN "
                        "array_contains(wild_idx, i) THEN '*' ELSE v END)"
                    ).alias("walk"),
                )
            )
            work = work.unionByName(variants)

    # pin the walk ids: monotonically_increasing_id depends on the
    # physical partition layout, so both sides of the wid self-join
    # below must read one materialized assignment, not recompute it
    with_id = work.withColumn(
        "wid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    pos = with_id.select(
        "entity", "wid", "walk", F.posexplode("walk").alias("i", "v")
    )
    relabel = pos.where(
        (F.col("i") % 2 == 0) & (F.col("i") >= grams) & (F.col("i") > 0)
    ).withColumn(
        "ngram_key",
        F.expr(
            f"array_join(slice(walk, greatest(1, i - {grams - 1} + 1), "
            f"i + 1 - greatest(1, i - {grams - 1} + 1) + 1), char(1))"
        ),
    )
    # gram ids are lexicographic ranks of the distinct ngram keys —
    # computed as a RANGE-partitioned sort + per-partition offsets
    # (the zipWithIndex pattern) instead of dense_rank over an
    # unpartitioned Window, which would drag the whole corpus-sized
    # key vocabulary onto ONE partition at scale. Range partition ids
    # ascend with the sort order, so cumulative offsets reproduce the
    # global lexicographic rank exactly (oracle-hash-identical).
    distinct_keys = relabel.select("ngram_key").distinct().orderBy("ngram_key")
    indexed, _ = _zip_dense_index(distinct_keys, "ngram_key")
    ids = indexed.select(
        "ngram_key", F.col("_idx").cast("string").alias("gram_id")
    )
    relabeled = relabel.join(ids, "ngram_key").select(
        "wid", "i", F.col("gram_id").alias("v_new")
    )
    rebuilt = (
        pos.join(relabeled, ["wid", "i"], "left")
        .select(
            "entity",
            "wid",
            "i",
            F.coalesce("v_new", "v").alias("tok"),
        )
        .groupBy("entity", "wid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("tok")))
            ).alias("toks")
        )
        .select(
            "entity", F.expr("transform(toks, t -> t.tok)").alias("walk")
        )
    )
    return rebuilt.dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W10 — HALKWalker (pyrdf2vec/walkers/halk.py:59-176)
# ---------------------------------------------------------------------------
def halk_walks(
    walks: DataFrame,
    freq_thresholds: list[float] | None = None,
    with_reverse: bool = False,
) -> DataFrame:
    """Corpus-global rare-predicate filtering.

    Phase 1 (build_dictionary + get_rare_predicates, halk.py:59-101):
    support(pred) = #distinct walks containing it; rare if
    support/|walks| < threshold. Phase 2 (_post_extract 118-176): per
    walk keep a prefix + non-rare (pred, obj) pairs; drop results
    shorter than 3; entities whose every walk vanished fall back to a
    bare single-token walk. One output copy per threshold.

    Reconstruction replicates the reference's index arithmetic EXACTLY,
    quirks included (halk.py:157-166): the k-th predicate (0-based,
    position 2k+1) is enumerated with i = k+2 and pairs with
      non-reverse: obj = walk[i] if i even else walk[i+1]
        — correct pairing for walks of length ≤ 5; for longer walks
        (depth ≥ 3) this pairs deep predicates with EARLIER entities,
        and we reproduce that faithfully (the reference is the spec);
      with_reverse: obj = walk[i + j], j = count of previously KEPT
        predicates — a skipped rare predicate shifts every later obj
        index, likewise reproduced exactly.
    Prefix and fallback token: non-reverse uses the root (walk[0]);
    with_reverse prefixes walk[0] but falls back to the walk's CENTER
    vertex (halk.py:147-151 reads entity_walks[0]'s center; here the
    per-walk center — identical for full-length combined walks, the
    documented divergence for asymmetric dead-end walks).

    Spark shape: explode → distinct → groupBy count (the reference's only
    corpus-wide aggregation), broadcast-joined back; reconstruction is
    pure array functions — no shuffle beyond the count.
    """
    thresholds = freq_thresholds if freq_thresholds is not None else [0.01]
    # pinned wid (see ngram_walks) + single materialization for the
    # corpus-global support count and every per-threshold pass
    w = walks.withColumn(
        "wid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    total = w.count()
    support = (
        w.select(
            "wid",
            F.explode(
                F.expr("filter(transform(walk, (v, i) -> CASE WHEN i % 2 = 1 "
                       "THEN v END), v -> v is not null)")
            ).alias("pred"),
        )
        .distinct()
        .groupBy("pred")
        .agg(F.count("*").alias("support"))
    )
    not_rare = (
        "NOT coalesce(array_contains(rare_set, walk[2 * k + 1]), false)"
    )
    if with_reverse:
        # running-j reconstruction via an aggregate with struct state
        pairs_expr = (
            "IF(size(walk) < 3, array(), "
            "aggregate(sequence(0, (size(walk) - 3) DIV 2), "
            "named_struct('acc', cast(array() as array<string>), 'j', 0), "
            f"(s, k) -> CASE WHEN {not_rare} "
            "THEN named_struct('acc', concat(s.acc, array(walk[2 * k + 1], "
            "walk[k + 2 + s.j])), 'j', s.j + 1) ELSE s END, "
            "s -> s.acc))"
        )
        prefix = F.expr("array(walk[0])")
        fb_token = F.expr("walk[CAST(size(walk) / 2 AS INT)]")
    else:
        pairs_expr = (
            "IF(size(walk) < 3, array(), "
            "flatten(filter(transform(sequence(0, (size(walk) - 3) DIV 2), "
            f"k -> CASE WHEN {not_rare} "
            "THEN array(walk[2 * k + 1], "
            "IF((k + 2) % 2 = 0, walk[k + 2], walk[k + 3])) END), "
            "x -> x is not null)))"
        )
        prefix = F.array(F.col("entity"))
        fb_token = F.col("entity")
    outs = []
    for t in thresholds:
        rare = support.where(F.col("support") / F.lit(total) < F.lit(t)).select(
            F.collect_set("pred").alias("rare_set")
        )
        filtered = w.crossJoin(F.broadcast(rare)).select(
            "entity",
            F.concat(prefix, F.expr(pairs_expr)).alias("walk"),
            fb_token.alias("fb_token"),
        )
        kept = filtered.where(F.size("walk") >= 3)
        # entities with no surviving walk → single-token fallback walk
        fallback = (
            filtered.select("entity", "fb_token")
            .join(kept.select("entity").distinct(), "entity", "left_anti")
            .select("entity", F.array(F.col("fb_token")).alias("walk"))
            .distinct()
        )
        outs.append(kept.select("entity", "walk").unionByName(fallback))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W12 — WLWalker labels (pyrdf2vec/walkers/weisfeiler_lehman.py:69-129)
# ---------------------------------------------------------------------------
def wl_labels(kg: SparkKG, wl_iterations: int, md5_bytes: int | None = 8) -> DataFrame:
    """Weisfeiler-Lehman relabeling over the reference's subj→predOcc→obj
    vertex encoding (SURVEY.md §1.3): predicate OCCURRENCES are nodes too,
    each with parent = its subject, and each object's parents are its
    in-edge occurrences.

    label₀ = name; labelₙ = repr8(md5(labelₙ₋₁ ‖ '-' ‖ '-'.join(sorted
    set of parents' labelₙ₋₁))) — a Pregel-style groupBy/agg loop.
    Returns (name, n, label) for ENTITY vertices only, n ∈ [0, wl_iterations]
    (only entity labels are substituted into walks, _map_wl 155-172).
    """
    e = kg.edges
    # node keys are xxhash64 bigints, not concat strings: every Pregel
    # round shuffles the parents table on these keys, and 8-byte ints
    # beat ~60-100-byte composite strings through |E|·iterations rounds
    # of exchange (label VALUES are untouched — md5-repr strings as the
    # reference computes them). Key spaces are salted apart ('e:'/'o:')
    # so entity and occurrence nodes cannot collide.
    ent_key = lambda c: F.xxhash64(F.lit("e:"), F.col(c))  # noqa: E731
    occ_key = F.xxhash64(F.lit("o:"), "src", "pred", "dst")
    occ = e.select(
        occ_key.alias("node"),
        F.col("pred").alias("name"),
        ent_key("src").alias("subj"),
        ent_key("dst").alias("obj"),
    ).persist()
    ent_nodes = kg.entity_names().select(
        ent_key("name").alias("node"), F.col("name")
    )
    # parent edges: (child node, parent node)
    parents = occ.select(
        F.col("node").alias("child"), F.col("subj").alias("parent")
    ).unionByName(
        occ.select(F.col("obj").alias("child"), F.col("node").alias("parent"))
    ).persist()

    nodes = ent_nodes.unionByName(occ.select("node", "name")).persist()
    labels = nodes.select("node", F.col("name").alias("label")).persist()
    relabel = (
        F.col("raw_label")
        if md5_bytes is None
        else F.expr(_md5_repr_sql("raw_label", md5_bytes))
    )
    out = [
        ent_nodes.join(labels, "node")  # entity nodes only
        .select("name", F.lit(0).alias("n"), "label")
    ]
    for n in range(1, wl_iterations + 1):
        suffix = (
            parents.join(
                labels.withColumnRenamed("node", "parent").withColumnRenamed(
                    "label", "plabel"
                ),
                "parent",
            )
            .groupBy("child")
            .agg(
                F.array_join(
                    F.array_sort(F.collect_set("plabel")), "-"
                ).alias("suffix")
            )
        )
        raw = labels.join(
            suffix.withColumnRenamed("child", "node"), "node", "left"
        ).select(
            "node",
            F.concat_ws(
                "-", F.col("label"), F.coalesce(F.col("suffix"), F.lit(""))
            ).alias("raw_label"),
        )
        new_labels = raw.select(
            "node", relabel.alias("label")
        ).localCheckpoint(eager=False)
        labels.unpersist()
        labels = new_labels.persist()
        out.append(
            labels.join(ent_nodes, "node").select(
                "name", F.lit(n).alias("n"), "label"
            )
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    res = res.persist()
    res.count()
    labels.unpersist()
    parents.unpersist()
    occ.unpersist()
    nodes.unpersist()
    return res


def wl_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    max_walks: int | None = None,
    wl_iterations: int = 4,
    md5_bytes: int | None = 8,
    with_reverse: bool = False,
    sampler: str = "uniform",
    seed: int = 42,
) -> DataFrame:
    """WLWalker._extract (weisfeiler_lehman.py:174-193): for each
    n ∈ [0, wl_iterations], emit every walk with even-position non-seed
    vertices replaced by labelₙ. Substitution = explode walk positions,
    join the label table, reassemble ordered — one shuffle per corpus,
    amortized across all n via a single join on (name, n)."""
    raw = extract_walks(
        kg, entities, max_depth, max_walks,
        with_reverse=with_reverse, sampler=sampler, seed=seed,
    )
    labels = wl_labels(kg, wl_iterations, md5_bytes)
    seeds = _seeds(entities)
    iters = entities.sparkSession.range(wl_iterations + 1).select(
        F.col("id").cast("int").alias("n")
    )
    # pinned for the same reason as in ngram_walks: wid must be stable
    # across the posexplode/label-join/reassemble self-referencing plan
    with_id = raw.withColumn(
        "wid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    pos = with_id.crossJoin(iters).select(
        "entity", "wid", "n", F.posexplode("walk").alias("i", "v")
    )
    is_sub = (F.col("i") % 2 == 0) & (~F.col("is_seed"))
    pos = pos.join(
        seeds.select(F.col("entity").alias("v"), F.lit(True).alias("is_seed")),
        "v",
        "left",
    ).withColumn("is_seed", F.coalesce("is_seed", F.lit(False)))
    subbed = (
        pos.join(
            labels.withColumnRenamed("name", "v"),
            ["v", "n"],
            "left",
        )
        .select(
            "entity",
            "wid",
            "n",
            "i",
            F.when(is_sub & F.col("label").isNotNull(), F.col("label"))
            .otherwise(F.col("v"))
            .alias("tok"),
        )
        .groupBy("entity", "wid", "n")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("tok")))
            ).alias("toks")
        )
        .select("entity", F.expr("transform(toks, t -> t.tok)").alias("walk"))
    )
    return subbed.dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W13 — CommunityWalker (pyrdf2vec/walkers/community.py:99-250)
# ---------------------------------------------------------------------------
def community_labels(kg: SparkKG, iterations: int = 5) -> DataFrame:
    """Community assignment over the undirected entity graph via label
    propagation — the fast DataFrame-native stand-in for the reference's
    Louvain `community.best_partition` (community.py:110-128).
    Semantic (not exact) match: the reference's own output is
    nondeterministic (module-level np.random monkeypatching,
    community.py:17-33); tests assert community-structure invariants.
    LPA floods on noisy graphs (measured: modularity 0 where Louvain
    finds 0.3-0.5 when inter-community edges are dense) — when fidelity
    to the reference's partition quality matters, use
    :func:`louvain_labels`.

    Returns (name, community). Deterministic: ties broken by smallest
    label; each round is groupBy(node, label) → max_by(count, label).
    """
    # node keys are xxhash64 ints (8 bytes through every LPA shuffle
    # round); community labels stay NAME strings because the
    # deterministic tie-break is lexicographic on names
    nid = lambda c: F.xxhash64(F.col(c))  # noqa: E731
    und = (
        kg.edges.select(nid("src").alias("a"), nid("dst").alias("b"))
        .union(kg.edges.select(nid("dst").alias("a"), nid("src").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    id_map = kg.entity_names().select(
        nid("name").alias("id"), "name"
    ).persist()
    # hard checkpoints: the per-round plan references `labels` 3x
    # (neighbor join, self-vote union, update join) — a plain
    # localCheckpoint compounds the carried size estimate ~2x/round
    # (see hard_local_checkpoint's docstring); harmless at the default
    # 5 iterations, a driver-wedge by ~20
    labels = hard_local_checkpoint(
        id_map.select("id", F.col("name").alias("community"))
    )
    for _ in range(iterations):
        neigh = und.join(
            labels.withColumnRenamed("id", "b"), "b"
        ).select(F.col("a").alias("id"), "community")
        # self-vote damps the 2-cycle oscillation classic LPA suffers
        counts = neigh.unionByName(labels).groupBy("id", "community").agg(
            F.count("*").alias("cnt")
        )
        # most frequent label; ties → lexicographically smallest label
        picked = counts.groupBy("id").agg(
            F.min_by(
                "community",
                F.struct((-F.col("cnt")).alias("nc"), F.col("community")),
            ).alias("new_community")
        )
        labels = hard_local_checkpoint(
            labels.join(picked, "id", "left").select(
                "id",
                F.coalesce("new_community", "community").alias("community"),
            )
        )
    out = id_map.join(labels, "id").select("name", "community")
    und.unpersist()
    id_map.unpersist()
    return out


def louvain_labels(
    kg: SparkKG, sweeps: int = 8, max_levels: int = 4, dampen: bool = False,
) -> DataFrame:
    """Distributed Louvain over the undirected entity graph — the
    fidelity-first alternative to :func:`community_labels` for the
    reference's `community.best_partition` (community.py:110-128).

    Standard multi-level structure, re-expressed as DataFrame rounds:

    - **Local-move phase** from SINGLETON init: each half-sweep, nodes
      of one id-parity class evaluate moving to the neighboring
      community with the best modularity gain. Restricting each
      half-sweep to one parity class breaks the two-node swap
      oscillation synchronous local moves are known for (the same
      device as distributed-Louvain / Gemini-style implementations);
      sweeps stop early once both parity classes pass without a move
      (the moved-count probe is a scan over the just-checkpointed
      label partitions — no shuffle, no recompute);
      singleton init is what lets communities SPLIT-free grow —
      seeding from LPA cannot split a flooded partition because a
      lone defector never beats its own community's pull.
    - **Gain** is exact integer arithmetic, scaled by 2m:
      ``2m·k_{i,c} − k_i·Σ_tot(c∖i)`` — no float ties, fully
      deterministic (tie-break: stay, then smallest community id).
      Longs hold 2m·k_{i,c} up to ~3·10^9 edges × hub degree 10^9;
      a per-level runtime guard (2·m2·max_k vs 2^62) auto-switches
      the score expression to decimal(38,0) beyond that — silent
      wraparound cannot occur.
    - **Aggregation** between levels: communities collapse to
      super-nodes; intra-community weight becomes a self-loop stored
      at its directed (2×) weight so ``k = Σ w`` stays uniform.
      Levels repeat until no merge happens or ``max_levels``.

    Every round is a key-partitioned join/agg (8-byte int keys); the
    per-level graph shrinks geometrically, so the 100-TB cost profile
    is the first level's ~4 shuffles × sweeps. Returns
    (name, community:bigint — a representative node id).

    Measured vs a pure-Python Louvain oracle
    (tests/test_community_quality.py): ≥ 0.9× modularity on noisy
    planted-partition graphs where LPA floods to modularity 0.

    ``dampen=True`` (OFF by default — it can change label assignments,
    so the stored exact-label regression fixture pins the default
    path) arms a chase-cycle dampener: when the same parity class
    repeats the same nonzero move count — the lockstep-cycle signature
    parity gating alone can't break — subsequent half-sweeps freeze a
    per-sweep-varying deterministic quarter of the movers. Trigger-
    gated so cleanly-converging levels are untouched (always-on
    freezing measured slightly worse on one noisy grid); measured ≥
    the undampened modularity on the noisy planted grids.
    """
    nid = lambda c: F.xxhash64(F.col(c))  # noqa: E731
    edges = (
        kg.edges.select(nid("src").alias("a"), nid("dst").alias("b"))
        .union(kg.edges.select(nid("dst").alias("a"), nid("src").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("w", F.lit(1).cast("long"))
    )
    # every loop-state barrier below is a hard_local_checkpoint: the
    # sweep plan references the previous labels checkpoint 5x, so a
    # plain localCheckpoint compounds the carried sizeInBytes estimate
    # geometrically (bit-length 2.07x/sweep measured) until optimizer
    # BigInt arithmetic wedges the driver — see session.py docstring
    edges = hard_local_checkpoint(edges)
    id_map = kg.entity_names().select(nid("name").alias("id"), "name")
    mapping = None  # orig id -> current top-level community
    for _level in range(max_levels):
        n_nodes = edges.select("a").distinct().count()
        m2 = edges.agg(F.sum("w")).first()[0] or 1
        deg = hard_local_checkpoint(
            edges.groupBy("a")
            .agg(F.sum("w").alias("k"))
            .withColumnRenamed("a", "id")
        )
        # overflow guard: the long-typed score 2m·k_{i,c} − k_i·Σ is
        # bounded by m2·max_k per term; when two such terms could
        # approach 2^63 the score silently wraps (WRONG partitions, no
        # error) — auto-switch the expression to decimal(38,0), which
        # holds m2·max_k up to ~10^38 exactly
        max_k = deg.agg(F.max("k")).first()[0] or 1
        score_type = (
            "decimal(38,0)"
            if 2 * int(m2) * int(max_k) >= 2**62
            else "long"
        )
        labels = hard_local_checkpoint(
            deg.select("id", F.col("id").alias("community"))
        )
        link = edges.where(F.col("a") != F.col("b"))  # self-loops ≠ links
        settled = 0  # consecutive zero-move half-sweeps (one per parity)
        damp_on = False  # dampener engages only on a cycle signature
        last_moved: dict[int, int] = {}  # parity -> previous moved count
        for sweep in range(sweeps):
            lab_b = labels.withColumnRenamed("id", "b").withColumnRenamed(
                "community", "_cb"
            )
            # k_{i,c}: weight from i into each neighboring community
            kic = (
                link.join(lab_b, "b")
                .groupBy(F.col("a").alias("id"), F.col("_cb").alias("community"))
                .agg(F.sum("w").alias("kic"))
            )
            sigma = (
                labels.join(deg, "id")
                .groupBy("community")
                .agg(F.sum("k").alias("sigma"))
            )
            cur = labels.withColumnRenamed("community", "cur")
            # a 0-weight stay row guarantees the current community is
            # always a candidate (max(kic) keeps the real weight when
            # a same-community neighbor exists)
            cand = (
                kic.unionByName(
                    labels.select(
                        "id", "community", F.lit(0).cast("long").alias("kic")
                    )
                )
                .groupBy("id", "community")
                .agg(F.max("kic").alias("kic"))
            )
            scored = (
                cand.join(cur, "id")
                .join(sigma, "community")
                .join(deg, "id")
                .withColumn(
                    "_sig_wo_i",
                    F.col("sigma")
                    - F.when(
                        F.col("community") == F.col("cur"), F.col("k")
                    ).otherwise(F.lit(0)),
                )
                .withColumn(
                    "_score2",
                    F.lit(int(m2)).cast(score_type)
                    * F.col("kic").cast(score_type)
                    - F.col("k").cast(score_type)
                    * F.col("_sig_wo_i").cast(score_type),
                )
            )
            picked = scored.groupBy("id").agg(
                F.min_by(
                    "community",
                    F.struct(
                        (-F.col("_score2")).alias("ns"),
                        F.when(F.col("community") == F.col("cur"), F.lit(0))
                        .otherwise(F.lit(1))
                        .alias("keep"),
                        F.col("community"),
                    ),
                ).alias("new_community")
            )
            # parity gate: only one id-parity class moves per half-sweep
            eligible = F.pmod(F.col("id"), F.lit(2)) == F.lit(sweep % 2)
            if dampen and damp_on:
                # chase-cycle dampener (OFF by default — engaging it
                # can change label assignments, which would invalidate
                # the stored exact-label fixture): once a cycle
                # signature is detected (below), freeze a deterministic
                # pseudo-random quarter of each half-sweep's movers,
                # re-drawn per sweep from hash(id, sweep). Rings of
                # communities chasing each other (the bounded
                # deep-level 14/4 move oscillation the sweep budget
                # otherwise absorbs) need every member to move in
                # lockstep; a per-sweep-varying freeze breaks the
                # lockstep while still letting every genuine move land
                # within a few sweeps. Trigger-gated on purpose:
                # always-on freezing measured slightly WORSE modularity
                # on the (4,12,0.6,0.20) noisy grid (0.2711 vs 0.2743)
                # while cleanly-converging levels never need it.
                eligible = eligible & (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(sweep)), F.lit(4))
                    != F.lit(0)
                )
            stepped = hard_local_checkpoint(
                labels.join(picked, "id", "left").select(
                    "id",
                    F.when(
                        eligible & F.col("new_community").isNotNull(),
                        F.col("new_community"),
                    )
                    .otherwise(F.col("community"))
                    .alias("community"),
                    (
                        eligible
                        & F.col("new_community").isNotNull()
                        & (F.col("new_community") != F.col("community"))
                    ).alias("_moved"),
                )
            )
            # convergence exit: once BOTH parity classes pass without a
            # move, further sweeps are no-ops — the moved count is a
            # scan over the just-checkpointed partitions (no shuffle),
            # and it is what keeps the sweep budget from being paid in
            # full on already-converged levels
            moved = stepped.where("_moved").count()
            labels = stepped.select("id", "community")
            if moved == 0:
                settled += 1
                # under an ENGAGED dampener a zero-move half-sweep can
                # mean "movers were frozen", not "converged" — demand
                # one extra quiet half-sweep before exiting
                if settled >= (3 if damp_on else 2):
                    break
            else:
                settled = 0
            if dampen and not damp_on:
                # cycle signature: the same parity class moved the same
                # nonzero count twice running — the lockstep chase that
                # parity gating alone can't break
                par = sweep % 2
                if moved > 0 and last_moved.get(par) == moved:
                    damp_on = True
                last_moved[par] = moved
        n_comms = labels.select("community").distinct().count()
        mapping = hard_local_checkpoint(
            labels
            if mapping is None
            else mapping.join(
                labels.withColumnRenamed("id", "_sup").withColumnRenamed(
                    "community", "_next"
                ),
                mapping["community"] == F.col("_sup"),
            ).select("id", F.col("_next").alias("community"))
        )
        if n_comms == n_nodes or _level == max_levels - 1:
            break
        # aggregate: communities become super-nodes; intra-community
        # mass lands on (c, c) at directed weight — k = Σ w stays true
        la = labels.withColumnRenamed("id", "a").withColumnRenamed(
            "community", "_ca"
        )
        lb = labels.withColumnRenamed("id", "b").withColumnRenamed(
            "community", "_cb"
        )
        edges = hard_local_checkpoint(
            edges.join(la, "a")
            .join(lb, "b")
            .groupBy(F.col("_ca").alias("a"), F.col("_cb").alias("b"))
            .agg(F.sum("w").alias("w"))
        )
    out = id_map.join(mapping, "id", "left").select(
        "name", F.coalesce("community", "id").alias("community")
    )
    return out


def _community_partition(
    kg: SparkKG, algorithm: str, lpa_iterations: int
) -> DataFrame:
    """(name, community) via the configured algorithm: ``lpa`` (fast
    deterministic default, oracle-pinned) or ``louvain`` (the
    reference's algorithm — community.py:110-128 — as distributed
    modularity-optimizing sweeps; see :func:`louvain_labels`)."""
    if algorithm == "lpa":
        return community_labels(kg, lpa_iterations)
    if algorithm == "louvain":
        return louvain_labels(kg)
    raise ValueError(
        f"unknown community algorithm {algorithm!r}; use 'lpa' or 'louvain'"
    )


def _community_cached(
    kg: SparkKG, algorithm: str, lpa_iterations: int
) -> DataFrame:
    """Persisted (name, community) table, cached per KG per config —
    the community walkers previously persisted it per call and
    unpersisted it BEFORE the caller ever materialized the returned
    lazy walks (the r6 dead-persist defect, same as the sampled
    walkers' edge table)."""
    return _kg_cached(
        kg,
        ("community", algorithm, int(lpa_iterations)),
        lambda: _community_partition(kg, algorithm, lpa_iterations).persist(),
    )


def community_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    hop_prob: float = 0.1,
    seed: int = 42,
    is_reverse: bool = False,
    lpa_iterations: int = 5,
    algorithm: str = "lpa",
) -> DataFrame:
    """CommunityWalker._bfs (community.py:140-185): exhaustive BFS where
    each (pred, obj) extension ALSO, with probability ``hop_prob``,
    spawns a teleport walk ending in a uniformly-drawn member of obj's
    community — a single appended vertex, intentionally breaking the
    pred/entity alternation exactly as the reference does.

    ``algorithm="louvain"`` swaps the LPA stand-in for the reference's
    own community algorithm (distributed Louvain); the default stays
    LPA for speed and oracle determinism.

    Distribution-equivalent (deterministic hash randomness); exact RNG
    streams are impossible to replicate (SURVEY.md §5.4).
    """
    comm = _community_cached(kg, algorithm, lpa_iterations)
    members = comm.select("community", F.col("name").alias("member"))
    e = _edge_side(kg, kg.edges)
    walks = _seeds(entities).select(
        "entity", F.array(F.col("entity")).alias("walk")
    )
    # fused dead/live loop — see bfs_walks (frozen walks match no edge
    # and never pass the teleport coin's isNotNull guard)
    for depth in range(max_depth):
        if is_reverse:
            key = F.element_at(F.col("walk"), 1)
            joined = walks.join(e, key == e["dst"], "left")
            hop_other = F.col("src")
            extended = F.concat(
                F.array(F.col("src"), F.col("pred")), F.col("walk")
            )
        else:
            key = F.element_at(F.col("walk"), -1)
            joined = walks.join(e, key == e["src"], "left")
            hop_other = F.col("dst")
            extended = F.concat(
                F.col("walk"), F.array(F.col("pred"), F.col("dst"))
            )
        # teleport candidates: hop passes the biased coin
        u = (
            F.pmod(
                F.xxhash64(
                    F.col("walk"), F.lit(depth), hop_other, F.lit(seed)
                ),
                F.lit(10**6),
            ).cast("double")
            / F.lit(10.0**6)
        )
        cands = joined.where(
            F.col("pred").isNotNull() & (u < F.lit(hop_prob))
        ).select("entity", "walk", hop_other.alias("obj"))
        picked = (
            cands.join(comm.withColumnRenamed("name", "obj"), "obj")
            .join(members, "community")
            .groupBy("entity", "walk", "obj")
            .agg(
                F.min_by(
                    "member",
                    F.xxhash64(
                        F.col("walk"), F.col("member"), F.lit(seed + depth)
                    ),
                ).alias("member")
            )
        )
        tele = picked.select(
            "entity",
            (
                F.concat(F.array(F.col("member")), F.col("walk"))
                if is_reverse
                else F.concat(F.col("walk"), F.array(F.col("member")))
            ).alias("walk"),
        )
        # teleport walks re-enter the frontier: the reference adds them
        # to the live walk set, so they are extended (or replaced) in
        # later iterations just like hop extensions (community.py:166-183)
        walks = joined.select(
            "entity",
            F.when(F.col("pred").isNull(), F.col("walk"))
            .otherwise(extended)
            .alias("walk"),
        ).unionByName(tele)
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    return walks.dropDuplicates(["entity", "walk"])


def community_sampled_walks(
    kg: SparkKG,
    entities: DataFrame,
    max_depth: int,
    max_walks: int,
    hop_prob: float = 0.1,
    sampler: str = "uniform",
    seed: int = 42,
    is_reverse: bool = False,
    lpa_iterations: int = 5,
    algorithm: str = "lpa",
    portable_hash: bool = False,
) -> DataFrame:
    """CommunityWalker._dfs (community.py:187-250): sampled walks where
    each drawn hop (pred, obj), with probability ``hop_prob``, REPLACES
    obj by a uniformly-drawn member of obj's community — alternation
    preserved, unlike the BFS variant's appended teleport vertex.

    ``algorithm="louvain"`` swaps the LPA stand-in for the reference's
    own community algorithm (see :func:`community_walks`).

    ``portable_hash=True`` swaps all three deterministic draws (the
    candidate race, the teleport coin, the member pick) from xxhash64
    to the md5 scheme of :func:`_md5_uniform`, so a DuckDB oracle can
    replicate the walk set bit-for-bit; the default stays on xxhash64
    for the hot path.

    Distribution-equivalent (deterministic hash randomness, same
    documented divergence as community_walks); hop draw = the
    exponential-race argmin of sampled_walks; the teleported member
    becomes the walk's active end, so later hops continue from it
    exactly as the reference's sub_walk[-1] does.
    """
    comm = _community_cached(kg, algorithm, lpa_iterations)
    members = comm.select("community", F.col("name").alias("member"))
    set_col, hop_col = ("dst", "src") if is_reverse else ("src", "dst")
    norm = _edge_side(
        kg,
        _norm_edge_table(
            kg, sampler, False, False, 0.85, set_col, hop_col
        ),
    )

    walks = _seeds(entities).crossJoin(
        entities.sparkSession.range(max_walks).select(
            F.col("id").cast("int").alias("walk_id")
        )
    ).select(
        "entity", "walk_id",
        F.col("entity").alias("cur"),
        F.array(F.col("entity")).alias("walk"),
    )
    # fused dead/live loop — same shape (and same equivalence argument)
    # as sampled_walks: dead slots ride frozen instead of branching
    # into a per-depth union, so each per-depth join executes once
    for depth in range(max_depth):
        if is_reverse:
            joined = walks.join(norm, walks["cur"] == norm["dst"], "left")
            other = F.col("src")
        else:
            joined = walks.join(norm, walks["cur"] == norm["src"], "left")
            other = F.col("dst")
        race_key = _race_key(other, depth, seed, portable_hash)
        picked = joined.groupBy("entity", "walk_id").agg(
            F.min_by(
                F.struct(F.col("pred").alias("p"), other.alias("o")),
                F.struct(race_key.alias("k"), F.col("pred"), other),
            ).alias("hop"),
            F.first("walk").alias("walk"),
            F.first("cur").alias("cur"),
        )
        # teleport coin per picked hop (community.py:222-247)
        if portable_hash:
            coin = _md5_uniform(
                F.col("entity"), F.col("walk_id"), F.lit(depth),
                F.lit(seed + 7),
            )
        else:
            coin = (
                F.pmod(
                    F.xxhash64(
                        F.col("entity"), F.col("walk_id"), F.lit(depth),
                        F.lit(seed + 7),
                    ),
                    F.lit(10**6),
                ).cast("double")
                / F.lit(10.0**6)
            )
        # walk_id in the member-draw hash: identical-prefix slots must
        # still draw independent members
        if portable_hash:
            member_key = F.struct(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.array_join(F.col("walk"), "->"),
                        F.col("walk_id"),
                        F.col("member"),
                        F.lit(seed + depth),
                    )
                ).alias("h"),
                F.col("member"),
            )
        else:
            member_key = F.xxhash64(
                F.col("walk"), F.col("walk_id"), F.col("member"),
                F.lit(seed + depth),
            )
        # dead slots (hop.p null) never teleport — they stay in `plain`
        # and ride frozen
        picked = picked.withColumn(
            "tele", (coin < F.lit(hop_prob)) & F.col("hop.p").isNotNull()
        )
        tele = (
            picked.where(F.col("tele"))
            .join(comm.withColumnRenamed("name", "hop_o"),
                  F.col("hop.o") == F.col("hop_o"))
            .join(members, "community")
            .groupBy("entity", "walk_id")
            .agg(
                F.min_by("member", member_key).alias("o2"),
                F.first("hop").alias("hop"),
                F.first("walk").alias("walk"),
                F.first("cur").alias("cur"),
            )
            .select(
                "entity", "walk_id", "walk", "cur",
                F.col("hop.p").alias("p"), F.col("o2").alias("o"),
            )
        )
        plain = picked.where(~F.col("tele")).select(
            "entity", "walk_id", "walk", "cur",
            F.col("hop.p").alias("p"), F.col("hop.o").alias("o"),
        )
        stepped = plain.unionByName(tele)
        if is_reverse:
            nxt = F.concat(F.array(F.col("o"), F.col("p")), F.col("walk"))
        else:
            nxt = F.concat(F.col("walk"), F.array(F.col("p"), F.col("o")))
        walks = stepped.select(
            "entity",
            "walk_id",
            F.coalesce(F.col("o"), F.col("cur")).alias("cur"),
            F.when(F.col("p").isNull(), F.col("walk"))
            .otherwise(nxt)
            .alias("walk"),
        )
        if (depth + 1) % CHECKPOINT_EVERY == 0 and depth + 1 < max_depth:
            walks = walks.localCheckpoint(eager=False)
    return walks.select("entity", "walk").dropDuplicates(["entity", "walk"])


# ---------------------------------------------------------------------------
# W11 — SplitWalker (pyrdf2vec/walkers/split.py:53-125)
# ---------------------------------------------------------------------------
def split_walks(walks: DataFrame, with_reverse: bool = False) -> DataFrame:
    """Tokenizing relabeler: every non-root vertex is split on '#',
    camel-case boundaries, and letter/digit seams; floats collapse to
    str(float(name)); tokens lowercased; order-preserving dedup
    (dict(zip(w, w)) in the reference). Vectorized pandas UDF — pure
    string work, regex identical to split.py basic_split.

    ``with_reverse`` replicates the tmp_vertices interleave branch
    (split.py:84-124): the raw (uncased, unsplit) first vertex name
    brackets the output at BOTH ends, and each (pred, obj) pair emits
    the OBJECT's tokens before the PREDICATE's (tmp_vertices.reverse());
    a trailing unpaired element is dropped, exactly as the reference's
    pending tmp_vertices is never flushed."""
    import re

    camel = re.compile(r"([A-Z][a-z]*)")
    nonalnum = re.compile(r"[^A-Za-z0-9]+")
    alpha_num = re.compile(r"([a-z]+)([0-9]+)", re.I)

    def split_vertex(name: str, pos: int) -> list[str]:
        vertices: list[str] = []
        if "http" in name:
            vertices = " ".join(re.split("[#]", name)).split()
        base = vertices[-1] if vertices else name
        vertices = [s for s in camel.split(base) if s]
        if pos % 2 != 1:
            try:
                vertices = [str(float(base))]
            except ValueError:
                vertices = nonalnum.sub(" ", base).split()
                if len(vertices) == 1:
                    m = alpha_num.match(vertices[0])
                    if m:
                        vertices = list(m.groups())
        return vertices

    @pandas_udf(ArrayType(StringType()))
    def _split(col: pd.Series) -> pd.Series:
        # vertices repeat heavily across walks — memoize per Arrow
        # batch on (name, parity), the only two inputs split_vertex
        # depends on
        memo: dict = {}

        def split_cached(name: str, pos: int) -> list[str]:
            key = (name, pos & 1)
            got = memo.get(key)
            if got is None:
                got = memo[key] = split_vertex(name, pos)
            return got

        def go(walk):
            out: list[str] = []
            if with_reverse:
                out.append(walk[0])
                pend: list[str] | None = None
                for i, v in enumerate(walk):
                    if i == 0:
                        continue
                    vs = split_cached(v, i)
                    if pend is None:
                        pend = vs
                    else:
                        out.extend(t.lower() for t in vs)
                        out.extend(t.lower() for t in pend)
                        pend = None
                out.append(walk[0])
            else:
                for i, v in enumerate(walk):
                    if i == 0:
                        continue
                    out.extend(t.lower() for t in split_cached(v, i))
            # order-preserving dedup, reference split.py:123-124
            return list(dict(zip(out, out)))

        return col.map(go)

    return walks.select(
        "entity", _split(F.col("walk")).alias("walk")
    ).dropDuplicates(["entity", "walk"])
