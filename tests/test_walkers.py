"""Walker parity: invariants from /root/reference/tests/walkers/* plus
byte-exact golden-corpus reproduction (tests/embedders/test_word2vec.py)."""

import pytest
from pyspark.sql import functions as F

from pyrdf2vec_spark.walks import (
    anonymous_walks,
    bfs_canonical_walks,
    bfs_encoded_walks,
    bfs_walks,
    canonicalize_walks,
    combine_with_reverse,
    dfs_canonical_walks,
    extract_walks,
    halk_walks,
    ngram_walks,
    sampled_walks,
    split_walks,
    walklet_walks,
    wl_labels,
    wl_walks,
)
from tests.conftest import ROOTS, URL, uri


def walks_set(df):
    return {(r["entity"], tuple(r["walk"])) for r in df.collect()}


# ---------------------------------------------------------------------------
# W1/W2 BFS — differential vs reference _bfs semantics (random.py:50-81)
# ---------------------------------------------------------------------------
class TestBFS:
    def test_loop_depth2_exact(self, kg_loop, roots):
        got = walks_set(bfs_walks(kg_loop, roots, 2))
        expect = {
            (uri("Alice"), (uri("Alice"), uri("knows"), uri("Bob"), uri("knows"), uri("Dean"))),
            (uri("Alice"), (uri("Alice"), uri("knows"), uri("Dean"), uri("loves"), uri("Alice"))),
            (uri("Bob"), (uri("Bob"), uri("knows"), uri("Dean"), uri("loves"), uri("Alice"))),
            (uri("Dean"), (uri("Dean"), uri("loves"), uri("Alice"), uri("knows"), uri("Bob"))),
            (uri("Dean"), (uri("Dean"), uri("loves"), uri("Alice"), uri("knows"), uri("Dean"))),
        }
        assert got == expect

    def test_chain_dead_ends_survive(self, kg_chain, roots):
        # reference: a walk is only replaced when it has ≥1 extension;
        # the chain's tail keeps shorter dead-end walks.
        got = walks_set(bfs_walks(kg_chain, roots, 4))
        # Dean has no outgoing edges → stays as the bare root walk
        assert (uri("Dean"), (uri("Dean"),)) in got
        for _, w in got:
            assert len(w) <= 2 * 4 + 1
            assert len(w) % 2 == 1

    @pytest.mark.parametrize("depth", [0, 1, 2, 3, 5])
    def test_length_bound_and_root(self, kg_loop, roots, depth):
        # tests/walkers/test_random.py:58-88
        for ent, w in walks_set(bfs_walks(kg_loop, roots, depth)):
            assert len(w) <= 2 * depth + 1
            assert w[0] == ent

    def test_reverse_root_last(self, kg_loop, roots):
        # tests/walkers/test_random.py:120-126 — reverse walks end at root
        for ent, w in walks_set(bfs_walks(kg_loop, roots, 2, is_reverse=True)):
            assert w[-1] == ent

    def test_with_reverse_centered(self, kg_loop, roots):
        fwd = bfs_walks(kg_loop, roots, 1)
        rev = bfs_walks(kg_loop, roots, 1, is_reverse=True)
        for ent, w in walks_set(combine_with_reverse(fwd, rev)):
            assert ent in w
            assert len(w) % 2 == 1


# ---------------------------------------------------------------------------
# W3 DFS — distributional invariants (exact RNG stream is per §5.4.1
# a documented divergence)
# ---------------------------------------------------------------------------
class TestDFS:
    @pytest.mark.parametrize("max_walks", [1, 2, 5])
    def test_count_and_shape(self, kg_loop, roots, max_walks):
        got = sampled_walks(kg_loop, roots, 2, max_walks).collect()
        by_ent = {}
        for r in got:
            by_ent.setdefault(r["entity"], []).append(tuple(r["walk"]))
        for ent in ROOTS:
            assert len(by_ent[ent]) == max_walks
            for w in by_ent[ent]:
                assert w[0] == ent
                assert len(w) <= 2 * 2 + 1

    def test_deterministic(self, kg_loop, roots):
        a = walks_set(sampled_walks(kg_loop, roots, 3, 4, seed=7))
        b = walks_set(sampled_walks(kg_loop, roots, 3, 4, seed=7))
        assert a == b

    def test_weighted_distribution(self, kg_loop, spark):
        # objfreq on LOOP: Alice's hops are Bob (in-deg 1) and Dean
        # (in-deg 2) → Dean picked ~2/3 of the time.
        ents = spark.createDataFrame([(uri("Alice"),)], "name string")
        got = sampled_walks(
            kg_loop, ents, 1, 600, sampler="objfreq", seed=1
        ).collect()
        dean = sum(1 for r in got if r["walk"][2] == uri("Dean"))
        assert 0.55 < dean / len(got) < 0.78

    def test_chain_dead_end_freezes(self, kg_chain, spark):
        ents = spark.createDataFrame([(uri("Dean"),)], "name string")
        got = sampled_walks(kg_chain, ents, 2, 3).collect()
        assert len(got) == 3
        assert all(tuple(r["walk"]) == (uri("Dean"),) for r in got)


# ---------------------------------------------------------------------------
# W5 canonicalization — byte-exact goldens
# (tests/embedders/test_word2vec.py:8-77)
# ---------------------------------------------------------------------------
CORPUS_LOOP = {
    (URL + "#Alice", URL + "#knows", "b'\\x8b\\x93\\x8dx\\x1c\\xc7\\xd3\\xc9'",
     URL + "#loves", "b'\\x94\\xefX\\x0c\\x04l4E'"),
    (URL + "#Alice", URL + "#knows", "b'\\x1eK\\xad\\xc6\\xb6\\x1cu:'",
     URL + "#knows", "b'\\x8b\\x93\\x8dx\\x1c\\xc7\\xd3\\xc9'"),
    (URL + "#Bob", URL + "#knows", "b'\\x8b\\x93\\x8dx\\x1c\\xc7\\xd3\\xc9'",
     URL + "#loves", "b'\\x94\\xefX\\x0c\\x04l4E'"),
    (URL + "#Dean", URL + "#loves", "b'\\x94\\xefX\\x0c\\x04l4E'",
     URL + "#knows", "b'\\x1eK\\xad\\xc6\\xb6\\x1cu:'"),
    (URL + "#Dean", URL + "#loves", "b'\\x94\\xefX\\x0c\\x04l4E'",
     URL + "#knows", "b'\\x8b\\x93\\x8dx\\x1c\\xc7\\xd3\\xc9'"),
}


class TestCanonicalize:
    def test_golden_corpus_loop(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        got = {
            tuple(r["walk"])
            for r in canonicalize_walks(raw, [], 8, keep_root=True).collect()
        }
        assert got == CORPUS_LOOP

    def test_seed_entities_kept(self, kg_loop, roots):
        got = canonicalize_walks(
            bfs_walks(kg_loop, roots, 2), ROOTS, 8
        ).collect()
        for r in got:
            for i, tok in enumerate(r["walk"]):
                # all LOOP vertices are seeds → nothing hashed
                assert tok.startswith(URL)
        # 600 extra non-KG seed names: the one Catalyst path serves the
        # seed-set size that used to switch to a Python UDF, unchanged
        raw = bfs_walks(kg_loop, roots, 2)
        extra = [uri(f"absent_{i}") for i in range(600)]
        small = walks_set(canonicalize_walks(raw, [uri("Dean")], 8))
        large = walks_set(canonicalize_walks(raw, [uri("Dean")] + extra, 8))
        assert large == small
        assert any(not tok.startswith(URL) for _, w in small for tok in w)

    def test_seed_names_with_quotes_and_backslashes_kept(self, spark):
        # seed names reach the IN-list verbatim, whatever they contain
        import hashlib

        odd = ["a\\b", "it's", 'say "hi"', "tab\\t", "\\'"]
        walk = ["root", "p"]
        for v in odd:
            walk += [v, "p"]
        walks = spark.createDataFrame(
            [("root", walk[:-1])], "entity string, walk array<string>"
        )
        kept = canonicalize_walks(walks, odd, 8).collect()[0]["walk"]
        assert kept[2::2] == odd
        hashed = canonicalize_walks(walks, ["root"], 8).collect()[0]["walk"]
        assert hashed == ["root"] + [
            tok
            for v in odd
            for tok in ("p", str(hashlib.md5(v.encode()).digest()[:8]))
        ]

    def test_md5_repr_sql_matches_spec_every_escape_branch(self, spark):
        # each name's 8-byte digest reaches one branch of the Python
        # bytes repr; the SQL expression must match str(digest[:k])
        import hashlib

        from pyrdf2vec_spark.walks import _md5_repr, _md5_repr_sql

        branch = {
            "v0": lambda d: any(b >= 0x7F for b in d),
            "v4": lambda d: 0x5C in d,  # backslash
            "v6": lambda d: 0x0A in d,  # \n
            "v22": lambda d: 0x27 in d and 0x22 not in d,  # b"..." quoting
            "v70": lambda d: 0x0D in d,  # \r
            "v84": lambda d: 0x09 in d,  # \t
            "v2549": lambda d: 0x27 in d and 0x22 in d,  # both quotes
        }
        for name, reaches in branch.items():
            assert reaches(hashlib.md5(name.encode()).digest()[:8]), name
        names = spark.createDataFrame(
            [(n,) for n in branch], "name string"
        )
        widths = (1, 8, 16)
        got = names.select(
            "name",
            *[
                F.expr(_md5_repr_sql("name", k)).alias(f"r{k}")
                for k in widths
            ],
        ).collect()
        assert len(got) == len(branch)
        for r in got:
            for k in widths:
                assert r[f"r{k}"] == _md5_repr(r["name"], k), (r["name"], k)

    def test_md5_none_passthrough(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 1)
        got = canonicalize_walks(raw, [], None)
        assert walks_set(got) == walks_set(raw)

    def test_fused_bfs_canonical_equals_composition(self, kg_loop, kg_chain, roots):
        # the O(|V|)-repr fused path must equal canonicalize(bfs(...))
        for kg in (kg_loop, kg_chain):
            fused = walks_set(
                bfs_canonical_walks(kg, roots, 2, md5_bytes=8, keep_root=True)
            )
            composed = walks_set(
                canonicalize_walks(
                    bfs_walks(kg, roots, 2), [], 8, keep_root=True
                )
            )
            assert fused == composed

    def test_fused_with_seed_set(self, kg_loop, roots, spark):
        seeds = spark.createDataFrame([(uri("Dean"),)], "name string")
        fused = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=seeds,
            )
        )
        composed = walks_set(
            canonicalize_walks(
                bfs_walks(kg_loop, roots, 2), [uri("Dean")], 8, keep_root=True
            )
        )
        assert fused == composed

    def test_prepartitioned_edge_side_above_broadcast_limit(
        self, spark, monkeypatch
    ):
        # above BROADCAST_EDGE_LIMIT the cached edge table is
        # repartitioned+sorted on the frontier key so per-depth SMJs
        # exchange only the frontier; force that path on the fixtures
        # and pin result equality (fwd and reverse) vs the composition
        import pyrdf2vec_spark.walks as wmod
        from pyrdf2vec_spark.graph import SparkKG
        from tests.conftest import LOOP

        monkeypatch.setattr(wmod, "BROADCAST_EDGE_LIMIT", 0)
        # fresh KG: the per-KG walk cache must not serve a table built
        # under the default (broadcast) layout
        kg = SparkKG(
            spark.createDataFrame(
                LOOP, "subj string, pred string, obj string"
            )
        )
        roots = spark.createDataFrame(
            [(r,) for r in ROOTS], "name string"
        )
        fused = walks_set(
            bfs_canonical_walks(kg, roots, 2, md5_bytes=8, keep_root=True)
        )
        composed = walks_set(
            canonicalize_walks(
                bfs_walks(kg, roots, 2), [], 8, keep_root=True
            )
        )
        assert fused == composed
        rev = walks_set(
            bfs_canonical_walks(
                kg, roots, 2, md5_bytes=8, keep_root=True, is_reverse=True
            )
        )
        rev_composed = walks_set(
            canonicalize_walks(
                bfs_walks(kg, roots, 2, is_reverse=True), [], 8,
                keep_root=True,
            )
        )
        assert rev == rev_composed
        # the sampled (DFS) walker's weighted edge table takes the same
        # pre-partitioned path — draws are hash-deterministic, so the
        # forced-SMJ result must equal the broadcast-path result
        for is_rev in (False, True):
            forced = walks_set(
                sampled_walks(kg, roots, 3, 4, seed=9, is_reverse=is_rev)
            )
            monkeypatch.setattr(
                wmod, "BROADCAST_EDGE_LIMIT", 10**9
            )
            kg2 = SparkKG(
                spark.createDataFrame(
                    LOOP, "subj string, pred string, obj string"
                )
            )
            plain = walks_set(
                sampled_walks(kg2, roots, 3, 4, seed=9, is_reverse=is_rev)
            )
            monkeypatch.setattr(wmod, "BROADCAST_EDGE_LIMIT", 0)
            assert forced == plain

    def test_seeded_overlay_cache_reuse_and_eviction(
        self, kg_loop, roots, spark
    ):
        # one-live-overlay contract (bfs_canonical_walks docstring):
        # same seed set → cached overlay reused; different seed set →
        # previous overlay evicted, result still correct
        from pyrdf2vec_spark.walks import _kg_walk_cache

        seeds_a = spark.createDataFrame([(uri("Dean"),)], "name string")
        seeds_b = spark.createDataFrame([(uri("Bob"),)], "name string")
        r1 = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=seeds_a,
            )
        )
        cache = _kg_walk_cache(kg_loop)
        first = cache[("edges_tok_seeded", 8, "dst")][0]
        r2 = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=seeds_a,
            )
        )
        assert cache[("edges_tok_seeded", 8, "dst")][0] is first
        assert r2 == r1
        r3 = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=seeds_b,
            )
        )
        assert cache[("edges_tok_seeded", 8, "dst")][0] is not first
        composed = walks_set(
            canonicalize_walks(
                bfs_walks(kg_loop, roots, 2), [uri("Bob")], 8,
                keep_root=True,
            )
        )
        assert r3 == composed

        # bfs_encoded_walks' seeded integer edge table takes the same
        # policy, and its decoded corpus stays the canonical one
        def decoded(seeds):
            enc, vocab = bfs_encoded_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=seeds,
            )
            lut = {r["tid"]: r["token"] for r in vocab.collect()}
            return {
                (lut[r["root"]], tuple(lut[t] for t in r["walk"]))
                for r in enc.collect()
            }

        d1 = decoded(seeds_a)
        first = cache[("edges_ids_seeded", 8)][0]
        d2 = decoded(seeds_a)
        assert cache[("edges_ids_seeded", 8)][0] is first
        assert d2 == d1 == r1
        d3 = decoded(seeds_b)
        assert cache[("edges_ids_seeded", 8)][0] is not first
        assert not first.storageLevel.useMemory  # evicted = unpersisted
        assert d3 == r3

    def test_hash_prefix_invariant(self, kg_chain, roots):
        # tests/walkers/test_random.py:110-113 — hashed objects repr
        got = canonicalize_walks(bfs_walks(kg_chain, roots, 2), [], 8).collect()
        for r in got:
            for i, tok in enumerate(r["walk"]):
                if i % 2 == 0:
                    assert tok.startswith("b'")


# ---------------------------------------------------------------------------
# W7 Anonymous (anonymous.py:38-60)
# ---------------------------------------------------------------------------
class TestAnonymous:
    def test_loop(self, kg_loop, roots):
        got = walks_set(anonymous_walks(bfs_walks(kg_loop, roots, 2)))
        # Alice -> knows -> Dean -> loves -> Alice:
        # positions: Alice(root, kept), knows→1, Dean→2, loves→3, Alice→kept
        assert (
            uri("Alice"),
            (uri("Alice"), "1", "2", "3", uri("Alice")),
        ) in got

    def test_repeated_name_same_index(self, spark):
        from pyrdf2vec_spark.graph import SparkKG

        t = spark.createDataFrame(
            [("r", "p", "x"), ("x", "p", "y")],
            "subj string, pred string, obj string",
        )
        kg = SparkKG(t)
        ents = spark.createDataFrame([("r",)], "name string")
        got = walks_set(anonymous_walks(bfs_walks(kg, ents, 2)))
        # r p x p y → (r, 1, 2, 1, 4): both 'p' map to index 1
        assert ("r", ("r", "1", "2", "1", "4")) in got


# ---------------------------------------------------------------------------
# W8 Walklets (walklet.py:38-59)
# ---------------------------------------------------------------------------
class TestWalklet:
    def test_pairs(self, kg_loop, roots):
        got = walks_set(walklet_walks(bfs_walks(kg_loop, roots, 1)))
        assert (uri("Alice"), (uri("Alice"), uri("knows"))) in got
        assert (uri("Alice"), (uri("Alice"), uri("Bob"))) in got
        for _, w in got:
            assert len(w) in (1, 2)

    def test_reverse_pairs(self, kg_loop, roots):
        got = walks_set(
            walklet_walks(bfs_walks(kg_loop, roots, 1), with_reverse=True)
        )
        assert (uri("Alice"), (uri("Bob"), uri("Alice"))) in got

    def test_single_vertex_walk(self, kg_chain, spark):
        from pyrdf2vec_spark.graph import SparkKG

        ents = spark.createDataFrame([(uri("Julio"),)], "name string")
        got = walks_set(walklet_walks(bfs_walks(kg_chain, ents, 2)))
        assert got == {(uri("Julio"), (uri("Julio"),))}


# ---------------------------------------------------------------------------
# W9 NGram (ngram.py:60-114)
# ---------------------------------------------------------------------------
class TestNGram:
    def test_relabel_positions(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        got = walks_set(ngram_walks(raw, grams=3))
        for ent, w in got:
            assert w[0] == ent  # pos 0 kept
            assert w[1].startswith(URL)  # odd positions kept
            assert w[3].startswith(URL) if len(w) > 3 else True
            if len(w) == 5:
                assert not w[4].startswith(URL)  # pos 4 relabeled to id

    def test_same_ngram_same_id(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        rows = ngram_walks(raw, grams=3).collect()
        # Alice and Bob share suffix (Dean loves Alice): trailing 3-gram
        # at pos 4 is (Dean, loves, Alice) in both → identical id
        ids = {}
        for r in rows:
            w = r["walk"]
            if len(w) == 5 and w[3] == uri("loves"):
                ids.setdefault("key", set()).add(w[4])
        assert len(ids["key"]) == 1

    def test_wildcards_add_variants(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 1)
        plain = ngram_walks(raw, grams=2).count()
        wild = ngram_walks(raw, grams=2, wildcards=[1]).count()
        assert wild > plain

    def test_gram_ids_are_lexicographic_ranks(self, spark):
        # pins the plan-behavior contract the ngram gram-id assignment
        # rests on: a distinct→orderBy feeding _zip_dense_index yields
        # _idx == global sorted rank even on MULTI-partition input and
        # under a downstream join+aggregate (the shape that would let
        # Catalyst's EliminateSorts drop the orderBy if the persist()
        # inside _zip_dense_index ever stopped shielding it)
        from pyrdf2vec_spark.walks import _zip_dense_index

        keys = [f"g{i:05d}" for i in range(4000)]
        df = spark.createDataFrame(
            [(k,) for k in reversed(keys)], "ngram_key string"
        ).repartition(16)
        srt = df.distinct().orderBy("ngram_key")
        indexed, n = _zip_dense_index(srt, "ngram_key")
        assert n == len(keys)
        # downstream join + aggregate, like ngram_walks' relabel join
        joined = df.join(
            indexed.withColumnRenamed("_idx", "gram_id"), "ngram_key"
        )
        got = {
            r["ngram_key"]: r["gid"]
            for r in joined.groupBy("ngram_key")
            .agg(F.min("gram_id").alias("gid"))
            .collect()
        }
        for rank, k in enumerate(sorted(keys)):
            assert got[k] == rank


# ---------------------------------------------------------------------------
# W10 HALK (halk.py:59-176; thresholds per tests/walkers/test_halk.py)
# ---------------------------------------------------------------------------
class TestHALK:
    def test_low_threshold_keeps_all(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        got = walks_set(halk_walks(raw, [0.001]))
        assert got == walks_set(raw)

    def test_high_threshold_drops_rare(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        # threshold above 1.0 marks every predicate rare → every walk
        # falls back to the bare (root,) walk (halk.py:168-175)
        got = walks_set(halk_walks(raw, [1.1]))
        assert got == {(r, (r,)) for r in ROOTS}

    def test_threshold_drops_only_rare_pred(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        # LOOP depth-2: knows in 5/5 walks, loves in 4/5 → at 0.99
        # only 'loves' is rare; its (pred,obj) pairs vanish
        got = walks_set(halk_walks(raw, [0.99]))
        for _, w in got:
            assert uri("loves") not in w
        assert (uri("Bob"), (uri("Bob"), uri("knows"), uri("Dean"))) in got

    def test_selective_drop(self, kg_chain, roots):
        raw = bfs_walks(kg_chain, roots, 1)
        got = halk_walks(raw, [0.5])
        for _, w in walks_set(got):
            assert len(w) == 1 or len(w) >= 3

    def test_multiple_thresholds_union(self, kg_loop, roots):
        raw = bfs_walks(kg_loop, roots, 2)
        one = halk_walks(raw, [0.001]).count()
        two = halk_walks(raw, [0.001, 0.99]).count()
        assert two > one

    @staticmethod
    def _halk_reference_mirror(walks, thresholds, with_reverse):
        # independent mirror of halk.py:59-176 written from the spec,
        # index quirks included (enumerate(walk[1::2], 2), running j)
        support = {}
        for wi, w in enumerate(walks):
            for p in w[1::2]:
                support.setdefault(p, set()).add(wi)
        out = set()
        for t in thresholds:
            rare = {
                p for p, s in support.items()
                if len(s) / len(walks) < t
            }
            per_entity: dict[str, list[tuple]] = {}
            for w in walks:
                ent = w[len(w) // 2] if with_reverse else w[0]
                cw = [w[0]]
                j = 0
                for i, pred in enumerate(w[1::2], 2):
                    if pred not in rare:
                        if with_reverse:
                            obj = w[i + j]
                            j += 1
                        else:
                            obj = w[i] if i % 2 == 0 else w[i + 1]
                        cw += [pred, obj]
                per_entity.setdefault(ent, [])
                if len(cw) >= 3:
                    per_entity[ent].append(tuple(cw))
            for ent, cws in per_entity.items():
                if cws:
                    out.update((ent, c) for c in cws)
                else:
                    out.add((ent, (ent,)))
        return out

    def test_with_reverse_matches_reference_mirror(self, kg_loop, roots):
        fwd = bfs_walks(kg_loop, roots, 1)
        rev = bfs_walks(kg_loop, roots, 1, is_reverse=True)
        combined = combine_with_reverse(fwd, rev)
        rows = combined.collect()
        walks = [tuple(r["walk"]) for r in rows]
        for th in ([0.99], [0.5], [1.1], [0.2, 0.99]):
            expect = self._halk_reference_mirror(walks, th, True)
            got = {
                (r["walk"][len(r["walk"]) // 2] if len(r["walk"]) > 1
                 else r["walk"][0], tuple(r["walk"]))
                for r in halk_walks(combined, th, with_reverse=True)
                .collect()
            }
            # compare walk sets (entity grouping differs only in how the
            # fallback token is keyed; the walks themselves must agree)
            assert {w for _, w in got} == {w for _, w in expect}, th

    def test_with_reverse_j_shift_quirk(self, spark):
        # one rare predicate in the middle: the reference shifts every
        # later obj index by the SKIPPED count — replicate exactly.
        # corpus: 3 walks share pred 'a' and 'c'; only one has 'b'
        rows = [
            ("r", ["x1", "a", "r", "c", "y1"]),
            ("r", ["x2", "a", "r", "c", "y2"]),
            ("r", ["x3", "b", "r", "c", "y3"]),
        ]
        df = spark.createDataFrame(
            rows, "entity string, walk array<string>"
        )
        got = {
            tuple(r["walk"])
            for r in halk_walks(df, [0.5], with_reverse=True).collect()
        }
        expect = {
            w
            for _, w in self._halk_reference_mirror(
                [tuple(w) for _, w in rows], [0.5], True
            )
        }
        assert got == expect
        # 'b' is rare (1/3 < 0.5): its walk keeps only pred 'c' (k=1,
        # i=3), and the un-incremented j pairs it with walk[3+0]='c'
        # itself — the reference's index-shift quirk, replicated
        assert ("x3", "c", "c") in got


# ---------------------------------------------------------------------------
# W12 WL (weisfeiler_lehman.py:69-129)
# ---------------------------------------------------------------------------
class TestWL:
    def test_label0_is_name(self, kg_loop):
        labs = wl_labels(kg_loop, 1).collect()
        l0 = {r["name"]: r["label"] for r in labs if r["n"] == 0}
        assert l0[uri("Alice")] == uri("Alice")

    def test_labels_reflect_parents(self, kg_loop):
        labs = wl_labels(kg_loop, 2)
        rows = labs.collect()
        l1 = {r["name"]: r["label"] for r in rows if r["n"] == 1}
        # all level-1 labels are md5 reprs and differ across entities
        assert all(v.startswith("b'") for v in l1.values())
        assert len(set(l1.values())) == len(l1)

    def test_reference_label_formula(self, kg_loop):
        # manual replica of _create_label for Bob at n=1:
        # Bob's parents = the pred-occurrence (Alice,knows,Bob) with
        # label0 = knows-URI → label1(Bob) = repr8(md5("Bob-knows"))
        import hashlib

        labs = {r["name"]: r["label"] for r in wl_labels(kg_loop, 1).collect() if r["n"] == 1}
        expect = str(
            hashlib.md5(
                f"{uri('Bob')}-{uri('knows')}".encode()
            ).digest()[:8]
        )
        assert labs[uri("Bob")] == expect

    def test_labels_without_digest_keep_raw_label(self, kg_loop):
        # md5_bytes=None: label_n is the raw '-'-joined label itself
        labs = {
            r["name"]: r["label"]
            for r in wl_labels(kg_loop, 1, md5_bytes=None).collect()
            if r["n"] == 1
        }
        assert labs[uri("Bob")] == f"{uri('Bob')}-{uri('knows')}"

    def test_wl_walks_counts(self, kg_loop, roots):
        # walk count grows with iterations but stays bounded by
        # (wl_iterations+1) × raw walks (test_weisfeiler_lehman.py:85-92)
        raw_n = bfs_walks(kg_loop, roots, 2).count()
        got = wl_walks(kg_loop, roots, 2, wl_iterations=2)
        n = got.count()
        assert raw_n <= n <= 3 * raw_n
        for ent, w in walks_set(got):
            assert w[0] == ent  # roots are seeds → kept verbatim


# ---------------------------------------------------------------------------
# W13 Community (community.py:99-250) — structural invariants; the
# reference's own Louvain output is nondeterministic (SURVEY.md W13)
# ---------------------------------------------------------------------------
class TestCommunity:
    def test_labels_cover_entities(self, kg_loop):
        from pyrdf2vec_spark.walks import community_labels

        labs = community_labels(kg_loop, 3).collect()
        names = {r["name"] for r in labs}
        assert names == {uri(e) for e in ("Alice", "Bob", "Dean")}

    def test_two_components_two_communities(self, spark):
        from pyrdf2vec_spark.graph import SparkKG
        from pyrdf2vec_spark.walks import community_labels

        t = spark.createDataFrame(
            [("a", "p", "b"), ("b", "p", "a"), ("x", "p", "y"), ("y", "p", "x")],
            "subj string, pred string, obj string",
        )
        labs = {
            r["name"]: r["community"]
            for r in community_labels(SparkKG(t), 5).collect()
        }
        assert labs["a"] == labs["b"]
        assert labs["x"] == labs["y"]
        assert labs["a"] != labs["x"]

    def test_walks_superset_of_bfs(self, kg_loop, roots):
        from pyrdf2vec_spark.walks import community_walks

        plain = walks_set(bfs_walks(kg_loop, roots, 2))
        # hop_prob=0 → exactly plain BFS
        assert walks_set(community_walks(kg_loop, roots, 2, hop_prob=0.0)) == plain
        # hop_prob=1 → strict superset with teleport walks present
        withtel = walks_set(community_walks(kg_loop, roots, 2, hop_prob=1.0))
        assert plain <= withtel
        assert len(withtel) > len(plain)

    def test_deterministic(self, kg_loop, roots):
        from pyrdf2vec_spark.walks import community_walks

        a = walks_set(community_walks(kg_loop, roots, 2, hop_prob=0.5, seed=3))
        b = walks_set(community_walks(kg_loop, roots, 2, hop_prob=0.5, seed=3))
        assert a == b

    def test_louvain_algorithm_tier(self, kg_loop, roots):
        # algorithm="louvain" swaps in the reference's own community
        # algorithm; hop_prob=0 must still degenerate to plain BFS,
        # and unknown algorithms fail loudly
        import pytest as _pytest

        from pyrdf2vec_spark.walks import community_walks

        plain = walks_set(bfs_walks(kg_loop, roots, 2))
        got = walks_set(
            community_walks(
                kg_loop, roots, 2, hop_prob=0.0, algorithm="louvain"
            )
        )
        assert got == plain
        with _pytest.raises(ValueError, match="louvain"):
            community_walks(
                kg_loop, roots, 2, algorithm="nope"
            ).collect()

    def test_sampled_no_teleport_equals_sampled(self, kg_loop, roots):
        # community.py:187-250 with hop_prob=0 degenerates to plain
        # sampled DFS draws — same race keys, same picks
        from pyrdf2vec_spark.walks import community_sampled_walks

        plain = walks_set(sampled_walks(kg_loop, roots, 2, 4, seed=9))
        got = walks_set(
            community_sampled_walks(
                kg_loop, roots, 2, 4, hop_prob=0.0, seed=9
            )
        )
        assert got == plain

    def test_sampled_portable_no_teleport_equals_sampled(
        self, kg_loop, roots
    ):
        # the portable (md5) draws degenerate identically: hop_prob=0
        # community walks == sampled_walks under the SAME portable race
        from pyrdf2vec_spark.walks import community_sampled_walks

        plain = walks_set(
            sampled_walks(kg_loop, roots, 2, 4, seed=9, portable_hash=True)
        )
        got = walks_set(
            community_sampled_walks(
                kg_loop, roots, 2, 4, hop_prob=0.0, seed=9,
                portable_hash=True,
            )
        )
        assert got == plain

    def test_sampled_portable_teleports_deterministic(self, kg_loop, roots):
        from pyrdf2vec_spark.walks import community_sampled_walks

        a = walks_set(
            community_sampled_walks(
                kg_loop, roots, 2, 4, hop_prob=0.6, seed=3,
                portable_hash=True,
            )
        )
        b = walks_set(
            community_sampled_walks(
                kg_loop, roots, 2, 4, hop_prob=0.6, seed=3,
                portable_hash=True,
            )
        )
        assert a == b and len(a) > 0

    def test_sampled_teleport_replaces_object(self, spark):
        # hop_prob=1 on a two-community graph: after the hop from a→b,
        # the object is REPLACED by a member of b's community {a, b}
        # (alternation preserved, unlike BFS's appended vertex) and the
        # walk continues from the teleported member
        from pyrdf2vec_spark.graph import SparkKG
        from pyrdf2vec_spark.walks import community_sampled_walks

        t = spark.createDataFrame(
            [("a", "p", "b"), ("b", "p", "a"), ("x", "p", "y"), ("y", "p", "x")],
            "subj string, pred string, obj string",
        )
        kg = SparkKG(t)
        seeds = spark.createDataFrame([("a",)], "name string")
        got = walks_set(
            community_sampled_walks(kg, seeds, 1, 8, hop_prob=1.0, seed=4)
        )
        # every walk is length 3 with alternation intact and the final
        # entity inside a's own community (never x/y)
        for ent, w in got:
            assert len(w) == 3
            assert w[0] == "a" and w[1] == "p"
            assert w[2] in ("a", "b")

    def test_sampled_reverse_moves(self, spark):
        from pyrdf2vec_spark.graph import SparkKG
        from pyrdf2vec_spark.walks import community_sampled_walks

        kg = SparkKG(spark.createDataFrame(
            [("A", "p", "B"), ("B", "q", "C"), ("C", "r", "A")],
            "subj string, pred string, obj string",
        ))
        seeds = spark.createDataFrame([("B",)], "name string")
        got = walks_set(
            community_sampled_walks(
                kg, seeds, 2, 2, hop_prob=0.0, seed=7, is_reverse=True
            )
        )
        assert got == {("B", ("C", "r", "A", "p", "B"))}

    @staticmethod
    def _walk_invariants(walks, pred_set, edge_set, max_depth):
        # structural invariants + a teleport-fraction estimate: a step
        # (v, p, o) that is not a KG edge can only come from a teleport
        # replacement (slight UNDERcount — a drawn member can happen to
        # reconstruct a real edge — which biases both hash tiers the
        # same way, so the cross-tier comparison stays fair)
        n_steps = n_tele = 0
        for _ent, w in walks:
            assert len(w) % 2 == 1 and 1 <= len(w) <= 2 * max_depth + 1
            for i in range(1, len(w), 2):
                assert w[i] in pred_set, f"odd slot not a predicate: {w}"
            for i in range(0, len(w) - 2, 2):
                n_steps += 1
                if (w[i], w[i + 1], w[i + 2]) not in edge_set:
                    n_tele += 1
        return n_steps, (n_tele / n_steps if n_steps else 0.0)

    def test_default_hash_tier_matches_portable_invariants_fixtures(
        self, kg_loop, kg_chain, roots
    ):
        # VERDICT r5 #6: the driver oracle certifies the md5
        # (portable_hash) tier; pin the default xxhash64 hot path to the
        # same structural invariants on LOOP/CHAIN so it can't drift
        from pyrdf2vec_spark.walks import community_sampled_walks

        for kg in (kg_loop, kg_chain):
            preds = {r["pred"] for r in kg.edges.select("pred").collect()}
            edges = {
                (r["src"], r["pred"], r["dst"]) for r in kg.edges.collect()
            }
            for portable in (False, True):
                got = walks_set(
                    community_sampled_walks(
                        kg, roots, 3, 8, hop_prob=0.15, seed=11,
                        portable_hash=portable,
                    )
                )
                assert got
                self._walk_invariants(got, preds, edges, 3)

    def test_default_hash_tier_teleport_fraction_tpch(self, spark):
        # ...and on a TPC-H slice, where the walk space is wide enough
        # for a distribution check: teleport fraction ≈ hop_prob on BOTH
        # tiers, and the two tiers close to each other
        from pyrdf2vec_spark.graph import SparkKG
        from pyrdf2vec_spark.sources.tpch_graph import (
            load_tables,
            tpch_triples,
        )
        from pyrdf2vec_spark.walks import community_sampled_walks

        kg = SparkKG(tpch_triples(load_tables(spark, "/root/testdata/sf0.001")))
        # order vertices: out-degree > 1 (customers have exactly one
        # out-edge, which collapses the 8 walk slots to one under dedup)
        seeds = (
            kg.entity_names()
            .where(F.col("name").startswith("o:"))
            .limit(100)
        )
        preds = {r["pred"] for r in kg.edges.select("pred").distinct().collect()}
        edges = {(r["src"], r["pred"], r["dst"]) for r in kg.edges.collect()}
        hop_prob, fracs = 0.15, {}
        for portable in (False, True):
            got = walks_set(
                community_sampled_walks(
                    kg, seeds, 3, 8, hop_prob=hop_prob, seed=5,
                    portable_hash=portable,
                )
            )
            n_steps, frac = self._walk_invariants(got, preds, edges, 3)
            assert n_steps > 400, "slice too small for a fraction test"
            fracs[portable] = frac
            assert abs(frac - hop_prob) <= 0.05, (
                f"tier portable={portable}: teleport fraction {frac:.3f} "
                f"vs hop_prob {hop_prob}"
            )
        assert abs(fracs[False] - fracs[True]) <= 0.06


# ---------------------------------------------------------------------------
# W11 Split (split.py:53-125)
# ---------------------------------------------------------------------------
class TestSplit:
    def test_basic_split(self, spark):
        from pyrdf2vec_spark.graph import SparkKG

        t = spark.createDataFrame(
            [
                ("http://dl#d19", "http://dl#hasBond", "http://dl#bond3209"),
            ],
            "subj string, pred string, obj string",
        )
        kg = SparkKG(t)
        ents = spark.createDataFrame([("http://dl#d19",)], "name string")
        got = walks_set(split_walks(bfs_walks(kg, ents, 1)))
        # reference docstring example: root dropped (non-reverse),
        # hasBond → has/bond, bond3209 → bond/3209; dedup keeps order
        assert got == {("http://dl#d19", ("has", "bond", "3209"))}

    def test_float_collapse(self, spark):
        from pyrdf2vec_spark.graph import SparkKG

        t = spark.createDataFrame(
            [("e", "p", "0.42")], "subj string, pred string, obj string"
        )
        kg = SparkKG(t)
        ents = spark.createDataFrame([("e",)], "name string")
        got = walks_set(split_walks(bfs_walks(kg, ents, 1)))
        assert got == {("e", ("p", "0.42"))}

    def test_with_reverse_interleave(self, spark):
        # split.py:84-124: raw walk[0] brackets both ends (deduped by
        # the dict pass), each (pred, obj) pair emits OBJECT tokens
        # before PREDICATE tokens (tmp_vertices.reverse())
        df = spark.createDataFrame(
            [
                (
                    "http://dl#d19",
                    [
                        "http://dl#OtherMol",
                        "http://dl#inBond",
                        "http://dl#d19",
                        "http://dl#hasBond",
                        "http://dl#bond3209",
                    ],
                )
            ],
            "entity string, walk array<string>",
        )
        got = walks_set(split_walks(df, with_reverse=True))
        # pairs: (inBond, d19) → d, 19, in, bond ; (hasBond, bond3209)
        # → bond, 3209, has, bond(dup) ; bracketed by raw OtherMol
        assert got == {
            (
                "http://dl#d19",
                ("http://dl#OtherMol", "d", "19", "in", "bond",
                 "3209", "has"),
            )
        }

    def test_with_reverse_drops_unpaired_tail(self, spark):
        # even-length walk: the pending tmp_vertices is never flushed —
        # the trailing element contributes nothing (split.py:107-118)
        df = spark.createDataFrame(
            [("root", ["A", "hasX", "B", "lonePred"])],
            "entity string, walk array<string>",
        )
        got = walks_set(split_walks(df, with_reverse=True))
        assert got == {("root", ("A", "b", "has", "x"))}


# ---------------------------------------------------------------------------
# extract_walks dispatch (random.py:120-140)
# ---------------------------------------------------------------------------
class TestExtractWalks:
    def test_bfs_when_no_max_walks(self, kg_loop, roots):
        assert walks_set(extract_walks(kg_loop, roots, 2)) == walks_set(
            bfs_walks(kg_loop, roots, 2)
        )

    def test_with_reverse_counts(self, kg_loop, roots):
        got = extract_walks(kg_loop, roots, 1, max_walks=2, with_reverse=True)
        by_ent = {}
        for r in got.collect():
            by_ent.setdefault(r["entity"], []).append(r)
        # max_walks² combinations per entity (random.py:134-139)
        for ent, ws in by_ent.items():
            assert len(ws) == 4

    def test_reverse_sampled_walks_move(self, spark):
        # A -p-> B -q-> C -r-> A: reverse sampled walks from B must walk
        # PREDECESSORS — exactly [C, r, A, p, B]; the pre-fix bug joined
        # candidates on src and emitted [B, q, B, q, B] (stationary)
        from pyrdf2vec_spark.graph import SparkKG

        kg = SparkKG(spark.createDataFrame(
            [("A", "p", "B"), ("B", "q", "C"), ("C", "r", "A")],
            "subj string, pred string, obj string",
        ))
        seeds = spark.createDataFrame([("B",)], "name string")
        got = walks_set(
            sampled_walks(kg, seeds, 2, 2, is_reverse=True, seed=7)
        )
        assert got == {("B", ("C", "r", "A", "p", "B"))}

    def test_reverse_sampled_branching_distribution(self, spark):
        # two predecessors of B: every reverse walk is a genuine
        # predecessor path, and both appear across enough walk slots
        from pyrdf2vec_spark.graph import SparkKG

        kg = SparkKG(spark.createDataFrame(
            [("A", "p", "B"), ("C", "q", "B")],
            "subj string, pred string, obj string",
        ))
        seeds = spark.createDataFrame([("B",)], "name string")
        got = walks_set(
            sampled_walks(kg, seeds, 1, 64, is_reverse=True, seed=3)
        )
        assert got == {
            ("B", ("A", "p", "B")),
            ("B", ("C", "q", "B")),
        }

    def test_dense_token_ids_are_dense(self, spark):
        from pyrdf2vec_spark.walks import dense_token_ids

        toks = spark.createDataFrame(
            [(t,) for t in ["b", "a", "c", "a", "d", "b"]], "token string"
        ).repartition(3)
        got = {(r["token"], r["tid"]) for r in dense_token_ids(toks).collect()}
        assert {t for t, _ in got} == {"a", "b", "c", "d"}
        assert sorted(i for _, i in got) == [0, 1, 2, 3]

    def test_dense_token_ids_recompute_stable(self, spark):
        # the (token → id) assignment must survive cache loss and
        # partition recompute on a cluster: two INDEPENDENT calls (fresh
        # lineage each — equivalent to a full recompute) must agree,
        # which holds because distinct's hash partitioning plus
        # sortWithinPartitions pin a deterministic order before
        # monotonically_increasing_id fires
        from pyrdf2vec_spark.walks import dense_token_ids

        toks = spark.createDataFrame(
            [(f"tok{i % 57}",) for i in range(500)], "token string"
        ).repartition(7)
        m1 = {r["token"]: r["tid"] for r in dense_token_ids(toks).collect()}
        m2 = {r["token"]: r["tid"] for r in dense_token_ids(toks).collect()}
        assert m1 == m2
        assert sorted(m1.values()) == list(range(len(m1)))

    def test_encoded_vocab_recompute_stable(self, kg_loop, roots):
        # end-to-end id stability: two bfs_encoded_walks runs over the
        # same KG assign identical vocab ids (the corpus can be
        # persisted across job boundaries and re-joined to a re-derived
        # vocab)
        _, v1 = bfs_encoded_walks(kg_loop, roots, 2, md5_bytes=8)
        _, v2 = bfs_encoded_walks(kg_loop, roots, 2, md5_bytes=8)
        map1 = {r["token"]: r["tid"] for r in v1.collect()}
        map2 = {r["token"]: r["tid"] for r in v2.collect()}
        assert map1 == map2

    def test_encoded_walks_decode_to_canonical(self, kg_loop, roots):
        # dictionary-encoded corpus (array<bigint> + vocab) must decode
        # byte-identically to the canonical string corpus
        enc, vocab = bfs_encoded_walks(
            kg_loop, roots, 2, md5_bytes=8, keep_root=True,
            seed_entities=roots,
        )
        lut = {r["tid"]: r["token"] for r in vocab.collect()}
        # root is the vocab id of the entity's VERBATIM name — the
        # corpus is pure integers, names live only in the vocab
        decoded = {
            (lut[r["root"]], tuple(lut[t] for t in r["walk"]))
            for r in enc.collect()
        }
        expect = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=True,
                seed_entities=roots,
            )
        )
        assert decoded == expect
        # every walk element is a bigint id, 8 bytes — the scale layout
        assert dict(enc.dtypes)["walk"] == "array<bigint>"

    def test_dfs_canonical_equals_canonicalize_after(self, kg_loop, roots):
        # token fusion must be invisible: same draws, same md5 rule
        ents = [r[0] for r in roots.collect()]
        expect = walks_set(
            canonicalize_walks(
                sampled_walks(kg_loop, roots, 2, 4, seed=13), ents, 8
            )
        )
        got = walks_set(
            dfs_canonical_walks(kg_loop, roots, 2, 4, md5_bytes=8, seed=13)
        )
        assert got == expect

    def test_dfs_canonical_with_reverse_equals_after(self, kg_loop, roots):
        ents = [r[0] for r in roots.collect()]
        fwd = sampled_walks(kg_loop, roots, 1, 2, seed=21)
        rev = sampled_walks(kg_loop, roots, 1, 2, seed=22, is_reverse=True)
        expect = walks_set(
            canonicalize_walks(combine_with_reverse(fwd, rev), ents, 8)
        )
        got = walks_set(
            dfs_canonical_walks(
                kg_loop, roots, 1, 2, md5_bytes=8, seed=21,
                with_reverse=True,
            )
        )
        assert got == expect

    def test_bfs_canonical_reverse_equals_after(self, kg_loop, roots):
        ents = [r[0] for r in roots.collect()]
        expect = walks_set(
            canonicalize_walks(
                bfs_walks(kg_loop, roots, 2, is_reverse=True), ents, 8,
                assume_distinct=True,
            )
        )
        got = walks_set(
            bfs_canonical_walks(
                kg_loop, roots, 2, md5_bytes=8, keep_root=False,
                seed_entities=roots, is_reverse=True,
            )
        )
        assert got == expect

    def test_reverse_sampled_inverse_mode_runs(self, kg_loop, roots):
        # inverse + split normalization under is_reverse groups by dst
        # and divides by the PREDECESSOR's degree — content sanity: all
        # walks end at their root and hop backwards through real edges
        got = sampled_walks(
            kg_loop, roots, 2, 2, sampler="objfreq",
            inverse=True, split=True, is_reverse=True, seed=11,
        )
        edges = {(s, p, o) for s, p, o in [
            (uri("Alice"), uri("knows"), uri("Bob")),
            (uri("Alice"), uri("knows"), uri("Dean")),
            (uri("Bob"), uri("knows"), uri("Dean")),
            (uri("Dean"), uri("loves"), uri("Alice")),
        ]}
        for ent, w in walks_set(got):
            assert w[-1] == ent
            for i in range(0, len(w) - 2, 2):
                assert (w[i], w[i + 1], w[i + 2]) in edges


class TestEdgeSideFailureSurfaces:
    def test_failing_edge_count_propagates(self, kg_loop):
        # a genuine edge_count failure must surface, not silently
        # demote every walker join to sort-merge (r6 verdict item 5)
        from pyrdf2vec_spark.walks import _edge_side

        class _BrokenKG:
            def edge_count(self):
                raise RuntimeError("edge table dropped")

        with pytest.raises(RuntimeError, match="edge table dropped"):
            _edge_side(_BrokenKG(), kg_loop.edges)


class TestWalkerCacheLifecycle:
    def test_norm_edge_table_cached_per_config(self, kg_loop, roots):
        # the weighted edge table must be built once per (sampler,
        # direction, ...) config and REUSED — the r6 verdict's
        # dead-persist fix: the persisted table stays live in the
        # per-KG cache instead of being unpersisted before the
        # caller's first action
        from pyrdf2vec_spark.walks import sampled_walks, _kg_walk_cache

        a = sampled_walks(kg_loop, roots, 2, 2, sampler="objfreq", seed=3)
        n1 = a.count()
        cache = _kg_walk_cache(kg_loop)
        # assert on THIS config's key (kg_loop is a shared fixture, so
        # other tests may have populated other configs)
        key = ("edges_norm", "objfreq", False, False, 0.85, "src")
        entry = cache.get(key)
        assert entry is not None
        assert entry.storageLevel.useMemory  # still persisted (live)
        b = sampled_walks(kg_loop, roots, 2, 2, sampler="objfreq", seed=3)
        assert b.count() == n1
        assert cache[key] is entry  # same cached table, no rebuild

    def test_community_partition_cached(self, kg_loop, roots):
        from pyrdf2vec_spark.walks import (
            community_sampled_walks,
            _kg_walk_cache,
        )

        community_sampled_walks(kg_loop, roots, 2, 2, seed=4).count()
        cache = _kg_walk_cache(kg_loop)
        key = ("community", "lpa", 5)
        entry = cache.get(key)
        assert entry is not None
        community_sampled_walks(kg_loop, roots, 2, 2, seed=5).count()
        assert cache[key] is entry

    def test_tokenized_overlay_one_live_slot(self, kg_loop, roots, spark):
        # dfs_canonical_walks keys its tokenized edge table by a
        # seed-set fingerprint; a different seed set evicts the
        # previous overlay (at most ONE live per config)
        from pyrdf2vec_spark.walks import (
            dfs_canonical_walks,
            _kg_walk_cache,
        )

        r1 = roots
        r2 = roots.limit(1)
        dfs_canonical_walks(kg_loop, r1, 2, 2, seed=6).count()
        cache = _kg_walk_cache(kg_loop)
        # the overlay slot for THIS config (kg_loop is shared, other
        # tests may hold overlays for other sampler configs)
        key = ("edges_norm_tok", "uniform", False, False, 0.85, "src")
        first = cache.get(key)
        assert first is not None
        dfs_canonical_walks(kg_loop, r1, 2, 2, seed=7).count()
        assert cache[key] is first  # same seeds → reuse
        dfs_canonical_walks(kg_loop, r2, 2, 2, seed=8).count()
        second = cache.get(key)
        assert second is not None and second is not first  # evicted
