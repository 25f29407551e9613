"""Canonicalization: MinHash-LSH blocking + connected components."""

import hashlib
import itertools
import random
import re
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pyrdf2vec_spark.canon import (
    candidate_pairs,
    canonical_mapping,
    canonicalize_triples,
    connected_components,
)


def _h60(s):
    """60-bit shingle hash: the first 15 md5 hex digits."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _char_hashes(name, n=3):
    norm = re.sub(r"\s+", " ", re.sub("[^A-Za-z0-9]+", " ", name).lower())
    t = f" {norm.strip(' ')} "
    return {_h60(t[i : i + n]) for i in range(max(1, len(t) - n + 1))}


def _word_hashes(text, k=3):
    ws = re.split(" +", text.lower().strip(" "))
    return {_h60(" ".join(ws[i : i + k])) for i in range(max(1, len(ws) - k + 1))}


def _replica_lsh(sets, threshold, num_hashes=12, band_size=2, max_bucket=200):
    """Pure-Python MinHash-LSH over {name: hash set}: universal-hash
    min-hashes, ``|``-joined band keys, buckets above ``max_bucket``
    dropped, exact Jaccard over the distinct hashes."""
    from pyrdf2vec_spark.canon import _P, _hash_params

    buckets = defaultdict(list)
    for name, hs in sets.items():
        mins = [
            min((a * (h % _P) + b) % _P for h in hs)
            for a, b in _hash_params(num_hashes)
        ]
        for i in range(num_hashes // band_size):
            band = mins[i * band_size : (i + 1) * band_size]
            buckets[(i, "|".join(map(str, band)))].append(name)
    out = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        for a, b in itertools.combinations(sorted(members), 2):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j >= threshold:
                out.add((a, b, j))
    return out


class TestConnectedComponents:
    def test_simple_chain(self, spark):
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")], "a string, b string"
        )
        comp = {r["name"]: r["component"] for r in connected_components(e).collect()}
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["x"] == comp["y"] == "x"
        assert comp["a"] != comp["x"]

    def test_star_and_cycle(self, spark):
        edges = [("h", f"s{i}") for i in range(8)] + [("p", "q"), ("q", "r"), ("r", "p")]
        e = spark.createDataFrame(edges, "a string, b string")
        comp = {r["name"]: r["component"] for r in connected_components(e).collect()}
        assert len({comp[f"s{i}"] for i in range(8)} | {comp["h"]}) == 1
        assert comp["p"] == comp["q"] == comp["r"] == "p"

    def test_matches_bruteforce_union_find(self, spark):
        import random

        rng = random.Random(7)
        names = [f"n{i}" for i in range(60)]
        edges = [
            (rng.choice(names), rng.choice(names)) for _ in range(80)
        ]
        e = spark.createDataFrame(edges, "a string, b string")
        got = {r["name"]: r["component"] for r in connected_components(e).collect()}

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {}
        for x in parent:
            expect[x] = find(x)
        # canonical representative = min member in both
        groups_got = {}
        groups_exp = {}
        for k, v in got.items():
            groups_got.setdefault(v, set()).add(k)
        for k, v in expect.items():
            groups_exp.setdefault(v, set()).add(k)
        assert set(map(frozenset, groups_got.values())) == set(
            map(frozenset, groups_exp.values())
        )


class TestLSH:
    def test_variants_cluster(self, spark):
        surfaces = spark.createDataFrame(
            [
                ("Person_17",), ("person 17",), ("PERSON-17",),
                ("Org_3",), ("org 3",),
                ("completely different thing",),
            ],
            "name string",
        )
        m = {r["name"]: r["canonical"] for r in canonical_mapping(surfaces).collect()}
        assert m["Person_17"] == m["person 17"] == m["PERSON-17"]
        assert m["Org_3"] == m["org 3"]
        assert m["Person_17"] != m["Org_3"]
        assert m["completely different thing"] == "completely different thing"

    def test_candidate_pairs_verified_jaccard(self, spark):
        surfaces = spark.createDataFrame(
            [("abcdefgh",), ("abcdefgx",), ("zzzzzzzz",)], "name string"
        )
        pairs = candidate_pairs(surfaces, jaccard_threshold=0.5).collect()
        got = {(r["a"], r["b"]) for r in pairs}
        assert ("abcdefgh", "abcdefgx") in got or ("abcdefgx", "abcdefgh") in got
        assert all("zzzzzzzz" not in p for p in got)

    def test_lsh_core_matches_python_replica(self, spark):
        from pyrdf2vec_spark.functions.dedup import minhash_dedup_pairs

        # 210 case variants of one string share every band bucket, so
        # the 200-member valve drops them (and anything banded with them)
        variants = [
            "".join(c.upper() if up else c for c, up in zip("abcdefgh", bits))
            for bits in itertools.product([0, 1], repeat=8)
        ][:210]
        names = variants + [
            "abcdefgx", "northwind traders", "northwind tradurs",
            "northwynd traders 5", "acme corp 5", "acme corp 6",
            "acme korp 5", "zzzzzzzz",
        ]
        sets = {n: _char_hashes(n) for n in names}
        expect = _replica_lsh(sets, 0.0)
        unvalved = _replica_lsh(sets, 0.0, max_bucket=10**9)
        assert len(unvalved) - len(expect) >= 210 * 209 // 2
        assert any(a == "acme corp 5" for a, _, _ in expect)
        surfaces = spark.createDataFrame([(n,) for n in names], "name string")
        got = {
            (r["a"], r["b"], r["jaccard"])
            for r in candidate_pairs(surfaces, jaccard_threshold=0.0).collect()
        }
        assert got == expect

        # planted near-duplicate documents: an exact copy, one swapped
        # word, a two-word tail, half the words replaced
        rng = random.Random(3)
        vocab = [f"w{i}" for i in range(60)]
        texts = []
        for _ in range(4):
            base = [rng.choice(vocab) for _ in range(20)]
            swapped = list(base)
            swapped[rng.randrange(20)] = "swapped"
            half = base[:10] + [rng.choice(vocab) for _ in range(10)]
            for words in (base, base, swapped, base + ["tail", "words"], half):
                texts.append(" ".join(words))
        texts.append("nothing in common with the rest")
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        reps = {}
        for i, t in enumerate(texts):
            reps.setdefault(t, i)
        expect = _replica_lsh({r: _word_hashes(t) for t, r in reps.items()}, 0.5)
        assert len(expect) >= 8
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in minhash_dedup_pairs(docs, jaccard_threshold=0.5).collect()
        }
        assert set(got) == {(a, b) for a, b, _ in expect}
        for a, b, j in expect:
            assert got[(a, b)] == pytest.approx(j, abs=1e-6)


class TestBlockedMapping:
    """Exact-key blocking, digit-blocked fuzzy residual, and connected
    components only when the residual has verified pairs."""

    def test_distinct_digit_runs_never_merge(self, spark):
        ids = [
            "person_11", "person_111", "person_1111",
            "person_100", "person_1000", "person_10000",
            "person_116", "person_1116",
        ]
        planted = ["Person_17", "person 17", "PERSON-17", "Org_3", "org 3"]
        surfaces = spark.createDataFrame(
            [(n,) for n in ids + planted], "name string"
        )
        m = {r["name"]: r["canonical"] for r in canonical_mapping(surfaces).collect()}
        assert len(m) == len(ids) + len(planted)
        for n in ids:
            assert m[n] == n
        assert m["Person_17"] == m["person 17"] == m["PERSON-17"] == "PERSON-17"
        assert m["Org_3"] == m["org 3"] == "Org_3"

    def test_fuzzy_chain_resolves_to_min_member(self, spark, monkeypatch):
        from pyrdf2vec_spark import canon

        calls = []

        def counted(edges, *args, **kwargs):
            calls.append(1)
            return connected_components(edges, *args, **kwargs)

        monkeypatch.setattr(canon, "connected_components", counted)
        # shingle Jaccard: a~b 0.73, b~c 0.73, a~c 0.52 — a chain of
        # three key groups with digit runs "5"; "... 6" is closer to a
        # (0.81) than b is, but its digit run differs
        chain = [
            "Northwind_Traders-5", "northwind traders 5",
            "northwind tradurs 5", "northwynd tradurs 5",
        ]
        surfaces = spark.createDataFrame(
            [(n,) for n in chain + ["northwind traders 6"]], "name string"
        )
        m = {
            r["name"]: r["canonical"]
            for r in canonical_mapping(surfaces, jaccard_threshold=0.7).collect()
        }
        assert calls
        assert {m[n] for n in chain} == {min(chain)}
        assert m["northwind traders 6"] == "northwind traders 6"

    def test_exact_key_variants_skip_connected_components(
        self, spark, monkeypatch
    ):
        from pyrdf2vec_spark import canon

        def boom(*args, **kwargs):
            raise AssertionError("connected_components ran without pairs")

        monkeypatch.setattr(canon, "connected_components", boom)
        surfaces = spark.createDataFrame(
            [("Person_17",), ("person 17",), ("PERSON-17",), ("city 4",)],
            "name string",
        )
        m = {r["name"]: r["canonical"] for r in canonical_mapping(surfaces).collect()}
        assert m == {
            "Person_17": "PERSON-17",
            "person 17": "PERSON-17",
            "PERSON-17": "PERSON-17",
            "city 4": "city 4",
        }


class TestApplyMapping:
    def test_triples_rewritten(self, spark):
        triples = spark.createDataFrame(
            [("person 17", "works_at", "org 3"), ("Person_17", "knows", "person 4")],
            "subj string, pred string, obj string",
        )
        mapping = spark.createDataFrame(
            [("person 17", "Person_17"), ("org 3", "org 3")],
            "name string, canonical string",
        )
        got = {
            (r["subj"], r["pred"], r["obj"])
            for r in canonicalize_triples(triples, mapping).collect()
        }
        assert ("Person_17", "works_at", "org 3") in got
        assert ("Person_17", "knows", "person 4") in got
