"""Canonicalization: MinHash-LSH blocking + connected components."""

import pytest
from pyspark.sql import functions as F

from pyrdf2vec_spark.canon import (
    candidate_pairs,
    canonical_mapping,
    canonicalize_triples,
    connected_components,
)


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
