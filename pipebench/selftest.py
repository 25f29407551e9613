"""Shows that each output check rejects a deliberately corrupted output.

    python3 pipebench/selftest.py

Builds small outputs in the program's file layout with pyarrow (no
Spark), checks that the right output passes, then corrupts it one way at
a time (a dropped walk, a swapped token, a missing vector, a dropped
mention, a merged entity, dropped edges) and checks that the check that
guards that property rejects it. Exits 1 if any corruption slips through.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    ".pipebench_work", f"selftest-{os.getpid()}")
EDGES = [
    ("person_1", "works_at", "org_7"), ("person_1", "knows", "person_2"),
    ("person_2", "lives_in", "city_3"), ("org_7", "based_in", "city_3"),
    ("person_3", "works_at", "org_7"),
]
SEEDS = {"person_1", "person_2"}


def write(rows: list[dict], name: str) -> str:
    path = os.path.join(WORK, name)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, "part-0.parquet"))
    return path


def oracle_corpus(con) -> list[dict]:
    checks.bfs_walks(con, "edges", "seeds", 2, "oracle")
    return [{"entity": e, "walk": list(w)} for e, w in con.execute(
        "SELECT entity, walk FROM oracle ORDER BY w").fetchall()]


def walk_failures(con, corpus: list[dict]) -> list[str]:
    """Failures of the BFS, sampled-walk and split checks on a corpus."""
    checks.load_corpus(con, "corpus", write(corpus, "corpus"))
    fails = []
    if checks.multiset_diff(con, "corpus", "oracle"):
        fails.append("differs from BFS")
    checks.check_sampled_walks(con, "corpus", "edges", 2, 8, fails)
    if checks.split_entities(con, "corpus"):
        fails.append("split entity")
    shutil.rmtree(os.path.join(WORK, "corpus"))
    return fails


def main() -> int:
    os.makedirs(WORK)
    con = checks.connect()
    results = []

    def expect(what: str, fails: list[str], rejected: bool) -> None:
        ok = bool(fails) == rejected
        results.append(ok)
        verdict = "rejected" if fails else "passed"
        print(f"{'ok ' if ok else 'BAD'} {what}: {verdict} {fails}")

    try:
        con.register("edges_df", pd.DataFrame(EDGES, columns=["src", "pred", "dst"]))
        con.execute("CREATE TABLE edges AS SELECT * FROM edges_df")
        con.execute("CREATE TABLE seeds AS SELECT unnest(?) AS name", [sorted(SEEDS)])
        names = sorted({e[0] for e in EDGES} | {e[2] for e in EDGES})
        checks.token_map(con, names, SEEDS)
        good = oracle_corpus(con)
        expect("walks as the program defines them", walk_failures(con, good), False)
        expect("a dropped walk", walk_failures(con, good[1:]), True)
        swapped = [dict(w, walk=list(w["walk"])) for w in good]
        longest = max(swapped, key=lambda w: len(w["walk"]))
        longest["walk"][2], longest["walk"][4] = longest["walk"][4], longest["walk"][2]
        expect("a swapped token", walk_failures(con, swapped), True)
        by_md5 = {checks.md5_repr(n): n for n in names}
        verbatim = [dict(w, walk=[by_md5.get(t, t) for t in w["walk"]])
                    for w in good]
        expect("a non-seed token kept verbatim", walk_failures(con, verbatim), True)

        vec = [{"word": n, "vector": [0.5] * 4} for n in sorted(SEEDS)]
        for what, rows, rejected in (
            ("one vector per entity", vec, False),
            ("a missing vector", vec[1:], True),
            ("a non-finite vector", [dict(vec[0], vector=[float("nan")] * 4)]
             + vec[1:], True),
        ):
            fails: list[str] = []
            checks.vectors_ok(con, write(rows, what.replace(" ", "_")), "seeds",
                              4, fails)
            expect(what, fails, rejected)

        planted = pd.DataFrame(
            [("c0", i, s, p, o) for i, (s, p, o) in enumerate(EDGES)],
            columns=["conv_id", "turn_idx", "subj", "pred", "obj"])
        mentions = planted.to_dict("records")
        mapping = [{"name": n, "canonical": n} for n in names]
        edges = [{"src": s, "pred": p, "dst": o} for s, p, o in EDGES]
        merged = [dict(m, canonical="person_1" if m["name"] == "person_2"
                       else m["canonical"]) for m in mapping]
        for what, m_rows, map_rows, e_rows, rejected in (
            ("the planted graph", mentions, mapping, edges, False),
            ("a dropped mention", mentions[1:], mapping, edges, True),
            ("two entities merged", mentions, merged, edges, True),
            ("dropped edges", mentions, mapping, edges[:3], True),
        ):
            fails, counts = [], {}
            tag = what.replace(" ", "_")
            checks.load_edges(con, "g_edges", write(e_rows, tag + "_edges"))
            checks.check_graph(con, planted, write(m_rows, tag + "_mentions"),
                               write(map_rows, tag + "_canon"), "g_edges",
                               counts, fails)
            if counts["canon.false_merges"]:
                fails.append(f"false merges: {counts['canon.false_merges']}")
            expect(what, fails, rejected)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # a benchmark run's directory is still there
            pass
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
