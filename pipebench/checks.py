"""Output checks computed apart from the program: DuckDB over the files
the program wrote, against the planted inputs and hashlib.

Each check appends a message per fault it finds to a list (left empty
when the output is right) and fills a dict of exact counts that the
traced run reports.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd



def md5_repr(name: str, md5_bytes: int = 8) -> str:
    """The walk token of a non-seed vertex: str() of its md5 prefix."""
    return str(hashlib.md5(name.encode()).digest()[:md5_bytes])


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def token_map(con, names: list[str], seeds: set[str]) -> None:
    """Table tokmap(name, token, mtoken): the token each vertex takes in
    a walk (verbatim for seeds, md5 repr otherwise) and its md5 repr."""
    rows = [(n, n if n in seeds else md5_repr(n), md5_repr(n)) for n in names]
    con.register(
        "tokmap_df", pd.DataFrame(rows, columns=["name", "token", "mtoken"])
    )
    con.execute("CREATE OR REPLACE TABLE tokmap AS SELECT * FROM tokmap_df")


def load_corpus(con, table: str, path: str) -> None:
    con.execute(
        f"CREATE OR REPLACE TABLE {table} AS SELECT row_number() OVER () AS wid,"
        f" entity, walk, array_to_string(walk, chr(31)) AS w FROM {_pq(path)}"
    )


def corpus_counts(con, table: str) -> tuple[int, int]:
    walks, tokens = con.execute(
        f"SELECT count(*), coalesce(sum(len(walk)), 0) FROM {table}"
    ).fetchone()
    return int(walks), int(tokens)


def split_entities(con, table: str) -> int:
    """Entities that occur in the corpus both verbatim and as their md5
    repr: Word2Vec learns two vectors for each of them."""
    return con.execute(
        f"""WITH toks AS (SELECT DISTINCT unnest(walk) AS t FROM {table})
        SELECT count(*) FROM tokmap
        WHERE name IN (SELECT t FROM toks) AND mtoken IN (SELECT t FROM toks)"""
    ).fetchone()[0]


def bfs_walks(con, edges: str, seeds: str, depth: int, out: str) -> None:
    """Breadth-first walks of ``depth`` hops from every seed, the way the
    program defines them: a walk whose head has no out-edge stays as it
    is, every other walk branches once per out-edge."""
    con.execute(
        f"""CREATE OR REPLACE TABLE {out} AS
        SELECT s.name AS entity, s.name AS cur, [t.token] AS walk
        FROM {seeds} s JOIN tokmap t ON t.name = s.name"""
    )
    for _ in range(depth):
        con.execute(
            f"""CREATE OR REPLACE TABLE {out} AS
            SELECT w.entity, coalesce(e.dst, w.cur) AS cur,
              CASE WHEN e.src IS NULL THEN w.walk
                   ELSE list_concat(w.walk, [e.pred, t.token]) END AS walk
            FROM {out} w LEFT JOIN {edges} e ON e.src = w.cur
            LEFT JOIN tokmap t ON t.name = e.dst"""
        )
    con.execute(
        f"CREATE OR REPLACE TABLE {out} AS SELECT entity, walk,"
        f" array_to_string(walk, chr(31)) AS w FROM {out}"
    )


def multiset_diff(con, a: str, b: str, where: str = "TRUE") -> int:
    """Rows of (entity, walk) in one table and not the other, both ways."""
    return sum(
        con.execute(
            f"SELECT count(*) FROM (SELECT entity, w FROM {x} WHERE {where} "
            f"EXCEPT ALL SELECT entity, w FROM {y} WHERE {where})"
        ).fetchone()[0]
        for x, y in ((a, b), (b, a))
    )


def vectors_ok(con, path: str, entities: str, size: int, fails: list) -> None:
    """Exactly one finite vector of ``size`` per entity."""
    con.execute(
        f"CREATE OR REPLACE TABLE vec AS SELECT word, vector FROM {_pq(path)}"
    )
    dup, bad = con.execute(
        f"""SELECT count(*) - count(DISTINCT word),
        count(*) FILTER (WHERE len(vector) <> {size}
          OR list_filter(vector, x -> NOT isfinite(x)) <> [])
        FROM vec WHERE word IN (SELECT name FROM {entities})"""
    ).fetchone()
    missing = con.execute(
        f"SELECT count(*) FROM {entities} WHERE name NOT IN (SELECT word FROM vec)"
    ).fetchone()[0]
    if dup or bad or missing:
        fails.append(
            f"vectors: {missing} missing, {dup} duplicated, {bad} malformed"
        )


def check_sampled_walks(
    con, corpus: str, edges: str, depth: int, max_walks: int, fails: list
) -> None:
    """Sampled walks: each starts at its root, every hop is an edge, no
    walk is longer than 2*depth+1 tokens, a shorter walk ends at a vertex
    without out-edges, and no root has more than ``max_walks`` walks."""
    bad_root, too_long = con.execute(
        f"""SELECT count(*) FILTER (WHERE walk[1] <> t.token OR t.token IS NULL),
        count(*) FILTER (WHERE len(walk) > {2 * depth + 1} OR len(walk) % 2 = 0)
        FROM {corpus} c LEFT JOIN tokmap t ON t.name = c.entity"""
    ).fetchone()
    bad_hops = con.execute(
        f"""WITH h AS (
          SELECT wid, walk[2 * k - 1] AS a, walk[2 * k] AS p, walk[2 * k + 1] AS b
          FROM (SELECT wid, walk, unnest(range(1, (len(walk) - 1) // 2 + 1)) AS k
                FROM {corpus}))
        SELECT count(*) FROM h
        LEFT JOIN tokmap ta ON ta.token = h.a
        LEFT JOIN tokmap tb ON tb.token = h.b
        LEFT JOIN {edges} e ON e.src = ta.name AND e.pred = h.p AND e.dst = tb.name
        WHERE e.src IS NULL"""
    ).fetchone()[0]
    early = con.execute(
        f"""SELECT count(*) FROM {corpus} c JOIN tokmap t ON t.token = c.walk[-1]
        WHERE len(c.walk) < {2 * depth + 1}
          AND t.name IN (SELECT src FROM {edges})"""
    ).fetchone()[0]
    over = con.execute(
        f"""SELECT count(*) FROM (SELECT entity FROM {corpus} GROUP BY entity
        HAVING count(*) > {max_walks})"""
    ).fetchone()[0]
    for what, n in (
        ("walks not starting at their root", bad_root),
        ("walks of a wrong length", too_long),
        ("hops that are not edges", bad_hops),
        ("walks ending early at a vertex with out-edges", early),
        ("roots with more than max_walks walks", over),
    ):
        if n:
            fails.append(f"{what}: {n}")


def check_graph(con, planted: pd.DataFrame, mentions: str, mapping: str,
                edges: str, counts: dict, fails: list) -> None:
    """Extraction, canonicalization and edges against the planted
    mentions.

    - the extracted mentions equal the planted ones;
    - all mentions of one planted entity end at one id (else a missed
      merge); two planted entities ending at one id is a false merge;
    - edge precision and recall against the planted triples are >= 0.95.
    """
    con.register("planted_df", planted)
    con.execute("CREATE OR REPLACE TABLE planted AS SELECT * FROM planted_df")
    con.execute(
        f"CREATE OR REPLACE TABLE mentions AS SELECT conv_id, turn_idx, subj,"
        f" pred, obj FROM {_pq(mentions)}"
    )
    key = "conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, subj, pred, obj"
    off = con.execute(
        f"""SELECT (SELECT count(*) FROM (SELECT {key} FROM mentions
                    EXCEPT ALL SELECT {key} FROM planted)),
                   (SELECT count(*) FROM (SELECT {key} FROM planted
                    EXCEPT ALL SELECT {key} FROM mentions))"""
    ).fetchone()
    counts["extract.mentions"] = con.execute(
        "SELECT count(*) FROM mentions"
    ).fetchone()[0]
    if off[0] or off[1]:
        fails.append(f"mentions: {off[0]} not planted, {off[1]} not extracted")
    con.execute(
        f"CREATE OR REPLACE TABLE canon AS SELECT name, canonical FROM {_pq(mapping)}"
    )
    # planted entity -> ids its mentions end at after canonicalization
    con.execute(
        """CREATE OR REPLACE TABLE ends AS
        WITH m AS (
          SELECT p.subj AS ent, x.subj AS got FROM planted p JOIN mentions x
            USING (conv_id, turn_idx)
          UNION ALL
          SELECT p.obj, x.obj FROM planted p JOIN mentions x USING (conv_id, turn_idx))
        SELECT DISTINCT m.ent, coalesce(c.canonical, m.got) AS id
        FROM m LEFT JOIN canon c ON c.name = m.got"""
    )
    missed, false = con.execute(
        """SELECT (SELECT count(*) FROM (SELECT ent FROM ends GROUP BY ent
                   HAVING count(*) > 1)),
                  (SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(DISTINCT ent) AS n
                   FROM ends GROUP BY id))"""
    ).fetchone()
    counts["canon.missed_merges"] = int(missed)
    counts["canon.false_merges"] = int(false)
    if missed:
        fails.append(f"planted entities split over several ids: {missed}")
    n_edges, hit, n_truth = con.execute(
        f"""SELECT (SELECT count(*) FROM {edges}),
        (SELECT count(*) FROM {edges} e JOIN (SELECT DISTINCT subj, pred, obj
          FROM planted) t ON e.src = t.subj AND e.pred = t.pred AND e.dst = t.obj),
        (SELECT count(*) FROM (SELECT DISTINCT subj, pred, obj FROM planted))"""
    ).fetchone()
    counts["graph.edges"] = int(n_edges)
    precision = hit / n_edges if n_edges else 0.0
    recall = hit / n_truth if n_truth else 0.0
    if min(precision, recall) < 0.95:
        fails.append(f"edge precision {precision:.4f} / recall {recall:.4f} < 0.95")


def load_edges(con, table: str, path: str, cols: str = "src, pred, dst") -> None:
    con.execute(
        f"CREATE OR REPLACE TABLE {table} AS SELECT DISTINCT {cols}"
        f" FROM {_pq(path)}"
    )
