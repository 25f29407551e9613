"""The benchmark's workloads: inputs, one-off program state, one job
through the public API of ``pyrdf2vec_spark``, and the job's checks.

A job is one user-visible unit of work. Every job of a run does the same
work on the same inputs, so a run is whole rounds of one operation. The
first job of a run is the first job of a fresh Spark application, the
way a scheduled batch build or refresh runs.
"""

from __future__ import annotations

import json
import os

import checks
import inputs

VECTOR_SIZE = 32
MAX_DEPTH = 2
MAX_WALKS = 8
TRIPLE_COLS = "subj AS src, pred, obj AS dst"  # a saved pipeline's triples


def _stage_paths(ckpt: str) -> dict[str, str]:
    with open(os.path.join(ckpt, "manifest.jsonl")) as f:
        return {r["stage"]: r["output_path"] for r in map(json.loads, f)}


def files_written(path: str) -> int:
    """Data files under ``path`` (checksums and markers not counted)."""
    return sum(
        1 for _, _, fs in os.walk(path) for n in fs
        if not n.endswith(".crc") and n != "_SUCCESS"
    )


class TranscriptsBuild:
    """Transcripts -> graph -> sampled walks -> embeddings, from scratch.

    Job: ``RDF2VecPipeline.build_graph`` with a fresh checkpoint dir,
    ``storage.materialize_kg``, ``fit`` over the person entities
    (sampled depth-first walks, object-frequency sampler) and the
    embeddings written with ``storage.write_table``.
    """

    name = "transcripts_build"
    N_CONVS, TURNS = 400, 10

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.con = checks.connect()

    def make_inputs(self) -> None:
        table, self.planted = inputs.transcripts(
            self.seed, self.N_CONVS, self.TURNS, stream=0
        )
        self.path = os.path.join(self.work, "transcripts.parquet")
        inputs.write_parquet(table, self.path)

    def setup(self, spark) -> None:
        self.spark = spark
        self.transcripts = spark.read.parquet(self.path)

    def check_setup(self) -> list[str]:
        return []

    def job(self, out: str):
        from pyrdf2vec_spark import RDF2VecPipeline, storage

        pipe = RDF2VecPipeline(
            max_depth=MAX_DEPTH, max_walks=MAX_WALKS, sampler="objfreq",
            vector_size=VECTOR_SIZE, checkpoint_dir=os.path.join(out, "ckpt"),
        )
        kg = pipe.build_graph(self.transcripts)
        storage.materialize_kg(kg, os.path.join(out, "kg"))
        people = self._people(kg)
        pipe.fit(kg, people)
        emb = pipe.embedder.transform(people)
        storage.write_table(emb, "embeddings", os.path.join(out, "embeddings"))
        return pipe

    @staticmethod
    def _people(kg):
        from pyspark.sql import functions as F

        return kg.entity_names().where(F.col("name").startswith("person_"))

    @staticmethod
    def _walks_again(pipe):
        from pyrdf2vec_spark import dfs_canonical_walks

        people = TranscriptsBuild._people(pipe.kg_)
        return dfs_canonical_walks(
            pipe.kg_, people, MAX_DEPTH, MAX_WALKS, sampler="objfreq",
            seed=pipe.seed, seed_entities=people)

    def check(self, pipe, out: str, counts: dict) -> tuple[list[str], bool]:
        con, fails = self.con, []
        stages = _stage_paths(os.path.join(out, "ckpt"))
        checks.load_edges(con, "edges", os.path.join(out, "kg", "edges"))
        checks.check_graph(con, self.planted, stages["extract"],
                           stages["canon"], "edges", counts, fails)
        con.execute(
            """CREATE OR REPLACE TABLE seeds AS SELECT DISTINCT name FROM
            (SELECT src AS name FROM edges UNION SELECT dst FROM edges)
            WHERE name LIKE 'person\\_%' ESCAPE '\\'"""
        )
        names = [r[0] for r in con.execute(
            "SELECT src FROM edges UNION SELECT dst FROM edges").fetchall()]
        seeds = {r[0] for r in con.execute("SELECT name FROM seeds").fetchall()}
        checks.token_map(con, names, seeds)
        checks.load_corpus(con, "corpus", stages["walks"])
        checks.check_sampled_walks(con, "corpus", "edges", MAX_DEPTH,
                                   MAX_WALKS, fails)
        rootless = con.execute(
            "SELECT count(*) FROM seeds WHERE name NOT IN (SELECT entity FROM corpus)"
        ).fetchone()[0]
        if rootless:
            fails.append(f"seed entities without walks: {rootless}")
        # same graph, seeds and sampling seed: a second walk run samples
        # the same walks
        again = os.path.join(out, "walks_again")
        self._walks_again(pipe).write.parquet(again)
        checks.load_corpus(con, "again", again)
        if checks.multiset_diff(con, "corpus", "again"):
            fails.append("a second same-seed walk run sampled other walks")
        checks.vectors_ok(con, os.path.join(out, "embeddings"), "seeds",
                          VECTOR_SIZE, fails)
        counts["walks.walks"], counts["walks.tokens"] = checks.corpus_counts(
            con, "corpus")
        counts["walks.split_entities"] = checks.split_entities(con, "corpus")
        counts["embed.tokens"] = counts["walks.tokens"]
        return fails, False

    def traced_counts(self, pipe, out: str, counts: dict) -> None:
        """Counts the traced run takes from the program after a job."""
        from pyspark.sql import functions as F
        from pyrdf2vec_spark import canon

        mentions = self.spark.read.parquet(
            _stage_paths(os.path.join(out, "ckpt"))["extract"])
        surfaces = mentions.select(F.col("subj").alias("name")).union(
            mentions.select(F.col("obj").alias("name"))).distinct()
        # LSH-blocked pairs before the Jaccard verification
        counts["canon.candidate_pairs"] = canon.candidate_pairs(
            surfaces, jaccard_threshold=0.0).count()
        counts["pipeline.stages_skipped"] = sum(
            1 for k, v in pipe.timings_.items() if k != "word2vec" and v == 0.0)
        counts["embed.vocab"] = pipe.embedder.vectors().count()
        counts["walks.tokens_spark"] = pipe.walks_.selectExpr(
            "sum(size(walk))").first()[0]


class IncrementalUpdate:
    """Refresh a saved pipeline with a small batch of new conversations.

    Set-up fits and saves a breadth-first pipeline over a base table.
    Job: ``RDF2VecPipeline.load``, ``update`` with the batch, the
    refreshed embeddings written with ``storage.write_table``, and
    ``save`` to a fresh directory.
    """

    name = "incremental_update"
    BASE_CONVS, NEW_CONVS, TURNS = 300, 6, 10

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.con = checks.connect()

    def make_inputs(self) -> None:
        base, self.base_planted = inputs.transcripts(
            self.seed, self.BASE_CONVS, self.TURNS, stream=1)
        new, self.new_planted = inputs.transcripts(
            self.seed, self.NEW_CONVS, self.TURNS, stream=2,
            first_conv=self.BASE_CONVS)
        self.base_path = os.path.join(self.work, "base.parquet")
        self.new_path = os.path.join(self.work, "new.parquet")
        inputs.write_parquet(base, self.base_path)
        inputs.write_parquet(new, self.new_path)

    def setup(self, spark) -> None:
        from pyrdf2vec_spark import RDF2VecPipeline

        self.spark = spark
        self.model = os.path.join(self.work, "base_model")
        pipe = RDF2VecPipeline(max_depth=MAX_DEPTH, vector_size=VECTOR_SIZE,
                               canonicalize=False)
        pipe.run(spark.read.parquet(self.base_path))
        pipe.save(self.model)
        self.new = spark.read.parquet(self.new_path)

    def check_setup(self) -> list[str]:
        """The saved base graph holds exactly the planted base triples;
        keeps its walks as the reference for unaffected entities."""
        con = self.con
        for name, df in (("base_planted", self.base_planted),
                         ("new_planted", self.new_planted)):
            con.register(name + "_df", df)
            con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT DISTINCT "
                        f"subj AS src, pred, obj AS dst FROM {name}_df")
        checks.load_edges(con, "base_edges", os.path.join(self.model, "triples"),
                          TRIPLE_COLS)
        checks.load_corpus(con, "base", os.path.join(self.model, "walks"))
        con.execute(
            """CREATE OR REPLACE TABLE affected AS SELECT DISTINCT name FROM
            (SELECT src AS name FROM new_planted UNION SELECT dst FROM new_planted)""")
        n = con.execute(
            """SELECT (SELECT count(*) FROM (SELECT * FROM base_edges EXCEPT
            SELECT * FROM base_planted)) + (SELECT count(*) FROM (SELECT * FROM
            base_planted EXCEPT SELECT * FROM base_edges))""").fetchone()[0]
        return [f"saved base graph differs from the planted triples: {n}"] if n else []

    def job(self, out: str):
        from pyrdf2vec_spark import RDF2VecPipeline, storage

        pipe = RDF2VecPipeline.load(self.spark, self.model)
        emb = pipe.update(self.new)
        storage.write_table(emb, "embeddings", os.path.join(out, "embeddings"))
        pipe.save(os.path.join(out, "model"))
        return pipe

    def check(self, pipe, out: str, counts: dict) -> tuple[list[str], bool]:
        con, fails = self.con, []
        model = os.path.join(out, "model")
        checks.load_edges(con, "merged", os.path.join(model, "triples"),
                          TRIPLE_COLS)
        missing_delta, extra = con.execute(
            """SELECT (SELECT count(*) FROM (SELECT * FROM new_planted EXCEPT
            SELECT * FROM merged)), (SELECT count(*) FROM (SELECT * FROM merged
            EXCEPT (SELECT * FROM base_planted UNION SELECT * FROM new_planted)))"""
        ).fetchone()
        if missing_delta or extra:
            fails.append(f"merged graph: {missing_delta} delta triples missing,"
                         f" {extra} triples not planted")
        names = [r[0] for r in con.execute(
            "SELECT src FROM merged UNION SELECT dst FROM merged").fetchall()]
        seeds = {r[0] for r in con.execute("SELECT name FROM affected").fetchall()}
        checks.token_map(con, names, seeds)
        checks.bfs_walks(con, "merged", "affected", MAX_DEPTH, "oracle")
        checks.load_corpus(con, "corpus", os.path.join(model, "walks"))
        is_affected = "entity IN (SELECT name FROM affected)"
        n = checks.multiset_diff(con, "corpus", "oracle", is_affected)
        if n:
            fails.append(f"affected entities' walks differ from BFS: {n} walks")
        n = checks.multiset_diff(con, "corpus", "base", f"NOT ({is_affected})")
        if n:
            fails.append(f"unaffected entities' walks changed: {n} walks")
        checks.vectors_ok(con, os.path.join(out, "embeddings"), "affected",
                          VECTOR_SIZE, fails)
        counts["graph.edges"] = con.execute(
            "SELECT count(*) FROM merged").fetchone()[0]
        counts["walks.walks"], counts["walks.tokens"] = checks.corpus_counts(
            con, "corpus")
        counts["embed.tokens"] = counts["walks.tokens"]
        # update() re-walks with only the affected entities as seeds, so
        # an unaffected entity met in those walks becomes an md5 token
        # while its own walks keep its name: one entity, two vectors
        split = checks.split_entities(con, "corpus")
        counts["walks.split_entities"] = split
        return fails, split > 0

    def traced_counts(self, pipe, out: str, counts: dict) -> None:
        from pyrdf2vec_spark.extract import extract_triples

        counts["extract.mentions"] = extract_triples(self.new).count()
        # update() neither canonicalizes nor keeps stage checkpoints
        counts.update({"canon.candidate_pairs": 0, "canon.false_merges": 0,
                       "canon.missed_merges": 0, "pipeline.stages_skipped": 0})
        counts["embed.vocab"] = pipe.embedder.vectors().count()
        counts["walks.tokens_spark"] = pipe.walks_.selectExpr(
            "sum(size(walk))").first()[0]


WORKLOADS = {w.name: w for w in (TranscriptsBuild, IncrementalUpdate)}
