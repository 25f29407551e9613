"""End-to-end orchestration with checkpoint-resumable stage manifests.

Facade parity: RDF2VecTransformer (pyrdf2vec/rdf2vec.py:88-236) —
fit / transform / fit_transform over (kg, entities). North-rule additions:
each stage writes its output as a partitioned parquet table (Iceberg when a
catalog is configured) plus a manifest row (stage, input fingerprint, row
count, partitions, metrics); a rerun skips stages whose manifest matches —
that IS the checkpoint-resume contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyrdf2vec_spark.canon import canonical_mapping, canonicalize_triples
from pyrdf2vec_spark.embed import SparkWord2Vec
from pyrdf2vec_spark.extract import extract_triples, triples_only
from pyrdf2vec_spark.graph import SparkKG
from pyrdf2vec_spark.walks import (
    bfs_canonical_walks,
    combine_with_reverse,
    dfs_canonical_walks,
    wl_walks,
)


def _df_fingerprint(df: DataFrame) -> str:
    """Input-identity fingerprint for stage manifests: Catalyst's
    semanticHash (covers source paths, schema, and — for local
    relations — the literal data in the plan) plus the resolved input
    file list. Plan-level, so no data scan; a file rewritten in place
    with identical paths is the one case it cannot see, documented in
    the manifest contract."""
    try:
        sh = str(df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        sh = "0"
    try:
        files = "|".join(sorted(df.inputFiles()))
    except Exception:
        files = ""
    return hashlib.md5(f"{sh}|{files}".encode()).hexdigest()[:16]


class StageManifest:
    """Append-only JSON-lines manifest. One row per completed stage run:
    per-partition lineage comes from Spark's own parquet metadata; the
    manifest records the logical lineage (stage → fingerprint → path)."""

    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.path = os.path.join(base_dir, "manifest.jsonl")

    def lookup(self, stage: str, fingerprint: str) -> dict | None:
        if not os.path.exists(self.path):
            return None
        found = None
        with open(self.path) as f:
            for line in f:
                row = json.loads(line)
                if (
                    row["stage"] == stage
                    and row["input_fingerprint"] == fingerprint
                    and row["status"] == "ok"
                ):
                    found = row
        return found

    def record(self, stage: str, fingerprint: str, output_path: str,
               row_count: int, num_partitions: int, metrics: dict) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps({
                "stage": stage,
                "input_fingerprint": fingerprint,
                "output_path": output_path,
                "row_count": row_count,
                "num_partitions": num_partitions,
                "metrics_json": json.dumps(metrics),
                "status": "ok",
            }) + "\n")


class RDF2VecPipeline:
    """transcripts → triples → canonicalize → graph → walks → Word2Vec.

    Args mirror the reference transformer's knobs (walker list collapses
    to strategy + params; embedder is MLlib Word2Vec).
    """

    def __init__(
        self,
        max_depth: int = 2,
        max_walks: int | None = None,
        walker: str = "random",  # random | wl
        sampler: str = "uniform",
        with_reverse: bool = False,
        wl_iterations: int = 4,
        vector_size: int = 64,
        seed: int = 42,
        md5_bytes: int | None = 8,
        checkpoint_dir: str | None = None,
        canonicalize: bool = True,
        min_count: int = 0,
        max_vocab_size: int | None = None,
    ):
        self.max_depth = max_depth
        self.max_walks = max_walks
        self.walker = walker
        self.sampler = sampler
        self.with_reverse = with_reverse
        self.wl_iterations = wl_iterations
        self.vector_size = vector_size
        self.seed = seed
        self.md5_bytes = md5_bytes
        self.canonicalize = canonicalize
        self.min_count = min_count
        self.max_vocab_size = max_vocab_size
        self.manifest = StageManifest(checkpoint_dir) if checkpoint_dir else None
        # min_count/max_vocab_size: the driver-memory levers for the
        # vocab guard (SURVEY §5.4.6) — an open vocab at corpus scale
        # must be pruned before MLlib's driver-side vocab build
        self.embedder = SparkWord2Vec(
            vector_size=vector_size,
            seed=seed,
            min_count=min_count,
            max_vocab_size=max_vocab_size,
        )
        self.walks_: DataFrame | None = None
        self.kg_: SparkKG | None = None
        self._graph_fp: str | None = None
        self.timings_: dict[str, float] = {}

    # -- stage helper -------------------------------------------------
    def _stage(self, spark: SparkSession, name: str, fingerprint: str,
               build, schema_hint: str | None = None) -> DataFrame:
        t0 = time.perf_counter()
        if self.manifest:
            hit = self.manifest.lookup(name, fingerprint)
            if hit and os.path.exists(hit["output_path"]):
                self.timings_[name] = 0.0
                return spark.read.parquet(hit["output_path"])
        df = build()
        if self.manifest:
            # fingerprint-scoped path: two runs with different inputs in
            # one checkpoint_dir must not overwrite each other's parquet
            # (the manifest maps (stage, fingerprint) → path)
            suffix = hashlib.md5(fingerprint.encode()).hexdigest()[:12]
            out = os.path.join(self.manifest.base_dir, f"{name}-{suffix}")
            df.write.mode("overwrite").parquet(out)
            df = spark.read.parquet(out)
            n = df.count()
            self.manifest.record(
                name, fingerprint, out, n, df.rdd.getNumPartitions(),
                {"sec": time.perf_counter() - t0},
            )
        self.timings_[name] = time.perf_counter() - t0
        return df

    # -- stages --------------------------------------------------------
    def build_graph(self, transcripts: DataFrame) -> SparkKG:
        spark = transcripts.sparkSession
        # input identity folds into the stage key, and each downstream
        # stage folds its upstream's key — rerunning with the same
        # checkpoint_dir on DIFFERENT transcripts rebuilds instead of
        # silently reusing stale parquet
        fp = f"transcripts:{self.seed}:{_df_fingerprint(transcripts)}"
        mentions = self._stage(
            spark, "extract", fp, lambda: extract_triples(transcripts)
        )
        triples = triples_only(mentions)
        fp = f"{fp}>extract"
        if self.canonicalize:
            # one scan of the extract stage; canonical_mapping's key
            # aggregation dedups the names
            surfaces = mentions.select(
                F.explode(F.array("subj", "obj")).alias("name")
            )
            mapping = self._stage(
                spark, "canon", fp, lambda: canonical_mapping(surfaces)
            )
            triples = canonicalize_triples(triples, mapping)
            fp = f"{fp}>canon"
        triples = self._stage(spark, "triples", fp, lambda: triples.dropDuplicates())
        self._graph_fp = f"{fp}>triples"
        self.kg_ = SparkKG(triples)
        return self.kg_

    def _walk_corpus(self, kg: SparkKG, entities: DataFrame) -> DataFrame:
        """Walks from ``entities`` over ``kg`` with this pipeline's
        walker, sampler, depth, walk budget and reverse setting — the
        one walk dispatch behind both ``get_walks`` and ``update``."""
        if self.walker == "wl":
            return wl_walks(
                kg, entities, self.max_depth, self.max_walks,
                self.wl_iterations, self.md5_bytes,
                self.with_reverse, self.sampler, self.seed,
            )
        # every branch below is token-fused: canonicalization rides
        # the walk build via an O(|V|) token join — no entity name
        # ever reaches the driver (an IN-list/collect is an OOM at
        # millions of seeds)
        if self.max_walks is None:
            fwd = bfs_canonical_walks(
                kg, entities, self.max_depth, self.md5_bytes,
                keep_root=False, seed_entities=entities,
            )
            if not self.with_reverse:
                return fwd
            rev = bfs_canonical_walks(
                kg, entities, self.max_depth, self.md5_bytes,
                keep_root=False, seed_entities=entities,
                is_reverse=True,
            )
            return combine_with_reverse(fwd, rev)
        return dfs_canonical_walks(
            kg, entities, self.max_depth, self.max_walks,
            self.md5_bytes, sampler=self.sampler, seed=self.seed,
            with_reverse=self.with_reverse, seed_entities=entities,
        )

    def get_walks(self, kg: SparkKG, entities: DataFrame) -> DataFrame:
        missing = kg.missing_entities(entities)
        if not missing.isEmpty():
            sample = [r[0] for r in missing.limit(5).collect()]
            raise ValueError(
                f"The provided entities must exist in the KG; missing: {sample}"
            )
        spark = entities.sparkSession
        # graph identity: the upstream chained key when this pipeline
        # built the kg, else a plan fingerprint of the caller's edges
        graph_fp = getattr(self, "_graph_fp", None) or _df_fingerprint(
            kg.edges
        )
        fp = (
            f"{graph_fp}>{self.walker}:{self.max_depth}:{self.max_walks}:"
            f"{self.sampler}:{self.with_reverse}:{self.seed}:"
            f"{self.md5_bytes}:{_df_fingerprint(entities)}"
        )

        self.walks_ = self._stage(
            spark, "walks", fp, lambda: self._walk_corpus(kg, entities)
        )
        return self.walks_

    # -- reference-shaped API (rdf2vec.py:88-236) ----------------------
    def fit(self, kg: SparkKG, entities: DataFrame) -> "RDF2VecPipeline":
        walks = self.get_walks(kg, entities)
        t0 = time.perf_counter()
        self.embedder.fit(walks)
        self.timings_["word2vec"] = time.perf_counter() - t0
        return self

    def transform(self, kg: SparkKG, entities: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(embeddings, literals) — rdf2vec.py:201-236."""
        emb = self.embedder.transform(entities)
        lits = kg.get_literals(entities)
        return emb, lits

    def fit_transform(
        self, kg: SparkKG, entities: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        self.fit(kg, entities)
        return self.transform(kg, entities)

    # -- O6: online update (rdf2vec.py:248-272 + is_update) ------------
    def update(self, new_transcripts: DataFrame) -> DataFrame:
        """Online update: merge triples extracted from NEW transcripts
        into the graph, re-extract walks for every entity the new
        triples touch with the walk configuration ``fit`` uses, REPLACE
        those entities' stored walks (the reference's
        _pos_entities/_pos_walks in-place swap), and refit Word2Vec
        over the merged corpus (gensim's incremental
        ``is_update`` has no MLlib analogue — the persisted corpus
        makes the refit exact; documented divergence SURVEY.md E1).

        Returns the refreshed embeddings for the affected entities.
        """
        if self.kg_ is None or self.walks_ is None:
            raise ValueError("call fit()/run() before update()")
        new_triples = triples_only(extract_triples(new_transcripts))
        merged = self.kg_.edges.selectExpr(
            "src as subj", "pred", "dst as obj"
        ).unionByName(new_triples)
        self.kg_ = SparkKG(merged)
        self._graph_fp = None  # merged graph: recompute from plan on use
        affected = (
            new_triples.select(F.col("subj").alias("name"))
            .union(new_triples.select(F.col("obj").alias("name")))
            .distinct()
        )
        new_walks = self._walk_corpus(self.kg_, affected)
        kept = self.walks_.join(
            affected.withColumnRenamed("name", "entity"), "entity",
            "left_anti",
        )
        self.walks_ = kept.unionByName(new_walks).localCheckpoint(eager=True)
        self.embedder.fit(self.walks_)
        return self.embedder.transform(affected)

    # -- whole-pipeline save/load (rdf2vec.py:238-292) ------------------
    _CONFIG_KEYS = (
        "max_depth", "max_walks", "walker", "sampler", "with_reverse",
        "wl_iterations", "vector_size", "seed", "md5_bytes", "canonicalize",
        "min_count", "max_vocab_size",
    )

    def save(self, path: str) -> None:
        """One-call persistence of the fitted pipeline — the Spark
        counterpart of the reference's transformer pickle
        (rdf2vec.py:238-246): config JSON + Word2Vec model + the walk
        corpus and triples as parquet (both needed by update())."""
        os.makedirs(path, exist_ok=True)
        cfg = {k: getattr(self, k) for k in self._CONFIG_KEYS}
        with open(os.path.join(path, "pipeline.json"), "w") as f:
            json.dump(cfg, f)
        if self.embedder.model is not None:
            self.embedder.save(os.path.join(path, "word2vec"))
        if self.walks_ is not None:
            self.walks_.write.mode("overwrite").parquet(
                os.path.join(path, "walks")
            )
        if self.kg_ is not None:
            self.kg_.edges.selectExpr(
                "src as subj", "pred", "dst as obj"
            ).write.mode("overwrite").parquet(os.path.join(path, "triples"))

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "RDF2VecPipeline":
        """Reconstruct a saved pipeline; raises ValueError when the path
        does not hold one (rdf2vec.py:274-292 contract)."""
        cfg_path = os.path.join(path, "pipeline.json")
        if not os.path.exists(cfg_path):
            raise ValueError(
                f"Failed to load the RDF2VecPipeline object: {path!r} has "
                "no pipeline.json"
            )
        with open(cfg_path) as f:
            cfg = json.load(f)
        pipe = cls(**cfg)
        w2v_path = os.path.join(path, "word2vec")
        if os.path.exists(w2v_path):
            pipe.embedder.load(w2v_path)
        walks_path = os.path.join(path, "walks")
        if os.path.exists(walks_path):
            pipe.walks_ = spark.read.parquet(walks_path)
        triples_path = os.path.join(path, "triples")
        if os.path.exists(triples_path):
            pipe.kg_ = SparkKG(spark.read.parquet(triples_path))
        return pipe

    # -- full end-to-end from raw transcripts --------------------------
    def run(
        self, transcripts: DataFrame, entities: DataFrame | None = None
    ) -> DataFrame:
        """transcripts → embeddings for every entity in the graph (or the
        provided subset). Returns the embeddings DataFrame."""
        kg = self.build_graph(transcripts)
        if entities is None:
            entities = kg.entity_names()
        self.fit(kg, entities)
        return self.embedder.transform(entities)
