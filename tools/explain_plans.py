"""Capture physical plans for the headline operators → BENCH/PLANS.md.

The things worth eyeballing per plan:
- parquet scans show PushedFilters / narrow ReadSchema (column pruning)
- joins pick BroadcastHashJoin for dim-sized sides
- expression-only operators sit inside WholeStageCodegen spans
- no CartesianProduct anywhere
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from pyrdf2vec_spark.graph import SparkKG
from pyrdf2vec_spark.session import get_spark
from pyrdf2vec_spark.sources.tpch_graph import load_tables, tpch_triples
from pyrdf2vec_spark.walks import bfs_canonical_walks

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan(df, max_lines: int | None = None) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    if max_lines is not None:
        lines = text.splitlines()
        if len(lines) > max_lines:
            # deep loop plans re-print every cached InMemoryRelation's
            # full sub-plan; the properties the heading asks for are all
            # in the operator tree head, so cap the dump
            text = "\n".join(lines[:max_lines]) + (
                f"\n... [{len(lines) - max_lines} more lines elided — "
                "nested InMemoryRelation re-prints]\n"
            )
    return text


def main():
    spark = get_spark("plans", shuffle_partitions=8)
    t = load_tables(spark, SF)
    kg = SparkKG(tpch_triples(t))
    sections = []

    # 1. column pruning + pushdown on the triples scan
    scan = t["lineitem"].select("l_orderkey", "l_partkey").where(
        F.col("l_orderkey") < 100
    )
    sections.append(("lineitem 2-column scan with filter "
                     "(expect PushedFilters + 2-column ReadSchema)", plan(scan)))

    # 2. sampler aggregation (expect partial_count map-side combine)
    agg = kg.edges.groupBy("dst").agg(F.count("*").alias("weight"))
    sections.append(("objfreq sampler aggregation "
                     "(expect HashAggregate partial → final)", plan(agg)))

    # 3. BFS walk join (expect BroadcastHashJoin at this edge count)
    seeds = kg.entity_names().where(F.col("name").startswith("c:"))
    walks = bfs_canonical_walks(kg, seeds, 2, md5_bytes=8, keep_root=True)
    sections.append(("fused BFS depth-2 + canonicalization "
                     "(expect BroadcastHashJoin, no shuffle of the frontier)",
                     plan(walks)))

    # 4. existence anti-join
    probe = seeds.union(spark.createDataFrame([("ghost:1",)], "name string"))
    missing = kg.missing_entities(probe)
    sections.append(("existence gate (expect BroadcastHashJoin LeftAnti)",
                     plan(missing)))

    # 5. IVF centroid selection (expect TakeOrderedAndProject, NO
    # single-partition Exchange of the corpus — the round-1 plan pulled
    # every row through one Window task)
    from pyrdf2vec_spark.functions.dedup import embedding_neardup_pairs
    from pyrdf2vec_spark.functions.similarity import ivf_centroids, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections.append((
        "IVF centroid selection "
        "(expect TakeOrderedAndProject; Window only AFTER the 16-row limit)",
        plan(ivf_centroids(emb, 16)),
    ))

    # 6. IVF top-k (expect broadcast of centroids + query side)
    sections.append((
        "IVF approximate top-k "
        "(expect BroadcastHashJoins, per-query Window partitioned by query_id)",
        plan(ivf_topk(emb, emb.where(F.col("vec_id") < 10), k=5)),
    ))

    # 7. embedding near-dup via IVF cells (expect join on centroid_id,
    # no CartesianProduct, no all-corpus single-partition exchange)
    sections.append((
        "embedding near-dup, IVF-cell blocked "
        "(expect equi-join on centroid_id; no CartesianProduct)",
        plan(embedding_neardup_pairs(emb, threshold=0.5)),
    ))

    # 8. encoded-corpus layout (bench q8): dictionary-encoded BFS walks
    # + vocab off the per-KG indexed name table. Expect: the dense-index
    # offsets joined via BroadcastHashJoin (a partition-count-sized
    # table), frontier joins broadcast at this edge count, and NO
    # vocab-wide union+distinct stage (the round-3 shape) anywhere.
    from pyrdf2vec_spark.walks import bfs_encoded_walks

    enc_walks, enc_vocab = bfs_encoded_walks(kg, seeds, 2, md5_bytes=8)
    sections.append((
        "encoded BFS walks, q8 corpus layout "
        "(expect broadcast of dense-index offsets; no union+distinct "
        "vocab stage)",
        plan(enc_walks, max_lines=400),
    ))
    sections.append((
        "encoded-corpus vocab table "
        "(expect union of the indexed name table's three id roles — "
        "md5 / verbatim-seed / predicate-tail — no global sort)",
        plan(enc_vocab, max_lines=400),
    ))

    # 10. document MinHash-LSH pairs (bench q6): every LSH exchange —
    # bucket count, band self-join, pair distinct — carries the 8-byte
    # representative doc_id and shingle hashes, never the text. Expect
    # one Exchange whose hashpartitioning key is the raw `text` column
    # (the representative-id hash-agg) per self-join side — the two
    # sides are one subtree, which AQE runs once (ReusedExchange); every
    # later hashpartitioning uses `name`/`a`/`b` bigints or band
    # columns, so full documents never ride a shuffle past the first agg.
    from pyrdf2vec_spark.functions.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append((
        "document MinHash-LSH near-dup pairs "
        "(expect one text-keyed Exchange — the representative-id agg — "
        "per self-join side, reused at run time, then bigint- or "
        "band-keyed exchanges only)",
        plan(minhash_dedup_pairs(docs, jaccard_threshold=0.5), max_lines=400),
    ))

    out = ["# Physical plans — headline operators\n"]
    out.append("Generated by tools/explain_plans.py at sf0.01. What to "
               "check per plan is noted in each heading.\n")
    for title, text in sections:
        out.append(f"## {title}\n\n```\n{text}\n```\n")
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")


if __name__ == "__main__":
    main()
