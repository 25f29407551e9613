"""Table materialization layer: Iceberg when a catalog is configured,
partitioned parquet otherwise.

The north rule materializes the graph as partitioned Iceberg vertex/edge
tables with per-partition lineage. This sandbox has no Iceberg runtime
jars (offline), so the layer selects the format at runtime: if a spark
catalog implementing `org.apache.iceberg.spark.SparkCatalog` is
configured (e.g. via --conf spark.sql.catalog.kg=...), tables are
written through it (`DataFrameWriterV2.createOrReplace`, MERGE INTO for
upserts); otherwise the parquet fallback keeps the same layout
(bucket-by-subject directory partitioning) and upserts via
anti-join-append. All call sites go through this module so a cluster
with Iceberg picks it up with zero code change.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 64


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None."""
    for key, value in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.catalog.") and key.count(".") == 3:
            if "iceberg" in value.lower():
                return key.rsplit(".", 1)[-1]
    return None


def write_table(
    df: DataFrame,
    name: str,
    path: str,
    partition_col: str | None = None,
    buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Materialize a table. Iceberg: `catalog.db.name` with
    bucket(partition_col) spec. Parquet: directory-partitioned by a
    deterministic bucket column (same pruning behavior), one file per
    bucket: rows are shuffled by bucket first, so each bucket is written
    by exactly one task instead of one small file per task per bucket."""
    spark = df.sparkSession
    cat = iceberg_catalog(spark)
    if cat is not None:
        writer = df.writeTo(f"{cat}.kg.{name}").using("iceberg")
        if partition_col:
            writer = writer.partitionedBy(
                F.bucket(buckets, F.col(partition_col))
            )
        writer.createOrReplace()
        return
    out = df
    if partition_col:
        out = df.withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(partition_col)), F.lit(buckets))
        )
        # no partition count: AQE still sizes the tasks, and a bucket
        # never straddles two of them
        (
            out.repartition(F.col("_bucket"))
            .write.mode("overwrite").partitionBy("_bucket").parquet(path)
        )
    else:
        out.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    cat = iceberg_catalog(spark)
    if cat is not None:
        return spark.table(f"{cat}.kg.{name}")
    df = spark.read.parquet(path)
    return df.drop("_bucket") if "_bucket" in df.columns else df


def materialize_kg(kg, base_path: str, buckets: int = DEFAULT_BUCKETS) -> None:
    """Materialize a SparkKG as the north rule's partitioned vertex/edge
    tables: ``edges`` bucketed by subject (walk frontiers join on src,
    so bucket-pruned co-located reads), ``vertices`` bucketed by name.
    Iceberg tables when a catalog is configured, partitioned parquet
    with the same bucket layout otherwise, one file per bucket."""
    write_table(
        kg.edges, "edges", f"{base_path}/edges",
        partition_col="src", buckets=buckets,
    )
    write_table(
        kg.entity_names(), "vertices", f"{base_path}/vertices",
        partition_col="name", buckets=buckets,
    )


def write_bucketed_edge_ids(
    kg,
    path: str,
    table: str = "kg_edge_ids",
    buckets: int = DEFAULT_BUCKETS,
) -> str:
    """Materialize the walk-ready edge table — (src_id, pred, dst_id,
    src, dst) with ``*_id = xxhash64(name)``, the exact join layout the
    BFS frontier loops consume — as a Spark BUCKETED table, bucketed +
    sorted by ``src_id``, one file per bucket: rows are hash-partitioned
    on ``src_id`` into exactly ``buckets`` tasks first, the same
    partitioning the bucket ids use, so each task writes one bucket.

    A bucketed scan reports hashpartitioning(src_id, buckets), so every
    per-depth frontier join reads the edge side CO-PARTITIONED straight
    off storage: zero edge-side exchange, zero edge-side sort, at every
    depth of every walk job that ever runs against the graph (the
    in-memory ``walks._prepartition_edge_table`` buys the same shape
    for one session; this buys it for the cluster's lifetime). On
    Iceberg the equivalent is a bucket(src_id) partition spec plus
    storage-partitioned joins.

    Returns the table name to read back via ``spark.table``.
    """
    df = kg.edges.select(
        F.xxhash64("src").alias("src_id"),
        "pred",
        F.xxhash64("dst").alias("dst_id"),
        "src",
        "dst",
    )
    (
        df.repartition(buckets, "src_id")
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, "src_id")
        .sortBy("src_id")
        .format("parquet")
        .saveAsTable(table)
    )
    return table


def upsert_triples(
    new_triples: DataFrame, name: str, path: str
) -> None:
    """Idempotent triple upsert: Iceberg MERGE INTO when available,
    anti-join append otherwise (the streaming sink's dedup shape)."""
    spark = new_triples.sparkSession
    cat = iceberg_catalog(spark)
    if cat is not None:
        new_triples.createOrReplaceTempView("_new_triples")
        spark.sql(
            f"MERGE INTO {cat}.kg.{name} t USING _new_triples s "
            "ON t.subj = s.subj AND t.pred = s.pred AND t.obj = s.obj "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        return
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        # bootstrap: no table yet (PATH_NOT_FOUND / unreadable-as-table).
        # Anything else (corrupt footer, permission error, concurrent
        # overwrite) must propagate — silently skipping the anti-join
        # would append duplicate triples with no error surfaced.
        delta = new_triples
    else:
        delta = new_triples.join(
            existing, ["subj", "pred", "obj"], "left_anti"
        )
    delta.write.mode("append").parquet(path)
