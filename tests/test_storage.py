"""Storage layer (storage.py): Iceberg-when-configured, partitioned
parquet otherwise. This sandbox ships no Iceberg runtime jar, so the
Iceberg branch is exercised only for catalog DETECTION plus a
skipif-gated round-trip that activates automatically on a cluster
where the jar is present; the parquet fallback — the branch every
offline run takes — is covered fully, including upsert idempotency
(the north rule's MERGE semantics)."""

import os

import pytest
from pyspark.sql import functions as F

from pyrdf2vec_spark.storage import (
    iceberg_catalog,
    read_table,
    upsert_triples,
    write_table,
)


def _has_iceberg_jar() -> bool:
    jars = "/opt/spark/jars"
    return os.path.isdir(jars) and any(
        "iceberg" in j.lower() for j in os.listdir(jars)
    )


def _data_files(path) -> list[str]:
    """Data files directly under ``path``: no ``.crc`` checksums, no
    ``_SUCCESS`` marker, no subdirectories."""
    return [
        f for f in os.listdir(path)
        if not f.startswith((".", "_"))
        and os.path.isfile(os.path.join(path, f))
    ]


def _assert_one_file_per_bucket(path) -> None:
    buckets = [d for d in os.listdir(path) if d.startswith("_bucket=")]
    assert buckets
    for d in buckets:
        files = _data_files(os.path.join(path, d))
        assert len(files) == 1, (d, files)


@pytest.fixture()
def triples(spark):
    return spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")],
        "subj string, pred string, obj string",
    )


class TestParquetFallback:
    def test_no_catalog_detected(self, spark):
        # the offline session has no spark.sql.catalog.* conf
        assert iceberg_catalog(spark) is None

    def test_write_read_roundtrip_partitioned(self, spark, triples, tmp_path):
        path = str(tmp_path / "edges")
        write_table(triples, "edges", path, partition_col="subj", buckets=4)
        back = read_table(spark, "edges", path)
        # the internal _bucket partition column is stripped on read
        assert sorted(back.columns) == ["obj", "pred", "subj"]
        assert {tuple(r) for r in back.collect()} == {
            tuple(r) for r in triples.collect()
        }
        # directory layout really is bucket-partitioned (pruning works)
        assert any(d.startswith("_bucket=") for d in os.listdir(path))

    def test_partitioned_write_one_file_per_bucket(self, spark, tmp_path):
        # rows of every bucket spread over 8 input partitions: unless
        # they are clustered by bucket first, each write task writes its
        # own small file into every bucket directory
        df = spark.createDataFrame(
            [(f"s{i}", "p", f"o{i % 7}") for i in range(200)],
            "subj string, pred string, obj string",
        ).repartition(8)
        assert df.rdd.getNumPartitions() == 8
        path = str(tmp_path / "multi")
        write_table(df, "multi", path, partition_col="subj", buckets=4)
        _assert_one_file_per_bucket(path)
        back = read_table(spark, "multi", path)
        assert sorted(back.columns) == ["obj", "pred", "subj"]
        assert sorted(tuple(r) for r in back.collect()) == sorted(
            tuple(r) for r in df.collect()
        )

    def test_write_read_roundtrip_unpartitioned(self, spark, triples, tmp_path):
        path = str(tmp_path / "plain")
        write_table(triples, "plain", path)
        assert read_table(spark, "plain", path).count() == 3

    def test_materialize_kg_layout(self, spark, triples, tmp_path):
        from pyrdf2vec_spark import SparkKG, materialize_kg

        kg = SparkKG(triples)
        materialize_kg(kg, str(tmp_path / "kg"), buckets=4)
        edges = read_table(spark, "edges", str(tmp_path / "kg" / "edges"))
        verts = read_table(
            spark, "vertices", str(tmp_path / "kg" / "vertices")
        )
        assert edges.count() == kg.edges.count()
        assert verts.count() == kg.entity_names().count()
        _assert_one_file_per_bucket(str(tmp_path / "kg" / "edges"))
        _assert_one_file_per_bucket(str(tmp_path / "kg" / "vertices"))

    def test_upsert_is_idempotent(self, spark, triples, tmp_path):
        path = str(tmp_path / "upsert")
        upsert_triples(triples, "t", path)  # bootstrap: no existing table
        assert spark.read.parquet(path).count() == 3
        # re-upserting the same triples adds NOTHING (anti-join append =
        # the MERGE ... WHEN NOT MATCHED THEN INSERT semantics)
        upsert_triples(triples, "t", path)
        assert spark.read.parquet(path).count() == 3
        # a mixed batch adds only the genuinely new rows
        mixed = triples.unionByName(
            spark.createDataFrame(
                [("x", "r", "y")], "subj string, pred string, obj string"
            )
        )
        upsert_triples(mixed, "t", path)
        got = {tuple(r) for r in spark.read.parquet(path).collect()}
        assert len(got) == 4 and ("x", "r", "y") in got


class TestIcebergBranch:
    def test_catalog_detection_logic(self):
        # detection is pure conf-scanning: verify the key/value rule
        # without an Iceberg runtime by faking getConf().getAll()
        class FakeConf:
            def getAll(self):
                return [
                    ("spark.sql.catalog.kg",
                     "org.apache.iceberg.spark.SparkCatalog"),
                    ("spark.sql.catalog.kg.type", "hadoop"),
                    ("spark.app.name", "x"),
                ]

        class FakeSC:
            def getConf(self):
                return FakeConf()

        class FakeSpark:
            sparkContext = FakeSC()

        assert iceberg_catalog(FakeSpark()) == "kg"

    @pytest.mark.skipif(
        not _has_iceberg_jar(),
        reason="no Iceberg runtime jar in this sandbox (offline); "
        "activates on clusters that ship one",
    )
    def test_iceberg_roundtrip_and_merge(self, tmp_path):
        # full MERGE INTO semantics — needs a session LAUNCHED with an
        # Iceberg catalog. Catalog confs are startup-only: a second
        # builder.getOrCreate() here would silently return the running
        # catalog-less fixture session (configs ignored), the triples
        # would carry that session, and write_table would take the
        # parquet branch while read_table tried spark.table() — i.e.
        # the test would fail exactly where it was meant to activate.
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None or iceberg_catalog(spark) is None:
            pytest.skip(
                "Iceberg jar present but session lacks a catalog; run "
                "under spark-submit --conf spark.sql.catalog.ice="
                "org.apache.iceberg.spark.SparkCatalog "
                "--conf spark.sql.catalog.ice.type=hadoop "
                "--conf spark.sql.catalog.ice.warehouse=<dir>"
            )
        # build the triples FROM the catalog-configured session so
        # write_table/upsert_triples (which use df.sparkSession) hit
        # the Iceberg branch
        t = spark.createDataFrame(
            [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")],
            "subj string, pred string, obj string",
        )
        write_table(t, "edges", str(tmp_path), partition_col="subj")
        # MERGE INTO: re-upserting the same rows must not duplicate
        upsert_triples(t, "edges", str(tmp_path))
        assert read_table(spark, "edges", str(tmp_path)).count() == 3


class TestBucketedEdgeIds:
    def test_bucketed_scan_joins_without_edge_exchange(self, spark, tmp_path):
        # the walk-ready edge layout read CO-PARTITIONED off storage:
        # a frontier join against the bucketed table must not exchange
        # (or re-sort) the edge side — only the frontier shuffles
        from pyrdf2vec_spark.graph import SparkKG
        from pyrdf2vec_spark.storage import write_bucketed_edge_ids

        t = spark.createDataFrame(
            [(f"v{i}", "p", f"v{(i * 7) % 50}") for i in range(200)],
            "subj string, pred string, obj string",
        )
        kg = SparkKG(t)
        name = write_bucketed_edge_ids(
            kg, str(tmp_path / "eids"), table="kg_eids_test", buckets=8
        )
        try:
            edges = spark.table(name)
            assert edges.count() == kg.edges.count()
            frontier = kg.entity_names().select(
                F.xxhash64("name").alias("cur")
            )
            j = frontier.join(
                edges.hint("merge"), frontier["cur"] == edges["src_id"]
            )
            j.count()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(src_id" not in plan, plan
            assert "Exchange hashpartitioning(cur" in plan, plan
            # one file per non-empty bucket: Spark names each bucket
            # file with its bucket id (part-..._00003.c000...parquet)
            files = _data_files(str(tmp_path / "eids"))
            file_buckets = {int(f.split("_")[-1].split(".")[0]) for f in files}
            nonempty = {
                r[0] for r in edges.select(
                    F.expr("pmod(hash(src_id), 8)")
                ).distinct().collect()
            }
            assert len(files) == len(file_buckets) == len(nonempty) <= 8
            assert file_buckets == nonempty
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
