"""End-to-end pipeline: transcripts → embeddings, checkpoint-resume,
online update (O6), CLI, and streaming ingestion."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pyrdf2vec_spark.pipeline import RDF2VecPipeline
from pyrdf2vec_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return synth_transcripts(spark, 80, 10, seed=42)


class TestPipeline:
    def test_run_end_to_end(self, spark, transcripts):
        pipe = RDF2VecPipeline(max_depth=2, vector_size=16)
        emb = pipe.run(transcripts)
        n = emb.count()
        assert n > 50
        assert emb.columns == ["word", "vector"]
        assert len(emb.first()["vector"]) == 16

    def test_fit_transform_equals_fit_then_transform(self, spark, transcripts):
        # rdf2vec.py:126-147 / tests/test_rdf2vec.py:68-75
        pipe = RDF2VecPipeline(max_depth=1, vector_size=8, canonicalize=False)
        kg = pipe.build_graph(transcripts)
        ents = kg.entity_names().limit(20)
        emb1, lits1 = pipe.fit_transform(kg, ents)
        emb2, lits2 = pipe.transform(kg, ents)
        a = {r["word"]: list(r["vector"]) for r in emb1.collect()}
        b = {r["word"]: list(r["vector"]) for r in emb2.collect()}
        assert a == b

    def test_checkpoint_resume(self, spark, transcripts, tmp_path):
        ck = str(tmp_path / "ckpt")
        p1 = RDF2VecPipeline(max_depth=1, vector_size=8, checkpoint_dir=ck)
        n1 = p1.run(transcripts).count()
        p2 = RDF2VecPipeline(max_depth=1, vector_size=8, checkpoint_dir=ck)
        n2 = p2.run(transcripts).count()
        assert n1 == n2
        # resumed stages cost ~nothing
        assert p2.timings_["extract"] == 0.0
        assert p2.timings_["walks"] == 0.0
        # manifest rows recorded
        lines = open(os.path.join(ck, "manifest.jsonl")).read().splitlines()
        assert all(json.loads(ln)["status"] == "ok" for ln in lines)

    def test_checkpoint_not_reused_for_different_input(
        self, spark, transcripts, tmp_path
    ):
        # fingerprints fold input identity: same checkpoint_dir +
        # DIFFERENT transcripts must rebuild, not serve stale parquet
        ck = str(tmp_path / "ckpt2")
        p1 = RDF2VecPipeline(max_depth=1, vector_size=8, checkpoint_dir=ck)
        p1.run(transcripts)
        other = synth_transcripts(spark, 60, 10, seed=777)
        p2 = RDF2VecPipeline(max_depth=1, vector_size=8, checkpoint_dir=ck)
        p2.run(other)
        assert p2.timings_["extract"] > 0.0
        assert p2.timings_["walks"] > 0.0
        # and the rebuilt triples really are the other corpus's
        t1 = {tuple(r) for r in p1.kg_.edges.collect()}
        t2 = {tuple(r) for r in p2.kg_.edges.collect()}
        assert t1 != t2

    def test_canon_stage_writes_one_file(self, spark, transcripts, tmp_path):
        # the canonical mapping is small: AQE coalesces its last shuffle,
        # so the stage write is one parquet file, not one per partition
        ck = str(tmp_path / "ckpt3")
        RDF2VecPipeline(max_depth=1, vector_size=8, checkpoint_dir=ck).build_graph(
            transcripts
        )
        stages = [d for d in os.listdir(ck) if d.startswith("canon-")]
        assert len(stages) == 1
        files = [
            f for f in os.listdir(os.path.join(ck, stages[0]))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1

    def test_missing_entities_raise(self, spark, transcripts):
        pipe = RDF2VecPipeline(max_depth=1)
        kg = pipe.build_graph(transcripts)
        bad = spark.createDataFrame([("ghost_99",)], "name string")
        with pytest.raises(ValueError):
            pipe.get_walks(kg, bad)

    def test_pipeline_save_load_roundtrip(self, spark, transcripts, tmp_path):
        # rdf2vec.py:238-292 one-call persistence facade
        p = str(tmp_path / "saved_pipe")
        pipe = RDF2VecPipeline(max_depth=1, vector_size=8, canonicalize=False)
        pipe.run(transcripts)
        some = pipe.kg_.entity_names().limit(5)
        before = {
            r["word"]: list(r["vector"])
            for r in pipe.embedder.transform(some).collect()
        }
        pipe.save(p)
        loaded = RDF2VecPipeline.load(spark, p)
        assert loaded.max_depth == 1 and loaded.vector_size == 8
        after = {
            r["word"]: list(r["vector"])
            for r in loaded.embedder.transform(some).collect()
        }
        assert before == after
        assert loaded.kg_.edges.count() == pipe.kg_.edges.count()
        assert loaded.walks_.count() == pipe.walks_.count()
        # the loaded pipeline supports online update (needs kg_ + walks_)
        refreshed = loaded.update(synth_transcripts(spark, 10, 5, seed=3))
        assert refreshed.count() > 0

    def test_pipeline_load_invalid_path_raises(self, spark, tmp_path):
        with pytest.raises(ValueError):
            RDF2VecPipeline.load(spark, str(tmp_path / "nope"))

    def test_online_update(self, spark, transcripts):
        pipe = RDF2VecPipeline(max_depth=1, vector_size=8, canonicalize=False)
        pipe.run(transcripts)
        n_edges_before = pipe.kg_.edges.count()
        more = synth_transcripts(spark, 40, 10, seed=99)
        refreshed = pipe.update(more)
        assert refreshed.count() > 0
        assert pipe.kg_.edges.count() >= n_edges_before
        # updated corpus feeds a usable model for old entities too
        some = pipe.kg_.entity_names().limit(5)
        assert pipe.embedder.transform(some).count() == 5

    def test_update_rewalks_with_fit_config(self, spark, transcripts):
        # update() re-walks the affected entities with the pipeline's
        # own walker config: a max_walks=2 pipeline keeps its walk
        # budget after an update, as fit does
        from pyrdf2vec_spark.extract import extract_triples, triples_only

        pipe = RDF2VecPipeline(
            max_depth=2, max_walks=2, vector_size=8, canonicalize=False
        )
        pipe.run(transcripts)
        more = synth_transcripts(spark, 40, 10, seed=99)
        pipe.update(more)
        new = triples_only(extract_triples(more))
        affected = (
            new.select(F.col("subj").alias("entity"))
            .union(new.select(F.col("obj").alias("entity")))
            .distinct()
        )
        per_entity = [
            r["n"] for r in pipe.walks_.join(affected, "entity")
            .groupBy("entity").agg(F.count("*").alias("n")).collect()
        ]
        assert per_entity
        assert max(per_entity) <= 2


class TestCLI:
    def test_synth_extract_run(self, spark, tmp_path):
        from pyrdf2vec_spark import cli

        tdir = str(tmp_path / "tr")
        odir = str(tmp_path / "triples")
        edir = str(tmp_path / "emb")
        assert cli.main(["synth", "--convs", "30", "--out", tdir]) == 0
        assert cli.main(["extract", "--transcripts", tdir, "--out", odir]) == 0
        assert spark.read.parquet(odir).count() > 0
        assert (
            cli.main(
                ["run", "--transcripts", tdir, "--out", edir,
                 "--max-depth", "1", "--vector-size", "8"]
            )
            == 0
        )
        assert spark.read.parquet(edir).count() > 0


class TestStreaming:
    def test_incremental_triples(self, spark, tmp_path):
        from pyrdf2vec_spark.streaming.transcripts_stream import stream_triples

        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        synth_transcripts(spark, 20, 10, seed=1).write.parquet(
            in_dir, mode="append"
        )
        q = stream_triples(spark, in_dir, out_dir, ck)
        q.awaitTermination(120)
        n1 = spark.read.parquet(out_dir).count()
        assert n1 > 0
        # second drop: only NOVEL triples get appended
        synth_transcripts(spark, 20, 10, seed=1).write.mode("append").parquet(
            in_dir
        )
        synth_transcripts(spark, 10, 10, seed=7).write.mode("append").parquet(
            in_dir
        )
        q2 = stream_triples(spark, in_dir, out_dir, ck)
        q2.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        assert out.count() == out.dropDuplicates().count()

    def test_watermarked_stream_dedup(self, spark, tmp_path):
        # state-store dedup on (conv_id, turn_idx): a re-delivered file
        # inside the watermark horizon produces zero duplicate turns,
        # without any sink re-read. ingest_transcripts routes here by
        # DEFAULT — the watermarked sink is the wired-in long-lived
        # stream path; the anti-join tier is opt-in ("backfill")
        from pyrdf2vec_spark.streaming.transcripts_stream import (
            ingest_transcripts,
        )

        in_dir = str(tmp_path / "in_w")
        out_dir = str(tmp_path / "out_w")
        ck = str(tmp_path / "ck_w")
        synth_transcripts(spark, 15, 10, seed=2).write.parquet(
            in_dir, mode="append"
        )
        # same data dropped twice in one run: state dedup removes it
        synth_transcripts(spark, 15, 10, seed=2).write.mode(
            "append"
        ).parquet(in_dir)
        q = ingest_transcripts(spark, in_dir, out_dir, ck)
        q.awaitTermination(120)
        out = spark.read.parquet(out_dir)
        # every surviving triple row came from a unique turn — the
        # doubled drop added nothing
        expected = (
            spark.read.parquet(in_dir)
            .dropDuplicates(["conv_id", "turn_idx"])
            .count()
        )
        assert spark.read.parquet(in_dir).count() == 2 * expected
        from pyrdf2vec_spark.extract import extract_triples, triples_only

        once = triples_only(
            extract_triples(synth_transcripts(spark, 15, 10, seed=2))
        ).count()
        assert out.dropDuplicates().count() == once

    def test_turn_rates_watermark(self, spark, tmp_path):
        from pyrdf2vec_spark.streaming.transcripts_stream import (
            read_transcript_stream,
            turn_rates,
        )

        in_dir = str(tmp_path / "in2")
        synth_transcripts(spark, 30, 10, seed=3).write.parquet(in_dir)
        rates = turn_rates(read_transcript_stream(spark, in_dir))
        q = (
            rates.writeStream.format("memory")
            .queryName("rates_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # append mode only emits closed windows; the aggregation itself
        # must be a valid watermarked streaming plan (this is the check)
        assert spark.table("rates_test").columns == [
            "window_start", "role", "n_turns",
        ]

    def test_stream_sessionize_matches_batch(self, spark, tmp_path):
        # applyInPandasWithState sessions ≡ batch lag-over-window
        # sessions once the watermark has flushed every open session
        import os
        import time as _time

        from pyspark.sql import functions as F

        from pyrdf2vec_spark.streaming.sessionize_stream import (
            stream_sessionize,
        )

        base = 1_700_000_000  # epoch seconds
        rows = []
        # u1: 3 events in one session + a 2000s-gap event → 2 sessions
        for off in (0, 600, 1200, 3200):
            rows.append(("u1", base + off))
        # u2: gaps straddle the 1800s boundary exactly (1800 = same
        # session, 1801 = new) — the precision contract
        rows.append(("u2", base))
        rows.append(("u2", base + 1800))
        rows.append(("u2", base + 1800 + 1801))
        # sentinels: push the watermark (1h) past every real session's
        # last event + gap, then fire one more batch so timeouts run
        far = base + 3600 + 1800 + 3600 + 100
        drops = [
            rows,
            [("wm_sentinel", far)],
            [("wm_sentinel2", far + 10)],
        ]
        in_dir = tmp_path / "sess_in"
        in_dir.mkdir()
        for i, drop in enumerate(drops):
            df = spark.createDataFrame(
                [(u, t) for u, t in drop], "user_id string, sec long"
            ).select(
                "user_id", F.timestamp_seconds("sec").alias("ts")
            )
            part = tmp_path / f"sess_stage_{i}"
            df.coalesce(1).write.parquet(str(part))
            pf = next(p for p in os.listdir(part) if p.endswith(".parquet"))
            dst = in_dir / f"drop_{i}.parquet"
            os.rename(part / pf, dst)
            # file source orders by modification time: force the drops
            # to arrive as three ordered micro-batches
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        stream = (
            spark.readStream.schema("user_id string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        sessions = stream_sessionize(stream, gap_seconds=1800)
        q = (
            sessions.writeStream.format("memory")
            .queryName("sess_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "sess_ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in spark.table("sess_test").collect()
            if not r["user_id"].startswith("wm_sentinel")
        }
        us = 1_000_000
        expected = {
            ("u1", base * us, (base + 1200) * us, 3),
            ("u1", (base + 3200) * us, (base + 3200) * us, 1),
            ("u2", base * us, (base + 1800) * us, 2),
            ("u2", (base + 3601) * us, (base + 3601) * us, 1),
        }
        assert got == expected
