"""Streaming-layer tests (SURVEY.md §2.10 T1–T5): replay the events
table through a file stream and check streaming results equal the batch
twin computed on the same data."""

from __future__ import annotations

import datetime as dt
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from hebrew_tutor_data_pipeline_spark.sources.readers import load_table
from hebrew_tutor_data_pipeline_spark.streaming import (
    ProgressListener,
    events_file_stream,
    session_window_stats,
    terminal_jobs,
    tumbling_window_stats,
    with_observed_metrics,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events slice written as JSON files — the replayable stream input."""
    d = tmp_path_factory.mktemp("events_stream")
    (
        load_table(spark, SF, "events")
        .filter(F.col("user_id") < 10)
        .coalesce(4)
        .write.mode("overwrite")
        .json(str(d / "in"))
    )
    return str(d / "in")


def run_available_now(df, out_table: str, mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(out_table)
        .outputMode(mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ckpt-{out_table}-{uuid.uuid4().hex}")
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish within 120s"
    return q


class TestTumbling:
    def test_stream_equals_batch(self, spark, events_dir):
        stream = events_file_stream(spark, events_dir, fmt="json")
        out = tumbling_window_stats(stream, window_duration="1 hour")
        name = f"tumble_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        got = {
            (r["window_start"], r["n_events"], r["sum_value"])
            for r in spark.table(name).collect()
        }
        src = spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).json(events_dir)
        # Append mode emits a window only once the watermark (max event
        # time - delay) passes its end — exclude still-open windows.
        cutoff = src.agg(
            F.max("ts") - F.expr("INTERVAL 10 MINUTES")
        ).first()[0]
        batch = src.groupBy(F.window("ts", "1 hour")).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("s"),
        )
        want = {
            (r["window"]["start"], r["n"], r["s"])
            for r in batch.collect()
            if r["window"]["end"] <= cutoff
        }
        assert got == want and len(got) > 0


class TestSliding:
    def test_stream_equals_batch_append_mode(self, spark, events_dir):
        """Sliding 1h/15min windows in APPEND mode: a window is emitted
        exactly once, when the watermark passes its end (state eviction),
        and every emitted window matches the batch twin — the same
        hardening the tumbling shape has, per the r7 verdict."""
        from hebrew_tutor_data_pipeline_spark.streaming import (
            sliding_window_stats,
        )

        stream = events_file_stream(spark, events_dir, fmt="json")
        out = sliding_window_stats(
            stream, window_duration="1 hour", slide_duration="15 minutes"
        )
        name = f"slide_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        got = {
            (r["window_start"], r["window_end"], r["n_events"], r["sum_value"])
            for r in spark.table(name).collect()
        }
        src = spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).json(events_dir)
        cutoff = src.agg(F.max("ts") - F.expr("INTERVAL 10 MINUTES")).first()[0]
        batch = src.groupBy(F.window("ts", "1 hour", "15 minutes")).agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).alias("s"),
        )
        want = {
            (r["window"]["start"], r["window"]["end"], r["n"], r["s"])
            for r in batch.collect()
            if r["window"]["end"] <= cutoff
        }
        assert got == want and len(got) > 0
        # every event lands in exactly duration/slide = 4 windows, so the
        # emitted multi-assignment must outnumber the tumbling windows
        assert len({(ws, we) for ws, we, _, _ in got}) == len(got)

class TestSessionWindows:
    def test_session_counts_match_batch_sessionize(self, spark, events_dir):
        from hebrew_tutor_data_pipeline_spark.operators.sessionize import (
            session_stats,
        )

        stream = events_file_stream(spark, events_dir, fmt="json")
        out = session_window_stats(stream, gap="30 minutes")
        name = f"sess_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        got = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in spark.table(name).collect()
        }
        src = spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).json(events_dir)
        cutoff = src.agg(F.max("ts") - F.expr("INTERVAL 10 MINUTES")).first()[0]
        batch = session_stats(src, ["user_id"], "ts", 1800.0)
        # session_window's end = last event + gap; only sessions whose
        # end cleared the watermark are emitted in append mode.
        want = {
            (r["user_id"], r["session_start"], r["n_events"])
            for r in batch.collect()
            if r["session_end"] + dt.timedelta(minutes=30) <= cutoff
        }
        assert got == want and len(got) > 0


class TestStatefulPolling:
    def test_terminal_jobs_emitted_once(self, spark, tmp_path):
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            run_available_now_to_parquet,
        )

        rows = [
            ("job1", "Running", "2024-01-01T00:00:00"),
            ("job1", "Running", "2024-01-01T00:00:05"),
            ("job1", "Succeeded", "2024-01-01T00:00:10"),
            ("job2", "Running", "2024-01-01T00:00:00"),
            ("job2", "Failed", "2024-01-01T00:00:05"),
            ("job3", "Running", "2024-01-01T00:00:00"),  # never terminal
        ]
        src = tmp_path / "updates"
        spark.createDataFrame(
            [(j, s, dt.datetime.fromisoformat(t)) for j, s, t in rows],
            "job_id string, status string, ts timestamp",
        ).coalesce(1).write.mode("overwrite").parquet(str(src))
        stream = spark.readStream.schema(
            "job_id string, status string, ts timestamp"
        ).parquet(str(src))
        # the stream runner skips the no-data batches, so the
        # timeout-bearing stateful query ends by itself
        got = {
            r["job_id"]: (r["final_status"], r["n_updates"])
            for r in run_available_now_to_parquet(
                terminal_jobs(stream), output_mode="append",
                query_name="terminal_jobs_test",
            ).collect()
        }
        assert got == {"job1": ("Succeeded", 3), "job2": ("Failed", 2)}
        # job3 never reached a terminal state -> no emission
        assert "job3" not in got


class TestProgress:
    def test_listener_and_observe(self, spark, events_dir):
        listener = ProgressListener()
        spark.streams.addListener(listener)
        try:
            stream = with_observed_metrics(
                events_file_stream(spark, events_dir, fmt="json"), "progress"
            )
            out = tumbling_window_stats(stream, window_duration="6 hours")
            name = f"obs_{uuid.uuid4().hex[:8]}"
            run_available_now(out, name)
            # listener events are async: drain the listener bus
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            n_input = spark.read.schema(
                "event_id long, ts timestamp, user_id long, event_type string,"
                " value double, props string"
            ).json(events_dir).count()
            mine = [p for p in listener.progress if p["name"] == name]
            assert sum(p["numInputRows"] for p in mine) == n_input
            observed = [
                p["observedMetrics"]["progress"]["rows_seen"]
                for p in mine
                if "progress" in p.get("observedMetrics", {})
            ]
            assert sum(observed) == n_input
        finally:
            spark.streams.removeListener(listener)


class TestRunningEta:
    def test_eta_math_and_monotonic_processed(self, spark):
        from hebrew_tutor_data_pipeline_spark.streaming.progress import running_eta

        rows = [(1, i, float(i * 10)) for i in range(1, 5)]  # ts every 10s
        df = spark.createDataFrame(rows, ["grp", "eid", "sec"]).select(
            "grp", "eid", F.timestamp_seconds("sec").alias("ts")
        )
        out = {
            r["processed"]: r
            for r in running_eta(
                df, group_cols=["grp"], order_cols=["ts", "eid"], ts_col="ts", total=10
            ).collect()
        }
        assert len(out) == 4
        assert out[1]["elapsed_ms"] == 0 and out[1]["eta_ms"] == 0.0
        # after 4 items in 30s: avg 7.5s/item, 6 remaining -> 45s
        assert out[4]["elapsed_ms"] == 30_000
        assert out[4]["eta_ms"] == (10 - 4) * 30_000 / 4

    def test_format_eta_tiers(self, spark):
        from hebrew_tutor_data_pipeline_spark.streaming.progress import format_eta

        df = spark.createDataFrame([(45.0,), (120.0,), (7200.0,)], ["s"])
        got = [r[0] for r in df.select(format_eta(F.col("s"))).collect()]
        assert got == ["45 seconds", "2.0 minutes", "2.0 hours"]


class TestStreamingTranscribe:
    def test_transcribe_stream_equals_batch(self, spark, tmp_path):
        """U1-U3 on a stream: mapInPandas operators run unchanged under
        Structured Streaming — each micro-batch of chapters transcribes
        against the executor-singleton model; results equal the batch
        twin on identical input."""
        from hebrew_tutor_data_pipeline_spark.operators import transcribe

        rows = [
            ("Gen", 1, "alpha beta gamma delta epsilon zeta", 30_000),
            ("Gen", 2, "one two three four", 15_000),
            ("Obad", 1, "lone verse text here", 20_000),
        ]
        schema = "book string, chapter int, text string, duration_ms long"
        src = str(tmp_path / "chapters_in")
        spark.createDataFrame(rows, schema).coalesce(2).write.mode("overwrite").json(src)

        stream = spark.readStream.schema(schema).json(src)
        out = transcribe.transcribe_words(stream, ["book", "chapter"], drop_every=7)
        name = f"asr_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        streamed = sorted(map(tuple, spark.table(name).collect()))

        batch = transcribe.transcribe_words(
            spark.createDataFrame(rows, schema), ["book", "chapter"], drop_every=7
        )
        assert streamed == sorted(map(tuple, batch.collect()))
        assert len(streamed) > 0


class TestStreamingDedup:
    def test_redelivered_keys_dropped_vs_batch_distinct(self, spark, events_dir, tmp_path):
        """An at-least-once source re-delivers every file: streaming dedup
        must emit each event_id once — exactly the batch distinct set —
        with state bounded by the watermark, not by stream length."""
        import glob as globmod

        from hebrew_tutor_data_pipeline_spark.streaming import (
            dedup_within_watermark,
            events_file_stream,
        )

        dup_dir = tmp_path / "dup_in"
        dup_dir.mkdir()
        for i, f in enumerate(sorted(globmod.glob(events_dir + "/*.json"))):
            shutil.copy(f, dup_dir / f"a{i}.json")
            shutil.copy(f, dup_dir / f"b{i}.json")  # the re-delivery

        stream = events_file_stream(
            spark, str(dup_dir), fmt="json", max_files_per_trigger=3
        )
        out = dedup_within_watermark(stream, ["event_id"], ts_col="ts", delay="10 minutes")
        name = f"dedup_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)

        got = sorted(r["event_id"] for r in spark.table(name).collect())
        src = spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).json(events_dir)
        want = sorted(r["event_id"] for r in src.select("event_id").distinct().collect())
        assert got == want and len(got) > 0


class TestStreamStreamJoin:
    def test_interval_join_stream_equals_batch(self, spark, events_dir):
        """Stream-stream time-bound join must produce exactly the batch
        interval join's pairs for all rows the watermark has released."""
        from hebrew_tutor_data_pipeline_spark.streaming import (
            clicks_in_purchase_windows_stream,
            events_file_stream,
        )

        stream = events_file_stream(spark, events_dir, fmt="json")
        out = clicks_in_purchase_windows_stream(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "purchase"),
            window_seconds=3600,
            watermark="10 minutes",
        )
        name = f"ssj_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        got = {
            (r["click_id"], r["purchase_id"]) for r in spark.table(name).collect()
        }

        src = spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string,"
            " value double, props string"
        ).json(events_dir)
        c = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
        )
        p = src.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
        )
        want = {
            (r["click_id"], r["purchase_id"])
            for r in c.join(
                p,
                (F.col("cts") >= F.col("pts"))
                & (F.col("cts") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
            ).collect()
        }
        # availableNow + watermark: every pair is released by stream end
        # except those within the final watermark; the batch set must
        # contain the streamed set and the streamed set must cover all
        # pairs whose click cleared the final watermark.
        assert got <= want
        cutoff = src.agg(F.max("ts") - F.expr("INTERVAL 10 MINUTES")).first()[0]
        released = {
            (r["click_id"], r["purchase_id"])
            for r in c.join(
                p,
                (F.col("cts") >= F.col("pts"))
                & (F.col("cts") <= F.col("pts") + F.expr("INTERVAL 1 HOUR")),
            )
            .filter(F.col("cts") <= F.lit(cutoff))
            .collect()
        }
        assert released <= got and len(got) > 0


class TestCheckpointRecovery:
    def test_dedup_state_survives_restart(self, spark, events_dir, tmp_path):
        """Exactly-once across restarts: run the dedup stream to a file
        sink, stop it, deliver duplicates of already-seen events plus
        genuinely new ones, restart from the SAME checkpoint — only the
        new events may be appended, because the key state was recovered,
        not rebuilt. (Memory sinks can't recover; the file sink is the
        fault-tolerant one, matching a real deployment.)"""
        import glob as globmod
        import json

        from hebrew_tutor_data_pipeline_spark.streaming import (
            dedup_within_watermark,
            events_file_stream,
        )

        in_dir = tmp_path / "in"
        in_dir.mkdir()
        srcs = sorted(globmod.glob(events_dir + "/*.json"))
        shutil.copy(srcs[0], in_dir / "batch1.json")
        ckpt = str(tmp_path / "ckpt")
        out_dir = str(tmp_path / "out")

        def run():
            q = (
                dedup_within_watermark(
                    events_file_stream(spark, str(in_dir), fmt="json"),
                    ["event_id"],
                    ts_col="ts",
                    delay="3650 days",  # state outlives the whole fixture span
                )
                .selectExpr("event_id")
                .writeStream.format("json")
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .option("path", out_dir)
                .start()
            )
            assert q.awaitTermination(120), "stream did not finish within 120s"

        def read_out():
            return {
                r["event_id"]
                for r in spark.read.schema("event_id long").json(out_dir).collect()
            }

        run()
        first = read_out()
        assert len(first) > 0

        # second delivery: every first-batch event again (re-delivery)
        # plus brand-new synthetic events
        with open(srcs[0]) as f:
            lines = [json.loads(l) for l in f if l.strip()]
        new_events = [
            {**lines[0], "event_id": 10_000_000 + i, "ts": lines[0]["ts"]}
            for i in range(5)
        ]
        with open(in_dir / "batch2.json", "w") as f:
            for rec in lines + new_events:
                f.write(json.dumps(rec) + "\n")

        run()
        second = read_out()
        assert second - first == {10_000_000 + i for i in range(5)}, (
            "recovered state must drop every re-delivered key"
        )
        assert len(second) == len(first) + 5


    def test_hard_kill_midstream_recovers_exactly_once(self, spark, tmp_path):
        """Crash-recovery, not graceful-stop recovery (VERDICT r10 #6):
        a CHILD process runs the dedup stream to a parquet sink and
        `os._exit(1)`s right after its first progress event — a hard
        JVM kill with no stop(), no shutdown hooks, leaving whatever
        batch was in flight uncommitted. Resuming the SAME checkpoint
        in this session must drain to EXACTLY the distinct input keys:
        nothing lost from the killed batch, nothing duplicated by its
        replay (checkpoint offsets + parquet sink manifest)."""
        import subprocess
        import sys as _sys
        import textwrap
        from pathlib import Path as _P

        src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
        for i in range(8):
            (
                spark.range(i * 500, (i + 1) * 500)
                .selectExpr(
                    "id AS event_id",
                    "timestamp'2024-01-01 00:00:00' AS ts",
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        repo = str(_P(__file__).resolve().parent.parent)
        child = textwrap.dedent(
            f"""
            import os, sys, threading, time
            sys.path.insert(0, {repo!r})
            from hebrew_tutor_data_pipeline_spark.session import get_spark
            spark = get_spark("kill-test")
            spark.sparkContext.setLogLevel("ERROR")
            schema = spark.read.parquet({src!r}).schema
            q = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                 .parquet({src!r})
                 .withWatermark("ts", "3650 days")
                 .dropDuplicatesWithinWatermark(["event_id"])
                 .writeStream.format("parquet").outputMode("append")
                 .option("path", {sink!r}).option("checkpointLocation", {ckpt!r})
                 .trigger(processingTime="0 seconds").start())
            def reaper():
                while not q.recentProgress:
                    time.sleep(0.1)
                os._exit(1)  # hard kill mid-stream
            threading.Thread(target=reaper, daemon=True).start()
            q.awaitTermination(120)
            os._exit(2)  # drained before the kill — mis-timed
            """
        )
        r = subprocess.run(
            [_sys.executable, "-c", child],
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert r.returncode == 1, f"child exited {r.returncode}:\n{r.stdout}\n{r.stderr}"

        schema = spark.read.parquet(src).schema
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "recovery did not drain"
        out = spark.read.parquet(sink)
        assert out.count() == 4000
        assert out.select("event_id").distinct().count() == 4000


class TestStreamingCuration:
    def test_curation_gates_stream_equals_batch(self, spark, tmp_path):
        """The corpus-curation flow on an unbounded ingest: the quality
        gates and language confirmation are stateless column expressions
        (they apply to a stream unchanged) and the dedup tier is the
        watermark-bounded streaming dedup — output doc set must equal
        the batch curation entry's on the same data."""
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.functions import text as text_fn
        from hebrew_tutor_data_pipeline_spark.sources.readers import load_table
        from hebrew_tutor_data_pipeline_spark.streaming import dedup_within_watermark

        sf = "/root/testdata/sf0.001"
        docs = load_table(spark, sf, "documents").withColumn(
            # synthetic ingest time so the stream has an event-time axis
            "ingest_ts",
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id").cast("double")),
        )
        in_dir = tmp_path / "docs_in"
        docs.coalesce(2).write.json(str(in_dir))

        schema = "doc_id long, lang string, text string, ingest_ts timestamp"
        stream = spark.readStream.schema(schema).json(str(in_dir))
        c = F.col("text")
        gated = stream.select(
            "doc_id", "lang", "ingest_ts",
            text_fn.whitespace_token_count(c).alias("n_tokens"),
            text_fn.punct_ratio(c).alias("punct_ratio"),
            text_fn.predict_lang(c).alias("predicted_lang"),
        ).filter(
            F.col("n_tokens").between(20, 90)
            & (F.col("punct_ratio") <= 0.2)
            & (F.col("predicted_lang") == F.col("lang"))
        )
        out = dedup_within_watermark(
            gated, ["doc_id"], ts_col="ingest_ts", delay="3650 days"
        ).select("doc_id", "n_tokens")
        name = f"cur_{uuid.uuid4().hex[:8]}"
        run_available_now(out, name)
        got = {(r["doc_id"], r["n_tokens"]) for r in spark.table(name).collect()}

        from hebrew_tutor_data_pipeline_spark.plans import CATALOG

        want = {
            (r["doc_id"], r["n_tokens"])
            for r in CATALOG["corpus_curation_pipeline"].spark(spark, sf).collect()
        }
        assert got == want and len(got) > 0


class TestStreamingIncrementalLookup:
    def test_simhash_lookup_stream_equals_batch(self, spark, tmp_path):
        """The daily-crawl dedup pattern on an unbounded ingest: each
        microbatch looks up its best near-match in the STANDING index
        via foreachBatch — per-doc decisions are independent of
        batching, so the union across microbatches must equal the batch
        incremental_simhash_dedup on the same split."""
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators import dedup as dedup_ops
        from hebrew_tutor_data_pipeline_spark.sources.readers import load_table

        sf = "/root/testdata/sf0.001"
        d = load_table(spark, sf, "documents")
        crawl = d.filter(F.col("doc_id") % 10 == 7).select("doc_id", "text")
        index = d.filter(F.col("doc_id") % 10 != 7).select("doc_id", "text")

        in_dir = tmp_path / "crawl_in"
        crawl.repartition(2).write.json(str(in_dir))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)  # force >1 microbatch
            .json(str(in_dir))
        )
        batches: list[list[tuple]] = []

        def handle(bdf, _bid):
            out = dedup_ops.simhash_lookup_pairs(
                bdf, index, "doc_id", "text", bits=16, bands=2, max_distance=1
            )
            batches.append([tuple(r) for r in out.collect()])

        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        assert q.awaitTermination(180), "stream did not finish"
        assert len(batches) >= 2, "expected multiple microbatches"
        got = {t for b in batches for t in b}
        want = {
            tuple(r)
            for r in dedup_ops.simhash_lookup_pairs(
                crawl, index, "doc_id", "text", bits=16, bands=2, max_distance=1
            ).collect()
        }
        assert got == want and len(got) > 0


class TestCatalogStreamingEntries:
    """The driver-visible streaming rows (T1–T5 executed under
    Structured Streaming inside the catalog, not merely tested here):
    the streaming result must equal its batch twin exactly."""

    SF = "/root/testdata/sf0.001"

    def test_streaming_tumbling_equals_batch(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            streaming_tumbling_hour_stats,
        )

        got = streaming_tumbling_hour_stats(spark, self.SF)
        ev = load_table(spark, self.SF, "events")
        want = (
            ev.groupBy(
                F.date_trunc("hour", "ts").alias("window_start"),
                F.col("event_type"),
            )
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .withColumn("avg_value", F.round(F.col("sum_value") / F.col("n_events"), 6))
            .withColumn(
                "window_end", F.col("window_start") + F.expr("INTERVAL 1 HOUR")
            )
        )
        cols = ["window_start", "window_end", "event_type", "n_events", "sum_value", "avg_value"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )

    def test_streaming_dedup_equals_batch_distinct(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            streaming_dedup_events,
        )

        got = streaming_dedup_events(spark, self.SF)
        ev = load_table(spark, self.SF, "events")
        want = ev.select(
            "user_id", "event_type", F.date_trunc("minute", "ts").alias("minute")
        ).distinct()
        assert got.count() == want.count()
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_reruns_are_idempotent(self, spark):
        # the append-mode sink must not double rows when the same entry
        # runs twice in one session (scratch is recreated per call)
        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            streaming_dedup_events,
        )

        a = streaming_dedup_events(spark, self.SF).count()
        b = streaming_dedup_events(spark, self.SF).count()
        assert a == b

    def test_streaming_terminal_jobs_equals_batch(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog import (
            streaming_terminal_job_status,
        )

        got = {
            r["job_id"]: (r["final_status"], r["n_updates"])
            for r in streaming_terminal_job_status(spark, self.SF).collect()
        }
        ev = load_table(spark, self.SF, "events").select(
            F.col("user_id").cast("string").alias("job_id"),
            F.when(F.col("event_type") == "error", "Failed")
            .when(F.col("event_type") == "purchase", "Succeeded")
            .otherwise("Running")
            .alias("status"),
            "ts",
        )
        n = ev.groupBy("job_id").count()
        t = (
            ev.filter(F.col("status").isin("Failed", "Succeeded"))
            .groupBy("job_id")
            .agg(F.max_by("status", "ts").alias("final_status"))
        )
        want = {
            r["job_id"]: (r["final_status"], r["count"])
            for r in t.join(n, "job_id").collect()
        }
        assert got == want
        assert len(got) > 0

    def test_append_sink_batch_retry_is_idempotent(self, spark, tmp_path):
        """A foreachBatch body can be re-invoked for the SAME batchId
        after a transient failure; the per-batch overwrite layout must
        make the second invocation replace (not duplicate) the first
        one's rows, and an un-retried sibling batch must survive."""
        out = str(tmp_path / "out")
        a = spark.range(5).selectExpr("id AS v")
        b = spark.range(5, 8).selectExpr("id AS v")
        # batch 0 committed once, batch 1 committed then RETRIED
        a.write.mode("overwrite").parquet(f"{out}/batch_id=0")
        b.write.mode("overwrite").parquet(f"{out}/batch_id=1")
        b.write.mode("overwrite").parquet(f"{out}/batch_id=1")  # retry
        got = sorted(
            r["v"] for r in spark.read.parquet(out).drop("batch_id").collect()
        )
        assert got == list(range(8))

    def test_zero_row_stream_reads_back_empty(self, spark):
        """A stream whose plan emits no rows must still read back as an
        empty frame with the plan's schema (the pre-committed empty
        frame), not die on parquet schema inference."""
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
            run_available_now_to_parquet,
        )

        s = events_parquet_stream(spark, self.SF).filter("value < -1").select(
            "event_id", "value"
        )
        got = run_available_now_to_parquet(
            s, output_mode="append", query_name="zero_row_probe",
        )
        assert got.count() == 0
        assert got.columns == ["event_id", "value"]


class TestNoDataBatchGate:
    """streaming.sources.stream_settings(...).keep_no_data: the runner
    keeps the trailing no-data micro-batch only for plans where it can
    emit a row; every other stream runs its data batches alone."""

    def test_catalog_streams_skip_the_no_data_batch(self, spark, monkeypatch):
        from hebrew_tutor_data_pipeline_spark.plans import CATALOG
        from hebrew_tutor_data_pipeline_spark.streaming import sources

        class Captured(Exception):
            pass

        seen = {}

        def capture(df, output_mode, query_name):
            seen[query_name] = sources.stream_settings(df, output_mode)
            raise Captured

        monkeypatch.setattr(sources, "run_available_now_to_parquet", capture)
        names = [n for n in CATALOG if n.startswith("streaming_")]
        for name in names:
            with pytest.raises(Captured):
                CATALOG[name].spark(spark, SF)
        assert len(names) == len(seen) == 10
        assert not any(st.keep_no_data for st in seen.values()), seen
        # every events stream sizes its state partitions from the events
        # table (counted once in the self-joins); the pyds stream has no
        # parquet leaf and gets no override
        events = load_table(spark, SF, "events").count()
        assert {q: st.input_rows for q, st in seen.items()} == {
            q: None if q == "chapter_source_pyds_stream" else events for q in seen
        }

    def test_plans_that_can_emit_keep_it(self, spark):
        import pandas as pd
        from pyspark.sql.streaming.state import GroupStateTimeout
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
            stream_settings,
        )

        def keeps_no_data_batches(df, output_mode):
            return stream_settings(df, output_mode).keep_no_data

        ev = events_parquet_stream(spark, SF)
        wm = ev.withWatermark("ts", "10 minutes")
        tumbling = tumbling_window_stats(ev, window_duration="1 hour")
        left_outer = wm.alias("a").join(
            events_parquet_stream(spark, SF)
            .withWatermark("ts", "10 minutes")
            .alias("b"),
            F.expr(
                "a.user_id = b.user_id AND a.ts >= b.ts"
                " AND a.ts <= b.ts + INTERVAL 1 HOUR"
            ),
            "left_outer",
        )

        def emit_key(key, pdfs, state):
            yield pd.DataFrame({"user_id": [key[0]]})

        event_time = wm.groupBy("user_id").applyInPandasWithState(
            emit_key, "user_id long", "n long", "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        class Noop(StatefulProcessor):
            # building the plan needs no protobuf; running it would
            def init(self, handle):
                pass

            def handleInputRows(self, key, rows, timer_values):
                yield from ()

            def close(self):
                pass

        tws = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=Noop(), outputStructType="user_id long",
            outputMode="append", timeMode="none",
        )
        assert keeps_no_data_batches(tumbling, "append")
        assert not keeps_no_data_batches(tumbling, "complete")
        assert keeps_no_data_batches(left_outer, "append")
        assert keeps_no_data_batches(event_time, "append")
        assert keeps_no_data_batches(tws, "append")

    def test_processing_timeout_that_needs_no_data_batches_raises(self, spark):
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
            run_available_now_to_parquet,
        )

        updates = events_parquet_stream(spark, SF).select(
            F.col("user_id").cast("string").alias("job_id"),
            F.col("event_type").alias("status"),
            "ts",
        )
        per_status = terminal_jobs(updates).groupBy("final_status").count()
        with pytest.raises(ValueError, match="never finish"):
            run_available_now_to_parquet(
                per_status, output_mode="append", query_name="gate_raise_test",
            )
        assert all(q.name != "gate_raise_test" for q in spark.streams.active)

    def test_append_window_aggregate_emits_windows_closed_by_final_watermark(self, spark):
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
            run_available_now_to_parquet,
        )

        got = run_available_now_to_parquet(
            tumbling_window_stats(
                events_parquet_stream(spark, SF), window_duration="1 hour"
            ),
            output_mode="append",
            query_name="gate_append_tumble_test",
        )
        got = {(r["window_start"], r["n_events"], r["sum_value"]) for r in got.collect()}
        ev = load_table(spark, SF, "events")
        cutoff = ev.agg(F.max("ts") - F.expr("INTERVAL 10 MINUTES")).first()[0]
        want = {
            (r["window"]["start"], r["n"], r["s"])
            for r in ev.groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
            .collect()
            if r["window"]["end"] <= cutoff
        }
        assert got == want and len(got) > 0

    def test_user_keyed_join_runs_one_batch_and_equals_its_oracle(self, spark):
        import duckdb

        from hebrew_tutor_data_pipeline_spark.plans import CATALOG
        from tools.parity import table_hash

        spec = CATALOG["streaming_user_clicks_purchase_windows"]
        listener = ProgressListener()
        spark.streams.addListener(listener)
        try:
            got = spec.spark(spark, SF)
            # listener events are async: drain the listener bus
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        finally:
            spark.streams.removeListener(listener)
        batches = [
            p for p in listener.progress
            if p["name"] == "user_clicks_purchase_join_stream"
        ]
        assert [p["batchId"] for p in batches] == [0]
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
        cur = con.execute(spec.oracle)
        want, cols = cur.fetchall(), [d[0] for d in cur.description]
        rows = [tuple(r) for r in got.collect()]
        assert len(rows) == len(want) > 0
        assert table_hash(rows, got.columns) == table_hash(want, cols)


class TestScratchSweep:
    def test_live_tree_with_fresh_nested_write_survives(self, tmp_path, monkeypatch):
        """POSIX mtime does not propagate upward: a scratch ROOT created
        >1h ago whose stream is still writing into ckpt/ must NOT be
        swept — liveness is the newest mtime anywhere in the tree."""
        import os
        import time

        from hebrew_tutor_data_pipeline_spark import scope as src

        monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
        old = time.time() - 7200
        live = tmp_path / "htdp_live_otherapp"
        (live / "ckpt").mkdir(parents=True)
        (live / "ckpt" / "offsets").write_text("42")  # fresh nested write
        os.utime(live, (old, old))
        os.utime(live / "ckpt", (old, old))
        dead = tmp_path / "htdp_dead_otherapp"
        (dead / "out").mkdir(parents=True)
        (dead / "out" / "part-0").write_text("x")
        for p in (dead, dead / "out", dead / "out" / "part-0"):
            os.utime(p, (old, old))
        monkeypatch.setattr(src, "_ORPHANS_SWEPT", False)
        src._sweep_stale_scratch("thisapp")
        assert live.exists(), "live tree with fresh nested write was swept"
        assert not dead.exists(), "dead tree (all mtimes stale) survived"

    def test_own_app_tree_never_swept(self, tmp_path, monkeypatch):
        import os
        import time

        from hebrew_tutor_data_pipeline_spark import scope as src

        monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
        mine = tmp_path / "htdp_x_thisapp"
        mine.mkdir()
        old = time.time() - 7200
        os.utime(mine, (old, old))
        monkeypatch.setattr(src, "_ORPHANS_SWEPT", False)
        src._sweep_stale_scratch("thisapp")
        assert mine.exists()


class TestStatePartitionKnob:
    """state_partitions_for / plan_rows: the bounded-run state sizing
    knob (r13) and the one row statistic it reads. shuffle partitions ==
    state-store instances, and each instance pays
    open+commit+checkpoint per microbatch — measured ~2x on ~100k-row
    inputs at 32 vs 4 (bench_runs/README.md Round 13)."""

    def test_state_partitions_for_shape(self):
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            state_partitions_for,
        )

        assert state_partitions_for(0, 32) == 4          # floor
        assert state_partitions_for(100_000, 32) == 4    # sf0.1 events
        assert state_partitions_for(1_000_000, 32) == 20  # sf1
        assert state_partitions_for(10_000_000, 32) == 32  # sf10: default
        # never raises above the session default (tests run at 4)
        assert state_partitions_for(10_000_000, 4) == 4
        assert state_partitions_for(0, 2) == 2

    def test_plan_rows_matches_spark(self, spark):
        from hebrew_tutor_data_pipeline_spark.sources.layout import plan_rows

        events = load_table(spark, "/root/testdata/sf0.001", "events")
        assert plan_rows(events) == events.count()

    def test_input_rows_read_from_the_plan_on_both_layouts(self, spark, tmp_path):
        """The runner's input-row count comes from the footers of the
        parquet files the stream's own plan scans: the flat layout (the
        directory plus a pathGlobFilter) and a directory of part files
        count the same rows, and a self-join counts its table once."""
        import pyarrow.parquet as pq

        from hebrew_tutor_data_pipeline_spark.sources.layout import plan_rows
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
            stream_settings,
        )

        n = load_table(spark, SF, "events").count()
        flat = events_parquet_stream(spark, SF)
        assert stream_settings(flat, "append").input_rows == n
        self_join = flat.alias("a").join(
            events_parquet_stream(spark, SF).alias("b"), "user_id"
        )
        assert stream_settings(self_join, "append").input_rows == n
        parts = tmp_path / "events.parquet"
        parts.mkdir()
        table = pq.read_table(f"{SF}/events.parquet")
        third = len(table) // 3
        for i, lo in enumerate((0, third, 2 * third)):
            hi = len(table) if i == 2 else lo + third
            pq.write_table(table.slice(lo, hi - lo), parts / f"part-{i}.parquet")
        (parts / "_SUCCESS").write_text("")
        stream = events_parquet_stream(spark, str(tmp_path))
        assert plan_rows(load_table(spark, str(tmp_path), "events")) == n
        assert stream_settings(stream, "append").input_rows == n

    def test_frame_derived_from_a_pinned_frame_counts_its_table(self, spark):
        """The optimized plan of a frame filtered from a persisted one
        reads the cache (``inputFiles()`` is empty); the analyzed plan
        still names the table. A self-join counts it once, and a static
        side counts for a batch join but not for a stream-static one."""
        from hebrew_tutor_data_pipeline_spark.scope import QueryScope, pin
        from hebrew_tutor_data_pipeline_spark.sources.layout import plan_rows
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            events_parquet_stream,
        )

        events = load_table(spark, SF, "events")
        n = events.count()
        with QueryScope(spark):
            slice_ = pin(events).filter(F.col("event_id") % 10 != 7)
            assert slice_.inputFiles() == []
            assert plan_rows(slice_) == n
            assert plan_rows(slice_.alias("a").join(slice_.alias("b"), "event_id")) == n
        customer = load_table(spark, SF, "customer")
        enriched = events_parquet_stream(spark, SF).join(
            customer, F.col("user_id") == F.col("c_custkey")
        )
        assert plan_rows(enriched) == n
        assert plan_rows(events.join(customer, F.col("user_id") == F.col("c_custkey"))) == (
            n + customer.count()
        )

    def test_frames_without_a_file_leaf_give_none(self, spark):
        from hebrew_tutor_data_pipeline_spark.plans.catalog_hebrew import (
            FIXTURE_AUDIO_TREE,
        )
        from hebrew_tutor_data_pipeline_spark.sources.layout import plan_rows
        from hebrew_tutor_data_pipeline_spark.sources.pyds import register_chapter_source

        assert plan_rows(spark.createDataFrame([(1, "a")], "id long, s string")) is None
        register_chapter_source(spark)
        chapters = (
            spark.readStream.format("hebrew_chapters")
            .option("root", FIXTURE_AUDIO_TREE)
            .option("max_chapter", 4)
            .load()
        )
        assert plan_rows(chapters) is None

    def test_knob_restores_session_conf(self, spark, tmp_path):
        """The derived state-partition override (4, from a 10-row input
        under a session default of 8) must leave the session's
        shuffle.partitions exactly as it found it, even though the
        started query captured the derived value."""
        from hebrew_tutor_data_pipeline_spark.scope import QueryScope
        from hebrew_tutor_data_pipeline_spark.streaming.sources import (
            run_available_now_to_parquet,
            stream_settings,
        )

        src = tmp_path / "in"
        spark.range(10).selectExpr("id", "id * 2 AS v").write.parquet(str(src))
        stream = spark.readStream.schema("id long, v long").parquet(str(src))
        agg = stream.groupBy("id").count()
        assert stream_settings(agg, "complete").input_rows == 10
        with QueryScope(spark) as s:
            s.set_conf("spark.sql.shuffle.partitions", "8")
            out = run_available_now_to_parquet(
                agg, output_mode="complete", query_name="knob_restore_test"
            )
            assert out.count() == 10
            assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
