"""Streaming state at depth (VERDICT r10 'next' #6): two probes the
r07/r10 state evidence did not cover.

A. CRASH-RESTART EXACTLY-ONCE AT x100. Phase 1 runs a watermark dedup
   over the 10M-event x100 tree into a real parquet sink in a CHILD
   process that `os._exit(1)`s mid-stream — a hard JVM kill with no
   cleanup, not a graceful stop — leaving a checkpoint with committed
   and in-flight batches. Phase 2 resumes from the same checkpoint with
   availableNow and runs to completion. The assertion is the
   exactly-once contract itself: the sink holds EXACTLY the distinct
   event_ids of the input — no loss from the killed batch, no
   duplication from its replay (parquet sink manifest + checkpoint
   offsets). Recorded: batches committed before the kill, recovery
   wall, final row count vs batch ground truth.

B. 10^8-KEY STATE BUILD (RocksDB only — the heap provider is the
   documented non-scale path). A synthetic stream of 10^8 DISTINCT
   dedup keys (nothing evicted: peak state == key count), recording
   wall, stateOperators rows/memory, RocksDB SST size, then a
   RESTART-AND-DRAIN from the checkpoint with no new data, timing the
   state reload.

C. STATE RELOAD UNDER LOAD (``--reload-only``) — closes the caveat
   probe B recorded: build n_keys distinct-key state, append a second
   batch (half duplicates of existing state, half fresh), restart from
   the checkpoint; the second drain pays the RocksDB load and the sink
   count proves the reloaded state was consulted (see
   probe_state_reload).

Usage: python tools/state_scale_probe.py [--out bench_runs/r11_state_scale.json]
       [--keys N] (default 100_000_000) [--skip-b] [--reload-only]
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hebrew_tutor_data_pipeline_spark.session import get_spark  # noqa: E402
from hebrew_tutor_data_pipeline_spark.streaming.sources import (  # noqa: E402
    ROCKSDB_PROVIDER,
)

X100_EVENTS = "/root/scale_data/x100/events.parquet"

#: phase-1 child: start the dedup stream against a parquet sink, then
#: hard-kill the process mid-stream. maxFilesPerTrigger=1 forces many
#: micro-batches so the kill reliably lands between/inside batches.
_PHASE1 = """
import os, sys, threading, time
sys.path.insert(0, {repo!r})
from hebrew_tutor_data_pipeline_spark.session import get_spark
from hebrew_tutor_data_pipeline_spark.streaming.sources import ROCKSDB_PROVIDER

spark = get_spark("state-crash-phase1")
spark.sparkContext.setLogLevel("ERROR")
spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
schema = spark.read.parquet({src!r}).schema
from pyspark.sql import functions as F
stream = (
    spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", 1)
    .parquet({src!r})
    .withColumn("ts", F.col("ts").cast("timestamp"))  # raw scan reads NTZ
    .withWatermark("ts", "365 days")
    .dropDuplicatesWithinWatermark(["event_id"])
)
try:
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", {sink!r})
        .option("checkpointLocation", {ckpt!r})
        .trigger(processingTime="0 seconds")
        .start()
    )
except Exception as exc:
    print("PHASE1 START FAILED:", exc, flush=True)
    os._exit(3)
def reaper():
    deadline = time.time() + {kill_after}
    while time.time() < deadline:
        time.sleep(0.2)
    n = len(q.recentProgress)
    print(f"KILLING after {{n}} progress events", flush=True)
    os._exit(1)  # hard kill: no stop(), no JVM shutdown hooks
threading.Thread(target=reaper, daemon=True).start()
try:
    q.awaitTermination(600)
except Exception as exc:
    print("PHASE1 STREAM FAILED:", exc, flush=True)
    os._exit(3)
os._exit(2)  # stream drained before the kill fired — probe misconfigured
"""


def probe_crash_restart(out_root: Path) -> dict:
    sink = out_root / "sink"
    ckpt = out_root / "ckpt"
    for p in (sink, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    code = _PHASE1.format(
        repo=str(Path(__file__).resolve().parent.parent),
        src=X100_EVENTS,
        sink=str(sink),
        ckpt=str(ckpt),
        kill_after=25,
    )
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=900
    )
    phase1_sec = round(time.perf_counter() - t0, 2)
    if r.returncode != 1 or "KILLING" not in r.stdout:
        raise RuntimeError(
            f"phase-1 child exited {r.returncode} (wanted the hard kill=1):\n"
            + r.stdout[-2000:] + r.stderr[-2000:]
        )

    spark = get_spark("state-crash-phase2")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        try:
            rows_before = spark.read.parquet(str(sink)).count()
        except Exception:  # noqa: BLE001 — kill can precede the first commit
            rows_before = 0
        schema = spark.read.parquet(X100_EVENTS).schema
        from pyspark.sql import functions as F

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(X100_EVENTS)
            .withColumn("ts", F.col("ts").cast("timestamp"))  # raw scan reads NTZ
            .withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        t1 = time.perf_counter()
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(900):
            q.stop()
            raise TimeoutError("phase-2 recovery did not drain")
        recovery_sec = round(time.perf_counter() - t1, 2)
        got = spark.read.parquet(str(sink))
        n_rows = got.count()
        n_distinct = got.select("event_id").distinct().count()
        expected = (
            spark.read.parquet(X100_EVENTS).select("event_id").distinct().count()
        )
        return {
            "phase1_wall_sec": phase1_sec,
            "rows_committed_before_kill": rows_before,
            "recovery_wall_sec": recovery_sec,
            "rows_after_recovery": n_rows,
            "distinct_after_recovery": n_distinct,
            "expected_distinct": expected,
            "exactly_once": n_rows == n_distinct == expected,
            "kill_log": [
                ln for ln in r.stdout.splitlines() if ln.startswith("KILLING")
            ],
        }
    finally:
        spark.stop()


def synth_events(spark, n_keys: int, root: Path) -> str:
    """n_keys rows, every row a DISTINCT dedup key (worst case for
    state growth: nothing is ever evicted as a duplicate), event times
    inside one watermark window so no state is dropped mid-run either —
    the stream must HOLD n_keys state rows at its peak."""
    out = root / f"events_{n_keys}"
    if not (out / "_SUCCESS").exists():
        (
            spark.range(n_keys)
            .selectExpr(
                "id AS user_id",
                "CAST(timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id % 60) AS timestamp) AS ts",
                "CAST(id AS STRING) AS event_type",
            )
            .coalesce(8)
            .write.mode("overwrite")
            .parquet(str(out))
        )
    return str(out)


def probe_big_state(n_keys: int, out_root: Path) -> dict:
    spark = get_spark("state-100m")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        src = synth_events(spark, n_keys, out_root)
        ckpt = out_root / "ckpt_big"
        shutil.rmtree(ckpt, ignore_errors=True)
        schema = spark.read.parquet(src).schema

        def start():
            return (
                spark.readStream.schema(schema)
                .parquet(src)
                .withWatermark("ts", "10 minutes")
                .dropDuplicatesWithinWatermark(["user_id", "event_type"])
                .writeStream.outputMode("append")
                .format("noop")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )

        t0 = time.perf_counter()
        q = start()
        if not q.awaitTermination(3600):
            q.stop()
            raise TimeoutError("10^8 state build did not drain")
        build_sec = round(time.perf_counter() - t0, 2)
        peak = {"numRowsTotal": 0, "memoryUsedBytes": 0}
        custom: dict = {}
        for p in q.recentProgress:
            for so in p.get("stateOperators", []):
                if so.get("numRowsTotal", 0) >= peak["numRowsTotal"]:
                    peak = {
                        "numRowsTotal": so.get("numRowsTotal", 0),
                        "memoryUsedBytes": so.get("memoryUsedBytes", 0),
                    }
                    custom = so.get("customMetrics", {}) or {}
        # restart-and-drain the SAME checkpoint, no new input: the wall
        # is state-store reload + offset catch-up
        t1 = time.perf_counter()
        q2 = start()
        if not q2.awaitTermination(1800):
            q2.stop()
            raise TimeoutError("state reload did not drain")
        rec = {
            "build_wall_sec": build_sec,
            "state_rows_peak": peak["numRowsTotal"],
            "state_memory_mb": round(peak["memoryUsedBytes"] / 1e6, 1),
            "reload_wall_sec": round(time.perf_counter() - t1, 2),
        }
        for k in (
            "rocksdbTotalMemoryUsageBytes",
            "rocksdbSstFileSize",
        ):
            if k in custom:
                rec[k] = custom[k]
        shutil.rmtree(ckpt, ignore_errors=True)
        return rec
    finally:
        spark.stop()


def probe_state_reload(n_keys: int, n_second: int, out_root: Path) -> dict:
    """C. STATE RELOAD UNDER LOAD — the caveat r12_state_scale.json
    recorded against probe B: an availableNow restart with NO new input
    drains in ~0.1 s because RocksDB loads state lazily, so the 'reload
    wall' there never touched the SSTs. This probe makes the restart
    EARN the reload: build ``n_keys`` distinct-key dedup state, stop,
    append a second batch of ``n_second`` rows — half duplicate keys
    from the existing state (must be DROPPED, provable only by reading
    the state back), half fresh (must pass) — and restart from the same
    checkpoint. The second drain's wall includes the RocksDB load that
    serving the duplicate lookups requires, and the sink row count
    certifies the reloaded state was actually consulted:
    ``n_keys + n_second/2`` exactly.

    Watermark is 365 days so no state evicts between batches; batch-2
    timestamps sit 2 minutes after batch-1's so they are never late.

    The second drain runs under a FRESH SparkContext (the first is
    stopped after batch 2 is written): stopping the context tears down
    the SparkEnv whose per-executor provider cache holds the live
    native store, so the restarted query must load the checkpointed
    SSTs — a same-session restart would serve lookups from the warm
    in-process store and measure nothing."""

    def _start(spark, src, sink, ckpt):
        schema = spark.read.parquet(str(src)).schema
        return (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .withWatermark("ts", "365 days")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )

    src = out_root / "reload_src"
    sink = out_root / "reload_sink"
    ckpt = out_root / "reload_ckpt"
    for p in (src, sink, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    base = "timestamp'2024-01-01 00:00:00'"
    half = n_second // 2

    spark = get_spark("state-reload-build")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        (
            spark.range(n_keys)
            .selectExpr(
                "id AS user_id",
                f"CAST({base} + make_interval(0,0,0,0,0,0, id % 60) AS timestamp) AS ts",
                "CAST(id AS STRING) AS event_type",
            )
            .coalesce(8)
            .write.mode("append")
            .parquet(str(src))
        )
        t0 = time.perf_counter()
        q = _start(spark, src, sink, ckpt)
        if not q.awaitTermination(3600):
            q.stop()
            raise TimeoutError("reload probe: state build did not drain")
        build_sec = round(time.perf_counter() - t0, 2)

        # batch 2: half the keys already IN state (same (user_id,
        # event_type) pair — must be deduped against the reloaded
        # store), half brand-new; appended as new files the restarted
        # query discovers via the checkpointed file-source log
        (
            spark.range(n_second)
            .selectExpr(
                f"CASE WHEN id < {half} THEN id ELSE {n_keys} + id - {half} END AS user_id",
                f"CAST({base} + make_interval(0,0,0,0,0,0, 120) AS timestamp) AS ts",
                f"CAST(CASE WHEN id < {half} THEN id ELSE {n_keys} + id - {half} END AS STRING) AS event_type",
            )
            .coalesce(4)
            .write.mode("append")
            .parquet(str(src))
        )
    finally:
        spark.stop()

    spark = get_spark("state-reload-drain")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
        t1 = time.perf_counter()
        q2 = _start(spark, src, sink, ckpt)
        if not q2.awaitTermination(3600):
            q2.stop()
            raise TimeoutError("reload probe: second drain did not finish")
        reload_sec = round(time.perf_counter() - t1, 2)
        loaded = {}
        for p in q2.recentProgress:
            for so in p.get("stateOperators", []):
                cm = so.get("customMetrics", {}) or {}
                for k in ("rocksdbGetCount", "rocksdbTotalBytesRead",
                          "rocksdbSstFileSize", "loadedMapCacheHitCount"):
                    if k in cm:
                        loaded[k] = loaded.get(k, 0) + cm[k]
        n_out = spark.read.parquet(str(sink)).count()
        expected = n_keys + half
        rec = {
            "n_keys": n_keys,
            "n_second_batch": n_second,
            "build_wall_sec": build_sec,
            "reload_drain_wall_sec": reload_sec,
            "fresh_spark_context_for_drain": True,
            "rows_after_second_drain": n_out,
            "expected_rows": expected,
            "duplicates_dropped_via_reloaded_state": n_out == expected,
            "rocksdb_metrics_second_drain": loaded,
        }
        for p in (src, sink, ckpt):
            shutil.rmtree(p, ignore_errors=True)
        return rec
    finally:
        spark.stop()


def main() -> int:
    args = sys.argv[1:]
    out_path = "bench_runs/r11_state_scale.json"
    n_keys = 100_000_000
    skip_b = "--skip-b" in args
    reload_only = "--reload-only" in args
    args = [a for a in args if a not in ("--skip-b", "--reload-only")]
    while args and args[0] in ("--out", "--keys"):
        flag, val, args = args[0], args[1], args[2:]
        if flag == "--out":
            out_path = val
        else:
            n_keys = int(val)

    root = Path(tempfile.gettempdir()) / "htdp_state_scale"
    root.mkdir(parents=True, exist_ok=True)
    report: dict = {}
    try:
        if reload_only:
            report["state_reload_under_load"] = probe_state_reload(
                n_keys, max(2, n_keys // 10), root / "reload"
            )
            print(
                f"# state_reload: {report['state_reload_under_load']}",
                file=sys.stderr,
            )
        else:
            report["crash_restart_x100"] = probe_crash_restart(root / "crash")
            print(
                f"# crash_restart: {report['crash_restart_x100']}",
                file=sys.stderr,
            )
            if not skip_b:
                report["state_build"] = {
                    str(n_keys): probe_big_state(n_keys, root / "big")
                }
                print(f"# state_build: {report['state_build']}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    Path(out_path).write_text(json.dumps(report, indent=1))
    print(json.dumps({"out": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
