"""One way to measure a catalog entry: a record per entry.

A harness builds its session with ``event_log_conf(dir)``, registers a
``streaming.progress.ProgressListener`` and runs each entry through
``run_entry``. That gives the entry's wall time split into plan build
and execution, the half-open range of job ids submitted while it ran,
and the stream progress events it produced. After ``spark.stop()`` has
flushed the event log, ``fold`` reads it once and adds the engine
metrics of each record's jobs.

Jobs are selected by id range, not by job group: stream micro-batches
run under the stream's own job group, so a group misses them. A range
holds every job submitted while the entry ran, so a harness must not
run entries concurrently.

Fields added by ``fold`` (same meanings as ``perfbench/trace.py``'s
``engine_metrics`` and ``stream_metrics``): ``stages`` (stages of the
range's jobs that ran at least one task), ``tasks``, ``failed_tasks``,
``executor_cpu_s``, ``gc_s``, ``shuffle_read_mb`` (local + remote),
``shuffle_write_mb``, ``spill_mb`` (memory + disk), ``input_mb``,
``output_mb`` and ``peak_execution_mb`` (the largest task's). A stage
that a job of the range lists but an earlier job already ran counts
here too. An entry that ran streams also gets ``batches``,
``trigger_ms``, ``add_batch_ms`` and ``state_commit_ms`` summed over its
progress events and ``state_rows`` (the last event of each run); its
raw ``progress`` list is dropped. MB are 2**20 bytes.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import SparkSession

from .plans import CATALOG
from .scope import QueryScope
from .streaming.progress import ProgressListener

MB = 2**20
SUMS = (
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an event log ``fold`` can read: uncompressed and
    in one file."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": Path(log_dir).as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def jobs_submitted(spark: SparkSession) -> int:
    """Jobs submitted in this SparkContext so far (the next job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def run_entry(spark: SparkSession, name: str, sf_dir: str, listener: ProgressListener) -> dict:
    """Run catalog entry ``name`` — plan build, then a ``noop`` write of
    the whole plan — inside its own ``QueryScope``. ``wall_s`` includes
    the scope's release; ``build_s``/``exec_s`` are None past a failure,
    which ``error`` holds."""
    first, lo = len(listener.progress), jobs_submitted(spark)
    rec: dict = {"name": name, "error": None, "wall_s": None, "build_s": None, "exec_s": None}
    t0 = time.perf_counter()
    try:
        with QueryScope(spark):
            df = CATALOG[name].spark(spark, sf_dir)
            t1 = time.perf_counter()
            rec["build_s"] = round(t1 - t0, 3)
            df.write.format("noop").mode("overwrite").save()
            rec["exec_s"] = round(time.perf_counter() - t1, 3)
    except Exception as exc:  # noqa: BLE001 — the harness records and continues
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    rec["wall_s"] = round(time.perf_counter() - t0, 3)
    # progress events reach the listener through the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    hi = jobs_submitted(spark)
    rec.update(job_ids=[lo, hi], jobs=hi - lo, progress=listener.progress[first:])
    return rec


def _task(e: dict) -> tuple:
    tm = e.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    return (
        (e.get("Task End Reason") or {}).get("Reason") != "Success",
        tm.get("Executor CPU Time", 0) / 1e9,
        tm.get("JVM GC Time", 0) / 1e3,
        (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB,
        (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB,
        (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / MB,
        (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB,
        (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB,
        tm.get("Peak Execution Memory", 0) / MB,
    )


def _stream_metrics(progress: list[dict]) -> dict:
    if not progress:
        return {}
    out = {"batches": len(progress), "trigger_ms": 0.0, "add_batch_ms": 0.0}
    out["state_commit_ms"] = 0.0
    state_rows: dict[str, int] = {}
    for p in progress:
        dur = p.get("durationMs") or {}
        out["trigger_ms"] += float(dur.get("triggerExecution", 0))
        out["add_batch_ms"] += float(dur.get("addBatch", 0))
        ops = p.get("stateOperators") or []
        out["state_commit_ms"] += sum(float(o.get("commitTimeMs", 0)) for o in ops)
        if ops:
            state_rows[p["runId"]] = sum(int(o.get("numRowsTotal", 0)) for o in ops)
    out["state_rows"] = sum(state_rows.values())
    return out


def fold(log_dir: str, records: Iterable[dict]) -> None:
    """Add the engine and stream fields (module docstring) to each
    ``run_entry`` record, in place, from one read of the event logs in
    ``log_dir``."""
    records = list(records)
    job_stages: dict[int, list[int]] = {}
    tasks: list[tuple] = []
    for path in sorted(Path(log_dir).iterdir()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                head = line[:40]
                if "SparkListenerJobStart" not in head and "SparkListenerTaskEnd" not in head:
                    continue
                try:
                    e = json.loads(line)
                except ValueError:  # a line still being written
                    continue
                if e["Event"] == "SparkListenerJobStart":
                    job_stages[e["Job ID"]] = e.get("Stage IDs", ())
                else:
                    tasks.append((e.get("Stage ID"), _task(e)))
    owners: dict[int, list[dict]] = {}
    for rec in records:
        rec.update(stages=0, tasks=0, failed_tasks=0, **dict.fromkeys(SUMS, 0.0))
        rec["peak_execution_mb"] = 0.0
        lo, hi = rec["job_ids"]
        for stage in {s for j in range(lo, hi) for s in job_stages.get(j, ())}:
            owners.setdefault(stage, []).append(rec)
    ran: dict[int, set[int]] = {}
    for stage, (failed, *sums, peak) in tasks:
        for rec in owners.get(stage, ()):
            ran.setdefault(id(rec), set()).add(stage)
            rec["tasks"] += 1
            rec["failed_tasks"] += failed
            for key, v in zip(SUMS, sums):
                rec[key] += v
            rec["peak_execution_mb"] = max(rec["peak_execution_mb"], peak)
    for rec in records:
        rec["stages"] = len(ran.get(id(rec), ()))
        rec.update(_stream_metrics(rec.pop("progress")))
