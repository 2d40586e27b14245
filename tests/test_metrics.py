"""The per-entry record: ``metrics.fold`` agrees with the benchmark's
trace fold, and ``metrics.run_entry`` counts jobs by id range."""

from __future__ import annotations

import json

import pytest

from hebrew_tutor_data_pipeline_spark.metrics import fold, run_entry
from hebrew_tutor_data_pipeline_spark.streaming.progress import ProgressListener
from perfbench.trace import Tracer
from tests.conftest import SF_SMOKE


def _event(event: str, **fields) -> str:
    # the event log's own layout: compact JSON, "Event" first
    return json.dumps({"Event": event, **fields}, separators=(",", ":")) + "\n"


def _task(stage: int, reason: str = "Success", **metrics) -> str:
    return _event(
        "SparkListenerTaskEnd",
        **{"Stage ID": stage, "Task End Reason": {"Reason": reason}, "Task Metrics": metrics},
    )


SYNTHETIC_LOG = [
    _event("SparkListenerApplicationStart", **{"App Name": "synthetic"}),
    _event("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0]}),
    _task(0, **{"Executor CPU Time": 7_000_000_000, "Input Metrics": {"Bytes Read": 2**30}}),
    _event("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [1, 2]}),
    _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 1}}),
    _task(
        1,
        **{
            "Executor CPU Time": 250_000_000,
            "JVM GC Time": 40,
            "Input Metrics": {"Bytes Read": 3 * 2**20},
            "Peak Execution Memory": 5 * 2**20,
        },
    ),
    _task(1, "ExceptionFailure", **{"Executor CPU Time": 10_000_000}),
    _task(
        2,
        **{
            "Executor CPU Time": 500_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**21},
            "Memory Bytes Spilled": 2**22,
            "Disk Bytes Spilled": 2**20,
            "Peak Execution Memory": 9 * 2**20,
        },
    ),
    # stage 3 is listed but never runs (skipped)
    _event("SparkListenerJobStart", **{"Job ID": 2, "Stage IDs": [3, 4]}),
    _task(
        4,
        **{
            "Shuffle Read Metrics": {"Remote Bytes Read": 2**20, "Local Bytes Read": 2**20},
            "Output Metrics": {"Bytes Written": 2**19},
        },
    ),
    _event("SparkListenerJobStart", **{"Job ID": 3, "Stage IDs": [5]}),
    _task(5, **{"Executor CPU Time": 9_000_000_000}),
    '{"Event":"SparkListenerTaskEnd","Stage ID":5,"Task',  # cut off mid-write
]


def _progress(run: str, batch: int, rows: int) -> dict:
    return {
        "runId": run,
        "batchId": batch,
        "durationMs": {"triggerExecution": 900 + batch, "addBatch": 600 + batch},
        "stateOperators": [
            {"numRowsTotal": rows, "commitTimeMs": 30, "memoryUsedBytes": 1},
            {"numRowsTotal": 1, "commitTimeMs": 5, "memoryUsedBytes": 1},
        ],
    }


class TestFold:
    def test_equals_the_trace_fold_field_by_field(self, tmp_path):
        tracer = Tracer(tmp_path)
        (tracer.log_dir / "app-1").write_text("".join(SYNTHETIC_LOG))
        progress = [_progress("a", 0, 10), _progress("a", 1, 12), _progress("b", 0, 3)]
        ranges = [(1, 3), (0, 1), (3, 3)]
        records = [{"job_ids": list(r), "progress": []} for r in ranges]
        records[0]["progress"] = progress
        fold(str(tracer.log_dir), records)

        for rec, (lo, hi) in zip(records, ranges):
            want = tracer.engine_metrics(lo, hi)
            assert {k: rec[k.removeprefix("engine.")] for k in want} == want
        tracer.progress = progress
        want = tracer.stream_metrics(0)
        for key in ("batches", "trigger_ms", "add_batch_ms", "state_commit_ms", "state_rows"):
            assert records[0][key] == want[f"streaming.{key}"]
        # the fixture exercises every field, not zeros on both sides
        expect = {
            "stages": 3,
            "tasks": 4,
            "failed_tasks": 1,
            "executor_cpu_s": 0.76,
            "gc_s": 0.04,
            "shuffle_read_mb": 2.0,
            "shuffle_write_mb": 2.0,
            "spill_mb": 5.0,
            "input_mb": 3.0,
            "output_mb": 0.5,
            "peak_execution_mb": 9.0,
            "batches": 3,
            "trigger_ms": 2701.0,
            "add_batch_ms": 1801.0,
            "state_commit_ms": 105.0,
            "state_rows": 13 + 4,
        }
        assert {k: records[0][k] for k in expect} == pytest.approx(expect)
        assert "progress" not in records[0]
        assert "batches" not in records[1] and records[1]["executor_cpu_s"] == 7.0
        assert records[2]["tasks"] == 0 and records[2]["stages"] == 0


@pytest.fixture
def listener(spark):
    lst = ProgressListener()
    spark.streams.addListener(lst)
    yield lst
    spark.streams.removeListener(lst)


def _run_in_group(spark, name, listener) -> tuple[dict, int]:
    """``run_entry``'s record and the number of jobs the entry's job
    group saw."""
    sc = spark.sparkContext
    group = f"test_metrics_{name}"
    sc.setJobGroup(group, name)
    try:
        rec = run_entry(spark, name, SF_SMOKE, listener)
    finally:
        sc.setJobGroup(None, None)
    assert rec["error"] is None
    return rec, len(sc.statusTracker().getJobIdsForGroup(group))


class TestRunEntry:
    def test_batch_entry_counts_the_jobs_of_its_group(self, spark, listener):
        rec, group_jobs = _run_in_group(spark, "distinct_dimensions", listener)
        assert rec["jobs"] == rec["job_ids"][1] - rec["job_ids"][0] == group_jobs > 1
        assert rec["progress"] == []
        assert rec["wall_s"] >= rec["build_s"] + rec["exec_s"] - 0.002

    def test_stream_entry_counts_its_micro_batch_jobs_and_one_batch(self, spark, listener):
        rec, group_jobs = _run_in_group(
            spark, "streaming_user_clicks_purchase_windows", listener
        )
        assert rec["jobs"] > group_jobs
        assert [p["batchId"] for p in rec["progress"]] == [0]
