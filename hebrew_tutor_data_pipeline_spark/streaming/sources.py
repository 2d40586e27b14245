"""Streaming sources (T1 — event streams as micro-batches).

The reference consumes Azure recognition events via callbacks appending
to a list until `session_stopped` (`fixed_hebrew_aligner.py:278-314`).
Structured Streaming's file/rate sources give the same
unbounded-append model with replay and exactly-once bookkeeping.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..scope import QueryScope, scratch, set_conf
from ..sources.layout import plan_nodes, plan_rows

#: Schema of the synthetic `events` table as a stream (file sources
#: require an explicit schema — no runtime inference on unbounded input).
EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_file_stream(
    spark: SparkSession,
    directory: str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay an events directory as a stream. ``maxFilesPerTrigger``
    throttles ingestion (the streaming analog of the reference's
    semaphore-bounded concurrency, `fixed_hebrew_aligner.py:724-731`)."""
    reader = spark.readStream.format(fmt).schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(directory)


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic unbounded source for smoke tests and demos — one row per
    tick with (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(F.col("timestamp").alias("ts"), F.col("value"))
    )


def events_parquet_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic events parquet as a file-source stream, with the
    SAME ts-domain normalization policy as ``sources.readers.load_table``
    (parquet TIMESTAMP(NANOS)→micros via nanosAsLong, NTZ→LTZ) so
    streaming and batch plans share one time domain. Schema comes from a
    batch metadata probe — file sources cannot infer on unbounded input."""
    import os

    set_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # realistic layout: events.parquet is a DIRECTORY of part files
        # (any multi-writer output); stream it directly — a pathGlobFilter
        # of 'events.parquet' would match zero part files and the stream
        # would silently emit nothing (caught by the r10 scaled-events
        # probe, where every streaming exponent came back flat ~0).
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        # flat single-file layout (the driver's testdata): a file source
        # needs a directory path, so stream the parent with a glob pin.
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":  # parquet TIMESTAMP(NANOS) via nanosAsLong
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("`ts` div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


#: State store backend of every stream this runner starts. The default
#: HDFSBackedStateStoreProvider keeps EVERY key's state as JVM objects on
#: the executor heap — at 100× key cardinality that is executor OOM, not
#: a tuning problem. RocksDB keeps state off-heap with block-cache-bounded
#: memory and incremental checkpoints; Spark bundles rocksdbjni, so this
#: is a pure conf flip. Measured: bench_runs/r07_state_store.json (10^7
#: distinct dedup keys: 3.6 GB on-heap for the default, 282 MB for RocksDB).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

#: seconds an availableNow run may take before the runner stops it
TIMEOUT_SECONDS = 600

#: rows of stream input one state partition should absorb before another
#: partition is worth its per-microbatch cost (a RocksDB instance open +
#: commit + checkpoint upload PER PARTITION PER BATCH). Measured sf0.1
#: A/B (bench_runs/README.md Round 13): three stateful queries at 32
#: partitions ran ~2x their 4-partition time on ~100k-row input —
#: pure state-machinery overhead, zero compute difference.
STATE_TARGET_ROWS_PER_PARTITION = 50_000


def state_partitions_for(input_rows: int, default: int) -> int:
    """Corpus-derived state-partition count for a bounded (availableNow)
    stream run: enough partitions that each absorbs
    ~STATE_TARGET_ROWS_PER_PARTITION input rows, floored at 4 for
    parallelism, never above the session default (the cluster-sized
    setting always wins at scale — at 100 TB the ceil() term exceeds any
    sane default and this returns `default` unchanged). shuffle
    partitions == state-store instances for stateful operators, and
    each instance pays open+commit+checkpoint per microbatch whether or
    not it holds data."""
    import math

    return min(default, max(4, math.ceil(input_rows / STATE_TARGET_ROWS_PER_PARTITION)))


class StreamSettings(NamedTuple):
    """What the runner reads from a stream's analyzed plan."""

    keep_no_data: bool
    input_rows: int | None


def stream_settings(df: DataFrame, output_mode: str) -> StreamSettings:
    """The runner's settings for the stream ``df``, read in one walk of
    its analyzed plan (zero jobs).

    ``keep_no_data``: whether a no-data micro-batch could emit a row.
    Only a watermark advance with no new input can close something, and
    only these streaming nodes emit on a close: an ``Aggregate`` outside
    ``complete`` mode (windows finalized by the watermark), a
    stream-stream ``Join`` that is not ``Inner`` (outer/semi rows
    emitted at state eviction), a ``*WithState`` node with
    ``EventTimeTimeout`` and any ``TransformWithState*`` node (timers).
    Everything else — complete-mode aggregates, dedup, inner joins,
    stateless plans — only evicts state in such a batch. A
    processing-time timeout fires only in the batches that follow the
    data, so a stream holding one would never finish under
    ``availableNow`` unless its no-data batches are dropped; a plan that
    has one AND needs its no-data batches raises ``ValueError``.

    ``input_rows``: ``sources.layout.plan_rows(df)``, the rows of the
    files the stream's parquet file-source leaves read, from their
    footers — the interval joins read ``events`` twice and count it
    once, and the static side of a stream-static join does not count.
    None when the plan has no parquet file leaf (the pyds chapter
    stream, a rate source) or one whose path is not a local
    directory."""
    keep = processing_timeout = False
    for node in (n for n in plan_nodes(df) if n.isStreaming()):
        name = node.getClass().getSimpleName()
        if name.startswith("TransformWithState"):
            keep = True
        elif name.endswith("WithState"):
            timeout = node.timeout().toString()
            keep |= timeout == "EventTimeTimeout"
            processing_timeout |= timeout == "ProcessingTimeTimeout"
        elif name == "Aggregate":
            keep |= output_mode != "complete"
        elif name == "Join" and node.left().isStreaming() and node.right().isStreaming():
            keep |= node.joinType().toString() != "Inner"
    if keep and processing_timeout:
        raise ValueError("processing-time timeout + no-data batches: would never finish")
    return StreamSettings(keep, plan_rows(df))


def run_available_now_to_parquet(df: DataFrame, output_mode: str, query_name: str) -> DataFrame:
    """Execute a streaming frame with the availableNow trigger into a
    parquet sink via foreachBatch and return the committed result as a
    batch frame.

    The caller names the plan, its output mode and the query; the runner
    works out the rest itself, from one walk of the analyzed plan
    (``stream_settings``, zero jobs) and fixed choices:

    - state partitions: ``state_partitions_for`` of the stream's
      ``plan_rows`` (the parquet footers of the files its file-source
      leaves read); no override when the plan has no parquet file leaf;
    - the trailing no-data micro-batch: run only where it can emit a row
      (below);
    - the state store: RocksDB (``ROCKSDB_PROVIDER``);
    - the work dir: ``scratch(spark, "stream_<query_name>")``, already
      per application and per query, cleared on start;
    - the run is stopped after ``TIMEOUT_SECONDS``.

    Sink discipline per mode, idempotent under micro-batch RETRY (a
    foreachBatch body can run twice for one batchId after a transient
    failure): ``complete`` batches carry the full aggregate → OVERWRITE
    of the output root (any re-run rewrites the same final state);
    ``append`` batches carry only new rows → each batch OVERWRITES its
    own ``batch_id=<id>`` subdirectory, so a retried batch replaces its
    prior partial output instead of double-appending, and committed
    batches union via partition discovery on read-back. A stream that
    emits zero rows still reads back as an empty typed frame rather
    than a schema-inference error: an empty schema-carrier frame is
    written AFTER the run iff no batch produced output (os-level check,
    zero Spark jobs). The checkpoint is deleted after completion; the
    output dir (the returned frame is lazy) stays readable until the
    current ``QueryScope`` closes, or for the session outside one. The
    state-store provider conf is restored by that scope too, and the
    state-partition override right after ``start()``.

    The trailing no-data micro-batch (run after the data to apply the
    advanced watermark) is kept only where it can emit a row: append-mode
    aggregates, non-inner stream-stream joins, event-time timeouts and
    transformWithState. Every other stream runs its data batches alone;
    the skipped batch would only evict state into a checkpoint deleted
    right after the run. Skipping it took the user-keyed interval join's
    median from 2.92 to 2.13 s on a 4-core VM
    (bench_runs/r16_no_dead_rounds_ab.json). The returned frame is the
    output of the batches that ran. A processing-time-timeout stream
    therefore ends by itself under availableNow, before any timeout can
    fire a nondeterministic late row. A production deployment swaps the
    sink body for its real writer; the plan above it is unchanged."""
    import shutil
    from pathlib import Path

    settings = stream_settings(df, output_mode)
    spark = df.sparkSession
    work = scratch(spark, f"stream_{query_name}")
    shutil.rmtree(work, ignore_errors=True)
    out = str(work / "out")
    ckpt = str(work / "ckpt")

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        path = out if output_mode == "complete" else f"{out}/batch_id={batch_id}"
        batch_df.write.mode("overwrite").parquet(path)

    # session conf is captured per-query at start — affects only
    # streams started after this point, never a running query
    set_conf(spark, "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    with QueryScope(spark) as start_scope:
        if settings.input_rows is not None:
            # size state partitions to the bounded input
            # (state_partitions_for rationale above); the conf is cloned
            # into the query at start(), so restoring right after never
            # touches the running stream. Each run gets a FRESH checkpoint
            # (scratch cleared above), so the partition count frozen into
            # the checkpoint can never conflict with a later run's choice.
            default = int(spark.conf.get("spark.sql.shuffle.partitions"))
            parts = state_partitions_for(settings.input_rows, default)
            if parts != default:
                start_scope.set_conf("spark.sql.shuffle.partitions", str(parts))
        if not settings.keep_no_data:
            start_scope.set_conf("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        q = (
            df.writeStream.outputMode(output_mode)
            .queryName(query_name)
            .foreachBatch(_write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    try:
        if not q.awaitTermination(TIMEOUT_SECONDS):
            raise TimeoutError(f"{query_name}: stream did not finish")
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    # Zero-rows fallback DEFERRED (r13): the empty schema-carrier frame
    # used to be parquet-written UP FRONT on every run — one Spark write
    # job per streaming query paid even though every catalog stream
    # commits data. Now an os-level listing (zero jobs) detects the
    # no-batch-output case after the run and only then writes the empty
    # frame, so a stream that emits zero rows still reads back as an
    # empty typed frame rather than a schema-inference error. Committed
    # batches are unchanged: a batch (even a 0-row one) writes part
    # files, which the glob sees.
    if not any(Path(out).rglob("*.parquet")):
        _write_batch(spark.createDataFrame([], df.schema), -1)
    # Append mode lays batches out as batch_id=<id> partition dirs; drop
    # the discovered partition column to restore the plan's schema
    # (drop() of an absent column — the complete-mode case — is a no-op).
    return spark.read.parquet(out).drop("batch_id")
