"""Streaming progress/observability (T5).

The reference logs monotonic progress counters every 10 chapters
(`fixed_hebrew_aligner.py:756-759`). Spark-first: ``observe()`` attaches
named aggregates to the plan itself (reported per micro-batch with no
extra pass over the data) and a ``StreamingQueryListener`` receives
every progress event — the engine-level replacement for hand-rolled
counters.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.listener import StreamingQueryListener

from ..functions.timeops import epoch_micros


def with_observed_metrics(df: DataFrame, name: str = "progress") -> DataFrame:
    """Attach row/error-free counters to any (batch or streaming) plan.
    Metrics surface in QueryProgressEvent.observedMetrics[name] for
    streams, or via DataFrame.observe listeners in batch."""
    return df.observe(
        name,
        F.count(F.lit(1)).alias("rows_seen"),
    )


class ProgressListener(StreamingQueryListener):
    """The T5 progress surface: appends every stream progress event,
    parsed from its JSON, to ``progress`` (``name``, ``runId``,
    ``batchId``, ``numInputRows``, ``durationMs``, ``stateOperators``,
    ``observedMetrics``, ...). The listener bus is session-wide, so a
    consumer filters to its own query by ``name`` or ``runId``. Events
    arrive on the listener-bus thread: a reader that needs every event
    of a finished run drains the bus first
    (``spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()``)."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def running_eta(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    ts_col: str,
    total: int,
) -> DataFrame:
    """A9: per-completion running average + ETA, the declarative form of
    the reference's progress loop (`scripts/hebrew_alignment_clean_fixed.py:415-429`:
    ``avg = elapsed/processed; eta = remaining * avg``).

    One window sort per group: ``processed`` = running completion count,
    ``elapsed_ms`` = integer ms since the group's first completion,
    ``eta_ms`` = ``(total - processed) * elapsed_ms / processed``.
    ``order_cols`` must make the ordering unique within a group (pass a
    unique event id as tiebreak) or running counts are nondeterministic.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # epoch_micros is NTZ-safe (TIMESTAMP_NTZ routes through ltz under
    # the pinned-UTC session tz); taking first() over the already-
    # converted micros keeps the whole expression in one integer domain.
    ts_us = epoch_micros(df, ts_col)
    first_us = F.first(ts_us).over(run)
    elapsed_ms = F.try_divide(ts_us - first_us, F.lit(1000)).cast("bigint")
    return (
        df.withColumn("processed", F.row_number().over(w))
        .withColumn("elapsed_ms", elapsed_ms)
        .withColumn(
            "eta_ms",
            (F.lit(total) - F.col("processed")) * F.col("elapsed_ms") / F.col("processed"),
        )
    )


def format_eta(seconds: Column) -> Column:
    """The reference's three-tier ETA string
    (`hebrew_alignment_clean_fixed.py:422-427`): seconds under a minute,
    tenths of minutes under an hour, tenths of hours beyond."""
    return (
        F.when(seconds < 60, F.concat(F.format_string("%.0f", seconds), F.lit(" seconds")))
        .when(seconds < 3600, F.concat(F.format_string("%.1f", seconds / 60), F.lit(" minutes")))
        .otherwise(F.concat(F.format_string("%.1f", seconds / 3600), F.lit(" hours")))
    )
