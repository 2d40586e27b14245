"""Job-status polling as a stateful stream (T3).

The reference polls a batch-transcription job every 5 s for up to 60
attempts, stopping on terminal states
(`fixed_hebrew_aligner.py:369-403`). Stream-first: status updates are an
unbounded stream keyed by job; per-key state keeps the latest status;
terminal states emit exactly once and drop the key's state. Implemented
with ``applyInPandasWithState`` — the custom stateful operator surface —
with a processing-time timeout standing in for the reference's 60-attempt
cap.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

TERMINAL_STATES = ("Succeeded", "Failed", "Cancelled")

STATUS_OUT_SCHEMA = StructType(
    [
        StructField("job_id", StringType()),
        StructField("final_status", StringType()),
        StructField("n_updates", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [
        StructField("last_status", StringType()),
        StructField("n_updates", LongType()),
    ]
)


def terminal_jobs(
    status_updates: DataFrame,
    job_col: str = "job_id",
    status_col: str = "status",
    ts_col: str = "ts",
    timeout_ms: int = 5 * 60 * 1000,
) -> DataFrame:
    """Emit one row per job when it reaches a terminal state (or times
    out → final_status 'TimedOut', mirroring the reference's 5-minute
    recognition timeout, `fixed_hebrew_aligner.py:278-314`)."""

    def track(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (job_id,) = key
        if state.hasTimedOut:
            last, n = state.get if state.exists else ("Unknown", 0)
            state.remove()
            yield pd.DataFrame(
                {"job_id": [job_id], "final_status": ["TimedOut"], "n_updates": [n]}
            )
            return
        last, n = state.get if state.exists else (None, 0)
        terminal: str | None = None
        # concat BEFORE sorting: one key's micro-batch can span several
        # Arrow chunks (maxRecordsPerBatch), and per-chunk sorts make
        # "latest status" chunk-order-dependent instead of ts-latest
        all_pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(all_pdf):
            all_pdf = all_pdf.sort_values(ts_col)
            for s in all_pdf[status_col]:
                n += 1
                last = s
                if s in TERMINAL_STATES:
                    terminal = s
        if terminal is not None:
            state.remove()
            yield pd.DataFrame(
                {"job_id": [job_id], "final_status": [terminal], "n_updates": [n]}
            )
        else:
            state.update((last, n))
            state.setTimeoutDuration(timeout_ms)

    return status_updates.groupBy(job_col).applyInPandasWithState(
        track,
        outputStructType=STATUS_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def latest_status_stream(
    status_updates: DataFrame,
    job_col: str = "job_id",
    status_col: str = "status",
    ts_col: str = "ts",
) -> DataFrame:
    """Continuously-updated latest status per job — the streaming
    last-wins upsert (S9 twin): aggregate max_by(status, ts) per key in
    update mode; sinks see one row per changed key per micro-batch."""
    from pyspark.sql import functions as F

    return status_updates.groupBy(job_col).agg(
        F.max_by(status_col, ts_col).alias("status"),
        F.max(ts_col).alias("last_ts"),
    )
