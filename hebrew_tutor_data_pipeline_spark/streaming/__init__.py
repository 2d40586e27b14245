"""Structured Streaming layer (SURVEY.md §2.10).

The reference's stream-shaped mechanisms — recognition-event callbacks
(T1), tumbling energy windows (T2), job-status polling (T3), late/missing
timestamp defaulting (T4), and progress counters (T5) — re-expressed as
Structured Streaming plans. Every aggregation here is the same logical
plan as its batch twin in operators/plans, so batch results verify the
streaming path.
"""

from .dedup import dedup_within_watermark  # noqa: F401
from .joins import clicks_in_purchase_windows_stream  # noqa: F401
from .sources import events_file_stream, rate_stream  # noqa: F401
from .windows import (  # noqa: F401
    session_window_stats,
    sliding_window_stats,
    tumbling_window_stats,
)
from .polling import latest_status_stream, terminal_jobs  # noqa: F401
from .progress import ProgressListener, with_observed_metrics  # noqa: F401
