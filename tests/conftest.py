"""Shared Spark fixture. One local session for the whole test run;
small shuffle.partitions so tiny-data tests don't pay 32-task overhead.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hebrew_tutor_data_pipeline_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "4"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def assert_consumer_memo_evicts_oldest(spark, monkeypatch, consume, key) -> None:
    """``consume()`` reaches its shared artifact through ``scope.memo``
    under ``key``: with the memo full of older keys that each pin a
    frame, the consumer's build evicts the OLDEST key (its frame is
    unpersisted) and the newer ones survive, still pinned and cached.
    The FIFO semantics themselves are tested once in tests/test_scope.py;
    this checks that a consumer is routed through that one bounded memo."""
    from hebrew_tutor_data_pipeline_spark import scope

    scope.clear_memo()
    monkeypatch.setattr(scope, "MEMO_BOUND", 4)
    fakes = [
        scope.memo(
            spark,
            ("fake", i),
            lambda i=i: scope.pin(
                spark.createDataFrame([(i, i)], "doc_id long, component_id long")
            ),
        )
        for i in range(4)
    ]
    try:
        consume()
        assert not fakes[0].is_cached
        assert all(f.is_cached for f in fakes[1:])
        assert scope.memo(spark, ("fake", 0), lambda: "rebuilt") == "rebuilt"
        for i in (2, 3):
            assert scope.memo(spark, ("fake", i), lambda: pytest.fail("evicted")) is fakes[i]
        assert scope.memo(spark, key, lambda: pytest.fail(f"{key} evicted")) is not None
    finally:
        scope.clear_memo()
