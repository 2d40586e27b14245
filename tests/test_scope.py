"""QueryScope: one owner for an entry's pins, memos, conf changes and
scratch directories (hebrew_tutor_data_pipeline_spark.scope)."""

from __future__ import annotations

import tempfile
from pathlib import Path
from types import SimpleNamespace

import pytest

from hebrew_tutor_data_pipeline_spark import scope
from hebrew_tutor_data_pipeline_spark.scope import (
    QueryScope,
    clear_memo,
    memo,
    memo_rdd_ids,
    own,
    pin,
    scratch,
    set_conf,
)
from tests.conftest import SF_SMOKE


def _persistent_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _htdp_dirs() -> set[str]:
    return {p.name for p in Path(tempfile.gettempdir()).glob("htdp_*")}


class _Handle:
    def __init__(self) -> None:
        self.unpersisted = False

    def unpersist(self, blocking: bool = False) -> None:
        self.unpersisted = True


class TestQueryScope:
    def test_raising_block_still_restores_conf_unpersists_and_removes_scratch(self, spark):
        parts = spark.conf.get("spark.sql.shuffle.partitions")
        unset_key = "spark.htdp.test.scope_unset"
        ids_before = _persistent_ids(spark)
        with pytest.raises(RuntimeError, match="boom"):
            with QueryScope(spark) as s:
                eager = s.pin(spark.range(10).selectExpr("id AS scope_eager"))
                lazy = pin(spark.range(7).selectExpr("id AS scope_lazy"), count=False)
                lazy.count()
                assert len(s.rdd_ids()) == 2
                assert s.rdd_ids() <= _persistent_ids(spark)
                s.set_conf("spark.sql.shuffle.partitions", "3")
                set_conf(spark, unset_key, "x")
                d = scratch(spark, "scope_test")
                d.mkdir()
                (d / "f").write_text("x")
                raise RuntimeError("boom")
        assert scope.current() is None
        assert _persistent_ids(spark) == ids_before
        assert not eager.is_cached and not lazy.is_cached
        assert spark.conf.get("spark.sql.shuffle.partitions") == parts
        assert spark.conf.get(unset_key, None) is None
        assert not d.exists()

    def test_nested_scope_releases_first_and_outside_registers_nothing(self, spark):
        with QueryScope(spark) as outer:
            kept = pin(spark.range(4).selectExpr("id AS scope_outer"))
            with QueryScope(spark) as inner:
                assert scope.current() is inner
                short = pin(spark.range(5).selectExpr("id AS scope_inner"))
            assert scope.current() is outer
            assert not short.is_cached and kept.is_cached
        assert not kept.is_cached
        # outside any scope: a plain persist + count and a plain path
        loose = pin(spark.range(6).selectExpr("id AS scope_none"))
        try:
            assert loose.is_cached and scope.current() is None
            handle = _Handle()
            assert own(handle) is handle and not handle.unpersisted
            assert scratch(spark, "x") == Path(tempfile.gettempdir()) / (
                f"htdp_x_{spark.sparkContext.applicationId}"
            )
        finally:
            loose.unpersist()


class TestMemo:
    def test_fifo_eviction_closes_the_evicted_scope_keys_per_application(self, monkeypatch):
        clear_memo()
        monkeypatch.setattr(scope, "MEMO_BOUND", 3)

        def app(app_id):
            return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

        handles: dict[str, _Handle] = {}

        def build(k):
            handles[k] = own(_Handle())  # owned by the key's memo scope
            return k

        for k in "abc":
            assert memo(app("app-1"), (k,), lambda k=k: build(k)) == k
        # a hit neither rebuilds nor reorders: eviction is first in, first out
        assert memo(app("app-1"), ("a",), lambda: pytest.fail("rebuilt")) == "a"
        memo(app("app-1"), ("d",), lambda: build("d"))
        assert handles["a"].unpersisted
        assert not any(handles[k].unpersisted for k in "bcd")
        assert memo(app("app-1"), ("a",), lambda: "rebuilt a") == "rebuilt a"
        assert handles["b"].unpersisted  # the next oldest made room
        # the same key under another application is another entry
        assert memo(app("app-2"), ("c",), lambda: "c for app-2") == "c for app-2"
        assert memo(app("app-1"), ("d",), lambda: pytest.fail("rebuilt")) == "d"
        clear_memo()
        assert all(h.unpersisted for h in handles.values())

    def test_failed_build_is_not_cached_and_releases_its_pins(self, spark):
        clear_memo()
        held = []

        def bad():
            held.append(pin(spark.range(3).selectExpr("id AS scope_memo")))
            raise ValueError("build failed")

        with pytest.raises(ValueError):
            memo(spark, ("bad",), bad)
        assert not held[0].is_cached
        assert memo(spark, ("bad",), lambda: "ok") == "ok"
        clear_memo()


#: one entry per resource kind: eager and lazy pins (curation, pagerank,
#: the quotient that rode pagerank's leaked cache), the cluster memo
#: pair with its connected-components checkpoint, the Bloom memo, the
#: pyds filter-pushdown conf, trimmer scratch trees, a RocksDB stream
#: with its shuffle-partition override and checkpoint scratch, and the
#: BM25 memo with two of its consumers (one builds it, one reads it)
HERMETIC_ENTRIES = (
    "curation_refresh_e2e",
    "pagerank_neardup_graph",
    "simhash_neardup_quotient",
    "dedup_clusters",
    "dedup_cluster_stats",
    "bloom_url_membership",
    "chapter_source_pyds",
    "trimmer_pipeline_e2e",
    "streaming_session_windows",
    "bm25_keyword_topk",
    "hybrid_rrf_fusion",
)


class TestEntryHermeticity:
    def _run(self, spark, names) -> dict[str, str]:
        from hebrew_tutor_data_pipeline_spark.plans import CATALOG
        from tools.parity import table_hash

        hashes = {}
        for name in names:
            conf = spark.conf.getAll
            dirs = _htdp_dirs()
            with QueryScope(spark):
                df = CATALOG[name].spark(spark, SF_SMOKE)
                rows = [tuple(r) for r in df.collect()]
            assert rows, name
            hashes[name] = table_hash(rows, df.columns)
            leaked = _persistent_ids(spark) - memo_rdd_ids()
            assert not leaked, f"{name} left persistent RDDs {leaked}"
            assert spark.conf.getAll == conf, name
            assert _htdp_dirs() <= dirs, f"{name} left {_htdp_dirs() - dirs}"
        return hashes

    def test_entries_leave_nothing_behind_in_either_order(self, spark):
        # start from nothing persisted: earlier tests may pin outside a scope
        clear_memo()
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(False)
        spark.catalog.clearCache()

        first = self._run(spark, HERMETIC_ENTRIES)
        assert memo_rdd_ids(), "the memo pair and Bloom should hold frames"
        clear_memo()
        assert not _persistent_ids(spark)
        second = self._run(spark, HERMETIC_ENTRIES[::-1])
        assert first == second
        clear_memo()
        assert not _persistent_ids(spark)
