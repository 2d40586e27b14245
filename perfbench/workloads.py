"""The workloads and the run protocol they share.

A run is: fresh Spark session → warm pass over the workload's entries
(on a second, smaller input where the workload reads generated tables)
→ restore any session conf the warm pass
changed → drop every persisted RDD, cached frame and memo (hermetic
reset) → ``TIMED_PASSES`` timed passes on the measured input, each
followed by the same restore and reset, so every pass does the same
work → output check of every pass, outside the timed region. Entries
run in the listed order in every pass: the order decides which entry
absorbs JIT work left over from warming, and a seed-drawn order added
spread between runs.

Each entry builds its plan (``spec.spark()``, where eager pins, knob
jobs and whole streams run) and then collects its result as Arrow,
which is what the check hashes against the entry's DuckDB oracle.

The traced run of ``chapter_align`` also serves the viewer's
time→word lookup from the layout the pipeline publishes (see
``Run.viewer_lookups``) and reports it under ``lookup.*``.
"""

from __future__ import annotations

import math
import random
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

from . import datagen

#: the measured input has half the sf0.01 row counts; the warm input is
#: a smaller tree drawn from another seed, so no memo or cache built
#: while warming can answer a timed entry. Only llm_data_ops reads the
#: generated tables: chapter_align's entries read the committed fixtures
#: under tests/fixtures, so its warm and timed passes run on the same
#: input and its seed only draws the traced run's lookup probes
READS_TABLES = ("llm_data_ops",)
TIMED_SCALE = 0.5
WARM_SCALE = 0.2
WARM_SEED_OFFSET = 1_000_003
#: hermetic timed passes per run, reported as their median (with two,
#: the mean): one pass slowed by a GC pause or a JIT compile moves the
#: figure by half as much
TIMED_PASSES = 2

WORKLOADS = {
    "chapter_align": (
        "chapter_pipeline_e2e",
        "chapter_source_pyds",
        "corpus_word_spread",
        "verse_at_time",
    ),
    "llm_data_ops": (
        "corpus_curation_pipeline",
        "ann_ivf_kmeans_top10",
        "streaming_user_clicks_purchase_windows",
        "user_sessions_30min",
    ),
}

#: viewer lookups (traced chapter_align run): the word spread × this many
#: tracks is written as the serving layout, then probed one at a time
N_TRACKS = 200
WARM_LOOKUPS = 5
LOOKUPS = 20


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def restore_conf(spark, before: dict[str, str]) -> list[str]:
    """Put the session conf back to ``before``; return the changed keys."""
    after = spark.conf.getAll
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    for k in changed:
        if k in before:
            spark.conf.set(k, before[k])
        else:
            spark.conf.unset(k)
    return changed


def hermetic_reset(spark) -> None:
    """Drop every persisted RDD (localCheckpoint blocks included, which
    ``clearCache`` misses), every cached frame and the public memos."""
    from hebrew_tutor_data_pipeline_spark.plans import catalog_ml

    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    handles = []
    while it.hasNext():
        handles.append(it.next()._2())
    for h in handles:
        h.unpersist(True)
    spark.catalog.clearCache()
    catalog_ml.clear_dedup_cluster_cache()
    catalog_ml.clear_codebook_cache()
    catalog_ml.clear_bpe_merge_cache()


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:300]


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, work: Path, tracer) -> None:
        self.workload = workload
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}

    def _fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def _pass(self, spark, names, data_dir: Path, traced: bool = False) -> list[dict]:
        from hebrew_tutor_data_pipeline_spark.plans import CATALOG

        from .trace import num_jobs

        out = []
        for name in names:
            rec = {"name": name}
            span = self.tracer.open_entry(name) if traced else None
            j0 = num_jobs(spark) if traced else 0
            t0 = time.perf_counter()
            t1, j1 = None, j0
            try:
                df = CATALOG[name].spark(spark, str(data_dir))
                t1 = time.perf_counter()
                j1 = num_jobs(spark) if traced else 0
                rec["result"] = df.toArrow()
            except Exception as exc:  # noqa: BLE001 — counted, never dropped
                rec["error"] = _error(exc)
            t2 = time.perf_counter()
            t1 = t2 if t1 is None else t1
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0, build_jobs=j1 - j0)
            if span is not None:
                self.tracer.close_entry(span)
            out.append(rec)
        self.attempted += len(out)
        for r in out:
            if "error" in r:
                self._fail(f"{r['name']}: {r['error']}")
        return out

    @contextmanager
    def _traced(self, spark):
        """Attach the tracer around a block; yields a dict that receives
        the block's layer, engine, stream and process metrics."""
        from .trace import drain_listeners, num_jobs, python_worker_cpu_s

        tr = self.tracer
        out: dict[str, float] = {}
        since = time.perf_counter() - tr.t0
        first_progress = len(tr.progress)
        j0 = num_jobs(spark)
        cpu0 = python_worker_cpu_s()
        tr.attach(spark)
        try:
            yield out
        finally:
            tr.detach(spark)
        cpu1 = python_worker_cpu_s()
        drain_listeners(spark)
        j1 = num_jobs(spark)
        out.update(tr.layer_metrics(since))
        out.update(tr.stream_metrics(first_progress))
        out.update(tr.engine_metrics(j0, j1))
        out["engine.jobs"] = j1 - j0
        out["python.cpu_s"] = cpu1 - cpu0
        out["plans.persisted_after"] = spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def execute(self, spark, timed_dir: Path, warm_dir: Path, setup_t0: float) -> dict:
        from hebrew_tutor_data_pipeline_spark.plans import CATALOG

        from .check import OracleChecker
        from .trace import num_jobs

        names = WORKLOADS[self.workload]

        conf0 = spark.conf.getAll
        t_warm = time.perf_counter()
        j_warm = num_jobs(spark)
        self._pass(spark, names, warm_dir)
        self.layer["engine.warm_jobs"] = num_jobs(spark) - j_warm
        leaked = restore_conf(spark, conf0)
        hermetic_reset(spark)
        setup_s = time.perf_counter() - setup_t0
        self.layer["session.warm_s"] = time.perf_counter() - t_warm
        self.layer["conf.restored_keys"] = len(leaked)
        if leaked:
            print(f"# warm pass changed session conf, restored: {leaked}", file=sys.stderr)

        passes = []
        for _ in range(TIMED_PASSES):
            layer: dict[str, float] = {}
            with self._traced(spark) if self.tracer else nullcontext(layer) as layer:
                t0 = time.perf_counter()
                recs = self._pass(spark, names, timed_dir, traced=self.tracer is not None)
                makespan = time.perf_counter() - t0
            layer.update(
                {
                    "plans.build_s": sum(r["build_s"] for r in recs),
                    "plans.build_jobs": sum(r["build_jobs"] for r in recs),
                    "plans.execute_s": sum(r["exec_s"] for r in recs),
                    "trace.makespan_s": makespan,
                }
            )
            passes.append((makespan, recs, layer))
            print(
                f"# pass {len(passes)}: {makespan:.2f}s "
                + " ".join(f"{r['name']}={r['wall_s']:.2f}" for r in recs),
                file=sys.stderr,
            )
            restore_conf(spark, conf0)
            hermetic_reset(spark)
        if self.tracer is not None:
            # per-layer figures are the median over the traced passes; a
            # traced pass sits at the same place in the session as an
            # untraced one, so trace.makespan_s minus the untraced
            # makespan_s median is the tracing overhead
            for k in passes[0][2]:
                self.layer[k] = statistics.median(p[2][k] for p in passes)
            if self.workload == "chapter_align":
                self.viewer_lookups(spark, timed_dir)

        checker = OracleChecker(timed_dir)
        try:
            for _, recs, _ in passes:
                for r in recs:
                    if "result" in r:
                        why = checker.mismatch(CATALOG[r["name"]].oracle, r["result"])
                        if why is not None:
                            self._fail(f"{r['name']}: {why}")
        finally:
            checker.close()
        entry_s = {
            n: statistics.median(r["wall_s"] for _, recs, _ in passes for r in recs if r["name"] == n)
            for n in names
        }
        for n, v in entry_s.items():
            print(f"# {n}: median {v:.2f}s", file=sys.stderr)
        return {
            "setup_s": setup_s,
            "makespan_s": statistics.median(p[0] for p in passes),
            "entry_geomean_s": geomean(list(entry_s.values())),
        }

    def viewer_lookups(self, spark, data_dir: Path) -> None:
        """Publish the aligned words as a partitioned, sorted layout and
        serve single-probe time→word lookups from it, one at a time: the
        viewer's query (first word in verse order whose [start, end]
        holds the probe time) through ``intervals.point_in_interval_join``.
        Answers are checked against the word spread itself."""
        from pyspark.sql import functions as F

        from hebrew_tutor_data_pipeline_spark.operators import intervals
        from hebrew_tutor_data_pipeline_spark.plans.catalog_hebrew import corpus_word_spread
        from hebrew_tutor_data_pipeline_spark.sources import layout

        from .trace import num_jobs

        serving = str(self.work / "serving")
        words = corpus_word_spread(spark, str(data_dir))
        t0 = time.perf_counter()
        layout.write_partitioned_sorted(
            words.crossJoin(spark.range(N_TRACKS).select(F.col("id").alias("track_id"))),
            serving,
            "book",
            ["chapter", "word_start"],
        )
        self.layer["lookup.layout_write_s"] = time.perf_counter() - t0
        table = spark.read.parquet(serving)
        ref: dict[tuple, list] = {}
        for r in words.collect():
            ref.setdefault((r["book"], r["chapter"]), []).append(
                (r["verse_num"], r["word_pos"], r["word"], r["word_start"], r["word_end"])
            )
        for v in ref.values():
            v.sort()
        keys = sorted(ref)
        rng = random.Random(self.seed)

        def lookup(track, book, chapter, t):
            probe = spark.range(1).select(
                F.lit(track).alias("track_id"),
                F.lit(book).alias("book"),
                F.lit(chapter).alias("chapter"),
                F.lit(t).alias("t"),
            )
            side = table.filter(
                (F.col("book") == book) & (F.col("chapter") == chapter) & (F.col("track_id") == track)
            )
            return (
                intervals.point_in_interval_join(
                    probe, side, "t", "word_start", "word_end", bin_width=5.0,
                    keys=("track_id", "book", "chapter"),
                )
                .orderBy("verse_num", "word_pos")
                .limit(1)
                .select("verse_num", "word_pos", "word")
            )

        recs = []
        for i in range(WARM_LOOKUPS + LOOKUPS):
            book, chapter = keys[rng.randrange(len(keys))]
            t = round(rng.uniform(0.0, max(w[4] for w in ref[(book, chapter)])), 2)
            want = next(((vn, wp, w) for vn, wp, w, s, e in ref[(book, chapter)] if s <= t <= e), None)
            j0 = num_jobs(spark)
            t0 = time.perf_counter()
            self.attempted += 1
            try:
                df = lookup(rng.randrange(N_TRACKS), book, chapter, t)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — counted, never dropped
                self._fail(f"lookup {book} {chapter} {t}: {_error(exc)}")
                continue
            got = tuple(rows[0]) if rows else None
            if got != want:
                self._fail(f"lookup {book} {chapter} {t}: {got} != {want}")
            if i >= WARM_LOOKUPS:
                recs.append(
                    {
                        "build": t1 - t0,
                        "exec": t2 - t1,
                        "wall": t2 - t0,
                        "jobs": num_jobs(spark) - j0,
                        "scanned": _scan_rows(df),
                        "hit": got is not None,
                    }
                )
        if recs:
            self.layer.update(
                {
                    "lookup.p50_ms": statistics.median(r["wall"] for r in recs) * 1e3,
                    "lookup.build_ms": statistics.median(r["build"] for r in recs) * 1e3,
                    "lookup.exec_ms": statistics.median(r["exec"] for r in recs) * 1e3,
                    "lookup.jobs": statistics.median(r["jobs"] for r in recs),
                    "lookup.rows_scanned_per_hit": sum(r["scanned"] for r in recs)
                    / max(1, sum(r["hit"] for r in recs)),
                }
            )


def _scan_rows(df) -> int:
    """Rows output by the file scans in ``df``'s executed plan (after a
    collect, so the SQL metrics are filled in)."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            total += node.metrics().apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return total


def run(workload: str, seed: int, work: Path, trace: bool) -> tuple[dict, Run]:
    """Execute one run; returns (end-to-end metrics, the Run record)."""
    if workload in READS_TABLES:
        timed_dir = datagen.generate(work / "data" / "timed", seed, TIMED_SCALE)
        warm_dir = datagen.generate(work / "data" / "warm", seed + WARM_SEED_OFFSET, WARM_SCALE)
    else:
        timed_dir = warm_dir = work / "data"
        timed_dir.mkdir(parents=True, exist_ok=True)

    tracer = None
    if trace:
        from .trace import Tracer

        tracer = Tracer(work)
        tracer.start_sampling()
    from hebrew_tutor_data_pipeline_spark.session import default_parallelism, get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{default_parallelism()}]",
        extra_conf=tracer.spark_conf() if tracer else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    r = Run(workload, seed, work, tracer)
    r.layer["session.start_s"] = time.perf_counter() - t0
    try:
        metrics = r.execute(spark, timed_dir, warm_dir, t0)
        if tracer is not None:
            r.layer["session.peak_rss_mb"] = tracer.stop_sampling()
    finally:
        spark.stop()
    return metrics, r
