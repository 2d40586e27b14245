"""Per-layer instrumentation for a traced benchmark run.

Everything here observes the program from outside; nothing in the
package is edited:

- spans: calls into ``operators.*`` and four ``sources`` functions are
  wrapped in every module that binds them, recording name, start, end
  and the enclosing span. Only the outermost call of a layer counts
  towards its metrics, so helpers calling helpers are not summed twice.
  A call returns a lazy DataFrame, so a span holds plan building and
  the eager work done there (codebook training, pins, schema reads),
  not the execution of the plan it returns, which happens later in the
  entry's collect: hence ``operators.<module>.build_s``.
- engine: Spark's own event log (uncompressed, non-rolling, in the run's
  scratch) gives per-task CPU, GC, shuffle, spill, I/O and peak memory
  for the jobs launched inside the traced pass. Jobs are selected by
  job-id range, because micro-batch jobs of a stream run under the
  stream's own job group.
- streaming: a ``StreamingQueryListener`` collects every progress event.
- processes: ``/proc`` gives the CPU time of the pyspark worker tree and
  the peak resident memory of the driver, the JVM and the workers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import sys
import threading
import time
from pathlib import Path

PKG = "hebrew_tutor_data_pipeline_spark"
SOURCE_FUNCS = {
    "sources.readers": ("load_table", "read_nested_json_corpus", "read_binary_files"),
    "sources.pyds": ("register_chapter_source",),
}
#: operators modules the workloads call; each gets a calls/seconds pair
OPERATOR_MODULES = ("alignment", "ann", "dedup", "intervals", "sessionize", "transcribe")
STREAM_KEYS = (
    ("trigger_ms", "triggerExecution"),
    ("add_batch_ms", "addBatch"),
    ("planning_ms", "queryPlanning"),
    ("wal_commit_ms", "walCommit"),
)


def proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s() -> float:
    """CPU seconds (own + reaped children) of the pyspark worker tree:
    the ``python -m pyspark.daemon`` process and the workers it forks."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in proc_tree(os.getpid()):
        if "pyspark.daemon" not in _cmdline(pid):
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, ValueError):
            continue
    return total / tick


def tree_rss_mb() -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * page / 2**20


def num_jobs(spark) -> int:
    """Jobs submitted in this SparkContext so far (the next job id)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def drain_listeners(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class Tracer:
    def __init__(self, work: Path) -> None:
        self.log_dir = work / "eventlog"
        self.log_dir.mkdir(parents=True, exist_ok=True)
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.current_entry: int | None = None
        self.progress: list[dict] = []
        self.peak_rss_mb = 0.0
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._sampling = threading.Event()
        self._sampler: threading.Thread | None = None
        self._listener = None

    # -- set-up ------------------------------------------------------
    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    def start_sampling(self) -> None:
        def loop() -> None:
            while not self._sampling.wait(0.25):
                self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def _span(self, layer: str, name: str, parent: int | None, outermost: bool) -> dict:
        with self._lock:
            span = {
                "layer": layer,
                "name": name,
                "parent": parent,
                "id": len(self.spans),
                "start": time.perf_counter() - self.t0,
                "outermost": outermost,
            }
            self.spans.append(span)
        return span

    def _wrap(self, layer: str, key: str, fn):
        """``fn`` recording a span per call. ``functools.wraps`` keeps the
        original ``__module__``/``__qualname__``: a function shipped to a
        Python worker pickles by reference, so the worker runs the
        unwrapped original from its own import."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack.__dict__.setdefault("spans", [])
            span = self._span(
                layer,
                key,
                stack[-1]["id"] if stack else self.current_entry,
                all(s["layer"] != layer for s in stack),
            )
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span["end"] = time.perf_counter() - self.t0

        return traced

    def attach(self, spark) -> None:
        """Wrap the layer functions and register the stream listener."""
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _Progress()
        spark.streams.addListener(self._listener)

        originals: dict[int, object] = {}
        for mod_name in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
            for name, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == mod.__name__:
                    originals[id(fn)] = self._wrap("operators", mod_name, fn)
        for mod_name, names in SOURCE_FUNCS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name in names:
                fn = getattr(mod, name)
                originals[id(fn)] = self._wrap("sources", name, fn)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and inspect.isfunction(obj):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapper)

    def detach(self, spark) -> None:
        for mod, name, fn in reversed(self._patched):
            setattr(mod, name, fn)
        self._patched.clear()
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def stop_sampling(self) -> float:
        """Stop the memory sampler; return the peak tree RSS in MB."""
        self._sampling.set()
        if self._sampler is not None:
            self._sampler.join()
        return self.peak_rss_mb

    # -- spans ----------------------------------------------------------
    def open_entry(self, name: str) -> dict:
        span = self._span("entry", name, None, True)
        self.current_entry = span["id"]
        return span

    def close_entry(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self.t0
        self.current_entry = None

    def layer_metrics(self, since: float) -> dict[str, float]:
        """operators.<module>.* and sources.<function>.* over spans that
        started at or after ``since`` (seconds on the tracer clock)."""
        out: dict[str, float] = {}
        for m in OPERATOR_MODULES:
            out[f"operators.{m}.calls"] = 0
            out[f"operators.{m}.build_s"] = 0.0
        for names in SOURCE_FUNCS.values():
            for n in names:
                out[f"sources.{n}.calls"] = 0
                out[f"sources.{n}.build_s"] = 0.0
        for s in self.spans:
            if s["layer"] == "entry" or not s["outermost"] or s["start"] < since:
                continue
            key = f"{s['layer']}.{s['name']}"
            out[f"{key}.calls"] += 1
            out[f"{key}.build_s"] += s.get("end", s["start"]) - s["start"]
        return out

    def stream_metrics(self, first: int) -> dict[str, float]:
        """streaming.* over the progress events from index ``first`` on."""
        out = {"streaming.batches": 0}
        for name, _ in STREAM_KEYS:
            out[f"streaming.{name}"] = 0.0
        out["streaming.state_commit_ms"] = 0.0
        last_state: dict[str, tuple[int, int]] = {}
        for p in self.progress[first:]:
            out["streaming.batches"] += 1
            dur = p.get("durationMs") or {}
            for name, key in STREAM_KEYS:
                out[f"streaming.{name}"] += float(dur.get(key, 0))
            ops = p.get("stateOperators") or []
            out["streaming.state_commit_ms"] += sum(float(o.get("commitTimeMs", 0)) for o in ops)
            if ops:
                last_state[p["runId"]] = (
                    sum(int(o.get("numRowsTotal", 0)) for o in ops),
                    sum(int(o.get("memoryUsedBytes", 0)) for o in ops),
                )
        out["streaming.state_rows"] = sum(r for r, _ in last_state.values())
        out["streaming.state_mb"] = sum(b for _, b in last_state.values()) / 2**20
        return out

    # -- event log --------------------------------------------------------
    def engine_metrics(self, job_lo: int, job_hi: int) -> dict[str, float]:
        """Fold the event log over jobs ``job_lo <= id < job_hi``."""
        stages: set[int] = set()
        ran_stages: set[int] = set()
        m = {
            "engine.tasks": 0,
            "engine.failed_tasks": 0,
            "engine.executor_cpu_s": 0.0,
            "engine.gc_s": 0.0,
            "engine.shuffle_read_mb": 0.0,
            "engine.shuffle_write_mb": 0.0,
            "engine.spill_mb": 0.0,
            "engine.input_mb": 0.0,
            "engine.output_mb": 0.0,
            "engine.peak_execution_mb": 0.0,
        }
        events = []
        for f in self.log_dir.iterdir():
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:  # a line still being written
                        continue
        for e in events:
            if e.get("Event") == "SparkListenerJobStart" and job_lo <= e["Job ID"] < job_hi:
                stages.update(e.get("Stage IDs", ()))
        mb = 2**20
        for e in events:
            if e.get("Event") != "SparkListenerTaskEnd" or e.get("Stage ID") not in stages:
                continue
            ran_stages.add(e["Stage ID"])
            m["engine.tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                m["engine.failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            m["engine.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["engine.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["engine.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / mb
            m["engine.shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
            )
            m["engine.spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / mb
            m["engine.input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / mb
            m["engine.output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / mb
            m["engine.peak_execution_mb"] = max(
                m["engine.peak_execution_mb"], tm.get("Peak Execution Memory", 0) / mb
            )
        m["engine.stages"] = len(ran_stages)
        return m

    def write_spans(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "progress": self.progress}))
