"""Benchmark of the catalog, end to end and layer by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload chapter_align --seed 1 --seconds 16 --trace 0

Workloads: chapter_align, llm_data_ops (see perfbench/workloads.py).
Each run starts one Spark session at ``local[<usable cores>]``, warms,
resets every cache, times two hermetic passes and checks every pass's
outputs. Metric names and units are the ones BENCHMARK.json declares. The timed work is fixed (two passes, about 13 s
for chapter_align and 20 s for llm_data_ops); ``--seconds`` is accepted
and not used. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics under ``--trace 0`` and the per-layer metrics under
``--trace 1``. Progress and diagnostics go to stderr.

All scratch (generated inputs, temp dirs of the program, of Spark and of
the JVM, the event log) lives under ``.perfbench_work/`` in the checkout
and is deleted at exit; a traced run keeps its spans in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
PKG_DIR = ROOT / "hebrew_tutor_data_pipeline_spark"


def declared_metrics(trace: bool) -> dict[str, str]:
    """Name → unit of the metrics BENCHMARK.json declares for the run:
    ``per_layer`` when traced, else ``end_to_end``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def prepare_env(work: Path) -> None:
    """Point every temp and scratch location of the program, Spark, the
    JVM and the Python workers into ``work``; put the repository root on
    the workers' PYTHONPATH so they import the package from any cwd."""
    for d in ("tmp", "local", "jvmtmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={work / 'jvmtmp'} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def stop_processes() -> None:
    """Shut the py4j gateway JVM down and wait for it and every process
    it started (Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.trace import proc_tree

    kids = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        for p in kids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (PKG_DIR / "plans" / "__init__.py").is_file() or not (ROOT / "tools" / "parity.py").is_file():
        print(f"perfbench: program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    cwd = os.getcwd()
    os.chdir(work)
    try:
        metrics, run = workloads.run(args.workload, args.seed, work, bool(args.trace))
        if run.tracer is not None:
            run.tracer.write_spans(base / "traces" / f"{args.workload}-seed{args.seed}.json")
    finally:
        os.chdir(cwd)
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)

    for p in run.problems:
        print(f"# FAILED {p}", file=sys.stderr)
    print(f"# run wall {time.perf_counter() - T_START:.1f}s", file=sys.stderr)
    if args.trace:
        values = dict(run.layer)
        values["failed_frac"] = run.failed / max(run.attempted, 1)
    else:
        values = metrics
    declared = declared_metrics(bool(args.trace))
    undeclared = sorted(set(values) - set(declared))
    if undeclared:
        print(f"perfbench: metrics missing from BENCHMARK.json: {undeclared}", file=sys.stderr)
        return 3
    # a layer the workload does not reach (lookups outside chapter_align)
    # reads 0
    idle = sorted(set(declared) - set(values))
    if idle:
        print(f"# not measured in this workload, reported as 0: {idle}", file=sys.stderr)
    out = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in declared.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
