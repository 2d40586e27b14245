"""Per-query Spark JOB counts — the deterministic half of the sf0.1
fixed-overhead analysis (guide §1: know where the time goes before
touching anything; on a steal-noisy host, job counts are the signal
wall-clock is not).

Each catalog query runs once inside its own job group and its own
QueryScope (so no entry rides a cache another entry left behind); the
number of jobs it launched is read from the status tracker. A query whose plan is
"one action" still pays one job per eager sub-step (knob counts,
persist materializations, Lloyd passes, localCheckpoint rounds,
streaming micro-batches) — at sf0.1 each such job costs ~0.2-0.5 s of
pure scheduling/launch latency, so job count x per-job floor bounds the
fixed overhead an entry can never go below without restructuring.

Usage: python tools/job_count.py <query> [query ...]
       python tools/job_count.py --all [out.json]   # full-catalog sweep
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"


def main() -> int:
    from hebrew_tutor_data_pipeline_spark.plans import CATALOG
    from hebrew_tutor_data_pipeline_spark.scope import QueryScope
    from hebrew_tutor_data_pipeline_spark.session import get_spark

    names = sys.argv[1:]
    out_json = None
    if names and names[0] == "--all":
        from hebrew_tutor_data_pipeline_spark.plans import REGISTRATION_ORDER

        out_json = names[1] if len(names) > 1 else None
        names = list(REGISTRATION_ORDER)
    spark = get_spark("job-count")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    # warm the Python worker pool + JIT as bench.py does, off the books
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    out = {}
    for name in names:
        spec = CATALOG[name]
        group = f"jc_{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            with QueryScope(spark):
                spec.spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            sc.setJobGroup(None, None)
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            print(f"{name}: ERROR {out[name]['error'][:80]}")
            continue
        dt = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        out[name] = {"jobs": len(jobs), "sec": round(dt, 2)}
        print(f"{name}: {len(jobs)} jobs, {dt:.2f}s")
    total_jobs = sum(v.get("jobs", 0) for v in out.values())
    print(f"total: {total_jobs} jobs over {len(out)} entries")
    if out_json:
        import json
        from pathlib import Path as _P

        _P(out_json).write_text(
            json.dumps({"total_jobs": total_jobs, "per_query": out}, indent=1) + "\n"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
