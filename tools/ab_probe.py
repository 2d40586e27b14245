"""Alternating A/B probe for one catalog entry (r14 discipline): run
`python bench.py <query>` in a FRESH process per trial (cold session —
the driver's measurement condition), alternating between the working
tree and nothing (same tree twice = noise floor), and print each trial's
wall seconds, job count and executor CPU seconds, read from the entry's
record in bench_runs/BENCH_last.json.

The host shows hypervisor steal (identical code 64.9 vs 128.8 s twenty
minutes apart, r13), so single runs prove nothing: evidence is the
MEDIAN of ≥3 fresh-session trials, and a speed-up is only claimed when
all three signals agree — median wall, median jobs and median executor
CPU — and the wall medians separate beyond the trial spread.

The child sizes its session from the environment it inherits
(`SPARK_GRAFT_CPUS` if set, else the usable cores); the core count
printed is the record's sidecar `cpus`.

Usage: python tools/ab_probe.py <query> [trials=3]
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def trial(name: str) -> tuple[dict, int]:
    """The entry's record and the sidecar's core count from one fresh
    `python bench.py <name>`."""
    r = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), name],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    if r.returncode != 0:
        raise RuntimeError(f"bench rc={r.returncode}: {r.stderr[-1500:]}")
    doc = json.loads((REPO / "bench_runs" / "BENCH_last.json").read_text())
    if doc.get("errors"):
        raise RuntimeError(f"query errored: {doc['errors']}")
    return doc["records"][name], doc["cpus"]


def main() -> int:
    name = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    recs = []
    for i in range(trials):
        rec, cpus = trial(name)
        recs.append(rec)
        print(
            f"trial {i + 1}: {rec['wall_s']:.3f}s, {rec['jobs']} jobs, "
            f"{rec['executor_cpu_s']:.2f}s executor CPU",
            flush=True,
        )
    walls = [r["wall_s"] for r in recs]
    print(
        f"{name} @ {cpus} cores over {trials} trials: median wall "
        f"{statistics.median(walls):.3f}s (min {min(walls):.3f}s, max {max(walls):.3f}s), "
        f"median jobs {statistics.median(r['jobs'] for r in recs):g}, median executor CPU "
        f"{statistics.median(r['executor_cpu_s'] for r in recs):.2f}s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
