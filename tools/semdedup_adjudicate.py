"""Adjudicate the BENCH_r12 semantic_dedup_flags 2.31 → 6.00 s sf0.1
flag (VERDICT r12 #2 / What's-wrong #2) by MEASUREMENT: split the
entry's in-catalog cost into two-level codebook TRAINING vs everything
else (assignment + within-cell pairwise + flags), using the process
codebook memo as the knife.

Protocol (solo — nothing else may run on the host):
  for each of N rounds:
    fresh Spark work, cleared codebook cache  → time entry COLD
    same process, memo now warm               → time entry WARM
  cold − warm ≈ coarse+fine Lloyd training; warm ≈ the flat-era cost
  floor (the flat k=20 model was near-free to train at 5k docs, so the
  r11-era 2.31 s should be comparable to WARM + small flat-train).

Writes bench_runs/r13_semdedup_adjudication.json.

Usage: python tools/semdedup_adjudicate.py [sf_dir] [rounds]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from hebrew_tutor_data_pipeline_spark.plans import CATALOG
    from hebrew_tutor_data_pipeline_spark.scope import clear_memo
    from hebrew_tutor_data_pipeline_spark.session import get_spark

    spark = get_spark("semdedup-adjudicate")
    spec = CATALOG["semantic_dedup_flags"]

    def run_once() -> float:
        t0 = time.time()
        spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    # one unmeasured warmup so JVM/codegen/python-worker spin-up does
    # not land inside the first cold number (the r06 attribution class)
    clear_memo()
    run_once()

    cold, warm = [], []
    for _ in range(rounds):
        clear_memo()
        cold.append(run_once())
        warm.append(run_once())

    out = {
        "sf_dir": sf_dir,
        "rounds": rounds,
        "cold_sec": cold,
        "warm_sec": warm,
        "training_sec_est": round(min(cold) - min(warm), 3),
        "note": (
            "cold = cleared codebook memo (pays coarse+fine Lloyd "
            "training); warm = memoized model (assignment + within-cell "
            "pairwise + flags only). best-of-N difference estimates the "
            "two-level training cost inside the entry's in-catalog time."
        ),
    }
    path = REPO / "bench_runs" / "r13_semdedup_adjudication.json"
    path.write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
