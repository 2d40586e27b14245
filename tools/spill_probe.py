"""Spill-bound experiment (VERDICT r09 'Next round' #8): re-run the
three adjudicated x100 window/agg sort spillers under AQE advisory-
partition-size overrides and MEASURE whether smaller post-shuffle
partitions bound the sort spill without the (already measured-worse)
HOF rewrites.

Each (query, conf) cell runs in a FRESH SparkSession — advisory size is
an AQE coordinator knob read at plan time, and sharing a session would
let a previous cell's shuffle files skew the next measurement.

Usage: python tools/spill_probe.py [--out bench_runs/rXX_spill.json] [DIR]
  default DIR: /root/scale_data/x100
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = (
    "jaccard_token_pairs_capped",
    "winnow_fingerprints",
    "duplicate_token_spans",
)

#: advisory post-shuffle partition target; None = engine default (64m).
#: 8m splits the spilling sort's input ~8x finer, bounding per-task
#: sort memory; 256m is the control arm (fewer, larger partitions —
#: should spill MORE if the knob is causal).
CONFS: dict[str, dict[str, str]] = {
    "default": {},
    "advisory8m": {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    "advisory256m": {"spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m"},
}


def main() -> int:
    from hebrew_tutor_data_pipeline_spark.session import get_spark

    args = sys.argv[1:]
    out_path = "bench_runs/spill_probe.json"
    if args and args[0] == "--out":
        if len(args) < 2:
            sys.exit("missing value for --out")
        out_path, args = args[1], args[2:]
    d = args[0] if args else "/root/scale_data/x100"

    import scale_bench as sb

    report: dict = {"dir": d, "cells": {}}
    for conf_name, conf in CONFS.items():
        spark = get_spark(
            f"spill-probe-{conf_name}",
            extra_conf={"spark.ui.enabled": "true", **conf},
        )
        spark.sparkContext.setLogLevel("ERROR")
        ui = spark.sparkContext.uiWebUrl
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
        from hebrew_tutor_data_pipeline_spark.plans import CATALOG
        from hebrew_tutor_data_pipeline_spark.scope import QueryScope

        for name in QUERIES:
            seen = set(sb.stage_metrics(ui)) if ui else set()
            t0 = time.perf_counter()
            try:
                with QueryScope(spark):
                    CATALOG[name].spark(spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                sec, err = round(time.perf_counter() - t0, 3), None
            except Exception as exc:  # noqa: BLE001 — isolate per cell
                sec, err = None, f"{type(exc).__name__}: {exc}"[:200]
            rec: dict = {"sec": sec}
            if err:
                rec["error"] = err
            if ui:
                after = sb.stage_metrics(ui)
                new = [after[k] for k in after.keys() - seen]
                rec["spill_mb"] = round(
                    sum(
                        s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                        for s in new
                    )
                    / 1e6,
                    2,
                )
            report["cells"].setdefault(name, {})[conf_name] = rec
            print(f"# {conf_name} {name}: {rec}", file=sys.stderr)
        spark.stop()

    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    Path(out_path).write_text(json.dumps(report, indent=1))
    print(json.dumps({"out": out_path}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
