"""Scale-evidence runner (VERDICT r04 'what's missing' #2): run the
heavy dedup/ANN tier at sf0.1 and at the ×K corpora produced by
tools/make_scale_data.py, record one `metrics.run_entry` record per
query per scale (wall time, jobs, executor CPU, shuffle read/write,
spill, ... folded from the session's event log), and fit a log-log
scaling exponent per query.

A query whose runtime fits t ∝ n^e with e ≈ 1 (and zero spill) is
measured evidence that its plan shape survives scale-up; e >> 1 or
growing spill flags a scale hazard. Document copies are
structure-preserving (vocabulary permutation), so superlinear growth
cannot be blamed on the data.

Usage:
  python tools/scale_bench.py [--out bench_runs/rXX_scaling.json] \
      [--queries a,b,c] [DIR ...]
  # defaults: the HEAVY tier at sf0.1 + /root/scale_data/x{1,3,10,30,100}
"""

from __future__ import annotations

import json
import math
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hebrew_tutor_data_pipeline_spark.metrics import event_log_conf, fold, run_entry  # noqa: E402
from hebrew_tutor_data_pipeline_spark.plans import CATALOG  # noqa: E402
from hebrew_tutor_data_pipeline_spark.scope import clear_memo  # noqa: E402
from hebrew_tutor_data_pipeline_spark.session import get_spark  # noqa: E402
from hebrew_tutor_data_pipeline_spark.sources.layout import plan_rows  # noqa: E402
from hebrew_tutor_data_pipeline_spark.sources.readers import load_table  # noqa: E402
from hebrew_tutor_data_pipeline_spark.streaming.progress import ProgressListener  # noqa: E402

HEAVY = (
    # jaccard_token_pairs (the exhaustive truth arm) is deliberately
    # NOT here (r06 verdict): it is the known-steepest curve in the
    # repo and OOMs at x100 by design — measure it explicitly with
    # --queries when a recall audit needs the truth arm.
    "jaccard_token_pairs_capped",
    "minhash_dedup_pairs_corpus",
    "simhash_neardup_quotient",
    "dedup_clusters",
    "duplicate_token_spans",
    "benchmark_contamination",
    "corpus_curation_pipeline",
    "semantic_dedup_flags",
    "embedding_near_dup_lsh",
    "doc_lm_perplexity",
    "ann_bruteforce_top10",
    "ann_ivf_top10",
    "ann_ivf_kmeans_top10",
    "ann_pq_top10",
    "embedding_outlier_scores",
)


def fit_exponent(points: list[tuple[float, float]]) -> float | None:
    """Least-squares slope of log(t) vs log(n) over (n, seconds) points."""
    pts = [(n, t) for n, t in points if t and t > 0]
    if len(pts) < 2:
        return None
    xs = [math.log(n) for n, _ in pts]
    ys = [math.log(t) for _, t in pts]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return None
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den, 3)


def main() -> int:
    args = sys.argv[1:]
    out_path = "bench_runs/scaling_report.json"
    queries = HEAVY
    # order-insensitive flags: `--queries a,b --out f.json` silently
    # treated `--out` as a data DIR before (the probe then crashed on
    # file:.../--out/documents.parquet)
    while args and args[0] in ("--out", "--queries"):
        if len(args) < 2:
            sys.exit(f"missing value for {args[0]}")
        flag, val, args = args[0], args[1], args[2:]
        if flag == "--out":
            out_path = val
        else:
            queries = tuple(val.split(","))
    dirs = args or [
        "/root/testdata/sf0.1",
        "/root/scale_data/x1",
        "/root/scale_data/x3",
        "/root/scale_data/x10",
        "/root/scale_data/x30",
        "/root/scale_data/x100",
    ]

    from hebrew_tutor_data_pipeline_spark.operators.dedup import (
        cc_last_rounds,
    )

    log_dir = tempfile.mkdtemp(prefix="scale_bench_eventlog_")
    report: dict = {"dirs": {}, "queries": {}, "exponents": {}, "cc_rounds": {}}
    records: list[dict] = []
    try:
        spark = get_spark("scale-bench", extra_conf=event_log_conf(log_dir))
        spark.sparkContext.setLogLevel("ERROR")
        listener = ProgressListener()
        spark.streams.addListener(listener)
        # JVM/Python-worker warmup (not measured)
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for d in dirs:
            label = Path(d).name
            report["dirs"][label] = {
                "path": d, "n_docs": plan_rows(load_table(spark, d, "documents"))
            }
            if Path(d, "events.parquet").exists():  # events are optional in a tree
                report["dirs"][label]["n_events"] = plan_rows(load_table(spark, d, "events"))
            for name in (n for n in queries if n in CATALOG):
                rec = run_entry(spark, name, d, listener)
                # each query pays its FULL model cost (codebook training
                # included): without this, whichever memo consumer runs
                # first absorbs training and the rest measure assignment
                # only — the isolated numbers here are the cost-model
                # evidence, unlike bench.py's in-catalog totals where the
                # memo sharing is the deliberate production posture
                clear_memo()
                records.append(rec)
                if name == "dedup_clusters":
                    report["cc_rounds"][label] = cc_last_rounds()
                report["queries"].setdefault(name, {})[label] = rec
                msg = f"# {label} {name}: {rec['wall_s']}s"
                if rec["error"]:
                    msg += f" ERROR {rec['error'].splitlines()[0]}"
                print(msg, file=sys.stderr)
        spark.stop()
        fold(log_dir, records)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    for name, by_label in report["queries"].items():
        # Fit only within the generated self-similar families (the
        # /root/scale_data trees — x* and sf*): driver testdata sf0.1 is
        # recorded as the reference point but is a different draw of the
        # process, so it would only add noise to the exponent. (The old
        # label.startswith("x") filter silently dropped sf1/sf10 probes
        # and emitted null exponents.)
        pts = [
            (report["dirs"][lbl]["n_docs"], rec["wall_s"])
            for lbl, rec in by_label.items()
            if not rec["error"]
            and report["dirs"][lbl]["path"].startswith("/root/scale_data/")
        ]
        report["exponents"][name] = fit_exponent(pts)

    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    Path(out_path).write_text(json.dumps(report, indent=1))
    print(json.dumps({"out": out_path, "exponents": report["exponents"]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
