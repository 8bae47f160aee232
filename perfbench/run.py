"""Benchmark entry point.

    python3 perfbench/run.py --workload <stedi_stream|curation_ingest|analytics_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Prints one info line (run identity and
the workload's named figures) and, last, the result line: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, the per-layer metrics with ``--trace 1``).
Exits non-zero without a result line when the engine package is missing
or the run fails.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.harness import ROOT, Run, Timer  # noqa: E402

WORKLOADS = ("stedi_stream", "curation_ingest", "analytics_mix")
HARD_LIMIT_S = 170


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def engine_layers(tracer, window, pinned) -> dict:
    """Engine-wide counters over the measured window."""
    by_span = tracer.attribute()
    root = tracer.named("measure")
    m = tracer.span_metrics(root, by_span)
    stages = m.get("stages", 0)
    return {
        "sources.input_bytes": m.get("input_bytes", 0),
        "spark.jobs": m.get("jobs", 0),
        "spark.tasks": m.get("tasks", 0),
        "spark.exec_run_s": m.get("exec_run_s", 0.0),
        "spark.exec_cpu_s": m.get("exec_cpu_s", 0.0),
        "spark.driver_gap_s": m.get("driver_gap_s", 0.0),
        "spark.shuffle_write_bytes": m.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": m.get("spill_bytes", 0),
        "spark.failed_tasks": m.get("failed_tasks", 0),
        "spark.stages_skipped_share": m.get("stages_skipped", 0) / stages if stages else 0.0,
        "spark.pinned_rdds_growth": pinned[1] - pinned[0],
        "trace.overhead_share": tracer.overhead_s / max(1e-9, window[1] - window[0]),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = declared()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {HARD_LIMIT_S}s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(HARD_LIMIT_S)
    try:
        run.isolate()
        importlib.import_module(harness.PACKAGE)  # fails fast outside a checkout
        from perfbench import curation, mix, stedi
        from perfbench.trace import ProgressLog, Tracer

        module = {"stedi_stream": stedi, "curation_ingest": curation, "analytics_mix": mix}[args.workload]
        with Timer() as t_session:
            spark = run.start_session()
        tracer = Tracer(spark, run.trace, workload=args.workload)
        progress = ProgressLog()
        spark.streams.addListener(progress)
        with Timer() as t_workload:
            res = module.run_workload(run, tracer, progress)
        peak_rss = run.peak_rss_mb()
        retained = run.retained_mb()
        setup_s = t_session.s + res["setup_extra_s"]

        if run.trace:
            metrics = {m["name"]: (0.0, m["unit"]) for m in spec["per_layer"]}
            layers = {
                "session.start_s": t_session.s,
                **engine_layers(tracer, res["window"], res["pinned"]),
                **res["layers"],
            }
            unknown = sorted(set(layers) - set(metrics))
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {unknown}")
            for k, v in layers.items():
                metrics[k] = (v, metrics[k][1])
            res["problems"] += tracer.check_nesting()
            spans_path = os.path.join(harness.RUNS_DIR, f"spans-{args.workload}-s{args.seed}.json")
            tracer.dump(spans_path)
            res["detail"]["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "mem_retained_mb": (retained, "MB"),
                **res["e2e"],
            }
            want = {m["name"] for m in spec["end_to_end"]}
            if set(metrics) != want:
                raise KeyError(f"end-to-end metrics {sorted(metrics)} != declared {sorted(want)}")

        info = {
            **run.info,
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss,
            "mem_retained_mb": retained,
            "detail": res["detail"],
            "timing": {
                "session_s": t_session.s,
                "workload_s": t_workload.s,
                "measured_s": res["window"][1] - res["window"][0],
            },
            "problems": res["problems"][:20],
        }
        print(json.dumps({"info": info}, default=str), flush=True)
        for p in res["problems"][:20]:
            print(f"check failed: {p}", file=sys.stderr)
        line = harness.result_line(
            not res["problems"], res["attempted"], res["failed"], metrics
        )
    finally:
        run.finish()
        signal.alarm(0)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
