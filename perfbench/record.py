#!/usr/bin/env python3
"""Record the traced runs kept in perfbench/results/.

    python3 perfbench/record.py [--seed 1] [--seconds 18] [--pairs 3]

Run from the root of a checkout. For stream_events and batch_registry on
local[4] it alternates traced and untraced runs on one seed, `--pairs`
of each, and writes to results/per_layer.json the per-layer numbers of the
median traced run (by latency_p50_ms), the median of each end-to-end metric
on both sides, and the tracing overhead (traced median / untraced median -
1). One more traced run of stream_events on local[1] gives the
single-threaded baseline. The spans of each kept traced run go to
results/<name>.spans.json.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

RESULTS = os.path.join(run.HERE, "results")


def one(cp, workload, seed, seconds, trace, cores):
    out = run.run_jvm(cp, workload, seed, seconds, trace, cores,
                      time.time() + run.RUN_TIMEOUT_S)
    if out is None or not out["correct"]:
        raise SystemExit(f"{workload} trace={trace} cores={cores}: run failed "
                         f"{out and out['errors']}")
    spans = None
    if trace:
        src = os.path.join(run.build_dir(), "last_trace", f"{workload}-c{cores}", "spans.json")
        spans = os.path.join(run.build_dir(), f"keep-{workload}-c{cores}-{time.time_ns()}.json")
        shutil.copy(src, spans)
    return out, spans


def median_run(runs):
    runs = sorted(runs, key=lambda r: r[0]["e2e"]["latency_p50_ms"])
    return runs[(len(runs) - 1) // 2]


def medians(runs):
    return {k: statistics.median(r[0]["e2e"][k] for r in runs) for k in runs[0][0]["e2e"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--pairs", type=int, default=3)
    args = ap.parse_args()
    cp = run.build()
    os.makedirs(RESULTS, exist_ok=True)
    report = {}

    def keep(name, workload, cores, traced, untraced=None):
        out, spans = median_run(traced)
        shutil.copy(spans, os.path.join(RESULTS, f"{name}.spans.json"))
        entry = {"workload": workload, "seed": args.seed, "seconds": args.seconds,
                 "cores": cores, "runs": len(traced), "spans": out["spans"],
                 "per_layer": dict(sorted(out["layer"].items())),
                 "end_to_end_traced": medians(traced)}
        if untraced:
            entry["end_to_end_untraced"] = medians(untraced)
            entry["tracing_overhead"] = {
                k: round(entry["end_to_end_traced"][k] / v - 1, 4)
                for k, v in entry["end_to_end_untraced"].items()}
        report[name] = entry

    for workload in ("stream_events", "batch_registry"):
        traced, untraced = [], []
        for i in range(args.pairs):
            # alternate which side goes first, so drift in the host's load
            # does not land on one side
            order = (1, 0) if i % 2 == 0 else (0, 1)
            for trace in order:
                (traced if trace else untraced).append(
                    one(cp, workload, args.seed, args.seconds, trace, 4))
        keep(workload, workload, 4, traced, untraced)
    keep("stream_events_local1", "stream_events", 1,
         [one(cp, "stream_events", args.seed, args.seconds, 1, 1)])

    with open(os.path.join(RESULTS, "per_layer.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps({k: v.get("tracing_overhead") for k, v in report.items()}))


if __name__ == "__main__":
    main()
