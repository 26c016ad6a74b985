#!/usr/bin/env python3
"""Summarizes the run records under $CARGO_TARGET_DIR/results (default
.bench_build/results): per workload, each end-to-end metric's median and
quartiles over the untraced runs with their spread (quartile distance /
median, the benchmark's steadiness measure), the per-layer medians of the
traced runs, and the tracing overhead.

    python3 perfbench/summarize.py [--json OUT]
"""
import argparse
import glob
import json
import os
import statistics

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(results_dir):
    out = {}
    for workload in (w["name"] for w in BENCH["workloads"]):
        runs = {t: [json.load(open(f)) for f in sorted(glob.glob(
            os.path.join(results_dir, f"{workload}-trace{t}-*.json")))] for t in (0, 1)}
        if not runs[0]:
            continue
        info = runs[0][0]["info"]
        w = {"seeds": [r["seed"] for r in runs[0]],
             "host": {k: info.get(k) for k in
                      ("nproc", "master", "heap", "jdk", "spark", "scala", "git_commit", "poll_ms")},
             "host_loop_s": statistics.median(r["info"]["host_loop_s"] for r in runs[0]),
             "failed": sum(r["failed"] for r in runs[0] + runs[1]),
             "attempted": sum(r["attempted"] for r in runs[0] + runs[1]),
             "end_to_end": {}, "per_layer_traced": {}, "tracing_overhead": {}}
        for m in BENCH["end_to_end"]:
            q1, med, q3 = quartiles([r["e2e"][m["name"]] for r in runs[0]])
            w["end_to_end"][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "unit": m["unit"],
                "spread": (q3 - q1) / med if med else 0.0, "bound": m["bound"]}
        for m in BENCH["per_layer"] if runs[1] else []:
            w["per_layer_traced"][m["name"]] = {
                "median": statistics.median(r["layers"][m["name"]] for r in runs[1]),
                "unit": m["unit"]}
        if runs[1]:
            for name in ("stmt_p50_ms", "stmts_per_s", "script_s"):
                traced = statistics.median(r["e2e"][name] for r in runs[1])
                base = w["end_to_end"][name]["median"]
                w["tracing_overhead"][name] = traced / base - 1 if base else 0.0
        out[workload] = w
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--json")
    args = ap.parse_args()
    results = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                           "results")
    s = summarize(results)
    for workload, w in s.items():
        print(f"{workload}: {len(w['seeds'])} untraced runs, {w['failed']} of "
              f"{w['attempted']} checks failed")
        for name, m in w["end_to_end"].items():
            flag = "" if m["spread"] < m["bound"] / 3 else "  <-- above bound/3"
            print(f"  {name:18s} median {m['median']:10.4f} {m['unit']:4s} "
                  f"q1 {m['q1']:10.4f} q3 {m['q3']:10.4f} spread {m['spread']:.3f}{flag}")
        for name, v in w["tracing_overhead"].items():
            print(f"  tracing overhead {name}: {v * 100:+.1f}%")
    if args.json:
        with open(args.json, "w") as f:
            json.dump(s, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
