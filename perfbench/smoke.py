#!/usr/bin/env python3
"""Smoke test of the benchmark: a short run of each workload, untraced and
traced, asserting that every metric BENCHMARK.json names prints with its
unit, that every check passes, that the measured notebook passes run every
kind of streaming statement and that the battery times every row; plus one
check that needs no program: in a directory without it, the command fails
without printing a result.

    python3 perfbench/smoke.py

Run it from the root of a checkout. It takes a few minutes: each run makes
one full pass, however short its window.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE_SECONDS = "2"
STREAM_KINDS = {"tumble", "append", "topn"}


def run(args, cwd, timeout=900):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
                       cwd=cwd, capture_output=True, text=True, timeout=timeout)
    return p.returncode, p.stdout, p.stderr


def main():
    problems = []
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                           "results")

    for w in bench["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            code, out, err = run(["--workload", w["name"], "--seed", "7",
                                  "--seconds", SMOKE_SECONDS, "--trace", trace], ROOT)
            where = f"{w['name']} trace={trace}"
            if code != 0:
                problems.append(f"{where}: exit {code}: {err[-2000:]}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: result keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{where}: checks failed: {out[-3000:]}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = res["metrics"]
            if set(got) != set(want):
                problems.append(f"{where}: metrics differ: missing {set(want) - set(got)}, "
                                f"extra {set(got) - set(want)}")
            for name, unit in want.items():
                m = got.get(name, {})
                if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{where}: {name} printed as {m}")
                elif key == "end_to_end" and not m["value"] > 0:
                    problems.append(f"{where}: {name} = {m['value']}, not positive")
            if w["name"] == "notebook" and trace == "0":
                with open(os.path.join(results, "notebook-trace0-7.json")) as f:
                    kinds = set(json.load(f)["info"]["stmt_ms_by_kind"])
                if not STREAM_KINDS <= kinds:
                    problems.append(f"{where}: measured streaming kinds {kinds & STREAM_KINDS}")
            if w["name"] == "battery" and trace == "1":
                # a row BENCHMARK.json names but the battery does not run reads 0
                idle = [n for n in got if n.startswith("battery.") and not got[n]["value"] > 0]
                if idle:
                    problems.append(f"{where}: battery rows not timed: {idle}")
            print(f"ok {where}: {len(got)} metrics, {res['attempted']} checks", flush=True)

    # without the program next to it the command must fail and print no result
    bare = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                        "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out, _ = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                        "--seconds", "1", "--trace", "0"], bare, timeout=180)
    if code == 0 or out.strip():
        problems.append(f"bare directory: exit {code}, stdout {out[-500:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
