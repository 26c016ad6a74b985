#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload notebook|battery
                             --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the harness
from source with sbt (once per source state), generates its input tables
(once), generates this run's statements from the seed, runs the harness in
one JVM, checks the outputs and prints, as its last line, one JSON object:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

Everything it writes goes under $CARGO_TARGET_DIR (default .bench_build)
in the checkout; sbt also leaves its usual target/ directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import plan as planner  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)

BATTERY_SF = 0.01   # battery tables; sf0.1 passes take ~28 s on 4 cores
NOTEBOOK_SF = 0.1   # the lineitem table the notebook statements scan
HEAP = "3g"
JVM_LIMIT_S = 160   # a run must end within 180 s once built
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        for root, dirs, files in sorted(os.walk(p)) if os.path.isdir(p) else [("", [], [p])]:
            dirs.sort()
            for f in sorted(files):
                fp = os.path.join(root, f)
                h.update(fp.encode())
                with open(fp, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, log_path, deadline, env=None):
    """Runs cmd in its own process group, output to log_path; kills the group
    if it outlives `deadline` (time.monotonic). Returns the exit code."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(root, out):
    """Compiles the program and the harness; returns the runtime classpath."""
    sources = [os.path.join(root, p) for p in
               ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/harness")]
    stamp = digest(sources)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building the program and the harness with sbt")
    log_path = os.path.join(out, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export perfbench/Runtime/fullClasspath"],
                       os.path.join(root, "perfbench"), log_path, time.monotonic() + 800)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {code}); see {log_path}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, f)
    return cps[-1]


def tables(out):
    """Generates the input tables once per checkout."""
    stamp = digest([os.path.join(HERE, "datagen.py")]) + f"{BATTERY_SF}/{NOTEBOOK_SF}"
    base = os.path.join(out, "data")
    paths = {"battery": os.path.join(base, f"sf{BATTERY_SF}"),
             "lineitem": os.path.join(base, f"sf{NOTEBOOK_SF}", "lineitem.parquet")}
    marker = os.path.join(base, "stamp")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        log("generating input tables")
        shutil.rmtree(base, ignore_errors=True)
        datagen.write(paths["battery"], BATTERY_SF)
        datagen.write(os.path.dirname(paths["lineitem"]), NOTEBOOK_SF, only={"lineitem"})
        with open(marker, "w") as f:
            f.write(stamp)
    return paths


def host_speed():
    """Seconds a fixed pure-Python loop takes: recorded with each run, since
    this host's CPU speed drifts by up to about 1.5x over minutes."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    # a SIGTERM unwinds like an exception, so run_bounded still kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("run from the root of a checkout: build.sbt and src/main/scala "
                         "(the program under test) are missing here")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classpath = build(root, out)
    data = tables(out)

    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    clients = min(4, cpus)
    plan = planner.make(args.workload, args.seed, clients, data, run_dir,
                        [m["name"] for m in BENCH["per_layer"]])
    for d in plan.get("sink_dirs", []):
        # Engine.registerTable reads a filesystem table's path eagerly, so a
        # sink must exist before its CREATE TABLE
        os.makedirs(d)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_dir}/spark-local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--plan", plan_path, "--out", run_dir, "--cpus", str(cpus)]
    calib = host_speed()
    jvm_log = os.path.join(run_dir, "jvm.log")
    jvm_start = time.monotonic()
    code = run_bounded(cmd, run_dir, jvm_log, jvm_start + JVM_LIMIT_S)
    log(f"harness JVM {time.monotonic() - jvm_start:.1f} s after "
        f"{jvm_start - started:.1f} s of build, tables and plan")
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise SystemExit(f"harness failed (exit {code}); see {jvm_log}")
    with open(result_path) as f:
        res = json.load(f)

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if args.workload == "battery":
        import oracle  # uses the checkout's scripts/oracle_check.py
        made, bad = oracle.check(data["battery"], run_dir, res["info"]["battery_counts"],
                                 os.path.join(out, "data", "oracle_cache.json"))
        attempted += made
        failed += len(bad)
        failures += bad

    info = res["info"]
    info.update({"git_commit": git_commit(root), "host_loop_s": calib, "sf_dir": data["battery"],
                 "lineitem": data["lineitem"], "heap": HEAP, "clients": clients})
    values = res["layers"] if args.trace else res["e2e"]
    wanted = BENCH["per_layer"] if args.trace else BENCH["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"harness did not report: {', '.join(missing)}")
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    results_dir = os.path.join(out, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "e2e": res["e2e"], "layers": res["layers"], "info": info,
              "attempted": attempted, "failed": failed, "failures": failures}
    with open(os.path.join(results_dir, f"{args.workload}-trace{args.trace}-{args.seed}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(results_dir, f"{args.workload}-spans-{args.seed}.jsonl"))
    report(args, record, results_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"run {time.monotonic() - started:.1f} s")

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


def report(args, rec, results_dir):
    """Human-readable lines: provenance, every end-to-end metric, the
    workload's own client-side timings, and in traced runs the tracing
    overhead against this checkout's untraced runs of the same workload."""
    info = rec["info"]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={info.get(k)}" for k in
                     ("nproc", "master", "heap", "jdk", "spark", "scala", "git_commit",
                      "sf_dir", "poll_ms", "stmts", "passes", "tail_q", "host_loop_s")))
    print(f"# setup reps (s): {info.get('setup_reps_s')}")
    for name in (m["name"] for m in BENCH["end_to_end"]):
        print(f"{name} = {rec['e2e'][name]:.4f} {units[name]}")
    failed_frac = rec["failed"] / max(rec["attempted"], 1)
    print(f"failed_frac = {failed_frac:.4f} ({rec['failed']} of {rec['attempted']})")
    own = {"notebook": ["client.stmt_p99_ms", "client.first_page_ms", "client.paged_scan_ms",
                        "client.insert_ms", "client.lineitem_agg_ms",
                        "client.stream_first_row_ms", "client.cancel_ms",
                        "client.monitor_refresh_ms"],
           "battery": ["client.stmt_p99_ms", "battery.sum_s", "battery.geomean_s"]}[args.workload]
    for name in own:
        print(f"{name} = {rec['layers'][name]:.4f} {units[name]}")
    for msg in rec["failures"][:10]:
        print(f"# FAILED: {msg}")
    if args.trace:
        base = []
        for f in os.listdir(results_dir):
            if f.startswith(f"{args.workload}-trace0-"):
                with open(os.path.join(results_dir, f)) as fh:
                    base.append(json.load(fh)["e2e"])
        if base:
            for name in ("stmt_p50_ms", "stmts_per_s"):
                b = statistics.median(r[name] for r in base)
                print(f"# tracing overhead {name}: {rec['e2e'][name]:.4f} traced vs "
                      f"{b:.4f} untraced median of {len(base)} runs "
                      f"({(rec['e2e'][name] / b - 1) * 100:+.1f}%)")
        if args.workload == "notebook":
            lay = rec["layers"]
            print(f"# paged scan split: {lay['client.paged_scan_ms']:.1f} ms = "
                  f"{lay['store.pages_per_stmt']:.1f} pages/stmt avg; rest.page "
                  f"{lay['rest.page_ms']:.2f} ms = store.fetch {lay['store.fetch_ms']:.3f} ms "
                  f"+ HTTP/JSON {lay['rest.overhead_ms']:.2f} ms; spans cover "
                  f"{lay['client.paged_scan_accounted_frac'] * 100:.1f}% of the scan wall")


if __name__ == "__main__":
    main()
