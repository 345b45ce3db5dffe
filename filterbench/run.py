#!/usr/bin/env python3
"""Benchmark of the message filter. Run from the repository root:

    python3 filterbench/run.py --workload fanout_drain --seed 1 --seconds 15 --trace 0

Builds the program with the benchmark (first run only), stages seeded
inputs, runs one workload in a fresh JVM, checks its outputs, and prints
a provenance header, every metric by name with its unit, and as the last
line one JSON object {correct, attempted, failed, metrics}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer metrics of a
traced run. See README.md in this directory.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("filter_live", "fanout_drain", "registry_batch")
HEAP = "1536m"
JVM_TIMEOUT_S = 160
EXPECTED = os.path.join(HERE, "expected_registry.json")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Environment the program reads that would change what is measured.
SCRUB_ENV = ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_STATESTORE", "SPARK_GRAFT_CONF",
             "SPARK_GRAFT_CPUS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")


def cpus():
    """Spark task threads: one fewer than the usable CPUs, leaving one
    for the driver, the publisher thread, JIT and GC."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def run_jvm(root, classes, jars, args, workdir, out):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={workdir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "filterbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus()), "--work", workdir, "--out", out])
    env = {k: v for k, v in os.environ.items() if k not in SCRUB_ENV}
    env["TZ"] = "UTC"
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    log = os.path.join(build.build_dir(root), "logs",
                       f"{args.workload}-{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                           cwd=workdir, timeout=JVM_TIMEOUT_S)
    return r.returncode, log


def fmt(v):
    return f"{v:.4f}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="registry_batch: write the warm-up outputs as the recorded expected values")
    args = ap.parse_args()
    root = os.getcwd()
    try:
        classes, jars = build.ensure(root)
    except build.BuildError as e:
        print(f"filterbench: {e}", file=sys.stderr)
        return 2

    workdir = os.path.join(build.build_dir(root), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    out = os.path.join(workdir, "raw.json")
    try:
        code, log = run_jvm(root, classes, jars, args, workdir, out)
        raw = json.load(open(out)) if os.path.isfile(out) else None
    except subprocess.TimeoutExpired:
        print(f"filterbench: the benchmark JVM ran over {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        results = os.path.join(build.build_dir(root), "results")
        os.makedirs(results, exist_ok=True)
        if os.path.isfile(out):
            shutil.copy(out, os.path.join(results, f"{args.workload}-{args.seed}-t{args.trace}.json"))
        shutil.rmtree(workdir, ignore_errors=True)
    if code != 0 or raw is None:
        problems = raw.get("problems", []) if raw else []
        print(f"filterbench: benchmark JVM exited {code}: {problems}; log: {log}", file=sys.stderr)
        return 3

    if args.record and args.workload == "registry_batch":
        rec = {m["key"]: {"rows": m["rows"], "hash": m["hash"]} for m in raw["registry"]["warm"]}
        with open(EXPECTED, "w") as f:
            json.dump({"orders": raw["registry"]["orders"], "keys": rec}, f, indent=1, sort_keys=True)
    expected = None
    if args.workload == "registry_batch":
        with open(EXPECTED) as f:
            exp = json.load(f)
        # a different table size has no recorded values: every key fails
        expected = exp["keys"] if exp["orders"] == raw["registry"]["orders"] else {}
    s = report.summarize(raw, expected)

    prov = dict(raw["provenance"], **{"host.steal_pct": s.notes.get("host.steal_pct")})
    print("provenance " + json.dumps(prov, sort_keys=True))
    print(f"notes {json.dumps(s.notes, sort_keys=True)}")
    for p in s.problems:
        print(f"FAILED: {p}", file=sys.stderr)
    units = dict(report.END_TO_END + report.PER_LAYER)
    shown = report.END_TO_END if args.trace == 0 else report.PER_LAYER
    values = s.e2e if args.trace == 0 else s.layer
    if args.trace == 1:
        overhead(root, args, s)
    for name, unit in shown:
        print(f"{name:32s} {fmt(values[name]):>16s} {unit}")
    print(f"{'fail_ratio':32s} {fmt(s.notes.get('fail_ratio', 1.0)):>16s} ratio")
    result = {
        "correct": s.failed == 0 and bool(s.e2e),
        "attempted": max(1, s.attempted),
        "failed": s.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n, _ in shown},
    }
    print(json.dumps(result))
    return 0


def overhead(root, args, traced):
    """Prints tracing overhead against the untraced run of the same
    workload and seed, when that run's record is at hand."""
    path = os.path.join(build.build_dir(root), "results", f"{args.workload}-{args.seed}-t0.json")
    raw = json.load(open(path)) if os.path.isfile(path) else {}
    if raw.get("provenance", {}).get("seconds") != args.seconds or "jit_ms_end" not in raw:
        print("trace overhead: no untraced run of this workload, seed and length to compare")
        return
    plain = report.summarize(raw)
    for k in ("work_s", "latency_p50_ms", "latency_tail_ms"):
        if plain.e2e.get(k):
            print(f"trace overhead {k}: {100.0 * (traced.e2e[k] / plain.e2e[k] - 1):+.1f}% "
                  f"({plain.e2e[k]:.4f} -> {traced.e2e[k]:.4f})")


if __name__ == "__main__":
    sys.exit(main())
