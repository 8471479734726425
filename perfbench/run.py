#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload crawl_saturate --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), starts one JVM with Spark at local[nproc], and relays its
result line after checking it against BENCHMARK.json: with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Exits non-zero when the build, the run or an output check fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_flags(tmpdir):
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(tmpdir, exist_ok=True)
    return flags + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
    ]


def git_rev():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench, {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def check_result(res, want):
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(res) != keys:
        raise ValueError(f"result keys {sorted(res)} != {sorted(keys)}")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        raise ValueError(f"metrics differ from BENCHMARK.json: missing={missing} "
                         f"extra={extra} unit mismatch={wrong}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            raise ValueError(f"metric {k} has no numeric value")
    if res["attempted"] < 1:
        raise ValueError("no operation attempted")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        bench, want = expected_metrics(a.trace)
        if a.workload not in {w["name"] for w in bench["workloads"]}:
            raise ValueError(f"unknown workload {a.workload}")
        classes, digest = build.ensure_classes()
        work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
        flags = java_flags(os.path.join(work, "tmp"))
        n = nproc()
    except (build.BuildError, ValueError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    cmd = ["java"] + flags + ["-cp", build.classpath(classes), "perfbench.Main", "run",
                              "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--root", ROOT, "--work", work, "--nproc", str(n),
                              "--git-rev", git_rev(), "--source-hash", digest]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("context "):
            print(line)
        elif line.startswith("result "):
            result = json.loads(line[len("result "):])
    if result is None:
        print(f"perfbench: no result (exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 5
    try:
        check_result(result, want)
    except ValueError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 6
    print(json.dumps(result))
    return 0 if proc.returncode == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
