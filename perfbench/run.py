#!/usr/bin/env python3
"""The CDC benchmark. Run from the repository root:

    python3 perfbench/run.py --workload replica|screen \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in a fresh JVM and prints one JSON line last on
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics, from a traced run, plus the tracing
overhead (traced minus untraced end-to-end figures of the same seed).
Everything the run writes stays under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # the checkout holds only committed files
import build  # noqa: E402

WORKLOADS = ("replica", "screen")
RUN_BUDGET_S = 170  # a run, both JVMs of a traced run included, ends within this
# traced minus untraced, per end-to-end metric
OVERHEAD = {"latency_ms_p50": "trace.overhead_latency_ms_p50",
            "throughput_mb_per_s": "trace.overhead_throughput_mb_per_s"}

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


_children = set()


def _stop_children(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    sys.exit(128 + signum)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def java(cp, main, args, tmp, timeout):
    """Run a JVM main to completion; returns (exit code, peak RSS in MB)."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                         start_new_session=True)
    _children.add(p.pid)
    deadline = time.monotonic() + timeout
    try:
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                log(f"{main} exceeded {timeout:.0f} s; stopping it")
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                return -9, 0.0
            time.sleep(0.05)
    finally:
        _children.discard(p.pid)


def run_once(cp, workload, seed, seconds, traced, timeout):
    out_dir = os.path.join(build.OUT, "runs")
    name = f"{workload}-{seed}-{'traced' if traced else 'plain'}-{os.getpid()}"
    work = os.path.join(out_dir, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(out_dir, name + ".json")
    spans = os.path.join(build.OUT, "traces", f"{workload}-{seed}.spans.jsonl")
    try:
        code, rss = java(cp, "graft.perfbench.Main",
                         ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", "1" if traced else "0", "--cores", str(len(os.sched_getaffinity(0))),
                          "--work", work, "--out", result, "--spans", spans],
                         os.path.join(work, "tmp"), timeout)
        if code != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: {workload} run failed (exit {code})")
        with open(result) as f:
            r = json.load(f)
        r["e2e"]["peak_rss_mb"] = {"value": rss, "unit": "MB"}
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(result):
            os.remove(result)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pick(metrics, wanted):
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise SystemExit(f"perfbench: run did not report {missing}")
    return {m["name"]: metrics[m["name"]] for m in wanted}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _stop_children)
    cp = build.build()
    if a.selftest:
        tmp = os.path.join(build.OUT, "selftest")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        try:
            code, _ = java(cp, "graft.perfbench.SelfTest", [tmp], tmp, RUN_BUDGET_S)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(code)
    if not a.workload:
        ap.error("--workload is required")
    b = spec()
    deadline = time.monotonic() + RUN_BUDGET_S
    if a.trace == 0:
        r = run_once(cp, a.workload, a.seed, a.seconds, False, deadline - time.monotonic())
        metrics = pick(r["e2e"], b["end_to_end"])
        runs = [r]
    else:
        # two JVMs share the run's time budget: untraced first, then traced
        plain = run_once(cp, a.workload, a.seed, a.seconds, False, deadline - time.monotonic())
        traced = run_once(cp, a.workload, a.seed, a.seconds, True, deadline - time.monotonic())
        layer = dict(traced["layer"])
        for k, name in OVERHEAD.items():
            layer[name] = {"value": traced["e2e"][k]["value"] - plain["e2e"][k]["value"],
                           "unit": traced["e2e"][k]["unit"]}
        metrics = pick(layer, b["per_layer"])
        runs = [plain, traced]
    print(json.dumps({"correct": all(r["correct"] for r in runs),
                      "attempted": sum(r["attempted"] for r in runs),
                      "failed": sum(r["failed"] for r in runs),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
