#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from this checkout's
sources, runs one workload, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest            # smoke-size harness self-test
    python3 perfbench/run.py --dump <dir>          # corpus outputs for tools/oracle_check.py

Run from the repository root. Workloads, metrics and their meaning are in
perfbench/README.md; metric names come from BENCHMARK.json. The last line of
standard output is the result object; the lines before it report every
metric by name with its unit, plus the run's noise record.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(BENCH_DIR, "..", "src", "main")
WORKLOADS = ["loaded_round", "incremental_crawl", "corpus_queries"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# JDK 17 module openings Spark needs outside spark-submit (same list as the
# engine's build.sbt `javaOptions`).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def source_stamp():
    """Digest of every file the build reads, so an unchanged checkout is not
    rebuilt between runs."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH_DIR, "src"), os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) and cache the classpath."""
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ is the build's classpath)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def run_harness(cp, workload, seed, seconds, trace, extra=()):
    """Run the harness JVM once; returns its result object."""
    work = os.path.join(build_dir(), "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--bench-dir", BENCH_DIR,
            "--work-dir", work, "--result", result, *extra]
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result):
            fail(f"{workload} harness exited with code {code}")
        with open(result) as f:
            res = json.load(f)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(build_dir(), f"{workload}-spans.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract_metrics(res, trace, spec):
    """The metrics the result line carries: every end-to-end metric of
    BENCHMARK.json, or with --trace 1 every per-layer one."""
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = res["per_layer" if trace else "end_to_end"]
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"harness did not measure {missing}")
    return {n: source[n] for n in names}


def load_spec():
    path = os.path.join(BENCH_DIR, "..", "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found next to the benchmark directory")
    with open(path) as f:
        return json.load(f)


def selftest():
    """Smoke-size run of every workload in both modes: a tiny web with two
    rounds, three queries over the smoke corpus. Exercises the output checks,
    the metric names and the result shape."""
    spec = load_spec()
    cp = build()
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            t0 = time.time()
            res = run_harness(cp, w, 42, 1, trace, extra=["--smoke"])
            line = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                    "metrics": contract_metrics(res, trace, spec)}
            if not res["correct"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {res['failures']}")
            for name, m in line["metrics"].items():
                if not isinstance(m["value"], (int, float)) or not m["unit"]:
                    problems.append(f"{w} trace={trace}: bad metric {name}")
            if trace == 0:
                zero = [n for n, m in line["metrics"].items() if m["value"] == 0]
                if zero:
                    problems.append(f"{w}: end-to-end metrics read 0: {zero}")
            print(f"selftest {w} trace={trace}: attempted={res['attempted']} failed={res['failed']} "
                  f"({time.time() - t0:.1f} s)")
    if problems:
        print("selftest FAILED:\n  " + "\n  ".join(problems))
        sys.exit(1)
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--dump")
    ap.add_argument("--smoke", action="store_true", help="smoke sizes, as the self-test runs them")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from a full checkout")
    if args.selftest:
        return selftest()
    if args.dump:
        cp = build()
        run_harness(cp, "corpus_queries", args.seed, 0, 0,
                    extra=["--dump", os.path.abspath(args.dump)] + (["--smoke"] if args.smoke else []))
        return
    if not args.workload:
        fail("--workload is required")
    spec = load_spec()
    cp = build()
    t0 = time.time()
    res = run_harness(cp, args.workload, args.seed, args.seconds, args.trace,
                      extra=["--smoke"] if args.smoke else [])
    print(f"perfbench: {args.workload} ran {time.time() - t0:.1f} s", file=sys.stderr)
    units = {"report": res["report"], "end_to_end": res["end_to_end"]}
    print("perfbench metrics: " + json.dumps(units, sort_keys=False))
    if args.trace:
        print("perfbench per-layer: " + json.dumps(res["per_layer"], sort_keys=False))
    if res["failures"]:
        print("perfbench failures: " + json.dumps(res["failures"]))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": contract_metrics(res, args.trace, spec)}))


if __name__ == "__main__":
    main()
