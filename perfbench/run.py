#!/usr/bin/env python3
"""Benchmark entry point for graft.

    python3 perfbench/run.py --workload job_joins --seed 1 --seconds 10 --trace 0

Builds the harness together with the engine's sources (sbt, offline) when
either changed, runs one workload in one JVM (graftbench.Main), checks every
query's result against its DuckDB oracle with tools/check_oracle.py, and
prints one JSON object as the last line of stdout. Metric names and units
come from BENCHMARK.json. The input tables are read from $GRAFT_BENCH_DATA
(default: DEFAULT_DATA below). Everything the run writes stays under
perfbench/.run, except the engine's own per-process scratch directory
/tmp/graft_<pid>, which is deleted once the oracle check has read it.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
DEFAULT_DATA = "/root/testdata/sf0.1"
JVM_TIMEOUT_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every input to the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    stamp_file = os.path.join(HERE, "target", "bench.stamp")
    with open(os.path.join(HERE, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=/root/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g"))
        sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
        p = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)


def start_jvm(args, cpus, data, run_dir, log):
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        "-Xmx3g", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir}/local",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", "graftbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace),
        str(cpus), data, run_dir])
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=f"{run_dir}/warehouse")
    return subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                            stderr=subprocess.STDOUT)


def oracle_failures(data, results):
    """Names of queries whose result differs from their DuckDB oracle."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data, results], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    passed = set(re.findall(r"^PASS (\S+) ", p.stdout, re.M))
    failed = set(re.findall(r"^FAIL ([^:\s]+):", p.stdout, re.M))
    for line in p.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"oracle: {line}", file=sys.stderr)
    return failed, passed


def main():
    # turn SIGTERM into SystemExit so the cleanup in `finally` blocks runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    data = os.environ.get("GRAFT_BENCH_DATA", DEFAULT_DATA)
    if not os.path.exists(os.path.join(data, "lineitem.parquet")):
        fail(f"input tables not found in {data}")
    t0 = time.time()
    build()
    t_build = time.time() - t0

    # the session gets exactly the cores this process may run on
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm = None
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            jvm = start_jvm(args, cpus, data, run_dir, log)
            try:
                code = jvm.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-6000:])
            fail(f"harness JVM ended with {code} and no result")
        res = json.load(open(result_path))
        t_jvm = time.time() - t0 - t_build
        bad, good = oracle_failures(data, os.path.join(run_dir, "results"))
        t_oracle = time.time() - t0 - t_build - t_jvm
        unchecked = set(res["queries"]) - bad - good
        if args.trace:
            shutil.copy(os.path.join(run_dir, "trace.jsonl"),
                        os.path.join(HERE, ".run", f"trace-{args.workload}.jsonl"))
        shutil.copy(os.path.join(run_dir, "jvm.log"),
                    os.path.join(HERE, ".run", f"jvm-{args.workload}.log"))
    finally:
        if jvm is not None:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
            # only now: some oracles read fixtures the engine wrote under
            # its per-process scratch root
            shutil.rmtree(f"/tmp/graft_{jvm.pid}", ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    problems = list(res["problems"])
    for name in sorted(bad | unchecked):
        problems.append(f"{name}: oracle mismatch")
    attempted = sum(q["runs"] for q in res["queries"].values())
    failed = sum(q["runs"] if name in bad | unchecked else q["failed"]
                 for name, q in res["queries"].items())
    values = dict(res["e2e"], pass_frac=1.0 - failed / attempted) \
        if not args.trace else res["layer"]
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = values.get(m["name"])
        if v is None:
            problems.append(f"metric {m['name']} not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for p in problems:
        print(f"problem: {p}", file=sys.stderr)
    print(f"# workload={args.workload} seed={args.seed} parallelism={res['parallelism']} "
          f"cycles={res['cycles']} oracle_pass={len(good)}/{len(res['queries'])} "
          f"build_s={t_build:.1f} jvm_s={t_jvm:.1f} oracle_s={t_oracle:.1f}")
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
