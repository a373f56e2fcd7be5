#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload gold_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the harness from
source (sbt, offline; reused while no source changed), generates the
workload's inputs from the seed, runs the JVM harness for about --seconds of
timed passes, checks the outputs (DuckDB oracles, CDC replay, repeat checks) and
prints a report line and then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# workload -> (generated tables, SparkEntry queries, timed passes at
# --seconds 10); txtable_cdc makes its own change stream in the JVM. A run
# makes that many passes scaled to --seconds, a count fixed in advance:
# early passes are still warming up, so a count that shrank on a slow host
# would weigh the slower passes more and widen the spread between runs. On a
# quiet 4-core host a gold_batch pass takes ~7 s, a txtable_cdc pass ~3.2 s.
# gold_batch gets one pass because its three set-ups already take ~45 s and
# the driver's 48 runs must fit in 3,420 s even on a contended host.
WORKLOADS = {
    "gold_batch": (["customer", "events", "documents", "embeddings"], metrics.GOLD_OPS, 1),
    "txtable_cdc": ([], [], 4),
}
# input sizes: the testdata sf0.01 shape, so a pass takes seconds, not tens
SIZES = {"customer": 1500, "events": 10000, "users": 150,
         "documents": 200, "embeddings": 200}
# class-data-sharing archive of the harness's classes: the first run after a
# build writes it, later runs map it instead of loading and verifying Spark's
# classes again (about 6 s off every JVM start)
ARCHIVE = os.path.join(WORK, "classes.jsa")
SETUPS = 3            # set-ups per run; setup_s is their median
JVM_BUDGET_S = 170    # per-run budget after the build; the JVM is killed past it
HEAP = "2g"

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile engine + harness; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("engine sources not found (run from a full checkout of the repository)")
    stamp = os.path.join(WORK, "classpath.txt")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > newest:
        return open(stamp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = [l.strip() for l in open(log) if l.strip()]
    if rc != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die("build failed")
    with open(stamp, "w") as f:
        f.write(lines[-1])
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    return lines[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, run_dir, deadline):
    dump = ARCHIVE + ".tmp"
    share = (f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.isfile(ARCHIVE)
             else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", share,
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + args)
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        rc = None
    log.close()
    if rc != 0:
        sys.stderr.write("".join(open(os.path.join(run_dir, "jvm.log")).readlines()[-40:]))
        die("harness timed out" if rc is None else f"harness exited with {rc}")
    if os.path.isfile(dump):
        os.replace(dump, ARCHIVE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    cp = build()
    deadline = time.monotonic() + JVM_BUDGET_S
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "input")
    tables, ops, passes10 = WORKLOADS[a.workload]
    if tables:
        gen.generate(data, a.seed, tables, SIZES)
    host0 = metrics.host_sample()
    raw_path = os.path.join(run_dir, "raw.json")
    run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                 "--passes", str(max(1, round(passes10 * a.seconds / 10))), "--trace", str(a.trace),
                 "--data", data, "--out", raw_path, "--cores", str(cores()),
                 "--setups", str(SETUPS), "--ops", ",".join(ops),
                 "--tables", ",".join(tables)], run_dir, deadline)
    raw = json.load(open(raw_path))
    host = metrics.host_metrics(host0, metrics.host_sample())

    import oracle  # needs the repository's tools/, present once build() passed
    check = oracle.check(raw["check"])
    report = metrics.derive(raw, check, host)
    if "spans" in report:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(report["spans"], f)
    result = metrics.result(report, trace=bool(a.trace))
    print(json.dumps({"seed": a.seed, "workload": a.workload, "trace": a.trace,
                      "elapsed_s": round(time.monotonic() - t_start, 3),
                      "failures": report["failures"], **report["report"]}, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
