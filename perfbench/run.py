#!/usr/bin/env python3
"""Lake benchmark runner: build, generate, run one workload, check, report.

    python3 perfbench/run.py --workload lake_search --seed 1 --seconds 20 --trace 0

Run it from the root of a graft checkout. The first run builds the
program and the benchmark's JVM side with sbt (perfbench/build.sbt) and reuses the
build while the sources are unchanged. Each run then:

1. generates the workload's inputs and query panel from --seed (gen.py);
2. runs perfbench.Main in one JVM on local[4]: set-up,
   warm-up, then a closed loop with one client over a timed window
   sized by --seconds (README.md);
3. checks every operation's output against DuckDB over the same
   parquet files (oracle.py) — a wrong answer counts as a failed op;
4. prints the workload's metrics by name with units, then, as the last
   line, one JSON object {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
reports its per-layer metrics from the spans perfbench.Main recorded (see
README.md). Each run's full result is also kept under
perfbench/results/<workload>/ for compare.py.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("lake_search", "pipeline_batch")
RUN_LIMIT_S = 170          # a run ends within 180 s
FIRST_RUN_LIMIT_S = 880    # a run that has to build ends within 900 s
JVM_HEAP = "3g"
# the JDK 17 module opens Spark needs outside spark-submit (the same
# list the graft build passes to its forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_stamp(root):
    """Digest of everything the build reads, to reuse a current build."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(root, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            if "target" not in os.path.relpath(d, root).split(os.sep)
            for f in fs)
        for f in paths:
            if not (f.endswith((".scala", ".sbt", ".properties", ".java"))):
                continue
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, deadline):
    """Compile graft and perfbench.Main once per source state; returns the
    runtime classpath."""
    state = os.path.join(root, "perfbench", "target", "bench-classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(state):
        with open(state) as f:
            lines = f.read().splitlines()
        if (len(lines) == 2 and lines[0] == stamp
                and os.path.isdir(lines[1].split(os.pathsep)[0])):
            return lines[1]
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    log("perfbench: building graft and perfbench.Main (sbt) ...")
    out = run_bounded(cmd, os.path.join(root, "perfbench"), env,
                      deadline - time.time(), capture=True)
    cp = [l for l in out.splitlines()
          if l.startswith("/") and ".jar" in l and "perfbench" in l]
    if not cp:
        die("build did not report a classpath:\n" + out[-3000:])
    os.makedirs(os.path.dirname(state), exist_ok=True)
    with open(state, "w") as f:
        f.write(stamp + "\n" + cp[-1] + "\n")
    return cp[-1]


def run_bounded(cmd, cwd, env, limit, capture=False, log_path=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns captured stdout when `capture`."""
    if limit <= 0:
        die("no time left to run " + cmd[0])
    out = open(log_path, "w") if log_path else None
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE if capture else out,
                         stderr=subprocess.STDOUT if (capture or out)
                         else None, text=True)
    try:
        text, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} exceeded {limit:.0f} s")
    finally:
        if out:
            out.close()
    if p.returncode != 0:
        tail = text[-3000:] if capture else ""
        if log_path:
            with open(log_path) as f:
                tail = f.read()[-3000:]
        die(f"{cmd[0]} exited with {p.returncode}:\n{tail}", 1)
    return text


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a graft checkout")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java must be on PATH")

    cp = build(root, t_start + FIRST_RUN_LIMIT_S - 60)
    deadline = min(t_start + FIRST_RUN_LIMIT_S, time.time() + RUN_LIMIT_S)

    base = os.path.join(root, "perfbench", ".run", a.workload)
    data, work, out = (os.path.join(base, d) for d in ("data", "work", "out"))
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    t = time.time()
    gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - t

    env = dict(os.environ, GRAFT_LAKE_DIR=os.path.join(work, "lake"),
               GRAFT_INDEX_DIR=os.path.join(work, "idx"))
    # -XX:-UsePerfData: no JVM performance-data file outside the checkout
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out])
    t = time.time()
    run_bounded(cmd, work, env, deadline - time.time() - 15,
                log_path=os.path.join(out, "jvm.log"))
    jvm_s = time.time() - t

    t = time.time()
    checked = oracle.check(a.workload, out)
    check_s = time.time() - t
    res = metrics.compute(a.workload, out, checked, a.trace == 1)
    res["wall_s"] = {"gen": gen_s, "jvm": jvm_s, "check": check_s,
                     "total": time.time() - t_start}
    res["seed"] = a.seed
    res["workload"] = a.workload
    res["trace"] = a.trace
    metrics.report(res, sys.stdout)
    keep = os.path.join(root, "perfbench", "results", a.workload)
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    # inputs, outputs and the JVM log stay for inspection; the
    # scratch lake and indexes go
    shutil.rmtree(work, ignore_errors=True)
    missing = [k for k, v in res["metrics"].items()
               if not math.isfinite(v["value"])]
    if missing:
        die("not measured: " + ", ".join(missing), 1)
    line = {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": res["metrics"]}
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
