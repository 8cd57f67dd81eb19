#!/usr/bin/env python3
"""Benchmark of the scoring stream and the dashboard.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source with sbt (once per
source state), runs one workload in a fresh JVM, checks its outputs and
prints the result object as the last line of stdout. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".perfbench_build")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ["stream", "dashboard"]
# a run, build aside, ends within this; the JVM gets all but the time
# the oracle check needs
RUN_TIMEOUT_S = 175
ORACLE_S = 15

# Spark on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if l.startswith("[error]")) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def jvm(cp, args, work, timeout):
    """Run perfbench.Main in its own process group; kill it on timeout."""
    cmd = ["java", "-Xmx6g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", work]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, env=env, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"perfbench: run exceeded {timeout} s, killed")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle(spec, timeout):
    """DuckDB oracle check of the run's query dump; returns the names of
    the queries that match their oracle and of those that do not."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    p = subprocess.run([sys.executable, tool, spec["sf"], spec["out"], spec["names"]],
                       stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=timeout)
    names = spec["names"].split(",")
    lines = p.stdout.splitlines()
    for l in lines:
        if l.startswith("FAIL"):
            print("  oracle: " + l)
    passed = [n for n in names if any(l.startswith(f"PASS {n} (") for l in lines)]
    failed = [n for n in names if n not in passed]
    print(f"oracle: {len(passed)} of {len(names)} queries match DuckDB")
    print("oracle: pass " + (",".join(passed) or "-"))
    print("oracle: fail " + (",".join(failed) or "-"))
    return passed, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    # the benchmark builds the library from the checkout's sources
    for need in ["build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("tools", "check_oracle.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"perfbench: {need} not found; run from the root of a full checkout")
            return 2
    cp = build()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            return jvm(cp, ["--selftest"], work, RUN_TIMEOUT_S)
        result_file = os.path.join(work, "result.json")
        t0 = time.time()
        rc = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--out", OUT, "--result", result_file],
                 work, RUN_TIMEOUT_S - ORACLE_S)
        if rc != 0 or not os.path.exists(result_file):
            log(f"perfbench: run failed (exit {rc}) after {time.time() - t0:.1f} s")
            return 1
        with open(result_file) as fh:
            result = json.load(fh)
        spec = result.pop("oracle", None)
        if spec:
            # each query checked is an operation, and one whose result
            # does not match its oracle is a failed one
            passed, bad = oracle(spec, max(1.0, RUN_TIMEOUT_S - (time.time() - t0)))
            result["attempted"] += len(passed) + len(bad)
            result["failed"] += len(bad)
            result["correct"] = result["correct"] and not bad
            if bad:
                # keep the last failing inputs and dump for inspection
                kept = os.path.join(OUT, "oracle-failure")
                shutil.rmtree(kept, ignore_errors=True)
                shutil.copytree(spec["sf"], os.path.join(kept, "sf"))
                shutil.copytree(spec["out"], os.path.join(kept, "dump"))
                print(f"oracle: inputs and results kept in {kept}")
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
