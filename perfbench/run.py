#!/usr/bin/env python3
"""Run one benchmark workload and print its result JSON as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline, into the checkout) and records the
classpath; later runs start the benchmark JVM straight from that classpath.
Everything a run writes goes under `.bench_build/` in the checkout, and its
scratch directory is removed when the run ends.

Workloads: hourly_upsert, maintenance_dml, operator_suite (see
perfbench/WORKLOADS.md). `--size tiny` shrinks every workload for the
smoke test. The operator suite's results over its generated tables are
compared here, after the JVM ends, with DuckDB running each row's oracle SQL
over the same files; a mismatch counts as a failed operation.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("hourly_upsert", "maintenance_dml", "operator_suite")
# A run must end within 180 s; the JVM is stopped a little before that.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# What spark-submit would add on JDK 17 (the root build passes the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for path in inputs:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
        "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy"),
        "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
    ])
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def oracle_failures(checks_file):
    """Compare every recorded operator-suite result with DuckDB running the
    row's oracle SQL over the same generated tables. Returns the number of
    results that differ."""
    if not os.path.isfile(checks_file):
        return 0
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True  # write nothing next to the imported tool
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, compare
    failures = 0
    with open(checks_file) as f:
        rounds = [json.loads(line) for line in f if line.strip()]
    for rnd in rounds:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{rnd['sf']}/{t}.parquet')")
        for row, sql in sorted(rnd["rows"].items()):
            try:
                issues = compare(row, pd.read_parquet(os.path.join(rnd["out"], row)), con.execute(sql).df())
            except Exception as e:  # an unreadable result or oracle error is a failure too
                issues = [repr(e)]
            if issues:
                failures += 1
                print(f"perfbench: {row} differs from its oracle: {issues[:3]}", file=sys.stderr)
        con.close()
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's source is missing ({need} not found next to perfbench/)")
    classpath = build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+ExplicitGCInvokesConcurrent",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--size", args.size]
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-s{args.seed}-t{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    t0 = t1 = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}", 4)
        t1 = time.time()
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {proc.returncode}", 5)
        result = json.loads(lines[-1])
        wrong = oracle_failures(os.path.join(work, "oracle_checks.jsonl"))
        result["failed"] += wrong
        result["correct"] = result["correct"] and wrong == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: JVM {t1 - t0:.1f} s, check and cleanup {time.time() - t1:.1f} s",
              file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
