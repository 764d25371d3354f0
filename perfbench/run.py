#!/usr/bin/env python3
"""Benchmark for the paper's window queries.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository and the benchmark from source (cached by a hash of the
sources under .bench_build/), generates the seeded inputs, computes the
reference results, runs one workload in one JVM on local[4], checks every
output, and prints one JSON line last on stdout. With --trace 0 it reports
the end-to-end metrics; with --trace 1 it attaches listeners, reports the
per-layer metrics and writes the spans to .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
# A run (after the build) that has not ended after this many seconds is
# killed and ends without a result.
LIMIT_S = 170
BUILD = os.path.join(ROOT, ".bench_build")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, work, heap):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}", "-cp", classpath, "perfbench.Main"]


def build():
    """Compile the repository and the benchmark once per source hash; returns
    the runtime classpath and each Paper11 fixture's reference SQL."""
    key = source_hash()
    stamp = os.path.join(BUILD, f"build-{key}.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return json.load(f)
    log("building (sbt) ...")
    os.makedirs(BUILD, exist_ok=True)
    # Builds from the local dependency cache, as the repository's own test
    # command does, unless the caller set its own sbt options.
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=850)
    if out.returncode != 0:
        sys.exit(f"build failed with code {out.returncode}")
    lines = [ln for ln in out.stdout.splitlines() if "perfbench" in ln and ":" in ln]
    if not lines:
        sys.exit("build produced no classpath")
    built = {"classpath": lines[-1].strip()}
    oracle_path = os.path.join(BUILD, f"oracle-{key}.json")
    subprocess.run(java_cmd(built["classpath"], BUILD, "1g") + [
        "oracle", f"fixtures={','.join(workloads.PAPER11)}", f"out={oracle_path}"],
        check=True, stdout=sys.stderr, timeout=120)
    with open(oracle_path) as f:
        built["oracle"] = json.load(f)
    with open(stamp, "w") as f:
        json.dump(built, f)
    return built


def reference(data_dir, exp_dir, oracle):
    """Each fixture's expected result: its own oracle SQL run by DuckDB on
    the generated parquet, written as parquet for the JVM to compare."""
    import duckdb
    os.makedirs(exp_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("events", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    for name, sql in oracle.items():
        con.execute(f"COPY ({sql}) TO '{exp_dir}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


def run_jvm(cmd, deadline):
    """Runs the benchmark JVM; a run still going at `deadline` (epoch s) is
    killed and ends without a result."""
    # Spark would put its scratch files under SPARK_LOCAL_DIRS instead of
    # the run's own directory.
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = f"none: killed at the {LIMIT_S} s limit"
    finally:
        proc.kill()
        proc.wait()
    if code != 0:
        sys.exit(f"benchmark JVM exited with code {code}")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"not a checkout of the repository: {need} is missing under {ROOT}")
    w = workloads.WORKLOADS[a.workload]

    built = build()
    t_setup0 = time.time()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    try:
        import gen
        input_rows = gen.write(data_dir, w["sf"], w["replicas"], a.seed)
        args = [w["kind"], f"work={work}", f"data={data_dir}", f"seconds={a.seconds}",
                f"trace={a.trace}", f"out={work}/record.json"]
        args += [f"{k}={v}" for k, v in w["jvm_args"].items()]
        if w["kind"] == "batch":
            oracle = {f: built["oracle"][f] for f in workloads.PAPER11}
            reference(data_dir, f"{work}/expected", oracle)
            args += [f"expected={work}/expected", f"fixtures={','.join(workloads.PAPER11)}"]
            if "warm" in w:
                gen.write(f"{work}/warm", *w["warm"], a.seed)
                reference(f"{work}/warm", f"{work}/warm_expected", oracle)
                args += [f"warm_data={work}/warm", f"warm_expected={work}/warm_expected"]
        run_jvm(java_cmd(built["classpath"], work, w["heap"]) + args, t_setup0 + LIMIT_S)
        with open(f"{work}/record.json") as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    rec["setup_start_ms"] = t_setup0 * 1000
    rec["input_rows"] = input_rows
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "layer_self_ms": stats.layer_self_ms(rec["spans"]),
                       "timeouts": rec.get("timeouts", []), "spans": rec["spans"]}, f)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    try:
        result = workloads.summarize(a.workload, rec)
    except ValueError as e:
        sys.exit(f"run has no result: {e}")
    info = result.pop("info")
    if a.trace:
        info["e2e"] = result["metrics"]
        result["metrics"] = workloads.layer_metrics(a.workload, rec)
    for note in result.pop("notes"):
        log(note)
    if info:
        print(json.dumps(info))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
