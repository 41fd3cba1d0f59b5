#!/usr/bin/env python3
"""perfbench: the repository's end-to-end benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload conversation --seed 1 --seconds 10 --trace 0

Builds the program from source together with the benchmark's JVM side
(perfbench/build.sbt, output under .bench_build/, rebuilt only when a source
changes), runs one workload in one JVM, checks its outputs and prints one
JSON object as the last line of standard output:

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
WORKLOADS = ("conversation", "dedup")
# a run must end within 180 s; the JVM is told to stop measuring before this
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sources():
    """Every file the build reads: the program's main sources and the benchmark's."""
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return [f for f in files if f.is_file()]


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile once per source state; concurrent runs wait on one lock."""
    BUILD.mkdir(exist_ok=True)
    stamp_file = BUILD / "perfbench.stamp"
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
            return
        log("building the program and the benchmark (sbt compile)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        (BUILD / "tmp").mkdir(exist_ok=True)
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true")
                           + f" -Djava.io.tmpdir={BUILD / 'tmp'}")
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
        stamp_file.write_text(stamp)


def oracle_check(d):
    """DuckDB cross-check of q_neardup_lsh through its registry oracle SQL.

    Returns (checked, passed, detail); never reports a pass when DuckDB is
    missing.
    """
    try:
        import duckdb
    except ImportError as e:
        return False, False, f"duckdb not importable: {e}"
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d / 'documents.parquet'}')")

    def canon(rel):
        cols = sorted(rel.columns)
        return cols, sorted(tuple(str(row[rel.columns.index(c)]) for c in cols) for row in rel.fetchall())

    exp_cols, exp = canon(con.sql((d / "q_neardup_lsh.sql").read_text()))
    got_cols, got = canon(con.sql(f"SELECT * FROM read_parquet('{d / 'q_neardup_lsh'}/*.parquet')"))
    if exp_cols != got_cols:
        return True, False, f"columns {got_cols} != oracle {exp_cols}"
    if exp != got:
        return True, False, f"{len(got)} rows != oracle {len(exp)} rows or values differ"
    return True, True, f"{len(got)} rows equal"


def stop_child(*_):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    sys.exit(1)


def main():
    global child
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "Main.scala").is_file():
        sys.exit("perfbench: the program's sources (src/main/scala/graft) are not in this checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (Path(spark_home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME must name a Spark 4 install")
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    build()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = BUILD / "run" / f"{tag}-{os.getpid()}"
    result = BUILD / "results" / f"{tag}.json"
    result.unlink(missing_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    budget = RUN_LIMIT_S - (time.monotonic() - start)
    cmd = [java, "-XX:CICompilerCount=4", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:MetaspaceSize=1g", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.cleaner.periodicGC.interval=120s"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{CLASSES}:{spark_home}/jars/*", "graft.perfbench.PerfMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--result", str(result),
            "--deadline", f"{budget - 25:.0f}"]
    try:
        child = subprocess.Popen(cmd, cwd=work, start_new_session=True)
        try:
            code = child.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            sys.exit("perfbench: the run exceeded its time limit")
        if code != 0 or not result.is_file():
            sys.exit(f"perfbench: the benchmark JVM failed (exit {code})")
        line = json.loads(result.read_text())
        if a.workload == "dedup":
            checked, passed, detail = oracle_check(work / "reference" / "oracle")
            log(f"oracle q_neardup_lsh (DuckDB): "
                f"{'pass' if passed else 'FAIL' if checked else 'unchecked'} ({detail})")
            log(f"oracle_checked = {str(checked).lower()}")
            if checked and not passed:
                line["correct"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
