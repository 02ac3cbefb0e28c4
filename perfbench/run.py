#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the harness (sbt, offline, into
perfbench/target); later runs reuse the build while the sources are
unchanged. Each run launches one JVM (one Spark session on local[N],
N = min(4, cores)), which makes its inputs from the seed, times the
workload, checks its outputs and prints a JSON line; when the run wrote
analytics-board results (the layer sweep of a traced run) this script then
checks each against its oracle SQL in DuckDB. The last stdout
line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is 0 only when every output was correct. Everything else
(build log, Spark log, per-layer details) goes to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
WORK = os.path.join(BENCH, "work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ["ingest_batch", "qan_mixed", "tail"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for dirpath, _, names in sorted(os.walk(top)):
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the same sources were built before."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"engine sources not found at {ENGINE_SRC}: run from a checkout")
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building engine + harness with sbt (offline)")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state stays in the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.log.noformat=true", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    proc = subprocess.Popen(["sbt", "--batch", "writeClasspath"], cwd=BENCH,
                            env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("build timed out")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def jvm(args):
    """Run the harness JVM; returns its stdout lines."""
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap grows with demand, so peak_rss_mb follows the program's use
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'spark-warehouse')}",
              "-Dspark.driver.host=127.0.0.1",
              "-Dspark.driver.bindAddress=127.0.0.1",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Duser.timezone=UTC",
              "-cp", cp, "perfbench.Main"] + args + ["--work", WORK])
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit("benchmark JVM timed out")
    if proc.returncode != 0:
        sys.exit(f"benchmark JVM exited with {proc.returncode}")
    return out.splitlines()


def board_oracle_check(out):
    """Each board result under `out` against its oracle SQL in DuckDB over
    the board tables next to it: columns sorted by name, rows compared in
    order by the repr of each value."""
    import duckdb
    data = os.path.join(os.path.dirname(out), "data")
    con = duckdb.connect()
    for d in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{d}/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(os.path.join(out, name, "*.parquet")))
        try:
            o = con.execute(sql).fetch_arrow_table()
            s = con.execute(f"SELECT * FROM read_parquet({files!r})").fetch_arrow_table()
        except Exception as e:  # a failing query is a failed op, not a crash
            failures.append(f"board: {name}: {e}")
            continue
        cols = sorted(o.column_names)
        if cols != sorted(s.column_names):
            failures.append(f"board: {name}: columns {sorted(s.column_names)} != {cols}")
            continue

        def norm(t):
            return [tuple(repr(r[c]) for c in cols) for r in t.select(cols).to_pylist()]
        on, sn = norm(o), norm(s)
        if on != sn:
            bad = next((i for i in range(min(len(on), len(sn))) if on[i] != sn[i]),
                       min(len(on), len(sn)))
            failures.append(f"board: {name}: {len(sn)} rows vs oracle "
                            f"{len(on)}, first difference at row {bad}")
        else:
            log(f"oracle ok {name} ({len(on)} rows)")
    return failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    build()
    shutil.rmtree(WORK, ignore_errors=True)
    # one core stays free for the driver thread, JIT and GC
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))
    lines = jvm(["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--cores", str(cores)])
    res = json.loads(lines[-1])
    failures = res.pop("failures")
    # board results (a traced run's sweep)
    for sql in sorted(glob.glob(os.path.join(WORK, "**", "out", "oracle_sql.json"),
                                recursive=True)):
        failures += board_oracle_check(os.path.dirname(sql))
    for f in failures:
        log("FAIL " + f)
    res["failed"] = min(len(failures), res["attempted"])
    res["correct"] = not failures
    print(json.dumps(res))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
