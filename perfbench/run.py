#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads timed from outside.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
harness from the checkout's sources into `.bench_build/` (sbt), dumps the
oracle SQL, hashes the oracle results with DuckDB and writes a class-data
archive for faster JVM starts; later runs reuse all of it until a source
file changes. One JVM then runs one workload on `local[4]`: an untimed
warm-up op, a cold pass, a pass that settles the JIT, and warm passes, as
many passes in all as `--seconds` holds at the workload's nominal pass
time (at least five).
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. The exit code is not
0 when any op threw, hit its deadline or failed its output check.

See perfbench/README.md for the workloads, the metrics and the layers.
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
WORKLOADS = ("curate", "tabular", "ingest_stream")
STREAM_FILES = 2
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# What `spark-submit` would pass to a JDK 17 driver (as graft's build.sbt does).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(classpath, work, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java, *opens, "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            *extra, "-cp", classpath, "graft.perfbench.Main"]


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def jvm_env(work):
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def run_jvm(cmd, work, timeout):
    """Runs the JVM with its stdout folded into our stderr; kills it on timeout."""
    p = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(work), stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("JVM did not finish within %d s" % timeout)


def build():
    """Builds graft and the harness unless the sources are unchanged since
    the last build; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    log("building graft and the harness with sbt")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "compile",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(out.stdout)
    cps = [line for line in out.stdout.splitlines() if ".jar" in line and os.pathsep in line]
    if out.returncode != 0 or not cps:
        fail("build failed")
    classpath = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    work = fresh_dir(os.path.join(BUILD, "work", "build"))
    # the oracle SQL of every listed query; exits non-zero on drift
    # between the op lists and the query registry
    if run_jvm(java_cmd(classpath, work) + ["--mode", "oracle-sql", "--out", os.path.join(BUILD, "oracle_sql.json")],
               work, BUILD_TIMEOUT_S) != 0:
        fail("the op lists and the query registry disagree")
    # class-data archive of what a set-up loads, for faster JVM starts
    run_jvm(java_cmd(classpath, work, ["-XX:ArchiveClassesAtExit=" + os.path.join(BUILD, "app.jsa")])
            + ["--mode", "setup", "--workload", "tabular", "--seed", "0", "--seconds", "0",
               "--data", os.path.join(HERE, "data", "sf0.001"), "--work", work,
               "--launch-ms", str(int(time.time() * 1000)), "--out", os.path.join(work, "setup.json")],
            work, BUILD_TIMEOUT_S)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def oracle_file(sf):
    """Oracle hashes of every listed query at one scale, computed once per build."""
    path = os.path.join(BUILD, "oracle-%s.tsv" % sf)
    if not os.path.exists(path):
        sys.path.insert(0, HERE)
        import oracle

        with open(os.path.join(BUILD, "oracle_sql.json")) as f:
            hashes = oracle.oracle_hashes(os.path.join(HERE, "data", sf), json.load(f))
        with open(path + ".tmp", "w") as f:
            f.writelines("%s\t%s\n" % kv for kv in sorted(hashes.items()))
        os.replace(path + ".tmp", path)
    return path


def stream_input(data_dir, out_dir, seed):
    """`events` plus seeded exact duplicates, in event-time order, split at
    seeded cut points into STREAM_FILES parquet files whose modification
    times follow that order (the file source reads the oldest first)."""
    import random

    import duckdb

    os.makedirs(out_dir)
    con = duckdb.connect()
    src = os.path.join(data_dir, "events.parquet").replace("'", "''")
    # ts arrives in nanoseconds; micros are what Spark's reader takes
    con.execute("CREATE TABLE e AS SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM '%s'" % src)
    con.execute("CREATE TABLE s AS SELECT * FROM (SELECT * FROM e UNION ALL "
                "SELECT * FROM e WHERE hash(event_id + %d) %% 10 = 0) ORDER BY ts, event_id" % seed)
    n = con.execute("SELECT count(*) FROM s").fetchone()[0]
    rnd = random.Random(seed)
    cuts = sorted({0, n, *(rnd.randrange(1, n) for _ in range(STREAM_FILES - 1))})
    t0 = time.time() - 3600
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(out_dir, "chunk-%03d.parquet" % i)
        con.execute("COPY (SELECT * FROM s ORDER BY ts, event_id LIMIT %d OFFSET %d) TO '%s' (FORMAT parquet)"
                    % (hi - lo, lo, path.replace("'", "''")))
        os.utime(path, (t0 + i, t0 + i))
    con.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="sf0.01", help="scale of the tables under perfbench/data")
    ap.add_argument("--plant", choices=("throw", "wrong"), help="test only: add a failing op")
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "BENCHMARK.json"), os.path.join(HERE, "data", a.sf)):
        if not os.path.exists(need):
            fail("missing %s: run from the root of a graft checkout" % os.path.relpath(need, ROOT))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]

    classpath = build()
    oracle = oracle_file(a.sf)
    work = fresh_dir(os.path.join(BUILD, "work", a.workload))
    data = os.path.join(HERE, "data", a.sf)
    if a.workload == "ingest_stream":
        stream_input(data, os.path.join(work, "stream_in"), a.seed)
    out = os.path.join(work, "result.json")
    cmd = java_cmd(classpath, work, ["-XX:SharedArchiveFile=" + os.path.join(BUILD, "app.jsa")]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work,
        "--oracle", oracle, "--out", out]
    if a.plant:
        cmd += ["--plant", a.plant]
    code = run_jvm(cmd + ["--launch-ms", str(int(time.time() * 1000))], work, RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        fail("the benchmark JVM exited with code %d" % code)
    with open(out) as f:
        res = json.load(f)

    metrics = {}
    for m in declared:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail("metric %s was not measured" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name in res["failed_ops"]:
        log("failed op: " + name)
    log("%d passes, %d warm op samples" % (res["passes"], res["warm_samples"]))
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
