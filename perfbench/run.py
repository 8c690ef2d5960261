#!/usr/bin/env python3
"""End-to-end benchmark of the graft tweet-trend pipeline and a sample of
its operator registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload hourly_replay --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and this harness with sbt
(offline) into .bench_build/, together with a JVM class-data archive of
the classes a session start loads, which halves JVM and session start-up;
later runs start the JVM directly. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics.

    python3 perfbench/run.py --rebuild-oracle-cache

recomputes the DuckDB expected hashes of the registry sample
(perfbench/oracle_cache.json). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START_MS = int(time.time() * 1000)
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(BENCH, "oracle_cache.json")
JSA = os.path.join(OUT, "classes.jsa")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.01")
WORKLOADS = ("hourly_replay", "registry_sample")
RUN_LIMIT_S = 170

# the --add-opens list of the program's build.sbt (Spark on JDK 17)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(3, n))


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    jars = glob.glob(os.path.join(OUT, "sbt-target", "scala-2.13", "perfbench_2.13-*.jar"))
    with open(os.path.join(OUT, "classpath.txt")) as f:
        deps = [p for p in f.read().strip().split(os.pathsep) if p.endswith(".jar")]
    return os.pathsep.join(jars[:1] + deps)


def java_cmd(scratch, extra=()):
    n = cores()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={n}",
        f"-XX:CICompilerCount={max(2, min(3, n))}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ] + list(extra) + ["-cp", classpath(), "perfbench.Main", "--cores", str(n),
                 "--scratch", scratch, "--sf-dir", SF_DIR]
    return cmd


def run_jvm(cmd, scratch, limit_s):
    """Runs the JVM in its own process group; on failure or timeout prints
    the tail of its log and exits non-zero."""
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    log_path = os.path.join(scratch, "jvm.log")
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-6000:]
        print(tail, file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        fail(f"benchmark JVM failed ({rc})")


def build():
    """Builds when the sources changed; returns the seconds it took."""
    t0 = time.time()
    stamp = source_stamp()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    os.makedirs(OUT, exist_ok=True)
    for f in (stamp_file, JSA):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, PERFBENCH_OUT=OUT, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=/root/.sbt/repositories -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(OUT, "build.log"), "wb") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "package", "writeClasspath"],
                             cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=600)
    if rc != 0:
        print(open(os.path.join(OUT, "build.log"), errors="replace").read()[-4000:], file=sys.stderr)
        fail("build failed")
    # class-data archive: one JVM that only starts a session records the
    # classes it loads, so each later JVM maps them instead of parsing jars
    scratch = os.path.join(OUT, "train")
    shutil.rmtree(scratch, ignore_errors=True)
    run_jvm(java_cmd(scratch, [f"-XX:ArchiveClassesAtExit={JSA}"]) + [
        "--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--out", os.path.join(scratch, "result.json"), "--start-ms", str(START_MS)], scratch, 300)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t0


# ---- registry check: DuckDB oracle, compared by canonical hash ----------

def _cell(v):
    import datetime
    import decimal
    import numpy as np
    import pandas as pd
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items())}
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return "f:" + float(v).hex()
    if isinstance(v, decimal.Decimal):
        return "f:" + float(v).hex()
    if isinstance(v, (pd.Timestamp, np.datetime64, datetime.datetime)):
        return "t:" + pd.Timestamp(v).isoformat()
    if isinstance(v, datetime.date):
        return "t:" + pd.Timestamp(v).isoformat()
    return str(v)


def frame_hash(df):
    """Order-free hash of a result: columns by name, rows sorted, each cell
    in a canonical form that keeps ints and floats apart (as
    tools/check_oracle.py's dtype-strict compare does) and doubles exact."""
    cols = sorted(df.columns)
    rows = sorted(json.dumps([_cell(v) for v in row], separators=(",", ":"))
                  for row in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def duckdb_con():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def cache_key(row, sql):
    scale = os.path.basename(os.path.normpath(SF_DIR))
    return f"{row}@{scale}", hashlib.sha256(sql.encode()).hexdigest()


def load_cache():
    if os.path.exists(CACHE):
        with open(CACHE) as f:
            return json.load(f)
    return {}


def check_registry(result):
    import pandas as pd
    cache = load_cache()
    con = None
    errors = []
    out_dir = result["registry_outputs"]
    for row, sql in sorted(result["oracle_sql"].items()):
        key, sha = cache_key(row, sql)
        want = cache.get(key)
        if want is None or want["sql_sha256"] != sha:
            con = con or duckdb_con()
            want = dict(zip(("hash", "rows"), frame_hash(con.sql(sql).df())))
        got, n = frame_hash(pd.read_parquet(os.path.join(out_dir, row)))
        if got != want["hash"]:
            errors.append(f"{row}: result differs from the DuckDB oracle "
                          f"({n} rows vs {want['rows']})")
    return errors


def rebuild_oracle_cache():
    build()
    scratch = os.path.join(OUT, f"oracle-{os.getpid()}")
    out = os.path.join(scratch, "result.json")
    run_jvm(java_cmd(scratch) + [
        "--workload", "oracle_sql", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--out", out, "--start-ms", str(START_MS)], scratch, 600)
    sqls = json.load(open(out))["oracle_sql"]
    shutil.rmtree(scratch, ignore_errors=True)
    con = duckdb_con()
    cache = load_cache()
    for row, sql in sorted(sqls.items()):
        key, sha = cache_key(row, sql)
        t0 = time.time()
        h, n = frame_hash(con.sql(sql).df())
        cache[key] = {"sql_sha256": sha, "hash": h, "rows": n}
        print(f"{key}: {n} rows in {time.time() - t0:.1f} s")
    with open(CACHE, "w") as f:
        json.dump(cache, f, indent=1, sort_keys=True)
        f.write("\n")


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's scratch directory")
    ap.add_argument("--rebuild-oracle-cache", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout: src/main/scala/graft is missing", 2)
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} is not on PATH", 2)
    if a.rebuild_oracle_cache:
        rebuild_oracle_cache()
        return
    if a.workload is None:
        fail("--workload is required", 2)
    if not os.path.isdir(SF_DIR):
        fail(f"test data directory {SF_DIR} is missing", 2)

    built_s = build()
    scratch = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    out = os.path.join(scratch, "result.json")
    limit = RUN_LIMIT_S + built_s - (time.time() * 1000 - START_MS) / 1000
    run_jvm(java_cmd(scratch, [f"-XX:SharedArchiveFile={JSA}"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--start-ms", str(int(time.time() * 1000))], scratch, limit)
    with open(out) as f:
        result = json.load(f)
    errors = list(result.get("errors", []))
    if a.workload == "registry_sample":
        errors += check_registry(result)
    if not a.keep:
        shutil.rmtree(scratch, ignore_errors=True)

    metrics = {}
    got = result["metrics"]
    for m in declared_metrics(a.trace):
        name = m["name"]
        if name in got:
            metrics[name] = got[name]
        elif a.trace:
            metrics[name] = {"value": 0.0, "unit": m["unit"]}  # layer not reached
        else:
            fail(f"workload {a.workload} did not report {name}")
    undeclared = sorted(set(got) - set(metrics))
    if undeclared:
        fail(f"metrics missing from BENCHMARK.json: {undeclared}")
    print("rounds_ms: " + " ".join(f"{x:.0f}" for x in result.get("rounds_ms", [])), file=sys.stderr)
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": not errors, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
