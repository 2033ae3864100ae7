#!/usr/bin/env python3
"""Served-path benchmark for graft: MCP sessions timed end to end and split
by layer.

usage (from the root of a graft checkout):
    python3 servebench/run.py --workload mcp_interactive|mcp_ingest \
        --seed N --seconds S --trace 0|1

Builds the program plus the harness in servebench/ with sbt when the
sources changed since the last build (output under .bench_build/ and
servebench/target/), runs one workload in one JVM, checks that the sf
test data it read is byte-identical afterwards, and prints one JSON object
as the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
End-to-end metrics with --trace 0, per-layer metrics with --trace 1. The
full result (environment stamp, sample counts, errors) goes to
.bench_build/last_<workload>.json.
"""
import argparse
import datetime
import decimal
import hashlib
import importlib.util
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
BUILD = os.path.join(ROOT, ".bench_build")
# `sbt package` output: the program and the harness in one jar
JAR = os.path.join(HERE, "target", "scala-2.13", "graft-servebench_2.13-0.1.0-SNAPSHOT.jar")
# class-data sharing archive of the classes a run loads, dumped by the
# first run after a build and mapped by every later one: it takes about
# 3 s off session start and 3 s off the first set-up on 4 vCPUs
CDS_ARCHIVE = os.path.join(BUILD, "servebench.jsa")


def with_login_env():
    """Re-runs this script once under the environment a login shell sets
    up, unless this one already has the toolchain. The toolchain (sbt and
    its offline settings, SPARK_HOME, and the Python that has duckdb and
    pandas) is configured by the login profile, which a caller that is not
    a login shell does not load. The login environment is kept in
    .bench_build/, because a login shell takes seconds to start."""
    if os.environ.get("SERVEBENCH_LOGIN_ENV") or (
            os.environ.get("SPARK_HOME") and shutil.which("sbt")
            and all(importlib.util.find_spec(m) for m in ("duckdb", "pandas"))):
        return
    cache = os.path.join(BUILD, "login_env.json")
    try:
        with open(cache) as f:
            login = json.load(f)
    except (OSError, ValueError):
        try:
            out = subprocess.run(["bash", "-lc", "env -0"], capture_output=True, timeout=60,
                                 stdin=subprocess.DEVNULL).stdout.decode()
        except (OSError, subprocess.TimeoutExpired):
            out = ""
        login = dict(kv.split("=", 1) for kv in out.split("\0") if "=" in kv)
        if login:
            os.makedirs(BUILD, exist_ok=True)
            with open(cache, "w") as f:
                json.dump(login, f)
    env = {**os.environ, **login, "SERVEBENCH_LOGIN_ENV": "1"}
    py = shutil.which("python3", path=env.get("PATH")) or sys.executable
    sys.stdout.flush()
    os.execve(py, [py, os.path.abspath(__file__), *sys.argv[1:]], env)


def testdata_dir(sf):
    """The directory TESTDATA.md lists for scale factor `sf`."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`]*/sf%s)/?`" % re.escape(sf), f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SF_DIR = os.environ.get("GRAFT_BENCH_SF") or testdata_dir("0.1")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# a run must end within 180 s once built, and within 900 s when it builds
# seconds a built run may take in all; the JVM gets what the checks after
# it leave (the oracle check takes about 13 s on 4 vCPUs)
DEADLINE_S = 177
ORACLE_RESERVE_S = 17
BUILD_TIMEOUT_S = 700

# name -> unit; the contract output carries exactly these (BENCHMARK.json)
END_TO_END = {
    "setup_s": "s", "select_p50_ms": "ms", "meta_p50_ms": "ms",
    "calls_per_s": "1/s", "space_amp": "ratio",
}
OPS = ["q1_agg", "s_nsw_search"]
PER_LAYER = {
    "server.self_ms": "ms", "server.payload_bytes": "bytes", "server.truncated": "count",
    "gateway.self_ms": "ms", "gateway.execute_ms.select": "ms",
    "gateway.execute_ms.meta": "ms", "gateway.views_registered": "count",
    "gateway.views_used_ratio": "ratio",
    "catalog.calls": "count", "catalog.calls.loadRenamed": "count",
    "catalog.calls.listTables": "count", "catalog.calls.meta": "count",
    "catalog.self_ms": "ms", "catalog.self_ms.meta": "ms", "catalog.load_ms": "ms",
    "catalog.jobs": "count",
    "catalog.meta_bytes_written": "bytes", "catalog.data_bytes_written": "bytes",
    "catalog.log_lines": "count",
    "spark.self_ms": "ms", "spark.self_ms.meta": "ms", "spark.analyze_ms": "ms", "spark.optimize_ms": "ms",
    "spark.physical_ms": "ms", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.schema_jobs": "count", "spark.job_wall_ms": "ms",
    "spark.driver_ms": "ms", "spark.task_s": "s", "spark.task_par": "ratio",
    "spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes", "jvm.gc_ms": "ms",
    "ops.build_s": "s", "ops.suite_s": "s",
    **{f"ops.{o}_{k}": u for o in OPS for k, u in (("s", "s"), ("jobs", "count"),
                                                   ("task_s", "s"))},
    "trace.calls_per_s_overhead": "1/s", "trace.suite_s_overhead": "s",
    "trace.select_spanned": "ratio",
}


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sf_digest():
    """Content digest of the test data the run reads (it must not change)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(SF_DIR)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout,
    or when this script is told to stop, and wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build():
    prog = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(prog):
        fail(f"program sources not found under {os.path.relpath(prog, ROOT)}")
    stamp = tree_digest([os.path.join(ROOT, "src", "main", "scala"),
                         os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                         os.path.join(HERE, "project", "build.properties")])
    stamp_file = os.path.join(BUILD, "servebench.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "clean", "package"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(JAR):
        fail(f"build failed (rc={rc}); see .bench_build/build.log")
    if os.path.exists(CDS_ARCHIVE):  # it holds the classes of the old jar
        os.remove(CDS_ARCHIVE)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def oracle_check(oracle_dir, timeout):
    """The slice results written by the untimed pass against the DuckDB
    oracle (tools/check_oracle.py); returns {op: passed}."""
    report = os.path.join(oracle_dir, "report.json")
    with open(os.path.join(BUILD, "oracle.log"), "w") as log:
        run_group([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), SF_DIR,
                   oracle_dir, report], timeout, stdout=log, stderr=subprocess.STDOUT)
    if not os.path.exists(report):
        return {o: False for o in OPS}
    with open(report) as f:
        queries = json.load(f)["queries"]
    return {o: bool(queries.get(o, {}).get("pass")) for o in OPS}


def close(got, want):
    """Served JSON value vs DuckDB value: equal, or numerically equal up to
    one unit in the last decimal the served value shows (the two engines
    may round a double sum on either side of a ROUND boundary)."""
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, datetime.datetime):  # TIMESTAMP_NTZ renders as ISO text
        return isinstance(got, str) and datetime.datetime.fromisoformat(got) == want
    if isinstance(want, (int, float, decimal.Decimal)) and not isinstance(want, bool):
        if not isinstance(got, (int, float)) or isinstance(got, bool):
            return False
        g, w = float(got), float(want)
        digits = len(repr(got).split(".")[1]) if "." in repr(got) else 0
        return abs(g - w) <= max(1e-9 * max(1.0, abs(w)), 1.01 * 10 ** -digits if digits else 0)
    return got == want


def duck_check(answers):
    """Every served SELECT answer of the run against DuckDB over the sf
    parquet files; returns one line per wrong answer."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(SF_DIR)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(SF_DIR, f)}')")
    bad = []
    for sql, body in answers.items():
        want = con.execute(sql).fetchall()
        got = [list(r.values()) for r in json.loads(body)]
        if len(got) != len(want):
            bad.append(f"{sql[:80]}: {len(got)} rows, DuckDB {len(want)}")
        elif not all(len(g) == len(w) and all(map(close, g, w)) for g, w in zip(got, want)):
            bad.append(f"{sql[:80]}: values differ from DuckDB")
    return bad


def duck_selftest():
    """A planted wrong SELECT answer must be caught and the right one pass."""
    sql = "SELECT COUNT(*) AS n FROM region"
    n = duck_check({sql: '[{"n": 5}]'}), duck_check({sql: '[{"n": 6}]'})
    return [] if n == ([], [f"{sql}: values differ from DuckDB"]) else [f"DuckDB self-test: {n}"]


def share_flag():
    """Map the class-data archive, or have this run dump it at exit."""
    if os.path.exists(CDS_ARCHIVE):
        return f"-XX:SharedArchiveFile={CDS_ARCHIVE}"
    return f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}.tmp"


def jvm_cmd(args, work, out):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            share_flag(), "-cp", f"{JAR}:{SPARK_JARS}/*", "graft.servebench.ServeBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf", SF_DIR, "--work", work, "--out", out]
    return cmd


def main():
    with_login_env()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["mcp_interactive", "mcp_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("not at the root of a graft checkout (no build.sbt next to servebench/)")
    if not os.path.isdir(SPARK_JARS):
        fail("Spark jars not found: set SPARK_HOME")
    for mod in ("duckdb", "pandas"):
        if importlib.util.find_spec(mod) is None:
            fail(f"{sys.executable} cannot import {mod}, which the answer checks need")
    if not os.path.isdir(SF_DIR):
        fail(f"test data not found at '{SF_DIR}': see TESTDATA.md or set GRAFT_BENCH_SF")
    build()

    before = sf_digest()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    t0 = time.time()
    try:
        with open(os.path.join(BUILD, f"jvm_{args.workload}.log"), "w") as log:
            rc = run_group(jvm_cmd(args, work, out), DEADLINE_S - ORACLE_RESERVE_S, cwd=ROOT, env=env,
                           stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        dumped = CDS_ARCHIVE + ".tmp"
        if os.path.exists(dumped):
            if rc == 0:
                os.replace(dumped, CDS_ARCHIVE)
            else:
                os.remove(dumped)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM failed (rc={rc}); see .bench_build/jvm_{args.workload}.log")
        with open(out) as f:
            res = json.load(f)
        spans = res.get("spans_file")
        if spans and os.path.exists(spans):
            shutil.copy(spans, os.path.join(BUILD, f"spans_{args.workload}.jsonl"))
        if res.get("oracle_dir"):
            res["oracle"] = oracle_check(res["oracle_dir"], max(1, DEADLINE_S - (time.time() - t0)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    unchanged = sf_digest() == before
    res["sf_unchanged"] = unchanged
    res["wrapper_wall_s"] = time.time() - t0

    attempted, failed = res["attempted"], res["failed"]
    if "oracle" in res:  # each slice member is one more checked answer
        attempted += len(res["oracle"])
        failed += sum(not ok for ok in res["oracle"].values())
    failed += len(res.get("twin_mismatches", []))  # twins served different answers
    if res.get("select_answers"):  # a wrong SELECT answer is a failed call
        res["duckdb_mismatches"] = duck_check(res["select_answers"])
        failed += len(res["duckdb_mismatches"])
    res.pop("select_answers", None)
    with open(os.path.join(BUILD, f"last_{args.workload}.json"), "w") as f:
        json.dump(res, f, indent=1)
    res["selftest_failures"] += duck_selftest()
    correct = unchanged and failed == 0 and attempted > 0 and not res["selftest_failures"]
    src, names = (res["per_layer"], PER_LAYER) if args.trace else (res["metrics"], END_TO_END)
    metrics = {k: {"value": src[k], "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))

if __name__ == "__main__":
    main()
