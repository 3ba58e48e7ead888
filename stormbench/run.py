#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 stormbench/run.py --workload trident-query --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM inside a fresh work dir, checks the outputs (the query workloads against
DuckDB over the engine's oracle SQL) and prints, as the last line of
standard output, one JSON object: correct, attempted, failed and metrics.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones of a traced run. The exit code is non-zero when a check fails.
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
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
WORK_ROOT = os.path.join(ROOT, ".stormbench-work")
OUT_ROOT = os.path.join(ROOT, ".stormbench-out")

WORKLOADS = ("trident-query", "corpus-ops", "state-ingest", "drpc-serve")
END_TO_END = ("setup_s", "heap_retained_mb", "throughput_per_s",
              "latency_p50_ms", "latency_p90_ms")
# rows multiplier of the generated tables. 10 gives the row counts of TPC-H
# sf0.1 (150k orders, ~600k lineitems, 100k events, 5,000 documents); 1
# keeps corpus-ops, whose operators grow faster than linearly, to 500
# documents.
DATA_SCALE = {"trident-query": 10.0, "corpus-ops": 1.0}
HEAP = "2g"
JVM_DEADLINE_S = 150

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[stormbench] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: both builds' definitions and every
    source file."""
    h = hashlib.sha256()
    files = [os.path.join(base, "build.sbt") for base in (ROOT, HERE)]
    for base in (ROOT, HERE):
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in os.listdir(proj)
                      if f.endswith((".properties", ".sbt", ".scala"))]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    stamp_file = os.path.join(BUILD_DIR, "stormbench.stamp")
    cp_file = os.path.join(BUILD_DIR, "stormbench.classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and benchmark (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    cps = [l for l in p.stdout.splitlines() if "classes" in l and ":" in l
           and not l.startswith("[")]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build printed no classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cps[-1].strip()


def run_jvm(cp, args, work):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "stormbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            log("workload passed its %d s deadline; stopping it" % JVM_DEADLINE_S)
        finally:
            # also when this script is interrupted or terminated: the JVM
            # runs in its own session and would outlive it
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return proc.returncode


# ---- oracle -----------------------------------------------------------------

def _canon(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def _sort_key(row):
    return tuple((x is None, round(x, 6) if isinstance(x, float) else x if x is not None else 0)
                 if not isinstance(x, tuple) else (False, repr(x)) for x in row)


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0].lower() for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_canon(r[i]) for i in order) for r in cur.fetchall()]
    rows.sort(key=_sort_key)
    return [names[i] for i in order], rows


def oracle_check(entries, data_dir):
    """Compare each query's Spark rows with DuckDB over its oracle SQL.
    Returns the names of the queries that differ."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (f[:-8], os.path.join(data_dir, f)))
    bad = []
    for e in entries:
        try:
            names_o, want = _rows(con, e["sql"])
            names_s, got = _rows(con, "SELECT * FROM read_parquet('%s/*.parquet')" % e["dir"])
            ok = names_o == names_s and len(want) == len(got) and all(
                _same(a, b) for a, b in zip(want, got))
            if not ok:
                log("oracle mismatch on %s: %d rows vs %d expected, columns %s vs %s"
                    % (e["query"], len(got), len(want), names_s, names_o))
        except Exception as ex:  # noqa: BLE001 - any oracle failure fails the run
            log("oracle check of %s failed: %s" % (e["query"], ex))
            ok = False
        if not ok:
            bad.append(e["query"])
    return bad


# ---- main -------------------------------------------------------------------

def main():
    # SIGTERM unwinds like Ctrl-C, so the JVM is stopped and the work dir
    # deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log("engine sources not found under %s; run from a full checkout" % ENGINE_SRC)
        return 2
    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        if a.workload in DATA_SCALE:
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True
            import datagen
            datagen.generate(data, a.seed, DATA_SCALE[a.workload])
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--data", data, "--cores", str(cores)]
        if a.trace:
            os.makedirs(OUT_ROOT, exist_ok=True)
            args += ["--spans", os.path.join(
                OUT_ROOT, "spans-%s-seed%d.jsonl" % (a.workload, a.seed))]
        rc = run_jvm(cp, args, work)
        res_file = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log("workload process exited with %s and no result" % rc)
            return 1
        with open(res_file) as f:
            res = json.load(f)
        errors = list(res["errors"])
        failed = res["failed"]
        bad = oracle_check(res["oracle"], data) if res["oracle"] else []
        for e in res["oracle"]:
            if e["query"] in bad:
                failed += e["executions"]
                errors.append("oracle mismatch: " + e["query"])
        expected_oracle = a.workload in DATA_SCALE
        if expected_oracle and not res["oracle"]:
            errors.append("no query results reached the oracle")
        metrics = {k: v for k, v in res["metrics"].items()
                   if (k in END_TO_END) != bool(a.trace)}
        missing = [k for k in END_TO_END if k not in metrics] if not a.trace else []
        if missing:
            errors.append("missing metrics: " + ", ".join(missing))
        for k, v in metrics.items():
            if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
                errors.append("metric %s has no value" % k)
        for k, v in res["props"].items():
            print("prop %-28s %s" % (k, v))
        for k, v in metrics.items():
            print("metric %-28s %14s %-6s n=%d" % (k, v["value"], v["unit"], v["n"]))
        for e in errors:
            log("check failed: " + e)
        correct = not errors and failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": int(res["attempted"]),
            "failed": int(failed),
            "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                        for k, v in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
