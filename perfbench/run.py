#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the library and the benchmark from
source with sbt (offline, from the toolchain's caches), caches the
runtime classpath under perfbench/target, and makes a class-data-sharing
archive of the classes a session loads. Every run then starts one JVM
on local[nproc], which generates the inputs from the seed, times the
workload and checks its outputs. For dag_nightly this script makes the
checks that compare whole warehouses (model hashes across builds, spend
totals, metrics_month vs the DuckDB oracle) in DuckDB after the JVM
exits. The last line printed is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
# class-data-sharing archive of the classes a session loads, made at build
ARCHIVE = os.path.join(TARGET, "classes.jsa")
# one work directory per run, so runs started side by side do not collide
WORK = os.path.join(TARGET, f"work-{os.getpid()}")
WORKLOADS = ("dag_nightly", "corpus_dedup", "table_serve")
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for top in paths:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    lib = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(lib, "scala")):
        fail(f"library sources not found under {lib}; run from a repository checkout")
    sources = [lib, os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    print("# building library and benchmark with sbt", flush=True)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime / fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    # one short session whose loaded classes are dumped at exit; runs
    # without the archive still work, only their JVM starts slower
    work = os.path.join(TARGET, f"warmup-{os.getpid()}")
    try:
        proc = subprocess.run(
            java_cmd(lines[-1], work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
            + ["perfbench.ClassWarmup", os.path.join(work, "out")],
            cwd=TARGET, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=RUN_TIMEOUT_S)
        log = proc.stdout if proc.returncode != 0 else ""
    except subprocess.TimeoutExpired:
        log = "class warm-up timed out"
    shutil.rmtree(work, ignore_errors=True)
    if log or not os.path.isfile(ARCHIVE):
        sys.stderr.write(log[-2000:])
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        print("# class archive not made; runs load classes from the jars", flush=True)


def java_cmd(cp, work, extra):
    """The JVM every run uses, up to its main class."""
    cmd = ["java", "-Xmx3g", "-Xlog:all=warning:stderr", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-Dderby.system.home=" + os.path.join(work, "derby")] + extra
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def dag_checks(request_path):
    """The dag_nightly checks that compare whole warehouses, made in DuckDB
    on the parquet the JVM built. Returns (name, failure or None) pairs."""
    import duckdb
    with open(request_path) as f:
        req = json.load(f)
    con = duckdb.connect()
    whs = req["warehouses"]

    def scan(wh, model):
        files = os.path.join(whs[wh], model, "**", "*.parquet")
        return f"read_parquet({files!r}, hive_partitioning = true)"

    def model_hashes(wh):
        """model -> (rows, order-independent content hash)."""
        out = {}
        for m in req["models"]:
            if not glob.glob(os.path.join(whs[wh], m, "**", "*.parquet"), recursive=True):
                out[m] = (0, 0)
                continue
            out[m] = con.execute(
                f"SELECT count(*), coalesce(sum(hash(t::VARCHAR) % 4294967296), 0) "
                f"FROM {scan(wh, m)} t").fetchone()
        return out

    def same_models(a, b):
        ha, hb = model_hashes(a), model_hashes(b)
        bad = [m for m in req["models"] if ha[m] != hb[m]]
        return f"models differ: {','.join(bad)}" if bad else None

    def spend_totals():
        def total(model, c):
            return con.execute(
                f"SELECT sum(CAST({c} AS DECIMAL(38, 2))) FROM {scan('last', model)}").fetchone()[0]
        spend = [total(f"spend_{g}", "total_spend")
                 for g in ("day", "week", "month", "quarter", "year")]
        classified = total("classified_card_transactions", "amount")
        if all(s == classified for s in spend):
            return None
        return f"spend totals {spend} vs classified {classified}"

    def metrics_month_vs_oracle():
        inputs = req["inputs"]
        con.execute(
            "CREATE OR REPLACE VIEW orders AS SELECT * FROM read_csv(?, delim='\t', header=true, "
            "nullstr='\\N', quote='', columns={'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', "
            "'o_totalprice': 'DOUBLE', 'o_orderdate': 'DATE'})".replace(
                "?", repr(os.path.join(inputs, "orders.tsv"))))
        con.execute(
            "CREATE OR REPLACE VIEW customer AS SELECT * FROM read_csv(?, delim='\t', header=true, "
            "columns={'c_custkey': 'BIGINT'})".replace("?", repr(os.path.join(inputs, "customer.tsv"))))
        expect = con.execute(req["sql"])
        ecols = [d[0] for d in expect.description]
        erows = expect.fetchall()
        got = con.execute(f"SELECT * FROM {scan('last', 'metrics_month')}")
        gcols = [d[0] for d in got.description]
        grows = got.fetchall()
        if sorted(ecols) != sorted(gcols):
            return f"columns differ: spark={sorted(gcols)} duckdb={sorted(ecols)}"
        order = sorted(ecols)

        def norm(rows, cols):
            idx = [cols.index(c) for c in order]
            return sorted((tuple(r[i] for i in idx) for r in rows), key=repr)
        e, g = norm(erows, ecols), norm(grows, gcols)
        if len(e) != len(g):
            return f"row counts differ: spark={len(g)} duckdb={len(e)}"
        for a, b in zip(g, e):
            if a != b:
                return f"first differing row: spark={a} duckdb={b}"
        return None

    checks = [("model_hash_cold_vs_last", lambda: same_models("cold", "last")),
              ("spend_totals", spend_totals),
              ("metrics_month_vs_duckdb", metrics_month_vs_oracle)]
    if "serial" in whs:
        checks.append(("model_hash_parallel_vs_serial", lambda: same_models("last", "serial")))
    results = []
    for name, check in checks:
        try:
            results.append((name, check()))
        except Exception as e:  # a check that cannot run has failed
            results.append((name, f"{type(e).__name__}: {e}"))
    return results


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    ensure_built()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cores = len(os.sched_getaffinity(0))
    archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = java_cmd(cp, WORK, archive) + [
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", WORK, "--cores", str(cores)]
    proc = subprocess.Popen(cmd, cwd=TARGET, stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or last is None:
        fail(f"benchmark JVM exited with code {proc.returncode} and no result")
    result = json.loads(last)

    request = os.path.join(WORK, "dag_checks.json")
    if args.workload == "dag_nightly":
        results = (dag_checks(request) if os.path.isfile(request)
                   else [("warehouse_checks", "no check request from the JVM")])
        for name, msg in results:
            result["attempted"] += 1
            print(f"# check {name} {'ok' if msg is None else 'FAILED'}")
            if msg is not None:
                print(f"# failure: check {name}: {msg}")
                result["failed"] += 1
                result["correct"] = False
    print(f"# metric failed_ratio={result['failed'] / result['attempted']:.4f} ratio "
          f"({result['failed']}/{result['attempted']})")

    spans = os.path.join(WORK, "spans.json")
    if os.path.isfile(spans):
        keep = os.path.join(TARGET, f"spans-{args.workload}-{args.seed}.json")
        shutil.copyfile(spans, keep)
        print(f"# spans kept at {os.path.relpath(keep, ROOT)}")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
