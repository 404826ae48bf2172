#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and caches the runtime classpath
under `.bench_build/`; later runs start the JVM directly. Each run gets
fresh engine state (index, catalog, warehouse, Spark local and temp dirs)
under `.bench_build/runs/`, removed when the run ends. The last line of
stdout is one JSON object: `correct`, `attempted`, `failed`, `metrics`.
See perfbench/README.md.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("search", "analytics", "ingest")
TPCH_SF = 0.01
# runs must end within 180 s; ingest takes longer and is run by hand (README)
JVM_TIMEOUT_S = {"search": 170, "analytics": 170, "ingest": 600}
BUILD_TIMEOUT_S = 840
MAIN_CLASS = "graftbench.Main"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build if the sources changed since the cached build; return the
    runtime classpath of the benchmark (engine classes + Spark jars)."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    if shutil.which("sbt") is None:
        raise SystemExit("perfbench: sbt is not on PATH")
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    logf = os.path.join(BUILD, "build.log")
    with open(logf, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(logf) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit(f"perfbench: build failed (see {logf})")
    cp = lines[-1]
    if ".jar" not in cp or "classes" not in cp:
        raise SystemExit(f"perfbench: could not read the classpath from {logf}")
    # snapshot the compiled classes, so a later sbt compile in this checkout
    # cannot change the classes under a running benchmark
    snap = os.path.join(BUILD, "classes")
    shutil.rmtree(snap, ignore_errors=True)
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry) and os.path.abspath(entry).startswith(ROOT + os.sep):
            copy = os.path.join(snap, str(i))
            shutil.copytree(entry, copy)
            entry = copy
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp


def tpch_data():
    """TPC-H tables in the engine's testdata layout, generated once per
    checkout with DuckDB's dbgen (deterministic; the seed only permutes the
    query order). Not part of the engine's set-up time."""
    stamp = hashlib.sha256(repr(sorted(TPCH_TABLES.items())).encode()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"tpch-sf{TPCH_SF}-{stamp}")
    done = os.path.join(out, "_DONE")
    if os.path.isfile(done):
        return out
    import duckdb  # noqa: PLC0415 (only the analytics workload needs it)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect(config={"threads": 1,
                                 "autoinstall_known_extensions": "false",
                                 "autoload_known_extensions": "false"})
    con.execute(f"CALL dbgen(sf={TPCH_SF})")
    for name, sql in TPCH_TABLES.items():
        con.execute(f"COPY (SELECT * FROM ({sql}) ORDER BY ALL) "
                    f"TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")
    con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


# dbgen tables in the engine's reduced TPC-H schema (suppkeys are 0-based
# there), with values moved into the domains the engine's TPC-H queries
# target (graft.queries.Tpch): nations are NATION_<k>, p_type is one word,
# order and ship dates run 1995-2001 (dbgen's 1992-1998 plus three years),
# and each lineitem's supplier is one of the four the engine's derived
# `partsupp` gives its part (as in TPC-H, where (l_partkey, l_suppkey) is a
# partsupp key; dbgen's supplier picks which of the four).
TPCH_TABLES = {
    "region": "SELECT r_regionkey::INTEGER AS r_regionkey, r_name FROM region",
    "nation": "SELECT n_nationkey::INTEGER AS n_nationkey, "
              "'NATION_' || n_nationkey AS n_name, "
              "n_regionkey::INTEGER AS n_regionkey FROM nation",
    "customer": "SELECT c_custkey::BIGINT AS c_custkey, c_name, "
                "c_nationkey::INTEGER AS c_nationkey, c_acctbal::DOUBLE AS c_acctbal, "
                "c_mktsegment FROM customer",
    "supplier": "SELECT (s_suppkey - 1)::BIGINT AS s_suppkey, s_name, "
                "s_nationkey::INTEGER AS s_nationkey, s_acctbal::DOUBLE AS s_acctbal "
                "FROM supplier",
    "part": "SELECT p_partkey::BIGINT AS p_partkey, p_name, p_brand, "
            "split_part(p_type, ' ', 1) AS p_type, "
            "p_size::INTEGER AS p_size, p_retailprice::DOUBLE AS p_retailprice FROM part",
    "orders": "SELECT o_orderkey::BIGINT AS o_orderkey, o_custkey::BIGINT AS o_custkey, "
              "o_orderstatus, o_totalprice::DOUBLE AS o_totalprice, "
              "(o_orderdate + INTERVAL 3 YEAR)::TIMESTAMP AS o_orderdate, o_orderpriority FROM orders",
    "lineitem": "SELECT l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey, "
                "((l_partkey * 13 + (l_suppkey % 4) * 7) % (SELECT count(*) FROM supplier))"
                "::BIGINT AS l_suppkey, "
                "l_linenumber::INTEGER AS l_linenumber, l_quantity::DOUBLE AS l_quantity, "
                "l_extendedprice::DOUBLE AS l_extendedprice, "
                "l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax, "
                "l_returnflag, l_linestatus, "
                "(l_shipdate + INTERVAL 3 YEAR)::TIMESTAMP AS l_shipdate "
                "FROM lineitem",
    # the engine's table loader registers these too; TPC-H never reads them
    "events": "SELECT i::BIGINT AS event_id, TIMESTAMP '2024-01-01' + to_seconds(i) AS ts, "
              "(i % 7)::BIGINT AS user_id, 'view' AS event_type, i::DOUBLE AS value, "
              "'{}' AS props FROM range(16) t(i)",
    "documents": "SELECT i::BIGINT AS doc_id, 'stub text' AS text, 'en' AS lang, "
                 "'gen' AS source, 9::BIGINT AS n_chars FROM range(16) t(i)",
    "embeddings": "SELECT i::BIGINT AS vec_id, [i::FLOAT, 1.0::FLOAT] AS embedding, "
                  "(i % 2)::INTEGER AS label FROM range(16) t(i)",
}


def mem_heap():
    """Heap sized from MemTotal as the repo's test command does: half of
    RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def live_jvms_on(state_root):
    """Pids of live JVMs whose command line names `state_root`."""
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit() or int(p) == os.getpid():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as fh:
                cmd = fh.read().decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and state_root in cmd:
            pids.append(int(p))
    return pids


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from the root of a full checkout)")
    cp = classpath()
    data = tpch_data() if args.workload == "analytics" else ""

    # one benchmark JVM per checkout at a time: concurrent runs would share
    # the machine and each other's timings
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    lock = open(os.path.join(BUILD, "runs", ".lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        raise SystemExit("perfbench: another benchmark run holds this checkout")

    runs = os.path.join(BUILD, "runs")
    for old in os.listdir(runs):  # leftovers of a killed run
        path = os.path.join(runs, old)
        if os.path.isdir(path) and not live_jvms_on(path):
            shutil.rmtree(path, ignore_errors=True)
    state = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    if os.path.exists(state) or live_jvms_on(state):
        raise SystemExit(f"perfbench: state dir {state} is in use")
    dirs = {k: os.path.join(state, k) for k in
            ("index", "catalog", "warehouse", "local", "tmp")}
    for d in dirs.values():
        os.makedirs(d)
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)

    cpus = len(os.sched_getaffinity(0))
    heap = mem_heap()
    env = dict(os.environ, GRAFT_INDEX_DIR=dirs["index"],
               GRAFT_CATALOG_DIR=dirs["catalog"], SPARK_LOCAL_DIRS=dirs["local"])
    env.pop("SPARK_GRAFT_CPUS", None)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap}", f"-Djava.io.tmpdir={dirs['tmp']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.state={state}",
            "-cp", cp, MAIN_CLASS,
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--heap", heap,
            "--warehouse", dirs["warehouse"], "--local", dirs["local"],
            "--tpch", data, "--out", out_dir,
            "--expected", os.path.join(HERE, "expected")]
    proc = subprocess.Popen(cmd, cwd=state, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(state, ignore_errors=True)
        sys.exit(3)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    def expire():
        log("timed out; stopping the JVM")
        proc.kill()
    watchdog = threading.Timer(JVM_TIMEOUT_S[args.workload], expire)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{") and '"metrics"' in line:
                last = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        shutil.rmtree(state, ignore_errors=True)
    if rc != 0 or last is None:
        raise SystemExit(f"perfbench: benchmark JVM failed (exit {rc})")
    print(last, flush=True)


if __name__ == "__main__":
    main()
