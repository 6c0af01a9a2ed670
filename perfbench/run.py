#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds T --trace 0|1

Run from the repository root. The first run builds the library and the
benchmark program from source with sbt (into .bench_build/ and the sbt
target directories); later runs reuse that build while the sources are
unchanged. Each run then starts one JVM that generates the inputs from the
seed, sets up, warms up and runs a closed loop with one client for T
seconds (perfbench/src/main/scala/perfbench/Main.scala). Afterwards the
relational results are re-computed with DuckDB and compared.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (BENCHMARK.json lists both). The line before it carries the
details: units and samples behind op_tail_s, fail ratio, ANN recalls,
failure notes.

    python3 perfbench/run.py --gen-only --workload NAME --seed N
prints digests of the generated inputs and op sequence (used by the
seed tests in perfbench/test_seed.py).
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
WORKLOADS = ("relational", "corpus_batch")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load_spec():
    """BENCHMARK.json names the metrics this script prints, with units."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return json.load(fh)


SPEC = load_spec()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------- build

def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            files = [r]
        else:
            files = []
            for d, dirs, fs in os.walk(r):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties"))]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the library and the benchmark; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no library sources next to perfbench/ (run from the repository root)")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest and all(os.path.exists(p) for p in cached["cp"]):
            return cached["cp"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    # keep sbt's temporary files (server socket, file watcher) in the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath")
    cp = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "cp": cp}, fh)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


# ----------------------------------------------------------------- run

def run_jvm(cp, workload, seed, seconds, trace, extra=()):
    """Starts the benchmark JVM on a fresh work directory; returns its record
    and the wall-clock launch time."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    out = os.path.join(WORK, "record.json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env.pop("SPARK_GRAFT_CPUS", None)
    # a fixed-size young generation keeps the heap's footprint, and so the
    # peak RSS, from following the collector's adaptive sizing
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xmn768m",
           "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", WORK, "--out", out, *extra]
    launch_ms = time.time() * 1000.0
    log = open(os.path.join(BUILD, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")
    finally:
        log.close()
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(BUILD, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM failed (exit {code})")
    with open(out) as fh:
        return json.load(fh), launch_ms


# -------------------------------------------------------------- oracle

D0 = 694224000  # 1992-01-01 UTC


def oracle_sql(kind, p):
    ts = lambda days: f"make_timestamp(CAST(({D0} + {days} * 86400) AS BIGINT) * 1000000)"
    return {
        "agg_shipdate": f"""
            SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
                   avg(l_discount), count(*)
            FROM lineitem WHERE l_shipdate <= {ts(p.get('day', 0))}
            GROUP BY ALL ORDER BY 1, 2""",
        "join_revenue": f"""
            SELECT n_name, sum(l_extendedprice * (1.0 - l_discount)), count(*)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
            WHERE year(o_orderdate) = {p.get('year')} GROUP BY n_name ORDER BY n_name""",
        "spread_status": f"""
            SELECT o_orderstatus, o_orderpriority, count(*) FROM orders
            WHERE o_totalprice > {p.get('price')} GROUP BY ALL""",
        "gather_part": f"""
            SELECT key, count(*), sum(value) FROM (
              SELECT 'size_d' AS key, CAST(p_size AS DOUBLE) AS value FROM part WHERE p_size < {p.get('size')}
              UNION ALL
              SELECT 'p_retailprice', p_retailprice FROM part WHERE p_size < {p.get('size')})
            GROUP BY key ORDER BY key""",
        "rank_cust": f"""
            SELECT c_mktsegment, c_custkey, c_acctbal, r FROM (
              SELECT *, rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS r
              FROM customer WHERE c_nationkey = {p.get('nation')})
            WHERE r <= 3 ORDER BY c_mktsegment, r, c_custkey""",
        "lead_lag": f"""
            SELECT user_id, count(*), sum(prev), sum(nxt), CAST(max(running) AS DOUBLE) FROM (
              SELECT user_id, lag(value) OVER w AS prev, lead(value) OVER w AS nxt,
                sum(CAST(value AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS running
              FROM events WHERE user_id BETWEEN {p.get('user')} AND {p.get('user', 0) + 19}
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            GROUP BY user_id ORDER BY user_id""",
        "distinct_count": f"""
            SELECT l_returnflag, l_linestatus, count(DISTINCT l_suppkey) FROM lineitem
            WHERE l_partkey <= {p.get('part')} GROUP BY ALL ORDER BY 1, 2""",
        "top_orders": f"""
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey BETWEEN {p.get('cust')} AND {p.get('cust', 0) + 99}
            ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10""",
        "window_global": f"""
            SELECT count(*), sum(rn), CAST(max(running) AS DOUBLE), sum(prev) FROM (
              SELECT row_number() OVER w AS rn, lag(l_extendedprice) OVER w AS prev,
                sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS running
              FROM lineitem WHERE l_partkey <= {p.get('part')}
              WINDOW w AS (ORDER BY l_shipdate, l_orderkey, l_linenumber))""",
        "window_join": f"""
            SELECT count(*), sum(rn), CAST(max(running) AS DOUBLE) FROM (
              SELECT row_number() OVER w AS rn,
                sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (w ROWS BETWEEN UNBOUNDED
                  PRECEDING AND CURRENT ROW) AS running
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderdate BETWEEN {ts(p.get('day', 0))} AND {ts(p.get('day', 0) + p.get('days', 0))}
              WINDOW w AS (ORDER BY o_orderdate, l_orderkey, l_linenumber))""",
        "sessionize": f"""
            WITH e AS (
              SELECT user_id, ts, event_id, value, epoch_us(ts) AS us,
                lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events WHERE user_id BETWEEN {p.get('user')} AND {p.get('user', 0) + p.get('users', 0)}),
            s AS (
              SELECT *, sum(CASE WHEN prev IS NULL OR us - prev > {p.get('gap_min', 0) * 60000 * 1000}
                  THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS si
              FROM e),
            g AS (
              SELECT user_id, si, min(CAST(floor(epoch(ts)) AS BIGINT)) AS start_s,
                max(CAST(floor(epoch(ts)) AS BIGINT)) AS end_s, count(*) AS n_events,
                CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
              FROM s GROUP BY user_id, si)
            SELECT count(*), sum(n_events), max(n_events), sum(end_s - start_s),
              CAST(sum(CAST(sum_value AS DECIMAL(28,2))) AS DOUBLE) FROM g""",
        "range_join": f"""
            SELECT count(*), sum(promo_id), sum(event_id)
            FROM events e JOIN promos p ON e.user_id = p.user_id
              AND epoch_us(e.ts) >= p.lo_us AND epoch_us(e.ts) <= p.hi_us
            WHERE e.user_id BETWEEN {p.get('user')} AND {p.get('user', 0) + p.get('users', 0)}""",
    }[kind]


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return str(a) == str(b)
    a, b = float(a), float(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def same_rows(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(close(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def oracle_check(ops):
    """Marks every relational op whose rows differ from DuckDB's. Identical
    (kind, params) are evaluated once; every repeat must match too."""
    todo = [o for o in ops if o["oracle"] and o["ok"] and not o["error"]]
    if not todo:
        return
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    inputs = os.path.join(WORK, "inputs")
    for t in sorted(os.listdir(inputs)):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}/*.parquet')")
    cache = {}
    for o in todo:
        key = (o["kind"], tuple(sorted(o["params"].items())))
        if key not in cache:
            cache[key] = [list(r) for r in con.execute(oracle_sql(o["kind"], o["params"])).fetchall()]
        want = cache[key]
        got = o["rows"]
        if o["kind"] == "spread_status":
            cols = o["cols"]
            pivot = {}
            for status, prio, n in want:
                pivot.setdefault(status, {})[prio] = n
            want = [[s] + [pivot[s].get(c, 0) for c in cols[1:]] for s in sorted(pivot)]
        if not same_rows(got, want):
            o["ok"] = False
            o["note"] = f"differs from DuckDB: got {got[:3]} want {want[:3]}"
    con.close()


# ------------------------------------------------------------- metrics

def tail(ops):
    """Mean over units of each unit's slowest op. A unit is one round of
    every op kind (relational) or one corpus batch; no run holds the 21
    samples a percentile with 10 samples beyond it needs, so each unit's
    maximum is taken, and averaging over units keeps the definition the
    same however many units fit in a run."""
    slowest = {}
    for o in ops:
        slowest[o["unit"]] = max(slowest.get(o["unit"], 0.0), o["lat_s"])
    return statistics.mean(slowest.values()), len(slowest)


def end_to_end(rec, launch_ms, ops):
    done = [o for o in ops if not o["error"]]
    lats = [o["lat_s"] for o in done]
    rows = sum(o["rows_in"] for o in done)
    measured = rec["measured_s"]
    setup = (rec["measure_start_ms"] - launch_ms) / 1000.0
    t, units = tail(done) if done else (float("nan"), 0)
    failed = sum(1 for o in ops if o["error"] or not o["ok"])
    metrics = {
        "setup_s": setup,
        "rows_per_s": rows / measured,
        "op_p50_s": statistics.median(lats) if lats else float("nan"),
        "op_tail_s": t,
        "cpu_s_per_mrow": rec["cpu_s"] / (rows / 1e6) if rows else float("nan"),
        "ok_ratio": 1.0 - failed / len(ops),
        "peak_rss_mb": rec["peak_rss_bytes"] / 2**20,
    }
    kinds = {}
    for o in done:
        kinds.setdefault(o["kind"], []).append(o["lat_s"])
    recalls = {}
    for o in done:
        if o["recall"] is not None:
            recalls.setdefault(o["kind"], []).append(o["recall"])
    detail = {"op_tail_units": units, "op_samples": len(lats),
              "kind_p50_s": {k: round(statistics.median(v), 4) for k, v in kinds.items()},
              "recall_min": {k: min(v) for k, v in recalls.items()},
              "check_s": rec["check_s"],
              "fail_ratio": failed / len(ops), "measured_s": measured, "rows_in": rows,
              "gen_s": rec["gen_s"], "prepare_s": rec["prepare_s"], "warmup_s": rec["warmup_s"]}
    return metrics, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", action="store_true")
    a = ap.parse_args()

    if SPEC is None:
        fail("BENCHMARK.json not found at the repository root")
    cp = build()
    if a.gen_only:
        rec, _ = run_jvm(cp, a.workload, a.seed, 0, False, ("--gen-only", "1"))
        print(json.dumps({"inputs": inputs_digest(), "ops": hashlib.sha256(
            json.dumps(rec["op_sequence"]).encode()).hexdigest(), "rows": rec["input_rows"]}))
        return

    rec, launch_ms = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1)
    ops = rec["ops"]
    if not ops:
        fail("no op completed in the measured window")
    oracle_check(ops)
    shutil.rmtree(WORK, ignore_errors=True)
    if a.trace:
        # the spans of the last traced run: (id, parent, op, layer, name, seconds)
        with open(os.path.join(BUILD, "trace_spans.json"), "w") as fh:
            json.dump(rec["spans"], fh)
    failed = [o for o in ops if o["error"] or not o["ok"]]
    if a.trace:
        values = dict(rec["layers"])
        values["trace.overhead_ratio"] = rec["trace_overhead_ratio"]
        detail = {"traced_ops": values.pop("trace.ops"), "spans": len(rec.get("spans", []))}
        declared = SPEC["per_layer"]
    else:
        values, detail = end_to_end(rec, launch_ms, ops)
        declared = SPEC["end_to_end"]
    detail["failures"] = [f"{o['kind']}{o['params']}: {o['error'] or o['note']}" for o in failed][:10]
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}}))


def inputs_digest():
    """Digest of the generated data: table by table, part files in index
    order, every row in file order. It hashes decoded rows, not file bytes:
    the parquet writer orders each column's encoding list by hash-set
    iteration, which differs between JVMs for the same data."""
    import duckdb
    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    h = hashlib.sha256()
    inputs = os.path.join(WORK, "inputs")
    for t in sorted(os.listdir(inputs)):
        files = [f for f in os.listdir(os.path.join(inputs, t)) if re.match(r"part-\d+.*\.parquet$", f)]
        for f in sorted(files, key=lambda f: int(re.match(r"part-(\d+)", f).group(1))):
            path = os.path.join(inputs, t, f)
            rows = con.execute(f"SELECT md5(string_agg(CAST(t AS VARCHAR), chr(10))) "
                               f"FROM read_parquet('{path}') t").fetchone()[0]
            h.update(f"{t}/{f[:10]}:{rows}\n".encode())
    con.close()
    return h.hexdigest()


if __name__ == "__main__":
    main()
