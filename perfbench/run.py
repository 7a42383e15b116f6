#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: two workloads, one closed-loop client.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload pac_etl --seed 1 --seconds 16 --trace 0

The script builds the program and the harness from source (perfbench/build.sbt,
skipped while the sources are unchanged), makes the workload's inputs from the
seed, runs perfbench/src/perfbench/Harness.scala in one JVM with a local[k]
Spark session, checks every op's cold-pass result against the query's oracle
SQL replayed in DuckDB (rows, schema and md5, as tools/check.py compares), and
prints one JSON object as the last line of stdout. With --trace 0 it holds the
end-to-end metrics, with --trace 1 the per-layer ledger.

Inputs: perfbench/data holds two copies of the generated testdata tables
(sf0.01, sf0.001). The seeded workloads scale the relational tables of a base
up by an integer factor: copy i shifts every key and every foreign key by
i x (max key + 1), so joins keep matching, and keeps a seeded 90 % sample of
each copy's orders with their lineitems, so referential integrity holds.
Everything generated or built goes under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# name -> (ops, base, scale factor or None for the base as-is). Each op is a
# SparkEntry.queries entry. The lists are kept short enough that a run (three
# set-ups, cold pass, two warm-up passes, a 16 s window of measured passes)
# takes about 50 s on 4 cores: these queries cost 0.2-6 s each whatever the input
# size, most of it per-job overhead rather than rows.
WORKLOADS = {
    "pac_etl": ((
        "pl1_csv_pipeline p3_clean_normalize d1_amount_bins a12_rollup a14_profile "
        "j1_lookup_join j2_dedup_keepfirst join_q3_revenue join_q5_nation_revenue "
        "s7_sink_roundtrip s9_tree_roundtrip").split(), "sf0.001", 10),
    "iterative_build": ((
        "x65_fit_classifier x100_bpe_merges x91_source_authority").split(), "sf0.01", None),
}

SETUP_PROBES = 2

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_child(cmd, log_path, timeout=None, **kw):
    """Run `cmd` with output to `log_path`; the child never outlives us."""
    def stop(signum, _frame):
        raise SystemExit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"{cmd[0]} timed out after {timeout}s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"),
                    os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; returns the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env["SBT_OPTS"] += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    log("building program and harness (sbt compile) ...")
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"],
                   os.path.join(BUILD, "build.log"), cwd=HERE, env=env)
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})")
    cp = [l for l in lines if ".bench_build" in l and ".jar" in l and not l.startswith("[")]
    if not cp:
        fail("build produced no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return cp[-1].strip()


# ---------------------------------------------------------------- inputs

def scaled_input(base, factor, seed):
    """Seeded, key-consistent x`factor` copy of `base`; cached by (base, seed, factor)."""
    import duckdb
    import pyarrow.parquet as pq
    src = os.path.join(HERE, "data", base)
    dst = os.path.join(BUILD, "inputs", f"{base}-x{factor}-s{seed}")
    if os.path.exists(os.path.join(dst, "DONE")):
        return dst
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}/{t}.parquet'")
    off = {k: con.sql(f"SELECT max({c}) + 1 FROM {t}").fetchone()[0]
           for k, (t, c) in {"c": ("customer", "c_custkey"), "s": ("supplier", "s_suppkey"),
                             "p": ("part", "p_partkey"), "o": ("orders", "o_orderkey")}.items()}
    copies = ", ".join(f"({i})" for i in range(factor))
    con.sql(f"CREATE TEMP TABLE copies AS SELECT * FROM (VALUES {copies}) v(i)")
    # Seeded per-copy sample of the child side: an order survives by a hash
    # of (seed, copy, key); its lineitems follow it. The seed's term is
    # folded here, since DuckDB would multiply it in INT32 and overflow.
    salt = (int(seed) % 1000003) * 40503
    keep = (f"((o_orderkey * 2654435761 + {salt} + i * 7919)"
            f" % 1000003) % 100 < 90")
    con.sql(f"CREATE TEMP TABLE kept AS SELECT o_orderkey AS k_orderkey, i FROM orders, copies WHERE {keep}")
    queries = {
        "customer": f"SELECT customer.* REPLACE (c_custkey + i * {off['c']} AS c_custkey) "
                    f"FROM customer, copies ORDER BY i, c_custkey",
        "supplier": f"SELECT supplier.* REPLACE (s_suppkey + i * {off['s']} AS s_suppkey) "
                    f"FROM supplier, copies ORDER BY i, s_suppkey",
        "part": f"SELECT part.* REPLACE (p_partkey + i * {off['p']} AS p_partkey) "
                f"FROM part, copies ORDER BY i, p_partkey",
        "orders": f"SELECT orders.* REPLACE (o_orderkey + i * {off['o']} AS o_orderkey, "
                  f"o_custkey + i * {off['c']} AS o_custkey) "
                  f"FROM orders JOIN kept ON o_orderkey = k_orderkey "
                  f"ORDER BY i, o_orderkey",
        "lineitem": f"SELECT lineitem.* REPLACE (l_orderkey + i * {off['o']} AS l_orderkey, "
                    f"l_partkey + i * {off['p']} AS l_partkey, "
                    f"l_suppkey + i * {off['s']} AS l_suppkey) "
                    f"FROM lineitem JOIN kept ON l_orderkey = k_orderkey "
                    f"ORDER BY i, l_orderkey, l_linenumber",
    }
    for t in TABLES:
        schema = pq.read_schema(f"{src}/{t}.parquet")
        if t in queries:
            tbl = con.sql(queries[t]).arrow()
            tbl = tbl.select(schema.names).cast(schema.remove_metadata())
            pq.write_table(tbl, f"{tmp}/{t}.parquet")
        else:
            shutil.copyfile(f"{src}/{t}.parquet", f"{tmp}/{t}.parquet")
    con.close()
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dst


def input_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(f"{path}/{t}.parquet").num_rows for t in TABLES)


# ---------------------------------------------------------------- output check

def _norm(df):
    import datetime
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], datetime.date):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df


def _summary(df):
    df = _norm(df)
    return {"rows": len(df), "dtypes": [str(d) for d in df.dtypes],
            "md5": hashlib.md5(df.to_csv(index=False, float_format="%.10g").encode()).hexdigest()}


def expected(input_dir, op, sql):
    """Oracle summary of `op` on `input_dir`, computed once and cached."""
    import duckdb
    key = hashlib.sha256(f"{input_dir}\n{sql}".encode()).hexdigest()[:16]
    path = os.path.join(BUILD, "expected", f"{op}-{key}.json")
    if os.path.exists(path):
        return json.load(open(path))
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
        res = _summary(con.sql(sql).df())
    except Exception as e:  # an oracle that cannot run is a failed check
        res = {"error": f"oracle: {e}"[:300]}
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f)
    return res


def check_results(run_dir, input_dir, ops):
    """op -> None if the cold-pass result matches its oracle, else the reason."""
    import pandas as pd
    oracles = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    verdict = {}
    for op in ops:
        files = sorted(glob.glob(os.path.join(run_dir, "results", op, "*.parquet")))
        if not files:
            verdict[op] = "no result"
            continue
        if op not in oracles:
            verdict[op] = None
            continue
        got = _summary(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        want = expected(input_dir, op, oracles[op])
        if "error" in want:
            verdict[op] = want["error"]
        elif got != want:
            verdict[op] = f"oracle mismatch: got {got}, want {want}"
        else:
            verdict[op] = None
    return verdict


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs)


def percentile(xs, q):
    """Linear-interpolated percentile, 0 < q < 1."""
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def quartiles(xs):
    if len(xs) < 2:
        return [xs[0], xs[0]] if xs else [None, None]
    q = statistics.quantiles(xs, n=4)
    return [q[0], q[2]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # Units come from the benchmark's declaration, the one place they are named.
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    if not os.path.exists(os.path.join(PROGRAM, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {PROGRAM}")
    ops, base, factor = WORKLOADS[args.workload]
    if not os.path.isdir(os.path.join(HERE, "data", base)):
        fail(f"no base data {base}")

    classpath = build()
    input_dir = (scaled_input(base, factor, args.seed) if factor
                 else os.path.join(HERE, "data", base))
    order = list(ops)
    random.Random(args.seed).shuffle(order)

    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = max(1, min(4, os.cpu_count() or 1))
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}"]
    for p in JAVA_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    session = [f"input={input_dir}", f"cores={cores}",
               f"warehouse={os.path.join(run_dir, 'warehouse')}"]
    # Set-up is timed from process launch, so each sample needs a fresh
    # JVM: SETUP_PROBES probes that only set up, then the run itself.
    setup_s = []
    for i in range(SETUP_PROBES):
        probe_log = os.path.join(run_dir, f"setup{i}.log")
        rc = run_child(java + ["-cp", classpath, "perfbench.SetupProbe"] + session +
                       [f"t0_ms={int(time.time() * 1000)}"], probe_log, timeout=60, cwd=run_dir)
        found = [l for l in open(probe_log).read().splitlines() if l.startswith("setup_s=")]
        if rc != 0 or not found:
            sys.stderr.write(open(probe_log).read()[-3000:])
            fail(f"set-up probe failed (exit {rc})")
        setup_s.append(float(found[-1].split("=", 1)[1]))
    cmd = java + ["-cp", classpath, "perfbench.Harness"] + session + [
        f"ops={','.join(order)}", f"seconds={args.seconds}", f"trace={args.trace}",
        f"out={run_dir}", f"run={os.path.basename(run_dir)}",
        f"t0_ms={int(time.time() * 1000)}"]
    t_jvm = time.time()
    rc = run_child(cmd, os.path.join(run_dir, "jvm.log"), timeout=150, cwd=run_dir)
    t_jvm = time.time() - t_jvm
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write("".join(open(os.path.join(run_dir, "jvm.log")).readlines()[-40:]))
        fail(f"harness failed (exit {rc})")
    r = json.load(open(result_path))

    verdict = check_results(run_dir, input_dir, order)
    bad = {op: why for op, why in verdict.items() if why}
    for op, why in bad.items():
        log(f"{op}: {why}")
    samples = r["samples"]
    failed = [s for s in samples if s["error"] or s["op"] in bad]
    for s in samples:
        if s["error"]:
            log(f"pass {s['pass']} {s['op']}: {s['error']}")
    # Passes 0 (cold), 1 and 2 (warm-up) are not measured.
    warm = [s for s in samples if s["pass"] >= 3 and not s["error"]]
    op_medians = [median([s["wall"] for s in warm if s["op"] == op])
                  for op in order if any(s["op"] == op for s in warm)]
    setup_s.append(r["setup_s"])
    pass_s = median(r["warm_pass_s"])
    rows = input_rows(input_dir)

    if args.trace == 0:
        metrics = {
            "setup_s": median(setup_s),
            "cold_pass_s": r["cold_pass_s"],
            "pass_s": pass_s,
            "op_p50_s": median(op_medians),
            "op_p90_s": percentile(op_medians, 0.9),
            "input_rows_per_s": rows / pass_s,
            "ok_ratio": 1 - len(failed) / len(samples),
            "heap_mb": r["heap_mb"],
        }
    else:
        metrics = {k: median(v) for k, v in r["layers"].items()}
        metrics["trace.overhead_ratio"] = (
            median(r["traced_pass_s"]) / median(r["untraced_pass_s"]))
        if r["untagged_ops"]:
            log(f"{r['untagged_ops']} op run(s) submitted jobs no step of the op accounts for")
    log(f"{args.workload} seed={args.seed}: jvm_s={t_jvm:.1f} run_s={time.time() - T0:.1f} "
        f"input_rows={rows} warm_passes={len(r['warm_pass_s'])} "
        f"pass_s={pass_s:.3f} quartiles={quartiles(r['warm_pass_s'])} "
        f"op_samples={len(warm)} ops={len(op_medians)} setup_s={setup_s}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
