#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft engine.

Run from the root of a checkout:

  python3 perfbench/run.py --workload tpch_batch --seed 1 --seconds 20 --trace 0

It builds the engine and the harness from source (perfbench/build.sbt) when
the sources changed, derives the workload's inputs from the seed, runs the
workload's gates in one JVM (perfbench.PerfBench), checks every gate's output
against the DuckDB oracle, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. The full record of
the run is the line before it and is also kept under .perfbench_work/records.

  python3 perfbench/run.py compare A.json B.json

compares two records and refuses when they were made with different core
counts, seeds, input fractions, workloads or gate lists. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")

# Each workload's whole gate family, in run order. The benchmark's default
# run measures the `measured` subset: the families take 27-69 s a pass at
# four cores, more than the benchmark's run budget allows (README.md).
# `--gates family` runs the whole family.
FAMILIES = {
    "tpch_batch": [
        "tpch_q2_min_cost_supplier", "tpch_q3_shipping_priority",
        "tpch_q4_order_priority", "tpch_q5_local_supplier",
        "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
        "tpch_q8_market_share", "tpch_q9_product_profit",
        "tpch_q10_returned_items", "tpch_q11_important_stock",
        "tpch_q12_priority_split", "tpch_q13_customer_distribution",
        "tpch_q14_promo_revenue", "tpch_q15_top_supplier",
        "tpch_q16_parts_supplier", "tpch_q17_small_qty_revenue",
        "tpch_q18_large_volume", "tpch_q19_disjunctive",
        "tpch_q20_excess_stock", "tpch_q21_waiting_suppliers",
        "tpch_q22_sales_opportunity",
    ],
    "stream_stateful": [
        "stream_tumble_agg", "stream_session_agg", "stream_cumulate_agg",
        "stream_interval_join_outer", "stream_window_join",
        "stream_temporal_join", "stream_dedup_keeplast", "stream_topn",
        "stream_over_bounded_rows", "stream_cep_timeout",
        "match_recognize_sql", "changelog_join_agg_topn",
        "state_restart_topn", "stream_window_late_capture",
    ],
    "llm_dedup": [
        "dedup_embedding_cosine", "dedup_exact_text", "dedup_incremental_lsh",
        "dedup_keep_first", "dedup_lsh_clusters", "dedup_minhash_lsh",
        "dedup_ngram_containment", "dedup_ngram_jaccard", "dedup_prefix",
        "dedup_semantic", "dedup_simhash", "dedup_simhash_buckets",
        "dedup_substring_spans",
    ],
}
MEASURED = {
    "tpch_batch": [
        "tpch_q3_shipping_priority", "tpch_q5_local_supplier",
        "tpch_q9_product_profit", "tpch_q13_customer_distribution",
        "tpch_q17_small_qty_revenue", "tpch_q18_large_volume",
        "tpch_q21_waiting_suppliers",
    ],
    "stream_stateful": [
        "stream_tumble_agg", "stream_dedup_keeplast", "stream_topn",
        "match_recognize_sql", "changelog_join_agg_topn",
    ],
    "llm_dedup": [
        "dedup_exact_text", "dedup_minhash_lsh", "dedup_ngram_containment",
        "dedup_ngram_jaccard", "dedup_simhash",
    ],
}

# Seed 0 runs the unmodified sf0.1 tables, comparable with BENCH_FULL.json.
# Every other seed keeps the keys whose seeded hash falls under FRACTION.
RESERVED_SEED = 0
FRACTION = 0.25
RESERVED_VECTORS = 10
HEAP = "4g"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
REQUIRED = ["BENCHMARK.json", "build.sbt", "TESTDATA.md", "tools/oracle_check.py",
            "src/main/scala/graft/SparkEntry.scala"]
SOURCE_DIRS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]

END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "gate_geomean_s": "s",
              "gate_p90_s": "s",
              "stream_batch_p50_ms": "ms", "stream_batch_p90_ms": "ms",
              "stream_rows_per_s": "1/s", "failed_ratio": "ratio",
              "storage_mb_left": "MB", "tmp_mb_left": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for top in SOURCE_DIRS:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars the engine's own build compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        fail("no Spark jars: set SPARK_HOME")
    return m.group(1)


def build(src_hash):
    stamp = os.path.join(CLASSES, ".perfbench_source")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline",
               SPARK_HOME=os.path.dirname(spark_jars()))
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx3g -XX:-UsePerfData").strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(src_hash)


# ---------------------------------------------------------------- inputs

def source_dir():
    """The sf0.1 tables: SPARK_GRAFT_SF_DIR, else the directory TESTDATA.md lists."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        for line in open(os.path.join(ROOT, "TESTDATA.md")):
            m = re.match(r"\|\s*0\.1\s*\|\s*`([^`]+)`", line)
            if m:
                d = m.group(1)
    if not d or not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        fail(f"sf0.1 tables not found (dir: {d})")
    return d.rstrip("/")


def keep_mask(keys, seed, fraction):
    """Seeded splitmix64 hash of each key, kept when it falls under fraction."""
    import numpy as np
    with np.errstate(over="ignore"):
        x = keys.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % 2**64)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return (x >> np.uint64(11)).astype(np.float64) / float(2**53) < fraction


def input_name(seed):
    return "reserved" if seed == RESERVED_SEED else f"seed{seed}"


def make_inputs(seed):
    """Tables for one seed, cached under .perfbench_work/inputs. Customers,
    users, documents and embeddings are sampled by key; orders follow their
    customer and lineitems their order, so every kept key keeps its whole
    history and every reference resolves. Dimension tables and the first
    RESERVED_VECTORS embeddings stay whole."""
    src = source_dir()
    dst = os.path.join(WORK, "inputs", input_name(seed))
    done = os.path.join(dst, ".complete")
    if os.path.exists(done):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    if seed == RESERVED_SEED:
        for t in TABLES:
            shutil.copy2(os.path.join(src, f"{t}.parquet"), dst)
    else:
        import numpy as np
        import pyarrow.parquet as pq
        tab = {t: pq.read_table(os.path.join(src, f"{t}.parquet")) for t in TABLES}

        def by_key(t, col):
            keys = tab[t].column(col).to_numpy()
            return keys, keep_mask(keys, seed, FRACTION)

        ck, cm = by_key("customer", "c_custkey")
        tab["customer"] = tab["customer"].filter(cm)
        orders = tab["orders"]
        om = np.isin(orders.column("o_custkey").to_numpy(), ck[cm])
        tab["orders"] = orders.filter(om)
        kept_orders = orders.column("o_orderkey").to_numpy()[om]
        tab["lineitem"] = tab["lineitem"].filter(
            np.isin(tab["lineitem"].column("l_orderkey").to_numpy(), kept_orders))
        for t, col in (("events", "user_id"), ("documents", "doc_id")):
            tab[t] = tab[t].filter(by_key(t, col)[1])
        # the first vectors are roles the gates address by id (query
        # vectors, codebook, k-means seeds: vec_id < 10), so they all stay
        vk, vm = by_key("embeddings", "vec_id")
        tab["embeddings"] = tab["embeddings"].filter(vm | (vk < RESERVED_VECTORS))
        for t in TABLES:
            path = os.path.join(dst, f"{t}.parquet")
            pq.write_table(tab[t], path)
            st = os.stat(os.path.join(src, f"{t}.parquet"))
            os.utime(path, (st.st_atime, st.st_mtime))
    open(done, "w").close()
    return dst


# ---------------------------------------------------------------- oracle

def oracle_module():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
    import oracle_check
    return oracle_check


def digest(oc, con, q):
    """Column names, type classes, row count and a digest of the sorted
    canonical rows, computed the way tools/oracle_check.py compares."""
    n = con.sql(f"SELECT count(*) FROM ({q}) t").fetchall()[0][0]
    if n > oc.BIG_ROWS:
        cols, types = oc.meta(con, q)
        rows, sig = oc.big_sig(con, q, cols)
        return {"cols": cols, "types": types, "rows": rows, "digest": "bigsig:" + sig}
    cols, types, rows = oc.frame(con, con.sql(q))
    return {"cols": cols, "types": types, "rows": len(rows),
            "digest": hashlib.sha256(repr(rows).encode()).hexdigest()}


def duck(inputs, tmp):
    import duckdb
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def check_outputs(gates, sqls, inputs, out, cache_dir, corrupt):
    """Returns {gate: None if it matched the oracle, else the reason}."""
    oc = oracle_module()
    os.makedirs(cache_dir, exist_ok=True)
    con = duck(inputs, os.path.join(out, "duck"))
    verdicts = {}
    for g in gates:
        got_dir = os.path.join(out, "check", g)
        if os.path.exists(os.path.join(got_dir, "ERROR")):
            verdicts[g] = "check pass: " + open(os.path.join(got_dir, "ERROR")).read()
            continue
        if not os.path.isdir(got_dir):
            verdicts[g] = "no output (gate failed)"
            continue
        sql = sqls.get(g, "")
        if not sql:
            verdicts[g] = "no oracle SQL"
            continue
        key = os.path.join(cache_dir, f"{g}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
        try:
            if os.path.exists(key):
                exp = json.load(open(key))
            else:
                exp = digest(oc, con, sql)
                with open(key, "w") as f:
                    json.dump(exp, f)
            if g == corrupt:
                corrupt_output(con, got_dir)
            got = digest(oc, con, f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
        except Exception as e:  # an oracle or read error is a failed check
            verdicts[g] = f"check error: {e}"
            continue
        diffs = [k for k in ("cols", "types", "rows", "digest") if got[k] != exp[k]]
        verdicts[g] = None if not diffs else "mismatch in " + ", ".join(
            f"{k} (got {got[k]!r:.80}, want {exp[k]!r:.80})" for k in diffs)
    con.close()
    return verdicts


def corrupt_output(con, got_dir):
    """Self-test hook: drops one row of a gate's written result."""
    files = sorted(f for f in os.listdir(got_dir) if f.endswith(".parquet"))
    src = os.path.join(got_dir, files[0])
    tmp = os.path.join(got_dir, "corrupt.tmp")
    con.sql(f"COPY (SELECT * FROM read_parquet('{src}') OFFSET 1) TO '{tmp}' (FORMAT parquet)")
    os.replace(tmp, src)


# ---------------------------------------------------------------- run

def java_cmd(args_kv, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the harness reads the CPU time of the JVM's own threads (JvmCpu)
    cmd += ["--add-opens", "java.management/sun.management=ALL-UNNAMED",
            "-XX:-UseDynamicNumberOfCompilerThreads"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.PerfBench"]
    return cmd + [f"{k}={v}" for k, v in args_kv.items()]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (steal shows host contention)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before, after):
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def gates_tag(workload, gates):
    """Names a gate list in record file names: default, family or a hash."""
    if gates == MEASURED[workload]:
        return "default"
    if gates == FAMILIES[workload]:
        return "family"
    return "g" + hashlib.sha256(",".join(gates).encode()).hexdigest()[:10]


def record_name(workload, seed, gates, trace):
    return f"{workload}_seed{seed}_{gates_tag(workload, gates)}_trace{trace}"


def record_path(workload, seed, gates, trace):
    return os.path.join(WORK, "records", record_name(workload, seed, gates, trace) + ".json")


def run(a):
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        fail("not a graft checkout, missing: " + ", ".join(missing))
    if a.workload not in MEASURED:
        fail(f"unknown workload {a.workload}; one of {', '.join(MEASURED)}")
    gates = (FAMILIES[a.workload] if a.gates == "family"
             else a.gates.split(",") if a.gates else MEASURED[a.workload])
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    src_hash = source_hash()
    build(src_hash)
    inputs = make_inputs(a.seed)
    nproc = len(os.sched_getaffinity(0))
    cores = nproc

    out = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    try:
        cmd = java_cmd({"inputs": inputs, "gates": ",".join(gates), "out": out,
                        "seconds": a.seconds, "trace": a.trace, "cores": cores}, tmp)
        cpu0 = cpu_times()
        # a run of the default lists ends within 180 s; whole families take longer
        limit = 170 if gates == MEASURED[a.workload] else 1800
        with open(os.path.join(out, "jvm.log"), "w") as jlog:
            r = subprocess.run(cmd, cwd=out, stdout=jlog, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=limit)
        steal = steal_share(cpu0, cpu_times())
        if r.returncode != 0:
            tail = open(os.path.join(out, "jvm.log")).read()[-3000:]
            fail(f"harness exited {r.returncode}:\n{tail}")
        res = json.load(open(os.path.join(out, "result.json")))
        if a.trace == 1:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(WORK, "spans", record_name(a.workload, a.seed, gates, 1) + ".jsonl"))
        sqls = json.load(open(os.path.join(out, "oracle_sql.json")))
        verdicts = check_outputs(gates, sqls, inputs, out,
                                 os.path.join(WORK, "oracle", input_name(a.seed)),
                                 a.corrupt)
    finally:
        if os.path.exists(os.path.join(out, "jvm.log")):
            shutil.copy(os.path.join(out, "jvm.log"), os.path.join(WORK, "last_jvm.log"))
        shutil.rmtree(out, ignore_errors=True)

    errors = {g["gate"]: g["error"] for g in res["gates"] if "error" in g}
    failed = {g: errors.get(g) or verdicts.get(g) for g in gates if errors.get(g) or verdicts.get(g)}
    e2e = dict(res["end_to_end"], failed_ratio=len(failed) / len(gates))
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "stamp": dict(res["stamp"], nproc=nproc, cores=cores, seed=a.seed,
                      fraction=None if a.seed == RESERVED_SEED else FRACTION,
                      workload=a.workload, gates=gates, commit=git_commit(),
                      source_sha256=src_hash, cpu_steal_share=steal),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "per_layer": res["per_layer"],
        "failed": failed,
        "samples": res["samples"],
        "passes": res["passes"], "gates": res["gates"],
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = record_path(a.workload, a.seed, gates, a.trace)
    if a.trace == 1:
        # tracing overhead: traced pass_s minus the untraced pass_s of the
        # same workload, seed and gates, when an untraced record is at hand
        base = record_path(a.workload, a.seed, gates, 0)
        if os.path.exists(base):
            b = json.load(open(base))
            if comparable(b["stamp"], record["stamp"]) is None:
                record["trace_overhead_s"] = (e2e["pass_s"]
                                              - b["end_to_end"]["pass_s"]["value"])
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)
    for g, why in failed.items():
        log(f"FAILED {g}: {why}")

    # the last line carries exactly the metrics BENCHMARK.json lists
    values = dict(e2e, **res["per_layer"])
    section = "per_layer" if a.trace == 1 else "end_to_end"
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[section]}
    print(json.dumps(record, separators=(",", ":")))
    print(json.dumps({"correct": not failed, "attempted": len(gates), "failed": len(failed),
                      "metrics": metrics}))


# ---------------------------------------------------------------- compare

def comparable(a, b):
    """None when two stamps may be compared, else the reason they may not."""
    for k in ("workload", "nproc", "cores", "seed", "fraction", "gates"):
        if a.get(k) != b.get(k):
            return f"{k} differs: {a.get(k)!r} vs {b.get(k)!r}"
    return None


def compare(pa, pb):
    a, b = json.load(open(pa)), json.load(open(pb))
    why = comparable(a["stamp"], b["stamp"])
    if why:
        print(f"refused: {why}", file=sys.stderr)
        sys.exit(3)
    for section in ("end_to_end", "per_layer"):
        for k, va in a[section].items():
            va = va["value"] if isinstance(va, dict) else va
            vb = b[section].get(k)
            vb = vb["value"] if isinstance(vb, dict) else vb
            ratio = f"{vb / va:.3f}" if va and vb is not None else "-"
            print(f"{section:10s} {k:28s} {va!s:>14.14} {vb!s:>14.14}  x{ratio}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare A.json B.json")
        return compare(sys.argv[2], sys.argv[3])
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs: a gate subset, and a gate whose written output is
    # corrupted before the check
    p.add_argument("--gates", default="", help=argparse.SUPPRESS)  # list, or "family"
    p.add_argument("--corrupt", default="", help=argparse.SUPPRESS)
    run(p.parse_args())


if __name__ == "__main__":
    main()
