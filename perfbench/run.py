#!/usr/bin/env python3
"""Benchmark of the graft graph-ETL engine: the paper's stage -> map -> load ->
GraphX pipeline, and a fixed slice of the query registry.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_remap --seed 1 --seconds 15 --trace 0

The first run builds the program and the benchmark from source with sbt.
Each run generates its inputs from the seed (cached per seed), runs one JVM
(``graft.bench.Main``), checks every output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. A
record of the run (seed, slice, input counts and bytes, every timing, and in
traced runs the spans and the tracing overhead) is written under
``perfbench/.work/results/``. See perfbench/README.md.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")

WORKLOADS = ("etl_pk", "etl_remap", "query_slice")
QUERY_SF = 0.01   # the query tables: the project's correctness scale
ETL_SF = 0.02     # the ETL sources: Order 30k, CONTAINS and SUPPLIED_BY 120k rows
JVM_TIMEOUT_S = 165
STAGING_ROOT = "/tmp"  # fixed in SparkEntry's staged-input helpers
NODE_FILES = {"Customer": ("customer", "c_custkey"), "Supplier": ("supplier", "s_suppkey"),
              "Part": ("part", "p_partkey"), "Order": ("orders", "o_orderkey"),
              "Nation": ("nation", "n_nationkey")}
EDGE_FILES = {
    "etl_pk": {"PLACED_BY": "placed_by", "CONTAINS": "contains", "SUPPLIED_BY": "supplied_by"},
    "etl_remap": {"PLACED_BY": "placed_by_name", "CONTAINS": "contains_legacy",
                  "SUPPLIED_BY": "supplied_by_name"},
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in ("build.sbt", "project/build.properties", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        with open(os.path.join(ROOT, p), "rb") as fh:
            h.update(p.encode() + fh.read())
    return h.hexdigest()


def classpath():
    """Compile the program and the benchmark (once per source state) and
    return the runtime classpath."""
    stamp_dir = os.path.join(WORK, "build")
    digest = source_digest()
    cp_file = os.path.join(stamp_dir, f"classpath-{digest[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    shutil.rmtree(stamp_dir, ignore_errors=True)
    os.makedirs(stamp_dir)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- inputs

def inputs(seed):
    """Generated inputs for `seed`, cached; the four newest seeds are kept."""
    root = os.path.join(WORK, "data")
    with open(os.path.join(BENCH, "gen_data.py"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(root, f"seed-{seed}-{gen}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), "--seed", str(seed),
                        "--query-sf", str(QUERY_SF), "--etl-sf", str(ETL_SF), "--out", d],
                       check=True)
        open(os.path.join(d, "done"), "w").close()
    else:
        os.utime(d)
    cached = sorted((os.path.join(root, x) for x in os.listdir(root)), key=os.path.getmtime)
    for old in cached[:-4]:
        shutil.rmtree(old, ignore_errors=True)
    return d


def parquet_rows(con, path):
    return con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]


def etl_expectations(con, data, workload):
    """Input sizes and the counts every pipeline run must reproduce, from
    DuckDB over the source files."""
    etl = os.path.join(data, "etl")
    src = lambda f: f"read_parquet('{etl}/{f}.parquet')"
    rows_in, bytes_in, nodes = {}, {}, {}
    for label, (f, key) in NODE_FILES.items():
        rows_in[label] = parquet_rows(con, f"{etl}/{f}.parquet")
        bytes_in[label] = os.path.getsize(f"{etl}/{f}.parquet")
        nodes[label] = con.execute(
            f"SELECT count(DISTINCT {key}) FROM {src(f)} WHERE {key} IS NOT NULL").fetchone()[0]
    for t, f in EDGE_FILES[workload].items():
        rows_in[t] = parquet_rows(con, f"{etl}/{f}.parquet")
        bytes_in[t] = os.path.getsize(f"{etl}/{f}.parquet")
    if workload == "etl_remap":
        bytes_in["order_id_map"] = os.path.getsize(f"{etl}/order_id_map.parquet")

    def keys(label):
        f, key = NODE_FILES[label]
        return f"(SELECT DISTINCT {key} AS k FROM {src(f)} WHERE {key} IS NOT NULL)"

    def distinct_pairs(pairs):
        return f"SELECT count(*) FROM (SELECT DISTINCT s, e FROM ({pairs}) WHERE s IS NOT NULL AND e IS NOT NULL)"

    def by_key(f, sl, el):
        return distinct_pairs(
            f"SELECT x.start AS s, x.\"end\" AS e FROM {src(f)} x "
            f"SEMI JOIN {keys(sl)} a ON x.start = a.k SEMI JOIN {keys(el)} b ON x.\"end\" = b.k")

    pk = {"PLACED_BY": by_key("placed_by", "Order", "Customer"),
          "CONTAINS": by_key("contains", "Order", "Part"),
          "SUPPLIED_BY": by_key("supplied_by", "Part", "Supplier")}
    edges = {t: con.execute(q).fetchone()[0] for t, q in pk.items()}
    if workload == "etl_remap":
        # the same counts, resolved independently from the remap inputs
        name = lambda f, key, col: (f"(SELECT DISTINCT {col} AS n, {key} AS k FROM {src(f)} "
                                    f"WHERE {key} IS NOT NULL)")
        remap = {
            "PLACED_BY": distinct_pairs(
                f"SELECT x.start AS s, c.k AS e FROM {src('placed_by_name')} x "
                f"JOIN {name('customer', 'c_custkey', 'c_name')} c ON x.\"end\" = c.n "
                f"SEMI JOIN {keys('Order')} o ON x.start = o.k"),
            "CONTAINS": distinct_pairs(
                f"SELECT m.new_value AS s, x.\"end\" AS e FROM {src('contains_legacy')} x "
                f"JOIN {src('order_id_map')} m ON x.start = m.old_value "
                f"SEMI JOIN {keys('Order')} o ON m.new_value = o.k "
                f"SEMI JOIN {keys('Part')} p ON x.\"end\" = p.k"),
            "SUPPLIED_BY": distinct_pairs(
                f"SELECT x.start AS s, c.k AS e FROM {src('supplied_by_name')} x "
                f"JOIN {name('supplier', 's_suppkey', 's_name')} c ON x.\"end\" = c.n "
                f"SEMI JOIN {keys('Part')} p ON x.start = p.k"),
        }
        remapped = {t: con.execute(q).fetchone()[0] for t, q in remap.items()}
        if remapped != edges:
            fail(f"generated remap inputs disagree with the pk inputs: {remapped} vs {edges}")
    return {"rows_in": rows_in, "bytes_in": bytes_in, "nodes": nodes, "edges": edges}


# ---------------------------------------------------------------- checks

def canon(v):
    """A value's engine-independent text: numbers by value, containers
    element-wise, timestamps in ISO form."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (bool, int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        if hasattr(v, "tolist") and not isinstance(v, (int, float)):
            v = v.tolist()
            if isinstance(v, list):
                return "[" + ",".join(canon(x) for x in v) + "]"
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return str(int(f)) if f.is_integer() and abs(f) < 2 ** 53 else repr(f)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def result_digest(con, sql):
    """(row count, order-independent hash) of a result, columns by name."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = sorted("\x1f".join(canon(r[i]) for i in range(len(cols)))
                  for r in rel.select(*[f'"{c}"' for c in cols]).fetchall())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode() + b"\x1e")
    return len(rows), h.hexdigest()


def check_slice(con, data, record, results_dir):
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/tables/{t}.parquet')")
    bad = {}
    for name in record["slice"]:
        sql = record["oracle_sql"].get(name)
        try:
            got = result_digest(con, f"SELECT * FROM read_parquet('{results_dir}/{name}/*.parquet')")
            if sql is None:
                ok = got[0] > 0
            else:
                ok = got == result_digest(con, sql)
        except Exception as e:  # a missing result or a failing oracle both fail the query
            log(f"{name}: {e}")
            ok = False
        if not ok:
            bad[name] = "result differs from the DuckDB oracle"
    return bad


def check_etl(run, exp):
    problems = []
    if run["catalog_nodes"] != exp["nodes"]:
        problems.append(f"catalog nodes {run['catalog_nodes']} != {exp['nodes']}")
    if run["loaded_nodes"] != exp["nodes"]:
        problems.append(f"loaded nodes {run['loaded_nodes']} != {exp['nodes']}")
    if run["loaded_edges"] != exp["edges"]:
        problems.append(f"loaded edges {run['loaded_edges']} != {exp['edges']}")
    if run["vertices"] != sum(run["loaded_nodes"].values()):
        problems.append(f"GraphX vertices {run['vertices']} != loaded nodes")
    if run["graph_edges"] != sum(run["loaded_edges"].values()):
        problems.append(f"GraphX edges {run['graph_edges']} != loaded edges")
    return problems


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(math.ceil(q * len(s))) - 1)] if s else float("nan")


def timing_metrics(record, traced):
    """Each operation's fastest repetition, as graft.Bench takes the faster of
    its two passes: the median over operations, and their sum (one pass)."""
    reps = {}
    for o in record["ops"]:
        if o["traced"] == traced and o["s"] is not None:
            reps.setdefault(o["name"], []).append(o["s"])
    best = [min(xs) for xs in reps.values()]
    return {"op_p50_s": median(best), "pass_s": sum(best) if best else float("nan"),
            "op_p90_s": percentile(best, 0.9), "ops": len(best),
            "passes": sum(1 for p in record["passes"] if p["traced"] == traced)}


def noise_suspects(record):
    """Names whose untraced repetitions differ by more than 25%."""
    reps = {}
    if record["workload"] == "query_slice":
        for o in record["ops"]:
            if not o["traced"] and o["s"]:
                reps.setdefault(o["name"], []).append(o["s"])
    else:
        reps["pipeline"] = [p["wall_s"] for p in record["passes"] if not p["traced"] and p["ok"]]
    return sorted(n for n, xs in reps.items() if len(xs) > 1 and max(xs) > 1.25 * min(xs))


def staged_entries():
    """What the program has staged under its fixed staging directory."""
    return {os.path.join(STAGING_ROOT, x) for x in os.listdir(STAGING_ROOT) if x.startswith("graft_")}


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; expected one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources next to the benchmark ({ROOT}); run from a checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    load_start = loadavg()
    cp = classpath()
    data = inputs(a.seed)
    con = duckdb.connect()
    is_etl = a.workload != "query_slice"
    exp = etl_expectations(con, data, a.workload) if is_etl else None
    if not is_etl:
        exp_tables = {t: os.path.getsize(f"{data}/tables/{t}.parquet") for t in TABLES}

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    cpus = len(os.sched_getaffinity(0))
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    cmd = (["java", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.bench.Main", "--workload", a.workload, "--data", data,
              "--work", run_dir, "--out", out, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cpus", str(cpus)])
    t0 = time.time()
    staged_before = staged_entries()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # every run stages from scratch and leaves nothing behind
    for p in staged_entries() - staged_before:
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"the benchmark JVM failed (exit {proc.returncode})")
    jvm_s = time.time() - t0
    with open(out) as fh:
        record = json.load(fh)

    # correctness: every pipeline run, every slice result
    failures = list(record["errors"])
    attempted = len(record["ops"]) if not is_etl else len(record["passes"])
    failed = sum(1 for p in record["passes"] if not p["ok"]) if is_etl else \
        sum(1 for o in record["ops"] if o["s"] is None)
    if is_etl:
        for run in record["etl_runs"]:
            problems = check_etl(run, exp)
            if problems:
                failed += 1
                failures += [f"run {run['rep']}: {p}" for p in problems]
        source_bytes = sum(exp["bytes_in"].values())
        staged = median([r["staged_bytes"] for r in record["etl_runs"]])
        written = median([r["written_bytes"] for r in record["etl_runs"]])
    else:
        bad = check_slice(con, data, record, os.path.join(run_dir, "results"))
        failures += [f"{n}: {why}" for n, why in bad.items()]
        failed += sum(1 for o in record["ops"] if o["name"] in bad and o["s"] is not None)
        source_bytes = sum(exp_tables.values())
        staged, written = record["staged_bytes"], record["written_bytes"]
    failed = min(failed, attempted)

    untraced = timing_metrics(record, False)
    e2e = {
        "setup_s": record["setup"]["total_s"],
        "pass_s": untraced["pass_s"],
        "staged_bytes_per_input_byte": staged / source_bytes,
        "written_bytes_per_input_byte": written / source_bytes,
        "heap_after_gc_mb": record["heap_after_gc_mb"],
    }
    layers = dict(record["layers"])
    layers["stage.rows_in"] = float(sum(exp["rows_in"].values())) if is_etl else 0.0
    overhead = None
    if a.trace:
        traced = timing_metrics(record, True)
        overhead = {k: traced[k] - untraced[k] for k in ("op_p50_s", "pass_s")}
        overhead.update({k: 0.0 for k in e2e if k not in overhead})  # not traced

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]
    values = layers if a.trace else e2e
    missing = [n for n in names if n not in values or values[n] is None or
               (isinstance(values[n], float) and math.isnan(values[n]))]
    if missing:
        fail(f"no value for {missing}")
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}

    # the reproducibility record, outside the measured region
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "jvm_wall_s": jvm_s, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "jvm_loadavg": [record["loadavg_start"], record["loadavg_end"]],
        "noise_suspect": noise_suspects(record), "failures": failures,
        "slice": record["slice"], "source_bytes": source_bytes,
        "etl_inputs": exp, "table_bytes": None if is_etl else exp_tables,
        "end_to_end": e2e, "untraced_timings": untraced,
        "derived": ({"etl_rows_per_s": sum(exp["rows_in"].values()) / e2e["pass_s"],
                     "call_p50_s": untraced["op_p50_s"], "calls": untraced["ops"]} if is_etl else
                    {"query_total_s": e2e["pass_s"], "query_p50_s": untraced["op_p50_s"],
                     "query_p90_s": untraced["op_p90_s"], "queries": untraced["ops"]}),
        "per_layer": layers, "tracing_overhead": overhead,
        "setup": record["setup"], "passes": record["passes"], "ops": record["ops"],
        "etl_runs": record["etl_runs"], "spans": record["spans"],
    }
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(report, fh, indent=1)
    for f in failures:
        log(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": not failures and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
