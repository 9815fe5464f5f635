#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client against one Spark
session on half the host's cores, on one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program and the harness
from source (perfbench/build.sh, cached under .bench_build/), runs the
workload in one JVM (perfbench/src), checks the outputs against DuckDB
and prints, as its last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The full record
(host facts, every op, failures with their causes and, when traced,
per-op layer records and spans) goes to .bench_build/results/.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
from decimal import Decimal

WORKLOADS = ("fin_interactive", "queries_iterative")
BUILD_DIR = ".bench_build"
DATA_DIR = "perfbench/data/sf0.1"
SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
FIN_TABLES = ["financials", "trades", "language"]
JVM_TIMEOUT_S = 165
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# call types of a FinLogic session, in session order
FIN_CALLS = ["search_company", "rank", "company", "report", "custom_report",
             "indicators", "info", "search_segment"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def sources_hash():
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open("perfbench/build.sh", "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compiles once per source state; returns the class directory."""
    digest = sources_hash()
    classes = os.path.join(BUILD_DIR, "classes-" + digest[:16])
    if not os.path.isdir(classes):
        # class directories of earlier source states are stale
        for d in os.listdir(BUILD_DIR) if os.path.isdir(BUILD_DIR) else []:
            if d.startswith("classes-"):
                shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
        tmp = f"{classes}.tmp{os.getpid()}"
        r = subprocess.run(["bash", "perfbench/build.sh", jars, tmp],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        os.rename(tmp, classes)
    return classes, digest


def driver_mem_gb():
    """Half the host memory, within [2, 8] GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat;
    None where it cannot be read."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(classes, jars, args, trace, run_dir, mem_gb):
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # every file the JVM writes stays under run_dir
    cmd += [f"-Xmx{mem_gb}g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.abspath(run_dir)}/hadoop",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--data", os.path.abspath(DATA_DIR), "--out", os.path.abspath(run_dir)]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S}s; log in {run_dir}/jvm.log")
    if rc != 0 or not os.path.exists(f"{run_dir}/result.json"):
        with open(f"{run_dir}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM exited with {rc}")
    with open(f"{run_dir}/result.json") as fh:
        return json.load(fh)


# ---- output checks ---------------------------------------------------

def cell_key(v):
    """Total sort key over mixed cells (as scripts/check.py orders rows)."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, "1" if v else "0")
    if isinstance(v, (int, Decimal)):
        return (2, f"{Decimal(v).normalize():+040f}")
    if isinstance(v, float):
        return (2, f"{(v if v != 0.0 else 0.0):+.17e}" if v == v else "nan")
    if isinstance(v, (list, tuple)):
        return (3, str([cell_key(x) for x in v]))
    return (4, str(v))


def cells_equal(a, b):
    """Typed equality: the Python types must match, floats compare
    exactly with NaN == NaN, lists recurse."""
    if a is None or b is None:
        return a is None and b is None
    ta = "bool" if isinstance(a, bool) else type(a).__name__
    tb = "bool" if isinstance(b, bool) else type(b).__name__
    if ta != tb:
        return False
    if isinstance(a, float):
        return (a != a and b != b) or a == b
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal after sorting columns by name and rows by value,
    else the first difference."""
    go = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    eo = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
    if [got_cols[i] for i in go] != [exp_cols[i] for i in eo]:
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    g = sorted(([r[i] for i in go] for r in got_rows), key=lambda r: [cell_key(v) for v in r])
    e = sorted(([r[i] for i in eo] for r in exp_rows), key=lambda r: [cell_key(v) for v in r])
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)} rows"
    for n, (gr, er) in enumerate(zip(g, e)):
        for c, a, b in zip(sorted(got_cols), gr, er):
            if not cells_equal(a, b):
                return f"{c}[row {n}]: {a!r} != {b!r}"
    return None


def fetch(con, sql):
    cur = con.sql(sql)
    return list(cur.columns), cur.fetchall()


def oracle_answer(con, sql, inputs_digest):
    """The oracle's columns and rows, cached under .bench_build/oracle by
    the SQL and the input tables: the answer cannot change while they do
    not, and q178's oracle alone takes about 10 s in DuckDB."""
    key = hashlib.sha256((inputs_digest + sql).encode()).hexdigest()
    path = os.path.join(BUILD_DIR, "oracle", key[:32] + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    answer = fetch(con, sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(answer, fh)
    os.rename(tmp, path)
    return answer


def check_queries(con, res):
    """{query: cause} for every query whose answer differs from its
    oracle in DuckDB or that failed in set-up."""
    h = hashlib.sha256()
    for t in SF_TABLES:
        path = f"{res['data_dir']}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        with open(path, "rb") as fh:
            h.update(fh.read())
    inputs_digest = h.hexdigest()
    bad = {}
    for name in res["queries"]:
        out = os.path.join(res["results_dir"], name)
        sql = res["oracle_sql"].get(name)
        if name in res["setup_errors"]:
            bad[name] = "failed in set-up: " + res["setup_errors"][name]
            continue
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        try:
            gc, gr = fetch(con, f"SELECT * FROM read_parquet('{out}/*.parquet')")
            ec, er = oracle_answer(con, sql, inputs_digest)
        except Exception as e:  # noqa: BLE001 - any error is a named failure
            bad[name] = f"check error: {e}"
            continue
        diff = compare(gc, gr, ec, er)
        if diff:
            bad[name] = "answer differs from the DuckDB oracle: " + diff
    return bad


FIN_SQL = """
CREATE VIEW tr AS SELECT * FROM read_parquet('{d}/trades.parquet/*.parquet') WHERE volume >= 100000
  QUALIFY row_number() OVER (PARTITION BY cvm_id
    ORDER BY trade_date DESC, volume DESC, most_traded_stock DESC) = 1;
CREATE VIEW fin AS SELECT * FROM read_parquet('{d}/financials.parquet/*.parquet')
  WHERE cvm_id IN (SELECT cvm_id FROM tr);
"""

FIN_INFO_SQL = """
SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT cvm_id, is_annual, period_end FROM fin)),
  strftime(min(period_end), '%Y-%m-%d'), strftime(max(period_end), '%Y-%m-%d'),
  count(DISTINCT cvm_id) FROM fin
"""

FIN_SEARCH_SQL = """
SELECT name_id, cvm_id, tax_id, segment, is_restructuring, most_traded_stock
FROM (SELECT DISTINCT cvm_id, name_id, tax_id FROM fin) JOIN tr USING (cvm_id)
WHERE regexp_matches(name_id, ?)
"""

# each margin from the accounts of one filing, 0 when revenues are at
# most 1,000,000
FIN_MARGINS = {
    "gross_margin": "gross_profit", "ebitda_margin": "ebit + dep",
    "operating_margin": "ebit", "net_margin": "net_income",
}

FIN_RANK_SQL = """
WITH latest AS (
  SELECT cvm_id, name_id, period_end, is_consolidated FROM fin
  QUALIFY row_number() OVER (PARTITION BY cvm_id ORDER BY period_end DESC, is_consolidated DESC) = 1),
v AS (
  SELECT cvm_id, is_consolidated, period_end,
    coalesce(max(acc_value) FILTER (WHERE acc_code = '3.01'), 0) AS rev,
    coalesce(max(acc_value) FILTER (WHERE acc_code = '3.03'), 0) AS gross_profit,
    coalesce(max(acc_value) FILTER (WHERE acc_code = '3.05'), 0) AS ebit,
    coalesce(max(acc_value) FILTER (WHERE acc_code = '3.11'), 0) AS net_income,
    coalesce(max(acc_value) FILTER (WHERE acc_code = '6.01.01.04'), 0) AS dep
  FROM fin WHERE acc_code IN ('3.01', '3.03', '3.05', '3.11', '6.01.01.04') GROUP BY ALL),
r AS (
  SELECT l.name_id, t.most_traded_stock, l.cvm_id, t.is_restructuring, l.is_consolidated,
    t.segment, strftime(l.period_end, '%Y-%m-%d') AS period_end,
    CASE WHEN rev > 1000000 THEN ({margin}) / rev ELSE 0.0 END AS m
  FROM latest l JOIN tr t USING (cvm_id) JOIN v USING (cvm_id, is_consolidated, period_end)
  WHERE l.is_consolidated AND regexp_matches(t.segment, ?))
SELECT * FROM r ORDER BY m DESC, cvm_id LIMIT 10
"""


def check_fin(con, res):
    """{call: cause} for each FinLogic answer that differs from
    independent SQL over the same Parquet."""
    con.execute(FIN_SQL.format(d=res["fin_dir"]))
    bad = {name: "failed in set-up: " + cause for name, cause in res["setup_errors"].items()}
    exp_info = [str(x) for x in con.sql(FIN_INFO_SQL).fetchone()]
    keys = ["accounting_entries", "number_of_reports", "first_report", "last_report",
            "number_of_companies"]
    cols = ["name_id", "cvm_id", "tax_id", "segment", "is_restructuring", "most_traded_stock"]
    for s in res["fin_sessions"]:
        info = dict(s["info"])
        if [info.get(k) for k in keys] != exp_info:
            bad["info"] = f"{[info.get(k) for k in keys]} != {exp_info} ({keys})"
        diff = compare(cols, s["search"], cols, con.execute(FIN_SEARCH_SQL, [s["term"]]).fetchall())
        if diff:
            bad[f"searchCompany({s['term']})"] = diff
        sql = FIN_RANK_SQL.format(margin=FIN_MARGINS[s["rank_by"]])
        er = con.execute(sql, [s["segment"]]).fetchall()
        call = f"rank({s['segment']}, {s['rank_by']})"
        if len(s["rank"]) != len(er):
            bad[call] = f"{len(s['rank'])} rows != {len(er)} rows"
        for n, (g, e) in enumerate(zip(s["rank"], er)):
            if g[:7] != list(e[:7]) or abs(g[7] - e[7]) > 1e-12 * max(1.0, abs(e[7])):
                bad[call] = f"row {n}: {g} != {list(e)}"
                break
    return bad


def table_facts(con, d, names):
    out = {}
    for t in names:
        p = os.path.join(d, f"{t}.parquet")
        files = [os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")] \
            if os.path.isdir(p) else [p]
        rows = con.sql(f"SELECT count(*) FROM read_parquet('{p}{'/*.parquet' if os.path.isdir(p) else ''}')").fetchone()[0]
        out[t] = {"rows": rows, "bytes": sum(os.path.getsize(f) for f in files)}
    return out


# ---- metrics ---------------------------------------------------------

def tail(lat):
    """The highest percentile with min(10, n // 10) of the n samples
    beyond it: at least the 90th, and ten samples beyond it from 110
    samples on; the largest latency below 10 samples."""
    s = sorted(lat)
    n = len(s)
    beyond = min(10, n // 10)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, beyond


def end_to_end(res, is_failed):
    """From the untraced ops: all of an untraced run's, half of a
    traced run's."""
    ops = [o for o in res["ops"] if not o["traced"]]
    lat = [o["s"] for o in ops if not is_failed(o)]
    value, pct, beyond = tail(lat) if lat else (float("nan"), 0.0, 0)
    failed = sum(1 for o in ops if is_failed(o))
    m = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
        "op_tail_s": (value, "s"),
        "ops_per_min": (len(lat) * 60.0 / res["timed_s"], "1/min"),
        "fail_ratio": (failed / len(ops), "ratio"),
        "heap_peak_mb": (res["heap_end_mb"], "MiB"),
    }
    notes = {"op_tail_s": f"p{pct:.1f} of {len(lat)} ops, {beyond} beyond it"}
    return m, notes


def op_records(res):
    """Per traced op: the build / plan / busy / no-job split and its
    counters, from the op's spans and the listeners."""
    spans = {}
    for s in res["spans"]:
        spans.setdefault(s["op"], []).append(s)
    recs = []
    for o in res["ops"]:
        if not o["traced"]:
            continue
        ss = spans.get(o["id"], [])
        ms = lambda name: sum((s["end_ns"] - s["start_ns"]) / 1e6 for s in ss if s["name"] == name)
        c = o["counts"]
        rec = {
            "name": o["name"], "error": o["error"], "latency_ms": o["s"] * 1e3 if o["s"] else None,
            "build_ms": ms("build"), "exec_ms": ms("exec"), "release_ms": ms("release"),
            "plan_ms": c["analysisMs"] + c["optimizeMs"] + c["planMs"],
            "busy_ms": c["busyMs"], "no_job_ms": max(0.0, ms("op") - c["busyMs"]),
            "calls_ms": {k: ms(k) for k in FIN_CALLS if any(s["name"] == k for s in ss)},
        }
        rec.update({k: v for k, v in c.items() if k != "busyMs"})
        recs.append(rec)
    return recs


def cache_mb(res):
    """`FinData.info`'s memory_usage_mb from the first session."""
    for s in res.get("fin_sessions", [])[:1]:
        return float(dict(s["info"])["memory_usage_mb"])
    return 0.0


def per_layer(res, recs):
    """The per-layer metrics of a traced run: means per op unless the
    name says otherwise."""
    cores = res["cores"]
    mean = lambda k: statistics.fmean(r[k] for r in recs) if recs else 0.0
    busy = sum(r["busy_ms"] for r in recs)
    fin = res.get("fin_setup", {})
    calls = {k: [r["calls_ms"][k] for r in recs if k in r["calls_ms"]] for k in FIN_CALLS}
    m = {
        "finlogic.load_s": (fin.get("load_s", 0.0), "s"),
        "finlogic.indicators_s": (fin.get("indicators_s", 0.0), "s"),
        **{f"finlogic.{k}_ms": (statistics.median(v) if v else 0.0, "ms") for k, v in calls.items()},
        "finlogic.jobs_per_session": (mean("jobs") if fin else 0.0, "count"),
        "finlogic.cache_mb": (cache_mb(res), "MiB"),
        "queries.build_ms": (mean("build_ms"), "ms"),
        "queries.build_jobs": (mean("buildJobs"), "count"),
        "queries.exec_ms": (mean("exec_ms"), "ms"),
        "ops.release_ms": (mean("release_ms"), "ms"),
        "catalyst.analysis_ms": (mean("analysisMs"), "ms"),
        "catalyst.optimize_ms": (mean("optimizeMs"), "ms"),
        "catalyst.plan_ms": (mean("planMs"), "ms"),
        "scheduler.jobs": (mean("jobs"), "count"),
        "scheduler.stages": (mean("stages"), "count"),
        "scheduler.tasks": (mean("tasks"), "count"),
        "scheduler.busy_ms": (mean("busy_ms"), "ms"),
        "scheduler.no_job_ms": (mean("no_job_ms"), "ms"),
        "executor.run_ms": (mean("runMs"), "ms"),
        "executor.cpu_ms": (mean("cpuNs") / 1e6, "ms"),
        "executor.core_util": (sum(r["runMs"] for r in recs) / (busy * cores) if busy else 0.0, "ratio"),
        "executor.gc_ms": (mean("gcMs"), "ms"),
        "executor.shuffle_write_bytes": (mean("shuffleWrite"), "bytes"),
        "executor.shuffle_read_bytes": (mean("shuffleRead"), "bytes"),
        "executor.spill_bytes": (mean("spill"), "bytes"),
        "executor.input_bytes": (mean("input"), "bytes"),
        "executor.output_bytes": (mean("output"), "bytes"),
        "storage.cache_peak_mb": (max((r["cachePeakBytes"] for r in recs), default=0.0) / 1048576.0, "MiB"),
        "storage.blocks_written": (mean("blocksWritten"), "count"),
    }
    # this run's traced ops against its untraced ones
    lat = lambda traced: [o["s"] for o in res["ops"] if o["traced"] == traced and not o["error"]]
    t, u = lat(True), lat(False)
    m["trace.overhead_pct"] = ((statistics.median(t) / statistics.median(u) - 1.0) * 100.0
                               if t and u else float("nan"), "%")
    return m


def measure(args, trace, build_out):
    """One JVM run of the workload, its output check and its record;
    returns the record."""
    classes, digest, jars = build_out
    run_dir = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    mem_gb = driver_mem_gb()
    ticks = cpu_ticks()
    res = run_jvm(classes, jars, args, trace, run_dir, mem_gb)
    ticks_end = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran
    steal_pct = (100.0 * (ticks_end[0] - ticks[0]) / (ticks_end[1] - ticks[1])
                 if ticks and ticks_end and ticks_end[1] > ticks[1] else None)

    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{run_dir}/duckdb'")
    if args.workload == "fin_interactive":
        bad = check_fin(con, res)
        inputs = table_facts(con, res["fin_dir"], FIN_TABLES)
        # a wrong FinLogic answer makes every session that used it wrong
        is_failed = lambda o: bool(o["error"]) or bool(bad)
    else:
        bad = check_queries(con, res)
        inputs = table_facts(con, res["data_dir"], SF_TABLES)
        is_failed = lambda o: bool(o["error"]) or o["name"] in bad
    con.close()

    e2e, notes = end_to_end(res, is_failed)
    failures = [{"op": o["name"], "cause": o["error"] or bad.get(o["name"]) or "wrong output"}
                for o in res["ops"] if is_failed(o)]
    try:
        # a checkout that is not a repository of its own has no sha
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, env=env).stdout.strip() or None
    except OSError:
        sha = None
    facts = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": trace,
        "nproc": res["nproc"], "cpu_steal_pct": steal_pct, "spark_cores": res["cores"], "driver_mem": f"{mem_gb}g",
        "max_heap_mb": res["max_heap_mb"], "git_sha": sha, "sources_sha256": digest,
        "spark_conf": {k: v for k, v in res["spark_conf"].items()
                       if not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port",
                                            "spark.executor.id", "spark.local.dir", "spark.sql.warehouse"))},
        "inputs": inputs, "ops_order": res.get("queries"),
    }
    out = {
        "facts": facts, "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "notes": notes, "check_failures": bad, "failures": failures,
        "setup_steps_s": res.get("fin_setup"),
        "ops": res["ops"], "spans": res["spans"], "attempted": len(res["ops"]),
    }
    if trace:
        out["op_records"] = op_records(res)
        out["per_layer"] = {k: {"value": v, "unit": u}
                            for k, (v, u) in per_layer(res, out["op_records"]).items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


def record_path(args, trace):
    return os.path.join(BUILD_DIR, "results", f"{args.workload}-seed{args.seed}-trace{trace}.json")


def save(args, trace, out):
    os.makedirs(os.path.join(BUILD_DIR, "results"), exist_ok=True)
    with open(record_path(args, trace), "w") as fh:
        json.dump(out, fh, indent=1, default=str)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir("src/main/scala/graft"):
        fail("run from the repository root: no program sources under src/main/scala")
    if not os.path.isfile(f"{DATA_DIR}/lineitem.parquet"):
        fail(f"no input tables under {DATA_DIR}")
    jars = spark_jars()
    classes, digest = build(jars)
    build_out = (classes, digest, jars)

    out = measure(args, args.trace, build_out)
    metrics = out["per_layer"] if args.trace else \
        {k: v for k, v in out["end_to_end"].items() if k != "fail_ratio"}
    save(args, args.trace, out)

    f = out["facts"]
    print("perfbench " + json.dumps({k: f[k] for k in (
        "workload", "seed", "nproc", "cpu_steal_pct", "driver_mem", "git_sha", "inputs")}))
    for k, v in out["end_to_end"].items():
        print(f"  {k:<14} {v['value']:12.4f} {v['unit']}" +
              (f"  ({out['notes'][k]})" if k in out["notes"] else ""))
    for fl in out["failures"]:
        print(f"  FAILED {fl['op']}: {fl['cause']}")
    for k, cause in out["check_failures"].items():
        print(f"  CHECK FAILED {k}: {cause}")
    print(f"  record: {record_path(args, args.trace)}")
    print(json.dumps({
        "correct": not out["check_failures"] and not out["failures"],
        "attempted": out["attempted"], "failed": len(out["failures"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
