#!/usr/bin/env python3
"""Benchmark of the CSV->DB pipeline engine: one workload, one run.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload etl_runner --seed 1 --seconds 8 --trace 0

Builds the program from `src/main/scala` and the harness from
`perfbench/src` with the Scala compiler that ships in Spark's jars
(output under $CARGO_TARGET_DIR, default `.bench_build`, reused while the
sources are unchanged), then runs the workload in one JVM with Spark at
local[nproc] and checks every output. Prints provenance and every metric
by name with its unit, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
Workloads, metrics and sizing are described in perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_runner", "queries_floor", "etl_load")
# The sf0.1 tables of TESTDATA.md, under the home directory.
DATA_DIR = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
HEAP = "4g"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
LIMIT_S = 175      # a run must end within 180 s
BUILD_LIMIT_S = 880


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        die("no program sources under src/main/scala; run from the repository root")
    res = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return main, res, bench


def scalac(jars, dest, classpath, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    os.makedirs(dest)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
                    "scala.tools.nsc.Main", "-nowarn", "-d", dest,
                    "-classpath", classpath, "@" + argfile], check=True)


def build(jars):
    """Compiles program and harness unless this exact source set is built."""
    main, res, bench = sources()
    h = hashlib.sha256()
    for p in main + res + bench:
        h.update(os.path.relpath(p).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                       "perfbench-" + digest[:16])
    built = not os.path.exists(os.path.join(out, "ok"))
    if built:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        t0 = time.time()
        spark_cp = os.path.join(jars, "*")
        scalac(jars, os.path.join(out, "main"), spark_cp, main)
        for p in res:
            dst = os.path.join(out, "main", os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(p, dst)
        scalac(jars, os.path.join(out, "bench"),
               os.path.join(out, "main") + ":" + spark_cp, bench)
        open(os.path.join(out, "ok"), "w").close()
        print(f"built {len(main)} program and {len(bench)} harness sources "
              f"in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, digest, built


# ------------------------------------------------------------------ run

def run_jvm(args, jars, build_dir, run_dir, nproc, deadline):
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    # A fixed heap: a heap that grows as G1 decides moved pass times by
    # 20-30% from run to run.
    # -XX:-UsePerfData: the JVM would otherwise write its counters under /tmp.
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dperfbench.runDir={run_dir}",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            "-cp", ":".join([os.path.join(build_dir, "main"),
                             os.path.join(build_dir, "bench"),
                             os.path.join(jars, "*")]),
            "perfbench.Harness", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(nproc), args.data, run_dir]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            proc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc = None
    result = os.path.join(run_dir, "result.json")
    if proc is None or proc.returncode != 0 or not os.path.exists(result):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die("the benchmark JVM " + ("timed out" if proc is None
                                    else f"exited with code {proc.returncode}"))
    with open(result) as f:
        return json.load(f)


# ------------------------------------------------------------------ checks

def duck(data):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def oracle_rows(con, sql, data, cache_dir):
    """rows_of for an oracle query, kept under `cache_dir` keyed by the SQL
    and the tables' sizes and times: the oracle's answer cannot change
    while neither does, and the pipeline queries' oracles take 1-2 s each."""
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = os.stat(os.path.join(data, f"{t}.parquet"))
        h.update(f"{t}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pickle")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    result = rows_of(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def rows_of(con, sql):
    """The result with its columns sorted by name and its rows sorted, so
    that two results compare as tools/check.py compares them. DuckDB sorts;
    tools/check.py sorts in Python by each value's text, which takes
    seconds on the 95,000-row results."""
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    return cols, rel.project(quoted).order(quoted).fetchall()


def compare(con, spark_dir, oracle_sql, data, cache_dir):
    """The compare of tools/check.py: same column names, same row count,
    rows equal exactly. Returns (rows, problem or None)."""
    s_cols, s_rows = rows_of(con, f"SELECT * FROM '{spark_dir}/*.parquet'")
    if oracle_sql is None:
        return len(s_rows), "no oracle SQL"
    d_cols, d_rows = oracle_rows(con, oracle_sql, data, cache_dir)
    if s_cols != d_cols:
        return len(s_rows), f"columns spark={s_cols} oracle={d_cols}"
    if len(s_rows) != len(d_rows):
        return len(s_rows), f"row count spark={len(s_rows)} oracle={len(d_rows)}"
    if s_rows != d_rows:
        return len(s_rows), "values differ"
    return len(s_rows), None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Checks:
    def __init__(self):
        self.problems = []
        self.attempted = 0
        self.failed = 0

    def op(self, name, problem):
        """One timed operation: counted, and failed if it has a problem."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.problems.append(f"{name}: {problem}")

    def output(self, name, problem):
        """An output check outside the timed operations."""
        if problem:
            self.problems.append(f"{name}: {problem}")


# ------------------------------------------------------------------ etl

def etl_metrics(r, data, checks, nproc):
    """etl_runner: one op is one Runner.run call ("run"). etl_load: one op
    is a load into a new database plus a re-run into it."""
    con = duck(data)
    n_in, n_clean, n_rej = con.sql(
        r["oracle_sql"]["pipeline_summary"]).fetchone()[:3]
    expect = {"run": (n_clean, n_rej), "load": (n_clean, n_rej),
              "reload": (n_clean, 2 * n_rej)}

    def problem(rec):
        if "error" in rec:
            return rec["error"]
        if rec["exit_code"] != 0:
            return f"exit code {rec['exit_code']}"
        got = (rec["clean_rows"], rec["rejected_rows"])
        if got != expect[rec["step"]]:
            return f"output rows {got}, expected {expect[rec['step']]}"
        summary = (rec.get("summary_input"), rec.get("summary_clean"),
                   rec.get("summary_rejected"))
        if summary != (n_in, n_clean, n_rej):
            return f"Runner summary counts {summary}, expected {(n_in, n_clean, n_rej)}"
        return None

    if r["hung"]:
        checks.output(r["workload"], "a pipeline call hung; the run made no further calls")
    for rec in (x for o in r["ops"] for x in o):
        checks.op(f"timed {rec['step']}", problem(rec))
    warm_problems = [(rec, problem(rec)) for rec in r["warmup"]]
    for rec, p in warm_problems:
        if p:
            print(f"note: warm-up {rec['step']} failed: {p}")

    def good(xs):
        """The ones that succeeded; all of them when none did (the run is
        then not correct, but still says how long its calls took)."""
        return [x for x in xs if not any(problem(c) for c in x)] or xs

    def wall(o):
        return sum(x["wall_s"] for x in o)
    firsts = good([o[:1] for o in r["ops"]])
    ops = good(r["ops"])
    m = {
        "setup_s": r["session_s"] + r["warm_s"],
        "pass_s": median([wall(o) for o in ops]),
        "op_p50_s": median([wall(o) for o in firsts]),
        "cpu_s": median([sum(x["cpu_s"] for x in o) for o in ops]),
        "peak_rss_mb": r["peak_rss_mb"],
        "rows_per_s": n_in / median([wall(o) for o in firsts]),
        "samples": len(firsts),
        "timed_op_s": [[round(x["wall_s"], 3) for x in o] for o in r["ops"]],
        "warm_op_s": [round(x["wall_s"], 3) for x in r["warmup"]],
    }
    if r["workload"] == "etl_load":
        m["load_s"] = m["op_p50_s"]
        m["reload_s"] = median([wall(o) for o in good([o[1:] for o in r["ops"] if len(o) == 2])])
        m["etl.warmup_failed"] = sum(1 for _, p in warm_problems if p)
    if "traced" not in r:
        return m
    t = r["traced"]
    sp = t["spans"]
    for rec in t["steps"]:
        checks.op(f"traced {rec['step']}", problem(rec))

    def g(stage, key):
        """Summed over the traced op's calls (spans are <step>.<stage>)."""
        return sum(v.get(key, 0) for k, v in sp.items() if k.split(".")[-1] == stage)

    stages = ("ingest", "validate_structure", "transform", "validate_rows")
    m.update({
        "etl.ingest.ms": g("ingest", "ms"), "etl.ingest.jobs": g("ingest", "jobs"),
        "etl.validate_structure.ms": g("validate_structure", "ms"),
        "etl.validate_structure.jobs": g("validate_structure", "jobs"),
        "etl.validate_structure.shuffle_write_bytes":
            g("validate_structure", "shuffle_write_bytes"),
        "etl.transform.ms": g("transform", "ms"),
        "etl.validate_rows.ms": g("validate_rows", "ms"),
        "etl.validate_rows.jobs": g("validate_rows", "jobs"),
        "etl.validate_rows.task_ms": g("validate_rows", "task_ms"),
        "etl.jobs": sum(g(s, "jobs") for s in stages),
    })
    if r["workload"] == "etl_runner":
        # Runner's load stage runs the sink: here both outputs drained.
        m.update({"etl.outputs.ms": g("load", "ms"), "etl.outputs.jobs": g("load", "jobs"),
                  "etl.outputs.task_ms": g("load", "task_ms")})
    else:
        m.update(sink_metrics(sp, {s["step"]: s for s in t["steps"]}))
    wall_ms = sum(s["wall_s"] for s in t["steps"]) * 1000
    m.update(ops_totals(sp.values(), sum(v["job_ms"] for v in sp.values()), nproc))
    m["trace_overhead_s"] = wall_ms / 1000 - m["pass_s"]
    m["unattributed_jobs"] = sp.get("unattributed", {}).get("jobs", 0)
    m["reconcile"] = sum(v["ms"] for v in sp.values()) / wall_ms
    return m


def sink_metrics(sp, steps):
    """etl_load: Main's sink runs the upsert, then the dead-letter append,
    as the first and second job of each call's load stage."""
    def job(step, i):
        jobs = sp.get(f"{step}.load", {}).get("job_list", [])
        return jobs[i] if i < len(jobs) else {"ms": 0, "tasks": 0, "task_ms": 0}
    m = {
        "sinks.ensure_table.ms": sum(sp.get(f"{s}.bootstrap", {}).get("ms", 0) for s in steps),
        "sinks.load.jobs": sum(sp.get(f"{s}.load", {}).get("jobs", 0) for s in steps),
        "sinks.append.ms": sum(job(s, 1)["ms"] for s in steps),
        "sinks.append.rows": sum(x.get("summary_rejected", 0) for x in steps.values()),
        "sinks.append.writers": sum(job(s, 1)["tasks"] for s in steps),
    }
    for name, step in (("upsert_insert", "load"), ("upsert_update", "reload")):
        m.update({
            f"sinks.{name}.ms": job(step, 0)["ms"],
            f"sinks.{name}.rows": steps.get(step, {}).get("summary_clean", 0),
            f"sinks.{name}.writers": job(step, 0)["tasks"],
            f"sinks.{name}.task_ms": job(step, 0)["task_ms"],
        })
    return m


def ops_totals(spans, exec_ms, nproc):
    spans = list(spans)
    out = {f"ops.{k}": sum(s[k] for s in spans)
           for k in ("jobs", "stages", "tasks", "task_ms", "shuffle_write_bytes",
                     "shuffle_read_bytes", "input_bytes", "spill_bytes", "gc_ms")}
    out["ops.exec_ms"] = exec_ms
    out["ops.core_use"] = out["ops.task_ms"] / (exec_ms * nproc) if exec_ms else 0.0
    return out


# ------------------------------------------------------------------ queries

def query_metrics(r, data, run_dir, cache_dir, checks, nproc):
    con = duck(data)
    checked = {}
    for rec in r["warmup"]["queries"]:
        name = rec["query"]
        if "error" in rec:
            checks.output(f"check {name}", rec["error"])
            continue
        rows, problem = compare(con, os.path.join(run_dir, "check", name),
                                r["oracle_sql"].get(name), data, cache_dir)
        checks.output(f"oracle {name}", problem)
        checked[name] = rows

    def problem(rec):
        if "error" in rec:
            return rec["error"]
        if rec["rows"] != checked.get(rec["query"]):
            return f"{rec['rows']} rows, checked result has {checked.get(rec['query'])}"
        return None

    walls = {}
    for p in r["passes"]:
        for rec in p["queries"]:
            checks.op(f"{rec['query']} ({rec['pass']})", problem(rec))
            if "wall_s" in rec:
                walls.setdefault(rec["query"], []).append(rec["wall_s"])
    all_walls = [w for ws in walls.values() for w in ws]
    m = {
        "setup_s": r["session_s"] + r["warm_s"],
        "pass_s": median([p["wall_s"] for p in r["passes"]]),
        "op_p50_s": median(all_walls),
        "query_p50_s": median(all_walls),
        "cpu_s": median([p["cpu_s"] for p in r["passes"]]),
        "peak_rss_mb": r["peak_rss_mb"],
        "samples": len(all_walls),
        "timed_query_s": {q: [round(w, 3) for w in ws] for q, ws in sorted(walls.items())},
        "passes": len(r["passes"]),
        "warm_pass_s": r["warmup"]["wall_s"],
        "warm_query_s": {q["query"]: round(q.get("wall_s", -1), 3)
                         for q in r["warmup"]["queries"]},
        "timed_pass_s": [round(p["wall_s"], 3) for p in r["passes"]],
    }
    if "traced" not in r:
        return m
    t = r["traced"]
    sp = t["spans"]
    for rec in t["queries"]:
        checks.op(f"{rec['query']} (traced)", problem(rec))

    def phase(kind):
        return [v for k, v in sp.items() if k.startswith("q.") and k.endswith("." + kind)]
    exec_ms = sum(v["ms"] for v in phase("exec"))
    m.update({
        "queries.build.ms": sum(v["ms"] for v in phase("build")),
        "queries.build.jobs": sum(v["jobs"] for v in phase("build")),
        "plans.optimize.ms": sum(v["ms"] for v in phase("optimize")),
        "plans.physical.ms": sum(v["ms"] for v in phase("physical")),
    })
    m.update(ops_totals(phase("exec"), exec_ms, nproc))
    worst = 0.0
    for rec in t["queries"]:
        q = rec["query"]
        parts = [sp.get(f"q.{q}.{k}", {}) for k in ("build", "optimize", "physical", "exec")]
        m[f"q.{q}.wall_ms"] = sum(p.get("ms", 0) for p in parts)
        m[f"q.{q}.jobs"] = sum(p.get("jobs", 0) for p in parts)
        if "wall_s" in rec:
            worst = max(worst, abs(m[f"q.{q}.wall_ms"] / (rec["wall_s"] * 1000) - 1))
        m[f"q.{q}.untraced_ms"] = median(walls.get(q, [])) * 1000
    m["trace_overhead_s"] = t["wall_s"] - m["pass_s"]
    m["unattributed_jobs"] = sp.get("unattributed", {}).get("jobs", 0)
    m["reconcile_worst"] = worst
    return m


# ------------------------------------------------------------------ main

def unit_of(name):
    for suffix, unit in ((".ms", "ms"), ("_ms", "ms"), ("rows_per_s", "rows/s"),
                         ("_s", "s"), ("_mb", "MB"), ("bytes", "bytes"),
                         ("core_use", "ratio"), ("fail_ratio", "ratio"),
                         ("reconcile", "ratio"), ("reconcile_worst", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA_DIR,
                    help="directory of the sf0.1 parquet tables (read only)")
    args = ap.parse_args()
    start = time.time()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if not os.path.exists(os.path.join(args.data, "orders.parquet")):
        die(f"no input tables under {args.data}")

    jars = spark_jars()
    build_dir, digest, built = build(jars)
    deadline = start + (BUILD_LIMIT_S if built else LIMIT_S)
    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    run_dir = os.path.abspath(os.path.join(
        ".bench_runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        jvm_start = time.time()
        r = run_jvm(args, jars, build_dir, run_dir, nproc, deadline - 15)
        jvm_s = time.time() - jvm_start
        checks = Checks()
        if args.workload.startswith("etl_"):
            m = etl_metrics(r, args.data, checks, nproc)
        else:
            m = query_metrics(r, args.data, run_dir,
                              os.path.join(os.path.dirname(build_dir), "perfbench-oracle"),
                              checks, nproc)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    prov = dict(r["provenance"], git_sha=git_sha(), source_sha256=digest,
                loadavg_start=load_start, loadavg_end=os.getloadavg(),
                workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, data=args.data, heap=HEAP,
                csv_s=r.get("csv_s"), csv_bytes=r.get("csv_bytes"),
                csv_partitions=r.get("csv_partitions"),
                measured_s=r["measured_s"], session_s=r["session_s"], jvm_s=jvm_s,
                run_s=time.time() - start)
    print("provenance " + json.dumps(prov, sort_keys=True))
    for p in checks.problems:
        print(f"CHECK FAILED {p}")
    m["fail_ratio"] = checks.failed / checks.attempted
    for k in sorted(m):
        print(f"metric {k} = {m[k]} {unit_of(k)}")
    print(f"checks: {'PASS' if not checks.problems else 'FAIL'}; "
          f"{checks.attempted} timed ops, {checks.failed} failed")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for x in wanted:
        v = m.get(x["name"], 0 if args.trace else None)
        if v is None or (isinstance(v, float) and math.isnan(v)):
            die(f"metric {x['name']} was not measured")
        metrics[x["name"]] = {"value": v, "unit": x["unit"]}
    print(json.dumps({"correct": not checks.problems, "attempted": checks.attempted,
                      "failed": checks.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
