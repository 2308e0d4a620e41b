#!/usr/bin/env python3
"""The graft benchmark.  See perfbench/README.md for the workloads and metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest     # every workload briefly, untraced and traced
  python3 perfbench/run.py --record       # re-derive perfbench/expected.json from DuckDB

Run from the root of a checkout.  It builds the program and the harness
from source (sbt, once per source state), runs the workload over the
project's sf0.001 test data (perfbench/testdata), checks every output, and
prints one JSON object as the last line of standard output.  Builds, state
and run records go under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
EXPECTED = os.path.join(HERE, "expected.json")
DATA = os.path.join(HERE, "testdata", "sf0.001")
RUN_LIMIT_S = 170
# Untimed passes between set-up and timing, so the JIT has settled.
WARM_PASSES = 2

HEADLINE = ["q01_top_products", "q02_monthly_trend", "q03_customer_segments",
            "q04_category_performance", "q05_payment_distribution", "q06_geo_revenue",
            "q07_customer_ltv", "q08_product_profitability", "q09_dow_pattern",
            "q10_discount_impact"]
# The query mix is a fixed op list; the seed only orders each timed pass.
WORKLOADS = {
    "pipeline_batch": [],
    "corpus_ops": [
        ["dedup_minhash_lsh", "text"], ["dedup_simhash_pairs", "text"],
        ["bm25_search", "text"], ["corpus_curation", "text"], ["chunk_documents", "text"],
        ["ann_lsh_near_dup_pairs_demo", "sim"], ["ann_cosine_topk", "sim"],
        ["ivf_search", "sim"], ["multimodal_phash_pairs", "multimodal"],
        ["dedup_stream_phash", "streaming"]],
}
# Traced corpus_ops runs add one split pass over the star-schema ops: the 10
# headline queries and the 19 star-schema ops of the ext roster.
STAR_OPS = [[q, "analytics"] for q in HEADLINE] + [
    ["quantiles_line_total", "analytics"], ["asof_click_attribution", "ext"],
    ["range_join_click_purchase", "ext"], ["heavy_hitter_ngrams", "ext"],
    ["events_type_transitions", "analytics"], ["cdc_orders_diff", "etl"],
    ["ivm_daily_sales", "etl"], ["rfm_segments", "analytics"], ["basket_pairs", "analytics"],
    ["events_active_users", "analytics"], ["fuzzy_name_pairs", "ext"],
    ["pagerank_nation_trade", "analytics"], ["scd2_pit_orders", "warehouse"],
    ["monitor_seasonal_anomaly", "monitor"], ["pii_referential_rollup", "quality"],
    ["triangle_doulion_copurchase", "analytics"], ["agg_daily_sales", "warehouse"],
    ["agg_product_performance", "warehouse"], ["agg_customer_metrics", "warehouse"]]
CORPUS_MODULES = ["text", "sim", "multimodal", "streaming"]
STAR_MODULES = ["analytics", "warehouse", "etl", "ext", "monitor", "quality"]
MODULES = CORPUS_MODULES + STAR_MODULES
STEPS = ["stream_ingest_events", "cleanse_production", "quality_checks", "load_warehouse",
         "analytics", "monitoring", "curate_corpus", "retention_cleanup"]
# Pipeline output directory -> the registered op (or SQL) whose oracle gives its rows.
PIPELINE_OUTPUTS = dict(
    [("streaming/events", "SELECT DISTINCT event_id FROM events"),
     ("production/customers", "cleanse_customers"),
     ("production/products", "cleanse_products"),
     ("production/lineitems", "cleanse_lineitems"),
     ("quality/checks", "quality_checks"),
     ("monitoring/volume_anomaly", "monitor_volume_anomaly"),
     ("monitoring/freshness", "monitor_freshness_lag"),
     ("corpus", "corpus_published")]
    + [(f"warehouse/{w}", w) for w in
       ["warehouse_load_report", "dim_part", "dim_customer", "dim_date", "dim_payment",
        "fact_sales", "agg_daily_sales", "agg_product_performance",
        "agg_customer_metrics", "scd2_pit_orders"]]
    + [(f"analytics/{q}", q) for q in HEADLINE])
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("ops_per_s", "1/s"),
              ("latency_p50_s", "s"), ("latency_p90_s", "s"), ("output_mb", "MB")]
ENGINE = ["jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
          "scheduler_delay_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"]
MB = 1 << 20


def per_layer_names():
    """Every per-layer metric with its unit, in a fixed order."""
    names = [("setup.session_s", "s"), ("setup.store_build_s", "s"), ("setup.warmup_s", "s")]
    for s in STEPS:
        names += [(f"step.{s}.s", "s"), (f"step.{s}.shuffle_write_mb", "MB"),
                  (f"step.{s}.tasks", "count"), (f"step.{s}.executor_run_s", "s")]
    names.append(("orchestrate.attempts", "count"))
    for m in MODULES:
        names += [(f"layer.{m}.{k}", "MB" if k == "shuffle_write_mb" else "s")
                  for k in ("s", "build_s", "plan_s", "exec_s", "shuffle_write_mb")]
    names += [(f"query.{q}.s", "s") for q in HEADLINE]
    names.append(("headline_total_s", "s"))
    names += [(f"engine.{e}", "count" if e in ("jobs", "stages", "tasks")
               else "MB" if e.endswith("_mb") else "s") for e in ENGINE]
    names += [("indexstore.builds", "count"), ("trace.pass_s", "s")]
    return names


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build, inputs

def source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath and
    the JVM options the root build gives a forked run."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("run from the root of a graft checkout (no build.sbt / src/main/scala here)")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        lines = open(cp_file).read().splitlines()
        if len(lines) == 3 and lines[0] == stamp:
            return lines[1], json.loads(lines[2])
    if shutil.which("sbt") is None:
        raise BenchError("sbt is not on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt keeps its temp files, sockets and native libraries in the checkout too
    env["SBT_OPTS"] = env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") + \
        f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "printRunJavaOptions", "export Runtime/fullClasspath"],
                               cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        except subprocess.TimeoutExpired:
            raise BenchError("sbt build overran 850 s")
        out.write(p.stdout)
    if p.returncode != 0:
        raise BenchError(f"sbt build failed (see {BUILD}/build.log)")
    cps = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    opts = [l[len("javaopt "):] for l in p.stdout.splitlines() if l.startswith("javaopt ")]
    if not cps or not opts:
        raise BenchError(f"sbt printed no classpath or JVM options (see {BUILD}/build.log)")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip() + "\n" + json.dumps(opts) + "\n")
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1].strip(), opts


def load_expected():
    if not os.path.isfile(EXPECTED):
        raise BenchError("perfbench/expected.json is missing (python3 perfbench/run.py --record)")
    return json.load(open(EXPECTED))


# ---------------------------------------------------------------- processes

def box_state():
    """Machine state at the start of a run: other JVMs, load and a contended
    host all skew timings."""
    mem = {}
    for line in open("/proc/meminfo"):
        k, v = line.split(":", 1)
        mem[k] = int(v.split()[0])
    jvms = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            cmd = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\0")
        except OSError:
            continue
        words = [c.decode(errors="replace") for c in cmd if c]
        if words and os.path.basename(words[0]) == "java" and \
                any("sbt" in w or "graft" in w for w in words):
            main = next((w for w in reversed(words) if not w.startswith("-")), "")
            jvms.append({"pid": int(pid), "main": main[:120]})
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg()),
            "mem_available_mb": mem.get("MemAvailable", 0) // 1024, "other_jvms": jvms,
            "cpu_jiffies": cpu_jiffies()}


def cpu_jiffies():
    """Aggregate CPU counters (user nice system idle iowait irq softirq steal)."""
    return [int(x) for x in open("/proc/stat").readline().split()[1:9]]


def steal_pct(start):
    """Share of CPU time the host took from this machine since `start`: a
    run on a contended host reads slow without the program changing."""
    d = [b - a for a, b in zip(start, cpu_jiffies())]
    return 100.0 * d[7] / max(1, sum(d))


def java_cmd(launch, main, args, state, events=None):
    """A JVM started as the root build starts a forked run, with its temp
    files and (traced) listener kept in the workload's state dir."""
    cp, opts = launch
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + opts + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={state}/tmp"]
    if events:
        cmd += ["-Dspark.extraListeners=graftbench.EngineListener", f"-Dgraftbench.events={events}"]
    return cmd + ["-cp", cp, main] + [str(a) for a in args]


def fresh_state(workload):
    """Per-workload store and spill dirs, emptied before every use."""
    state = os.path.join(BUILD, "state", workload)
    shutil.rmtree(state, ignore_errors=True)
    for sub in ("index", "local", "tmp", "out"):
        os.makedirs(os.path.join(state, sub))
    env = dict(os.environ, GRAFT_INDEX_DIR=os.path.join(state, "index"),
               SPARK_LOCAL_DIRS=os.path.join(state, "local"),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    return state, env


def run_jvm(cmd, cwd, env, logfile, deadline):
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise BenchError(f"the JVM overran the run limit (see {logfile})")
    return p.returncode, out


def du_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total / MB


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def read_events(path):
    """The listener's events: tasks, job and stage starts, and file-writing
    SQL executions as (output path, end ms)."""
    ev = {"tasks": [], "jobs": [], "stages": [], "writes": {}, "ends": {}}
    for line in open(path):
        f = line.rstrip("\n").split("\t")
        if f[0] == "T":
            ev["tasks"].append([int(x) for x in f[1:]])
        elif f[0] == "J":
            ev["jobs"].append(int(f[1]))
        elif f[0] == "S":
            ev["stages"].append(int(f[1]))
        elif f[0] == "W":
            ev["writes"][f[1]] = f[3]
        elif f[0] == "E":
            ev["ends"][f[1]] = int(f[2])
    ev["written"] = sorted((ev["ends"][i], p) for i, p in ev["writes"].items() if i in ev["ends"])
    return ev


def engine_totals(ev, lo, hi):
    """Engine counters for everything that started in [lo, hi) (epoch ms)."""
    ts = [t for t in ev["tasks"] if lo <= t[0] < hi]
    delay = sum(max(0, (t[1] - t[0]) - t[2] - t[5] - t[6] - t[7]) for t in ts)
    return {"jobs": sum(lo <= j < hi for j in ev["jobs"]),
            "stages": sum(lo <= s < hi for s in ev["stages"]),
            "tasks": len(ts), "executor_run_s": sum(t[2] for t in ts) / 1e3,
            "executor_cpu_s": sum(t[3] for t in ts) / 1e9, "gc_s": sum(t[4] for t in ts) / 1e3,
            "scheduler_delay_s": delay / 1e3, "shuffle_write_mb": sum(t[8] for t in ts) / MB,
            "shuffle_read_mb": sum(t[9] for t in ts) / MB, "spill_mb": sum(t[10] for t in ts) / MB}


# ---------------------------------------------------------------- workloads

def count_rows(path):
    """Rows in a Spark output directory: Parquet footers, or CSV records."""
    import csv
    import pyarrow.parquet as pq
    n = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if f.endswith(".parquet"):
                n += pq.ParquetFile(p).metadata.num_rows
            elif f.endswith(".csv"):
                with open(p, newline="") as fh:
                    n += max(0, sum(1 for _ in csv.reader(fh)) - 1)
    return n


def check_pipeline(rc, report, out, expected):
    errs = []
    if rc != 0:
        errs.append(f"exit code {rc}")
    if report is None:
        return errs + ["no execution report"]
    if report["status"] != "success":
        errs.append("status " + report["status"])
    errs += [f"step {s['name']} {s['status']}" for s in report["steps"] if s["status"] != "success"]
    if [s["name"] for s in report["steps"]] != STEPS:
        errs.append("unexpected steps " + ",".join(s["name"] for s in report["steps"]))
    lr = os.path.join(out, "warehouse", "load_report.json")
    if not os.path.isfile(lr):
        errs.append("no load_report.json")
    else:
        errs += [f"load_report {k} {v['status']}" for k, v in json.load(open(lr)).items()
                 if v["status"] != "loaded"]
    for rel, want in expected["pipeline_rows"].items():
        got = count_rows(os.path.join(out, rel))
        if got != want:
            errs.append(f"{rel}: {got} rows, oracle {want}")
    return errs


def trace_dag(report, out, ev):
    """Attribute the listener's events to the DAG's steps, and the analytics
    step to its headline queries, by time window.  The report is written as
    soon as the DAG returns, so its mtime anchors the step windows."""
    end_ms = os.stat(os.path.join(out, "pipeline_execution_report.json")).st_mtime * 1e3
    lo = end_ms - report["total_duration_ms"]
    t = {"engine": engine_totals(ev, 0, float("inf")), "step_engine": {}, "queries": {},
         "spans": []}
    for s in report["steps"]:
        hi = lo + s["duration_ms"]
        t["step_engine"][s["name"]] = engine_totals(ev, lo, hi)
        span = {"name": "step " + s["name"], "start_ms": lo, "end_ms": hi, "children": []}
        if s["name"] == "analytics":
            # each query ends with the write of its CSV (found by path); its
            # span runs from the previous write's end, so it covers building
            # and planning
            prev = lo
            for end, path in ev["written"]:
                q = path.rstrip("/").rsplit("/", 1)[-1]
                if q in HEADLINE and path.endswith(f"/analytics/{q}"):
                    t["queries"][q] = (end - prev) / 1e3
                    span["children"].append({"name": "query " + q, "start_ms": prev, "end_ms": end})
                    prev = end
        t["spans"].append(span)
        lo = hi
    return t


def run_pipeline(launch, data, expected, seconds, trace, deadline, rec):
    """Whole DAGs through graft.Pipeline's own main, each from empty output
    and store dirs, until `seconds` of DAG time are measured."""
    dags = []
    while not dags or (sum(d["pass_s"] for d in dags) < seconds and
                       time.time() + 2 * dags[-1]["wall_s"] < deadline):
        state, env = fresh_state("pipeline_batch")
        out, events = os.path.join(state, "out"), (os.path.join(state, "events.tsv") if trace else None)
        cmd = java_cmd(launch, "graft.Pipeline", [data, out], state, events)
        t0 = time.time()
        rc, stdout = run_jvm(cmd, state, env, os.path.join(state, "jvm.log"), deadline)
        wall = time.time() - t0
        lines = [l for l in stdout.splitlines() if l.startswith('{"status"')]
        report = json.loads(lines[-1]) if lines else None
        errs = check_pipeline(rc, report, out, expected)
        dag = {"wall_s": wall, "errors": errs}
        if report:
            total = report["total_duration_ms"] / 1e3
            dag.update(pass_s=total, setup_s=wall - total,
                       steps={s["name"]: s["duration_ms"] / 1e3 for s in report["steps"]},
                       attempts=sum(s["attempts"] for s in report["steps"]),
                       output_mb=du_mb(out) + du_mb(env["GRAFT_INDEX_DIR"]),
                       builds=sum(f == "_manifest" for _, _, fs in os.walk(env["GRAFT_INDEX_DIR"])
                                  for f in fs))
            if trace:
                dag.update(trace_dag(report, out, read_events(events)))
        else:
            dag.update(pass_s=wall, setup_s=0.0, steps={}, attempts=0, output_mb=0.0, builds=0)
        dags.append(dag)
        log(f"pipeline DAG {dag['pass_s']:.2f}s wall {wall:.2f}s errors {errs}")
    rec["dags"] = dags
    lat = [v for d in dags for v in d["steps"].values()]
    failed = sum(bool(d["errors"]) for d in dags)
    m = {"setup_s": median([d["setup_s"] for d in dags]),
         "pass_s": median([d["pass_s"] for d in dags]),
         "ops_per_s": len(lat) / max(1e-9, sum(d["pass_s"] for d in dags)),
         "latency_p50_s": median(lat), "latency_p90_s": p90(lat),
         "output_mb": median([d["output_mb"] for d in dags])}
    layer = {}
    if trace:
        layer["setup.session_s"] = m["setup_s"]
        for s in STEPS:
            layer[f"step.{s}.s"] = median([d["steps"].get(s, 0.0) for d in dags])
            for k in ("shuffle_write_mb", "tasks", "executor_run_s"):
                layer[f"step.{s}.{k}"] = median([d["step_engine"][s][k] for d in dags
                                                 if "step_engine" in d])
        layer["orchestrate.attempts"] = median([d["attempts"] for d in dags])
        for q in HEADLINE:
            layer[f"query.{q}.s"] = median([d["queries"].get(q, 0.0) for d in dags if "queries" in d])
        layer["headline_total_s"] = sum(layer[f"query.{q}.s"] for q in HEADLINE)
        for e in ENGINE:
            layer[f"engine.{e}"] = median([d["engine"][e] for d in dags if "engine" in d])
        layer["indexstore.builds"] = median([d["builds"] for d in dags])
        layer["trace.pass_s"] = m["pass_s"]
        rec["spans"] = [{"name": f"pipeline_batch dag {i}", "children": d.get("spans", [])}
                        for i, d in enumerate(dags)]
        rec["step_coverage"] = sum(layer[f"step.{s}.s"] for s in STEPS) / max(1e-9, m["pass_s"])
    return m, layer, len(dags), failed, failed == 0


def call_span(c):
    """An op call's span, with its build, plan and exec phases as children."""
    t, kids = c["start_ms"], []
    for k in ("build_s", "plan_s", "exec_s"):
        kids.append({"name": k[:-2], "start_ms": t, "end_ms": t + c[k] * 1e3})
        t += c[k] * 1e3
    return {"name": f"call {c['name']} ({c['module']})", "start_ms": c["start_ms"],
            "end_ms": c["start_ms"] + c["s"] * 1e3, "children": kids}


def write_ops(path, ops, expected):
    with open(path, "w") as f:
        for name, module in ops:
            e = expected["ops"][name]
            f.write(f"{name}\t{module}\t{e['rows']}\t{e['hash']}\n")
    return path


def module_layers(calls, modules):
    """layer.<module>.*: the sum over the module's ops of each op's median
    across the calls given."""
    layer = {}
    for mod in modules:
        names = sorted({c["name"] for c in calls if c["module"] == mod})
        for k in ("s", "build_s", "plan_s", "exec_s"):
            layer[f"layer.{mod}.{k}"] = sum(
                median([c[k] for c in calls if c["name"] == n]) for n in names)
        layer[f"layer.{mod}.shuffle_write_mb"] = sum(
            median([c["engine"]["shuffle_write_mb"] for c in calls if c["name"] == n])
            for n in names)
    return layer


def run_mix(launch, data, expected, workload, seed, seconds, trace, deadline, rec):
    """One JVM: a cold set-up pass, untimed warm-up passes, then seeded timed
    passes (graftbench.Mix); a traced run adds one split pass over the
    star-schema ops."""
    state, env = fresh_state(workload)
    # Half the cores: the inputs are small enough that more executor
    # threads do not shorten a call, and the other half is left to the
    # driver thread, the JIT and GC, so a busy neighbour moves the timings
    # less (with 1.2 cores of other load, a pass slowed 11% on 2 executor
    # threads and 35% on 3, on 4 cores).
    env["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    recs, events = os.path.join(state, "mix.tsv"), (os.path.join(state, "events.tsv") if trace else None)
    args = [write_ops(os.path.join(state, "ops.tsv"), WORKLOADS[workload], expected), data, seed,
            WARM_PASSES, seconds, 1 if trace else 0, recs]
    if trace:
        args.append(write_ops(os.path.join(state, "star.tsv"), STAR_OPS, expected))
    cmd = java_cmd(launch, "graftbench.Mix", args, state, events)
    launch_ms = time.time() * 1e3
    rc, _ = run_jvm(cmd, state, env, os.path.join(state, "jvm.log"), deadline)
    if rc != 0 or not os.path.isfile(recs):
        raise BenchError(f"{workload} harness exited {rc} (see {state}/jvm.log)")
    calls, setup, builds, star_builds = [], None, None, 0
    for line in open(recs, encoding="utf-8"):
        f = line.rstrip("\n").split("\t")
        if f[0] == "op":
            calls.append({"phase": f[1], "pass": int(f[2]), "name": f[3], "module": f[4],
                          "start_ms": int(f[5]), "build_s": float(f[6]), "plan_s": float(f[7]),
                          "exec_s": float(f[8]), "s": float(f[9]), "rows": int(f[10]),
                          "ok": f[11] == "1", "error": f[12] if len(f) > 12 else ""})
        elif f[0] == "setup":
            setup = {"session_s": float(f[1]), "warmup_s": float(f[2]),
                     "store_build_s": float(f[3]), "ready_ms": int(f[4])}
        elif f[0] == "builds":
            builds = int(f[1])
        elif f[0] == "starbuilds":
            star_builds = int(f[1])
    if setup is None or builds is None:
        raise BenchError(f"{workload} harness wrote an incomplete record")
    timed = [c for c in calls if c["phase"] == "timed"]
    failed = [c for c in calls if not c["ok"]]
    for c in failed:
        log(f"{workload} {c['name']} FAILED: {c['error']}")
    if builds or star_builds:
        log(f"{workload}: {builds + star_builds} store vintages were built while timing")
    passes = {}
    for c in timed:
        passes[c["pass"]] = passes.get(c["pass"], 0.0) + c["s"]
    lat = [c["s"] for c in timed]
    # pass_s and p50 count each op once, however many passes fit in
    # `seconds`: over ten unlike ops, a call-level median of 2 passes and
    # one of 3 land on different ops, so a slower host would also change
    # what is measured.
    op_med = [median([c["s"] for c in timed if c["name"] == n]) for n, _ in WORKLOADS[workload]]
    rec.update(setup=setup, calls=calls, indexstore_builds=builds + star_builds)
    m = {"setup_s": (setup["ready_ms"] - launch_ms) / 1e3,
         "pass_s": sum(op_med),
         "ops_per_s": len(lat) / max(1e-9, sum(lat)),
         "latency_p50_s": median(op_med), "latency_p90_s": p90(lat),
         "output_mb": du_mb(env["GRAFT_INDEX_DIR"])}
    layer = {}
    if trace:
        ev = read_events(events)
        n_pass = max(1, len(passes))
        star = [c for c in calls if c["phase"] == "star"]
        for c in timed + star:
            lo = c["start_ms"]
            c["engine"] = engine_totals(ev, lo, lo + c["s"] * 1e3 + 1)
        layer.update({f"setup.{k}": setup[k] for k in ("session_s", "store_build_s", "warmup_s")})
        layer.update(module_layers(timed, CORPUS_MODULES))
        layer.update(module_layers(star, STAR_MODULES))
        for q in HEADLINE:
            layer[f"query.{q}.s"] = median([c["s"] for c in star if c["name"] == q])
        layer["headline_total_s"] = sum(layer[f"query.{q}.s"] for q in HEADLINE)
        first = min(c["start_ms"] for c in timed)
        last = max(c["start_ms"] + c["s"] * 1e3 for c in timed) + 1
        for e, v in engine_totals(ev, first, last).items():
            layer[f"engine.{e}"] = v / n_pass
        layer["indexstore.builds"] = builds + star_builds
        layer["trace.pass_s"] = m["pass_s"]
        rec["spans"] = [{"name": f"{workload} pass {p}", "children": [
            call_span(c) for c in timed if c["pass"] == p]} for p in sorted(passes)]
        rec["spans"].append({"name": "star-schema pass", "children": [call_span(c) for c in star]})
    return m, layer, len(calls), len(failed), not failed and builds + star_builds == 0


# ---------------------------------------------------------------- entry points

def run(workload, seed, seconds, trace):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    expected = load_expected()
    launch = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 20)  # a first build has its own budget
    rec = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "started": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(t_start)), "box": box_state()}
    log(f"box {json.dumps(rec['box'])}")
    if workload == "pipeline_batch":
        m, layer, attempted, failed, correct = run_pipeline(launch, DATA, expected, seconds, trace, deadline, rec)
    else:
        m, layer, attempted, failed, correct = run_mix(launch, DATA, expected, workload, seed, seconds,
                                              trace, deadline, rec)
    names = per_layer_names() if trace else END_TO_END
    vals = layer if trace else m
    metrics = {n: {"value": float(vals.get(n, 0.0)), "unit": u} for n, u in names}
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    rec.update(end_to_end=m, result=result, cpu_steal_pct=steal_pct(rec["box"]["cpu_jiffies"]))
    log(f"cpu steal during the run: {rec['cpu_steal_pct']:.1f}%")
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    path = os.path.join(BUILD, "records", f"{workload}-seed{seed}-trace{trace}-{int(t_start)}.json")
    json.dump(rec, open(path, "w"), indent=1)
    log(f"record {path}")
    return result


def record():
    """Re-derive perfbench/expected.json: DuckDB over the test data."""
    launch = build()
    mixes = {w: ops for w, ops in WORKLOADS.items() if ops}
    mixes["star_schema"] = STAR_OPS
    names = sorted({n for ops in mixes.values() for n, _ in ops}
                   | {v for v in PIPELINE_OUTPUTS.values() if " " not in v})
    out = os.path.join(BUILD, "oracle_sql.json")
    state, env = fresh_state("record")
    rc, _ = run_jvm(java_cmd(launch, "graftbench.OracleSql", [out, ",".join(names)], state),
                    state, env, os.path.join(state, "jvm.log"), time.time() + 300)
    if rc != 0:
        raise BenchError("could not dump the oracle SQL")
    exp = oracle.record(DATA, json.load(open(out)), mixes, PIPELINE_OUTPUTS)
    exp = {"data": os.path.relpath(DATA, ROOT), **exp}
    with open(EXPECTED, "w") as f:
        json.dump(exp, f, indent=1, sort_keys=True)
        f.write("\n")
    empty = [n for n, e in exp["ops"].items() if e.get("empty")]
    log(f"wrote {EXPECTED}: {len(exp['ops'])} ops ({len(empty)} empty: {empty})")


def selftest():
    """Every workload briefly, untraced and traced: every metric present with
    its unit, no failed op, and spans for every module and step called."""
    problems = []
    for wl in WORKLOADS:
        plain = run(wl, 1, 1, 0)
        traced = run(wl, 1, 1, 1)
        for res, names in ((plain, END_TO_END), (traced, per_layer_names())):
            if res["failed"] or not res["correct"]:
                problems.append(f"{wl}: {res['failed']} failed")
            missing = [n for n, u in names if res["metrics"].get(n, {}).get("unit") != u]
            if missing:
                problems.append(f"{wl}: missing metrics {missing}")
        rec = json.load(open(max((os.path.join(BUILD, "records", f) for f in
                                  os.listdir(os.path.join(BUILD, "records"))
                                  if f.startswith(f"{wl}-seed1-trace1-")), key=os.path.getmtime)))
        spans = json.dumps(rec.get("spans", []))
        wanted = [f"step {s}" for s in STEPS] if wl == "pipeline_batch" else \
            [f"({m})" for m in sorted({m for _, m in WORKLOADS[wl] + STAR_OPS})]
        problems += [f"{wl}: no span for {w}" for w in wanted if w not in spans]
        overhead = traced["metrics"]["trace.pass_s"]["value"] / plain["metrics"]["pass_s"]["value"] - 1
        for res in (plain, traced):
            print(f"{wl}: " + ", ".join(f"{n} {v['value']:.4g} {v['unit']}"
                                        for n, v in res["metrics"].items())
                  + f"; error_rate {res['failed'] / res['attempted']:.3g}")
        print(f"{wl}: tracing overhead {overhead:+.1%} (one run each, so within run-to-run noise)")
    for p in problems:
        print("SELFTEST FAIL", p)
    print("selftest", "FAILED" if problems else "passed")
    return not problems


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.record:
            record()
        elif a.selftest:
            sys.exit(0 if selftest() else 1)
        elif a.workload:
            print(json.dumps(run(a.workload, a.seed, a.seconds, a.trace)))
        else:
            ap.error("--workload, --record or --selftest is required")
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
