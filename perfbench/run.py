#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt into ``.bench_build/`` and generates the input tables;
later runs reuse both while the sources are unchanged. Each run:

1. makes its inputs from the seed (query order, or medallion CSV batches);
2. starts one JVM (``perfbench.Main``) that sets up, timed from JVM start,
   warms up, then runs one client's closed loop of ops for ``--seconds``
   of busy time;
3. checks every op's output outside the timed region: query results
   against the DuckDB oracle (``SparkEntry.oracleSql``) with
   ``tools/check.py``, pipeline layers against the counts the generator
   knows;
4. prints ``metric <name> <value> <unit>`` lines, then the result as the
   last line: end-to-end metrics with ``--trace 0``, per-layer metrics
   with ``--trace 1``.

The full run record (every op, failures with their errors, realised
generator shares, host telemetry, the effective ``spark.sql.*`` conf and,
when traced, the spans) goes to ``.bench_build/runs/``.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402

BUILD_DIR = ".bench_build"
# the heap the program's own entry points run with (root build.sbt)
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")

# The reference dashboard's query spine: q01-q26 without q23, which
# belongs to the heavy tail.
INTERACTIVE = [
    "q01_pricing_summary", "q02_filter_topk", "q03_revenue_by_nation",
    "q04_brand_performance", "q05_top_customers", "q06_distinct_users",
    "q07_late_shipments", "q08_monthly_revenue", "q09_funnel",
    "q10_last_event_per_user", "q11_first_item_per_order", "q12_dedup_exact",
    "q13_union_tagged", "q14_mode_brand", "q15_quantiles", "q16_event_gaps",
    "q17_sessionize", "q18_conversion_rates", "q19_anti_join",
    "q20_dq_metrics", "q21_customer_sk", "q22_rollup_revenue",
    "q24_gold_fact", "q25_silver_events", "q26_product_performance"]
# workload -> (table scale factor, queries); medallion uses no tables.
WORKLOADS = {
    "interactive": (0.01, INTERACTIVE),
    "medallion": (None, []),
}
MEDALLION_ORDERS = 8000       # per batch, before the seed's +-3 %
SMOKE_SF = 0.001
SMOKE_ORDERS = 800

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("ops_per_s", "1/s"),
              ("retained_heap_mb", "MB")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int) -> None:
    log(msg)
    sys.exit(code)


# ── build ────────────────────────────────────────────────────────────────

BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]


def source_fingerprint(root: str) -> str:
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for f in files:
            if f.endswith((".sbt", ".scala", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build(root: str, deadline: float) -> list:
    """Compile program + harness with sbt once per source state; return
    the runtime classpath."""
    stamp = os.path.join(root, BUILD_DIR, "build.json")
    fp = source_fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b["fingerprint"] == fp and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    log("building program and harness with sbt")
    # no hsperfdata under /tmp from the JVMs the sbt script starts
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    own = os.path.join(root, BUILD_DIR)
    os.makedirs(os.path.join(own, "sbt-tmp"), exist_ok=True)
    # sbt's own state, locks and temp files stay in the checkout too
    flags = ["-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={own}/sbt-global", f"-Dsbt.ivy.home={own}/ivy",
             f"-J-Djava.io.tmpdir={own}/sbt-tmp", f"-J-Djna.tmpdir={own}/sbt-tmp",
             "-Dsbt.offline=true", "-J-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        flags += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch"] + flags + ["compile", "export Runtime/fullClasspath"]
    # its own process group: the sbt script starts the JVM as a child
    p = subprocess.Popen(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail("sbt build timed out", 3)
    lines = out.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"sbt build failed (exit {p.returncode})", 3)
    cp = lines[-1].strip().split(os.pathsep)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


# ── the JVM ──────────────────────────────────────────────────────────────

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(spec: dict, classpath: list, deadline: float) -> dict:
    """Run perfbench.Main on `spec` with the program's JVM options; return
    the record it writes."""
    work = spec["workDir"]
    spec_file = os.path.join(work, "spec.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + OPENS + ["-cp", os.pathsep.join(classpath), "perfbench.Main", spec_file])
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_", "PYSPARK"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    budget = max(30.0, deadline - time.time() - 10)
    log_file = os.path.join(work, "jvm.log")
    with open(log_file, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish within {budget:.0f} s; see {log_file}", 4)
    if code != 0 or not os.path.exists(spec["resultPath"]):
        with open(log_file) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM failed (exit {code})", 4)
    with open(spec["resultPath"]) as f:
        return json.load(f)


# ── host telemetry ───────────────────────────────────────────────────────

def host_sample() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK"), "loadavg": load,
            "time": time.time()}


# ── oracle check ─────────────────────────────────────────────────────────

def check_queries(root: str, rec: dict, data_dir: str, export: str, plant: str,
                  deadline: float) -> dict:
    """Verdict per exported result: None when tools/check.py passes it
    against the DuckDB oracle, else check.py's reason. A planted query's
    oracle SQL returns every expected row twice."""
    query_of = {op["check"]: op["name"] for op in rec["ops"] if op.get("check")}
    verdict = {n: "no oracle SQL" for n, q in query_of.items() if q not in rec["oracle_sql"]}
    oracle = {}
    for name, q in query_of.items():
        if name not in verdict:
            sql = rec["oracle_sql"][q]
            oracle[name] = (f"SELECT * FROM ({sql}) AS a UNION ALL SELECT * FROM ({sql}) AS b"
                            if q == plant else sql)
    if not oracle:
        return verdict
    with open(os.path.join(export, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    try:
        p = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                            data_dir, export], capture_output=True, text=True,
                           timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("the oracle check did not finish in time", 6)
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+): (.*)", line)
        if m:
            verdict[m[2]] = None if m[1] == "PASS" else m[3]
    return verdict


def check_ops(root: str, rec: dict, data_dir: str, export: str, expected: list,
              plant: str, deadline: float) -> list:
    """Mark every op ok/failed; return the failures as (name, error)."""
    failures = []
    if rec["workload"] == "medallion":
        for op in rec["ops"]:
            if op["ok"]:
                exp = dict(expected[op["batch"] + 1])
                if plant == "pipeline":
                    exp["silver_rows"] += 1
                got = op["counts"]
                bad = [k for k in ("bronze_rows", "silver_rows", "scd2_rows",
                                   "scd2_closed", "scd2_inserted", "gold_rows",
                                   "funnel") if got[k] != exp[k]]
                if bad:
                    op["ok"] = False
                    op["error"] = "wrong " + ", ".join(
                        f"{k}: got {got[k]} expected {exp[k]}" for k in bad)
    else:
        verdict = check_queries(root, rec, data_dir, export, plant, deadline)
        for op in rec["ops"]:
            if not op["ok"]:
                continue
            why = verdict.get(op.get("check"), "not checked")
            if why is not None:
                op["ok"], op["error"] = False, f"wrong result: {why}"
    for op in rec["ops"]:
        if not op["ok"]:
            failures.append((op["name"], op["error"]))
    return failures


# ── metrics ──────────────────────────────────────────────────────────────

def percentile(xs: list, q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100 * len(s) + 0.5)) - 1))]


def tail_percentile(xs: list):
    """Highest whole percentile with at least ten samples beyond it."""
    for q in (99, 98, 95, 90, 80, 75, 50):
        if len(xs) * (100 - q) / 100 >= 10:
            return q, percentile(xs, q)
    return None, None


def end_to_end(rec: dict) -> dict:
    ok = [op for op in rec["ops"] if op["ok"]]
    return {
        "setup_s": rec["setup_s"],
        "latency_p50_ms": statistics.median(op["ms"] for op in ok),
        "ops_per_s": len(ok) / rec["busy_s"],
        "retained_heap_mb": rec["retained_heap_mb"],
    }


def workload_view(rec: dict) -> list:
    """The workload's own names, with units: failed_share and the JVM's
    peak RSS everywhere; query_* and round_s (one pass over the list, the
    sum of each query's median) for query workloads; pipeline_s and
    events_per_s for medallion. Latency tails come as the highest
    percentile with at least ten samples beyond it."""
    ok = [op for op in rec["ops"] if op["ok"]]
    ms = [op["ms"] for op in ok]
    rows = [("failed_share", (len(rec["ops"]) - len(ok)) / len(rec["ops"]), "share"),
            ("peak_rss_mb", rec["peak_rss_mb"], "MB")]
    if not ok:
        return rows
    if rec["workload"] == "medallion":
        rates = [op["events"] / (op["ms"] / 1000.0) for op in ok]
        rows += [("pipeline_s", statistics.median(ms) / 1000.0, "s"),
                 ("events_per_s", statistics.median(rates), "1/s"),
                 ("pipeline_samples", len(ms), "count")]
    else:
        by_name = {}
        for op in ok:
            by_name.setdefault(op["name"], []).append(op["ms"])
        rows += [("query_p50_ms", statistics.median(ms), "ms"),
                 ("round_s", sum(statistics.median(v) for v in by_name.values()) / 1000, "s"),
                 ("query_samples", len(ms), "count")]
    q, v = tail_percentile(ms)
    if q is not None and q > 50:
        rows.append((f"latency_p{q}_ms", v, "ms"))
    return rows


# ── main ─────────────────────────────────────────────────────────────────

def main() -> None:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs (sf0.001 tables, small medallion batches)")
    ap.add_argument("--plant-wrong", default="",
                    help="corrupt the expected result of this query "
                         "(or 'pipeline') to show that the check fails")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isfile(os.path.join(root, "src/main/scala/graft/SparkEntry.scala"))
            and os.path.isfile(os.path.join(root, "tools/check.py"))):
        fail("run from the repository root: build.sbt, src/main and tools/check.py "
             "are missing here", 2)

    first_build = not os.path.exists(os.path.join(root, BUILD_DIR, "build.json"))
    classpath = build(root, t_start + (840 if first_build else 120))
    host0 = host_sample()
    cpus = len(os.sched_getaffinity(0))
    sf, queries = WORKLOADS[args.workload]
    run_id = f"{args.workload}{'-smoke' if args.smoke else ''}-{args.seed}"
    work = os.path.join(root, BUILD_DIR, "work", f"{run_id}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "landing"):
        os.makedirs(os.path.join(work, d))

    # inputs from the seed
    r = random.Random(f"order:{args.seed}")
    data_dir, batches, expected, shares = "", [], [], {}
    if queries:
        data_dir = datagen.write_tables(os.path.join(root, BUILD_DIR, "data"),
                                        SMOKE_SF if args.smoke else sf)
        passes = [r.sample(queries, len(queries)) for _ in range(100)]
    else:
        passes = []
        shares = datagen.lifecycle_shares(
            args.seed, SMOKE_ORDERS if args.smoke else MEDALLION_ORDERS)
        # batch 0 is the warm-up; a pipeline run takes seconds, so these
        # last the busy time even if the program gets several times faster
        for i in range(2 + math.ceil(args.seconds / 2)):
            csv = os.path.join(work, "landing", f"batch{i}.csv")
            exp = datagen.lifecycle_batch(csv, args.seed, i, shares)
            batches.append({"csv": csv, "events": exp["events"]})
            expected.append(exp)

    spec = {
        "workload": args.workload, "seconds": args.seconds, "trace": bool(args.trace),
        "cpus": cpus, "opTimeoutS": 60.0, "dataDir": data_dir,
        "workDir": work, "queries": queries, "passes": passes, "batches": batches,
        "batchTs": "2025-11-20 00:00:00", "resultPath": os.path.join(work, "result.json"),
    }
    deadline = t_start + (880 if first_build else 170)
    rec = run_jvm(spec, classpath, deadline)

    failures = check_ops(root, rec, data_dir, os.path.join(work, "export"), expected,
                         args.plant_wrong, deadline - 5)
    if not any(op["ok"] for op in rec["ops"]):
        for name, value, unit in workload_view(rec):
            print(f"metric {name} {value:.4f} {unit}")
        print(f"failed {failures[0][0]}: {failures[0][1]}")
        fail("every op failed: no latency to report", 5)
    e2e = end_to_end(rec)
    rec.update({
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "smoke": args.smoke, "attempted": len(rec["ops"]), "failed": len(failures),
        "failures": [{"name": n, "error": e} for n, e in failures],
        "end_to_end": e2e, "generator_shares": shares, "expected": expected,
        "host": {"nproc": cpus, "before": host0, "after": host_sample()},
    })
    rec["host"]["steal_s"] = rec["host"]["after"]["steal_s"] - host0["steal_s"]

    runs = os.path.join(root, BUILD_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    if args.trace:
        metrics = rec["layers"]
        trace_copy = os.path.join(runs, f"{run_id}-trace-spans.json")
        shutil.copyfile(rec["trace_file"], trace_copy)
        rec["trace_file"] = trace_copy
        base = os.path.join(runs, f"{run_id}-0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            rec["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e}
            for k, v in rec["tracing_overhead"].items():
                print(f"overhead {k} {v:+.4f}")
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    with open(os.path.join(runs, f"{run_id}-{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    for name, value, unit in workload_view(rec):
        print(f"metric {name} {value:.4f} {unit}")
    for n, e in failures[:10]:
        print(f"failed {n}: {e}")
    print(json.dumps({"correct": not failures, "attempted": len(rec["ops"]),
                      "failed": len(failures), "metrics": out_metrics}))


def unit_of(metric: str) -> str:
    tail = metric.rsplit(".", 1)[-1]
    if tail.endswith("_ms") or tail == "ms":
        return "ms"
    if tail.endswith("_bytes") or tail == "bytes_written":
        return "bytes"
    if tail in ("skew", "cpu_per_run", "busy_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
