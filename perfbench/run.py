#!/usr/bin/env python3
"""Benchmark of the OSM ETL program: the weekly ETL + load, and a warm
query mix. See perfbench/README.md.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 15 --trace 0

The program is compiled from `src/` into `.bench_build/`; each run works in
`.bench_work/` and deletes it before it exits, and appends its run record to
`.bench_runs/runs.jsonl`. The last line of standard output is the result
JSON; a table of every metric goes to standard error.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["etl_full", "query_mix"]

# Snapshot size of the ETL workloads: 90k way refs, 22.5k ways, 3k nodes.
ETL_SF = 0.015
# Warm iterations after the cold one that still count as set-up: job times
# kept falling by 10-30% over the first warm iterations of a JVM.
ETL_WARMUP = 3
# Corpus size of the query mix.
QUERY_SF = 0.01
# Keys of the query mix: oracled keys of the osm/sql/dedup/text families,
# evenly spaced in name order within each family (see README.md).
QUERY_POOL = [
    "osm_geometry_qa", "osm_region_partition_write", "osm_way_bearing",
    "sql_important_stock", "sql_shipping_priority", "dedup_minhash",
    "text_fingerprint", "text_repetition"]
ETL_DATE = "2024-07-25"
# The program's own read-back of a fresh lake (runTimed's count_readback
# stage) counts this many lake tables.
READBACK_QUERIES = 4

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# A fixed heap and young generation: with adaptive sizing, peak RSS of the
# same run varied by 20-45% between runs.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("query_s_p50", "s"), ("query_s_p90", "s"),
              ("queries_per_s", "1/s"), ("lake_bytes_per_input_byte", "ratio"),
              ("rss_peak_mb", "MB")]
LAYERS = ["sources", "plans", "load", "operators"]
COUNTERS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("failed_tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
            ("gc_s", "s"), ("scheduler_delay_s", "s"), ("shuffle_fetch_wait_s", "s"),
            ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
            ("spill_bytes", "bytes"), ("slot_busy_ratio", "ratio")]
PER_LAYER = [
    ("sources.scan_s", "s"), ("sources.input_bytes", "bytes"), ("sources.input_rows", "count"),
    ("plans.etl_s", "s"), ("plans.ways_s", "s"), ("plans.relations_s", "s"),
    ("plans.areas_s", "s"), ("plans.layers_s", "s"), ("plans.readback_s", "s"),
    ("plans.lake_rows", "count"), ("plans.lake_bytes", "bytes"), ("plans.lake_files", "count"),
    ("load.jdbc_s", "s"), ("load.rows", "count"), ("load.rows_per_s", "1/s"),
    ("operators.build_s", "s"), ("operators.exec_s", "s"), ("operators.osm_s", "s"),
    ("operators.sql_s", "s"), ("operators.dedup_s", "s"), ("operators.text_s", "s"),
    ("driver.non_task_s", "s"),
] + [(f"{layer}.self_s", "s") for layer in LAYERS] + [
    (f"{layer}.{c}", u) for layer in LAYERS for c, u in COUNTERS] + [
    ("trace.overhead_job_s", "s"), ("trace.overhead_query_s_p50", "s")]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted average of
    all order statistics. A run's samples are a few repeats of a fixed key
    mix, and there a plain median or p90 jumps between neighbouring keys."""
    s = np.sort(np.asarray(list(xs), dtype=float))
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    x = np.linspace(0.0, 1.0, 20001)[1:-1]
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x) + \
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    c = np.cumsum(np.exp(log_pdf))
    cdf = np.concatenate([[0.0], c / c[-1], [1.0]])
    grid = np.concatenate([[0.0], x, [1.0]])
    w = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(np.dot(w, s))


def median(xs):
    return hd_quantile(xs, 0.5)


def p90(xs):
    return hd_quantile(xs, 0.9)


def tree_size(path, suffix=""):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(suffix))
    return total


# ---------------------------------------------------------------- build

def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources():
    files = []
    for base in ("src/main/scala", "src/main/resources", os.path.join(HERE, "jvm")):
        for root, _, names in os.walk(base):
            files += [os.path.join(root, n) for n in names]
    return sorted(files)


def build():
    """Compile the program and the harness with the Scala compiler that ships
    with Spark; skipped when the sources are unchanged since the last build."""
    if not os.path.isdir("src/main/scala") or not os.path.isdir(SPARK_JARS):
        raise BenchError("run from the root of a checkout of the program (src/main/scala "
                         f"missing) with Spark jars at {SPARK_JARS}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(".bench_build", "stamp")
    classes = os.path.join(".bench_build", "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes, h.hexdigest()
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes]
        + [f for f in files if f.endswith(".scala")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-3000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"[perfbench] built in {time.time() - t0:.1f}s")
    return classes, h.hexdigest()


# ---------------------------------------------------------------- JVM runs

class Jvm:
    def __init__(self, classes, work, n):
        self.cp = os.pathsep.join([classes, "src/main/resources", os.path.join(SPARK_JARS, "*")])
        self.work, self.n = work, n
        self.tmp = os.path.join(work, "tmp")
        self.flags = JVM_FLAGS + [f"-Djava.io.tmpdir={self.tmp}",
                                  f"-Dderby.system.home={self.tmp}"] + JVM_OPENS

    def run(self, mode, timeout=150, **kv):
        """Run one harness process and return its result, with `setup_s`
        (launch until the Spark session was ready) added."""
        os.makedirs(self.tmp, exist_ok=True)
        out = os.path.join(self.work, f"{mode}.out.json")
        if os.path.exists(out):
            os.remove(out)
        kv = dict(kv, cores=self.n, out=out, local_dir=os.path.join(self.work, "spark-local"))
        cmd = ["java"] + self.flags + ["-cp", self.cp, "perfbench.Harness", mode] + \
            [f"{k}={v}" for k, v in kv.items()]
        logf = os.path.join(self.work, f"{mode}.log")
        launched = time.time()
        with open(logf, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=timeout)
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
        if rc != 0 or not os.path.exists(out):
            with open(logf) as lf:
                raise BenchError(f"harness {mode} exited {rc}:\n" + lf.read()[-3000:])
        with open(out) as f:
            res = json.load(f)
        res["setup_s"] = res["ready_ms"] / 1000.0 - launched
        shutil.rmtree(self.tmp, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "spark-local"), ignore_errors=True)
        return res


# ---------------------------------------------------------------- workloads

def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def self_times(spans):
    """Self time per layer: span wall minus the wall of its child spans."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in out:
            out[layer] += s["wall_s"] - child.get(s["id"], 0.0)
    return out


def layer_metrics(res, spans, input_bytes):
    m = {}
    layers = res.get("layers", {})
    for layer in LAYERS:
        c = layers.get(layer, {})
        for name, _ in COUNTERS:
            m[f"{layer}.{name}"] = float(c.get(name, 0.0))
    for layer, v in self_times(spans).items():
        m[f"{layer}.self_s"] = v
    m["driver.non_task_s"] = float(res.get("non_task_s", 0.0))
    m["sources.scan_s"] = float(res.get("scan_s", 0.0))
    # Spark's parquet reader reports only part of the bytes it reads as
    # input metrics, so the bytes are the scanned files' sizes
    m["sources.input_bytes"] = float(input_bytes)
    m["sources.input_rows"] = float(layers.get("sources", {}).get("input_rows", 0.0))
    return m


def plans_metrics(it):
    st, lake = it.get("stages", {}), it["lake"]
    return {
        "plans.etl_s": it.get("etl_s", 0.0),
        "plans.ways_s": st.get("ways", 0.0), "plans.relations_s": st.get("relations", 0.0),
        "plans.areas_s": st.get("areas", 0.0), "plans.layers_s": st.get("layers", 0.0),
        "plans.readback_s": st.get("count_readback", 0.0),
        "plans.lake_rows": lake["rows"], "plans.lake_bytes": lake["bytes"],
        "plans.lake_files": lake["files"],
    }


def run_etl_full(jvm, work, seed, seconds, trace):
    """One JVM: a cold ETL + load and ETL_WARMUP warm-up iterations (all
    reported in setup_s), then one measured iteration per 3.75 s of
    `seconds`, at least 4. The query metrics are the program's own read-back of each
    fresh lake (runTimed's count_readback stage)."""
    t0 = time.time()
    snap = os.path.join(work, "snap")
    gen.write(gen.star_schema(ETL_SF, seed, star_only=True), snap, seed)
    expected = checks.expected_lake(snap)
    input_bytes = tree_size(snap, ".parquet")
    log(f"[perfbench] etl_full inputs ready in {time.time() - t0:.1f}s")
    spans = os.path.join(work, "spans.jsonl")
    res = jvm.run("etl_full", snap=snap, lake=os.path.join(work, "lake"), date=ETL_DATE,
                  warm=ETL_WARMUP + max(4, round(seconds / 3.75)), trace=trace, run_id=seed, spans=spans)
    its = res["iterations"]

    def check(it):
        bad = checks.readback_mismatch(it["readback"], expected)
        for t, n in it["lake"]["tables"].items():
            if it["db_rows"].get(t) != n:
                bad = bad or f"{t}: loaded {it['db_rows'].get(t)} rows, lake has {n}"
        return bad

    failures = [check(it) for it in its]
    setup, warm = its[:1 + ETL_WARMUP], [it for it in its[1 + ETL_WARMUP:] if not it["traced"]]
    queries = [it["stages"]["count_readback"] for it in warm]
    metrics = {
        "setup_s": res["setup_s"] + sum(it["job_s"] for it in setup),
        "job_s": median(it["job_s"] for it in warm),
        "query_s_p50": median(queries),
        "query_s_p90": p90(queries),
        "queries_per_s": READBACK_QUERIES * len(queries) / sum(queries),
        "lake_bytes_per_input_byte": median(it["lake"]["bytes"] for it in warm) / input_bytes,
        "rss_peak_mb": res["rss_peak_mb"],
    }
    samples = {"setup_s": 1, "job_s": len(warm), "query_s_p50": len(queries),
               "query_s_p90": len(queries), "queries_per_s": READBACK_QUERIES * len(queries),
               "lake_bytes_per_input_byte": len(warm), "rss_peak_mb": 1}
    notes = {"session_s": res["setup_s"], "setup_job_s": [it["job_s"] for it in setup],
             "raw": {"job_s": [it["job_s"] for it in warm], "query_s": queries},
             "input_bytes": input_bytes, "stages_s": [it["stages"] for it in its]}
    layer = {}
    if trace:
        it = its[-1]
        layer = layer_metrics(res, read_spans(spans), input_bytes)
        layer.update(plans_metrics(it))
        layer.update({
            "load.jdbc_s": it["load_s"], "load.rows": it["load_rows"],
            "load.rows_per_s": it["load_rows"] / it["load_s"],
            "trace.overhead_job_s": it["job_s"] - metrics["job_s"],
            "trace.overhead_query_s_p50": it["stages"]["count_readback"] - metrics["query_s_p50"],
        })
    return metrics, samples, failures, layer, notes


def run_query_mix(jvm, work, seed, seconds, trace):
    """A warm session: set-up pass over the pool, then seeded passes over
    it, one per 7.5 s of `seconds` (a warm pass's time on 4 cores), at least
    2. A traced run traces every other pass, so it runs an even number."""
    t0 = time.time()
    data = os.path.join(work, "corpus")
    gen.write(gen.star_schema(QUERY_SF, seed), data, seed)
    keys = os.path.join(work, "keys.txt")
    with open(keys, "w") as f:
        passes = max(2, round(seconds / 7.5))
        f.write("\n".join(gen.key_sequence(QUERY_POOL, seed, passes + trace * (passes % 2))) + "\n")
    results = os.path.join(work, "results")
    spans = os.path.join(work, "spans.jsonl")
    input_bytes = tree_size(data, ".parquet")
    log(f"[perfbench] query_mix inputs ready in {time.time() - t0:.1f}s")
    res = jvm.run("query_mix", timeout=170, data=data, keys=keys, results=results,
                  trace=trace, run_id=seed, spans=spans)
    oracle = checks.Oracle(data)
    with open(os.path.join(results, "oracle_sql.json")) as f:
        sql = json.load(f)
    verdict = {k: oracle.mismatch(sql[k], os.path.join(results, k)) for k in sql}
    oracle.close()
    shutil.rmtree(results, ignore_errors=True)
    loop = res["samples"]
    failures = [(f"{s['key']}: {verdict[s['key']]}" if verdict[s["key"]] else None) or
                (None if s["same"] else f"{s['key']}: result differs from the first execution")
                for s in loop]
    wall = [s["build_s"] + s["exec_s"] for s in loop]
    plain = [w for s, w in zip(loop, wall) if not s["traced"]]
    metrics = {
        "setup_s": res["setup_s"] + sum(res["first_pass_s"].values()),
        "job_s": sum(plain) / len(plain),
        "query_s_p50": median(plain),
        "query_s_p90": p90(plain),
        "queries_per_s": len(loop) / res["loop_s"],
        "lake_bytes_per_input_byte": res["scratch_bytes"] / input_bytes,
        "rss_peak_mb": res["rss_peak_mb"],
    }
    n = len(plain)
    samples = {"setup_s": 1, "job_s": n, "query_s_p50": n, "query_s_p90": n,
               "queries_per_s": len(loop), "lake_bytes_per_input_byte": 1, "rss_peak_mb": 1}
    per_key = {}
    for s, w in zip(loop, wall):
        per_key.setdefault(s["key"], []).append(w)
    notes = {"first_pass_s": res["first_pass_s"],
             "raw": {"query_s": plain, "keys": [s["key"] for s in loop if not s["traced"]]},
             "per_key_s": {k: median(v) for k, v in sorted(per_key.items())},
             "failed_keys": sorted(k for k, v in verdict.items() if v)}
    layer = {}
    if trace:
        traced = [(s, w) for s, w in zip(loop, wall) if s["traced"]]
        layer = layer_metrics(res, read_spans(spans), input_bytes)
        layer["operators.build_s"] = sum(s["build_s"] for s, _ in traced)
        layer["operators.exec_s"] = sum(s["exec_s"] for s, _ in traced)
        for fam in ("osm", "sql", "dedup", "text"):
            layer[f"operators.{fam}_s"] = sum(w for s, w in traced if s["key"].startswith(fam + "_"))
        tw = [w for _, w in traced]
        layer["trace.overhead_job_s"] = sum(tw) / len(tw) - metrics["job_s"]
        layer["trace.overhead_query_s_p50"] = median(tw) - metrics["query_s_p50"]
    return metrics, samples, failures, layer, notes


# ---------------------------------------------------------------- run and report

def run_workload(workload, seed, seconds, trace, classes, tree_hash):
    n = cores()
    work = os.path.abspath(os.path.join(".bench_work", f"{workload}-{seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm = Jvm(classes, work, n)
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "commit": commit(tree_hash), "cores": n, "nproc": os.cpu_count(),
              "jvm_flags": JVM_FLAGS, "loadavg_start": loadavg(), "started": time.time()}
    try:
        run = {"etl_full": run_etl_full, "query_mix": run_query_mix}[workload]
        out = run(jvm, work, seed, seconds, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics, samples, failures, layer, notes = out
    failed = sum(1 for f in failures if f)
    record.update({"loadavg_end": loadavg(), "ended": time.time(), "metrics": metrics,
                   "samples": samples, "attempted": len(failures), "failed": failed,
                   "failed_ratio": failed / len(failures), "notes": notes,
                   "failures": [f for f in failures if f][:20], "per_layer": layer})
    os.makedirs(".bench_runs", exist_ok=True)
    with open(os.path.join(".bench_runs", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return record


def commit(tree_hash):
    """The git commit when run inside a repository, else the source-tree hash."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "tree:" + tree_hash[:16]


def print_table(r):
    log(f"{'workload':<10} {'metric':<26} {'value':>14} {'unit':<6} {'n':>5}  check")
    verdict = "ok" if r["failed"] == 0 else f"FAILED {r['failed']}/{r['attempted']}"
    for name, unit in END_TO_END:
        log(f"{r['workload']:<10} {name:<26} {r['metrics'][name]:>14.6g} {unit:<6} "
            f"{r['samples'][name]:>5}  {verdict}")
    log(f"{r['workload']:<10} {'failed_ratio':<26} {r['failed_ratio']:>14.6g} {'ratio':<6} "
        f"{r['attempted']:>5}  {verdict}")
    for f in r["failures"][:5]:
        log(f"{'':<10} failure: {f}")
    log(f"{r['workload']:<10} record: commit {r['commit'][:16]} seed {r['seed']} N {r['cores']} "
        f"nproc {r['nproc']} loadavg {r['loadavg_start']} -> {r['loadavg_end']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    try:
        classes, tree_hash = build()
        r = run_workload(args.workload, args.seed, args.seconds, args.trace, classes, tree_hash)
    except BenchError as e:
        log(f"[perfbench] error: {e}")
        sys.exit(2)
    print_table(r)
    if args.trace:
        for name, unit in PER_LAYER:
            log(f"{r['workload']:<10} {name:<34} {r['per_layer'].get(name, 0.0):>14.6g} {unit}")
        metrics = {name: {"value": float(r["per_layer"].get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER}
    else:
        metrics = {name: {"value": float(r["metrics"][name]), "unit": unit}
                   for name, unit in END_TO_END}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
