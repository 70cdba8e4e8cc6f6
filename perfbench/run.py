#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library together with the
harness in `perfbench/` (sbt, offline), generates the seed's inputs
under `perfbench/.work/`, runs the JVM harness, checks every answer,
prints each metric by name with its unit and ends with one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
See README.md for the workloads and what each metric should move.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

# Input sizes (sf 0.1 has 150k orders and 100k events).
ITERATIVE_SF = 0.01
WARM_SF = 0.001
CDC = {"n_cust": 3000, "backlog_chunks": 6, "chunk_files": 8, "backlog_rows_per_file": 1875,
       "paced_files": 30, "paced_rows_per_file": 300, "paced_files_per_s": 2.0,
       "minutes_per_file": 10}
# A fixed heap, pre-touched at start: GC sizing is the same in every
# run, and peak RSS moves with native memory (RocksDB, code, threads).
# Heap use is reported on its own: the live heap after a full collection
# at the end of each pass.
HEAP = "1536m"

WORKLOADS = ("cdc_stream", "batch_iterative")
JVM_TIMEOUT_S = 165
JDK17_OPENS = ("java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
               "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
               "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
               "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
               "java.base/sun.util.calendar").split()

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms",
              "latency_p99_ms": "ms", "peak_heap_mb": "MB"}
# name -> (unit, better); every one is printed by a traced run, with 0
# where the workload does not reach the layer
PER_LAYER = {
    "GraftSession.create_s": ("s", "lower"), "GraftSession.warmup_s": ("s", "lower"),
    "sources.read_s": ("s", "lower"), "sources.scan_mb": ("MB", "lower"),
    "sources.scan_rows": ("count", "lower"), "sources.latest_offset_ms": ("ms", "lower"),
    "sources.backlog_files_end": ("count", "lower"),
    "functions.parse_sqdata_ts_s": ("s", "lower"), "streaming.decode_s": ("s", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"), "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"), "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"), "streaming.rows_per_batch": ("count", "higher"),
    "streaming.batches": ("count", "lower"), "streaming.batch_ms_p50": ("ms", "lower"),
    "streaming.batch_ms_max": ("ms", "lower"), "streaming.state_rows": ("count", "lower"),
    "streaming.state_mem_mb": ("MB", "lower"), "streaming.watermark_lag_ms": ("ms", "lower"),
    "streaming.late_dropped": ("count", "lower"), "gen.late_ms_max": ("ms", "lower"),
    "queries.builder_s": ("s", "lower"), "queries.write_s": ("s", "lower"),
    "queries.analysis_ms": ("ms", "lower"), "queries.optimization_ms": ("ms", "lower"),
    "queries.planning_ms": ("ms", "lower"), "queries.jobs": ("count", "lower"),
    "queries.stages": ("count", "lower"), "queries.tasks": ("count", "lower"),
    "queries.task_s": ("s", "lower"), "queries.parallelism": ("ratio", "higher"),
    "queries.shuffle_read_mb": ("MB", "lower"), "queries.shuffle_write_mb": ("MB", "lower"),
    "queries.spill_mb": ("MB", "lower"), "queries.gc_s": ("s", "lower"),
    "queries.peak_exec_mem_mb": ("MB", "lower"), "operators.ckpt_jobs": ("count", "lower"),
    "operators.ckpt_s": ("s", "lower"), "operators.Graph.jobs": ("count", "lower"),
    "operators.Graph.task_s": ("s", "lower"), "operators.Dedup.jobs": ("count", "lower"),
    "operators.Dedup.task_s": ("s", "lower"), "traced.pass_s": ("s", "lower"),
    "stream_rows_per_s": ("1/s", "higher"), "trace_overhead.pass_s": ("s", "lower"),
    "trace_overhead.share": ("ratio", "lower"), "local1.pass_s": ("s", "lower"),
    "local1.queries.task_s": ("s", "lower"), "local1.queries.builder_s": ("s", "lower"),
    "local1.queries.write_s": ("s", "lower"), "local1.streaming.add_batch_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_stamp():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": os.cpu_count(), "loadavg": load,
            "steal_ticks": ticks[7] if len(ticks) > 7 else 0, "total_ticks": sum(ticks)}


def run_checked(cmd, cwd, log, timeout, env=None):
    """Runs a child to completion (killed and reaped on timeout)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def spark_home():
    """The Spark distribution whose jars/ the library builds against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("set SPARK_HOME (or put spark-submit on PATH)")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build():
    """Compiles library + harness once per source state."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = os.path.join(BENCH, "target", "build.stamp")
    cp = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp) and open(stamp).read() == h.hexdigest():
        return open(cp).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    log = os.path.join(WORK, "build.log")
    rc = run_checked(["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                      "compile", "writeClasspath"], BENCH, log, 840, env)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return open(cp).read().strip()


def generate(workload, seed):
    """The seed's inputs; only the newest seed per workload is kept."""
    import gen
    warm = os.path.join(WORK, "data", "warm")
    if not os.path.exists(os.path.join(warm, "DONE")):
        shutil.rmtree(warm, ignore_errors=True)
        gen.write_tables(gen.tables(WARM_SF), warm, 0)
        open(os.path.join(warm, "DONE"), "w").close()
    top = os.path.join(WORK, "data", workload)
    d = os.path.join(top, f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(top, ignore_errors=True)
        if workload == "batch_iterative":
            gen.write_tables(gen.tables(ITERATIVE_SF), d, seed)
        else:
            gen.cdc(seed, d, **CDC)
        open(os.path.join(d, "DONE"), "w").close()
    return warm, d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a repository checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the harness")
    os.makedirs(WORK, exist_ok=True)
    host0 = host_stamp()
    classpath = build()
    t_gen = time.time()
    warm, data = generate(a.workload, a.seed)
    gen_s = time.time() - t_gen

    out = os.path.join(WORK, "out", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = [f"workload={a.workload}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"out={out}", f"warm={warm}", f"data={data}", f"python={sys.executable}",
            f"gen={os.path.join(BENCH, 'gen.py')}"]
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={out}", f"-Dspark.local.dir={out}/local",
            f"-Dspark.sql.warehouse.dir={out}/warehouse"] + opens +
           ["-cp", classpath, "graftbench.Main"] + args)
    rc = run_checked(cmd, ROOT, os.path.join(out, "jvm.log"), JVM_TIMEOUT_S)
    if rc != 0:
        fail(f"harness exit {rc}; see {out}/jvm.log")
    with open(os.path.join(out, "result.json")) as f:
        r = json.load(f)
    host1 = host_stamp()

    bad = {}
    if "keys" in r:
        import oracle
        bad = oracle.check(data, os.path.join(out, "verify"), r["oracle_sql"])
        # a key whose verified answer is wrong fails every run of it
        attempted = sum(k["runs"] for k in r["keys"].values())
        failed = sum(k["runs"] if name in bad else k["failed"] for name, k in r["keys"].items())
    else:
        attempted, failed = int(r["attempted"]), int(r["failed"])

    e2e = {"setup_s": r["setup_s"], "pass_s": statistics.median(r["passes"]),
           "latency_p50_ms": r["latency_ms"][0], "latency_p99_ms": r["latency_ms"][1],
           "peak_heap_mb": r["peak_heap_mb"]}
    layers = r["layers"]
    layers["peak_rss_mb"] = r["peak_rss_mb"]

    steal = (host1["steal_ticks"] - host0["steal_ticks"]) / max(1, host1["total_ticks"] - host0["total_ticks"])
    print(f"host start: nproc={host0['nproc']} loadavg={host0['loadavg']}")
    print(f"host end:   nproc={host1['nproc']} loadavg={host1['loadavg']} steal={steal:.2%} over the run")
    print(f"workload {a.workload} seed {a.seed}: inputs {gen_s:.1f} s, passes {len(r['passes'])}")
    for name, v in e2e.items():
        print(f"  {name} = {v:.4f} {END_TO_END[name]}")
    if not a.trace:
        print(f"  peak_rss_mb = {r['peak_rss_mb']:.1f} MB (a per-layer metric, see README)")
    print("  latency samples: " + ", ".join(f"{v} {k}" for k, v in r["latency_samples"].items()))
    if "stream_rows_per_s" in r:
        print(f"  stream_rows_per_s = {statistics.median(r['stream_rows_per_s']):.1f} 1/s (backlog)")
        print(f"  gen.late_ms_max = {r['gen_late_ms_max']:.1f} ms")
    print(f"  failed_share = {failed / attempted:.6f} ({failed} of {attempted} operations)")
    for name, why in sorted(bad.items()):
        print(f"  oracle mismatch {name}: {why}")
    for name, k in sorted(r.get("keys", {}).items()):
        if k["failed"]:
            print(f"  failed {name}: {k['error']}")
    if a.trace:
        for name, (unit, _) in PER_LAYER.items():
            print(f"  {name} = {layers.get(name, 0.0):.4f} {unit}")
        print(f"  spans: {out}/spans.jsonl")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, (u, _) in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(v), "unit": END_TO_END[n]} for n, v in e2e.items()}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"host_start": host0, "host_end": host1, "steal_share": steal,
                   "end_to_end": e2e, "layers": layers, "attempted": attempted,
                   "failed": failed, "oracle_mismatch": bad}, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
