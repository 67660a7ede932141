#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the engine
and the harness from source (``perfbench/harness``, sbt, offline) and
caches the classpath; later runs reuse it while the sources are unchanged.

A run generates the workload's inputs from the seed, starts one JVM
(``GraftSession.local`` on every core), sets up, runs ops back to back
for ``--seconds`` (closed loop, one client), then checks every output and
prints ``{"correct", "attempted", "failed", "metrics"}`` as the last line
of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See ``perfbench/README.md``.
"""

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Sizes are chosen so that set-up plus one measured window stays well
# inside the per-run budget on a 4-core box (README.md, "Sizes").
WORKLOADS = {
    "square_hourly": {"feed": 10000, "hours": 96},
    "registry_jobs": {"sf": 0.01, "queries": ["k43_ndv_stats", "k48_indexed_commit",
                                              "t35_bpe_merges"]},
}
# DuckDB needs minutes for t35's unrolled BPE rounds at sf 0.01, so t35 is
# held to its own claims and to identical results across passes only.
NO_ORACLE = {"t35_bpe_merges"}
QUERIES = WORKLOADS["registry_jobs"]["queries"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
              "rows_per_s": "1/s", "peak_rss_mb": "MiB"}
# name -> (unit, better); README.md says what each one counts.
PER_LAYER = {
    "extract.s": ("s", "lower"), "extract.pages": ("count", "lower"),
    "extract.rows": ("count", "lower"), "extract.bytes": ("bytes", "lower"),
    "transform.s": ("s", "lower"), "transform.rows_out": ("count", "lower"),
    "transform.rejects": ("count", "lower"),
    "upsert.s": ("s", "lower"), "upsert.bytes_read": ("bytes", "lower"),
    "upsert.bytes_written": ("bytes", "lower"), "upsert.rows_written": ("count", "lower"),
    "upsert.useful_ratio": ("ratio", "higher"),
    "upsert.warehouse_bytes_per_row": ("bytes/row", "lower"),
    "pipeline.payments_s": ("s", "lower"), "pipeline.order_items_s": ("s", "lower"),
    "pipeline.catalog_s": ("s", "lower"), "pipeline.inventory_s": ("s", "lower"),
    "pipeline.categories_s": ("s", "lower"), "pipeline.locations_s": ("s", "lower"),
    "pipeline.preload_s": ("s", "lower"),
    "spark.sql_executions": ("count", "lower"), "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"), "spark.tasks": ("count", "lower"),
    "spark.tasks_per_stage": ("ratio", "higher"), "spark.task_run_s": ("s", "lower"),
    "spark.task_cpu_s": ("s", "lower"), "spark.core_util": ("ratio", "higher"),
    "spark.driver_only_s": ("s", "lower"), "spark.job_fee_ms": ("ms", "lower"),
    "catalyst.analysis_s": ("s", "lower"), "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"), "catalyst.graft_rules_s": ("s", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"), "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"), "shuffle.spill_bytes": ("bytes", "lower"),
    "io.input_bytes": ("bytes", "lower"), "io.output_bytes": ("bytes", "lower"),
    "io.write_executions": ("count", "lower"), "io.write_s": ("s", "lower"),
    "staging.rdd_blocks": ("count", "lower"), "staging.rdd_bytes": ("bytes", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "trace.ops": ("count", "higher"), "trace.overhead_s": ("s", "lower"),
}
for _q in QUERIES:
    PER_LAYER[f"query.{_q}.s"] = ("s", "lower")
    PER_LAYER[f"query.{_q}.jobs"] = ("count", "lower")
SPARK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
               "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_BUDGET_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main"), os.path.join(HARNESS, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + harness once per source state; return the classpath."""
    stamp = source_stamp(root)
    cache = os.path.join(HARNESS, "target", "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    log("building engine + harness (sbt, offline)")
    log_file = os.path.join(HARNESS, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(log_file), exist_ok=True)
    with open(log_file, "w") as f:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 800, f, cwd=HARNESS,
                       env=dict(os.environ, COURSIER_MODE="offline"))
    with open(log_file) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_child(cmd, timeout, out, **kw):
    """Run `cmd` in its own process group; on timeout or on any exit of
    this process, kill the whole group and wait for it. Returns the exit
    code, or None on timeout."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()


# ----------------------------------------------------------------- checks

def square_matches(got, want):
    """Every table's row count, key checksum and value sum equal the model."""
    for table, w in want.items():
        g = got.get(table)
        if g is None or g["rows"] != w["rows"] or g["keysum"] != w["keysum"]:
            return False
        if abs(g["valsum"] - w["valsum"]) > 1e-6 * max(1.0, abs(w["valsum"])):
            return False
    return True


def oracle_check(root, data, results, names):
    """Results dumped by the set-up pass vs DuckDB on the same tables,
    hashed with tools/check.py's normalisation."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(root, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for name in names:
        files = [os.path.join(results, name, x) for x in os.listdir(os.path.join(results, name))
                 if x.endswith(".parquet")] if os.path.isdir(os.path.join(results, name)) else []
        if not files or name not in oracle:
            bad.append(f"{name}: no output or no oracle")
            continue
        got = pd.concat([pd.read_parquet(x) for x in files], ignore_index=True)
        t = time.time()
        exp = con.execute(oracle[name]).df()
        log(f"oracle {name}: {time.time() - t:.2f} s")
        got.columns = [c.lower() for c in got.columns]
        exp.columns = [c.lower() for c in exp.columns]
        if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns) \
                or check.frame_hash(got) != check.frame_hash(exp):
            bad.append(f"{name}: differs from oracle (rows {len(got)} vs {len(exp)})")
    return bad


def judge(workload, out, model, root, data, work):
    """(setup_ok, per-op ok flags, problems)."""
    problems = []
    ops = out["ops"]
    warm = out["warm"]
    for o in warm + ops:
        if o["error"]:
            problems.append(f"{o['name']}: {o['error']}")
    if workload == "square_hourly":
        def at_hour(o):
            h = o["check"].get("hour")
            want = model["preload"] if h == 0 else model["hourly"][h - 1]
            return o["error"] is None and square_matches(o["check"], want)
        oks = [at_hour(o) for o in ops]
        preload, rerun, *warm_hours = warm
        setup_ok = (preload["error"] is None and square_matches(preload["check"], model["preload"])
                    and at_hour(rerun) and all(o["error"] is None for o in warm_hours))
        if not at_hour(rerun):
            problems.append("re-running an already loaded window changed the warehouse")
    else:
        ref = {}
        for o in warm:
            ref.setdefault(o["name"], o["check"])
        oks = [o["error"] is None and o["check"] == ref.get(o["name"]) for o in ops]
        setup_ok = all(o["error"] is None and o["check"] == ref[o["name"]] for o in warm)
        if setup_ok:
            bad = oracle_check(root, data, os.path.join(work, "results"),
                               [q for q in QUERIES if q not in NO_ORACLE])
            problems += bad
            setup_ok = not bad
    for o, ok in zip(ops, oks):
        if not ok and not o["error"]:
            problems.append(f"{o['name']}: output check failed")
    return setup_ok, oks, problems


# ---------------------------------------------------------------- metrics

def tail(xs):
    """The 75th percentile of op latency. A run holds too few ops for a
    percentile with 10 ops beyond it, and the slowest of a few ops mostly
    measures the box, not the program."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def end_to_end(workload, out, setup_s):
    ops = out["ops"]
    secs = [o["secs"] for o in ops]
    key = "ingested_rows" if workload == "square_hourly" else "input_records"
    rows = sum(o[key] for o in ops)
    t = tail(secs)
    log(f"op_tail_s is p75 of {len(secs)} ops")
    return {
        "setup_s": setup_s,
        "wall_s": statistics.fmean(out["pass_secs"]),
        "op_p50_s": statistics.median(secs),
        "op_tail_s": t,
        "rows_per_s": rows / sum(secs),
        "peak_rss_mb": out["peak_rss_mb"],
    }


def per_layer(out):
    """Every PER_LAYER metric; 0 where the workload never enters the layer."""
    layers = dict(out["layers"])
    last = [o["check"] for o in out["ops"] if o["check"].get("bytes")]
    if last:
        live = sum(v["rows"] for k, v in last[-1].items() if k.startswith("pos_"))
        layers["upsert.warehouse_bytes_per_row"] = last[-1]["bytes"] / live
    preload = [o for o in out["warm"] if o["name"] == "preload"]
    if preload:
        layers["pipeline.preload_s"] = preload[0]["secs"]
    return {k: layers.get(k, 0.0) for k in PER_LAYER}


# -------------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # a SIGTERM unwinds like an error, so the JVM is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at a Spark distribution")
    classpath = build(root)

    spec = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        setup_start = time.time()
        extra = []
        model = None
        if "feed" in spec:
            info, model = gen.square_feed(os.path.join(data, "feed"), args.seed, spec["feed"],
                                          spec["hours"])
            extra.append(f"t0={info['t0_epoch']}")
        else:
            gen.tables(data, args.seed, spec["sf"])
            names = list(spec["queries"])
            random.Random(args.seed).shuffle(names)
            extra.append("queries=" + ",".join(names))
        log(f"inputs generated in {time.time() - setup_start:.2f} s")
        cpus = os.cpu_count() or 4
        out_file = os.path.join(work, "result.json")
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in SPARK_OPENS] +
               ["-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-cp", classpath, "graftbench.Main",
                f"workload={args.workload}", f"seconds={args.seconds}", f"trace={args.trace}",
                f"cpus={cpus}", f"data={data}", f"work={work}", f"out={out_file}"] + extra)
        env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        budget = max(RUN_BUDGET_S - (time.time() - started), 10)
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            rc = run_child(cmd, budget, jlog, cwd=work, env=env)
        if rc is None:
            fail(f"harness exceeded {budget:.0f} s")
        if rc != 0 or not os.path.exists(out_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write("".join(l for l in f.readlines()[-60:]))
            fail(f"harness exited with {rc}")
        with open(out_file) as f:
            out = json.load(f)
        with open(os.path.join(work, "jvm.log")) as f:
            for line in f:
                if line.startswith("[graftbench]"):
                    sys.stderr.write(line)

        setup_ok, oks, problems = judge(args.workload, out, model, root, data, work)
        for m in problems:
            log(f"CHECK {m}")
        failed = oks.count(False)
        setup_s = out["first_op_epoch_ms"] / 1000.0 - setup_start
        if args.trace == 0:
            metrics = end_to_end(args.workload, out, setup_s)
            units = END_TO_END
        else:
            metrics = per_layer(out)
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(out["spans"], f)
            units = {k: PER_LAYER[k][0] for k in metrics}
        record = {"correct": bool(setup_ok and failed == 0), "attempted": len(oks),
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        print(json.dumps(record))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
