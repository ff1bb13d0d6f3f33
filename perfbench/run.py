#!/usr/bin/env python3
"""Warm-session benchmark of the spark-kg engine.

    python3 perfbench/run.py --workload kg_batch --seed 7 --seconds 6 --trace 0

One run = one long-lived local[nproc] Spark session:
  1. the workload's inputs are generated from --seed (child process, cached,
     outside all timing);
  2. the session starts, the dictionary/linker/alias tables are built and a
     fixed number of warm-up passes run (together: setup_s);
  3. identical passes over the same input run back to back (closed loop)
     until --seconds of pass wall time have been measured; every pass's
     output is checked.
--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced and
traced passes and prints the per-layer metrics (see README.md). The last
stdout line is the result JSON; the line before it carries per-pass
diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procstat  # noqa: E402

T_PROC0 = time.time() - procstat.process_age_s()
WORK = os.path.join(HERE, ".work")
MIN_PASSES = 2
DEFAULT_SEED = 7  # bench.py's page seed; expected.json pins its outputs


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def start_session(workload: str, cores: int, trace: bool):
    from fastie_spark.session import get_spark

    conf = {
        # a fixed heap (-Xms = -Xmx): with a growable one, when G1 grows
        # the heap moved peak_rss_mb by 0.7 GB between identical runs
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # each url-bucketed input file is its own scan split
        "spark.sql.files.openCostInBytes": str(64 << 20),
        # C1 only: the C2 warm-up outlasts any run this benchmark can afford
        # (see README.md), and its compile CPU would dominate cpu_s_per_kpage
        "spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1 -Xms2g",
    }
    if trace:
        shutil.rmtree(os.path.join(WORK, "events"), ignore_errors=True)
        os.makedirs(os.path.join(WORK, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": os.path.join(WORK, "events"),
            # the default codec is zstd, which stdlib json cannot read
            "spark.eventLog.compress": "false",
        })
    t = time.time()
    spark = get_spark(master=f"local[{cores}]", app_name=f"perfbench-{workload}",
                      shuffle_partitions=cores, extra_conf=conf)
    return spark, time.time() - t


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (it exits when that pipe
    closes) and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def jvm_ms(spark) -> tuple:
    """(JIT compile ms, GC ms) so far, from the JVM management beans."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime(), gc


def one_pass(spark, wl, k: int, tracer=None, traced: bool = False,
             warm: bool = False) -> dict:
    from workloads import clean

    out = os.path.join(WORK, "out", f"p{k}")
    clean(out)
    c0, (j0, g0), t0 = procstat.cpu_seconds(), jvm_ms(spark), time.time()
    if tracer is not None:
        tracer.active = traced
    try:
        res = wl.run_pass(out, warm)
    finally:
        if tracer is not None:
            tracer.active = False
    t1 = time.time()
    c1, (j1, g1) = procstat.cpu_seconds(), jvm_ms(spark)
    rec = {"k": k, "traced": traced, "t0": t0, "t1": t1, "wall": t1 - t0,
           "cpu": c1["total"] - c0["total"], "jvm_cpu": c1["jvm"] - c0["jvm"],
           "py_cpu": c1["py"] - c0["py"], "jit_s": (j1 - j0) / 1000.0,
           "gc_s": (g1 - g0) / 1000.0, "res": res,
           "bytes_written": 0, "files_written": 0}
    for d, _s, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                rec["files_written"] += 1
                rec["bytes_written"] += os.path.getsize(os.path.join(d, f))
    rec["problems"] = wl.check(out, res) if k >= 0 else []
    clean(out)
    return rec


def calibrate(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-thread Python loop: the host's speed at
    the time of the run, reported next to the walls."""
    t, x = time.perf_counter(), 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t


def trend(xs: list) -> float:
    """Relative excess of the first half of the timed passes over the
    second half; leftover warm-up shows as a large positive value."""
    if len(xs) < 2:
        return 0.0
    h = len(xs) // 2
    return _median(xs[:h]) / _median(xs[-h:]) - 1.0


def end_to_end(recs: list, setup_s: float, peak: float) -> dict:
    """The BENCHMARK.json end-to-end metrics. Throughput is per CPU second
    of the process tree: on a shared host stolen CPU stretches pass walls
    by up to 2x while CPU seconds move far less (see README.md). The wall
    rates are in the diagnostics line."""
    return {
        "setup_s": setup_s,
        "triples_per_cpu_s": _median([r["res"].triples / r["cpu"] for r in recs]),
        "cpu_s_per_kpage": _median([r["cpu"] / (r["res"].pages / 1000.0) for r in recs]),
        "peak_rss_mb": peak,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench = _bench_spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    cores = len(os.sched_getaffinity(0))  # what nproc prints
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers are forked from the JVM's daemon: they find the
    # program's package only through PYTHONPATH, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from inputs import ensure_inputs
    from tracing import NullTracer, Tracer
    from workloads import SPECS, Workload

    spec = SPECS[args.workload]
    t_in = time.time()
    inp = ensure_inputs(WORK, args.workload, args.seed, spec.size, spec.n_files or cores)
    wl = Workload(args.workload, inp, cores, NullTracer())
    calib = calibrate()
    t_in = time.time() - t_in

    spark, start_s = start_session(args.workload, cores, bool(args.trace))
    try:
        tracer = None
        if args.trace:
            tracer = wl.tracer = Tracer(spark)
            tracer.install()
        wl.setup(spark)
        warm = [one_pass(spark, wl, -1 - i, warm=i == 0) for i in range(spec.warmup)]
        setup_s = time.time() - T_PROC0 - t_in

        recs, k, measured = [], 0, 0.0
        h0 = procstat.host_ticks()
        while measured < args.seconds or k < MIN_PASSES * (2 if args.trace else 1):
            traced = bool(args.trace) and k % 2 == 1
            try:
                rec = one_pass(spark, wl, k, tracer, traced)
            except Exception as e:  # a failed pass is counted, not fatal
                rec = {"k": k, "traced": traced, "error": repr(e)[:300]}
            recs.append(rec)
            measured += rec.get("wall", 0.0)
            k += 1
        rss = procstat.peak_rss_mb()
        h1 = procstat.host_ticks()
        if args.trace:
            from layers import live_layers, log_layers

            values = live_layers(spark, wl, tracer, recs, start_s, WORK)
            log = os.path.join(WORK, "events", spark.sparkContext.applicationId)
    finally:
        stop_session(spark)

    ok = [r for r in recs if "error" not in r and not r["problems"]]
    digests = {json.dumps(r["res"].digest) for r in ok}
    failed = len(recs) - len(ok)
    pinned = None
    with open(os.path.join(HERE, "expected.json")) as fh:
        exp = json.load(fh).get(args.workload)
    if exp and args.seed == exp["seed"] and spec.size == exp["size"]:
        pinned = digests == {json.dumps(exp["digest"])}
    correct = failed == 0 and len(digests) == 1 and pinned is not False

    untraced = [r for r in ok if not r["traced"]]
    walls = [r["wall"] for r in untraced]
    diag = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "pages_per_pass": spec.size, "inputs_s": round(t_in, 3),
        "calib_s": round(calib, 4),
        "session_start_s": round(start_s, 3), "warmup_walls": [round(r["wall"], 3) for r in warm],
        "warmup_jit_s": [round(r["jit_s"], 3) for r in warm],
        "walls": [round(w, 3) for w in walls],
        "pages_per_s": round(_median([r["res"].pages / r["wall"] for r in untraced]), 3),
        "triples_per_s": round(_median([r["res"].triples / r["wall"] for r in untraced]), 3),
        "cpu_s": [round(r["cpu"], 3) for r in untraced],
        "rss_mb": {k: round(v, 1) for k, v in rss.items()},
        "jit_s": [round(r["jit_s"], 3) for r in untraced],
        "gc_s": [round(r["gc_s"], 3) for r in untraced],
        "jvm_cpu_s": [round(r["jvm_cpu"], 3) for r in untraced],
        "py_cpu_s": [round(r["py_cpu"], 3) for r in untraced],
        "trend": round(trend([r["cpu"] for r in untraced]), 4),
        "steal_share": round((h1[1] - h0[1]) / max(h1[0] - h0[0], 1), 4),
        "digest": sorted(digests)[0] if len(digests) == 1 else sorted(digests),
        "pinned_match": pinned,
        "errors": [r.get("error") or r["problems"] for r in recs
                   if "error" in r or r["problems"]],
    }
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}["cpu_s_per_kpage"]
    diag["steady"] = diag["trend"] <= bound
    if not diag["steady"]:
        print(f"perfbench: timed passes still trend by {diag['trend']:.1%} "
              f"(bound {bound:.0%}); warm-up is too short", file=sys.stderr)

    if args.trace:
        values.update(log_layers(log, tracer, recs))
        os.remove(log)
        defs = bench["per_layer"]
    else:
        values = end_to_end(untraced, setup_s, sum(rss.values())) if untraced else {}
        defs = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in defs}
    print(json.dumps(diag))
    print(json.dumps({"correct": bool(correct and untraced), "attempted": len(recs),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
