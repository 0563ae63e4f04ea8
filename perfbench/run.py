#!/usr/bin/env python3
"""Data-plane benchmark for the PySpark topic engine.

    python3 perfbench/run.py --workload topic_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads: ``topic_batch`` (closed-loop
bulk catch-up over the ``operators`` layer) and ``keyed_stream``
(open-loop function + keyed-state stream); ``perfbench/WORKLOADS.json``
says what each one loads and why.

One pass = a newly launched JVM and SparkSession, ``SETUPS`` set-ups
(each writes the workload's input files and runs a fixed warm-up; the
first also covers the JVM and session start, and in the first pass the
process start), then ``--seconds`` of measured ops, every op checked
against a pandas/numpy reference. ``setup_s`` is the median set-up;
``cold_start_s`` is the first one, from process start. ``--trace 0``
prints the end-to-end metrics of one untraced pass. ``--trace 1`` runs
that pass and then a traced one in a JVM of its own (event log, progress
records, call timers) and prints the per-layer metrics plus
``trace.overhead.*`` = traced - untraced. The last stdout line is the
JSON result; the line before it holds details (sample counts, tail
percentile, Spark slots, nproc, errors).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import this directory as the ``perfbench`` package: as loose modules on
# the path, its trace.py would shadow the standard library's
sys.path[0] = ROOT

from perfbench import stats, trace  # noqa: E402
from perfbench.harness import Timers, shutdown_jvm, slots_for, start_session  # noqa: E402
from perfbench.keyed_stream import KeyedStream  # noqa: E402
from perfbench.topic_batch import TopicBatch  # noqa: E402

WORKLOADS = {w.name: w for w in (TopicBatch, KeyedStream)}
SETUPS = 3
# traced - untraced is reported for these; not for cold_start_s, which
# only the untraced pass measures from process start
OVERHEAD = ("setup_s", "latency_ms_p50", "latency_ms_tail", "throughput_rows_s", "peak_rss_mb")


def run_pass(cls, seed: int, seconds: float, work: str, traced: bool, t_first: float,
             layer_names: list[str]) -> dict:
    """Set up ``SETUPS`` times, measure once; end-to-end figures, layers, details."""
    os.makedirs(work)
    slots, nproc = slots_for(cls.gen_threads)
    wl = cls(seed, work)
    # one JVM and SparkSession per pass, so the traced pass starts as cold
    # as the untraced one; set-ups after the first reuse them
    spark, session_s = start_session(work, slots, traced)
    setup_s, t = [], t_first
    for k in range(SETUPS):
        wl.stop()
        wl.setup(spark, k, traced)
        now = time.perf_counter()
        setup_s.append(now - t)
        t = now

    timers, rss = Timers(traced), stats.PeakRss()
    rss.sample()
    t0_ms, t0 = time.time() * 1e3, time.perf_counter()
    results = wl.measure(seconds, timers, rss.sample)
    wall_s, t1_ms = time.perf_counter() - t0, time.time() * 1e3
    rss.sample()
    wl.check(results)
    wl.stop()

    errors = [e for r in results for e in r.errors]
    failed = sum(1 for r in results if r.errors)
    ok_lat = [r.latency_ms for r in results if not r.errors and not math.isnan(r.latency_ms)]
    if not ok_lat:
        raise RuntimeError(f"{cls.name}: no op succeeded: {errors[:5]}")
    tail = stats.tail(ok_lat)
    e2e = {
        "cold_start_s": setup_s[0],
        "setup_s": stats.median(setup_s),
        "latency_ms_p50": stats.median(ok_lat),
        "latency_ms_tail": tail["value"],
        "throughput_rows_s": wl.throughput_rows_s(results),
        "peak_rss_mb": rss.total_mb(),
    }
    details = {
        "workload": cls.name, "traced": traced, "seed": seed, "seconds": seconds,
        "spark_slots": slots, "nproc": nproc, "gen_threads": cls.gen_threads,
        "setups_s": setup_s, "session_start_s": session_s,
        "ops": len(results), "failed": failed, "error_rate": failed / len(results),
        "latency_samples": len(ok_lat), "tail": tail, "measured_s": wall_s,
        "latency_ms": [round(v, 1) for v in ok_lat],
        "errors": errors[:20],
        **wl.details(),
    }
    layers = None
    if traced:
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes the event log
        events = trace.read_event_log(os.path.join(work, "eventlog"), app_id)
        got = _layers(wl, events, timers, results, slots, nproc, session_s, t0_ms, t1_ms)
        measured = [n for n in layer_names if not n.startswith("trace.overhead.")]
        details["layers_absent"] = [n for n in measured if n not in got]
        layers = {n: float(got.get(n, 0.0)) for n in measured}
    return {"e2e": e2e, "layers": layers, "details": details,
            "attempted": len(results), "failed": failed}


def _layers(wl, events, timers, results, slots, nproc, session_s, t0_ms, t1_ms) -> dict:
    """Per-layer figures the workload produced. Event-log totals and timer
    counts are per op (``wl.layer_ops``); timer samples are summarized by
    their name: ``*_max`` takes the maximum, anything else the median."""
    ops = wl.layer_ops(results)
    sp = trace.spark_layers(events, t0_ms, t1_ms)
    got = {"session.start_s": session_s,
           "bench.spark_slots": float(slots), "bench.nproc": float(nproc),
           "spark.busy_share": sp["spark.executor_run_ms"] / ((t1_ms - t0_ms) * slots),
           "spark.jvm_heap_peak_mb": trace.jvm_heap_peak_mb(events, t0_ms, t1_ms)}
    got.update({k: v / ops for k, v in sp.items()})
    got.update(trace.stream_layers(wl.progress) if wl.progress else {})
    for name, samples in timers.samples.items():
        got[name] = max(samples) if name.endswith("_max") else stats.median(samples)
    for name, count in timers.counts.items():
        got[name] = count / ops
    return got


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    layer_names = [m["name"] for m in declared["per_layer"]]
    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the JVM and the Python workers inherit these: temporary files stay in
    # the checkout, and the benchmark's own functions unpickle by module path
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        plain = run_pass(cls, args.seed, args.seconds, os.path.join(work, "plain"),
                         False, T_START, layer_names)
        passes = [plain]
        if args.trace:
            traced = run_pass(cls, args.seed, args.seconds, os.path.join(work, "traced"),
                              True, time.perf_counter(), layer_names)
            passes.append(traced)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    if args.trace:
        values = dict(traced["layers"])
        for k in OVERHEAD:
            values[f"trace.overhead.{k}"] = traced["e2e"][k] - plain["e2e"][k]
        wanted = declared["per_layer"]
    else:
        values = plain["e2e"]
        wanted = declared["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    print(json.dumps({"details": [p["details"] for p in passes],
                      "end_to_end": [p["e2e"] for p in passes]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
