"""Per-layer readings taken from outside the engine: Spark's event log
(uncompressed JSON lines) and ``StreamingQueryProgress`` records."""

from __future__ import annotations

import json
import os
import statistics

PYTHON_METRICS = {
    "time to start Python workers": "python.worker_boot_ms",
    "time to initialize Python workers": "python.worker_boot_ms",
    "time to run Python workers": "python.worker_run_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Every event of the stopped application ``app_id`` (one
    uncompressed, non-rolling log file named after it)."""
    with open(os.path.join(log_dir, app_id)) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_layers(events: list[dict], t0_ms: float, t1_ms: float) -> dict[str, float]:
    """Totals over work that started inside [t0_ms, t1_ms]: SQL executions,
    jobs, stages and tasks, executor time, shuffle and spill bytes, and
    the Python-worker SQL metrics."""
    inside = lambda t: t is not None and t0_ms <= t <= t1_ms
    out = dict.fromkeys([
        "spark.sql_executions", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
        *PYTHON_METRICS.values()], 0.0)
    for e in events:
        kind = e["Event"]
        if kind == SQL_START and inside(e.get("time")):
            out["spark.sql_executions"] += 1
        elif kind == "SparkListenerJobStart" and inside(e.get("Submission Time")):
            out["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted" and inside(e["Stage Info"].get("Submission Time")):
            out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and inside(e["Task Info"].get("Launch Time")):
            out["spark.tasks"] += 1
            m = e.get("Task Metrics") or {}
            out["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
            out["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["spark.gc_ms"] += m.get("JVM GC Time", 0)
            rd = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            out["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name and acc.get("Update") is not None:
                    out[name] += float(acc["Update"])
    return out


def jvm_heap_peak_mb(events: list[dict], t0_ms: float, t1_ms: float) -> float:
    """Most JVM heap in use while a task that started inside [t0_ms, t1_ms]
    ran: the maximum of the task end events' ``JVMHeapMemory`` peaks
    (filled in when executor metrics are polled)."""
    peak = 0
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd" and t0_ms <= e["Task Info"].get("Launch Time", -1) <= t1_ms:
            peak = max(peak, (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0))
    return peak / 2**20


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-micro-batch medians and state figures from progress records.
    State metrics appear only when the query has a state operator."""
    data = [p for p in progress if p.get("numInputRows")]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in data]
    out = {
        "streaming.batches": float(len(progress)),
        "streaming.rows_per_batch": _p50([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": _p50(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": _p50(dur("addBatch")),
        "streaming.wal_commit_ms_p50": _p50(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": _p50(dur("commitOffsets")),
        "streaming.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "streaming.query_planning_ms_p50": _p50(dur("queryPlanning")),
        "streaming.fixed_ms_per_batch": _p50(
            [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
             for p in data]),
    }
    states = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    if states:
        out.update({
            "streaming.state_rows_total": float(states[-1]["numRowsTotal"]),
            "streaming.state_rows_updated": float(sum(s["numRowsUpdated"] for s in states)),
            "streaming.state_commit_ms_p50": _p50([s["commitTimeMs"] for s in states]),
            "streaming.state_memory_bytes": float(states[-1]["memoryUsedBytes"]),
            "python.groups_per_batch": _p50([s["numRowsUpdated"] for s in states]),
        })
    return out
