"""``keyed_stream``: open loop at a fixed file rate into one running
query. A per-record Pulsar-style function (``functions.runtime.apply_function``,
a scalar pandas UDF) decodes each payload's event type, then per-key
Python state (``streaming.behavior.markov_stream``, applyInPandasWithState)
folds Zipf user keys into transition counts appended to a parquet sink.
After the open-loop phase the same query drains staged backlogs.
The open loop writes each file into one input directory; a backlog
lands as a directory of its own, renamed into the input at once, so no
trigger sees half of it.

This is the per-Arrow-group cost of keyed state, the scalar-UDF Arrow
boundary, the per-micro-batch fixed cost, state growth and sink writes:
everything ``topic_batch`` bypasses. The open-loop rate (900 rows/s) is
about half the drain rate (about 1,900 rows/s for 4,500-row backlogs on
a 4-core host), so the backlog stays flat while the loop is open.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from incubator_pulsar_spark.envelope import MESSAGE_SCHEMA
from incubator_pulsar_spark.functions.runtime import apply_function
from incubator_pulsar_spark.streaming.behavior import markov_stream

from . import gen, reference, stats
from .harness import OpResult, Timers

N_KEYS = 20_000
FILE_ROWS = 150
FILE_RATE = 6.0          # files per second in the open loop
OPEN_SHARE = 0.5         # share of --seconds spent in the open loop
BACKLOG_FILES = 30       # files staged at once per drain round
WARMUP_BATCHES = 1       # each set-up's query first commits this many batches
WARMUP_FILES = 2         # of this many files each
MAX_FILES = 1024         # generated up front; enough for --seconds 60


def event_type(payload):
    """The function: one record in, its event type out (None for a tombstone)."""
    return None if payload is None else json.loads(payload)["t"]


def function_body(values: pd.Series) -> pd.Series:
    return values.map(event_type)


def traced_function_body(log_dir: str):
    """``function_body`` that appends '<rows> <ns>' per call to a per-worker file."""
    def timed(values: pd.Series) -> pd.Series:
        t0 = time.perf_counter_ns()
        out = values.map(event_type)
        ns = time.perf_counter_ns() - t0
        with open(os.path.join(log_dir, f"udf-{os.getpid()}.log"), "a") as f:
            f.write(f"{len(values)} {ns}\n")
        return out
    return timed


def read_udf_logs(log_dir: str) -> tuple[int, int, float]:
    """(calls, rows, ms) summed over every worker's log."""
    calls = rows = ns = 0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                r, t = line.split()
                calls, rows, ns = calls + 1, rows + int(r), ns + int(t)
    return calls, rows, ns / 1e6


def batch_end_ms(p: dict) -> float:
    """Commit time of a micro-batch: trigger start + triggerExecution."""
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() * 1e3 + p["durationMs"].get("triggerExecution", 0)


def batch_start_ms(p: dict) -> float:
    return batch_end_ms(p) - p["durationMs"].get("triggerExecution", 0)


def commit_times(progress: list[dict], file_rows: list[int]) -> list[float | None]:
    """Epoch ms at which each file (in arrival order) was committed,
    matching cumulative file rows to cumulative batch ``numInputRows``;
    None for a file no batch has covered yet."""
    batches = [(p["numInputRows"], batch_end_ms(p)) for p in progress if p["numInputRows"]]
    cum_b = np.cumsum([b[0] for b in batches])
    out = []
    for cum_f in np.cumsum(file_rows):
        i = int(np.searchsorted(cum_b, cum_f))
        out.append(batches[i][1] if i < len(batches) else None)
    return out


def _open_backlog(progress: list[dict], log: list[dict], commits: list) -> list[int]:
    """Files written but not yet committed, at each open-loop trigger start."""
    out = []
    for p in progress:
        start = batch_start_ms(p)
        written = sum(1 for e in log if e["written_ms"] <= start)
        done = sum(1 for e in log if commits[e["file"]] and commits[e["file"]] <= start)
        if written:
            out.append(written - done)
    return out


def _parquet_files(top: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``top``."""
    files = size = 0
    for d, _, names in os.walk(top):
        for n in names:
            if n.endswith(".parquet"):
                files, size = files + 1, size + os.path.getsize(os.path.join(d, n))
    return files, size


class KeyedStream:
    name = "keyed_stream"
    gen_threads = 1

    def __init__(self, seed: int, work: str):
        self.work = work
        self.topic = gen.make_topic(seed, FILE_ROWS * MAX_FILES, N_KEYS)
        self.query = None
        self.progress: list[dict] = []

    def _file(self, i: int):
        return self.topic.slice(i * FILE_ROWS, (i + 1) * FILE_ROWS).to_arrow()

    def setup(self, spark, k: int, traced: bool) -> None:
        self.spark = spark
        base = os.path.join(self.work, f"stream-{k}")
        self.input, self.sink = os.path.join(base, "in"), os.path.join(base, "sink")
        self.udf_logs, self.staging = os.path.join(base, "udf"), os.path.join(base, "staging")
        self.open_dir = os.path.join(self.input, "open")
        for d in (self.open_dir, self.udf_logs, self.staging):
            os.makedirs(d)
        self.n_files = 0
        fn = traced_function_body(self.udf_logs) if traced else function_body
        source = spark.readStream.schema(MESSAGE_SCHEMA).parquet(os.path.join(self.input, "*"))
        stream = apply_function(source, fn, input_col="value", output_col="event_type",
                                drop_nulls=False)
        out = markov_stream(stream, key_col="key", order_col="sequence", state_col="event_type")
        self.query = (out.writeStream.format("parquet").outputMode("append")
                      .option("path", self.sink)
                      .option("checkpointLocation", os.path.join(base, "checkpoint"))
                      .start())
        for _ in range(WARMUP_BATCHES):
            self._append(WARMUP_FILES, burst=True)
            self.query.processAllAvailable()

    def _append(self, count: int, burst: bool = False) -> list[float]:
        """Write the next ``count`` files; per-file write ms. A ``burst``
        is written into a new staging directory that is then renamed
        into the input, so one trigger sees all of its files or none.
        (The input stays a handful of directories: past 32 of them Spark
        would list them with a job of their own.)"""
        batch = f"b-{self.n_files:05d}"
        target = os.path.join(self.staging, batch) if burst else self.open_dir
        if burst:
            os.makedirs(target)
        ms = []
        for _ in range(count):
            t0 = time.perf_counter()
            gen.write_file(self._file(self.n_files),
                           os.path.join(target, f"f-{self.n_files:05d}.parquet"))
            ms.append((time.perf_counter() - t0) * 1e3)
            self.n_files += 1
        if burst:
            os.replace(target, os.path.join(self.input, batch))
        return ms

    def _open_loop(self, seconds: float, log: list) -> None:
        """Generator thread: file i is due at start + i / FILE_RATE,
        whether or not the engine kept up."""
        start = time.time()
        for i in range(int(seconds * FILE_RATE)):
            due = start + i / FILE_RATE
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            sent = time.time()
            write_ms = self._append(1)[0]
            log.append({"file": self.n_files - 1, "due_ms": due * 1e3,
                        "late_ms": (sent - due) * 1e3, "write_ms": write_ms,
                        "written_ms": sent * 1e3 + write_ms})

    def measure(self, seconds: float, timers: Timers, on_op) -> list[OpResult]:
        for name in os.listdir(self.udf_logs):  # keep only the measured calls
            os.remove(os.path.join(self.udf_logs, name))
        sink_before = _parquet_files(self.sink)
        measure_start_ms = time.time() * 1e3
        log: list[dict] = []
        gen_thread = threading.Thread(target=self._open_loop, args=(seconds * OPEN_SHARE, log))
        gen_thread.start()
        while gen_thread.is_alive():
            gen_thread.join(1.0)
            on_op()
        self.query.processAllAvailable()  # each drain starts from an idle query
        # drain rounds: stage BACKLOG_FILES at once, wait for the commit
        drains, deadline = [], time.perf_counter() + seconds * (1 - OPEN_SHARE)
        while not drains or time.perf_counter() < deadline:
            self._append(BACKLOG_FILES, burst=True)
            staged_ms = time.time() * 1e3
            self.query.processAllAvailable()
            drains.append((self.n_files, staged_ms))
            on_op()

        progress = [json.loads(p.json) for p in self.query.recentProgress]
        rows = [FILE_ROWS] * self.n_files
        commits = commit_times(progress, rows)
        self.progress = [p for p in progress if batch_start_ms(p) >= measure_start_ms]
        if timers.on:
            timers.samples["streaming.backlog_files_max"] = (
                [BACKLOG_FILES] + _open_backlog(progress, log, commits))
            timers.samples["gen.late_ms_max"] = [e["late_ms"] for e in log]
            timers.samples["gen.write_ms_p50"] = [e["write_ms"] for e in log]
            files, size = _parquet_files(self.sink)
            timers.count("sink.files_written", files - sink_before[0])
            timers.count("sink.bytes_written", size - sink_before[1])
            calls, rows, ms = read_udf_logs(self.udf_logs)
            timers.count("functions.udf_calls", calls)
            timers.count("functions.udf_rows", rows)
            timers.count("functions.udf_ms", ms)

        results = []
        for e in log:
            c = commits[e["file"]]
            results.append(OpResult(latency_ms=(c - e["due_ms"]) if c else float("nan"),
                                    rows=FILE_ROWS,
                                    errors=[] if c else [f"file {e['file']} never committed"]))
        self.drain_s = [(commits[last - 1] - staged_ms) / 1e3 if commits[last - 1] else None
                        for last, staged_ms in drains]
        return results

    def check(self, results: list[OpResult]) -> None:
        """A wrong transition total cannot be pinned on one file, so it
        fails every op."""
        errors = self._check()
        for r in results:
            r.errors += errors

    def throughput_rows_s(self, results: list[OpResult]) -> float:
        """Backlog drain rate, the median over drain rounds of staged rows /
        (commit of the last staged file - staging)."""
        done = [s for s in self.drain_s if s]
        return BACKLOG_FILES * FILE_ROWS / stats.median(done) if done else 0.0

    def details(self) -> dict:
        return {"drain_s": self.drain_s}

    def layer_ops(self, results: list[OpResult]) -> int:
        """Layer totals are per data micro-batch."""
        return max(1, sum(1 for p in self.progress if p.get("numInputRows")))

    def _check(self) -> list[str]:
        """Sink transition totals against the reference over every row written."""
        got_rows = (self.spark.read.parquet(self.sink)
                    .filter(F.col("state").isNotNull())
                    .groupBy("state", "next_state").agg(F.sum("n_delta").alias("n"))
                    .collect())
        got = {(r["state"], r["next_state"]): int(r["n"]) for r in got_rows if r["n"]}
        dropped = self.spark.read.parquet(self.sink).agg(F.max("n_dropped_late")).first()[0]
        expected = reference.markov_totals(self.topic.slice(0, self.n_files * FILE_ROWS))
        errors = reference.mismatches("markov", expected, got)
        if dropped:
            errors.append(f"markov: {dropped} rows dropped as late")
        return errors

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
