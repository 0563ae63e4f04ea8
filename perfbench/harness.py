"""Session, set-up and timing plumbing shared by the workloads."""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import SparkContext

from incubator_pulsar_spark.session import get_spark

DRIVER_MEMORY = "1g"
# Spark's JVM JIT-compiles with C1 only, because C2's profile-driven code
# differs from one JVM to the next: on identical input, steady topic_batch
# passes took 4.4 s in one process and 6.4 s in another. So operator and
# Spark timings are C1-only figures, not the cost of a deployed (C2) JVM.
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


@dataclass
class OpResult:
    """One op as the client saw it. ``errors`` holds every exception and
    reference mismatch; a non-empty list makes the op a failed one."""

    latency_ms: float
    rows: int
    errors: list[str] = field(default_factory=list)


class Timers:
    """Call timers and counters around the benchmark's calls into public
    engine functions. Off, they record nothing and cost one branch."""

    def __init__(self, on: bool):
        self.on = on
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples[name].append((time.perf_counter() - t0) * 1e3)

    def count(self, name: str, n: float) -> None:
        if self.on:
            self.counts[name] += n


def slots_for(gen_threads: int) -> tuple[int, int]:
    """(Spark task slots, nproc): slots + generator threads <= nproc."""
    nproc = os.cpu_count() or 1
    return max(1, nproc - gen_threads), nproc


def session_conf(work: str, traced: bool) -> dict[str, str]:
    """Keep every temporary file inside ``work``; the event log only when traced."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTIONS,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + logs,
            # each task's end event then carries the JVM heap in use
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


def start_session(work: str, slots: int, traced: bool):
    """A SparkSession pinned to ``slots`` cores in a newly launched JVM;
    (session, seconds to launch the JVM and start the session)."""
    shutdown_jvm()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{os.path.basename(work)}", master=f"local[{slots}]",
                      shuffle_partitions=slots, extra_conf=session_conf(work, traced))
    return spark, time.perf_counter() - t0


def shutdown_jvm() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
