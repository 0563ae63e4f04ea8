"""The benchmark's own checks: seeded inputs, tail selection, event-log
parsing, and that the correctness check catches a wrong answer.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, reference, stats, trace  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = gen.write_topic(gen.make_topic(7, 5_000, 500), str(tmp_path / "a"), 2)
    b = gen.write_topic(gen.make_topic(7, 5_000, 500), str(tmp_path / "b"), 2)
    c = gen.write_topic(gen.make_topic(8, 5_000, 500), str(tmp_path / "c"), 2)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_generated_topic_has_the_declared_input_properties(tmp_path):
    t = gen.make_topic(3, 50_000, 2_000)
    assert abs(t.tombstone.mean() - gen.TOMBSTONE_SHARE) < 0.01
    assert abs(((t.publish_us - t.event_us) >= 60_000_000).mean() - gen.LATE_SHARE) < 0.01
    regressed = ~reference.dedup_survivors(t)
    assert 0.01 < regressed.mean() < 0.05
    assert (t.redelivery >= reference.MAX_REDELIVER).any()
    assert np.bincount(t.key_id).max() / len(t) > 0.05  # Zipf head
    table = pq.read_table(gen.write_topic(t, str(tmp_path), 1)[0])
    assert table.schema == gen.ARROW_SCHEMA


def test_tail_reports_percentile_and_sample_count():
    got = stats.tail([float(i) for i in range(1, 41)])
    assert got == {"pct": 75.0, "value": 30.0, "beyond": 10, "n": 40, "supported": True}
    got = stats.tail([float(i) for i in range(1, 201)])
    assert (got["pct"], got["beyond"], got["n"]) == (95.0, 10, 200)


def test_tail_without_ten_samples_beyond_falls_back_to_the_median_and_says_so():
    got = stats.tail([5.0, 1.0, 3.0, 2.0])
    assert got["value"] == 2.5 and got["pct"] == 50.0
    assert got["n"] == 4 and got["supported"] is False


def test_event_log_parser_reads_a_tiny_captured_log():
    events = trace.read_event_log(DATA, "tiny_eventlog")
    got = trace.spark_layers(events, 0, 1e13)
    assert got["spark.sql_executions"] == 2
    assert got["spark.jobs"] == 4
    assert got["spark.stages"] == 4
    assert got["spark.tasks"] == 6
    assert got["spark.executor_run_ms"] == 3861
    assert got["spark.shuffle_write_bytes"] == 590
    assert got["python.bytes_sent"] == 90784
    assert got["python.bytes_returned"] == 81576
    assert got["python.worker_run_ms"] == 2928
    # a window that excludes everything reads zero
    assert trace.spark_layers(events, 0, 1)["spark.tasks"] == 0


def test_jvm_heap_peak_is_the_largest_task_peak_inside_the_window():
    task = lambda launch, heap: {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": launch},
                                 "Task Executor Metrics": {"JVMHeapMemory": heap}}
    events = [task(5, 900 * 2**20), task(20, 300 * 2**20), task(30, 200 * 2**20),
              {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 25}}]
    assert trace.jvm_heap_peak_mb(events, 10, 40) == 300
    assert trace.jvm_heap_peak_mb(events, 50, 60) == 0


def test_stream_layers_read_progress_records():
    progress = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {"numInputRows": 300, "durationMs": {"triggerExecution": 900, "addBatch": 600,
                                             "walCommit": 40, "commitOffsets": 30},
         "stateOperators": [{"numRowsTotal": 250, "numRowsUpdated": 120,
                             "commitTimeMs": 12, "memoryUsedBytes": 4096}]},
        {"numInputRows": 500, "durationMs": {"triggerExecution": 1100, "addBatch": 700},
         "stateOperators": [{"numRowsTotal": 400, "numRowsUpdated": 180,
                             "commitTimeMs": 14, "memoryUsedBytes": 8192}]},
    ]
    got = trace.stream_layers(progress)
    assert got["streaming.batches"] == 3
    assert got["streaming.rows_per_batch"] == 400
    assert got["streaming.fixed_ms_per_batch"] == 350
    assert got["streaming.state_rows_total"] == 400
    assert got["streaming.state_rows_updated"] == 300
    assert got["python.groups_per_batch"] == 150
    assert "streaming.state_rows_total" not in trace.stream_layers(progress[:1])


def test_reference_fingerprints_flag_one_dropped_row():
    t = gen.make_topic(11, 20_000, 1_000)
    keep = [i for i in range(len(t)) if i != 12_345]
    dropped = gen.Topic(**{f: getattr(t, f)[keep] for f in (
        "key_id", "sequence", "tombstone", "payload_id", "publish_us", "event_us",
        "producer", "sequence_id", "redelivery")},
        pool_state=t.pool_state, pool_ok=t.pool_ok, pool_bytes=t.pool_bytes)
    for fn in (reference.dedup, reference.route):
        assert reference.mismatches(fn.__name__, fn(t), fn(dropped)), fn.__name__
    assert reference.mismatches("markov", reference.markov_totals(t),
                                reference.markov_totals(dropped))
    assert reference.mismatches("window", reference.window_counts(t),
                                reference.window_counts(dropped))
    assert not reference.mismatches("dedup", reference.dedup(t), reference.dedup(t))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.harness import shutdown_jvm, start_session
    work = str(tmp_path_factory.mktemp("spark"))
    session, _ = start_session(work, 2, traced=False)
    yield session
    shutdown_jvm()


def test_topic_batch_pass_is_correct_and_flags_an_injected_dropped_row(spark, tmp_path, monkeypatch):
    from perfbench import topic_batch
    from perfbench.harness import Timers

    monkeypatch.setattr(topic_batch, "N_MESSAGES", 20_000)
    monkeypatch.setattr(topic_batch, "N_KEYS", 2_000)
    wl = topic_batch.TopicBatch(5, str(tmp_path))
    wl.setup(spark, 0, traced=False)
    assert wl.one_pass(Timers(False)).errors == []

    # drop one message from one file: every op that sees it must disagree
    path = os.path.join(wl.path, sorted(os.listdir(wl.path))[0])
    table = pq.read_table(path)
    pq.write_table(pa.concat_tables([table.slice(0, 100), table.slice(101)]), path)
    errors = wl.one_pass(Timers(False)).errors
    assert any(e.startswith("dedup_by_sequence") for e in errors)
    assert any(e.startswith("route_failures") for e in errors)
    assert any(e.startswith("tumbling_time_window") for e in errors)
    assert any(e.startswith("subscription_backlog") for e in errors)


def test_workload_notes_match_the_code_and_the_declared_metrics():
    import json

    from perfbench import keyed_stream, topic_batch

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)
    with open(os.path.join(root, "perfbench", "WORKLOADS.json")) as f:
        notes = json.load(f)

    assert sorted(notes["workloads"]) == sorted(w["name"] for w in declared["workloads"])
    assert [m["metric"] for m in notes["layers"]] == [m["name"] for m in declared["per_layer"]]
    assert sorted(notes["end_to_end"]) == sorted(
        [m["name"] for m in declared["end_to_end"]] + ["error_rate"])

    tb, ks = notes["workloads"]["topic_batch"], notes["workloads"]["keyed_stream"]
    assert tb["input"] == {"messages": topic_batch.N_MESSAGES, "keys": topic_batch.N_KEYS,
                           "files": topic_batch.N_FILES}
    assert (ks["rate_files_per_s"], ks["file_rows"], ks["open_share"], ks["backlog_files"],
            ks["warmup_batches"], ks["warmup_files"], ks["input"]["keys"]) == (
        keyed_stream.FILE_RATE, keyed_stream.FILE_ROWS, keyed_stream.OPEN_SHARE,
        keyed_stream.BACKLOG_FILES, keyed_stream.WARMUP_BATCHES, keyed_stream.WARMUP_FILES,
        keyed_stream.N_KEYS)
    props = notes["input_properties"]
    assert (props["tombstone_share"], props["duplicate_share"], props["late_share"],
            props["redelivered_share"], props["fail_share"], props["producers"]) == (
        gen.TOMBSTONE_SHARE, gen.DUP_SHARE, gen.LATE_SHARE, gen.REDELIVERED_SHARE,
        gen.FAIL_SHARE, gen.N_PRODUCERS)
