from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_pulsar_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slowprofile: heavyweight parity/property/restart tests skipped "
        "in the default fast profile — every operator keeps at least "
        "one default-profile test; set SPARK_GRAFT_FULL_TESTS=1 to run "
        "the full suite (VERDICT r13 #2: the 1h23m suite outran the "
        "driver's verification window at 58%)")


_SLOW_MANIFEST = os.path.join(os.path.dirname(__file__),
                              "slow_tests.json")


_SKIPPED = pytest.StashKey[set]()


@pytest.hookimpl(tryfirst=True)  # before -k/-m deselection
def pytest_collection_modifyitems(config, items):
    """Default-fast profile (VERDICT r13 #2a): the full suite is
    ~1h22m and the driver's verification window killed it at 58%, so
    `pytest tests/` now skips the measured-slow tests listed in
    tests/slow_tests.json (~123 tests; every module AND every test
    class keeps at least its fastest member, so no operator loses
    default coverage) — ~30 min instead of ~82. The full suite runs
    with SPARK_GRAFT_FULL_TESTS=1 and remains the pre-commit bar for
    operator-internals changes. Regenerate the manifest after adding
    slow tests: tools/gen_slow_manifest.py over a
    `pytest tests/ -q --durations=0` log.

    A manifest entry that names no collected test (renamed, moved or
    deleted) warns, so the profile cannot drift silently; only whole
    collected files are checked, since a ``file::test`` selection
    collects part of its file."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    import json
    import warnings

    slow = set()
    if os.path.exists(_SLOW_MANIFEST):
        with open(_SLOW_MANIFEST) as f:
            slow = set(json.load(f))
    if not any("::" in a for a in config.args):
        collected = {item.nodeid for item in items}
        files = {n.split("::")[0] for n in collected}
        stale = sorted(
            e for e in slow if e not in collected
            and (e.split("::")[0] in files
                 or not (config.rootpath / e.split("::")[0]).exists()))
        if stale:
            warnings.warn(pytest.PytestWarning(
                f"tests/slow_tests.json: {len(stale)} entries match no "
                f"collected test: {stale}"))
    skip = pytest.mark.skip(
        reason="slow profile (SPARK_GRAFT_FULL_TESTS=1 to include)")
    skipped = set()
    for item in items:
        if item.get_closest_marker("slowprofile") or item.nodeid in slow:
            item.add_marker(skip)
            skipped.add(item.nodeid)
    config.stash[_SKIPPED] = skipped


def pytest_terminal_summary(terminalreporter, config):
    if _SKIPPED in config.stash:
        n = sum(1 for r in terminalreporter.stats.get("skipped", [])
                if r.nodeid in config.stash[_SKIPPED])
        terminalreporter.write_line(
            f"fast profile skipped {n} slow tests (tests/slow_tests.json;"
            f" SPARK_GRAFT_FULL_TESTS=1 runs them)")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
