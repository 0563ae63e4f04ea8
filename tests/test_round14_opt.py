"""Round-14 optimization locks.

The r13 driver run hash-failed exactly the six gates whose output
carried a DECIMAL column (0/190 ever-driver-green gates emit one), and
``rfm_customers`` was additionally sensitive to the session timezone
(the driver builds its own SparkSession and does not pin
``spark.sql.session.timeZone``). These tests lock the repaired
contracts:

- no oracle (and hence no gated query) emits a DECIMAL output column;
- epoch math in ``rfm_segments`` is session-timezone-proof;
- link_prediction's single engine-side float op (round(ln(deg)·1e9))
  sits far from every rounding boundary, so a 1-ulp libm difference
  between engines cannot flip it.
"""

import math

import pytest


def test_no_oracle_emits_decimal_columns():
    """DuckDB DESCRIBE binds every oracle without executing it; any
    DECIMAL output column is the r13 driver-red class."""
    import duckdb

    from incubator_pulsar_spark.plans.queries import ALL_QUERIES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    sf = "/root/testdata/sf0.001"
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents",
              "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    bad = {}
    for name, q in ALL_QUERIES.items():
        if q.oracle is None:
            continue
        cols = con.execute(f"DESCRIBE {q.oracle}").fetchall()
        dec = [c[0] for c in cols if "DECIMAL" in c[1].upper()]
        if dec:
            bad[name] = dec
    assert not bad, (
        f"DECIMAL output columns (driver-red class, r13): {bad}")


def test_repaired_gates_spark_schemas_are_decimal_free(spark):
    from incubator_pulsar_spark.plans.queries import ALL_QUERIES

    sf = "/root/testdata/sf0.001"
    for name in ("cusum_max_events", "gini_orders", "ks_pairs_events",
                 "rfm_customers"):
        t = ALL_QUERIES[name].build(spark, sf).schema.simpleString()
        assert "decimal" not in t, (name, t)


def test_rfm_epoch_is_session_timezone_proof(spark):
    import datetime as dt

    from incubator_pulsar_spark.functions import behavior

    t0 = dt.datetime(2024, 3, 9, 13, 30, 7)  # spans a US DST edge
    rows = [("A", t0, 1.0), ("B", t0 + dt.timedelta(days=2), 2.0),
            ("C", t0 - dt.timedelta(days=40), 3.0)]
    df = spark.createDataFrame(
        rows, "e string, ts timestamp_ntz, v double")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = sorted(map(tuple, behavior.rfm_segments(
            df, entity_col="e", ts_col="ts", value_col="v").collect()))
        spark.conf.set("spark.sql.session.timeZone",
                       "America/Los_Angeles")
        la = sorted(map(tuple, behavior.rfm_segments(
            df, entity_col="e", ts_col="ts", value_col="v").collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert utc == la
    # and the UTC values are the plain NTZ-as-UTC epochs
    by_e = {r[0]: r for r in utc}
    anchor = dt.datetime(2024, 3, 11, 13, 30, 7)
    want = int((anchor - (t0 - dt.timedelta(days=40))).total_seconds()
               * 1000)
    assert by_e["C"][1] == want


def test_head50_entries_carry_local_proof():
    """Rotation safety (VERDICT r13 #8): every driver-gated head-50
    entry must carry a recorded local oracle proof at sf0.01 AND sf0.1
    (plans/head50_proof.json, regenerated by
    tools/gen_head50_proof.py). A rotation that moves an unproven
    query into the head fails here until the proof run is green."""
    import json
    import os

    from incubator_pulsar_spark.plans.queries import ALL_QUERIES

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "head50_proof.json")
    assert os.path.exists(path), (
        "plans/head50_proof.json missing — run tools/gen_head50_proof.py")
    manifest = json.load(open(path))
    head = list(ALL_QUERIES)[:50]
    missing = [n for n in head
               if not (manifest["proof"].get(n, {}).get("sf0.01")
                       and manifest["proof"].get(n, {}).get("sf0.1"))]
    assert not missing, (
        f"head-50 entries without a dual-SF local proof: {missing} — "
        f"run tools/gen_head50_proof.py before rotating them in")


def test_ln_snap_is_boundary_safe_for_small_degrees():
    """m9 = round(ln(k)*1e9) is the one engine-side float op left in
    link_prediction; assert every k <= 200 sits >= 1e-4 from a .5
    boundary (measured min is ~2.2e-3 at k=173), so a 1-ulp libm
    difference (~4e-7 at this magnitude) cannot flip the snap."""
    worst = min(abs((math.log(k) * 1e9) % 1.0 - 0.5)
                for k in range(2, 201))
    assert worst > 1e-4


def test_cusum_integer_units_match_decimal_form(spark):
    """The 1e-4-unit integer CUSUM equals the old decimal statistic
    times 1e4 on values with <= 4 decimals."""
    import datetime as dt

    from incubator_pulsar_spark.functions import behavior

    t0 = dt.datetime(2024, 1, 1)
    vals = [0.1235, 7.25, 3.0001, 9.9999, 2.5, 2.5, 0.0003]
    rows = [("g", t0 + dt.timedelta(seconds=i), i, v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "grp string, ts timestamp, event_id long, value double")
    r = behavior.cusum_max(df, ["grp"],
                           tiebreak_col="event_id").collect()[0]
    # brute-force model in exact quarter-units
    x4 = [round(v * 10000) for v in vals]
    n, sn = len(x4), sum(x4)
    stats = [abs(n * sum(x4[:k]) - k * sn) for k in range(1, n + 1)]
    assert r.max_stat4 == max(stats)
    assert r.argmax_k == stats.index(max(stats)) + 1
