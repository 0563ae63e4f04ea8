"""Property-based tests (hypothesis) for the round-13 session-2
operators: each Spark operator vs a pure-Python brute-force model on
generated fixtures — the test_properties.py style extended to the
sweep-line / inequality / drift / survival / basket families."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F  # noqa: F401  (parity with suite style)

SLOW = settings(max_examples=10, deadline=None,
                suppress_health_check=[HealthCheck.function_scoped_fixture,
                                       HealthCheck.too_slow])

intervals = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 50)),
    min_size=1, max_size=20)


@given(iv=intervals)
@SLOW
def test_interval_coverage_matches_sweep_model(spark, iv):
    from incubator_pulsar_spark.operators.interval import (
        interval_coverage,
    )

    df = spark.createDataFrame([("g", s, e) for s, e in iv],
                               "g string, s long, e long")
    got = interval_coverage(df, ["g"], start_col="s",
                            end_col="e").collect()
    keep = [(s, e) for s, e in iv if e > s]
    if not keep:
        assert got == []
        return
    r = got[0]
    events = sorted([(s, 1) for s, _ in keep]
                    + [(e, -1) for _, e in keep],
                    key=lambda t: (t[0], t[1]))
    run = peak = covered = 0
    for (t, d), nxt in zip(events, events[1:] + [(None, None)]):
        run += d
        peak = max(peak, run)
        if nxt[0] is not None and run > 0:
            covered += nxt[0] - t
    assert (r.n_intervals, r.total_ms, r.covered_ms,
            r.peak_concurrency) == (
        len(keep), sum(e - s for s, e in keep), covered, peak)


@given(vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=25))
# negative sums give a negative quotient, where a truncating div with
# a fixed +den term rounds toward zero (exact -1.0 and -0.333333)
@example(vals=[-3, 1])
@example(vals=[-5, -2, -1])
@SLOW
def test_gini_matches_rank_identity_model(spark, vals):
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    from incubator_pulsar_spark.functions import concentration

    df = spark.createDataFrame([("g", float(v)) for v in vals],
                               "g string, v double")
    r = concentration.gini(df, ["g"], "v").collect()[0]
    xs = sorted(vals)
    n, s = len(xs), sum(xs)
    w = sum((i + 1) * x for i, x in enumerate(xs))
    assert r.n == n
    if s == 0:
        assert r.gini is None
    else:
        # exact decimal round-6, half away from zero (scale-invariant,
        # so the model's unit values match the engine's 1e-4 units)
        num, den = 2 * w - (n + 1) * s, n * s
        with localcontext() as ctx:
            ctx.prec = 60
            g6 = (Decimal(num * 10**6) / Decimal(den)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP)
        assert r.gini == int(g6) / 1e6


@given(rows=st.lists(st.tuples(st.sampled_from("abcd"),
                               st.integers(0, 100)),
                     min_size=1, max_size=25))
@SLOW
def test_hhi_matches_share_model(spark, rows):
    from incubator_pulsar_spark.functions import concentration

    df = spark.createDataFrame([("g", e, float(v)) for e, v in rows],
                               "g string, e string, v double")
    r = concentration.hhi(df, ["g"], "e", "v").collect()[0]
    per: dict[str, int] = {}
    for e, v in rows:
        per[e] = per.get(e, 0) + v
    s = sum(per.values())
    assert r.n_entities == len(per)
    if s == 0:
        assert r.hhi is None
    else:
        assert r.hhi == round(sum(x * x for x in per.values())
                              / (s * s), 6)


@given(a=st.lists(st.integers(0, 20), min_size=1, max_size=15),
       b=st.lists(st.integers(0, 20), min_size=1, max_size=15))
@SLOW
def test_ks_pairs_matches_cdf_model(spark, a, b):
    from incubator_pulsar_spark.functions import quantiles

    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, value double")
    r = quantiles.ks_pairs(df, "g", "value").collect()[0]
    na, nb = len(a), len(b)
    best, arg = -1, None
    for v in sorted(set(a) | set(b)):
        s = abs(sum(1 for x in a if x <= v) * nb
                - sum(1 for x in b if x <= v) * na)
        if s > best:
            best, arg = s, v
    assert int(r.d_num) == best
    k6 = (2 * best * 10**6 + na * nb) // (2 * na * nb)
    assert r.ks == k6 / 1e6
    assert r.argmax_v4 == arg * 10000


@given(rows=st.lists(st.tuples(st.integers(0, 5),
                               st.sampled_from("abcde")),
                     min_size=1, max_size=30))
@SLOW
def test_association_rules_match_set_model(spark, rows):
    from incubator_pulsar_spark.functions.baskets import (
        association_rules,
    )

    df = spark.createDataFrame(rows, "basket long, item string")
    got = {(r.item_a, r.item_b): r for r in association_rules(
        df, basket_col="basket", item_col="item").collect()}
    baskets: dict[int, set] = {}
    for bk, it in rows:
        baskets.setdefault(bk, set()).add(it)
    n_b = len(baskets)
    items = sorted({i for s in baskets.values() for i in s})
    cnt = {i: sum(1 for s in baskets.values() if i in s)
           for i in items}
    expect = {}
    for i, x in enumerate(items):
        for y in items[i + 1:]:
            nab = sum(1 for s in baskets.values()
                      if x in s and y in s)
            if nab:
                expect[(x, y)] = nab
    assert {k: v.n_ab for k, v in got.items()} == expect
    for (x, y), v in got.items():
        assert v.n_baskets == n_b
        assert v.lift_micro == (v.n_ab * n_b * 1_000_000) // (
            cnt[x] * cnt[y])


@given(edges=st.lists(st.tuples(st.sampled_from("abcdef"),
                                st.sampled_from("abcdef")),
                      min_size=1, max_size=15))
@SLOW
def test_assortativity_matches_formula(spark, edges):
    from incubator_pulsar_spark.functions import graph

    df = spark.createDataFrame(edges, "src string, dst string")
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    rows = graph.assortativity(df).collect()
    if not und:
        # canonical collapse is empty -> single all-null/0 agg row
        assert rows[0].n_edges == 0
        return
    r = rows[0]
    deg: dict[str, int] = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    pts = [(deg[u], deg[v]) for u, v in und] \
        + [(deg[v], deg[u]) for u, v in und]
    m = len(pts)
    s = sum(x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    assert r.n_edges == len(und)
    den = m * sxx - s * s
    if den == 0:
        assert r.assortativity is None
    else:
        assert r.assortativity == round((m * sxy - s * s) / den, 6)


@given(rows=st.lists(st.tuples(st.integers(0, 6), st.booleans()),
                     min_size=1, max_size=20))
@SLOW
def test_kaplan_meier_matches_product_model(spark, rows):
    from incubator_pulsar_spark.functions.survival import kaplan_meier

    df = spark.createDataFrame([(d, int(e)) for d, e in rows],
                               "dur long, e int")
    got = {r.duration: (r.n_risk, r.n_events, r.survival)
           for r in kaplan_meier(df, [], duration_col="dur",
                                 event_col="e").collect()}
    from decimal import Decimal

    times = sorted({d for d, _ in rows})
    ln_acc, dead, expect = Decimal("0"), False, {}
    for t in times:
        n = sum(1 for d, _ in rows if d >= t)
        d_t = sum(1 for d, e in rows if d == t and e)
        if d_t == 0:
            continue
        if d_t == n:
            dead = True
        else:
            # decimal accumulation mirrors the operator's exact fold
            ln_acc += Decimal(f"{round(math.log(1 - d_t / n), 9):.9f}")
        expect[t] = (n, d_t,
                     0.0 if dead else round(math.exp(float(ln_acc)), 6))
    assert got == expect
