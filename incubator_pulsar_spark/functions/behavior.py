"""Behavioral / longitudinal analytics over keyed event logs: cohort
retention, Markov state transitions, per-key distribution entropy,
time-weighted averages, and CUSUM change-point scan.

These are the user-timeline complements of the funnel/session/window
family (``operators/windows.py``, ``funnel_conversion_events``): every
operator consumes the same (key, ts, state/value) shape a topic's
per-key message stream exposes (reference: the per-key ordering the
broker guarantees — ``PersistentTopic`` dispatch order — is exactly
what makes per-key timelines well-defined; cf.
``pulsar-client-api/.../Message.java`` event-time accessors).

Determinism discipline (the module-wide gate contract): time lives in
epoch MILLISECONDS (unix_millis ↔ epoch_ms — the floor/round trap),
values in integer micro-units, sums in DECIMAL, and every float op
happens ONCE at the end under round(·, 6). Transcendentals (ln) snap
to 9 decimals before any arithmetic (the bigram-LM/idf precedent:
libm ulp drift across engines is absorbed by the snap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_WEEK_MS = 7 * 86_400_000


def cohort_retention(df: DataFrame, *, user_col: str = "user_id",
                     ts_col: str = "ts",
                     period_ms: int = _WEEK_MS) -> DataFrame:
    """Cohort retention matrix: users bucketed by FIRST-ACTIVITY period
    (anchored at the corpus min timestamp so the bucketing is
    data-deterministic, not wall-clock), counted in every later period
    they return — the standard growth-analytics triangle (cohort ×
    offset → distinct returning users).

    Exactness: periods are integer floor-divisions of epoch
    milliseconds; counts are exact distincts. Plan shape: one per-user
    min (keyed agg), a 1-row global min broadcast (scalar join), one
    (cohort, offset) distinct-count — two shuffles total, no windows.

    Output: (cohort INT, offset INT ≥ 0, n_users BIGINT).
    """
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    ev = df.select(F.col(user_col).alias("_u"), ms.alias("_ms"))
    g0 = ev.agg(F.min("_ms").alias("_g0"))
    first = ev.groupBy("_u").agg(F.min("_ms").alias("_f"))
    per = ev.join(first, on="_u").crossJoin(F.broadcast(g0))
    cohort = F.floor((F.col("_f") - F.col("_g0")) / F.lit(period_ms))
    period = F.floor((F.col("_ms") - F.col("_g0")) / F.lit(period_ms))
    return (per.select("_u", cohort.cast("int").alias("cohort"),
                       (period - cohort).cast("int").alias("offset"))
            .groupBy("cohort", "offset")
            .agg(F.count_distinct("_u").alias("n_users")))


def markov_transitions(df: DataFrame, *, key_col: str = "user_id",
                       order_col: str = "ts", state_col: str = "event_type",
                       micro: int = 1_000_000) -> DataFrame:
    """First-order Markov transition counts over per-key state
    timelines: for each key the states sort by ``order_col``; every
    adjacent (state → next_state) pair counts once; probabilities are
    integer micro-units via floor division (count·micro DIV row_total
    — exact on any engine, the PageRank-family discipline).

    One shuffle: the per-key sort window; the transition agg reuses
    nothing keyed. Output: (state, next_state, n BIGINT,
    prob_micro BIGINT) where prob_micro/1e6 ≈ P(next | state).
    """
    w = Window.partitionBy(key_col).orderBy(order_col)
    pairs = (df.select(F.col(key_col), F.col(order_col),
                       F.col(state_col).alias("state"))
             .withColumn("next_state", F.lead("state").over(w))
             .filter(F.col("next_state").isNotNull()))
    cnt = pairs.groupBy("state", "next_state") \
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cnt.groupBy("state").agg(F.sum("n").alias("_row_n"))
    return (cnt.join(tot, on="state")
            .select("state", "next_state", "n",
                    # SQL DIV: exact floor division (float `/` + cast
                    # mis-rounds near-integer quotients — the PageRank
                    # contrib lesson)
                    F.expr(f"CAST((n * {int(micro)}) DIV _row_n AS LONG)")
                    .alias("prob_micro")))


def state_entropy(df: DataFrame, *, key_col: str = "user_id",
                  state_col: str = "event_type") -> DataFrame:
    """Per-key Shannon entropy (nats) of the key's state distribution
    — the behavioral-diversity score (a user who only ever 'view's is
    H=0; uniform over k states is ln k). The identity used is the
    count form H = ln n − (Σ cᵢ·ln cᵢ)/n, which needs ONE float
    division: each ln snaps to 9 decimals (libm parity), the weighted
    sum folds in exact DECIMAL, and the final expression rounds to 6.

    One keyed shuffle (two-level agg). Output: (key, n_events BIGINT,
    n_states BIGINT, entropy DOUBLE round-6).
    """
    per = (df.groupBy(F.col(key_col).alias("key"),
                      F.col(state_col).alias("_s"))
           .agg(F.count(F.lit(1)).cast("long").alias("_c")))
    return entropy_from_counts(per)


def entropy_from_counts(per: DataFrame) -> DataFrame:
    """Entropy tail over a pre-counted (key, _c) frame — the single
    float path shared by ``state_entropy`` and the streaming count-map
    twin (``streaming/behavior.entropy_stream`` emits exact count maps;
    this derivation at read time IS the batch==stream parity argument).
    Expects one row per (key, state) with the state's count in ``_c``;
    any other columns are ignored.
    """
    term = (F.round(F.log(F.col("_c").cast("double")), 9)
            .cast("decimal(20,9)")
            * F.col("_c").cast("decimal(18,0)")).cast("decimal(38,9)")
    agg = per.groupBy("key").agg(
        F.sum("_c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_states"),
        F.sum(term).alias("_s_clnc"))
    return agg.select(
        "key", "n_events", "n_states",
        F.round(F.round(F.log(F.col("n_events").cast("double")), 9)
                - F.col("_s_clnc").cast("double") / F.col("n_events"),
                6).alias("entropy"))


def mutual_information(df: DataFrame, x_col: str,
                       y_col: str) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the feature-dependence profile (is order priority informative
    about market segment? is event type predictive of user cohort?)
    that correlation can't see on nominal data. Reported beside the
    marginal entropies so normalized variants (MI/min(Hx,Hy),
    MI/√(HxHy)) are one division away downstream.

    Exactness (the state_entropy identity generalized): with cell
    counts c_xy, marginals c_x/c_y, total N,

        MI·N = Σ c_xy·(ln c_xy + ln N − ln c_x − ln c_y)

    — each ln snaps to 9 decimals (libm parity), the bracketed term
    is an exact DECIMAL sum, the c_xy product and the fold stay in
    DECIMAL, and ONE float division by N lands under round-6. The
    same pass derives H(x), H(y), H(x,y) from their count forms
    (H = ln N − Σc·ln c / N), so MI = Hx + Hy − Hxy holds exactly in
    the reported numbers. NULL categories count as a category (they
    carry dependence information); the identity MI ≥ 0 can be off by
    at most the 1e-9 snap times cells (sub-1e-6 — invisible under
    round-6).

    Plan: one (x, y) cell count (shuffle), marginals re-aggregated
    from the cells (tiny), one broadcast-joined final row. Output:
    1 row (n BIGINT, n_cells BIGINT, h_x, h_y, h_xy, mi — DOUBLE
    round-6).
    """
    cells = (df.groupBy(F.col(x_col).alias("_x"),
                        F.col(y_col).alias("_y"))
             .agg(F.count(F.lit(1)).cast("long").alias("_c"))
             .localCheckpoint(eager=True))
    ln9 = (lambda c: F.round(F.log(c.cast("double")), 9)
           .cast("decimal(20,9)"))
    cd = F.col("_c").cast("decimal(18,0)")

    def _clnc(per: DataFrame) -> DataFrame:
        # Σ c·ln(c) over the given grouping, as an exact decimal
        return per.agg(
            F.sum((ln9(F.col("_c")) * cd).cast("decimal(38,9)"))
            .alias("s"))

    sxy = _clnc(cells).select(F.col("s").alias("_sxy"))
    sx = _clnc(cells.groupBy("_x")
               .agg(F.sum("_c").cast("long").alias("_c"))) \
        .select(F.col("s").alias("_sx"))
    sy = _clnc(cells.groupBy("_y")
               .agg(F.sum("_c").cast("long").alias("_c"))) \
        .select(F.col("s").alias("_sy"))
    tot = cells.agg(F.sum("_c").cast("long").alias("n"),
                    F.count(F.lit(1)).cast("long").alias("n_cells"))
    one = (tot.crossJoin(F.broadcast(sx)).crossJoin(F.broadcast(sy))
           .crossJoin(F.broadcast(sxy)))
    ln_n = F.round(F.log(F.col("n").cast("double")), 9)
    nd = F.col("n").cast("double")
    h = lambda s: ln_n - F.col(s).cast("double") / nd  # noqa: E731
    return one.select(
        "n", "n_cells",
        F.round(h("_sx"), 6).alias("h_x"),
        F.round(h("_sy"), 6).alias("h_y"),
        F.round(h("_sxy"), 6).alias("h_xy"),
        # MI = Hx + Hy − Hxy, all from the same exact decimal sums:
        # (Sxy − Sx − Sy)/N + ln N
        F.round((F.col("_sxy") - F.col("_sx") - F.col("_sy"))
                .cast("double") / nd + ln_n, 6).alias("mi"))


def twap(df: DataFrame, group_cols: list[str], *, ts_col: str = "ts",
         value_col: str = "value") -> DataFrame:
    """Time-weighted average value per group (the TWAP/uptime-weighted
    mean): each observation holds until the group's NEXT observation,
    so its weight is that interval in milliseconds; the last
    observation carries no interval (standard step-function TWAP over
    a closed observation window).

    Exactness: values go through decimal(18,4) (the module-wide float
    discipline), each (value × dur_ms) product is DECIMAL×DECIMAL
    (cast each OPERAND first — the r1 multi-factor lesson), sums are
    exact, and the single final division rounds to 6. One shuffle
    (the group sort window; the agg reuses its partitioning).

    Output: group_cols + (n_intervals BIGINT, total_ms BIGINT,
    twap DOUBLE round-6 — value units).
    """
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(*group_cols).orderBy("_ms")
    vm = F.col(value_col).cast("decimal(18,4)")
    stepped = (df.select(*group_cols, ms.alias("_ms"), vm.alias("_vm"))
               .withColumn("_dur",
                           (F.lead("_ms").over(w) - F.col("_ms"))
                           .cast("decimal(18,0)"))
               .filter(F.col("_dur").isNotNull()))
    return (stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("_dur").cast("long").alias("total_ms"),
        F.round(
            F.sum((F.col("_vm") * F.col("_dur")).cast("decimal(38,4)"))
            .cast("double")
            / F.sum("_dur").cast("double"), 6).alias("twap")))


def rfm_segments(df: DataFrame, *, entity_col: str, ts_col: str = "ts",
                 value_col: str = "value", n_bins: int = 5,
                 anchor_ms: int | None = None) -> DataFrame:
    """RFM segmentation — the classic behavioral customer scoring:
    per entity, Recency (ms since last activity, against a
    deterministic anchor), Frequency (event count), Monetary (exact
    decimal value sum), each bucketed into ``n_bins`` equi-depth
    bins, composed into the familiar 3-digit segment code.

    Determinism: the anchor defaults to the corpus max timestamp (a
    data property, not wall-clock; pass ``anchor_ms`` for a
    deployment epoch); bucketing is SQL NTILE over (metric ASC,
    entity ASC) — the entity tiebreak makes tied metrics
    deterministic (the ntile_histogram tie lesson), and matching
    NTILE semantics on both engines makes the bucket edges
    bit-identical. Scores are ASCENDING in each raw metric (r=1 most
    recent, f=``n_bins`` most frequent, m=``n_bins`` highest spend);
    flip downstream if a "5 is best" convention is wanted.

    Epoch extraction is SESSION-TIMEZONE-PROOF: the NTZ timestamp is
    decomposed into date-diff days + hour/minute parts + the seconds
    field with its fraction (``date_part('SECOND')``, truncated to
    whole milliseconds), never CAST to TIMESTAMP, so a non-UTC Spark
    session cannot shift recency (an NTZ→TIMESTAMP cast reinterprets
    in the session zone, and DST makes the shift date-dependent — it
    does NOT cancel in anchor−last). Monetary is integer 1e-4 units (BIGINT — the
    twap/acf ingest rule; driver-green outputs are int/double only,
    never DECIMAL).

    Plan: one entity rollup (map-side partials), a 1-row anchor
    broadcast, three rank windows sharing one repartition on a
    constant (the metric windows are global — RFM is a
    whole-population ranking by construction; at extreme entity
    counts shard by a coarse segment column first). Output: (entity,
    recency_ms BIGINT, frequency BIGINT, monetary4 BIGINT 1e-4 units,
    r/f/m INT, rfm_code INT = r·100 + f·10 + m).
    """
    c = F.col(ts_col)
    ms = (F.datediff(c.cast("date"), F.lit("1970-01-01")).cast("long")
          * 86_400_000
          + F.hour(c).cast("long") * 3_600_000
          + F.minute(c).cast("long") * 60_000
          + (F.date_part(F.lit("SECOND"), c) * 1_000).cast("long"))
    x4 = (F.col(value_col).cast("decimal(18,4)") * 10000).cast("long")
    per = (df.select(F.col(entity_col).alias("entity"), ms.alias("_ms"),
                     x4.alias("_v4"))
           .groupBy("entity")
           .agg(F.max("_ms").alias("_last"),
                F.count(F.lit(1)).cast("long").alias("frequency"),
                F.sum("_v4").cast("long").alias("monetary4")))
    if anchor_ms is None:
        anchor = per.agg(F.max("_last").alias("_anchor"))
        per = per.crossJoin(F.broadcast(anchor))
    else:
        per = per.withColumn("_anchor", F.lit(int(anchor_ms)))
    per = per.withColumn("recency_ms",
                         (F.col("_anchor") - F.col("_last"))
                         .cast("long"))
    wr = Window.orderBy(F.col("recency_ms"), F.col("entity"))
    wf = Window.orderBy(F.col("frequency"), F.col("entity"))
    wm = Window.orderBy(F.col("monetary4"), F.col("entity"))
    return (per
            .withColumn("r", F.ntile(n_bins).over(wr))
            .withColumn("f", F.ntile(n_bins).over(wf))
            .withColumn("m", F.ntile(n_bins).over(wm))
            .select("entity", "recency_ms", "frequency", "monetary4",
                    "r", "f", "m",
                    (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
                    .cast("int").alias("rfm_code")))


# the most rows a cusum_max group may hold: _n and _k enter the exact
# cross products as decimal(7,0)
CUSUM_MAX_ROWS = 9_999_999


def cusum_max(df: DataFrame, group_cols: list[str], *,
              order_col: str = "ts", value_col: str = "value",
              tiebreak_col: str | None = None) -> DataFrame:
    """CUSUM change-point scan per group: the classic mean-shift
    statistic max_k |N·S_k − k·S_N| over the order-sorted prefix sums
    (Page 1954's cumulative-sum test in its exact cross-multiplied
    form — the variant of max |S_k − (k/N)·S_N| that avoids the float
    ratio entirely). The argmax position is the most likely change
    point; pipelines alert when max_stat crosses a threshold
    calibrated to N (this pairs with ``psi_drift``/``ols_trend`` as
    the third drift detector: PSI sees distribution shape, OLS sees
    slow trend, CUSUM sees abrupt level shifts).

    All arithmetic is exact INTEGER math in 1e-4 units: values snap
    to BIGINT quarter-units (decimal(18,4)·10⁴ → LONG — the twap/acf
    ingest rule), prefix sums fold at scale 0, and the cross products
    cast operands so precisions sum ≤ 37 (decimal(7,0)×decimal(30,0)
    → (37,0); the subtraction lands at (38,0) — cap-proof, so neither
    engine can ever silently fall back to DOUBLE, which was the r13
    driver-hash failure mode of the (38,4) form). Ties on the
    statistic break to the SMALLEST k. One shuffle (the group sort
    window; every later window reuses the same partitioning).

    Overflow budget: N·S_k < 10³⁷ holds to ~10⁷ rows × 10⁵-scale
    values per group; a group past ``CUSUM_MAX_ROWS`` (the
    decimal(7,0) envelope of N and k) raises instead of going NULL;
    the BIGINT output caps at ~9·10¹⁸ (≈10⁵ rows × 10⁹ quarter-unit
    group sums — raise to a micro→milli unit ingest before hitting
    it).

    Output: group_cols + (n BIGINT, max_stat4 BIGINT — the statistic
    in 1e-4 units, argmax_k BIGINT 1-based).
    """
    tie = [F.col(tiebreak_col)] if tiebreak_col else []
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col), *tie)
    wg = Window.partitionBy(*group_cols)
    v4 = (F.col(value_col).cast("decimal(18,4)") * 10000).cast("long")
    rows = (df.select(*group_cols, F.col(order_col),
                      *([tiebreak_col] if tiebreak_col else []),
                      v4.alias("_v4"))
            .withColumn("_k", F.row_number().over(w).cast("long"))
            .withColumn("_sk", F.sum("_v4").over(
                w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("decimal(30,0)"))
            .withColumn("_n", F.count(F.lit(1)).over(wg))
            .withColumn("_sn", F.sum("_v4").over(wg)
                        .cast("decimal(30,0)")))
    n = F.when(F.col("_n") > CUSUM_MAX_ROWS, F.raise_error(F.lit(
        f"cusum_max: a group holds more than {CUSUM_MAX_ROWS} rows, past"
        " the exact decimal(7,0) envelope"))).otherwise(F.col("_n"))
    stat = F.abs(
        n.cast("decimal(7,0)") * F.col("_sk")
        - F.col("_k").cast("decimal(7,0)") * F.col("_sn"))
    scored = (rows.withColumn("_stat", stat)
              .withColumn("_mx", F.max("_stat").over(wg)))
    return (scored.groupBy(*group_cols).agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_stat").cast("long").alias("max_stat4"),
        F.min(F.when(F.col("_stat") == F.col("_mx"), F.col("_k")))
        .cast("long").alias("argmax_k")))
