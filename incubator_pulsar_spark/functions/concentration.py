"""Concentration / inequality measures over keyed value
distributions: Gini coefficient and Herfindahl–Hirschman index — the
"how skewed is this market / workload / revenue base" statistics an
analytics engine serves beside quantiles and heavy hitters (the
key-skew families: ``key_skew_stats_events``, Misra–Gries).

Determinism discipline: values snap to integer 1e-4 units
(DECIMAL(18,4)·10⁴ → LONG — the twap/acf ingest rule), every product
keeps operand precisions summing ≤ 37 so Spark's decimal cap can NEVER
round (scale-0 decimals only lose *declared* precision, never digits),
and each measure takes exactly ONE float division at the end under
round(·, 6). Gini's rank weighting is tie-INVARIANT (equal values
contribute identically whichever order ties take), so no tiebreak
column is needed — unlike spearman/ntile, where ranks themselves are
the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gini(df: DataFrame, group_cols: list[str],
         value_col: str) -> DataFrame:
    """Per-group Gini coefficient of the value distribution — 0 =
    perfectly equal, →1 = one row holds everything. Uses the exact
    rank identity over ascending-sorted values x₍₁₎…x₍ₙ₎:

        G = (2·Σ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)

    The Lorenz-curve domain is non-negative values; negative values
    still get the identity's value, rounded half away from zero. NULLs
    drop.
    Equal values make Σ i·x₍ᵢ₎ order-invariant (positions i and j swap
    between equal x's without moving the sum), so the sort needs no
    tiebreak and the result is deterministic on any engine.

    Exactness: x → integer 1e-4 units; the rank product casts
    DECIMAL(19,0)×DECIMAL(18,0) (≤ 38 — cap-proof), sums fold at
    scale 0, and the round-6 happens in EXACT integer arithmetic —
    g6 = (2·num·10⁶ + sign(num·den)·den) div (2·den), a half-up
    rounding no engine can evaluate differently (``div`` truncates
    toward zero on both engines, so the sign term makes the half step
    point away from zero for either sign; the operands exceed 2⁵³, so a
    cast-to-double path would depend on the engine's big-int→double
    rounding; the r13 driver-hash lesson). The final /10⁶ is one
    IEEE-exact small-integer division. Overflow budget: Σ i·x₄·10⁶
    passes 10³⁸ only beyond ~10⁹ rows × 10⁵-scale values per group.
    One shuffle (the group sort window; the agg reuses its
    partitioning).

    Output: group_cols + (n BIGINT, sum_value4 BIGINT 1e-4 units,
    gini DOUBLE round-6; NULL for all-zero groups).
    """
    w = Window.partitionBy(*group_cols).orderBy(F.col("_x4"))
    vm = F.col(value_col).cast("decimal(18,4)")
    x4 = (vm * 10000).cast("long")
    ranked = (df.select(*group_cols, x4.alias("_x4"))
              .filter(F.col("_x4").isNotNull())
              .withColumn("_i", F.row_number().over(w).cast("long")))
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x4").cast("long").alias("sum_value4"),
        F.sum(F.col("_x4").cast("decimal(28,0)")).alias("_s4"),
        F.sum(F.col("_i").cast("decimal(19,0)")
              * F.col("_x4").cast("decimal(18,0)")).alias("_w"))
    num = (F.lit(2).cast("decimal(2,0)") * F.col("_w")
           - (F.col("n") + 1).cast("decimal(12,0)") * F.col("_s4"))
    den = F.col("n").cast("decimal(12,0)") * F.col("_s4")
    g6 = F.expr("(CAST(2 AS DECIMAL(2,0)) * _num6 + CASE WHEN "
                "(_num6 < 0) = (_den < 0) THEN _den ELSE -_den END) div "
                "(CAST(2 AS DECIMAL(2,0)) * _den)")
    return (agg
            .withColumn("_num6", num * F.lit(1000000).cast("decimal(7,0)"))
            .withColumn("_den", den)
            .select(*group_cols, "n", "sum_value4",
                    F.when(F.col("_den") != 0,
                           g6.cast("double") / 1000000.0).alias("gini")))


def hhi(df: DataFrame, group_cols: list[str], entity_col: str,
        value_col: str) -> DataFrame:
    """Per-group Herfindahl–Hirschman index over ENTITY shares: each
    entity's share is its value sum over the group total; HHI = Σ
    shareᵢ² ∈ (1/n_entities, 1] — the antitrust-style concentration
    score (≈1/n = fragmented, →1 = monopoly).

    Exactness: the share ratio is never materialized — HHI
    cross-multiplies to (Σ xᵢ²) / (Σ xᵢ)² with xᵢ as integer 1e-4
    units (per-entity LONG totals; squares cast DECIMAL(19,0)² → 38,
    cap-proof), and ONE float division at the end under round-6.
    Overflow budget: entity totals to ~10¹⁵ ¼-units, group totals to
    ~10¹⁹ (the squared sums stay under 10³⁸). Two keyed shuffles
    (entity rollup with map-side partials, then group rollup over
    n_entities rows, not raw rows).

    Output: group_cols + (n_entities BIGINT, hhi DOUBLE round-6;
    NULL for all-zero groups).
    """
    x4 = (F.col(value_col).cast("decimal(18,4)") * 10000).cast("long")
    per = (df.select(*group_cols, F.col(entity_col).alias("_e"),
                     x4.alias("_x4"))
           .filter(F.col("_x4").isNotNull())
           .groupBy(*group_cols, "_e")
           .agg(F.sum("_x4").cast("long").alias("_xe")))
    agg = per.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.sum(F.col("_xe").cast("decimal(28,0)")).alias("_s"),
        F.sum(F.col("_xe").cast("decimal(19,0)")
              * F.col("_xe").cast("decimal(18,0)")).alias("_q"))
    den = (F.col("_s") * F.col("_s")).cast("double")
    return agg.select(
        *group_cols, "n_entities",
        F.when(den != 0,
               F.round(F.col("_q").cast("double") / den, 6))
        .alias("hhi"))
