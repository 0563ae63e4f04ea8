"""Query registry: every operator exposed as a (Spark builder, DuckDB
oracle SQL) pair for the correctness harness.

Cross-engine determinism rules used throughout (both sides identical):
- SUM over doubles goes through DECIMAL(18,4) (exact, order-independent),
  then CAST to DOUBLE; averages divide the exact decimal-sum cast to
  double by the exact count (IEEE-deterministic).
- ROUND(x, 6) wherever float math could differ in the last ulp.
- Timestamps in result sets are formatted to 'yyyy-MM-dd HH:mm:ss'
  strings so LTZ/NTZ representation differences cannot break hashing.
- Ties broken by a unique column on both sides.
- Spark ``hash()``/``xxhash64`` never appear in oracle-checked outputs
  (not portable); md5 hex strings are the portable hash family.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import corpus, fuzzy, similarity, text
from ..operators import compaction, dedup, delay, retry, ttl, windows
from ..operators.tableview import table_view


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..session import read_table

    return read_table(spark, sf_dir, name)


def _sweep_stale_scratch() -> None:
    """Remove ipq_* scratch dirs left by DEAD processes: each process
    only rmtree's its own PID-suffixed dirs at exit (atexit below), but
    a kill -9'd harness leaks its dirs — this sweep (once per process,
    at first _scratch call) reclaims any sibling whose PID no longer
    exists. Live processes' dirs are never touched (the race the
    per-PID suffix exists to prevent)."""
    import glob
    import re
    import shutil

    for d in glob.glob("/tmp/ipq_*_*"):
        # PID sits before an optional derived-dir suffix: the lifecycle
        # gates write ipq_<tag>_<sf>_<pid>, _<pid>_out and _<pid>_rep
        # (ADVICE r12: the plain-$ regex never matched the siblings)
        m = re.search(r"_(\d+)(?:_out|_rep)?$", d)
        if not m:
            continue
        pid = int(m.group(1))
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass  # pid exists but owned elsewhere — leave it


_SCRATCH_DIRS: set[str] = set()


def _cleanup_own_scratch() -> None:
    import shutil

    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _scratch(tag: str, sf_dir: str) -> str:
    """Per-PROCESS scratch dir for index-lifecycle gates: two harnesses
    (sweep + plan audit, or the driver's parallel checks) executing the
    same gate must never rmtree/write the same path — a concurrent
    sweep+audit run caught exactly that race on the sq8 index gate.
    Deterministic within a process (rebuild-in-place per run is the
    gate's own idempotence contract). Own dirs are atexit-removed;
    dirs orphaned by dead PIDs are swept on first use so /tmp never
    accumulates (ADVICE r11)."""
    if not _SCRATCH_DIRS:
        import atexit

        _sweep_stale_scratch()
        atexit.register(_cleanup_own_scratch)
    d = f"/tmp/ipq_{tag}_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}"
    # register the rerank/maxsim lifecycle siblings too (ADVICE r12):
    # gates derive d+"_out" / d+"_rep" paths that must ride the same
    # atexit cleanup + dead-PID sweep as the primary dir
    _SCRATCH_DIRS.update((d, d + "_out", d + "_rep"))
    return d


def _probe_queries(emb, n: int = 5):
    """The lifecycle gates' standard probe set: the n lowest vec_ids."""
    return (emb.filter(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def _dec_sum(c, alias):  # exact, order-independent double sum
    return F.sum(F.col(c).cast("decimal(18,4)")).cast("double").alias(alias)


def _fmt_ts(c):  # portable timestamp rendering
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss")


def _write_band_files(banded, src: str, n_bands: int, order_expr) -> None:
    """Source prep for the availableNow replay gates in ONE shuffle job
    (optimization r13): the former per-band filter + global sort +
    coalesce(1) writes re-scanned the whole input once PER BAND (the
    measured ~2 s of a ~6 s gate). ``banded`` must carry ``_band``;
    rows land partitioned by band, sorted (``_band``, ``order_expr``)
    so the file writer's required partition-column ordering is already
    satisfied and the within-band md5 shuffle order is preserved
    byte-for-byte. Each band's single part file then moves into
    ``src/`` under a driver-controlled, strictly-increasing mtime —
    FileStreamSource replays oldest-mtime-first, so the batch order is
    exactly the old sequential-write order. A band with zero rows
    writes no file, which is the same no-op micro-batch either way."""
    import glob as _glob
    import shutil as _sh
    import time as _time

    tmp = src + ".bands"
    _sh.rmtree(tmp, ignore_errors=True)
    (banded.repartition(n_bands, "_band")
     .sortWithinPartitions(F.col("_band"), order_expr)
     .write.partitionBy("_band").mode("overwrite").parquet(tmp))
    os.makedirs(src, exist_ok=True)
    t0 = _time.time()
    for b in range(n_bands):
        parts = sorted(_glob.glob(os.path.join(tmp, f"_band={b}", "part-*")))
        for i, p in enumerate(parts):
            dst = os.path.join(src, f"band{b:02d}_{i}.parquet")
            _sh.move(p, dst)
            # intra-band part index rides the mtime too (ADVICE r13):
            # if a writer setting ever splits a band into several part
            # files, identical mtimes would leave their replay order
            # to FileStreamSource's unspecified tiebreak
            os.utime(dst, (t0 + b + i * 1e-3, t0 + b + i * 1e-3))
    _sh.rmtree(tmp, ignore_errors=True)


def _stream_shuffle_partitions(spark, n_keys: int) -> int:
    """Keyed-state shuffle partitions for the streaming gates,
    scale-adaptive instead of the session-wide pre-AQE bound (AQE is
    disabled inside stateful streaming queries, so every micro-batch
    otherwise pays ``spark.sql.shuffle.partitions`` state-store
    instances + tasks regardless of key count — the measured fixed
    cost of the replay gates). Sized at ~128 keys per state partition
    with a floor of 8 (measured sf0.1: 5-key TWAP is flat 4→8; the
    ~1.5k-user python-state-heavy gates degrade below ~8 because the
    per-group Arrow work loses parallelism — entropy 8.5 s at 2 vs
    5.7 s at 8, scd2 16.5 s at 6 vs ~13 s at 8–16). The ceiling is
    defaultParallelism (a 100 TB keyspace fans out to the whole
    cluster; a 5-key local stream stops paying 24 empty state commits
    per batch) but the floor of 8 WINS over it on runners narrower
    than 8 cores (ADVICE r13 — max(8, min(dp, ·)) returns 8 when
    dp < 8, which is intended: 8 state partitions on 4 cores cost two
    task waves, cheaper than starving the per-group Arrow work)."""
    dp = spark.sparkContext.defaultParallelism
    return max(8, min(dp, -(-int(n_keys) // 128)))


STREAM_GATE_TIMEOUT_S = 600


def _run_stream_gate(spark, out, sink: str, ck: str, parts: int) -> None:
    """Start + drain an availableNow gate stream with the stateful
    shuffle width pinned to ``parts`` (the state-store partition count
    is fixed by the conf at first batch and checkpointed; gates build
    fresh checkpoints every run, so the narrow width is safe). The
    session conf is restored after the drain. A drain that outlives
    ``STREAM_GATE_TIMEOUT_S`` stops the query and raises: its sink is
    partial, and a gate must never read it back as a result."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        q = (out.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(STREAM_GATE_TIMEOUT_S):
            err, progress = q.exception(), q.lastProgress
            q.stop()
            raise RuntimeError(
                f"stream gate did not drain within {STREAM_GATE_TIMEOUT_S}"
                f" s; its sink {sink} is partial (exception: {err}; "
                f"lastProgress: {progress})")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _replay_gate(spark, sf_dir, tag: str, rows: DataFrame, *, key: str,
                 order, shuffle: list, build: Callable,
                 sentinel: Callable | None = None) -> DataFrame:
    """The stream gates' replay: ``rows`` split into two half-span
    bands of the long ``order`` column (a name or expression), each
    band written as one file DISORDERED by md5 over ``shuffle``, then
    replayed availableNow one file per micro-batch through
    ``build(stream, lo, n_keys)`` (``lo`` = the minimum ``order``);
    returns the sink read back. Two bands keep the cross-batch carry
    at half the fixed per-micro-batch cost of four (optimization r14).
    ``sentinel(hi)`` gives extra rows that ride inside the last band
    (``hi`` = the maximum ``order``)."""
    import shutil as _sh

    d = _scratch(tag, sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    src, sink, ck = d + "/src", d + "/sink", d + "/ck"
    o = F.col(order) if isinstance(order, str) else order
    lo, hi, nk = rows.agg(F.min(o), F.max(o),
                          F.approx_count_distinct(key)).collect()[0]
    width = -(-(hi - lo + 1) // 2)
    banded = rows.withColumn(
        "_band", F.floor((o - F.lit(lo)) / F.lit(width)).cast("int"))
    if sentinel is not None:
        banded = banded.unionByName(
            sentinel(hi).withColumn("_band", F.lit(1)))
    _write_band_files(banded, src, 2, F.md5(F.concat_ws("|", *shuffle)))
    stream = (spark.readStream.schema(rows.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    _run_stream_gate(spark, build(stream, lo, nk), sink, ck,
                     _stream_shuffle_partitions(spark, nk))
    return spark.read.parquet(sink)


# --------------------------------------------------------------------------
# Batch analytics (SURVEY §2.4 "absent" list — Spark built-ins exposed)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy agg; AQE coalesces the single shuffle.

    Cross-engine exactness: ``charge`` has SIX true decimal digits
    (2-dec price × 2-dec discount × 2-dec tax), so computing it in
    double and casting to DECIMAL(18,4) hits genuine halfway cases where
    Spark rounds HALF_UP and DuckDB HALF_EVEN (r1 driver hash-fail,
    ±0.0001/row accumulating). Fix: cast each OPERAND to a fixed-scale
    decimal first — decimal×decimal is exact on both engines, no
    rounding ever happens. DECIMAL(12,2)×DECIMAL(3,2)×DECIMAL(3,2) →
    DECIMAL(20,6) stays far inside precision limits.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    one_minus_disc = (F.lit(1) - F.col("l_discount")).cast("decimal(3,2)")
    one_plus_tax = (F.lit(1) + F.col("l_tax")).cast("decimal(3,2)")
    disc_price = price * one_minus_disc      # decimal(16,4), exact
    charge = disc_price * one_plus_tax       # decimal(20,6), exact
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", "sum_qty"),
            _dec_sum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
             / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(F.col("l_discount").cast("decimal(18,4)")).cast("double")
             / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(3,2))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - l_discount AS DECIMAL(3,2))
                * CAST(1 + l_tax AS DECIMAL(3,2))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark, sf_dir):
    """Join-heavy: customer ⋈ orders ⋈ lineitem; dims broadcast; top-10."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("date"))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_region_revenue(spark, sf_dir):
    """Multi-way star join, semi-reduced before the shuffle: suppliers
    are pre-filtered to the ASIA region and broadcast onto lineitem
    FIRST, so the lineitem ⋈ orders shuffle carries 1/|regions| of the
    fact rows (measured 30% faster at sf0.1; at 100 TB the cut shuffle
    volume is the difference between fitting and spilling)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_n = (_t(spark, sf_dir, "nation")
              .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
              .select("n_nationkey", "n_name"))
    sup_a = (_t(spark, sf_dir, "supplier")
             .join(F.broadcast(asia_n), F.col("s_nationkey") == F.col("n_nationkey"))
             .select("s_suppkey", "s_nationkey", "n_name"))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(sup_a), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust),
              (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure filter + agg — everything pushes to the scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                   .cast("decimal(18,4)")).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24
"""


def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: groupBy + HAVING feeding a join — the aggregate
    prunes before the join (small build side broadcasts)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey",
                _fmt_ts("o_orderdate").alias("o_orderdate_str"),
                "o_totalprice", "total_qty")
    )


Q18_SQL = """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150
)
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate_str,
       o_totalprice, total_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q19_disjunctive_filter(spark, sf_dir):
    """TPC-H Q19 shape: disjunctive multi-branch predicate over a join —
    exercises OR-predicate pushdown and join-filter interplay."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    branch1 = (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    branch2 = (F.col("p_size") <= 25) & (F.col("l_quantity") > 20) & (F.col("l_quantity") <= 35)
    branch3 = (F.col("p_size") > 25) & (F.col("l_quantity") > 35)
    return (
        j.filter(branch1 | branch2 | branch3)
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount")))
                   .cast("decimal(18,4)")).cast("double").alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_size <= 10 AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_size <= 25 AND l_quantity > 20 AND l_quantity <= 35)
   OR (p_size > 25 AND l_quantity > 35)
"""


def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS subquery → left-semi join, no row explosion.
    (Predicate adapted to the synthetic schema: returned lines.)"""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    late_lines = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(late_lines, orders.o_orderkey == late_lines.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q12_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape: conditional (CASE) aggregation after a join
    (adapted to the synthetic schema: returnflag in place of shipmode)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
        & (F.col("l_returnflag").isin("A", "R"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_returnflag IN ('A', 'R')
GROUP BY l_returnflag
"""


def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional-ratio aggregate over a broadcast join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo = F.col("p_type").startswith("PROMO")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(promo, rev).otherwise(F.lit(0).cast("decimal(18,4)"))).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
"""


def topk_orders(spark, sf_dir):
    """Global top-k: TakeOrderedAndProject — no full sort materialized."""
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
"""


def rollup_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             _dec_sum("o_totalprice", "sum_price"))
    )


ROLLUP_SQL = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def distinct_customers(spark, sf_dir):
    """Distinct + semi-join surface: segments of customers with ≥1 order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    active = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    return active.groupBy("c_mktsegment").agg(
        F.count_distinct("c_custkey").alias("n_customers")
    )


DISTINCT_SQL = """
SELECT c_mktsegment, COUNT(DISTINCT c_custkey) AS n_customers
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def antijoin_idle_customers(spark, sf_dir):
    """Anti-join (set-difference surface): customers with no orders
    since 2000-01-01. Every synthetic customer has SOME order, so the
    unwindowed anti-join is vacuously empty at every SF — a hash match
    on an empty result proves nothing. The date window keeps the result
    non-empty and SF-stable (~9% of customers)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


ANTIJOIN_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= DATE '2000-01-01')
"""


# --------------------------------------------------------------------------
# Pulsar-semantics operators over the events topic (SURVEY §2.3-2.5)
# events(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
#        value DOUBLE, props STRING) — key=user_id, publish order=event_id.
# --------------------------------------------------------------------------

def compaction_publish_order(spark, sf_dir):
    """Topic compaction, publish order (PublishingOrderCompactor)."""
    ev = _t(spark, sf_dir, "events")
    out = compaction.compact(
        ev, key_col="user_id", value_col="event_type",
        sequence_col="event_id", mode=compaction.PUBLISH_ORDER,
    )
    return out.select("user_id", "event_id", "event_type",
                      _fmt_ts("ts").alias("ts_str"))


COMPACT_PUB_SQL = """
SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM events QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""


def compaction_event_time(spark, sf_dir):
    """Topic compaction, event-time order (EventTimeOrderCompactor.java:62)."""
    ev = _t(spark, sf_dir, "events")
    out = compaction.compact(
        ev, key_col="user_id", value_col="event_type",
        sequence_col="event_id", event_time_col="ts",
        mode=compaction.EVENT_TIME_ORDER,
    )
    return out.select("user_id", "event_id", "event_type")


COMPACT_ET_SQL = """
SELECT user_id, event_id, event_type
FROM events QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


def tableview_events(spark, sf_dir):
    """TableView with tombstones: 'error' events are null-value markers
    that remove the key from the view (TableViewImpl.java:237-239)."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.when(F.col("event_type") != "error", F.col("props")).alias("value"),
        F.col("event_id").alias("sequence"),
    )
    return table_view(ev)


TABLEVIEW_SQL = """
SELECT CAST(user_id AS VARCHAR) AS key,
       CASE WHEN event_type <> 'error' THEN props END AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
"""
TABLEVIEW_SQL = f"SELECT * FROM ({TABLEVIEW_SQL.strip()}) WHERE value IS NOT NULL"


def dedup_sequence_ids(spark, sf_dir):
    """Per-producer sequence-id dedup (MessageDeduplication.java:186):
    producer := event_type, sequence_id := round(value*100), arrival :=
    event_id. Rows whose seq id regressed for their producer drop; a
    NULL seq id (NULL value) is kept, as the stream form keeps it."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("seq_id"),
    )
    out = dedup.dedup_by_sequence(
        ev, producer_col="event_type", sequence_id_col="seq_id",
        arrival_col="event_id",
    )
    return out.select("event_id", "event_type", "seq_id")


DEDUP_SEQ_SQL = """
WITH t AS (
  SELECT event_id, event_type, CAST(round(value * 100, 0) AS BIGINT) AS seq_id
  FROM events
), m AS (
  SELECT *, max(seq_id) OVER (PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM t
)
SELECT event_id, event_type, seq_id FROM m
WHERE seq_id IS NULL OR prev_max IS NULL OR seq_id > prev_max
"""


def ttl_recent_events(spark, sf_dir):
    """TTL expiry + seek-by-timestamp: keep the trailing 6h of the topic
    (cutoff anchored to max(ts) for determinism)."""
    ev = _t(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts").alias("max_ts"))
    cutoff = (F.col("max_ts") - F.expr("INTERVAL 6 HOURS")).alias("cutoff")
    withc = ev.crossJoin(F.broadcast(max_ts.select(cutoff)))
    kept = ttl.seek_timestamp(withc, F.col("cutoff"), publish_time_col="ts")
    return kept.select("event_id", "user_id", "event_type", _fmt_ts("ts").alias("ts_str"))


TTL_SQL = """
SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM events WHERE ts >= (SELECT max(ts) - INTERVAL 6 HOUR FROM events)
"""


def tumbling_window_hourly(spark, sf_dir):
    """Tumbling 1h event-time window per event_type (WindowFunctionExecutor
    time-trigger path)."""
    ev = _t(spark, sf_dir, "events")
    out = windows.tumbling_time_window(
        ev, ts_col="ts", length="1 hour", group_by=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n_events"), _dec_sum("value", "sum_value")],
    )
    return out.select("event_type", _fmt_ts("window_start").alias("window_start"),
                      "n_events", "sum_value")


TUMBLING_SQL = """
SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, date_trunc('hour', ts)
"""


def sliding_window_hourly(spark, sf_dir):
    """Sliding 1h/30m window per event_type (length > slide ⇒ each event
    in 2 panes; TimeTriggerPolicy + TimeEvictionPolicy)."""
    ev = _t(spark, sf_dir, "events")
    out = windows.sliding_time_window(
        ev, ts_col="ts", length="1 hour", slide="30 minutes",
        group_by=["event_type"],
        aggs=[F.count(F.lit(1)).alias("n_events"), _dec_sum("value", "sum_value")],
    )
    return out.select("event_type", _fmt_ts("window_start").alias("window_start"),
                      "n_events", "sum_value")


SLIDING_SQL = """
WITH half AS (
  SELECT *, date_trunc('hour', ts)
           + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
           AS t30
  FROM events
), panes AS (
  SELECT event_type, value, t30 AS w_start FROM half
  UNION ALL
  SELECT event_type, value, t30 - INTERVAL 30 MINUTE AS w_start FROM half
)
SELECT event_type, strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM panes GROUP BY event_type, w_start
"""


def session_windows_users(spark, sf_dir):
    """Per-user session windows, 30-minute gap — not in the reference
    (SURVEY §2.5), exposed as part of the total windowing surface."""
    ev = _t(spark, sf_dir, "events")
    out = windows.session_window(
        ev, ts_col="ts", gap="30 minutes", group_by=["user_id"],
        aggs=[F.count(F.lit(1)).alias("n_events")],
    )
    return out.select("user_id", _fmt_ts("window_start").alias("session_start"),
                      "n_events")


SESSION_SQL = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
                   OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), islands AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM islands GROUP BY user_id, session_id
"""


def count_windows_user(spark, sf_dir):
    """Per-key tumbling COUNT window, N=10 (CountTriggerPolicy) — no Spark
    primitive; built from in-key ranking."""
    ev = _t(spark, sf_dir, "events")
    out = windows.tumbling_count_window(
        ev, key_col="user_id", order_col="event_id", count=10,
        aggs=[_dec_sum("value", "sum_value")],
    )
    return out.select("user_id", "window_id", "sum_value", "window_size")


COUNT_WINDOW_SQL = """
WITH t AS (
  SELECT user_id, value,
         CAST(floor((row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1) / 10)
              AS BIGINT) AS window_id
  FROM events
)
SELECT user_id, window_id,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       COUNT(*) AS window_size
FROM t GROUP BY user_id, window_id
"""


def delayed_withheld(spark, sf_dir):
    """Delayed delivery: deliver_at := ts + value minutes; rows not yet due
    at the topic's max publish time stay in the delay tracker
    (InMemoryDelayedDeliveryTracker.getScheduledMessages complement)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "deliver_at", F.col("ts") + F.make_interval(mins=F.round(F.col("value"), 0).cast("int"))
    )
    max_ts = ev.agg(F.max("ts").alias("cutoff"))
    withc = ev.crossJoin(F.broadcast(max_ts))
    out = delay.withheld_messages(withc, F.col("cutoff"))
    return out.select("event_id", "user_id", _fmt_ts("deliver_at").alias("deliver_at"))


DELAYED_SQL = """
WITH t AS (
  SELECT *, ts + INTERVAL 1 MINUTE * CAST(round(value, 0) AS INTEGER) AS deliver_at
  FROM events
)
SELECT event_id, user_id, strftime(deliver_at, '%Y-%m-%d %H:%M:%S') AS deliver_at
FROM t WHERE deliver_at > (SELECT max(ts) FROM events)
"""


def pane_deltas_user(spark, sf_dir):
    """Window pane new/carried/expired deltas (WindowImpl.java views,
    WindowFunctionExecutor.java:222-229): per-user sliding count panes of
    length 4 firing every 2 records; every firing lists pane members
    (new|carried) and the rows evicted since the previous firing."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("key"), F.col("event_id").alias("sequence"))
    out = windows.pane_deltas(ev, length=4, slide=2)
    return out.select(F.col("key").alias("user_id"),
                      "window_end_pos",
                      F.col("sequence").alias("event_id"), "delta")


PANE_DELTAS_SQL = """
WITH pos AS (
  SELECT user_id, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS p,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM events
), member AS (
  SELECT user_id, event_id,
         CAST(CEIL(p / 2.0) * 2 + k * 2 AS BIGINT) AS window_end_pos,
         p, n
  FROM pos CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k)
), panes AS (
  SELECT user_id, window_end_pos, event_id,
         CASE WHEN p > window_end_pos - 2 THEN 'new' ELSE 'carried' END AS delta
  FROM member
  WHERE p > window_end_pos - 4 AND window_end_pos <= n
), evicted AS (
  SELECT user_id, CAST(CEIL((p + 4) / 2.0) * 2 AS BIGINT) AS window_end_pos,
         event_id, 'expired' AS delta
  FROM pos
  WHERE CEIL((p + 4) / 2.0) * 2 <= n
)
SELECT user_id, window_end_pos, event_id, delta FROM panes
UNION ALL
SELECT user_id, window_end_pos, event_id, delta FROM evicted
"""


def retry_dlq_routing(spark, sf_dir):
    """Retry/DLQ router: 'error' events are failures; redelivery_count :=
    event_id % 20; count ≥ 16 ⇒ DLQ (RetryMessageUtil.java:31), else
    retry topic with bumped counter. Returns the routed failure rows."""
    ev = _t(spark, sf_dir, "events").select(
        F.lit("persistent://public/default/events").alias("topic"),
        F.col("event_id").alias("sequence"),
        "event_type", "user_id",
        (F.col("event_id") % 20).cast("int").alias("redelivery_count"),
        F.col("ts").alias("publish_time"),
        F.lit(None).cast("map<string,string>").alias("properties"),
    )
    routed = retry.route_failures(
        ev, F.col("event_type") == "error", subscription="sub",
        max_redeliver_count=16, delay_seconds=60,
    )
    r = routed.retry.select("sequence", "topic", "redelivery_count")
    d = routed.dlq.select("sequence", "topic", "redelivery_count")
    return r.unionAll(d)


RETRY_SQL = """
WITH f AS (
  SELECT event_id AS sequence, CAST(event_id % 20 AS INTEGER) AS rc
  FROM events WHERE event_type = 'error'
)
SELECT sequence,
       CASE WHEN rc < 16 THEN 'persistent://public/default/events-sub-RETRY'
            ELSE 'persistent://public/default/events-sub-DLQ' END AS topic,
       CASE WHEN rc < 16 THEN rc + 1 ELSE rc END AS redelivery_count
FROM f
"""


def key_shared_summary(spark, sf_dir):
    """Key_Shared contract check: per key, in-order first/last values
    (min_by/max_by over publish order) + count — what a sticky consumer
    observes (SubscriptionType.java:61)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("first_seq"),
        F.max("event_id").alias("last_seq"),
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max_by("event_type", "event_id").alias("last_type"),
    )


KEY_SHARED_SQL = """
SELECT user_id, COUNT(*) AS n, min(event_id) AS first_seq, max(event_id) AS last_seq,
       arg_min(event_type, event_id) AS first_type,
       arg_max(event_type, event_id) AS last_type
FROM events GROUP BY user_id
"""


def chunk_reassembly(spark, sf_dir):
    """Chunking roundtrip (PulsarApi.proto:159-162 uuid/num_chunks/chunk_id):
    split document text into 64-byte chunks, reassemble, fingerprint.
    Oracle compares against the original text md5 — proves the roundtrip."""
    from ..functions import runtime as rt

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("sequence"), F.col("text").cast("binary").alias("value")
    )
    chunked = rt.chunk_payloads(docs, chunk_bytes=64)
    back = rt.reassemble_chunks(chunked)
    return back.select(
        F.col("sequence").alias("doc_id"),
        F.md5(F.col("value")).alias("text_md5"),
        F.length(F.col("value")).cast("long").alias("n_bytes"),
    )


CHUNK_SQL = """
SELECT doc_id, md5(text) AS text_md5, CAST(length(text) AS BIGINT) AS n_bytes
FROM documents
"""


def entry_filter_routing(spark, sf_dir):
    """EntryFilter ACCEPT/REJECT/RESCHEDULE three-way split
    (EntryFilter.java:23-55): purchases accepted, errors rejected,
    clicks with value>50 rescheduled (delayed redelivery), rest accepted.
    Returns per-decision counts."""
    from ..functions import runtime as rt

    ev = _t(spark, sf_dir, "events")
    decision = (
        F.when(F.col("event_type") == "error", "REJECT")
        .when((F.col("event_type") == "click") & (F.col("value") > 50), "RESCHEDULE")
        .otherwise("ACCEPT")
    )
    split = rt.entry_filter(ev, decision)
    return (
        split.accepted.select(F.lit("ACCEPT").alias("decision"))
        .unionAll(split.rejected.select(F.lit("REJECT").alias("decision")))
        .unionAll(split.rescheduled.select(F.lit("RESCHEDULE").alias("decision")))
        .groupBy("decision").agg(F.count(F.lit(1)).alias("n"))
    )


ENTRY_FILTER_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'REJECT'
            WHEN event_type = 'click' AND value > 50 THEN 'RESCHEDULE'
            ELSE 'ACCEPT' END AS decision,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def compacted_read_path(spark, sf_dir):
    """Compacted read (CompactedTopicImpl): compacted snapshot up to
    horizon 700, raw live tail after — what a subscription positioned at
    the start observes."""
    ev = _t(spark, sf_dir, "events")
    out = compaction.compacted_read(
        ev, horizon=700, key_col="user_id", value_col="event_type",
        sequence_col="event_id",
    )
    return out.select("user_id", "event_id", "event_type")


COMPACTED_READ_SQL = """
SELECT user_id, event_id, event_type FROM events
WHERE event_id <= 700
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
UNION ALL
SELECT user_id, event_id, event_type FROM events WHERE event_id > 700
"""


def window_udaf_median(spark, sf_dir):
    """WindowFunction UDAF: arbitrary Python aggregation (median) per
    tumbling hourly pane via applyInPandas — proves the pane-delivery
    machinery against DuckDB's native median."""
    import pandas as pd

    from ..functions.runtime import window_function
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events").withColumn(
        "window_start", F.date_trunc("hour", F.col("ts"))
    )
    schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("window_start_str", T.StringType()),
        T.StructField("median_value", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def pane_median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "window_start_str": [pdf["window_start"].iloc[0].strftime("%Y-%m-%d %H:%M:%S")],
            "median_value": [round(float(pdf["value"].median()), 6)],
            "n": [len(pdf)],
        })

    return window_function(ev, pane_median, schema,
                           group_by=["event_type", "window_start"])


WINDOW_UDAF_SQL = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start_str,
       round(median(value), 6) AS median_value,
       COUNT(*) AS n
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""


def media_frame_schedule(spark, sf_dir):
    """Multimodal frame-sampling schedule (video → frame rows): exact
    column math over the fake media corpus; only pixel extraction is a
    stub. Oracle replays the md5 schedule bit-for-bit."""
    from ..functions.multimodal import documents_as_media, sample_video_frames

    docs = _t(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return sample_video_frames(media, every_ms=1000)


MEDIA_FRAMES_SQL = """
WITH media AS (
  SELECT doc_id AS media_id, md5(text) AS content_md5,
         CAST(n_chars * 10 AS BIGINT) AS duration_ms
  FROM documents
)
SELECT media_id,
       unnest(generate_series(0, greatest((duration_ms // 1000) - 1, 0)))
         AS frame_idx,
       unnest(generate_series(0, greatest((duration_ms // 1000) - 1, 0))) * 1000
         AS frame_ts_ms,
       md5(content_md5 || ':' ||
           unnest(generate_series(0, greatest((duration_ms // 1000) - 1, 0))))
         AS frame_md5
FROM media
"""


def media_features(spark, sf_dir):
    """Image decode→feature stub over mapInPandas — now under an EXACT
    oracle: the deterministic byte-fold (per-lane byte sums mod 256,
    scaled /255) is replayed in DuckDB from character codes (the
    documents corpus is pure ASCII, so char position == byte position;
    the oracle would need blob indexing otherwise). The real build swaps
    a vision model into the kernel; the Arrow plumbing is what's gated.

    The gated output renders the feature vector as a fixed-format CSV
    string: the driver's canonicalizer sorts every column with pandas,
    which dies on unhashable ``list`` cells (r1 ``media_features`` err).
    The array-returning API (``decode_image_features``) is unchanged for
    library use.
    """
    from ..functions.multimodal import decode_image_features, documents_as_media

    docs = _t(spark, sf_dir, "documents")
    feats = decode_image_features(documents_as_media(docs))
    return feats.select(
        "media_id",
        F.concat_ws(
            ",", F.transform("feature", lambda v: F.format_string("%.6f", v))
        ).alias("feature_csv"),
    )


def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling (dataset mixing by rate): keep
    each document iff md5-uniform(doc_id) < its source's rate — the
    map-only, RNG-free sampler a reproducible 100 TB pipeline needs.
    Rates: src0 keeps all, src1 half, src2 a quarter, everything else
    10%. The oracle replays the identical md5 math numerically
    (DuckDB parses '0x'||hex natively)."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs, {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        strata_col="source", id_col="doc_id", default_rate=0.1)
    # no orderBy: the sampler is a map-only scan (0 shuffles, plan-locked)
    # and the correctness harness canonicalizes row order itself
    return out.select("doc_id", "source", "lang")


STRATIFIED_SQL = """
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5('sample:' || doc_id), 1, 8))::BIGINT / 4294967296.0
      < CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                    WHEN 'src2' THEN 0.25 ELSE 0.1 END
ORDER BY doc_id
"""


def pack_sequences_docs(spark, sf_dir):
    """Sequence packing for training shards: shard documents by hash
    (8 shards here; parallel packing with NO global sort), hash-shuffle
    within each shard, running token cumsum → 512-token bins. Gated
    output is the per-bin summary (docs + token fill), which proves the
    whole assignment: any doc in the wrong bin shifts two bins' sums."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    packed = sampling.pack_sequences(docs, capacity=512, id_col="doc_id",
                                     n_shards=8)
    return (
        packed.groupBy("shard", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("bin_tokens"))
        .orderBy("shard", "bin_id")
    )


PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tok,
         CAST(('0x' || substr(md5('pack:' || doc_id), 1, 8))::BIGINT % 8 AS INTEGER) AS shard,
         md5('pack-o:' || doc_id) AS okey
  FROM documents
),
c AS (
  SELECT shard, doc_id, tok,
         SUM(tok) OVER (PARTITION BY shard ORDER BY okey, doc_id
                        ROWS UNBOUNDED PRECEDING) - tok AS cumx
  FROM t
)
SELECT shard, CAST(floor(cumx / 512.0) AS BIGINT) AS bin_id,
       COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS bin_tokens
FROM c GROUP BY shard, bin_id
ORDER BY shard, bin_id
"""


# Byte-fold replay: lane j accumulates bytes at positions ≡ j (mod 8),
# mod 256, scaled /255 and %.6f-formatted. acc/255.0 is never an exact
# 7-decimal halfway case (only 0 and 255 terminate early, both exact),
# so printf and Java format_string round identically.
MEDIA_FEATURES_SQL = """
WITH chars AS (
  SELECT doc_id, unnest(generate_series(1, length(text))) AS i, text
  FROM documents
),
lanes AS (
  SELECT doc_id, (i - 1) % 8 AS lane,
         SUM(ord(substr(text, i, 1))) % 256 AS acc
  FROM chars GROUP BY doc_id, lane
),
spine AS (
  SELECT doc_id, unnest(generate_series(0, 7)) AS lane FROM documents
),
vals AS (
  SELECT s.doc_id, s.lane, coalesce(l.acc, 0) / 255.0 AS v
  FROM spine s LEFT JOIN lanes l USING (doc_id, lane)
)
SELECT doc_id AS media_id,
       string_agg(printf('%.6f', v), ',' ORDER BY lane) AS feature_csv
FROM vals GROUP BY doc_id
ORDER BY media_id
"""


def media_ppm_decode(spark, sf_dir):
    """REAL image-decode kernel under the exact-value oracle: a
    deterministic 4x4 P6 image is assembled from each document's first
    48 bytes (padded), decoded by the genuine numpy PPM parser
    (multimodal.decode_ppm_images — pixels, not a fake fold), and the
    per-channel means cross-checked against DuckDB computing the same
    means from character codes.

    Exactness: each mean is a 16-int sum / 16 — a finite 4-decimal
    double on both engines, so round(.,6) never hits a halfway case.
    Arrow mapInPandas is the only Python stage (the production shape
    for a 100 TB media corpus).
    """
    from ..functions.multimodal import decode_ppm_images

    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(b"P6\n4 4\n255\n"),
        F.encode(F.substring(F.rpad(F.col("text"), 48, "x"), 1, 48), "UTF-8"))
    media = docs.select(F.col("doc_id").alias("media_id"),
                        payload.alias("content"))
    return decode_ppm_images(media).orderBy("media_id")


MEDIA_PPM_SQL = """
WITH t AS (
  SELECT doc_id, substring(rpad(text, 48, 'x'), 1, 48) AS body FROM documents
), pos AS (
  SELECT doc_id, body, unnest(range(0, 16)) AS i FROM t
)
SELECT doc_id AS media_id,
       CAST(4 AS INTEGER) AS width, CAST(4 AS INTEGER) AS height,
       round(avg(ord(substring(body, i * 3 + 1, 1))), 6) AS mean_r,
       round(avg(ord(substring(body, i * 3 + 2, 1))), 6) AS mean_g,
       round(avg(ord(substring(body, i * 3 + 3, 1))), 6) AS mean_b
FROM pos
GROUP BY doc_id
ORDER BY media_id
"""


def media_wav_decode(spark, sf_dir):
    """REAL audio-decode kernel under the exact oracle: each document's
    first 32 bytes become 16 little-endian int16 samples, packed into a
    genuine RIFF/WAVE container (multimodal.encode_wav) and decoded back
    by the real chunk-walking parser (decode_wav_audio); sample stats
    are cross-checked against DuckDB computing them straight from
    character codes (mean SQUARE, not RMS — sqrt would differ in the
    last ulp). ASCII chars < 128 keep every sample positive, so byte
    pairing is sign-free on both engines.
    """
    from ..functions.multimodal import decode_wav_audio, encode_wav

    docs = _t(spark, sf_dir, "documents")
    body = F.substring(F.rpad(F.col("text"), 32, "x"), 1, 32)
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode(body, "UTF-8").alias("raw"))

    def pack(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            contents = [encode_wav(np.frombuffer(bytes(raw), dtype="<i2"), 8000)
                        for raw in pdf["raw"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": contents})

    packed = media.mapInPandas(pack, "media_id long, content binary")
    return decode_wav_audio(packed).orderBy("media_id")


MEDIA_WAV_SQL = """
WITH t AS (
  SELECT doc_id, substring(rpad(text, 32, 'x'), 1, 32) AS body FROM documents
), pos AS (
  SELECT doc_id, body, unnest(range(0, 16)) AS i FROM t
), v AS (
  SELECT doc_id,
         ord(substring(body, i * 2 + 1, 1))
         + 256 * ord(substring(body, i * 2 + 2, 1)) AS s
  FROM pos
)
SELECT doc_id AS media_id,
       CAST(8000 AS INTEGER) AS sample_rate,
       CAST(16 AS INTEGER) AS n_samples,
       round(16 * 1000.0 / 8000, 6) AS duration_ms,
       round(avg(CAST(s AS DOUBLE) * s), 6) AS mean_square,
       CAST(MAX(abs(s)) AS INTEGER) AS peak
FROM v
GROUP BY doc_id
ORDER BY media_id
"""


def running_revenue(spark, sf_dir):
    """Analytic window functions (SURVEY §2.4 absent list): per-customer
    running order-value sum + rank in customer by price."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w_run = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_rank = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                     F.col("o_orderkey"))
    return o.select(
        "o_orderkey", "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w_run)
         .cast("double").alias("running_total"),
        F.row_number().over(w_rank).alias("price_rank"),
    )


RUNNING_SQL = """
SELECT o_orderkey, o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
         AS price_rank
FROM orders
"""


def range_rolling_user_value(spark, sf_dir):
    """Time-RANGE window frame (trailing 1-hour per-user rolling sum) —
    the window-frame family `running_revenue` does NOT cover: RANGE
    frames bound by an interval of the ORDER expression, not a row
    count, so peers at unevenly spaced timestamps enter/leave the frame
    by time distance.

    Cross-engine exactness: the frame is ordered by INTEGER MICROSECONDS
    (`unix_micros` here, `epoch_us` in the oracle) so both engines see
    identical frame boundaries — ordering by the raw timestamp and
    bounding by INTERVAL would be Spark-side impossible (rangeBetween
    needs a numeric order key) and second-truncation (`cast(ts as
    long)`) would silently shift boundaries on sub-second data. Sum
    runs through DECIMAL(18,4).

    Scale: one shuffle on user_id, then a sliding range frame per
    partition — Spark evaluates it in a single sort pass; no self-join,
    no explode. Skewed users degrade to one sorted partition each (same
    posture as any keyed window; salt-by-time-bucket is the asof.py
    remedy if a key is truly pathological)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    # parquet ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the
    # session tz is UTC so the cast is a pure reinterpretation and the
    # micros agree with DuckDB's epoch_us over the naive value
    mic = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (Window.partitionBy("user_id").orderBy(mic)
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id", _fmt_ts("ts").alias("ts"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w)
         .cast("double").alias("rolling_sum_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("rolling_cnt_1h"),
    )


RANGE_ROLLING_SQL = """
SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       CAST(SUM(CAST(value AS DECIMAL(18,4)))
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS rolling_sum_1h,
       CAST(COUNT(*)
            OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            AS BIGINT) AS rolling_cnt_1h
FROM events
"""


def interval_join_events(spark, sf_dir):
    """Point-in-interval join via time-bucket blocking
    (operators/interval.py): the top-20 busiest users' daily activity
    spans [first event, last event] become intervals; EVERY event
    falling inside a span (any user's) is counted into it.

    The oracle writes the same thing as a raw inequality join
    (``p.ts BETWEEN sp.s AND sp.x``) — which is exactly the plan shape
    the operator exists to avoid: Catalyst turns that into a
    BroadcastNestedLoopJoin (points × intervals comparisons), while the
    bucketed form is a hash equi-join on the 1-hour bucket index with
    an exact range refine. Same rows, scale-safe physical plan
    (plan-locked: no BNLJ/Cartesian in tests/test_plans.py).
    """
    from ..operators.interval import interval_join

    ev = _t(spark, sf_dir, "events")
    top = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "user_id").limit(20).select("user_id")
    )
    spans = (
        ev.join(F.broadcast(top), "user_id")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("span_start"), F.max("ts").alias("span_end"))
    )
    pts = ev.select(F.col("ts").alias("p_ts"), "value")
    joined = interval_join(pts, spans, point_ts="p_ts",
                           start_col="span_start", end_col="span_end",
                           broadcast_intervals=True)
    return (
        joined.groupBy("user_id", "day", "span_start", "span_end")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             _dec_sum("value", "sum_value"))
        .select("user_id", "day", _fmt_ts("span_start").alias("span_start"),
                _fmt_ts("span_end").alias("span_end"), "n_events", "sum_value")
    )


INTERVAL_JOIN_SQL = """
WITH top_users AS (
  SELECT user_id FROM (
    SELECT user_id,
           row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
    FROM events GROUP BY user_id) WHERE rn <= 20
),
spans AS (
  SELECT e.user_id, CAST(e.ts AS DATE) AS day, min(e.ts) AS s, max(e.ts) AS x
  FROM events e JOIN top_users USING (user_id)
  GROUP BY e.user_id, CAST(e.ts AS DATE)
),
j AS (
  SELECT sp.user_id, sp.day, sp.s, sp.x, p.value
  FROM spans sp JOIN events p ON p.ts BETWEEN sp.s AND sp.x
)
SELECT user_id, day,
       strftime(s, '%Y-%m-%d %H:%M:%S') AS span_start,
       strftime(x, '%Y-%m-%d %H:%M:%S') AS span_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM j
GROUP BY user_id, day, s, x
"""


def dup_span_docs(spark, sf_dir):
    """Cross-doc repeated-span audit (text.dup_spans): for every doc
    pair sharing a word 5-gram, total positional matches + the longest
    contiguous shared token span, via the dot-plot diagonal
    gaps-and-islands (pos_a − pos_b diagonal, pos_a − row_number run
    key) — pure window algebra, identical on both engines. Positions
    are 0-based on Spark and 1-based in the oracle; the constant offset
    cancels in both the diagonal and the run key."""
    from ..session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return text.dup_spans(docs, k=5)


DUP_SPAN_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
), pos AS (
  SELECT doc_id, words,
         unnest(range(1, greatest(len(words) - 4, 1) + 1)) AS i
  FROM w
), sh AS (
  SELECT doc_id, i,
         md5(COALESCE(array_to_string(list_slice(words, i, i + 4), ' '), ''))
           AS g
  FROM pos
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS pa, a.i - b.i AS diag
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
), runs AS (
  SELECT doc_a, doc_b, diag,
         pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
           AS run
  FROM m
), rl AS (
  SELECT doc_a, doc_b, count(*) AS len
  FROM runs GROUP BY doc_a, doc_b, diag, run
)
SELECT doc_a, doc_b, CAST(SUM(len) AS BIGINT) AS shared_grams,
       CAST(MAX(len) + 4 AS BIGINT) AS longest_span_tokens
FROM rl GROUP BY doc_a, doc_b
"""


def semdedup_embeddings(spark, sf_dir):
    """SemDeDup-style semantic dedup (similarity.semantic_dedup):
    deterministic IVF cells bound the pair space, then the
    order-independent within-cell prune (drop x iff an earlier
    same-cell vector has cosine ≥ 0.3). The oracle reuses the SAME
    farthest-point seeding CTE chain as ANN_IVF_SQL and replays the
    within-cell pair join in SQL — every verdict and every ``dup_of``
    id is exact-checked, not just the keep counts."""
    emb = _t(spark, sf_dir, "embeddings")
    # semantic_dedup's one kernel is the fold pair join, whose
    # BLAS-free pair dots the SQL replays
    return similarity.semantic_dedup(emb, threshold=0.3, n_cells=8)


def _semdedup_sql(n_cells: int = 8, threshold: float = 0.3) -> str:
    parts = _ivf_assign_parts(n_cells)
    parts.append(
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"{_sql_cos('a.v', 'b.v', 6)} AS c "
        "FROM assigned a JOIN assigned b "
        "ON a.cell = b.cell AND a.vec_id < b.vec_id)")
    parts.append(
        "dups AS (SELECT id_b AS vec_id, min(id_a) AS dup_of "
        f"FROM pairs WHERE c >= {threshold!r} GROUP BY id_b)")
    return f"""
WITH {','.join(parts)}
SELECT a.vec_id, a.cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept,
       CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of
FROM assigned a LEFT JOIN dups d USING (vec_id)
"""


# SEMDEDUP_SQL is assigned next to ANN_IVF_SQL below (after
# _ivf_assign_parts is defined — module evaluation order).


def quantile_sketch_events(spark, sf_dir):
    """Mergeable bottom-k quantile sketch (sketches.sample_quantiles)
    next to nothing but its own math: the oracle computes the GLOBAL
    bottom-512 sample directly in SQL, so the exact-value gate proves
    the two-phase map-side reduction merges correctly — the same
    equality-is-the-proof trick as ``kmv_distinct_events``."""
    from ..functions.sketches import sample_quantiles

    ev = _t(spark, sf_dir, "events")
    return sample_quantiles(ev, ["event_type"], "value", "event_id", k=512)


QUANTILE_SKETCH_SQL = """
WITH t AS (
  SELECT event_type, value, event_id,
         ('0x' || substr(md5('qsk:' || event_id), 1, 12))::BIGINT
           / 281474976710656.0 AS u
  FROM events
),
ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY u, event_id) AS rn
  FROM t
),
samp AS (SELECT event_type, value FROM ranked WHERE rn <= 512),
ordered AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
         count(*) OVER (PARTITION BY event_type) AS m
  FROM samp
)
SELECT event_type,
       CAST(max(m) AS BIGINT) AS sample_n,
       max(CASE WHEN vr = greatest(CAST(ceil(0.5 * m) AS BIGINT), 1)
                THEN value END) AS est_q50,
       max(CASE WHEN vr = greatest(CAST(ceil(0.9 * m) AS BIGINT), 1)
                THEN value END) AS est_q90,
       max(CASE WHEN vr = greatest(CAST(ceil(0.99 * m) AS BIGINT), 1)
                THEN value END) AS est_q99
FROM ordered GROUP BY event_type
"""


def quantile_sketch_docs(spark, sf_dir):
    """sample_quantiles over STRING ids: non-integral ids route through
    the 60-bit md5 order key (sketches._id_order_key) instead of a
    cast — this gate replays that exact hash in SQL, proving the
    (u, md5-id) total order is engine-portable end to end (a raw
    cast('long') would NULL every id and break the sample). Groups are
    languages over the documents table; value is n_chars as double."""
    from ..functions.sketches import sample_quantiles

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("sid"),
        F.col("n_chars").cast("double").alias("len_chars"))
    return sample_quantiles(d, ["lang"], "len_chars", "sid", k=128)


QUANTILE_SKETCH_DOCS_SQL = """
WITH t AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS len_chars,
         ('0x' || substr(md5('qsk:' || 'doc-' || doc_id), 1, 12))::BIGINT
           / 281474976710656.0 AS u,
         ('0x' || substr(md5('tb:' || 'doc-' || doc_id), 1, 15))::BIGINT
           AS tb
  FROM documents
),
ranked AS (
  SELECT lang, len_chars,
         row_number() OVER (PARTITION BY lang ORDER BY u, tb) AS rn
  FROM t
),
samp AS (SELECT lang, len_chars FROM ranked WHERE rn <= 128),
ordered AS (
  SELECT lang, len_chars,
         row_number() OVER (PARTITION BY lang ORDER BY len_chars) AS vr,
         count(*) OVER (PARTITION BY lang) AS m
  FROM samp
)
SELECT lang,
       CAST(max(m) AS BIGINT) AS sample_n,
       max(CASE WHEN vr = greatest(CAST(ceil(0.5 * m) AS BIGINT), 1)
                THEN len_chars END) AS est_q50,
       max(CASE WHEN vr = greatest(CAST(ceil(0.9 * m) AS BIGINT), 1)
                THEN len_chars END) AS est_q90,
       max(CASE WHEN vr = greatest(CAST(ceil(0.99 * m) AS BIGINT), 1)
                THEN len_chars END) AS est_q99
FROM ordered GROUP BY lang
"""


def knn_graph_embeddings(spark, sf_dir):
    """Corpus-wide approximate k-NN graph (similarity.knn_graph): both
    sides of the candidate join are the corpus, keyed on IVF cell —
    the shuffle-join form of ANN that ``ivf_topk``'s broadcast-query
    shape cannot scale to. The oracle reuses the farthest-point seeding
    CTE chain and replays the per-vector probe selection, candidate
    join, and top-k rank in SQL. n_cells=16 (vs the ANN queries' 8)
    follows the operator's own contract — cells ∝ N — sized for the
    2000-vector sf0.1 table: at a FIXED 8 cells the candidate volume
    measured quadratic (3.3 s -> 27.4 s on 4x vectors); 16 cells holds
    the per-cell load flat across the gate SFs."""
    emb = _t(spark, sf_dir, "embeddings")
    # knn_graph's two-stage scorer returns the fold pair join's rows
    # bit for bit (scorer == fold reference locked at this config in
    # tests/test_kernel_parity.py), so the SQL replays the fold
    return similarity.knn_graph(emb, k=5, n_cells=16, nprobe=2)


def _knn_graph_sql(n_cells: int = 16, nprobe: int = 2, k: int = 5) -> str:
    parts = _ivf_assign_parts(n_cells)
    cos9 = _sql_cos
    parts.append(
        "probers AS (SELECT src_id, vs, cell FROM ("
        "SELECT e.vec_id AS src_id, e.v AS vs, c.cell, "
        "row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos9('e.v', 'c.v', 9)} DESC, c.cell DESC) AS rn "
        f"FROM e CROSS JOIN cells c) WHERE rn <= {nprobe})")
    parts.append(
        "scored AS (SELECT p.src_id, a.vec_id AS dst_id, "
        f"{cos9('a.v', 'p.vs', 6)} AS cosine_sim "
        "FROM assigned a JOIN probers p USING (cell) "
        "WHERE p.src_id <> a.vec_id)")
    return f"""
WITH {','.join(parts)}
SELECT src_id, dst_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY src_id
                               ORDER BY cosine_sim DESC, dst_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def key_skew_stats_events(spark, sf_dir):
    """Shuffle-skew diagnostics for a join/agg key — the measurement
    that decides whether a key needs salting (operators/routing.py
    salted_two_phase_agg) or AQE skew-join will do: per candidate key
    column, its count distribution (max, p99-ish top share, a
    Gini-style concentration) and the salt factor that would level the
    hottest key to the mean task load.

    One pass per key column over the aggregated per-key counts —
    |keys| rows, never raw data — and the suggested_salt is ceil(max /
    avg), the factor `salted_hot_key_agg` would need.
    """
    ev = _t(spark, sf_dir, "events")
    outs = []
    for col in ("user_id", "event_type"):
        per_key = ev.groupBy(F.col(col).cast("string").alias("k")) \
            .agg(F.count(F.lit(1)).alias("n"))
        outs.append(per_key.agg(
            F.lit(col).alias("key_col"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_key_rows"),
            F.round(F.max("n") / F.sum("n").cast("double"), 6)
             .alias("top_key_share"),
            F.ceil(F.max("n") * F.count(F.lit(1)) / F.sum("n").cast("double"))
             .cast("long").alias("suggested_salt"),
        ))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


KEY_SKEW_SQL = """
WITH u AS (
  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
  FROM events GROUP BY 1
), t AS (
  SELECT CAST(event_type AS VARCHAR) AS k, count(*) AS n
  FROM events GROUP BY 1
)
SELECT 'user_id' AS key_col, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_key_rows,
       round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top_key_share,
       CAST(ceil(max(n) * count(*) / CAST(sum(n) AS DOUBLE)) AS BIGINT)
         AS suggested_salt
FROM u
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT), CAST(sum(n) AS BIGINT),
       CAST(max(n) AS BIGINT),
       round(max(n) / CAST(sum(n) AS DOUBLE), 6),
       CAST(ceil(max(n) * count(*) / CAST(sum(n) AS DOUBLE)) AS BIGINT)
FROM t
"""


def profile_lineitem(spark, sf_dir):
    """One-scan column profile (functions/checks.profile_table) of the
    widest fact table: dtype, null count, distinct count, numeric
    min/max per column — 4·|columns| agg expressions over a single
    pass, |columns| output rows. The discovery half of the DQ pair
    (profile → pin rules)."""
    from ..functions.checks import profile_table

    return profile_table(_t(spark, sf_dir, "lineitem")).orderBy("column")


_LINEITEM_PROFILE = [
    ("l_orderkey", "bigint", True), ("l_partkey", "bigint", True),
    ("l_suppkey", "bigint", True), ("l_linenumber", "int", True),
    ("l_quantity", "double", True), ("l_extendedprice", "double", True),
    ("l_discount", "double", True), ("l_tax", "double", True),
    ("l_returnflag", "string", False), ("l_linestatus", "string", False),
    ("l_shipdate", "timestamp_ntz", False),
]


def _profile_sql() -> str:
    parts = []
    for name, dt, num in _LINEITEM_PROFILE:
        mn = (f"round(CAST(min({name}) AS DOUBLE), 6)" if num
              else "CAST(NULL AS DOUBLE)")
        mx = (f"round(CAST(max({name}) AS DOUBLE), 6)" if num
              else "CAST(NULL AS DOUBLE)")
        parts.append(
            f"SELECT '{name}' AS \"column\", '{dt}' AS dtype, "
            f"CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num FROM lineitem")
    return " UNION ALL ".join(parts) + " ORDER BY \"column\""


PROFILE_SQL = _profile_sql()


def dq_checks_orders(spark, sf_dir):
    """Declarative data-quality report (functions/checks.py): five rule
    kinds over orders — null, uniqueness, accepted values, range,
    referential integrity — with all scalar+unique rules folded into
    ONE scan (adding rules adds agg columns, never scans) and the
    FK check as one broadcast anti-join. The range/accepted-values
    rules are chosen to have real violations at every SF, so the gate
    proves counting, not just zeros."""
    from ..functions import checks as C

    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rules = [
        C.not_null("o_custkey"),
        C.unique(["o_orderkey"]),
        C.accepted_values("o_orderstatus", ["O", "F"]),
        C.in_range("o_totalprice", 1000.0, 400000.0),
        C.references("o_custkey", cust, "c_custkey"),
    ]
    return C.run_checks(o, rules).orderBy("rule")


def dq_unique_nullkeys_events(spark, sf_dir):
    """unique() under NULL keys — the r5 distinct-null fix under the
    gate: keys are derived nullable columns over events (user buckets
    with a planted NULL stripe × event_type), so null-keyed rows are
    common and the rule must count them as ONE distinct null tuple
    (SQL DISTINCT semantics; the pre-fix count_distinct dropped every
    null-keyed tuple and reported each as a violation). The oracle
    replays the same struct-distinct — both engines treat a tuple with
    NULL fields as a value, not as NULL."""
    from ..functions import checks as C

    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 13 == 0, F.lit(None))
         .otherwise(F.col("user_id") % 101).alias("k_bucket"),
        F.col("event_type").alias("k_type"))
    return C.run_checks(ev, [C.unique(["k_bucket", "k_type"])]) \
        .orderBy("rule")


DQ_UNIQUE_NULLKEYS_SQL = """
WITH t AS (
  SELECT CASE WHEN user_id % 13 = 0 THEN NULL
              ELSE user_id % 101 END AS k_bucket,
         event_type AS k_type
  FROM events
)
SELECT 'unique:k_bucket,k_type' AS rule,
       CAST(COUNT(*) - COUNT(DISTINCT (k_bucket, k_type)) AS BIGINT)
         AS n_violations
FROM t
ORDER BY rule
"""


DQ_CHECKS_SQL = """
SELECT 'accepted_values:o_orderstatus' AS rule,
       CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                      AND o_orderstatus NOT IN ('O', 'F')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM orders
UNION ALL
SELECT 'in_range:o_totalprice',
       CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                      AND (o_totalprice < 1000.0 OR o_totalprice > 400000.0)
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'not_null:o_custkey',
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'references:o_custkey',
       (SELECT CAST(COUNT(*) AS BIGINT)
        FROM orders o
        LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
          ON o.o_custkey = c.c_custkey
        WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL)
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
FROM orders
ORDER BY rule
"""


def analytic_functions_orders(spark, sf_dir):
    """The remaining analytic-window family in one gated shape:
    lag/lead (neighbor rows), ntile (equi-depth buckets), percent_rank
    and cume_dist (rank ratios) over each customer's order history.
    All SQL-standard semantics shared by both engines; the ratio
    functions divide exact integers in IEEE doubles (deterministic),
    rounded to 6 like every float output."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


ANALYTIC_FUNCS_SQL = """
SELECT o_orderkey, o_custkey,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def pivot_event_matrix(spark, sf_dir):
    """Wide-format feature matrix via the DataFrame PIVOT API: one row
    per user, one count column per event type (explicit value list —
    the scale-safe form: no extra distinct-values job, stable schema).
    The oracle is the portable CASE-sum unpivot of the same matrix."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    p = (ev.groupBy("user_id").pivot("event_type", types).count())
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in types])


PIVOT_SQL = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_view
FROM events GROUP BY user_id
"""


def cms_counts_events(spark, sf_dir):
    """Count-Min sketch point-frequency estimates
    (sketches.cms_table/cms_estimate) next to exact counts for a
    deterministic probe set. The oracle replays the d×w md5 counter
    table AND the min-over-rows estimates in SQL, so the exact-value
    gate proves the whole sketch — including every collision's
    over-count — not just the happy path."""
    from ..functions.sketches import cms_estimate, cms_table

    ev = _t(spark, sf_dir, "events")
    counters = cms_table(ev, "user_id", d=4, w=1024)
    probes = ev.filter(F.col("user_id") % 20 == 0)
    est = cms_estimate(probes, counters, "user_id", d=4, w=1024)
    exact = (probes.groupBy("user_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_exact")))
    return exact.join(est, "user_id").select(
        "user_id", "n_exact", F.col("cms_estimate").cast("long")
        .alias("cms_estimate"))


CMS_SQL = """
WITH d AS (SELECT unnest([0, 1, 2, 3]) AS row_i),
cells AS (
  SELECT d.row_i,
         ('0x' || substr(md5('cms' || d.row_i || ':' || user_id), 1, 12))
           ::BIGINT % 1024 AS bucket
  FROM events CROSS JOIN d
),
counters AS (
  SELECT row_i, bucket, count(*) AS cnt FROM cells GROUP BY row_i, bucket
),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 20 = 0),
pc AS (
  SELECT p.user_id, d.row_i,
         ('0x' || substr(md5('cms' || d.row_i || ':' || p.user_id), 1, 12))
           ::BIGINT % 1024 AS bucket
  FROM probes p CROSS JOIN d
),
est AS (
  SELECT pc.user_id, min(coalesce(c.cnt, 0)) AS cms_estimate
  FROM pc LEFT JOIN counters c USING (row_i, bucket) GROUP BY pc.user_id
),
ex AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM events WHERE user_id % 20 = 0 GROUP BY user_id
)
SELECT e.user_id, e.n_exact, CAST(est.cms_estimate AS BIGINT) AS cms_estimate
FROM ex e JOIN est USING (user_id)
"""


def zorder_block_stats_events(spark, sf_dir):
    """Data-layout evaluation harness (functions/layout.py): score three
    physical orderings of events — Morton z-order on (user bucket,
    minute-of-hour), row-major (x then y), and random (md5) — by how
    many fixed-size row blocks a rectangular predicate touches. Blocks
    model parquet row groups: blocks_touched is exactly what min/max
    stats pruning would have to read.

    The probe rectangle x,y ∈ [16,31]² is a Morton-ALIGNED quad, the
    best case z-order is designed for: matching rows are contiguous in
    z-space (blocks ≈ rows/block_size), while row-major touches one run
    per x value and random touches nearly every block. The global
    row_number here is the EVALUATION device (one sorted partition at
    gate scale); the production writer is ``layout.zorder_write`` —
    repartitionByRange + sortWithinPartitions, no global sort.
    """
    from ..functions.layout import zorder_key

    base = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 64).alias("x"),
        F.minute("ts").alias("y"),
        F.md5(F.concat_ws(":", F.lit("z"), F.col("event_id"))).alias("_mk"),
    ).withColumn("zkey", zorder_key(F.col("x"), F.col("y"), bits=6))
    from pyspark.sql import Window

    def ranked(order_cols, label):
        w = Window.orderBy(*order_cols)
        return base.withColumn("_rk", F.row_number().over(w)).select(
            F.lit(label).alias("layout"), "x", "y",
            F.floor((F.col("_rk") - 1) / 256).alias("_blk"))

    u = (
        ranked([F.col("zkey"), F.col("event_id")], "zorder")
        .unionAll(ranked([F.col("x"), F.col("y"), F.col("event_id")],
                         "rowmajor"))
        .unionAll(ranked([F.col("_mk"), F.col("event_id")], "random"))
    )
    hit = u.filter(F.col("x").between(16, 31) & F.col("y").between(16, 31))
    return hit.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("rows_matched"),
        F.countDistinct("_blk").cast("long").alias("blocks_touched"))


def _zorder_sql() -> str:
    from ..functions.layout import zorder_key_sql

    z = zorder_key_sql("x", "y", bits=6)
    return f"""
WITH base AS (
  SELECT event_id, user_id % 64 AS x, minute(ts) AS y,
         md5('z:' || event_id) AS mk
  FROM events
), keyed AS (
  SELECT *, {z} AS zkey FROM base
), layouts AS (
  SELECT 'zorder' AS layout, x, y,
         (row_number() OVER (ORDER BY zkey, event_id) - 1) // 256 AS blk
  FROM keyed
  UNION ALL
  SELECT 'rowmajor', x, y,
         (row_number() OVER (ORDER BY x, y, event_id) - 1) // 256
  FROM keyed
  UNION ALL
  SELECT 'random', x, y,
         (row_number() OVER (ORDER BY mk, event_id) - 1) // 256
  FROM keyed
)
SELECT layout, CAST(count(*) AS BIGINT) AS rows_matched,
       CAST(count(DISTINCT blk) AS BIGINT) AS blocks_touched
FROM layouts
WHERE x BETWEEN 16 AND 31 AND y BETWEEN 16 AND 31
GROUP BY layout
"""


ZORDER_SQL = _zorder_sql()


def chunk_docs(spark, sf_dir):
    """Sliding-window chunking (text.chunk_documents): 64-word windows
    every 48 words (16-word overlap) — the context-window prep of an
    embedding/RAG pipeline. Map-only (one Generate, zero shuffles,
    plan-locked); the oracle replays windows with list_slice and the
    same ceil arithmetic."""
    from ..session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    return text.chunk_documents(docs, chunk_words=64, stride=48)


CHUNK_DOCS_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
), c0 AS (
  SELECT doc_id, words,
         unnest(range(0, greatest(
           CAST(ceil(greatest(len(words) - 16, 1) / 48.0) AS BIGINT), 1)))
           AS i
  FROM w
), c AS (
  SELECT doc_id, i,
         COALESCE(array_to_string(
           list_slice(words, i * 48 + 1, i * 48 + 64), ' '), '') AS chunk
  FROM c0
)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(CASE WHEN length(chunk) > 0
                 THEN len(string_split(chunk, ' ')) ELSE 0 END AS BIGINT)
         AS n_words,
       md5(chunk) AS chunk_md5
FROM c
"""


def grouping_sets_lineitem(spark, sf_dir):
    """CUBE over (returnflag, linestatus) — grouping-sets surface."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("l_quantity", "sum_qty"))
    )


CUBE_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def setops_customers(spark, sf_dir):
    """INTERSECT/EXCEPT surface: customers ordering in both 1996 and 1997,
    minus any with a returned line in 1997."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    y94 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y95 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    returned = (
        li.filter((F.col("l_returnflag") == "R") & (F.year("l_shipdate") == 1997))
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey")
    )
    return y94.intersect(y95).exceptAll(returned.distinct()).select(
        F.col("o_custkey").alias("custkey")
    )


SETOPS_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
EXCEPT
SELECT DISTINCT o_custkey
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R' AND year(l_shipdate) = 1997
"""


def persons_generator(spark, sf_dir):
    """Data-generator source (DataGeneratorSource.java / Person.java:33-37):
    deterministic synthetic records — oracle replays the same arithmetic."""
    from ..sources.connectors import data_generator

    return data_generator(spark, 200)


PERSONS_SQL = """
SELECT i AS sequence,
       ['Ada','Grace','Alan','Edsger','Barbara','Donald','Tony','Leslie'][(i % 8) + 1]
       || ' ' ||
       ['Lovelace','Hopper','Turing','Dijkstra','Liskov','Knuth','Hoare','Lamport'][(i % 7) + 1]
       AS name,
       CAST(i % 60 + 18 AS INTEGER) AS age,
       ['acme','globex','initech','umbrella'][(i % 4) + 1] AS company
FROM generate_series(0, 199) AS t(i)
"""


# --------------------------------------------------------------------------
# Training-data pipeline: text analysis / dedup / similarity
# --------------------------------------------------------------------------

_STOP_EN_SQL = "['" + "','".join(text.STOPWORDS["en"]) + "']"


def text_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.char_count(t).alias("n_chars_calc"),
        text.word_count(t).alias("n_words"),
        text.token_count(t).alias("n_tokens"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.stopword_ratio(t).alias("stopword_ratio"),
    )


TEXT_STATS_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens,
       CASE WHEN length(text) > 0
            THEN round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) / length(text), 6)
            ELSE 0.0 END AS punct_ratio,
       CASE WHEN len(words) > 0
            THEN round(CAST(len(list_filter(words, x -> list_contains({_STOP_EN_SQL}, x))) AS DOUBLE)
                       / len(words), 6)
            ELSE 0.0 END AS stopword_ratio
FROM t
"""


def pattern_stats(spark, sf_dir):
    """Pattern-density quality signals (training-data filtering): URL /
    email / long-digit-run counts and hits-per-100-words over the
    documents table — pure column regexes, RE2-safe so DuckDB
    reproduces them bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text.url_count(t).alias("n_urls"),
        text.email_count(t).alias("n_emails"),
        text.long_digit_run_count(t).alias("n_digit_runs"),
        text.pattern_density(t).alias("pattern_density"),
    )


PATTERN_STATS_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
         len(regexp_extract_all(text, '[0-9]{6,}')) AS n_digit_runs,
         len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words
  FROM documents
)
SELECT doc_id,
       CAST(n_urls AS BIGINT) AS n_urls,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_digit_runs AS BIGINT) AS n_digit_runs,
       CASE WHEN n_words > 0
            THEN round((n_urls + n_emails + n_digit_runs) * 100.0 / n_words, 6)
            ELSE (n_urls + n_emails + n_digit_runs) * 100.0 END AS pattern_density
FROM t
"""


def tfidf_top_terms_docs(spark, sf_dir):
    """Top-3 characteristic terms per doc by tf·idf (rational idf
    n/(1+df) — bit-identical across engines; ln would ulp-flip ranks)."""
    docs = _t(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, k=3)


TFIDF_SQL = """
WITH tokens AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY doc_id, term
), dfc AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * ((SELECT COUNT(*) FROM documents) / (1.0 + dfc.df)), 6)
           AS score
  FROM tf JOIN dfc ON tf.term = dfc.term
), ranked AS (
  SELECT doc_id, term, tf, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang",
                       text.detect_language(F.col("text")).alias("lang_pred"))


def _lang_score_sql(lang: str) -> str:
    arr = "['" + "','".join(text.STOPWORDS[lang]) + "']"
    return f"len(list_filter(regexp_extract_all(lower(text), '[a-z]+'), x -> list_contains({arr}, x)))"


LANG_ID_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         {_lang_score_sql('en')} AS s_en, {_lang_score_sql('de')} AS s_de,
         {_lang_score_sql('fr')} AS s_fr, {_lang_score_sql('es')} AS s_es
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
            ELSE 'es' END AS lang_pred
FROM s
"""


def pii_redaction(spark, sf_dir):
    """PII scrub pass (training-data pipeline): detect + redact emails /
    IPv4s / phones to typed placeholders (text.redact_pii), verified
    bit-for-bit via md5 of the redacted text on both engines.

    The fixture corpus is clean word-salad, so the query first INJECTS
    deterministic synthetic PII (every 5th doc an email, 7th a phone,
    11th an IPv4 — identical construction in the oracle SQL); counts are
    therefore non-zero and the regex/replacement order is genuinely
    exercised. Pure column exprs — map-only, scan-speed at 100 TB.
    """
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    txt = F.when(did % 5 == 0,
                 F.concat(F.col("text"), F.lit(" contact user"),
                          did.cast("string"), F.lit("@example.com"))
                 ).otherwise(F.col("text"))
    txt = F.when(did % 7 == 0,
                 F.concat(txt, F.lit(" call 555-123-"),
                          F.lpad((did % 10000).cast("string"), 4, "0"))
                 ).otherwise(txt)
    txt = F.when(did % 11 == 0,
                 F.concat(txt, F.lit(" from 10.0."), (did % 256).cast("string"),
                          F.lit("."), ((did * 7) % 256).cast("string"))
                 ).otherwise(txt)
    docs2 = docs.select("doc_id", txt.alias("_txt"))
    t = F.col("_txt")
    red = text.redact_pii(t)
    return docs2.select(
        "doc_id",
        text.email_count(t).alias("n_emails"),
        text.phone_count(t).alias("n_phones"),
        text.ipv4_count(t).alias("n_ipv4"),
        F.md5(red).alias("redacted_md5"),
        (F.length(red) - F.length(t)).cast("long").alias("len_delta"),
    )


_PII_INJ_SQL = """
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN b2 || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              ELSE b2 END AS txt
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN b1 || ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE b1 END AS b2
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                          ELSE text END AS b1
              FROM documents) i1) i2
"""

PII_SQL = rf"""
WITH inj AS ({_PII_INJ_SQL})
SELECT doc_id,
       CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(txt, '[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(txt, '[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}')) AS BIGINT) AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}', '[IP]', 'g'),
             '[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}', '[PHONE]', 'g')) AS redacted_md5,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}\.[0-9]{{1,3}}', '[IP]', 'g'),
             '[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}', '[PHONE]', 'g'))
            - length(txt) AS BIGINT) AS len_delta
FROM inj
"""


def contamination_check(spark, sf_dir):
    """Benchmark-contamination scan: does any training document contain a
    benchmark probe n-gram?  Probes = the first 5-word gram of every
    25th doc (a stand-in benchmark set, deterministic on both engines).

    Spark-first shape: NO substring scan of the corpus per probe —
    documents are shingled into 5-word grams ONCE (distinct per doc
    before the explode, so no DISTINCT shuffle) and equi-joined against
    the broadcast probe set; one shuffle for the final per-probe count.
    At 100 TB this is the only shape that works: the corpus side stays
    map-local until a tiny (probe, doc) hit set emerges.
    """
    from ..session import ensure_parallelism

    # spread the narrow documents scan BEFORE the shingle explode — a
    # single-file parquet input would otherwise shingle on one core
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    words_tbl = docs.select("doc_id", text.word_tokens(F.col("text")).alias("_words"))
    shingles = words_tbl.select(
        "doc_id", F.explode(text.word_shingles(F.col("_words"), 5)).alias("gram"))
    probes = words_tbl.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("probe_id"),
        F.array_join(F.slice(F.col("_words"), 1, 5), " ").alias("gram"))
    return (
        shingles.join(F.broadcast(probes), "gram")
        .groupBy("probe_id", "gram")
        .agg(F.count(F.lit(1)).alias("n_contaminated_docs"))
        .orderBy("probe_id")
    )


CONTAM_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
), pos AS (
  SELECT doc_id, words,
         unnest(range(1, greatest(len(words) - 4, 1) + 1)) AS i
  FROM w
), sh AS (
  SELECT DISTINCT doc_id,
         COALESCE(array_to_string(list_slice(words, i, i + 4), ' '), '') AS gram
  FROM pos
), probes AS (
  SELECT doc_id AS probe_id,
         COALESCE(array_to_string(list_slice(words, 1, 5), ' '), '') AS gram
  FROM w WHERE doc_id % 25 = 0
)
SELECT probe_id, p.gram AS gram, CAST(COUNT(*) AS BIGINT) AS n_contaminated_docs
FROM sh JOIN probes p ON sh.gram = p.gram
GROUP BY probe_id, p.gram
ORDER BY probe_id
"""


def repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals per doc: type-token ratio and the
    share of word transitions consumed by the single most frequent
    bigram (boilerplate/template detector).

    Three shuffles: bigram counts by (doc, bigram), per-doc top-1 window
    by doc, join back to the per-doc scalars — each keyed by doc_id, so
    the plan scales linearly with corpus size. The word array is
    materialized in its own select before the shingle transform
    (Catalyst-inlining trap, see text.word_shingles).
    """
    from pyspark.sql import Window

    from ..session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    words_tbl = docs.select("doc_id", text.word_tokens(F.col("text")).alias("_words"))
    nw = F.size("_words")
    stats = words_tbl.select(
        "doc_id",
        nw.cast("long").alias("n_words"),
        F.when(nw > 0,
               F.round(F.size(F.array_distinct("_words")).cast("double") / nw, 6)
               ).otherwise(F.lit(1.0)).alias("type_token_ratio"),
    )
    big = words_tbl.select(
        "doc_id",
        F.explode(text.word_shingles(F.col("_words"), 2, distinct=False)).alias("bigram"))
    counts = big.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("bigram"))
    top = (counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
           .select("doc_id", F.col("bigram").alias("top_bigram"),
                   F.col("n").alias("top_bigram_n")))
    return (
        stats.join(top, "doc_id")
        .select("doc_id", "n_words", "type_token_ratio", "top_bigram",
                F.col("top_bigram_n").cast("long").alias("top_bigram_n"),
                F.when(F.col("n_words") > 1,
                       F.round(F.col("top_bigram_n").cast("double")
                               / (F.col("n_words") - 1), 6)
                       ).otherwise(F.lit(1.0)).alias("top_bigram_share"))
    )


REPETITION_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
), stats AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         CASE WHEN len(words) > 0
              THEN round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
              ELSE 1.0 END AS type_token_ratio
  FROM w
), pos AS (
  SELECT doc_id, words, unnest(range(1, greatest(len(words) - 1, 1) + 1)) AS i
  FROM w
), big AS (
  SELECT doc_id,
         COALESCE(array_to_string(list_slice(words, i, i + 1), ' '), '') AS bigram
  FROM pos
), counts AS (
  SELECT doc_id, bigram, COUNT(*) AS n FROM big GROUP BY doc_id, bigram
), top AS (
  SELECT doc_id, bigram AS top_bigram, n AS top_bigram_n
  FROM (SELECT doc_id, bigram, n,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n DESC, bigram) AS rk
        FROM counts)
  WHERE rk = 1
)
SELECT s.doc_id, s.n_words, s.type_token_ratio, t.top_bigram,
       CAST(t.top_bigram_n AS BIGINT) AS top_bigram_n,
       CASE WHEN s.n_words > 1
            THEN round(CAST(t.top_bigram_n AS DOUBLE) / (s.n_words - 1), 6)
            ELSE 1.0 END AS top_bigram_share
FROM stats s JOIN top t USING (doc_id)
"""


def train_split_stats(spark, sf_dir):
    """Deterministic train/val/test split — the dataset-assembly step of
    every training pipeline. Assignment = first two hex chars of
    md5(doc_id): < 'cd' train (205/256 ≈ 80%), < 'e6' val (≈ 10%),
    else test. md5 is the portable hash family (Spark hash()/xxhash64
    are not reproducible elsewhere); string comparison avoids hex→int
    conversion, which DuckDB lacks. Pure exprs + one agg shuffle;
    rerunnable at any scale with identical assignments.
    """
    docs = _t(spark, sf_dir, "documents")
    b = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (F.when(b < "cd", F.lit("train"))
             .when(b < "e6", F.lit("val"))
             .otherwise(F.lit("test")))
    return (
        docs.select(split.alias("split"), "source", "n_chars")
        .groupBy("split", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("long").alias("sum_chars"))
        .orderBy("split", "source")
    )


SPLIT_SQL = """
WITH s AS (
  SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         source, n_chars
  FROM documents)
SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY split, source
ORDER BY split, source
"""


def dataset_mixing(spark, sf_dir):
    """Weighted source mixing: each source keeps a deterministic fraction
    of its docs (srcN → (N mod 4 + 1)/4, i.e. 25/50/75/100%), selected
    by comparing the first md5 hex char of (source:doc_id) against the
    source's threshold char — the reproducible Bernoulli sample used to
    re-weight corpus mixtures. Map-only + one agg shuffle.
    """
    docs = _t(spark, sf_dir, "documents")
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    w16 = (src_num % 4) + 1
    thr = F.element_at(F.array(F.lit("3"), F.lit("7"), F.lit("b"), F.lit("f")),
                       (src_num % 4) + 1)
    h = F.substring(
        F.md5(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))), 1, 1)
    return (
        docs.select("source", w16.alias("w16"), (h <= thr).cast("int").alias("keep"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("keep").cast("long").alias("n_kept"),
             F.round(F.max("w16").cast("double") / 4, 6).alias("target_frac"))
        .orderBy("source")
    )


MIX_SQL = """
WITH s AS (
  SELECT source, CAST(substr(source, 4) AS INTEGER) AS src_num,
         substring(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 1) AS h
  FROM documents
), k AS (
  SELECT source, (src_num % 4) + 1 AS w16,
         CASE WHEN h <= (CASE src_num % 4 WHEN 0 THEN '3' WHEN 1 THEN '7'
                                          WHEN 2 THEN 'b' ELSE 'f' END)
              THEN 1 ELSE 0 END AS keep
  FROM s)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_kept,
       round(CAST(MAX(w16) AS DOUBLE) / 4, 6) AS target_frac
FROM k GROUP BY source
ORDER BY source
"""


def auto_consume_events(spark, sf_dir):
    """AUTO_CONSUME under the exact gate (SchemaType.java:165 /
    Schema.AUTO_CONSUME): the events topic's JSON payload schema is
    INFERRED from a bounded sample (registry.infer_schema — the
    GenericRecord path, no registry lookup), every row decoded with
    from_json against the inferred StructType, and the decoded field
    aggregated — cross-checked against DuckDB's json_extract.
    Deterministic because the payload shape is fixed; the inference
    sample is bounded so the schema step costs O(1) at any topic size.
    """
    from .. import registry as reg

    ev = _t(spark, sf_dir, "events")
    schema = reg.infer_schema(spark, ev, value_col="props")
    parsed = ev.select(F.from_json(F.col("props"), schema).alias("p"))
    return (
        parsed.select((F.col("p.k") % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("k_mod")
    )


AUTO_CONSUME_SQL = """
SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY 1
ORDER BY 1
"""


def topic_stats(spark, sf_dir):
    """Admin-API topic stats (PersistentTopicsBase.getStats /
    Topic.asyncGetStats analogue): per-producer message counts, key
    cardinality, sequence span and publish span over the events topic
    envelope — the monitoring surface an operator reads. Exercises the
    full TypedMessageBuilder envelope path inside the oracle gate (the
    oracle reproduces the envelope's field derivations over the raw
    events table). One agg shuffle keyed by producer.
    """
    from .. import envelope as env

    msgs = env.events_as_messages(spark, sf_dir)
    return (
        msgs.groupBy("producer_name")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.countDistinct("key").alias("n_keys"),
            F.min("sequence").alias("first_sequence"),
            F.max("sequence").alias("last_sequence"),
            _fmt_ts(F.min("publish_time")).alias("first_publish"),
            _fmt_ts(F.max("publish_time")).alias("last_publish"),
        )
        .orderBy("producer_name")
    )


TOPIC_STATS_SQL = """
SELECT 'producer-' || CAST(user_id % 8 AS VARCHAR) AS producer_name,
       CAST(COUNT(*) AS BIGINT) AS n_msgs,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
       CAST(MIN(event_id) AS BIGINT) AS first_sequence,
       CAST(MAX(event_id) AS BIGINT) AS last_sequence,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_publish,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_publish
FROM events
GROUP BY user_id % 8
ORDER BY producer_name
"""


def corpus_filter_funnel(spark, sf_dir):
    """C4/Gopher-style quality-filter funnel: how many documents survive
    each cumulative cleanup stage (min length → type-token ratio →
    stopword presence → pattern density). The thresholds are chosen to
    discriminate on the fixture corpus (words 10-99, TTR 0.28-1.0), so
    every stage removes real documents.

    One map-only pass computes all stage flags, one agg row, one stack
    unpivot — the whole funnel costs a single corpus scan at any scale
    (this is why the stages are column exprs, not sequential jobs).
    """
    docs = _t(spark, sf_dir, "documents")
    words_tbl = docs.select(
        "doc_id", F.col("text"), text.word_tokens(F.col("text")).alias("_words"))
    nw = F.size("_words")
    ttr = F.when(nw > 0,
                 F.size(F.array_distinct("_words")).cast("double") / nw
                 ).otherwise(F.lit(0.0))
    stop_ratio = text.stopword_ratio(F.col("text"))
    f_len = nw >= 30
    f_ttr = f_len & (ttr >= 0.35)
    f_stop = f_ttr & (stop_ratio >= 0.01)
    f_pat = f_stop & (text.pattern_density(F.col("text")) < 5.0)
    agg = words_tbl.agg(
        F.count(F.lit(1)).alias("c0"),
        F.sum(f_len.cast("long")).alias("c1"),
        F.sum(f_ttr.cast("long")).alias("c2"),
        F.sum(f_stop.cast("long")).alias("c3"),
        F.sum(f_pat.cast("long")).alias("c4"),
    )
    return agg.select(F.expr(
        "stack(5, '0_all', c0, '1_min_length', c1, '2_type_token', c2, "
        "'3_stopword', c3, '4_pattern', c4) AS (stage, n_docs)"))


FUNNEL_SQL = """
WITH w AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
), f AS (
  SELECT CASE WHEN len(words) >= 30 THEN 1 ELSE 0 END AS f_len,
         CASE WHEN len(words) >= 30
                   AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words) >= 0.35
              THEN 1 ELSE 0 END AS f_ttr,
         CASE WHEN len(words) >= 30
                   AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words) >= 0.35
                   AND CAST(len(list_filter(words, x -> list_contains(
                         ['the','and','of','to','in','is','that','it','was','for'], x)))
                        AS DOUBLE) / len(words) >= 0.01
              THEN 1 ELSE 0 END AS f_stop,
         CASE WHEN len(words) >= 30
                   AND CAST(len(list_distinct(words)) AS DOUBLE) / len(words) >= 0.35
                   AND CAST(len(list_filter(words, x -> list_contains(
                         ['the','and','of','to','in','is','that','it','was','for'], x)))
                        AS DOUBLE) / len(words) >= 0.01
                   AND (len(regexp_extract_all(text, 'https?://[^\\s]+'))
                        + len(regexp_extract_all(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                        + len(regexp_extract_all(text, '[0-9]{6,}'))) * 100.0
                       / len(words) < 5.0
              THEN 1 ELSE 0 END AS f_pat
  FROM w
), agg AS (
  SELECT COUNT(*) AS c0, SUM(f_len) AS c1, SUM(f_ttr) AS c2,
         SUM(f_stop) AS c3, SUM(f_pat) AS c4
  FROM f
)
SELECT '0_all' AS stage, CAST(c0 AS BIGINT) AS n_docs FROM agg
UNION ALL SELECT '1_min_length', CAST(c1 AS BIGINT) FROM agg
UNION ALL SELECT '2_type_token', CAST(c2 AS BIGINT) FROM agg
UNION ALL SELECT '3_stopword', CAST(c3 AS BIGINT) FROM agg
UNION ALL SELECT '4_pattern', CAST(c4 AS BIGINT) FROM agg
"""


def split_leakage(spark, sf_dir):
    """Train/test LEAKAGE check: which test-split documents share any
    3-word gram with a train-split document (the cross-split
    contamination audit every eval pipeline needs — same md5-bucket
    split as ``train_split_stats``).

    Scale shape: one shingle pass over the corpus (distinct per doc
    before the explode), split into sides by the split flag, equi-join
    on the gram — shuffle keys are fixed-width grams, payloads never
    move; the per-test-doc counts are one more keyed agg.
    """
    from ..session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    words_tbl = docs.select(
        "doc_id", corpus.split_assignment("doc_id").alias("split"),
        text.word_tokens(F.col("text")).alias("_words"))
    sh = words_tbl.select(
        "doc_id", "split",
        F.explode(text.word_shingles(F.col("_words"), 3)).alias("gram"))
    test = sh.filter(F.col("split") == "test") \
        .select(F.col("doc_id").alias("test_doc_id"), "gram")
    train = sh.filter(F.col("split") == "train") \
        .select(F.col("doc_id").alias("train_doc_id"), "gram")
    return (
        test.join(train, "gram")
        .groupBy("test_doc_id")
        .agg(F.countDistinct("train_doc_id").alias("n_train_docs"),
             F.countDistinct("gram").alias("n_leaked_grams"))
        .orderBy("test_doc_id")
    )


LEAKAGE_SQL = """
WITH s AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd' THEN 'train'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         regexp_extract_all(lower(text), '[a-z]+') AS words
  FROM documents
), pos AS (
  SELECT doc_id, split, words,
         unnest(range(1, greatest(len(words) - 2, 1) + 1)) AS i
  FROM s
), sh AS (
  SELECT DISTINCT doc_id, split,
         COALESCE(array_to_string(list_slice(words, i, i + 2), ' '), '') AS gram
  FROM pos
)
SELECT t.doc_id AS test_doc_id,
       CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_train_docs,
       CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_leaked_grams
FROM sh t JOIN sh tr ON t.gram = tr.gram
WHERE t.split = 'test' AND tr.split = 'train'
GROUP BY t.doc_id
ORDER BY test_doc_id
"""


def asof_join_events(spark, sf_dir):
    """Point-in-time attribution: every purchase matched to the same
    user's latest click at or before the purchase timestamp —
    operators/asof.py (union-tag + one keyed window pass; NO range join,
    ONE shuffle). Oracle: DuckDB's native ASOF LEFT JOIN, so the full
    as-of semantics — inclusive ties and NULL matches for purchases with
    no prior click — are cross-engine checked.
    """
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    res = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return res.select(
        "event_id", "user_id", _fmt_ts(F.col("ts")).alias("ts"),
        "click_id", _fmt_ts(F.col("ts_right")).alias("click_ts"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("ts_right").cast("timestamp"))).alias("gap_us"),
    )


ASOF_SQL = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT event_id AS click_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       c.click_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS gap_us
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def asof_join_events_salted(spark, sf_dir):
    """The SAME point-in-time attribution through the skew-safe path:
    salt_interval='6 hours' partitions the as-of window by (user,
    time-bucket) with a boundary-carry pre-pass (operators/asof.py), so
    a hot user splits into one task per bucket. Gated against the SAME
    DuckDB ASOF oracle as the unsalted query — the driver proves the
    salted physical plan is semantically invisible."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", F.col("event_id").alias("click_id")))
    res = asof_join(purchases, clicks, on="user_id", left_ts="ts",
                    right_ts="ts", salt_interval="6 hours")
    return res.select(
        "event_id", "user_id", _fmt_ts(F.col("ts")).alias("ts"),
        "click_id", _fmt_ts(F.col("ts_right")).alias("click_ts"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("ts_right").cast("timestamp"))).alias("gap_us"),
    )


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.exact_dedup_docs(docs).select("doc_id", "lang", "source")


EXACT_DEDUP_SQL = f"""
WITH fp AS (
  SELECT doc_id, md5({_NORM_SQL}) AS f FROM documents
), winners AS (
  SELECT min(doc_id) AS doc_id FROM fp GROUP BY f
)
SELECT d.doc_id, d.lang, d.source FROM documents d
JOIN winners w ON d.doc_id = w.doc_id
"""


_SHINGLE_K = 5


def _shingles_cte() -> str:
    # DuckDB shingle table: distinct k-grams of normalized text; short
    # docs yield the whole text as one shingle (mirrors char_shingles).
    # Scalar generate_series (list) + unnest — the lateral table function
    # form rejects column arguments in DuckDB 1.0.
    k = _SHINGLE_K
    return f"""
shing AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(length(norm) - {k - 1}, 1)),
                               i -> substr(norm, i, {k}))) AS shingle
  FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
)"""


def minhash_lsh_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.lsh_candidate_pairs(docs, k=_SHINGLE_K, num_hashes=16, bands=4)


def _minhash_ctes() -> str:
    """sigs + banded CTE bodies — mirrors minhash_signatures: 4 digests,
    four disjoint 8-hex slices each. Shared by the candidate-pair oracle
    and the LSH-clusters oracle."""
    sig_cols = ", ".join(
        f"min(substr(md5(shingle || '{'#' * (i // 4)}'), {(i % 4) * 8 + 1}, 8)) AS sig_{i}"
        for i in range(16)
    )
    band_rows = []
    for b in range(4):
        parts = ", ".join(f"sig_{i}" for i in range(b * 4, (b + 1) * 4))
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', {parts})) AS band_hash FROM sigs"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
sigs AS (
  SELECT doc_id, {sig_cols} FROM shing GROUP BY doc_id
),
banded AS ({bands_sql})"""


def _minhash_sql() -> str:
    return f"""
WITH {_shingles_cte()},
{_minhash_ctes()}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


MINHASH_SQL = _minhash_sql()


def ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.jaccard_pairs(docs, k=_SHINGLE_K, threshold=0.4)


JACCARD_SQL = f"""
WITH {_shingles_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.4
"""


def neardup_clusters(spark, sf_dir):
    """Dedup cluster resolution: connected components over the exact
    n-gram-Jaccard pair graph (threshold 0.4) — every document labeled
    with its cluster's canonical (minimum) doc_id, singletons included.
    This is the step a training-data pipeline actually ships: "drop all
    but one document per near-dup cluster"."""
    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.jaccard_pairs(docs, k=_SHINGLE_K, threshold=0.4)
    cc = fuzzy.connected_components(pairs, all_ids=docs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("cluster").alias("cluster_id"),
        (F.col("cluster") == F.col("id")).alias("is_canonical"),
    )


NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_shingles_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.4
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS is_canonical
FROM reach GROUP BY id
"""


def oov_rate_docs(spark, sf_dir):
    """Out-of-vocabulary rate vs the corpus's own top-20 vocabulary —
    the rare-token quality signal (high OOV = gibberish/noise in a
    cleanup funnel). Vocabulary ranking is exact counting with a
    deterministic tiebreak (count DESC, word), the rate is a pure
    division of identical doubles — fully oracle-replayable."""
    docs = _t(spark, sf_dir, "documents")
    vocab = text.top_vocabulary(docs, 20)
    return text.oov_rate(docs, vocab)


OOV_SQL = """
WITH words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
counts AS (SELECT w, count(*) AS n FROM words GROUP BY w),
vocab AS (SELECT w FROM counts ORDER BY n DESC, w LIMIT 20),
per AS (
  SELECT d.doc_id, count(wo.w) AS n_words, count(v.w) AS n_in
  FROM documents d
  LEFT JOIN words wo ON wo.doc_id = d.doc_id
  LEFT JOIN vocab v ON v.w = wo.w
  GROUP BY d.doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words > 0
            THEN round(1 - CAST(n_in AS DOUBLE) / n_words, 6)
            ELSE 0.0 END AS oov_rate
FROM per
"""


def neardup_clusters_lsh(spark, sf_dir):
    """The 100 TB shape of cluster resolution: LSH banding generates
    candidates, exact Jaccard verifies ONLY those, connected components
    label the verified graph. Unlike `neardup_clusters` (exact
    inverted-index pair stream — Θ(N²) on low-diversity corpora, see
    SCALING.md), the pair stream here is bounded by band collisions.
    Recall < 1 only for true pairs that collide in no band (the
    standard banding trade); the oracle replays the SAME banding, so
    the check stays EXACT."""
    docs = _t(spark, sf_dir, "documents")
    cands = fuzzy.lsh_candidate_pairs(docs, k=_SHINGLE_K, num_hashes=16, bands=4)
    pairs = fuzzy.jaccard_pairs(docs, k=_SHINGLE_K, threshold=0.4,
                                candidates=cands)
    cc = fuzzy.connected_components(pairs, all_ids=docs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("cluster").alias("cluster_id"),
        (F.col("cluster") == F.col("id")).alias("is_canonical"),
    )


NEARDUP_CLUSTERS_LSH_SQL = f"""
WITH RECURSIVE {_shingles_cte()},
{_minhash_ctes()},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.4
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id AS doc_id, min(r) AS cluster_id, min(r) = id AS is_canonical
FROM reach GROUP BY id
"""


def simhash_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fuzzy.simhash16(F.col("text")).alias("simhash"))


def _simhash_sql() -> str:
    # bit votes from the first 4 hex chars of md5(token), MSB-first per char
    terms = []
    for bit in range(16):
        dp = bit // 4 + 1          # 1-based hex char position
        bd = 3 - (bit % 4)
        digit = f"(instr('0123456789abcdef', substr(h, {dp}, 1)) - 1)"
        vote = f"CASE WHEN CAST(floor({digit} / {2 ** bd}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END"
        terms.append(
            f"CASE WHEN list_sum(list_transform(hs, h -> {vote})) > 0 THEN {2 ** bit} ELSE 0 END"
        )
    total = " + ".join(terms)
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                        tok -> substr(md5(tok), 1, 4)) AS hs
  FROM documents
)
SELECT doc_id,
       CASE WHEN len(hs) > 0 THEN CAST({total} AS BIGINT) ELSE 0 END AS simhash
FROM t
"""


SIMHASH_SQL = _simhash_sql()


def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-10: query set = vec_id < 5."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.cosine_topk(emb, queries, k=10)


EMB_TOPK_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT query_id, vec_id,
         round(CASE WHEN sqrt(list_dot_product(v, v)) > 0 AND sqrt(list_dot_product(qv, qv)) > 0
                    THEN list_dot_product(v, qv)
                         / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
                    ELSE 0.0 END, 6) AS cosine_sim
  FROM e CROSS JOIN q
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 10
"""


def salted_hot_key_agg(spark, sf_dir):
    """Skew-proof two-phase aggregation (salting): per-event-type totals
    where one key could dominate — partial agg by (key, salt) then final
    by key. Result equals the direct aggregation (oracle proves it)."""
    from ..operators.routing import salted_two_phase_agg

    ev = _t(spark, sf_dir, "events")
    return salted_two_phase_agg(
        ev,
        key_cols=["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_s"),
        ],
        final_aggs=[
            F.sum("_n").alias("n_events"),
            F.sum("_s").cast("double").alias("sum_value"),
        ],
    )


SALTED_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def embedding_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH bucketed ANN under an EXACT oracle: the planes are
    a pure md5 function of (dim, n_planes), so the oracle inlines the
    same plane constants and DuckDB independently re-derives every
    bucket id, candidate join, cosine, and rank."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.lsh_bucket_topk(emb, queries, k=10, dim=64, n_planes=4)


def embedding_ann_ivf(spark, sf_dir):
    """IVF-style ANN under an EXACT oracle: the farthest-point centroid
    seeding rounds every cosine to 9 decimals before comparison
    (similarity._seed_centroids), so ANN_IVF_SQL can replay the whole
    seeding loop, cell assignment, and probe selection as unrolled
    DuckDB CTEs — no data-derived constants smuggled into the SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    dim = 64
    return similarity.ivf_topk(emb, queries, k=10, dim=dim, n_cells=8, nprobe=3)


def _sql_cos(a: str, b: str, digits: int) -> str:
    """Zero-norm-guarded cosine, rounded — textual mirror of
    similarity.cosine / F.round on the Spark side."""
    d = f"list_dot_product({a}, {b})"
    na = f"sqrt(list_dot_product({a}, {a}))"
    nb = f"sqrt(list_dot_product({b}, {b}))"
    return (f"round(CASE WHEN {na} > 0 AND {nb} > 0 "
            f"THEN {d} / ({na} * {nb}) ELSE 0.0 END, {digits})")


def _sql_lsh_bucket(vec: str, dim: int, n_planes: int) -> str:
    """Hyperplane bucket id as a scalar SQL expression: the SAME md5
    planes as similarity._hyperplanes, inlined as exact DOUBLE literals
    ((byte − 127.5)/128 values are exact binary fractions, so repr()
    round-trips bit-for-bit)."""
    planes = similarity._hyperplanes(dim, n_planes)
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, {lit}) >= 0 THEN {2 ** i} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def _ann_lsh_sql(dim: int = 64, n_planes: int = 4, k: int = 10) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eb AS (SELECT vec_id, v, {_sql_lsh_bucket('v', dim, n_planes)} AS bucket FROM e),
qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM eb WHERE vec_id < 5),
scored AS (
  SELECT qb.query_id, eb.vec_id, {_sql_cos('eb.v', 'qb.qv', 6)} AS cosine_sim
  FROM eb JOIN qb USING (bucket)
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


ANN_LSH_SQL = _ann_lsh_sql()


def kmv_distinct_events(spark, sf_dir):
    """KMV distinct-user sketch per event_type next to the exact count.

    The sketch runs the REAL two-phase shape (map-side per-partition
    k-minimums via mapInPandas, merge by global k-smallest — fixed
    k·8 B state per group, the 100 TB alternative to shuffling every
    distinct value) while the oracle computes the GLOBAL k-minimums
    directly in SQL: their equality under the exact-value gate is the
    sketch's mergeability proof, not a tolerance check. 48-bit md5
    uniforms are exact in doubles and BIGINTs, so both engines see
    bit-identical hash order."""
    from ..functions.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    sk = kmv_distinct(ev, ["event_type"], "user_id", k=256)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"))
    return (
        exact.join(sk, "event_type")
        .select("event_type", F.col("n_exact").cast("long").alias("n_exact"),
                "n_kept", "kmv_estimate")
        .orderBy("event_type")
    )


KMV_SQL = """
WITH u AS (
  SELECT DISTINCT event_type,
         ('0x' || substr(md5('kmv:' || user_id), 1, 12))::BIGINT
           / 281474976710656.0 AS uu
  FROM events
),
ranked AS (
  SELECT event_type, uu,
         row_number() OVER (PARTITION BY event_type ORDER BY uu) AS rn
  FROM u
),
sk AS (
  SELECT event_type,
         CAST(max(CASE WHEN rn <= 256 THEN rn END) AS BIGINT) AS n_kept,
         max(CASE WHEN rn <= 256 THEN uu END) AS uk
  FROM ranked GROUP BY event_type
),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.n_exact, s.n_kept,
       CASE WHEN s.n_kept >= 256 THEN round(255.0 / s.uk, 6)
            ELSE CAST(s.n_kept AS DOUBLE) END AS kmv_estimate
FROM ex e JOIN sk s USING (event_type)
ORDER BY event_type
"""


def embedding_ann_lsh_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN (hamming_probes=1): each query also probes
    the n_planes buckets one hyperplane-flip away — the standard recall
    lever that leaves the CORPUS bucketing untouched (probe fan-out is
    on the tiny query side only). Deterministic XOR probing, so the
    oracle replays the exact probe set in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return similarity.lsh_bucket_topk(emb, queries, k=10, dim=64, n_planes=4,
                                      hamming_probes=1)


def _ann_lsh_multiprobe_sql(dim: int = 64, n_planes: int = 4, k: int = 10) -> str:
    masks = "[" + ", ".join(str(m) for m in [0] + [2 ** i for i in range(n_planes)]) + "]"
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eb AS (SELECT vec_id, v, {_sql_lsh_bucket('v', dim, n_planes)} AS bucket FROM e),
qb AS (
  SELECT vec_id AS query_id, v AS qv, xor(bucket, m.m) AS bucket
  FROM eb CROSS JOIN (SELECT unnest({masks}) AS m) m
  WHERE vec_id < 5
),
scored AS (
  SELECT qb.query_id, eb.vec_id, {_sql_cos('eb.v', 'qb.qv', 6)} AS cosine_sim
  FROM eb JOIN qb USING (bucket)
)
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


ANN_LSH_MULTIPROBE_SQL = _ann_lsh_multiprobe_sql()


def _ivf_assign_parts(n_cells: int,
                      pool_where: str | None = None) -> list[str]:
    """CTE chain replaying similarity._seed_centroids + cell assignment
    (through the ``assigned`` CTE) — shared by the ANN-IVF and
    semantic-dedup oracles. The greedy farthest-point loop unrolls into
    one (argmin, update) CTE pair per centroid; round-9 snapping on
    both engines makes every selection exactly reproducible.
    ``pool_where`` restricts the seeding pool (the persisted-index
    lifecycle: centroids seeded on the build half, later appends
    assigned with those frozen centroids)."""
    cos9 = _sql_cos
    pw = f"WHERE {pool_where} " if pool_where else ""
    # MATERIALIZED on every chain CTE: without it DuckDB inlines each
    # reference, and the c_i/s_i chain re-expands combinatorially —
    # at 16 cells the planner re-opened the parquet past the 20k fd
    # limit ("Too many open files"). Pure hint, identical values.
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings)",
        f"pool AS MATERIALIZED (SELECT vec_id, v FROM e {pw}"
        "ORDER BY vec_id LIMIT 10000)",
        "c0 AS MATERIALIZED (SELECT v FROM pool ORDER BY vec_id LIMIT 1)",
        f"s0 AS MATERIALIZED (SELECT p.vec_id, p.v, {cos9('p.v', 'c0.v', 9)} AS m "
        "FROM pool p CROSS JOIN c0)",
    ]
    for i in range(1, n_cells):
        prev = f"s{i - 1}"
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT v FROM {prev} "
            "ORDER BY m ASC, vec_id ASC LIMIT 1)")
        if i < n_cells - 1:
            parts.append(
                f"s{i} AS MATERIALIZED (SELECT s.vec_id, s.v, "
                f"greatest(s.m, {cos9('s.v', f'c{i}.v', 9)}) AS m "
                f"FROM {prev} s CROSS JOIN c{i})")
    cells = " UNION ALL ".join(
        f"SELECT {i} AS cell, v FROM c{i}" for i in range(n_cells))
    parts.append(f"cells AS MATERIALIZED ({cells})")
    parts.append(
        "assigned AS (SELECT vec_id, v, cell FROM ("
        "SELECT e.vec_id, e.v, c.cell, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos9('e.v', 'c.v', 9)} DESC, c.cell ASC) AS rn "
        "FROM e CROSS JOIN cells c) WHERE rn = 1)")
    return parts


def _ann_ivf_sql(n_cells: int = 8, nprobe: int = 3, k: int = 10) -> str:
    """Replay similarity._seed_centroids + ivf_topk in pure SQL.

    The greedy farthest-point loop unrolls into one (argmin, update)
    CTE pair per centroid; every cosine is rounded to 9 decimals before
    comparison on BOTH engines, so BLAS-vs-sequential summation noise
    cannot flip a selection. Probe tiebreak is (score DESC, cell DESC)
    — the Spark side's reverse(array_sort(struct(s, i))) — while cell
    assignment ties break (score DESC, cell ASC) — array_position of
    the first max."""
    parts = _ivf_assign_parts(n_cells)
    cos9 = _sql_cos
    parts.append(
        "probes AS (SELECT query_id, qv, cell FROM ("
        "SELECT e.vec_id AS query_id, e.v AS qv, c.cell, "
        "row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos9('e.v', 'c.v', 9)} DESC, c.cell DESC) AS rn "
        f"FROM e CROSS JOIN cells c WHERE e.vec_id < 5) WHERE rn <= {nprobe})")
    parts.append(
        f"scored AS (SELECT p.query_id, a.vec_id, {cos9('a.v', 'p.qv', 6)} AS cosine_sim "
        "FROM assigned a JOIN probes p USING (cell))")
    return f"""
WITH {','.join(parts)}
SELECT query_id, vec_id, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def kmeans_embeddings_clusters(spark, sf_dir):
    """Spherical k-means (similarity.kmeans_embeddings): farthest-point
    seeds, 2 Lloyd iterations, per-vector final assignment + round-6
    cosine to its centroid. Every iteration is deterministic (round-9
    assignment cosines, decimal-mean round-6 centroids), so the oracle
    UNROLLS the whole algorithm — seeding chain, both assignment
    passes, both centroid updates — into SQL CTEs and must agree on
    every row. Scale: assignment is a broadcast map (no shuffle);
    each update is one partial-aggregated (cluster, dim) mean, k·dim
    rows to the driver."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_embeddings(emb, k=8, n_iter=2)


def _kmeans_sql(k: int = 8, n_iter: int = 2) -> str:
    """Replay similarity.kmeans_embeddings: the IVF seeding chain
    (shared CTEs), then per iteration a decimal-mean centroid update
    (empty cluster keeps its previous centroid via COALESCE) and a
    round-9 argmax re-assignment."""
    parts = _ivf_assign_parts(k)
    cos9 = _sql_cos
    parts.append("kc0 AS MATERIALIZED (SELECT cell, v AS cv FROM cells)")
    prev_assign = "assigned"  # assignment under the seed centroids
    for t in range(1, n_iter + 1):
        parts.append(
            f"kd{t} AS MATERIALIZED (SELECT cell, u.d, u.x "
            f"FROM {prev_assign}, LATERAL (SELECT unnest(v) AS x, "
            "generate_subscripts(v, 1) AS d) u)")
        parts.append(
            f"km{t} AS MATERIALIZED (SELECT cell, d, "
            "round(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) "
            f"/ COUNT(*), 6) AS m FROM kd{t} GROUP BY cell, d)")
        parts.append(
            f"kn{t} AS MATERIALIZED (SELECT cell, list(m ORDER BY d) "
            f"AS cv FROM km{t} GROUP BY cell)")
        parts.append(
            f"kc{t} AS MATERIALIZED (SELECT p.cell, COALESCE(n.cv, p.cv) "
            f"AS cv FROM kc{t - 1} p LEFT JOIN kn{t} n USING (cell))")
        if t < n_iter:
            parts.append(
                f"ka{t} AS (SELECT vec_id, v, cell FROM ("
                "SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
                f"PARTITION BY e.vec_id ORDER BY {cos9('e.v', 'c.cv', 9)} "
                "DESC, c.cell ASC) AS rn "
                f"FROM e CROSS JOIN kc{t} c) WHERE rn = 1)")
            prev_assign = f"ka{t}"
    return f"""
WITH {','.join(parts)}
SELECT vec_id, cluster, cosine_sim FROM (
  SELECT e.vec_id, CAST(c.cell AS INTEGER) AS cluster,
         {cos9('e.v', 'c.cv', 6)} AS cosine_sim,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {cos9('e.v', 'c.cv', 9)} DESC, c.cell ASC) AS rn
  FROM e CROSS JOIN kc{n_iter} c) WHERE rn = 1
"""


ANN_IVF_SQL = _ann_ivf_sql()
SEMDEDUP_SQL = _semdedup_sql()
KNN_GRAPH_SQL = _knn_graph_sql()
KMEANS_SQL = _kmeans_sql()


def _emb_neardup_blocked_sql(dim: int = 64, n_planes: int = 4,
                             threshold: float = 0.3) -> str:
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
eb AS (SELECT vec_id, v, {_sql_lsh_bucket('v', dim, n_planes)} AS bucket FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_sql_cos('a.v', 'b.v', 6)} AS cosine_sim
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_sql_cos('a.v', 'b.v', 6)} >= {threshold}
ORDER BY id_a, id_b
"""


EMB_NEARDUP_BLOCKED_SQL = _emb_neardup_blocked_sql()


def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (adapted: shipped revenue stands in for stock
    value): parts whose revenue from NATION_3 suppliers exceeds 0.1% of
    that nation's total — a grouped aggregate filtered against a global
    scalar (broadcast 1-row total, the Q15 pattern under HAVING)."""
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    sup = (_t(spark, sf_dir, "supplier")
           .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    nat_li = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
    per_part = nat_li.groupBy("l_partkey").agg(F.sum(rev).alias("_val"))
    total = per_part.agg(F.sum("_val").alias("_tot"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_val").cast("double") > 0.001 * F.col("_tot").cast("double"))
        .select(F.col("l_partkey").alias("p_partkey"),
                F.col("_val").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), "p_partkey")
    )


Q11_SQL = """
WITH nat_li AS (
  SELECT l_partkey, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey, SUM(rev) AS val FROM nat_li GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(val AS DOUBLE) AS part_value
FROM per_part
WHERE CAST(val AS DOUBLE) > 0.001 * (SELECT CAST(SUM(val) AS DOUBLE) FROM per_part)
ORDER BY part_value DESC, p_partkey
"""


def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: shipped-quantity threshold replaces the
    partsupp availqty correlate): suppliers who shipped more than half
    the total 1996 volume of some 'red' part — semi-join (EXISTS) of
    supplier against a per-(part,supplier) vs per-part aggregate.
    ('red', not TPC-H's 'green': the synthetic p_name vocabulary has no
    'green', which made the result vacuously empty at every SF.)"""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("red")).select("p_partkey")
    li = (_t(spark, sf_dir, "lineitem")
          .filter((F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
                  & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date")))
          .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")))
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_sq"))
    per_p = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_tq"))
    excess = (per_ps.join(F.broadcast(per_p), per_ps.l_partkey == F.col("_pk"))
              .filter(F.col("_sq") * 2 > F.col("_tq"))
              .select("l_suppkey").distinct())
    sup = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        sup.join(excess, sup.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


Q20_SQL = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%'
    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
),
per_ps AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
  FROM li GROUP BY l_partkey, l_suppkey
),
per_p AS (
  SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS tq
  FROM li GROUP BY l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE EXISTS (
  SELECT 1 FROM per_ps JOIN per_p USING (l_partkey)
  WHERE per_ps.l_suppkey = s_suppkey AND per_ps.sq * 2 > per_p.tq)
ORDER BY s_suppkey
"""


def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (adapted: 'kept the order waiting' = this
    supplier has the strictly latest ship date in a multi-supplier
    order; no receipt/commit dates in the schema). Same join topology
    as the original: fact self-semi-join (another supplier shipped the
    same order) + self-anti-join (nobody shipped later)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    l1 = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    l2 = li.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = li.select(F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3"),
                   F.col("l_shipdate").alias("d3"))
    waiting = (
        l1.join(l2, (F.col("l_orderkey") == F.col("o2"))
                & (F.col("l_suppkey") != F.col("s2")), "left_semi")
        .join(l3, (F.col("l_orderkey") == F.col("o3"))
              & (F.col("l_suppkey") != F.col("s3"))
              & (F.col("l_shipdate") < F.col("d3")), "left_anti")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(25)
    )


Q21_SQL = """
SELECT s_suppkey, s_name, numwait FROM (
  SELECT l1.l_suppkey AS sk, COUNT(*) AS numwait
  FROM lineitem l1
  JOIN orders ON l1.l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > l1.l_shipdate)
  GROUP BY sk
) w JOIN supplier ON sk = s_suppkey
ORDER BY numwait DESC, s_suppkey
LIMIT 25
"""


def winnow_fingerprints_docs(spark, sf_dir):
    """Winnowing rolling-hash fingerprints (MOSS) per document: k-gram
    md5 prefixes, sliding-window min of w=4, dedupe.

    Plan shape: the gram-hash array is computed ONCE per doc and then
    posexploded (Generate is a real barrier — an array-only variant with
    nested higher-order lambdas gets the whole gram transform re-inlined
    per window element by project collapse and hangs). The sliding min
    is a window function over (doc, position); one shuffle by doc_id."""
    from pyspark.sql import Window

    from ..session import ensure_parallelism

    w = 4
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    grams = (
        docs.select("doc_id", F.split(text.normalize_text(F.col("text")), "")
                    .alias("_chars"))
        .select("doc_id", F.posexplode(
            text.winnow_gram_hashes(F.col("_chars"), k=_SHINGLE_K))
            .alias("pos", "gram_hash"))
    )
    # the count-per-doc window shares the min window's exchange (same
    # partitioning); computing n as size(_hashes) pre-explode instead
    # re-evaluates the whole gram transform in a second operator —
    # measured 38× slower (no CSE across Generate/Project)
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    n_win = Window.partitionBy("doc_id")
    return (
        grams.withColumn("_fp", F.min("gram_hash").over(win))
        .withColumn("_n", F.count(F.lit(1)).over(n_win))
        .filter(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
        .select("doc_id", F.col("_fp").alias("fingerprint"))
        .distinct()
        .orderBy("doc_id", "fingerprint")
    )


WINNOW_SQL = f"""
WITH grams AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(length(norm) - {_SHINGLE_K - 1}, 1)),
           i -> substr(md5(substr(norm, i, {_SHINGLE_K})), 1, 8)) AS hashes
  FROM (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
),
winnowed AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 3, 1)),
           j -> list_min(hashes[j:j+3]))) AS fps
  FROM grams
)
SELECT doc_id, unnest(fps) AS fingerprint
FROM winnowed
ORDER BY doc_id, fingerprint
"""


def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (adapted: supplier-per-part comes from lineitem,
    no partsupp): distinct suppliers per (brand, type, size), one brand
    excluded — exercises COUNT(DISTINCT) under grouping."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#3")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#3'
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape (adapted: per-(part,supplier) unit cost derived
    from lineitem, no partsupp): the cheapest EUROPE supplier per part —
    argmin-per-group via rank over an exact decimal-ratio cost, ties to
    the lowest supplier key."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    sup = (_t(spark, sf_dir, "supplier")
           .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
    from pyspark.sql import Window

    cost = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg((F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              / F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
              ).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey").orderBy(F.col("unit_cost"), F.col("s_suppkey"))
    return (
        cost.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .filter(F.col("l_partkey") <= 100)
        .select(F.col("l_partkey").alias("p_partkey"), "s_suppkey", "s_name",
                F.round("s_acctbal", 4).alias("s_acctbal"), "n_name",
                F.round("unit_cost", 6).alias("unit_cost"))
        .orderBy("p_partkey")
    )


Q2_SQL = """
WITH cost AS (
  SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS unit_cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey, s_suppkey, s_name, s_acctbal, n_name
)
SELECT l_partkey AS p_partkey, s_suppkey, s_name,
       round(s_acctbal, 4) AS s_acctbal, n_name, round(unit_cost, 6) AS unit_cost
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY l_partkey
                               ORDER BY unit_cost, s_suppkey) AS rk
  FROM cost
)
WHERE rk = 1 AND l_partkey <= 100
ORDER BY p_partkey
"""


def batch_receive_cap(spark, sf_dir):
    """Consumer.batchReceive with BatchReceivePolicy caps
    (BatchReceivePolicy.java:66-69): drain one receive batch bounded by
    maxNumMessages AND maxNumBytes over publish order."""
    from ..operators.subscriptions import batch_receive

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("sequence"), F.col("event_type").alias("value"))
    got = batch_receive(ev, max_messages=100, max_bytes=550)
    return got.select("sequence", "value").orderBy("sequence")


BATCH_RECEIVE_SQL = """
WITH sized AS (
  SELECT event_id AS sequence, event_type AS value,
         SUM(strlen(event_type)) OVER (ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes,
         ROW_NUMBER() OVER (ORDER BY event_id) AS rn
  FROM events
)
SELECT sequence, value FROM sized
WHERE cum_bytes <= 550 AND rn <= 100
ORDER BY sequence
"""


def multi_topic_counts(spark, sf_dir):
    """Multi-topic consumer (MultiTopicsConsumerImpl): one consumer over
    N topic logs, ``topic`` discriminator column added per source."""
    from ..sources.connectors import read_topics

    joined = read_topics(spark, {
        "events": f"{sf_dir}/events.parquet",
        "orders": f"{sf_dir}/orders.parquet",
    })
    return joined.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).orderBy("topic")


MULTI_TOPIC_SQL = """
SELECT topic, n FROM (
  SELECT 'events' AS topic, COUNT(*) AS n FROM events
  UNION ALL
  SELECT 'orders' AS topic, COUNT(*) AS n FROM orders
) t ORDER BY topic
"""


def embedding_neardup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs baseline).

    Embeddings table is fixed-size (500) at every SF, so the N² join is
    the oracle baseline; ``cosine_neardup_pairs(block_planes=...)`` is
    the LSH-blocked scale path exercised by the rows-only ANN queries.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # embeddings is fixed-size at every SF → gram strategy, explicitly
    # (auto would spend a count() job per invocation deciding the same)
    return similarity.cosine_neardup_pairs(emb, threshold=0.3, strategy="gram")


def embedding_neardup_blocked(spark, sf_dir):
    """LSH-blocked near-dup pairs — the 100 TB path gated directly.

    Same logical result as ``embedding_neardup_pairs`` but computed the
    way a real corpus requires: map-side hyperplane bucket id on each
    vector, same-bucket equi-join (never all-pairs), Arrow-batched dot
    UDF per candidate, no driver collect anywhere. Recall < 1 for pairs
    straddling a hyperplane (lower block_planes to trade compute for
    recall) — but the blocking itself is deterministic (md5 planes), so
    the oracle replays the SAME buckets in SQL and the check is EXACT:
    both engines must agree on precisely which pairs the blocking keeps.
    """
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_neardup_pairs(
        emb, threshold=0.3, block_planes=4, dim=64)


EMB_NEARDUP_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
             6) AS cosine_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
            6) >= 0.3
ORDER BY id_a, id_b
"""


# --------------------------------------------------------------------------
# TPC-H join shapes 7/8/9/10/13/15/17/22 adapted to the synthetic schema
# (no partsupp table, no l_commitdate/l_receiptdate/c_phone — shapes keep
# the join topology and aggregation pattern, constants anchored to the
# fixed 1995..2001 date range that is identical at every SF).
# --------------------------------------------------------------------------

def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.

    lineitem ⋈ orders is the only fact-fact shuffle; supplier/customer/
    nation are broadcast dims. Disjunctive nation-pair predicate applied
    after the dim joins (Catalyst pushes each side into the join).
    """
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("date")))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), sup.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(
            ((F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10"))
            | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12")))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of PROMO-part revenue in ASIA
    by order year. Conditional-sum ratio; exact decimal sums on both
    sides of the division, division done once in double."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_nk"), F.col("n_regionkey").alias("cn_rk"))
    n_supp = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("date")))
    li = _t(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_nk"))
        .join(F.broadcast(region), F.col("cn_rk") == region.r_regionkey)
        .join(F.broadcast(n_supp), sup.s_nationkey == F.col("sn_nk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.round(F.sum(nation_vol).cast("double")
                     / F.sum(vol).cast("double"), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
             6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
GROUP BY o_year
ORDER BY o_year
"""


def q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (adapted: no partsupp → profit = discounted price).

    Part filter by name substring; group by supplier nation × order year.
    """
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")).select("p_partkey")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, CAST(year(o_orderdate) AS INTEGER)
ORDER BY nation, o_year DESC
"""


def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. Fact-fact shuffle join, broadcast customer+nation dims."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date")))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name",
                F.round("revenue", 4).alias("revenue"),
                F.round("c_acctbal", 4).alias("c_acctbal"), "n_name")
    )


Q10_SQL = """
SELECT c_custkey, c_name,
       round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4)
         AS revenue,
       round(c_acctbal, 4) AS c_acctbal, n_name
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) DESC,
         c_custkey
LIMIT 20
"""


def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count.

    LEFT OUTER join so zero-order customers land in the c_count=0 bucket;
    two cascaded aggregations (per-customer, then per-count)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(
        ~F.col("o_orderpriority").startswith("1")).select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with max quarterly revenue.

    Revenue per supplier, then keep rows equal to the global max via a
    broadcast 1-row scalar (no single-partition window at scale) —
    equality is on the EXACT decimal sum (cast to double only for
    output), so ties are bit-stable across engines."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date")))
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("_total"))
    max_rev = revenue.agg(F.max("_total").alias("_max"))
    top = (revenue.crossJoin(F.broadcast(max_rev))
           .filter(F.col("_total") == F.col("_max")))
    return (
        top.join(F.broadcast(sup), top.supplier_no == sup.s_suppkey)
        .select("s_suppkey", "s_name", F.col("_total").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS total
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total = (SELECT MAX(total) FROM revenue)
ORDER BY s_suppkey
"""


def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand.

    Correlated avg-quantity-per-part subquery → broadcast the per-part
    averages (exact decimal-sum / count, identical on both engines)."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#11").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem")
    avg_qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_partkey").alias("agg_partkey"))
        .agg((F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
              / F.count(F.lit(1))).alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("agg_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
                     .cast("double") / 7.0, 4).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 4)
         AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (
  SELECT l_partkey AS agg_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#11'
  GROUP BY l_partkey
) pa ON l_partkey = agg_partkey
WHERE p_brand = 'Brand#11' AND l_quantity < 0.5 * avg_qty
"""


def q22_idle_balance(spark, sf_dir):
    """TPC-H Q22 shape (adapted: no c_phone → group by nation name).

    Customers with above-average positive balance and no RECENT orders
    (every synthetic customer has some order, so idleness is windowed):
    scalar subquery (broadcast 1-row avg) + LEFT ANTI join on orders."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("date")).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
         / F.count(F.lit(1))).alias("_avg"))
    rich = (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("_avg")))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(nation), idle.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numcust"),
             _dec_sum("c_acctbal", "totacctbal"))
        .orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
    FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


# --------------------------------------------------------------------------
# Round-4b additions: heavy hitters, Bloom semi-join, blocked edit
# distance, time-grid gap-fill, bigram-LM quality scoring
# --------------------------------------------------------------------------

def heavy_hitter_words(spark, sf_dir):
    """EXACT frequent-term mining via two-pass Misra-Gries (candidates →
    exact recount of candidates only; see functions/sketches.py).

    At 100 TB the candidate pass bounds the shuffle at partitions·k
    keys instead of the vocabulary; the output is still exact because
    every candidate is re-counted and thresholded in integer
    arithmetic. The fixture's word-salad vocabulary (31 words, near-
    uniform) means every word clears the 1% bar — the DISCRIMINATING
    case (Zipf tail pruned, candidates ≪ vocab) is pytest-covered with
    synthetic skew in tests/test_properties.py.
    """
    from ..functions.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0))
        .alias("word"))
    return heavy_hitters(words, "word", phi_num=1, phi_den=100, k=128)


HEAVY_HITTERS_SQL = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
t AS (SELECT COUNT(*) AS n FROM w)
SELECT word, CAST(cnt AS BIGINT) AS cnt,
       round(CAST(cnt AS DOUBLE) / n, 6) AS share
FROM c, t
WHERE cnt * 100 >= n * 1
"""


def bloom_semijoin_orders(spark, sf_dir):
    """Bloom-pre-filtered semi-join: orders of BUILDING-segment
    customers (functions/bloom.py — md5 bitmap built from the dim side,
    shipped as a literal into the fact filter, exact broadcast join
    removes false positives).

    The gate verifies the BLOOM ITSELF, not just the join: n_bloom_pass
    counts fact rows surviving the bitmap (false positives included),
    which the oracle reproduces by replaying the same md5 bit positions
    in SQL — a fact key passes iff all 3 of its positions are set by
    some dim key. Revenue aggregates only the true matches.
    """
    from ..functions.bloom import bloom_prefiltered_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    flagged = bloom_prefiltered_join(orders, cust, "o_custkey", "c_custkey")
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_bloom_pass"),
            F.sum(F.col("_bloom_true").cast("long")).alias("n_true"),
            F.sum(F.when(F.col("_bloom_true"),
                         F.col("o_totalprice").cast("decimal(18,4)")))
            .cast("double").alias("revenue"),
        )
        .select("o_orderpriority",
                F.col("n_bloom_pass").cast("long").alias("n_bloom_pass"),
                F.col("n_true").cast("long").alias("n_true"), "revenue")
    )


BLOOM_SEMIJOIN_SQL = """
WITH dimpos AS (
  SELECT DISTINCT ('0x' || substr(md5('bf' || i || ':' || c_custkey), 1, 12))::BIGINT
                  % 65536 AS pos
  FROM customer, (SELECT unnest([0, 1, 2]) AS i)
  WHERE c_mktsegment = 'BUILDING'
),
factpos AS (
  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
         ('0x' || substr(md5('bf' || i.i || ':' || o_custkey), 1, 12))::BIGINT
         % 65536 AS pos
  FROM orders, (SELECT unnest([0, 1, 2]) AS i) i
),
passed AS (
  SELECT o_orderkey, any_value(o_custkey) AS o_custkey,
         any_value(o_orderpriority) AS o_orderpriority,
         any_value(o_totalprice) AS o_totalprice
  FROM factpos GROUP BY o_orderkey
  HAVING COUNT(*) FILTER (WHERE pos IN (SELECT pos FROM dimpos)) = 3
),
verdict AS (
  SELECT p.*, EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = p.o_custkey
                        AND c.c_mktsegment = 'BUILDING') AS is_true
  FROM passed p
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN is_true
                     THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS DOUBLE)
         AS revenue
FROM verdict GROUP BY o_orderpriority
"""


def levenshtein_neardup_docs(spark, sf_dir):
    """Record linkage by blocked edit distance (fuzzy.py): block on the
    first TWO normalized words, verify Levenshtein ≤ 8 over the 40-char
    normalized prefix — JVM-side, one equi-join, never a cartesian.
    Recall is defined by the blocking and the oracle replays the SAME
    blocking, so the check stays exact. Two-word blocking because the
    fixture vocabulary is 31 words: one-word blocks are N/31 docs and
    the candidate pair space went quadratic (measured 0.5 s → 10.6 s →
    120 s on the 500→5 000→50 000-doc curve); two words cut candidates
    30× at 5 000 docs with the identical 256 verified pairs."""
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.levenshtein_blocked_pairs(docs, prefix_len=40, max_dist=8,
                                           block_words=2)


LEVENSHTEIN_SQL = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN position(' ' IN norm) = 0 THEN norm
              ELSE split_part(norm, ' ', 1) || ' ' || split_part(norm, ' ', 2)
          END AS blk,
         substr(norm, 1, 40) AS pfx
  FROM n
)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, c.pfx) AS INTEGER) AS lev
FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
WHERE levenshtein(a.pfx, c.pfx) <= 8
"""


def gapfill_events(spark, sf_dir):
    """Hypertable-style dense rollup (operators/gapfill.py): 15-minute
    slots per event_type over the full topic time range, empty slots
    emitted with the last observed per-slot mean carried forward.
    At sf0.01 roughly half the slots are gaps (the LOCF path is
    genuinely exercised); at sf0.1 the grid is near-dense — both are
    exact under the oracle because the carried value is the exact
    decimal-mean of its source slot."""
    from ..operators.gapfill import gapfill_locf

    ev = _t(spark, sf_dir, "events")
    return gapfill_locf(ev, key_cols=["event_type"], ts_col="ts",
                        value_col="value", slot_seconds=900)


GAPFILL_SQL = """
WITH s AS (
  SELECT event_type, CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot, value
  FROM events
),
agg AS (
  SELECT event_type, slot, COUNT(*) AS n_events,
         round(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
           AS obs
  FROM s GROUP BY event_type, slot
),
bounds AS (SELECT min(slot) AS mn, max(slot) AS mx FROM s),
grid AS (
  SELECT t.event_type, g.g AS slot
  FROM (SELECT DISTINCT event_type FROM s) t,
       bounds, (SELECT unnest(generate_series(
                  (SELECT mn FROM bounds), (SELECT mx FROM bounds))) AS g) g
),
j AS (
  SELECT g.event_type, g.slot, a.n_events, a.obs
  FROM grid g LEFT JOIN agg a
    ON a.event_type = g.event_type AND a.slot = g.slot
)
SELECT event_type, slot,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       last_value(obs IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       COALESCE(n_events, 0) = 0 AS filled
FROM j
"""


def bigram_lm_docs(spark, sf_dir):
    """Corpus-LM fluency scoring (text.bigram_lm_scores): mean log₂
    P(w₂|w₁) per document under an add-one-smoothed bigram model fit on
    the corpus itself. Per-bigram log-likelihoods snap to integer
    micro-units before summing, so the per-doc reduction is
    order-independent integer math on both engines."""
    docs = _t(spark, sf_dir, "documents")
    return text.bigram_lm_scores(docs)


BIGRAM_LM_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
  FROM documents
),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) ix
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
v AS (
  SELECT COUNT(DISTINCT word) AS v FROM (
    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents)
),
model AS (
  SELECT c12.w1, c12.w2,
         CAST(round(log2((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000.0, 0)
              AS BIGINT) AS ll_micro
  FROM c12 JOIN c1 ON c12.w1 = c1.w1, v
)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(SUM(m.ll_micro) / (1000000.0 * COUNT(*)), 6) AS lm_score
FROM bg JOIN model m ON bg.w1 = m.w1 AND bg.w2 = m.w2
GROUP BY bg.doc_id
"""


def value_quantiles_events(spark, sf_dir):
    """EXACT per-group discrete quantiles (functions/quantiles.py):
    p50/p90/p99 of event value per event_type by pure integer rank math
    (value at rank ceil(n·q), no interpolation — the reason it can sit
    under a value-hash gate where approx_percentile/quantile_cont
    cannot). The window path shown here sorts each group in one
    partition; `exact_quantiles_bucketed` (pytest-proven equal) is the
    giant-group two-pass refinement that never sorts a full group."""
    from ..functions.quantiles import exact_quantiles

    ev = _t(spark, sf_dir, "events")
    return exact_quantiles(ev, ["event_type"], "value",
                           [(1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")])


QUANTILES_SQL = """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = CAST(floor((n * 1 + 1) / 2) AS BIGINT)
                THEN value END) AS p50,
       max(CASE WHEN rn = CAST(floor((n * 9 + 9) / 10) AS BIGINT)
                THEN value END) AS p90,
       max(CASE WHEN rn = CAST(floor((n * 99 + 99) / 100) AS BIGINT)
                THEN value END) AS p99
FROM r GROUP BY event_type
"""


def topic_digest_events(spark, sf_dir):
    """Replica-verification digest (operators/digest.py): per
    (event_type, day) row count + exact decimal sum of 48-bit md5 row
    hashes — the order-independent, duplicate-sensitive checksum that
    lets two geo-replicas be compared with two scans and a tiny join
    (digest_diff; corruption-detection path pytest-covered). Gate-able
    because the checksum itself replays in ANSI SQL."""
    from ..operators.digest import topic_digest

    ev = (_t(spark, sf_dir, "events")
          .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
          # doubles render engine-specifically; a fixed-scale decimal
          # prints identically everywhere ("35.2800")
          .withColumn("value", F.col("value").cast("decimal(18,4)")))
    return topic_digest(ev, ["event_type", "day"],
                        ["event_id", "user_id", "value"])


TOPIC_DIGEST_SQL = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(('0x' || substr(md5(
              'dg:' || event_id || ':' || user_id || ':'
                    || CAST(CAST(value AS DECIMAL(18,4)) AS VARCHAR)), 1, 12)
            )::BIGINT AS DECIMAL(38,0))) AS VARCHAR)
         AS checksum
FROM events
GROUP BY event_type, strftime(ts, '%Y-%m-%d')
"""


def funnel_conversion_events(spark, sf_dir):
    """Ordered-sequence funnel (view → click → purchase) per user with
    ONE keyed shuffle: stage timestamps are nested conditional
    window-mins over the same user partitioning (t_click = min ts of a
    click AFTER t_view, etc.), so Catalyst plans a single exchange and
    three Window ops — no self-joins, no re-scans. Output: per-stage
    user counts plus mean view→purchase hours (exact decimal mean)."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn("t_view", F.min(F.when(F.col("event_type") == "view",
                                           F.col("ts"))).over(w))
        .withColumn("t_click", F.min(F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
            F.col("ts"))).over(w))
        .withColumn("t_buy", F.min(F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
            F.col("ts"))).over(w))
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"), F.max("t_click").alias("t_click"),
        F.max("t_buy").alias("t_buy"))
    # integer microseconds end-to-end: summing a DOUBLE hours value
    # through a decimal cast can hit exact halfway cases (micro-grid
    # diffs are multiples of 180000·(2k+1) µs) where Spark rounds
    # HALF_UP and DuckDB HALF_EVEN — the r1 q1 trap in time form
    micros = (F.unix_micros(F.col("t_buy").cast("timestamp"))
              - F.unix_micros(F.col("t_view").cast("timestamp")))
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t_view").cast("long").alias("n_view"),
        F.count("t_click").cast("long").alias("n_view_click"),
        F.count("t_buy").cast("long").alias("n_full_funnel"),
        F.round(
            F.sum(micros).cast("double")
            / (F.lit(3600000000.0) * F.count("t_buy")), 6)
        .alias("avg_hours_to_convert"),
    )


FUNNEL_CONV_SQL = """
WITH s AS (
  SELECT user_id, event_type, ts,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
              OVER (PARTITION BY user_id) AS t_click
  FROM s
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
              OVER (PARTITION BY user_id) AS t_buy
  FROM s2
),
per_user AS (
  SELECT user_id, max(t_view) AS t_view, max(t_click) AS t_click,
         max(t_buy) AS t_buy
  FROM s3 GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_view,
       CAST(COUNT(t_click) AS BIGINT) AS n_view_click,
       CAST(COUNT(t_buy) AS BIGINT) AS n_full_funnel,
       round(CAST(SUM(epoch_us(t_buy) - epoch_us(t_view)) AS DOUBLE)
             / (3600000000.0 * COUNT(t_buy)), 6) AS avg_hours_to_convert
FROM per_user
"""


def html_strip_docs(spark, sf_dir):
    """C4-style HTML cleanup (text.strip_html) verified bit-for-bit:
    the fixture corpus is plain text, so the query first INJECTS
    deterministic markup (every 3rd doc gains tags around its first
    words, every 4th a <script> block that must vanish WHOLESALE, every
    6th entity-encoded ampersands — identical construction in the
    oracle), then strips and md5s. Map-only scan-speed; the tag-count
    column doubles as the markup-density quality signal."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    txt = F.when(did % 3 == 0,
                 F.concat(F.lit("<div class=\"post\"><p>"), F.col("text"),
                          F.lit("</p></div>"))).otherwise(F.col("text"))
    txt = F.when(did % 4 == 0,
                 F.concat(F.lit("<script>var x = 1 < 2;</script>"), txt)
                 ).otherwise(txt)
    txt = F.when(did % 6 == 0,
                 F.concat(txt, F.lit(" a &amp; b &lt;tag&gt; &nbsp;end"))
                 ).otherwise(txt)
    injected = docs.select("doc_id", txt.alias("_html"))
    h = F.col("_html")
    stripped = text.strip_html(h)
    return injected.select(
        "doc_id",
        text.tag_count(h).alias("n_tags"),
        F.md5(stripped).alias("stripped_md5"),
        (F.length(h) - F.length(stripped)).cast("long").alias("len_delta"),
    )


HTML_STRIP_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 = 0
              THEN b2 || ' a &amp; b &lt;tag&gt; &nbsp;end' ELSE b2 END AS html
  FROM (SELECT doc_id,
               CASE WHEN doc_id % 4 = 0
                    THEN '<script>var x = 1 < 2;</script>' || b1
                    ELSE b1 END AS b2
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0
                          THEN '<div class="post"><p>' || text || '</p></div>'
                          ELSE text END AS b1
              FROM documents) i1) i2
),
stripped AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(
             html,
             '(?is)<script\b.*?</script>', ' ', 'g'),
             '(?is)<style\b.*?</style>', ' ', 'g'),
             '<[^>]+>', ' ', 'g'),
             '&amp;', '&', 'g'),
             '&lt;', '<', 'g'),
             '&gt;', '>', 'g'),
             '&quot;', '"', 'g'),
             '&#39;', '''', 'g'),
             '&nbsp;', ' ', 'g'),
           '\s+', ' ', 'g')) AS s
  FROM inj
)
SELECT doc_id,
       CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT) AS n_tags,
       md5(s) AS stripped_md5,
       CAST(length(html) - length(s) AS BIGINT) AS len_delta
FROM stripped
"""


def bpe_pair_counts_docs(spark, sf_dir):
    """First BPE-trainer merge iteration (text.bpe_pair_counts): top-20
    corpus-frequency-weighted adjacent char pairs. The kernel runs over
    the AGGREGATED word-frequency table — |vocab| rows — which is why a
    BPE trainer scales to 100 TB: one corpus scan builds the vocab,
    every merge iteration after that is vocab-sized work."""
    docs = _t(spark, sf_dir, "documents")
    return text.bpe_pair_counts(docs, k=20)


BPE_PAIRS_SQL = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
vocab AS (SELECT w, COUNT(*) AS freq FROM w GROUP BY w),
pairs AS (
  SELECT substr(w, i, 2) AS pair, freq
  FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) ix
  WHERE length(substr(w, i, 2)) = 2
),
counted AS (SELECT pair, SUM(freq) AS cnt FROM pairs GROUP BY pair),
ranked AS (
  SELECT pair, cnt,
         row_number() OVER (ORDER BY cnt DESC, pair) AS rank
  FROM counted
)
SELECT CAST(rank AS INTEGER) AS rank, pair, CAST(cnt AS BIGINT) AS cnt
FROM ranked WHERE rank <= 20
"""


def label_centroid_stats_emb(spark, sf_dir):
    """Cluster-coherence evaluation (similarity.label_centroid_stats):
    per-label centroid norm + mean cosine-to-centroid. Decimal per-dim
    means, dim-ordered array reassembly, and 6-dec cosine snapping make
    every float step replayable; the vectors shuffle zero times (only
    the |labels|·dim centroid table moves)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.label_centroid_stats(emb)


LABEL_CENTROID_SQL = """
WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT label, u.d, u.x
  FROM e, LATERAL (SELECT unnest(v) AS x,
                          generate_subscripts(v, 1) AS d) u
),
m AS (
  SELECT label, d,
         round(CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6)
           AS m
  FROM dims GROUP BY label, d
),
cent AS (SELECT label, list(m ORDER BY d) AS carr FROM m GROUP BY label),
scored AS (
  SELECT e.label, c.carr,
         round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) > 0
                     AND sqrt(list_dot_product(c.carr, c.carr)) > 0
                    THEN list_dot_product(e.v, c.carr)
                         / (sqrt(list_dot_product(e.v, e.v))
                            * sqrt(list_dot_product(c.carr, c.carr)))
                    ELSE 0.0 END, 6) AS c
  FROM e JOIN cent c USING (label)
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       round(sqrt(list_dot_product(any_value(carr), any_value(carr))), 6)
         AS centroid_norm,
       round(CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS avg_cos_to_centroid
FROM scored GROUP BY label
"""


def weighted_sample_docs(spark, sf_dir):
    """Importance sampling for training mixes (sampling.
    weighted_sample_fixed): 50 documents drawn without replacement with
    probability ∝ word count, via the Efraimidis-Spirakis key
    ln(u)/w over deterministic md5 uniforms — the standard one-pass
    weighted reservoir (Efraimidis & Spirakis, IPL 2006), reproducible
    cross-engine because nothing is random."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    weighted = docs.select("doc_id", text.word_count(F.col("text"))
                           .alias("n_words"))
    return sampling.weighted_sample_fixed(weighted, 50, id_col="doc_id",
                                          weight_col="n_words")


WEIGHTED_SAMPLE_SQL = """
WITH w AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
           AS n_words
  FROM documents
),
keyed AS (
  SELECT doc_id, n_words,
         ln(('0x' || substr(md5('wsample:' || doc_id), 1, 8))::BIGINT
            / 4294967296.0) / n_words AS k
  FROM w WHERE n_words > 0
)
SELECT doc_id, n_words
FROM keyed ORDER BY k DESC, doc_id LIMIT 50
"""


def cluster_safe_split(spark, sf_dir):
    """Leakage-safe train/val split: near-dup CLUSTERS (not documents)
    are the split unit, so two near-duplicate documents can never
    straddle train and validation — the failure mode `split_leakage`
    detects, prevented by construction. Pipeline: exact Jaccard pair
    graph (threshold 0.4, same as neardup_clusters; the LSH-blocked
    candidate path is the 100 TB variant) → connected components →
    md5(cluster) mod 10 < 8 ⇒ train. Output per split: docs, clusters,
    and the cross-split pair count — provably zero, and the oracle
    recomputes it rather than trusting it."""
    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.jaccard_pairs(docs, k=_SHINGLE_K, threshold=0.4)
    cc = fuzzy.connected_components(pairs, all_ids=docs)
    bucket = F.conv(F.substring(F.md5(F.concat(F.lit("split:"),
                                               F.col("cluster"))), 1, 8),
                    16, 10).cast("long") % 10
    assigned = cc.select(
        F.col("id").alias("doc_id"), "cluster",
        F.when(bucket < 8, F.lit("train")).otherwise(F.lit("val"))
        .alias("split"))
    a = assigned.select(F.col("doc_id").alias("doc_a"),
                        F.col("split").alias("split_a"))
    b = assigned.select(F.col("doc_id").alias("doc_b"),
                        F.col("split").alias("split_b"))
    leaked = (pairs.join(a, "doc_a").join(b, "doc_b")
              .filter(F.col("split_a") != F.col("split_b")))
    leak_counts = (
        leaked.select(F.col("split_a").alias("split"))
        .unionByName(leaked.select(F.col("split_b").alias("split")))
        .groupBy("split").agg(F.count(F.lit(1)).alias("n_leaked")))
    return (
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.countDistinct("cluster").cast("long").alias("n_clusters"))
        .join(leak_counts, "split", "left")
        .select("split", "n_docs", "n_clusters",
                F.coalesce(F.col("n_leaked"), F.lit(0)).cast("long")
                .alias("n_leaked"))
    )


CLUSTER_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_shingles_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.4
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
cc AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id),
assigned AS (
  SELECT doc_id, cluster,
         CASE WHEN ('0x' || substr(md5('split:' || cluster), 1, 8))::BIGINT
                   % 10 < 8
              THEN 'train' ELSE 'val' END AS split
  FROM cc
),
leaked AS (
  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
  FROM pairs p JOIN assigned sa ON p.doc_a = sa.doc_id
               JOIN assigned sb ON p.doc_b = sb.doc_id
  WHERE sa.split <> sb.split
),
leak_counts AS (
  SELECT split, COUNT(*) AS n_leaked FROM (
    SELECT split_a AS split FROM leaked
    UNION ALL SELECT split_b FROM leaked) GROUP BY split
)
SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       CAST(COALESCE(any_value(l.n_leaked), 0) AS BIGINT) AS n_leaked
FROM assigned a LEFT JOIN leak_counts l ON a.split = l.split
GROUP BY a.split
"""


def subscription_backlog_events(spark, sf_dir):
    """Backlog monitoring (operators/subscriptions.subscription_backlog):
    three subscriptions with time-based ack cursors anchored to
    max(ts) — a fast consumer 1h behind, a lagging one 12h behind, a
    stalled one 120h behind — each reporting msgBacklog, the oldest
    unacked publish time, and the pending-window span. Cursor table
    broadcasts; backlog is one scan + one keyed agg at any topic size."""
    from ..operators.subscriptions import subscription_backlog

    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("_mx"))
    cursors = (
        mx.select(F.explode(F.array(
            F.struct(F.lit("sub-fast").alias("subscription"),
                     (F.col("_mx") - F.expr("INTERVAL 1 HOURS"))
                     .alias("ack_through")),
            F.struct(F.lit("sub-lagging").alias("subscription"),
                     (F.col("_mx") - F.expr("INTERVAL 12 HOURS"))
                     .alias("ack_through")),
            F.struct(F.lit("sub-stalled").alias("subscription"),
                     (F.col("_mx") - F.expr("INTERVAL 120 HOURS"))
                     .alias("ack_through")),
        )).alias("c")).select("c.subscription", "c.ack_through")
    )
    return subscription_backlog(ev, cursors, ts_col="ts")


SUBSCRIPTION_BACKLOG_SQL = """
WITH mx AS (SELECT max(ts) AS m FROM events),
cursors AS (
  SELECT 'sub-fast' AS subscription, m - INTERVAL 1 HOUR AS ack_through FROM mx
  UNION ALL
  SELECT 'sub-lagging', m - INTERVAL 12 HOUR FROM mx
  UNION ALL
  SELECT 'sub-stalled', m - INTERVAL 120 HOUR FROM mx
),
pending AS (
  SELECT c.subscription, e.ts
  FROM events e JOIN cursors c ON e.ts > c.ack_through
),
agg AS (
  SELECT subscription, CAST(COUNT(*) AS BIGINT) AS n_backlog,
         strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS oldest_unacked,
         strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS newest_unacked,
         round(CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS DOUBLE)
               / 3600000000.0, 6) AS backlog_hours
  FROM pending GROUP BY subscription
)
SELECT c.subscription,
       COALESCE(a.n_backlog, 0) AS n_backlog,
       a.oldest_unacked, a.newest_unacked,
       COALESCE(a.backlog_hours, 0.0) AS backlog_hours
FROM cursors c LEFT JOIN agg a USING (subscription)
"""


def mixture_sample_docs(spark, sf_dir):
    """Target-proportion training mixture (sampling.mixture_sample):
    re-weight the corpus to 50% en / 20% de / 30% zh by document count
    with an epoch cap of 2 — the recipe step every pretraining mix
    (Pile-style weights, DoReMi outputs) ends with. The binding domain
    (zh) is repeated up to 2x (true upsampling, epoch column 1..n);
    en/de downsample; es/fr are absent from the targets and drop.
    Deterministic: rates derive from one count aggregate, the
    keep/repeat decision from md5-uniforms, so the oracle recomputes
    the identical multiset from scratch in SQL."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.mixture_sample(
        docs.select("doc_id", "lang"),
        {"en": 0.5, "de": 0.2, "zh": 0.3},
        domain_col="lang", id_col="doc_id", max_epochs=2.0)
    return out.select("doc_id", "lang", "epoch")


MIXTURE_SAMPLE_SQL = """
WITH w AS (
  SELECT lang AS d, CAST(COUNT(*) AS DOUBLE) AS wt
  FROM documents GROUP BY lang
),
tg(d, tshare) AS (VALUES ('en', 0.5), ('de', 0.2), ('zh', 0.3)),
s AS (SELECT MIN(2.0 * w.wt / tg.tshare) AS s FROM w JOIN tg USING (d)),
r AS (SELECT tg.d, tg.tshare * s.s / w.wt AS rate
      FROM tg JOIN w USING (d), s),
c AS (
  SELECT doc_id, lang,
         CAST(FLOOR(rate) AS BIGINT)
         + CASE WHEN ('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT
                     / 4294967296.0 < rate - FLOOR(rate)
                THEN 1 ELSE 0 END AS n
  FROM documents JOIN r ON documents.lang = r.d
)
SELECT doc_id, lang,
       CAST(unnest(range(1, n + 1)) AS INT) AS epoch
FROM c WHERE n >= 1
"""


def token_budget_docs(spark, sf_dir):
    """Quality-ranked token-budget selection (sampling.
    token_budget_select): per language, keep the highest-quality
    documents (quality = word count here; any score works) until a
    4000-token budget is spent — the "best N tokens per language" cut
    that ends curated-pretraining recipes. Runs TWO-PHASE: a (domain,
    quality-bucket) token histogram picks the boundary bucket, rows
    above it are kept map-side, and only the ~1/n_buckets boundary
    slice pays an exact window — never a whole-domain single-task
    sort. The oracle IS that naive whole-domain window: equality is
    the proof the two-phase plan computes the same prefix cut."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    enriched = docs.select(
        "doc_id", "lang",
        text.token_count(t).alias("toks"),
        text.word_count(t).alias("q"))
    out = sampling.token_budget_select(
        enriched, 4000, quality_col="q", token_col="toks",
        id_col="doc_id", domain_col="lang", n_buckets=64)
    return out.select("doc_id", "lang",
                      F.col("n_tokens_sel").alias("n_tokens"))


TOKEN_BUDGET_SQL = r"""
WITH w AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS q
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, toks,
         SUM(toks) OVER (
           PARTITION BY lang
           ORDER BY q DESC, md5('budget:' || doc_id), doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM w
)
SELECT doc_id, lang, toks AS n_tokens FROM ranked WHERE cum <= 4000
"""


def shuffle_shards_docs(spark, sf_dir):
    """Deterministic global shuffle into 8 training shards (sampling.
    shuffle_shards): shard = md5 mod 8, position = md5 rank within the
    shard. The 100 TB answer to "shuffle the corpus before training":
    one hash shuffle + per-shard local sorts, no total-order sort, no
    RNG (an ORDER BY rand() is both a global sort and nondeterministic
    under task retry)."""
    from ..functions import sampling

    docs = _t(spark, sf_dir, "documents")
    return sampling.shuffle_shards(docs.select("doc_id"), 8,
                                   id_col="doc_id")


SHUFFLE_SHARDS_SQL = """
WITH h AS (
  SELECT doc_id, md5('shuffle:' || doc_id) AS h FROM documents
),
s AS (
  SELECT doc_id, h,
         CAST(('0x' || substr(h, 1, 8))::BIGINT % 8 AS INT) AS shard
  FROM h
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
            AS BIGINT) AS pos
FROM s
"""


def bm25_retrieval_docs(spark, sf_dir):
    """Okapi BM25 lexical retrieval (text.bm25_scores) for a 3-term
    query over the corpus — the sparse-retrieval complement to the
    embedding ANN family. Engine parity discipline: idf snapped to 9
    decimals (libm ln ulp drift — the tfidf_top_terms note), round-9
    decimal avgdl, decimal(27,12) per-doc sums; the oracle recomputes
    every score from scratch."""
    docs = _t(spark, sf_dir, "documents")
    return text.bm25_scores(docs, ["merge", "spark", "table"])


BM25_SQL = """
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w
  FROM documents
),
dd AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM d),
stats AS (
  SELECT COUNT(*) AS n_docs,
         round(CAST(SUM(CAST(dl AS DECIMAL(27,12))) AS DOUBLE)
               / COUNT(*), 9) AS avgdl
  FROM dd
),
tok AS (
  SELECT doc_id, dl, u.term FROM dd, unnest(w) AS u(term)
  WHERE u.term IN ('merge', 'spark', 'table')
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, dl, term
),
wdf AS (
  SELECT doc_id, dl, term, tf,
         COUNT(*) OVER (PARTITION BY term) AS df
  FROM tf
),
sc AS (
  SELECT doc_id,
         CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0), 9)
              * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
              AS DECIMAL(27,12)) AS addend
  FROM wdf CROSS JOIN stats
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       round(CAST(SUM(addend) AS DOUBLE), 6) AS score
FROM sc GROUP BY doc_id
"""


def snapshot_time_travel_events(spark, sf_dir):
    """Versioned snapshots / time travel (operators/snapshots.py —
    manifests over immutable parquet files, the managed-ledger ledger
    list re-expressed: ManagedLedgerImpl.java's sealed-ledger list IS
    a manifest, reading at a position IS time travel, trimming IS
    vacuum). Lifecycle under test: append half the events → v1 →
    append the rest → v2 → copy-on-write rewrite_compact → v3. The
    result reads v1 (the PAST, after two later writes and a rewrite)
    and v3 side by side; the oracle recomputes both from the events
    table, so the manifests provably pin the right row sets."""
    import shutil as _sh

    from ..operators import snapshots as snap

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type")
    d = _scratch("snapshot", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    ev.filter(F.col("event_id") % 4 < 2).write.parquet(d)
    v1 = snap.snapshot_topic(d)
    ev.filter(F.col("event_id") % 4 >= 2).write.mode("append").parquet(d)
    v2 = snap.snapshot_topic(d)
    v3 = snap.rewrite_compact(spark, d, n_files=2)

    def agg(df, label):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.max("event_id").alias("max_event_id"),
        ).withColumn("snapshot", F.lit(label))

    return agg(snap.read_topic_asof(spark, d, v1), "v1_half") \
        .unionByName(agg(snap.read_topic_incremental(spark, d, v1, v2),
                         "delta_v1_v2")) \
        .unionByName(agg(snap.read_topic_asof(spark, d, v3),
                         "v3_compacted"))


SNAPSHOT_TT_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MAX(event_id) AS max_event_id, 'v1_half' AS snapshot
FROM events WHERE event_id % 4 < 2 GROUP BY event_type
UNION ALL
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MAX(event_id) AS max_event_id, 'delta_v1_v2' AS snapshot
FROM events WHERE event_id % 4 >= 2 GROUP BY event_type
UNION ALL
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MAX(event_id) AS max_event_id, 'v3_compacted' AS snapshot
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Round-6 additions: corpus curation ops (boilerplate removal, quality
# classifier, k-center coreset, hybrid RRF retrieval)
# --------------------------------------------------------------------------

def boilerplate_removal_docs(spark, sf_dir):
    """CCNet/C4-style boilerplate removal (text.remove_boilerplate):
    segment each doc into non-overlapping 3-word windows, count each
    segment's document frequency corpus-wide (md5-keyed shuffle, 16
    bytes per segment), drop segments appearing in >= 3 distinct docs,
    reassemble the survivors in order. Output keeps every doc with its
    cleaned text + kept/removed counts, so the oracle checks the
    reassembly byte-for-byte, not just the counts."""
    docs = _t(spark, sf_dir, "documents")
    return text.remove_boilerplate(docs, window=3, min_df=3)


BOILERPLATE_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
),
seg AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i*3+1):(i*3+3)], ' ') AS seg
  FROM w CROSS JOIN UNNEST(range(CAST(ceil(len(toks)/3.0) AS BIGINT))) AS t(i)
  WHERE len(toks) > 0
),
hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM seg),
dfc AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM hs GROUP BY h),
kept AS (SELECT doc_id, pos, seg FROM hs JOIN dfc USING (h) WHERE df < 3),
reb AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM hs GROUP BY doc_id)
SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(COALESCE(t.n_segs, 0) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN reb r USING (doc_id)
"""


def boilerplate_lines_docs(spark, sf_dir):
    """Line-granularity boilerplate removal — the C4/CCNet production
    mode of text.remove_boilerplate(segment="lines"): one trimmed
    non-empty LINE is one segment, dropped when its exact text appears
    in >= 3 distinct docs, survivors rejoined with newlines. The
    fixture corpus has no line breaks, so the query first synthesizes a
    deterministic line structure (newline after every non-overlapping
    3-word chunk via one global regexp_replace — both engines scan
    left-to-right non-overlapping, so the derived corpus is identical);
    231 distinct segments cross the df>=3 bar at sf0.01, so the
    removal path is exercised for real, not vacuously."""
    docs = _t(spark, sf_dir, "documents")
    docs = docs.withColumn(
        "text", F.regexp_replace("text", "([a-z]+ [a-z]+ [a-z]+) ", "$1\n"))
    return text.remove_boilerplate(docs, min_df=3, segment="lines")


BOILERPLATE_LINES_SQL = r"""
WITH d AS (
  SELECT doc_id,
         string_split_regex(
             regexp_replace(text, '([a-z]+ [a-z]+ [a-z]+) ',
                            '\1' || chr(10), 'g'),
             '\r?\n') AS lines
  FROM documents
),
ln AS (
  SELECT doc_id, i AS pos, trim(lines[i+1]) AS seg
  FROM d CROSS JOIN UNNEST(range(len(lines))) AS t(i)
),
segf AS (SELECT doc_id, pos, seg FROM ln WHERE length(seg) > 0),
hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM segf),
dfc AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM hs GROUP BY h),
kept AS (SELECT doc_id, pos, seg FROM hs JOIN dfc USING (h) WHERE df < 3),
reb AS (
  SELECT doc_id, string_agg(seg, chr(10) ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs FROM hs GROUP BY doc_id)
SELECT d2.doc_id, COALESCE(r.clean_text, '') AS clean_text,
       COALESCE(r.n_kept, 0) AS n_kept,
       CAST(COALESCE(t.n_segs, 0) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d2
LEFT JOIN tot t USING (doc_id)
LEFT JOIN reb r USING (doc_id)
"""


def quality_classifier_docs(spark, sf_dir):
    """Hashing-trick linear quality classifier
    (text.quality_classifier_scores): score(doc) = mean over tokens of
    w[md5-bucket(token)], the fastText/CCNet model shape applied as a
    map-only scan — the weight table is one broadcast data column.
    Deterministic placeholder weights (h/2^31 - 1, full-precision
    dyadic — clean few-decimal weights measurably hit exact-halfway
    round-6 quotients and flip one ulp across engines) make the whole
    pipeline SQL-replayable; `keep` is rendered as int for the hash
    compare."""
    docs = _t(spark, sf_dir, "documents")
    return (text.quality_classifier_scores(docs, n_buckets=1024)
            .withColumn("keep", F.col("keep").cast("int")))


QUALITY_CLASSIFIER_SQL = """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS toks
  FROM documents
),
tok AS (SELECT doc_id, u.t FROM w, UNNEST(toks) AS u(t)),
bkt AS (
  SELECT doc_id,
         ('0x' || substr(md5('qb:' || t), 1, 8))::BIGINT % 1024 AS b
  FROM tok
),
wt AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('qw:' || b), 1, 8))::BIGINT
              / 2147483648.0 - 1.0 AS DECIMAL(27,12)) AS w
  FROM bkt
),
agg AS (
  SELECT doc_id, SUM(w) AS tot, CAST(COUNT(*) AS BIGINT) AS n
  FROM wt GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n, 0) AS n_tokens,
       COALESCE(round(CAST(a.tot AS DOUBLE) / a.n, 6), 0.0) AS quality_score,
       CAST(COALESCE(round(CAST(a.tot AS DOUBLE) / a.n, 6), 0.0) >= 0.0
            AS INTEGER) AS keep
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def kcenter_coreset_embeddings(spark, sf_dir):
    """Greedy k-center coreset (similarity.kcenter_coreset): 8 maximally
    spread representatives via the deterministic farthest-point loop,
    every vector assigned to its nearest center (broadcast map-side),
    then a per-center coverage report — count + worst round-6 cosine
    (the angular coverage radius). The oracle reuses the ANN-IVF
    seeding CTE chain verbatim."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kcenter_coreset(emb, k=8)


def _kcenter_sql(k: int = 8) -> str:
    parts = _ivf_assign_parts(k)
    cos9 = _sql_cos
    # LEFT JOIN against the k-row cells spine mirrors the Spark side's
    # exactly-k-rows contract (empty centers surface as (c, 0, NULL))
    return f"""
WITH {','.join(parts)},
cov AS (
  SELECT a.cell, CAST(COUNT(*) AS BIGINT) AS n_covered,
         round(MIN({cos9('a.v', 'c.v', 9)}), 6) AS coverage_cos
  FROM assigned a JOIN cells c USING (cell)
  GROUP BY a.cell
)
SELECT CAST(c.cell AS INTEGER) AS center,
       COALESCE(v.n_covered, 0) AS n_covered, v.coverage_cos
FROM cells c LEFT JOIN cov v USING (cell)
"""


KCENTER_SQL = _kcenter_sql()


def rrf_hybrid_retrieval(spark, sf_dir):
    """Hybrid retrieval: Okapi BM25 lexical ranking (3-term query) and
    exact dense cosine ranking (query = vec 0's embedding, doc_id =
    vec_id) fused by reciprocal-rank fusion (similarity.rrf_fuse,
    1/(60+rank) per list). Both input lists are top-50; fusion is a
    full-outer join of two top-k-sized lists — no corpus pass beyond
    the two retrievals themselves.

    The BM25 top-50 is a DISTRIBUTED top-k (orderBy+limit →
    TakeOrderedAndProject: per-partition heaps, driver merge) — never
    a global rank window over every scored doc, which at 100 TB would
    funnel the corpus-scale matching set into one task (the r6 weak
    row). The rank window that follows runs over the 50-row result
    only — the same boundedness contract as rrf_fuse itself; the
    total (score desc, doc_id) tiebreak makes limit-then-rank emit
    exactly the rows and ranks the global window would."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = text.bm25_scores(docs, ["merge", "spark", "table"])
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex_r = (lex.orderBy(F.col("score").desc(), F.col("doc_id"))
             .limit(50)
             .withColumn("rank", F.row_number().over(wl))
             .select("doc_id", "rank"))
    q = (emb.filter(F.col("vec_id") == 0)
         .select(F.lit(0).alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    dense = similarity.cosine_topk(emb, q, k=50)
    dense_r = dense.select(F.col("vec_id").alias("doc_id"), "rank")
    return similarity.rrf_fuse(lex_r, dense_r, top=50)


RRF_SQL = f"""
WITH lexall AS ({BM25_SQL}),
lex AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                      AS BIGINT) AS r
  FROM lexall QUALIFY r <= 50
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
dense AS (
  SELECT vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY c6 DESC, vec_id) AS BIGINT) AS r
  FROM (SELECT e.vec_id, {_sql_cos('e.v', 'q.qv', 6)} AS c6
        FROM e CROSS JOIN q)
  QUALIFY r <= 50
),
fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         COALESCE(l.r, 0) AS rank_a, COALESCE(d.r, 0) AS rank_b,
         round(COALESCE(1.0 / (60.0 + l.r), 0.0)
               + COALESCE(1.0 / (60.0 + d.r), 0.0), 6) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, rank_a, rank_b, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
            AS BIGINT) AS fused_rank
FROM fused QUALIFY fused_rank <= 50
"""


def pq_adc_topk_embeddings(spark, sf_dir):
    """Product-quantization ANN with exact refine (similarity.
    pq_adc_topk, Jégou et al. 2011): greedy farthest-point codebooks
    (m=4 sub-spaces × 16 codewords over dim=64), map-side encoding,
    per-query ADC lookup-sum scan, top-100 shortlist, then exact
    squared-L2 re-rank to top-10. Every stage is deterministic
    (round-9 codeword argmins, round-6 distances, ties to the lowest
    id), so the oracle unrolls training + encoding + ADC + refine into
    SQL CTEs and must agree on every row."""
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return similarity.pq_adc_topk(emb, q, k=10, dim=64, m=4, ksub=16,
                                  refine=100)


def _pq_sql(dim: int = 64, m: int = 4, ksub: int = 16,
            k: int = 10, refine: int = 100,
            train_where: str | None = None,
            lloyd_iters: int = 0,
            query_where: str = "vec_id < 5",
            enc_where: str | None = None,
            rotation: tuple[list[int], list[int]] | None = None) -> str:
    """Replay similarity.pq_train_codebooks + pq_encode + pq_adc_topk
    (refine mode) in pure SQL.

    Training unrolls the per-subspace greedy farthest-point loop the
    same way the IVF seeding chain does (round-9 squared-L2 instead of
    round-9 cosine: pick argmax of the min-d2-to-chosen, ties to the
    lowest vec_id, update by least()). Encoding is the
    first-min-codeword argmin; the ADC sum pivots the m looked-up
    entries into s-order and adds them left-to-right — the exact IEEE
    order of the Spark side's F.aggregate fold (0.0 + x0 is exact, so
    x0+x1+x2+x3 is bit-identical). MATERIALIZED on every chain CTE for
    the same fd-explosion reason as _ivf_assign_parts.

    ``train_where`` restricts the training POOL only (the persisted-
    index lifecycle: codebooks trained on the initial build set, later
    appends encoded with those same books — everything downstream of
    the pool CTE is identical by construction). ``query_where`` picks
    the query set (default the 5 lowest ids); ``enc_where`` restricts
    the SCANNED corpus (the candidate-log rerank lifecycle: queries
    probe an index that holds only the build half). ``rotation``
    replays the pq_rotation signed permutation: training, encoding and
    the query tables all read a ROTATED corpus CTE (output j =
    ±v[perm[j]+1], exact negation on both engines), while the refine
    tail keeps RAW vectors in raw element order — the isometry
    argument of similarity.pq_rotation."""
    d2 = _sql_d2
    pool_where = f"WHERE {train_where} " if train_where else ""
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings)",
    ]
    corpus = "e"
    if rotation is not None:
        perm, signs = rotation
        rot = ", ".join(f"{'-' if s < 0 else ''}v[{p + 1}]"
                        for p, s in zip(perm, signs))
        parts.append(
            f"er AS MATERIALIZED (SELECT vec_id, [{rot}] AS v FROM e)")
        corpus = "er"
    parts.append(
        f"pool AS MATERIALIZED (SELECT vec_id, v FROM {corpus} "
        f"{pool_where}ORDER BY vec_id LIMIT 10000)")
    parts += _pq_chain_parts(dim, m, ksub, corpus_cte=corpus,
                             lloyd_iters=lloyd_iters)
    parts.append(
        "qtab AS MATERIALIZED (SELECT es.vec_id AS query_id, es.s, bk.cw, "
        f"{d2('es.sv', 'bk.sv', 9)} AS qd "
        f"FROM esubs es JOIN books bk USING (s) WHERE es.{query_where})")
    adc_sum = " + ".join(
        f"MAX(CASE WHEN t.s = {s} THEN qd END)" for s in range(m))
    enc_filter = f"WHERE en.{enc_where} " if enc_where else ""
    parts.append(
        "adcv AS MATERIALIZED (SELECT t.query_id, en.vec_id, "
        f"round({adc_sum}, 6) AS adc_d2 "
        "FROM enc en JOIN qtab t ON en.s = t.s AND en.cw = t.cw "
        f"{enc_filter}"
        "GROUP BY t.query_id, en.vec_id)")
    return _pq_sql_tail(parts, m, k, refine, query_where=query_where)


def _sql_d2(a: str, b: str, digits: int) -> str:
    """Squared L2 via the fixed-order expansion — the textual mirror of
    similarity._d2 (same three folds, two IEEE adds)."""
    return (f"round(list_dot_product({a}, {a}) "
            f"- 2.0 * list_dot_product({a}, {b}) "
            f"+ list_dot_product({b}, {b}), {digits})")


def _pq_chain_parts(dim: int, m: int, ksub: int, *,
                    pool_cte: str = "pool",
                    corpus_cte: str = "e",
                    lloyd_iters: int = 0) -> list[str]:
    """The PQ training + encoding CTE chain (greedy farthest-point
    codebooks per subspace → ``books``, corpus subvectors → ``esubs``,
    first-min codeword argmin → ``enc``). Assumes CTEs ``corpus_cte``
    (vec_id, v) and ``pool_cte`` are already defined — shared by the
    one-shot / persisted-index PQ oracles and the IVFADC oracle (whose
    residual mode points both at residual-space CTEs).

    ``lloyd_iters`` appends that many k-means refinement sweeps per
    subspace, replaying pq_train_codebooks' Lloyd loop exactly:
    round-9 first-min assignment, new codeword = list_reduce over the
    members' components IN POOL-ID ORDER (the numpy side folds
    sequentially from the first member — bit-identical IEEE order)
    divided by the count, rounded to 9; empty clusters keep their
    codeword via the LEFT JOIN COALESCE."""
    d2 = _sql_d2
    dsub = dim // m
    parts: list[str] = []
    book_arms = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        parts.append(
            f"p{s} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS sv "
            f"FROM {pool_cte})")
        parts.append(
            f"b{s}c0 AS MATERIALIZED (SELECT sv FROM p{s} "
            "ORDER BY vec_id LIMIT 1)")
        parts.append(
            f"b{s}s0 AS MATERIALIZED (SELECT p.vec_id, p.sv, "
            f"{d2('p.sv', 'c.sv', 9)} AS m "
            f"FROM p{s} p CROSS JOIN b{s}c0 c)")
        for j in range(1, ksub):
            prev = f"b{s}s{j - 1}"
            parts.append(
                f"b{s}c{j} AS MATERIALIZED (SELECT sv FROM {prev} "
                "ORDER BY m DESC, vec_id ASC LIMIT 1)")
            if j < ksub - 1:
                parts.append(
                    f"b{s}s{j} AS MATERIALIZED (SELECT s.vec_id, s.sv, "
                    f"least(s.m, {d2('s.sv', 'c.sv', 9)}) AS m "
                    f"FROM {prev} s CROSS JOIN b{s}c{j} c)")
        if lloyd_iters == 0:
            book_arms.extend(
                f"SELECT {s} AS s, {j} AS cw, sv FROM b{s}c{j}"
                for j in range(ksub))
            continue
        seed = " UNION ALL ".join(
            f"SELECT {j} AS cw, sv FROM b{s}c{j}" for j in range(ksub))
        parts.append(f"bk{s}l0 AS MATERIALIZED ({seed})")
        mean_list = ", ".join(
            f"round(list_reduce(list(sv[{i}] ORDER BY vec_id), "
            "(x, y) -> x + y) / COUNT(*), 9)"
            for i in range(1, dsub + 1))
        for t in range(1, lloyd_iters + 1):
            parts.append(
                f"al{s}t{t} AS MATERIALIZED (SELECT vec_id, sv, cw FROM ("
                "SELECT p.vec_id, p.sv, b.cw, row_number() OVER ("
                "PARTITION BY p.vec_id "
                f"ORDER BY {d2('p.sv', 'b.sv', 9)} ASC, b.cw ASC) AS rn "
                f"FROM p{s} p CROSS JOIN bk{s}l{t - 1} b) WHERE rn = 1)")
            parts.append(
                f"mn{s}t{t} AS MATERIALIZED (SELECT cw, "
                f"[{mean_list}] AS sv FROM al{s}t{t} GROUP BY cw)")
            parts.append(
                f"bk{s}l{t} AS MATERIALIZED (SELECT b.cw, "
                "COALESCE(mm.sv, b.sv) AS sv "
                f"FROM bk{s}l{t - 1} b LEFT JOIN mn{s}t{t} mm USING (cw))")
        book_arms.append(
            f"SELECT {s} AS s, cw, sv FROM bk{s}l{lloyd_iters}")
    parts.append("books AS MATERIALIZED ("
                 + " UNION ALL ".join(book_arms) + ")")
    sub_arms = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, v[{s * dsub + 1}:{(s + 1) * dsub}] AS sv "
        f"FROM {corpus_cte}" for s in range(m))
    parts.append(f"esubs AS MATERIALIZED ({sub_arms})")
    parts.append(
        "enc AS MATERIALIZED (SELECT vec_id, s, cw FROM ("
        "SELECT es.vec_id, es.s, bk.cw, row_number() OVER ("
        "PARTITION BY es.vec_id, es.s "
        f"ORDER BY {d2('es.sv', 'bk.sv', 9)} ASC, bk.cw ASC) AS rn "
        "FROM esubs es JOIN books bk USING (s)) WHERE rn = 1)")
    return parts


def _pq_sql_tail(parts: list[str], m: int, k: int, refine: int, *,
                 query_where: str = "vec_id < 5") -> str:
    """Shortlist + exact-refine + final top-k — shared verbatim by the
    PQ and IVFADC oracles (both rank their ``adcv`` the same way)."""
    d2 = _sql_d2
    parts.append(
        "short AS (SELECT query_id, vec_id, adc_d2 FROM ("
        "SELECT query_id, vec_id, adc_d2, row_number() OVER ("
        "PARTITION BY query_id ORDER BY adc_d2 ASC, vec_id ASC) AS ar "
        f"FROM adcv) WHERE ar <= {refine})")
    parts.append(
        "qv AS (SELECT vec_id AS query_id, v AS qvec FROM e "
        f"WHERE {query_where})")
    return f"""
WITH {','.join(parts)}
SELECT query_id, vec_id, adc_d2, exact_d2,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY exact_d2 ASC, vec_id ASC) AS INTEGER) AS rank
FROM (
  SELECT s.query_id, s.vec_id, s.adc_d2,
         {d2('e.v', 'q.qvec', 6)} AS exact_d2
  FROM short s
  JOIN e ON s.vec_id = e.vec_id
  JOIN qv q ON s.query_id = q.query_id
)
QUALIFY rank <= {k}
"""


PQ_ADC_SQL = _pq_sql()


def pq_index_topk_embeddings(spark, sf_dir):
    """Persisted PQ index lifecycle under the exact oracle
    (similarity.pq_write_index / append_index / search_index, the pq
    codec of the shared index lifecycle): BUILD the
    index from the even-id half of the corpus (codebooks train on that
    half's pool), APPEND the odd-id half encoded with the sidecar
    codebooks (prior files untouched, O(batch)), then PROBE the index
    with 5 queries, exact-refining the top-100 shortlist against the
    corpus table's true vectors. The oracle replays the identical
    lifecycle by restricting only the training-pool CTE — appends
    encoded with frozen books are definitionally the same rows as
    encoding everything with those books."""
    _pqindex_build(spark, sf_dir)
    return _pqindex_probe(spark, sf_dir)


def _pqindex_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("pqindex", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                              dim=64, m=4, ksub=16)
    similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), d)


def _pqindex_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("pqindex", sf_dir),
                                   _probe_queries(emb), k=10, refine=100,
                                   vectors=emb)


PQ_INDEX_SQL = _pq_sql(train_where="vec_id % 2 = 0")


def pq_lloyd_adc_topk_embeddings(spark, sf_dir):
    """PQ ADC top-k with Lloyd-refined codebooks (pq_train_codebooks
    lloyd_iters=2): two deterministic k-means sweeps after the greedy
    farthest-point seeding pull codewords off the extremes and onto
    the data mass — measured on this fixture: refine-100 recall@10
    0.635 → 0.785 vs the greedy-only books. Every sweep is exactly
    SQL-replayable (round-9 first-min assignment; new codeword =
    pool-id-order sequential float fold / count, round-9; empty
    clusters keep their codeword), so the oracle replays training's
    full greedy+Lloyd chain, encoding, the ADC scan, and the refine
    stage, and must agree on every row."""
    emb = _t(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    return similarity.pq_adc_topk(emb, q, k=10, dim=64, m=4, ksub=16,
                                  refine=100, lloyd_iters=2)


PQ_LLOYD_SQL = _pq_sql(lloyd_iters=2)


def ivfpq_topk_embeddings(spark, sf_dir):
    """IVFADC under an exact oracle (similarity.ivfpq_write_index /
    search_index — Jégou et al. 2011 §IV, the composed index the
    paper actually ships): coarse-quantize to 8 IVF cells AND
    PQ-encode (m=4 × 16 codewords), persist codes PARTITIONED BY CELL,
    then probe with 5 queries at nprobe=3 — directory pruning cuts the
    scan to the probed cells, the ADC lookup-sum ranks only compressed
    codes within them (cell equi-join, never a cross join), and the
    top-100 shortlist exact-refines to top-10. The oracle composes the
    proven IVF seeding chain (_ivf_assign_parts: round-9 cosine
    farthest-point cells) with the proven PQ chain (_pq_chain_parts:
    round-9 L2 farthest-point codebooks) and must agree on every row."""
    _ivfpq_build(spark, sf_dir)
    return _ivfpq_probe(spark, sf_dir)


def _ivfpq_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfpq", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.ivfpq_write_index(emb, d, dim=64, m=4, ksub=16, n_cells=8)


def _ivfpq_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("ivfpq", sf_dir),
                                   _probe_queries(emb), k=10, nprobe=3,
                                   refine=100, vectors=emb)


def _ivfpq_sql(n_cells: int = 8, nprobe: int = 3, dim: int = 64,
               m: int = 4, ksub: int = 16, k: int = 10,
               refine: int = 100, residual: bool = False,
               train_where: str | None = None,
               enc_where: str | None = None,
               query_where: str = "vec_id < 5",
               rotation: tuple[list[int], list[int]] | None = None) -> str:
    """Replay ivfpq_write_index + search_index in pure SQL by
    COMPOSING the two proven chains: _ivf_assign_parts contributes the
    coarse quantizer (cells, per-vector cell in ``assigned``),
    _pq_chain_parts the codebooks and encoded corpus (both train on
    the same pool CTE, exactly like the Spark side's shared 10k pool).
    ``probes`` replicates the driver-side nprobe selection — score
    DESC, cell DESC tiebreak, the reverse(array_sort) rule of
    _ann_ivf_sql. The ADC aggregate joins enc → assigned (each code's
    cell) → probes (per-QUERY cell restriction), so a candidate is
    scored only for queries that probed its cell — exactly the Spark
    side's cell equi-join — and the shortlist/refine tail is the PQ
    oracle's verbatim.

    ``residual=True`` (§IV-A): the chain's pool and corpus CTEs point
    at RESIDUAL space (v − centroid[assigned cell], elementwise via
    list_transform(list_zip(...)) — exact IEEE subtraction on both
    engines), and the query distance tables are built per PROBED cell
    from q − centroid[that cell], joined to candidates on cell. The
    exact-refine tail still compares raw vectors.

    ``train_where`` restricts the shared training pool — centroids AND
    codebooks, exactly the pair ivfpq_write_index freezes — for the
    build-then-ingest lifecycle; assignment/encoding/probe stay over
    the full corpus. ``enc_where`` additionally restricts the SCANNED
    code table (the _pq_sql pattern) — the ingest-rerank lifecycle,
    where a stream batch probes only the codes that existed before it.
    ``query_where`` picks the query vectors (default the 5 lowest
    ids).

    ``rotation`` replays ivfpq_write_index(rotate=True): the PQ chain's
    pool and corpus CTEs (and, in residual mode, the per-probed-cell
    query residuals) rotate through the signed permutation (output j =
    ±v[perm[j]+1], exact on both engines); cell seeding, assignment,
    probe selection and the exact-refine tail stay in RAW space —
    mirroring the Spark side's _ivfpq_encode/_ivfpq_probe."""
    d2 = _sql_d2
    cos9 = _sql_cos
    dsub = dim // m
    sub = "x -> x[1] - x[2]"
    rot = None
    if rotation is not None:
        perm, signs = rotation
        rot = ", ".join(f"{'-' if s < 0 else ''}v[{p + 1}]"
                        for p, s in zip(perm, signs))
    parts = _ivf_assign_parts(n_cells, pool_where=train_where)
    if residual:
        parts.append(
            "resid AS MATERIALIZED (SELECT a.vec_id, "
            f"list_transform(list_zip(a.v, c.v), {sub}) AS v "
            "FROM assigned a JOIN cells c USING (cell))")
        corpus = "resid"
        if rot is not None:
            parts.append(
                "residr AS MATERIALIZED (SELECT vec_id, "
                f"[{rot}] AS v FROM resid)")
            corpus = "residr"
        parts.append(
            "rpool AS MATERIALIZED (SELECT r.vec_id, r.v "
            f"FROM {corpus} r JOIN pool p USING (vec_id))")
        parts += _pq_chain_parts(dim, m, ksub, pool_cte="rpool",
                                 corpus_cte=corpus)
    else:
        if rot is not None:
            parts.append(
                f"er AS MATERIALIZED (SELECT vec_id, [{rot}] AS v "
                "FROM e)")
            parts.append(
                "epool AS MATERIALIZED (SELECT r.vec_id, r.v "
                "FROM er r JOIN pool p USING (vec_id))")
            parts += _pq_chain_parts(dim, m, ksub, pool_cte="epool",
                                     corpus_cte="er")
        else:
            parts += _pq_chain_parts(dim, m, ksub)
    parts.append(
        "probes AS (SELECT query_id, cell FROM ("
        "SELECT e.vec_id AS query_id, c.cell, "
        "row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos9('e.v', 'c.v', 9)} DESC, c.cell DESC) AS rn "
        f"FROM e CROSS JOIN cells c WHERE e.{query_where}) "
        f"WHERE rn <= {nprobe})")
    adc_sum = " + ".join(
        f"MAX(CASE WHEN t.s = {s} THEN qd END)" for s in range(m))
    enc_filter = f"WHERE en.{enc_where} " if enc_where else ""
    if residual:
        parts.append(
            "qres AS MATERIALIZED (SELECT pr.query_id, pr.cell, "
            f"list_transform(list_zip(q.v, c.v), {sub}) AS v "
            "FROM probes pr JOIN e q ON q.vec_id = pr.query_id "
            "JOIN cells c USING (cell))")
        qsrc = "qres"
        if rot is not None:
            parts.append(
                "qresr AS MATERIALIZED (SELECT query_id, cell, "
                f"[{rot}] AS v FROM qres)")
            qsrc = "qresr"
        qsub_arms = " UNION ALL ".join(
            f"SELECT query_id, cell, {s} AS s, "
            f"v[{s * dsub + 1}:{(s + 1) * dsub}] AS sv FROM {qsrc}"
            for s in range(m))
        parts.append(f"qsubs AS MATERIALIZED ({qsub_arms})")
        parts.append(
            "qtab AS MATERIALIZED (SELECT qs.query_id, qs.cell, qs.s, "
            f"bk.cw, {d2('qs.sv', 'bk.sv', 9)} AS qd "
            "FROM qsubs qs JOIN books bk USING (s))")
        parts.append(
            "adcv AS MATERIALIZED (SELECT t.query_id, en.vec_id, "
            f"round({adc_sum}, 6) AS adc_d2 "
            "FROM enc en "
            "JOIN assigned a ON en.vec_id = a.vec_id "
            "JOIN qtab t ON t.cell = a.cell "
            "AND en.s = t.s AND en.cw = t.cw "
            f"{enc_filter}"
            "GROUP BY t.query_id, en.vec_id)")
    else:
        parts.append(
            "qtab AS MATERIALIZED (SELECT es.vec_id AS query_id, es.s, "
            f"bk.cw, {d2('es.sv', 'bk.sv', 9)} AS qd "
            f"FROM esubs es JOIN books bk USING (s) WHERE es.{query_where})")
        parts.append(
            "adcv AS MATERIALIZED (SELECT t.query_id, en.vec_id, "
            f"round({adc_sum}, 6) AS adc_d2 "
            "FROM enc en "
            "JOIN assigned a ON en.vec_id = a.vec_id "
            "JOIN probes pr ON pr.cell = a.cell "
            "JOIN qtab t ON t.query_id = pr.query_id "
            "AND en.s = t.s AND en.cw = t.cw "
            f"{enc_filter}"
            "GROUP BY t.query_id, en.vec_id)")
    return _pq_sql_tail(parts, m, k, refine, query_where=query_where)


IVFPQ_SQL = _ivfpq_sql()


def ivfpq_residual_topk_embeddings(spark, sf_dir):
    """Residual-encoded IVFADC (ivfpq_write_index(residual=True) —
    Jégou et al. 2011 §IV-A, the form the paper reports results with):
    codebooks train on and codes quantize v − centroid[cell], so the
    same 4×4-bit budget spends on the residual's (much smaller) energy;
    query tables are built per probed cell from q − centroid[cell].
    Everything else matches ivfpq_topk_embeddings, and the exact-refine
    stage still reranks RAW vectors. The oracle re-points the PQ chain
    at residual-space CTEs (elementwise list_zip subtraction — exact
    IEEE on both engines) and must agree on every row. (This gate
    proves residual CORRECTNESS; on this synthetic fixture residual
    recall measures BELOW raw — see the ivfpq_write_index docstring's
    measured caveat — which is a corpus property, not a defect.)"""
    _ivfpqr_build(spark, sf_dir)
    return _ivfpqr_probe(spark, sf_dir)


def _ivfpqr_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfpqr", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.ivfpq_write_index(emb, d, dim=64, m=4, ksub=16, n_cells=8,
                                 residual=True)


def _ivfpqr_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("ivfpqr", sf_dir),
                                   _probe_queries(emb), k=10, nprobe=3,
                                   refine=100, vectors=emb)


IVFPQ_RESIDUAL_SQL = _ivfpq_sql(residual=True)


def pq_fold_topk_embeddings(spark, sf_dir):
    """PQ ingest-stream FOLD lifecycle (streaming.ann.ingest_batch +
    fold_stream — VERDICT r8 #1, the last unbounded-growth surface
    in the 100 TB ANN story): BUILD the index from the even-id half
    (codebooks train there), INGEST the odd half as two stream batches
    (each probing strictly-earlier state, appending its codes under
    stream/_batch_id=N), FOLD the per-batch directories into one
    _batch_id=-1 directory, then PROBE with 5 queries. The fold moves
    code rows between directories without changing a single one, so
    the oracle is the pq_index lifecycle's verbatim: train on the even
    half, encode everything with those books, ADC + exact-refine."""
    _pqfold_build(spark, sf_dir)
    return _pqfold_probe(spark, sf_dir)


def _pqfold_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import fold_stream, ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("pqfold", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    _sh.rmtree(d + "_out", ignore_errors=True)
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                              dim=64, m=4, ksub=16)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                 index_path=d, out_path=d + "_out", k=5)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                 index_path=d, out_path=d + "_out", k=5)
    fold_stream(spark, d)


def _pqfold_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("pqfold", sf_dir),
                                   _probe_queries(emb), k=10, refine=100,
                                   vectors=emb)


PQ_FOLD_SQL = _pq_sql(train_where="vec_id % 2 = 0")


def ivfpq_fold_topk_embeddings(spark, sf_dir):
    """IVFADC ingest-stream FOLD lifecycle: like pq_fold_topk but the
    folded rows must KEEP their cell partitioning (_batch_id=-1/cell=C)
    so directory-level nprobe pruning — the whole point of the coarse
    quantizer — survives the fold (plan-locked in
    tests/test_round9.py). Build on the even half freezes centroids
    AND codebooks; two odd-half ingest batches land under
    stream/_batch_id=N/cell=C; fold_stream consolidates; the
    probe prunes to 3 of 8 cells and exact-refines. Oracle: the proven
    composed IVF+PQ chain with the training POOL restricted to the
    build half."""
    _ivffold_build(spark, sf_dir)
    return _ivffold_probe(spark, sf_dir)


def _ivffold_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import fold_stream, ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivffold", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    _sh.rmtree(d + "_out", ignore_errors=True)
    similarity.ivfpq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                                 dim=64, m=4, ksub=16, n_cells=8)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                 index_path=d, out_path=d + "_out", k=5, nprobe=3)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                 index_path=d, out_path=d + "_out", k=5, nprobe=3)
    fold_stream(spark, d)


def _ivffold_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("ivffold", sf_dir),
                                   _probe_queries(emb), k=10, nprobe=3,
                                   refine=100, vectors=emb)


IVFPQ_FOLD_SQL = _ivfpq_sql(train_where="vec_id % 2 = 0")


def ann_rerank_report(spark, sf_dir):
    """Periodic EXACT re-rank over the ingest stream's accumulated
    candidate log (streaming.ann.rerank_candidate_log — VERDICT r8 #5,
    the batch half of the continuous/periodic split the module header
    promises): build the index on the even half, ingest the odd half
    as one stream batch whose probe logs a 100-candidate raw-ADC
    shortlist per query, then run the periodic job — fetch TRUE
    vectors for exactly the logged pairs by id equi-join and re-rank
    each query's shortlist by exact squared L2 to top-10. Report
    filtered to the 5 lowest odd query ids for the gate. Oracle: the
    PQ chain with the pool AND the scanned corpus restricted to the
    even half, queries the odd ids < 10 — the rerank of a query's
    logged top-100 is definitionally the refine stage over the same
    shortlist."""
    _rerank_build(spark, sf_dir)
    return _rerank_probe(spark, sf_dir)


def _rerank_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("rerank", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    _sh.rmtree(d + "_out", ignore_errors=True)
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                              dim=64, m=4, ksub=16)
    ingest_batch(emb.filter(F.col("vec_id") % 2 == 1), 0,
                 index_path=d, out_path=d + "_out", k=100)


def _rerank_probe(spark, sf_dir):
    from ..streaming.ann import rerank_candidate_log

    emb = _t(spark, sf_dir, "embeddings")
    rep = rerank_candidate_log(spark, _scratch("rerank", sf_dir) + "_out",
                               emb, k=10)
    return rep.filter(F.col("query_id") < 10)


RERANK_SQL = _pq_sql(train_where="vec_id % 2 = 0",
                     enc_where="vec_id % 2 = 0",
                     query_where="vec_id % 2 = 1 AND vec_id < 10")


def window_udaf_bigkey(spark, sf_dir):
    """WindowFunction UDAF pane-boundary exactness past 2^53 (ADVICE
    r8 medium): the pane key is 2^53 + user_id, so ADJACENT DISTINCT
    keys are indistinguishable in float64 — the dtype pandas' shift()
    silently upcast int64 keys to, merging every pane into one. The
    fixed boundary detector compares JVM-side canonical strings
    (functions/runtime.py), so each user keeps its own pane; the
    oracle is a plain GROUP BY at the same magnitude."""
    import pandas as pd

    from ..functions.runtime import window_function
    from pyspark.sql import types as T

    ev = _t(spark, sf_dir, "events").withColumn(
        "big_key", F.lit(9007199254740992) + F.col("user_id"))
    schema = T.StructType([
        T.StructField("big_key", T.LongType()),
        T.StructField("median_value", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def pane_median(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "big_key": [int(pdf["big_key"].iloc[0])],
            "median_value": [round(float(pdf["value"].median()), 6)],
            "n": [len(pdf)],
        })

    return window_function(ev, pane_median, schema, group_by=["big_key"])


WINDOW_UDAF_BIGKEY_SQL = """
SELECT 9007199254740992 + user_id AS big_key,
       round(median(value), 6) AS median_value,
       COUNT(*) AS n
FROM events GROUP BY user_id
"""


def ivfpq_auto_topk_embeddings(spark, sf_dir):
    """IVFADC with ``residual="auto"`` (VERDICT r9 #4 — the one r9
    feature that shipped without a gate): the build trains BOTH
    codebook sets on the same 10k pool, compares total round-9
    quantization error, and pins the measured winner in the sidecar.
    On this md5-noise corpus within-cell residuals carry MORE
    quantization error than raw vectors (measured sf0.01:
    raw 650.7 vs residual 695.8), so auto must resolve to raw — the
    probe is then definitionally row-identical to the explicit
    raw-chain oracle, which is exactly what this gate checks: a wrong
    auto resolution (or a probe that ignored the pinned flag) produces
    residual-space ADC distances and hash-mismatches on every row.
    The residual-wins regime is pytest-gated on a cell-structured
    fixture (tests/test_round9.py::TestResidualAuto)."""
    _ivfauto_build(spark, sf_dir)
    return _ivfauto_probe(spark, sf_dir)


def _ivfauto_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfauto", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.ivfpq_write_index(emb, d, dim=64, m=4, ksub=16, n_cells=8,
                                 residual="auto")


def _ivfauto_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("ivfauto", sf_dir),
                                   _probe_queries(emb), k=10, nprobe=3,
                                   refine=100, vectors=emb)


IVFPQ_AUTO_SQL = _ivfpq_sql()


def ann_rerank_bounded(spark, sf_dir):
    """Bounded candidate-log rerank (VERDICT r9 #5): a long-lived
    ingest accumulates out/_batch_id=N directories without bound, so
    the periodic exact re-rank must process a WINDOW and retire it —
    batch_ids= bounds this run to batch 0 and retire=True moves the
    processed directory under out/.reranked/ after the report lands
    (per-run input stays O(window), never O(lifetime)). Two batches
    are ingested so an unbounded implementation would leak batch 1's
    queries into the report; batch 0 probed the build-half index only,
    so the oracle is the PQ chain with pool AND scanned corpus
    restricted to the even half and queries = batch 0's lowest ids —
    the rerank of a logged top-100 shortlist is definitionally the
    refine stage over that shortlist."""
    _rerankb_build(spark, sf_dir)
    return _rerankb_probe(spark, sf_dir)


def _rerankb_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("rerankb", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    _sh.rmtree(d + "_out", ignore_errors=True)
    _sh.rmtree(d + "_rep", ignore_errors=True)
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                              dim=64, m=4, ksub=16)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                 index_path=d, out_path=d + "_out", k=100)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                 index_path=d, out_path=d + "_out", k=100)


def _rerankb_probe(spark, sf_dir):
    # retire is retry-idempotent: a re-run reads retired-as-done and
    # regenerates the identical report, so the probe is repeatable
    from ..streaming.ann import rerank_candidate_log

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("rerankb", sf_dir)
    rep = rerank_candidate_log(spark, d + "_out", emb, k=10,
                               batch_ids=[0], report_path=d + "_rep",
                               retire=True)
    return rep.filter(F.col("query_id") < 20)


RERANK_BOUNDED_SQL = _pq_sql(train_where="vec_id % 2 = 0",
                             enc_where="vec_id % 2 = 0",
                             query_where="vec_id % 4 = 1 AND vec_id < 20")


def ivfpq_rerank_bounded(spark, sf_dir):
    """Bounded rerank over the IVFADC ingest stream's candidate log
    (VERDICT r10 missing #5 — the composition the flat-PQ rerank gates
    left unexercised: an ivfpq ingest_batch writes the same log schema,
    but its shortlist is CELL-PRUNED, so a rerank bug that only bites
    the nprobe-restricted candidate set would pass the flat gates):
    build the cell-partitioned index on the even half (centroids AND
    codebooks freeze there), ingest the odd half as two stream batches
    logging k=100 raw-ADC shortlists per query at nprobe=3, then run
    the bounded periodic job — batch_ids=[0] windows the run to batch
    0 and retire=True moves the processed directory under
    out/.reranked/. Batch 0 probed the build-half index only, so the
    oracle is the composed IVF+PQ chain with pool AND scanned codes
    restricted to the even half, queries = batch 0's lowest ids — the
    exact rerank of a query's logged nprobe-pruned top-100 is
    definitionally the refine stage over that same shortlist."""
    _ivfrerankb_build(spark, sf_dir)
    return _ivfrerankb_probe(spark, sf_dir)


def _ivfrerankb_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfrerankb", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    _sh.rmtree(d + "_out", ignore_errors=True)
    _sh.rmtree(d + "_rep", ignore_errors=True)
    similarity.ivfpq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                                 dim=64, m=4, ksub=16, n_cells=8)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 1), 0,
                 index_path=d, out_path=d + "_out", k=100, nprobe=3)
    ingest_batch(emb.filter(F.col("vec_id") % 4 == 3), 1,
                 index_path=d, out_path=d + "_out", k=100, nprobe=3)


def _ivfrerankb_probe(spark, sf_dir):
    from ..streaming.ann import rerank_candidate_log

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfrerankb", sf_dir)
    rep = rerank_candidate_log(spark, d + "_out", emb, k=10,
                               batch_ids=[0], report_path=d + "_rep",
                               retire=True)
    return rep.filter(F.col("query_id") < 20)


IVFPQ_RERANK_BOUNDED_SQL = _ivfpq_sql(
    train_where="vec_id % 2 = 0", enc_where="vec_id % 2 = 0",
    query_where="vec_id % 4 = 1 AND vec_id < 20")


def maxsim_topk_embeddings(spark, sf_dir):
    """Late-interaction (MaxSim) retrieval over token-vector bags
    (similarity.maxsim_topk — ColBERT's scoring rule, Khattab &
    Zaharia SIGIR 2020 §3.3): each 64-dim embedding is treated as a
    bag of 4 16-dim token vectors (contiguous slices — a deterministic
    derivation of multi-vector docs from the fixture table), queries
    are the 3 lowest ids' token bags, and score(q, d) sums over q's
    tokens the MAX dot product against d's tokens. The oracle replays
    tokenization (array slices), the round-9 dot products, the
    per-(q,d,token) MAX, the fixed-order pivot sum, and the round-6
    top-10 — every row must agree."""
    emb = _t(spark, sf_dir, "embeddings")
    arr = emb.select("vec_id",
                     similarity.as_double_array(F.col("embedding"))
                     .alias("v"))
    tok = arr.select("vec_id", F.explode(F.array(*[
        F.struct(F.lit(s).alias("token_pos"),
                 F.slice(F.col("v"), s * 16 + 1, 16).alias("vec"))
        for s in range(4)])).alias("t")) \
        .select("vec_id", F.col("t.token_pos").alias("token_pos"),
                F.col("t.vec").alias("vec"))
    docs = tok.select(F.col("vec_id").alias("doc_id"), "token_pos", "vec")
    qs = (tok.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("query_id"), "token_pos", "vec"))
    return similarity.maxsim_topk(docs, qs, k=10, n_query_tokens=4)


def _maxsim_sql(n_tok: int = 4, dsub: int = 16, k: int = 10,
                query_where: str = "vec_id < 3") -> str:
    tok_arms = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS token_pos, "
        f"v[{s * dsub + 1}:{(s + 1) * dsub}] AS tv FROM e"
        for s in range(n_tok))
    score_sum = " + ".join(
        f"MAX(CASE WHEN q_pos = {i} THEN m END)" for i in range(n_tok))
    return f"""
WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
                        FROM embeddings),
tok AS MATERIALIZED ({tok_arms}),
q AS MATERIALIZED (SELECT vec_id AS query_id, token_pos AS q_pos, tv
                   FROM tok WHERE {query_where}),
sims AS MATERIALIZED (SELECT q.query_id, d.vec_id AS doc_id, q.q_pos,
                      round(list_dot_product(d.tv, q.tv), 9) AS sim
                      FROM tok d CROSS JOIN q),
pertok AS MATERIALIZED (SELECT query_id, doc_id, q_pos, MAX(sim) AS m
                        FROM sims GROUP BY query_id, doc_id, q_pos),
scored AS (SELECT query_id, doc_id, round({score_sum}, 6) AS score
           FROM pertok GROUP BY query_id, doc_id)
SELECT query_id, doc_id, score,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM scored QUALIFY rank <= {k}
"""


MAXSIM_SQL = _maxsim_sql()


def maxsim_stream_topk_embeddings(spark, sf_dir):
    """Streaming MaxSim (streaming.ann.maxsim_ingest_batch +
    maxsim_topk_from_log — the late-interaction family's streaming
    twin, VERDICT r10 next-round #7): documents arrive as WHOLE
    multi-vector rows (one doc = its token-bag array, so per-query
    maxima never straddle a batch boundary), each micro-batch scores
    against the broadcast query token set and logs its per-query
    top-k under out/_batch_id=N, and the finalizer takes one window
    over the logged rows — exact for the global top-k because batches
    hold disjoint docs. Here the fixture corpus ingests as two
    batches (even/odd ids); the oracle is the BATCH MaxSim oracle
    verbatim, which is the whole point: stream-then-finalize must be
    row-identical to one-shot scoring."""
    _maxsimstream_build(spark, sf_dir)
    return _maxsimstream_probe(spark, sf_dir)


def _maxsimstream_build(spark, sf_dir):
    import shutil as _sh

    from ..streaming.ann import maxsim_ingest_batch

    emb = _t(spark, sf_dir, "embeddings")
    arr = emb.select("vec_id",
                     similarity.as_double_array(F.col("embedding"))
                     .alias("v"))
    bags = arr.select(
        F.col("vec_id").alias("doc_id"),
        F.array(*[F.slice(F.col("v"), s * 16 + 1, 16)
                  for s in range(4)]).alias("tokens"))
    qs = (arr.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("query_id"),
                  F.posexplode(F.array(*[
                      F.slice(F.col("v"), s * 16 + 1, 16)
                      for s in range(4)])).alias("token_pos", "vec")))
    out = _scratch("maxsimstream", sf_dir)
    _sh.rmtree(out, ignore_errors=True)
    maxsim_ingest_batch(bags.filter(F.col("doc_id") % 2 == 0), 0,
                        query_tokens=qs, out_path=out,
                        n_query_tokens=4, k=10)
    maxsim_ingest_batch(bags.filter(F.col("doc_id") % 2 == 1), 1,
                        query_tokens=qs, out_path=out,
                        n_query_tokens=4, k=10)


def _maxsimstream_probe(spark, sf_dir):
    from ..streaming.ann import maxsim_topk_from_log

    return maxsim_topk_from_log(spark, _scratch("maxsimstream", sf_dir),
                                k=10)


MAXSIM_STREAM_SQL = _maxsim_sql()


def ivfpq_rotated_topk_embeddings(spark, sf_dir):
    """IVFADC with rotated RESIDUAL coding
    (ivfpq_write_index(residual=True, rotate=True) — Jégou §IV-A
    residuals composed with the OPQ 'RR' pre-rotation): cell seeding
    and assignment stay in raw space, codebooks train on and codes
    quantize the ROTATED residual, per-probed-cell query tables rotate
    q − centroid[cell], and the exact-refine tail compares raw
    vectors. Measured justification (the ROADMAP r10 bar for this
    composition): on a blocky-residual fixture the rotation cuts
    residual pool quantization error 54.0M → 33.0M
    (tests/test_round10.py::test_rotation_balances_blocky_variance is
    the flat-PQ twin). The oracle threads the rotated CTEs through the
    composed IVF+PQ chain and must agree on every row."""
    _ivfrot_build(spark, sf_dir)
    return _ivfrot_probe(spark, sf_dir)


def _ivfrot_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("ivfrot", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.ivfpq_write_index(emb, d, dim=64, m=4, ksub=16, n_cells=8,
                                 residual=True, rotate=True)


def _ivfrot_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("ivfrot", sf_dir),
                                   _probe_queries(emb), k=10, nprobe=3,
                                   refine=100, vectors=emb)


IVFPQ_ROTATED_SQL = _ivfpq_sql(residual=True,
                               rotation=similarity.pq_rotation(64))


def pq_rotated_topk_embeddings(spark, sf_dir):
    """PQ with the deterministic pre-rotation (similarity.pq_rotation —
    OPQ's 'RR' random-rotation baseline, Ge et al. CVPR 2013 §4, as a
    signed permutation so the isometry is EXACT on both engines): the
    full persisted-index lifecycle — build the index on the even half
    with rotate=True (codebooks train in rotated space, the rotation
    pins in the _index.json sidecar), append the odd half (encoded
    rotated via the sidecar), probe with 5 queries whose ADC tables
    are built in rotated space while the exact-refine stage compares
    RAW vectors in raw element order. The oracle replays the identical
    chain over a rotated corpus CTE (output j = ±v[perm[j]+1]) and
    must agree on every row — a probe or append that forgot the
    rotation encodes different codes and hash-mismatches
    immediately."""
    _pqrot_build(spark, sf_dir)
    return _pqrot_probe(spark, sf_dir)


def _pqrot_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("pqrot", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.pq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                              dim=64, m=4, ksub=16, rotate=True)
    similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), d)


def _pqrot_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("pqrot", sf_dir),
                                   _probe_queries(emb), k=10, refine=100,
                                   vectors=emb)


PQ_ROTATED_SQL = _pq_sql(train_where="vec_id % 2 = 0",
                         rotation=similarity.pq_rotation(64))


def bq_topk_embeddings(spark, sf_dir):
    """Binary-quantization ANN: sign-bit signatures (64 dims → ONE
    packed long), Hamming shortlist of 50 via bit_count(xor), exact
    cosine re-rank to top-10. The 1-bit compression point of the
    quantization family (`similarity.binarize_embeddings:2124` — 256×
    smaller than float32); the shortlist scan reads only the packed
    signature column."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return similarity.hamming_topk(emb, q, k=10, dim=64, refine=50)


BQ_TOPK_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 5),
ham AS (
  SELECT query_id, vec_id, v, qv,
         CAST(list_sum(list_transform(range(1, 65),
              i -> CASE WHEN (v[i] > 0.0) <> (qv[i] > 0.0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming_dist
  FROM e CROSS JOIN q),
short AS (
  SELECT * FROM ham
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY hamming_dist, vec_id) <= 50),
ref AS (
  SELECT query_id, vec_id, hamming_dist,
         round(CASE WHEN sqrt(list_dot_product(v, v)) > 0
                     AND sqrt(list_dot_product(qv, qv)) > 0
                    THEN list_dot_product(v, qv)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(qv, qv)))
                    ELSE 0.0 END, 6) AS cosine_sim
  FROM short)
SELECT query_id, vec_id, hamming_dist, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM ref QUALIFY rank <= 10
"""


def sq8_topk_embeddings(spark, sf_dir):
    """Symmetric SQ8 scalar quantization: per-dim min/max grid trained
    on the corpus, uint8 codes, integer-exact squared-distance
    shortlist of 50, exact cosine re-rank to top-10
    (`similarity.sq8_topk:2260`)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    return similarity.sq8_topk(emb, q, k=10, dim=64, refine=50)


def _sq8_sql(train_where: str | None = None) -> str:
    """SQ8 oracle: per-dim grid + symmetric integer distance + refine.
    ``train_where`` restricts the GRID-TRAINING rows (the persisted
    index trains on the build half; codes still cover the corpus)."""
    where = f"WHERE {train_where}" if train_where else ""
    return f"""
WITH raw AS (
  SELECT vec_id, unnest(embedding::DOUBLE[]) AS e,
         generate_subscripts(embedding, 1) AS d
  FROM embeddings),
dims AS MATERIALIZED (
  SELECT d, min(e) AS mn, max(e) AS mx FROM raw {where} GROUP BY d),
enc AS MATERIALIZED (
  SELECT vec_id, raw.d,
         CASE WHEN mx > mn
              THEN greatest(0, least(255,
                   CAST(floor((e - mn) * 255.0 / (mx - mn) + 0.5) AS BIGINT)))
              ELSE 0 END AS c
  FROM raw JOIN dims ON raw.d = dims.d),
qenc AS (SELECT vec_id AS query_id, d, c FROM enc WHERE vec_id < 5),
dist AS (
  SELECT q.query_id, e.vec_id,
         CAST(SUM((q.c - e.c) * (q.c - e.c)) AS BIGINT) AS sq8_dist
  FROM enc e JOIN qenc q ON e.d = q.d GROUP BY 1, 2),
short AS (
  SELECT * FROM dist
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sq8_dist, vec_id) <= 50),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
       FROM embeddings WHERE vec_id < 5),
ref AS (
  SELECT s.query_id, s.vec_id, s.sq8_dist,
         round(CASE WHEN sqrt(list_dot_product(v, v)) > 0
                     AND sqrt(list_dot_product(qvec, qvec)) > 0
                    THEN list_dot_product(v, qvec)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(qvec, qvec)))
                    ELSE 0.0 END, 6) AS cosine_sim
  FROM short s JOIN vecs ON s.vec_id = vecs.vec_id
               JOIN qv ON s.query_id = qv.query_id)
SELECT query_id, vec_id, sq8_dist, cosine_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id)
            AS INTEGER) AS rank
FROM ref QUALIFY rank <= 10
"""


SQ8_TOPK_SQL = _sq8_sql()


def hll_distinct_events(spark, sf_dir):
    """HyperLogLog distinct-user sketch over events: the full dense
    256-register table (so the gate proves every register byte, not
    just the scalar), plus the exact-integer harmonic sum, the raw
    estimate in floor-micro-units, and the true distinct count for
    error visibility (`functions/sketches.hll_register_table`).
    The ln()-based small-range correction is pytest-gated
    (libm-specific), not oracle-gated."""
    from ..functions import sketches

    ev = _t(spark, sf_dir, "events")
    regs = sketches.hll_register_table(ev, "user_id")
    est = sketches.hll_estimate(regs)
    ex = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return regs.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(ex))


HLL_SQL = """
WITH vals AS (SELECT DISTINCT user_id FROM events),
hr AS (
  SELECT CAST(('0x' || substr(md5('hll:' || user_id), 15, 2))::BIGINT
              AS INTEGER) AS bucket,
         ('0x' || substr(md5('hll:' || user_id), 1, 14))::BIGINT AS w
  FROM vals),
regs AS (
  SELECT bucket,
         CAST(MAX(CASE WHEN w = 0 THEN 57
                       ELSE 57 - length(bin(w)) END) AS INTEGER) AS rho
  FROM hr GROUP BY bucket),
full_regs AS MATERIALIZED (
  SELECT CAST(b.range AS INTEGER) AS bucket,
         CAST(COALESCE(r.rho, 0) AS INTEGER) AS rho
  FROM range(256) b LEFT JOIN regs r ON r.bucket = b.range),
summ AS (
  SELECT CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         CAST(SUM(((1::BIGINT) << (57 - rho))::DECIMAL(38,0)) AS DOUBLE)
           AS z_scaled,
         CAST(floor(6.783892839851034e+21
                    / CAST(SUM(((1::BIGINT) << (57 - rho))::DECIMAL(38,0))
                           AS DOUBLE) * 1000000.0) AS BIGINT) AS est_micro
  FROM full_regs),
ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events)
SELECT bucket, rho, n_zero, z_scaled, est_micro, n_exact
FROM full_regs CROSS JOIN summ CROSS JOIN ex
"""


def _nation_trade_edges(spark, sf_dir):
    """(src, dst) at lineitem grain — supplier nation → customer
    nation, self-loops dropped. Shared by the graph-analytics gates
    (plain/weighted/personalized PageRank, triangles)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    nc = n.select(F.col("n_nationkey").alias("_ck"),
                  F.col("n_name").alias("dst"))
    ns = n.select(F.col("n_nationkey").alias("_sk"),
                  F.col("n_name").alias("src"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), c["c_nationkey"] == F.col("_ck"))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == F.col("_sk"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst"))


_PAGERANK_EDGE_SQL = """
  SELECT ns.n_name AS src, nc.n_name AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE ns.n_name <> nc.n_name"""


def pagerank_nations(spark, sf_dir):
    """Fixed-iteration integer-unit PageRank over the nation trade
    graph (supplier nation → customer nation edges from lineitem
    lineage): the random-walk importance ranking
    (`functions/graph.pagerank`). Integer micro-unit arithmetic makes
    every iteration bit-portable; the oracle unrolls all 5 iterations
    as CTEs."""
    from ..functions import graph

    edges = _nation_trade_edges(spark, sf_dir)
    return graph.pagerank(edges, iters=5, broadcast_ranks=True)


def _pagerank_sql(iters: int = 5, micro: int = 1_000_000,
                  d_num: int = 85, d_den: int = 100) -> str:
    parts = [f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT ns.n_name AS src, nc.n_name AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE ns.n_name <> nc.n_name
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
outd AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node, {micro} // (SELECT n FROM nn) AS r FROM nodes)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
r{t} AS MATERIALIZED (
  SELECT nd.node,
         (({micro} // (SELECT n FROM nn)) * {d_den - d_num}) // {d_den}
         + COALESCE(c.s, 0) AS r
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((p.r * {d_num}) // ({d_den} * o.od)) AS BIGINT) AS s
    FROM edges e JOIN r{t - 1} p ON p.node = e.src
                 JOIN outd o ON o.src = e.src
    GROUP BY e.dst) c ON c.node = nd.node)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{iters}""")
    return "".join(parts)


PAGERANK_SQL = _pagerank_sql()


def containment_docs(spark, sf_dir):
    """Directed shingle containment ≥ 0.6 (subset-duplicate detection:
    a doc mostly quoted inside another — near-zero Jaccard, high
    containment). Same inverted-index join bound as the Jaccard gate
    (`fuzzy.containment_pairs`)."""
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.containment_pairs(docs, k=_SHINGLE_K, threshold=0.6,
                                   min_shingles=10)


CONTAINMENT_SQL = f"""
WITH {_shingles_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS container_id, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle
                           AND a.doc_id <> b.doc_id
  GROUP BY 1, 2)
SELECT i.doc_id, i.container_id,
       CAST(s.n AS BIGINT) AS n_shingles,
       CAST(i.n_common AS BIGINT) AS n_common,
       round(CAST(i.n_common AS DOUBLE) / s.n, 6) AS containment
FROM inter i JOIN sizes s ON i.doc_id = s.doc_id
WHERE s.n >= 10 AND round(CAST(i.n_common AS DOUBLE) / s.n, 6) >= 0.6
"""


def bq_index_topk_embeddings(spark, sf_dir):
    """Persisted binary-quantization index lifecycle: build on the even
    half, append the odd half, probe with refine. Signatures are a
    PURE FUNCTION of (vector, threshold) — no training state — so the
    oracle is the one-shot BQ chain verbatim: lifecycle == one-shot is
    exactly the property the gate proves
    (`similarity.bq_write_index/append_index/search_index`)."""
    _bqidx_build(spark, sf_dir)
    return _bqidx_probe(spark, sf_dir)


def _bqidx_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("bqidx", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.bq_write_index(emb.filter(F.col("vec_id") % 2 == 0), d, dim=64)
    similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), d)


def _bqidx_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("bqidx", sf_dir),
                                   _probe_queries(emb), k=10, refine=50,
                                   vectors=emb)


BQ_INDEX_SQL = BQ_TOPK_SQL  # training-free: lifecycle == one-shot


def minhash_estimate_docs(spark, sf_dir):
    """MinHash Jaccard estimation over the LSH candidate pairs — the
    signature-agreement fraction production dedup thresholds on, with
    the exact Jaccard alongside for estimator-quality visibility
    (`fuzzy.minhash_jaccard_estimate`)."""
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.minhash_jaccard_estimate(docs, k=_SHINGLE_K)


def _minhash_estimate_sql() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(16))
    return f"""
WITH {_shingles_cte()},
{_minhash_ctes()},
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id),
agree AS (
  SELECT doc_a, doc_b, CAST({agree} AS BIGINT) AS n_agree
  FROM cand JOIN sigs sa ON doc_a = sa.doc_id
            JOIN sigs sb ON doc_b = sb.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle
                           AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT g.doc_a, g.doc_b, g.n_agree,
       round(g.n_agree / 16.0, 6) AS est_jaccard,
       COALESCE(round(CAST(i.n_common AS DOUBLE)
                      / (sa.n + sb.n - i.n_common), 6), 0.0) AS jaccard
FROM agree g
LEFT JOIN inter i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
JOIN sizes sa ON g.doc_a = sa.doc_id
JOIN sizes sb ON g.doc_b = sb.doc_id
"""


MINHASH_ESTIMATE_SQL = _minhash_estimate_sql()


def mad_outliers_events(spark, sf_dir):
    """Robust per-type outlier counts on event values: median absolute
    deviation with k = 3 (`functions/quantiles.mad_outliers`) — both
    medians are type-1 rank-math quantiles, so the whole test is
    value-hash portable (mean/σ z-scores are float-fold-order-
    dependent and could never gate)."""
    from ..functions.quantiles import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, ["event_type"], "value")


MAD_OUTLIERS_SQL = """
WITH m AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(floor((n * 1 + 1) / 2) AS BIGINT)
                  THEN value END) AS median_value
  FROM (SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL)
  GROUP BY event_type),
d AS (
  SELECT e.event_type, abs(e.value - m.median_value) AS dev,
         m.median_value
  FROM events e JOIN m USING (event_type)
  WHERE e.value IS NOT NULL),
md AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(floor((n * 1 + 1) / 2) AS BIGINT)
                  THEN dev END) AS mad
  FROM (SELECT event_type, dev,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dev) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM d)
  GROUP BY event_type)
SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
       max(d.median_value) AS median_value, max(md.mad) AS mad,
       CAST(SUM(CASE WHEN d.dev * 1 > md.mad * 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN md USING (event_type) GROUP BY d.event_type
"""


def pagerank_weighted_nations(spark, sf_dir):
    """Edge-weighted PageRank: trade-volume weights (lineitem rows per
    nation pair) split each nation's mass proportionally
    (`graph.pagerank_weighted` — integer contract, oracle-unrolled)."""
    from ..functions import graph

    edges = (_nation_trade_edges(spark, sf_dir)
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("weight")))
    return graph.pagerank_weighted(edges, iters=5, broadcast_ranks=True)


def _pagerank_weighted_sql(iters: int = 5, micro: int = 1_000_000,
                           d_num: int = 85, d_den: int = 100) -> str:
    parts = [f"""
WITH edges AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w
  FROM ({_PAGERANK_EDGE_SQL}) GROUP BY src, dst
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
outw AS MATERIALIZED (
  SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
r0 AS MATERIALIZED (
  SELECT node, {micro} // (SELECT n FROM nn) AS r FROM nodes)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
r{t} AS MATERIALIZED (
  SELECT nd.node,
         (({micro} // (SELECT n FROM nn)) * {d_den - d_num}) // {d_den}
         + COALESCE(c.s, 0) AS r
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((p.r * {d_num} * e.w) // ({d_den} * o.ow)) AS BIGINT) AS s
    FROM edges e JOIN r{t - 1} p ON p.node = e.src
                 JOIN outw o ON o.src = e.src
    GROUP BY e.dst) c ON c.node = nd.node)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{iters}""")
    return "".join(parts)


PAGERANK_WEIGHTED_SQL = _pagerank_weighted_sql()


def pagerank_personalized_nations(spark, sf_dir):
    """Personalized PageRank from the EUROPE nations: random-walk
    proximity to a trusted seed set over the trade graph — the
    TrustRank/data-selection shape (`graph.pagerank_personalized`)."""
    from ..functions import graph

    edges = _nation_trade_edges(spark, sf_dir)
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    seeds = (n.join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
                    n["n_regionkey"] == r["r_regionkey"])
             .select(F.col("n_name").alias("node")))
    return graph.pagerank_personalized(edges, seeds, iters=5,
                                       broadcast_ranks=True)


def _pagerank_personalized_sql(iters: int = 5, micro: int = 1_000_000,
                               d_num: int = 85, d_den: int = 100) -> str:
    parts = [f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM ({_PAGERANK_EDGE_SQL})
),
seeds AS MATERIALIZED (
  SELECT n_name AS node FROM nation
  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM seeds),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
  UNION SELECT node FROM seeds),
outd AS MATERIALIZED (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS od FROM edges GROUP BY src),
r0 AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL
              THEN {micro} // (SELECT n FROM ns) ELSE 0 END AS r
  FROM nodes nd LEFT JOIN seeds s ON s.node = nd.node)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
r{t} AS MATERIALIZED (
  SELECT nd.node,
         CASE WHEN s.node IS NOT NULL
              THEN (({micro} // (SELECT n FROM ns)) * {d_den - d_num})
                   // {d_den} ELSE 0 END
         + COALESCE(c.s, 0) AS r
  FROM nodes nd LEFT JOIN seeds s ON s.node = nd.node
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(SUM((p.r * {d_num}) // ({d_den} * o.od)) AS BIGINT) AS s
    FROM edges e JOIN r{t - 1} p ON p.node = e.src
                 JOIN outd o ON o.src = e.src
    GROUP BY e.dst) c ON c.node = nd.node)""")
    parts.append(f"""
SELECT node, CAST(r AS BIGINT) AS rank_micro FROM r{iters}""")
    return "".join(parts)


PAGERANK_PERSONALIZED_SQL = _pagerank_personalized_sql()


def triangle_count_nations(spark, sf_dir):
    """Per-nation triangle counts over the undirected trade graph —
    local clustering density (`graph.triangle_count`: edge-iterator,
    u<v<w wedge closure, exactly-once per triangle)."""
    from ..functions import graph

    edges = _nation_trade_edges(spark, sf_dir)
    return graph.triangle_count(edges)


TRIANGLE_SQL = f"""
WITH und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({_PAGERANK_EDGE_SQL})
),
tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM und e1 JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (SELECT u AS node FROM und UNION SELECT v FROM und),
per AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS node FROM tri) GROUP BY node)
SELECT n.node, COALESCE(p.n_triangles, 0) AS n_triangles
FROM nodes n LEFT JOIN per p ON p.node = n.node
"""


def neardup_keep_best_docs(spark, sf_dir):
    """Quality-aware dedup resolution: near-dup clusters (exact-Jaccard
    0.4 pair graph) each keep their LONGEST member (n_chars as the
    quality score) — the keep-best-capture step real pipelines ship
    instead of keep-lowest-id (`fuzzy.neardup_keep_best`)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = fuzzy.jaccard_pairs(docs, k=_SHINGLE_K, threshold=0.4)
    return fuzzy.neardup_keep_best(docs, pairs, "n_chars")


NEARDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_shingles_cte()},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shing GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shing a JOIN shing b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
             JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) >= 0.4
),
cedges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN cedges e ON e.a = reach.id
),
clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT c.id AS doc_id, c.cluster_id, d.n_chars AS score,
       row_number() OVER (PARTITION BY c.cluster_id
                          ORDER BY d.n_chars DESC, c.id) = 1 AS keep
FROM clusters c JOIN documents d ON d.doc_id = c.id
"""


def sq8_index_topk_embeddings(spark, sf_dir):
    """Persisted SQ8 index lifecycle: grid trains on the even half
    (frozen in the sidecar), codes for build + appended odd half,
    integer-distance probe with exact refine
    (`similarity.sq8_write_index/append_index/search_index`).
    The oracle re-points ONLY the grid-training CTE at the build half —
    proving appends encode under the frozen grid, not a retrained
    one."""
    _sq8idx_build(spark, sf_dir)
    return _sq8idx_probe(spark, sf_dir)


def _sq8idx_build(spark, sf_dir):
    import shutil as _sh

    emb = _t(spark, sf_dir, "embeddings")
    d = _scratch("sq8idx", sf_dir)
    _sh.rmtree(d, ignore_errors=True)
    similarity.sq8_write_index(emb.filter(F.col("vec_id") % 2 == 0), d,
                               dim=64)
    similarity.append_index(emb.filter(F.col("vec_id") % 2 == 1), d)


def _sq8idx_probe(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.search_index(spark, _scratch("sq8idx", sf_dir),
                                   _probe_queries(emb), k=10, refine=50,
                                   vectors=emb)


SQ8_INDEX_SQL = _sq8_sql(train_where="vec_id % 2 = 0")


def hll_hourly_users(spark, sf_dir):
    """Windowed HyperLogLog: distinct-user estimate PER HOUR — the
    shape a 100 TB metrics pipeline actually runs (unique visitors per
    window; 2 KiB of mergeable register state per hour regardless of
    traffic). Output: one row per hour with the zero-register count,
    the floor-micro raw estimate and the true count."""
    from ..functions import sketches

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.date_format(F.date_trunc("hour", F.col("ts")),
                              "yyyy-MM-dd HH:00"))
    regs = sketches.hll_register_table(ev, "user_id", group_cols=["hour"])
    est = sketches.hll_estimate(regs, group_cols=["hour"])
    ex = ev.groupBy("hour").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact"))
    return est.join(ex, on="hour").select(
        "hour", "n_zero", "est_micro", "n_exact")


HLL_HOURLY_SQL = """
WITH ev AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         user_id
  FROM events),
vals AS (SELECT DISTINCT hour, user_id FROM ev),
hr AS (
  SELECT hour,
         CAST(('0x' || substr(md5('hll:' || user_id), 15, 2))::BIGINT
              AS INTEGER) AS bucket,
         ('0x' || substr(md5('hll:' || user_id), 1, 14))::BIGINT AS w
  FROM vals),
regs AS (
  SELECT hour, bucket,
         CAST(MAX(CASE WHEN w = 0 THEN 57
                       ELSE 57 - length(bin(w)) END) AS INTEGER) AS rho
  FROM hr GROUP BY hour, bucket),
hours AS (SELECT DISTINCT hour FROM ev),
full_regs AS MATERIALIZED (
  SELECT h.hour, CAST(b.range AS INTEGER) AS bucket,
         CAST(COALESCE(r.rho, 0) AS INTEGER) AS rho
  FROM hours h CROSS JOIN range(256) b
  LEFT JOIN regs r ON r.bucket = b.range AND r.hour = h.hour),
summ AS (
  SELECT hour,
         CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero,
         CAST(floor(6.783892839851034e+21
                    / CAST(SUM(((1::BIGINT) << (57 - rho))::DECIMAL(38,0))
                           AS DOUBLE) * 1000000.0) AS BIGINT) AS est_micro
  FROM full_regs GROUP BY hour),
ex AS (
  SELECT hour, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM ev GROUP BY hour)
SELECT s.hour, s.n_zero, s.est_micro, e.n_exact
FROM summ s JOIN ex e ON e.hour = s.hour
"""


def label_propagation_nations(spark, sf_dir):
    """Deterministic synchronous label propagation over the undirected
    nation trade graph — community detection where CC can't split a
    connected graph (`graph.label_propagation`: most-frequent neighbor
    label, ties to the smallest, fixed 5 rounds, bit-portable)."""
    from ..functions import graph

    edges = _nation_trade_edges(spark, sf_dir)
    return graph.label_propagation(edges, iters=5, broadcast_labels=True)


def _label_propagation_sql(iters: int = 5) -> str:
    parts = [f"""
WITH und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM ({_PAGERANK_EDGE_SQL})
),
nbrs AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v AS node, u AS nbr FROM und),
nodes AS MATERIALIZED (SELECT DISTINCT node FROM nbrs),
l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
l{t} AS MATERIALIZED (
  SELECT n.node, COALESCE(w.label, p.label) AS label
  FROM nodes n
  JOIN l{t - 1} p ON p.node = n.node
  LEFT JOIN (
    SELECT node, label FROM (
      SELECT b.node, p2.label, COUNT(*) AS c,
             row_number() OVER (PARTITION BY b.node
                                ORDER BY COUNT(*) DESC, p2.label) AS rn
      FROM nbrs b JOIN l{t - 1} p2 ON p2.node = b.nbr
      GROUP BY b.node, p2.label)
    WHERE rn = 1) w ON w.node = n.node)""")
    parts.append(f"""
SELECT node, label FROM l{iters}""")
    return "".join(parts)


LABEL_PROP_SQL = _label_propagation_sql()


def winsorize_events(spark, sf_dir):
    """Per-type winsorization summary: event values clamped to the
    [p1, p99] type-1 quantile band (`functions/quantiles.winsorize` —
    the robust pre-normalization step before training statistics).
    Output: per-group clamp bounds, clamped-row count, and the exact
    decimal sum of the winsorized values."""
    from ..functions.quantiles import winsorize

    ev = _t(spark, sf_dir, "events")
    w = winsorize(ev, ["event_type"], "value")
    return (w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_clamped").cast("int")).cast("long")
        .alias("n_clamped"),
        F.sum(F.col("value_w").cast("decimal(18,4)")).cast("double")
        .alias("sum_w")))


WINSORIZE_SQL = """
WITH r AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type,
         max(CASE WHEN rn = CAST(floor((n * 1 + 100 - 1) / 100) AS BIGINT)
                  THEN value END) AS qlo,
         max(CASE WHEN rn = CAST(floor((n * 99 + 100 - 1) / 100) AS BIGINT)
                  THEN value END) AS qhi
  FROM r GROUP BY event_type),
w AS (
  -- outer side stays UNFILTERED (NULL pass-through rule): a NULL value
  -- stays NULL (never fabricated into the band edge) and still counts
  -- in n; LEFT JOIN keeps all-NULL groups (no bounds row) alive
  SELECT e.event_type, e.value,
         CASE WHEN e.value IS NULL THEN NULL
              ELSE least(greatest(e.value, b.qlo), b.qhi) END AS value_w
  FROM events e LEFT JOIN b USING (event_type))
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN value <> value_w THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clamped,
       CAST(SUM(CAST(value_w AS DECIMAL(18,4))) AS DOUBLE) AS sum_w
FROM w GROUP BY event_type
"""


def hll_set_algebra_events(spark, sf_dir):
    """HLL set algebra: sketches of two overlapping user sets (A =
    user_id % 3 ≠ 0, B = user_id % 2 = 0) merged by register MAX
    (`sketches.hll_union` — the lossless union that makes sketches
    mergeable across machines/days), with the inclusion–exclusion
    intersection ESTIMATE next to the exact intersection count."""
    from ..functions import sketches

    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") % 3 != 0)
    b = ev.filter(F.col("user_id") % 2 == 0)
    ra = sketches.hll_register_table(a, "user_id")
    rb = sketches.hll_register_table(b, "user_id")
    ru = sketches.hll_union(ra, rb)
    ea = sketches.hll_estimate(ra).select(
        F.col("est_micro").alias("est_a_micro"))
    eb = sketches.hll_estimate(rb).select(
        F.col("est_micro").alias("est_b_micro"))
    eu = sketches.hll_estimate(ru).select(
        F.col("est_micro").alias("est_union_micro"))
    ex = (a.select("user_id").intersect(b.select("user_id"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_exact_inter")))
    return (ea.crossJoin(eb).crossJoin(eu).crossJoin(ex)
            .select("est_a_micro", "est_b_micro", "est_union_micro",
                    F.greatest(
                        F.lit(0).cast("long"),
                        (F.col("est_a_micro") + F.col("est_b_micro")
                         - F.col("est_union_micro")).cast("long"))
                    .alias("est_inter_micro"),
                    "n_exact_inter"))


def _hll_set_algebra_sql() -> str:
    def regs(name, where):
        return f"""
vals_{name} AS (SELECT DISTINCT user_id FROM events WHERE {where}),
hr_{name} AS (
  SELECT CAST(('0x' || substr(md5('hll:' || user_id), 15, 2))::BIGINT
              AS INTEGER) AS bucket,
         ('0x' || substr(md5('hll:' || user_id), 1, 14))::BIGINT AS w
  FROM vals_{name}),
regs_{name} AS MATERIALIZED (
  SELECT CAST(b.range AS INTEGER) AS bucket,
         CAST(COALESCE(r.rho, 0) AS INTEGER) AS rho
  FROM range(256) b LEFT JOIN (
    SELECT bucket,
           CAST(MAX(CASE WHEN w = 0 THEN 57
                         ELSE 57 - length(bin(w)) END) AS INTEGER) AS rho
    FROM hr_{name} GROUP BY bucket) r ON r.bucket = b.range)"""

    def est(src, alias):
        return f"""
  (SELECT CAST(floor(6.783892839851034e+21
          / CAST(SUM(((1::BIGINT) << (57 - rho))::DECIMAL(38,0)) AS DOUBLE)
          * 1000000.0) AS BIGINT) FROM {src}) AS {alias}"""

    return f"""
WITH {regs('a', 'user_id % 3 <> 0').lstrip()},
{regs('b', 'user_id % 2 = 0').lstrip()},
regs_u AS MATERIALIZED (
  SELECT a.bucket, greatest(a.rho, b.rho) AS rho
  FROM regs_a a JOIN regs_b b ON a.bucket = b.bucket),
ests AS (
  SELECT {est('regs_a', 'est_a_micro')},
         {est('regs_b', 'est_b_micro')},
         {est('regs_u', 'est_union_micro')}),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_inter FROM (
    SELECT user_id FROM vals_a INTERSECT SELECT user_id FROM vals_b))
SELECT est_a_micro, est_b_micro, est_union_micro,
       greatest(0, est_a_micro + est_b_micro - est_union_micro)
         AS est_inter_micro,
       n_exact_inter
FROM ests CROSS JOIN ex
"""


HLL_SET_ALGEBRA_SQL = _hll_set_algebra_sql()


# --------------------------------------------------------------------------

# ---------------------------------------------------------------- round 12


def scd2_history_events(spark, sf_dir):
    """Slowly-changing-dimension (type 2) change history over the
    per-user event-type log (`operators/compaction.scd2_history`): one
    row per value RUN with [valid_from, valid_to) and a per-key
    version — the full-history complement of topic compaction (the
    reference's compactor keeps only the latest value per key;
    dimension tables must keep every run). Pure window math, one
    shuffle."""
    from ..operators.compaction import scd2_history

    ev = _t(spark, sf_dir, "events")
    out = scd2_history(ev, key_col="user_id", value_col="event_type",
                       order_col="ts", tiebreak_col="event_id")
    return out.select("user_id", "event_type",
                      _fmt_ts(F.col("valid_from")).alias("valid_from"),
                      _fmt_ts(F.col("valid_to")).alias("valid_to"),
                      "version")


SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (
  SELECT user_id, event_type, ts, event_id FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
       CAST(row_number() OVER w2 AS INTEGER) AS version
FROM starts
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def scd2_stream_events(spark, sf_dir):
    """Event-time streaming SCD2 (streaming/scd2.scd2_stream_event_time
    — the watermark-closed variant tolerating cross-batch disorder,
    the `EventTimeOrderCompactor.java:40-76` semantic; VERDICT r12
    #1). Lifecycle under test: the per-user event-type log is split
    into two half-span bands, each band's rows written DISORDERED
    (md5 shuffle) as its own file, replayed availableNow one file per
    micro-batch — so every batch carries a whole band of out-of-order
    rows and runs straddle the batch boundary (optimization r14: the
    per-micro-batch machinery measured ~1.5-2 s regardless of work, so
    the 4-band replay paid ~2× the fixed cost of the 2-band one for
    the same cross-batch-carry semantics and byte-identical output).
    A sentinel row 1h past the log's max ts rides INSIDE the last
    band (rows carry the PREVIOUS batch's watermark, so the last
    band's real rows are still buffered when it lands; the trailing
    no-data batch then fires the event-time timers and flushes every
    closed run — one fewer micro-batch than a separate sentinel
    file). Keys pack into keyed_fold's STATE_BUCKETS composite state
    rows (the per-group Arrow machinery was ~0.9 s of
    every ~1.8 s batch at 1,500 per-key groups; a trivial-fn floor
    probe matched the full operator's wall time). The oracle is the
    batch SCD2 derivation restricted to CLOSED runs (valid_to NOT
    NULL — open runs stay in state by contract), with n_dropped_late
    asserting no row was falsely dropped as late."""
    from ..streaming.scd2 import scd2_stream_event_time

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_type").alias("value"),
        F.col("ts").cast("timestamp").alias("ts"))
    sink = _replay_gate(
        spark, sf_dir, "scd2stream", ev, key="key", order=F.unix_micros("ts"),
        shuffle=["key", F.col("ts").cast("string")],
        build=lambda s, lo, nk: scd2_stream_event_time(
            s, delay="10 seconds"),
        sentinel=lambda hi: spark.range(1).select(
            F.lit("\x00flush").alias("key"), F.lit("x").alias("value"),
            F.timestamp_micros(F.lit(hi + 3_600_000_000)).alias("ts")))
    return (sink.filter(F.col("key") != "\x00flush")
            .select(F.col("key").cast("long").alias("user_id"),
                    F.col("value").alias("event_type"),
                    "valid_from", "valid_to", "version",
                    "n_dropped_late"))


SCD2_STREAM_SQL = """
WITH ordered AS (
  SELECT user_id, event_type, ts,
         lag(event_type) OVER w AS prev,
         row_number() OVER w AS rn
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
starts AS (
  SELECT user_id, event_type, ts FROM ordered
  WHERE rn = 1 OR event_type IS DISTINCT FROM prev
),
runs AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS valid_from,
         epoch_us(lead(ts) OVER w2) AS valid_to,
         CAST(row_number() OVER w2 AS INTEGER) AS version
  FROM starts
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts)
)
SELECT user_id, event_type, valid_from, valid_to, version,
       CAST(0 AS BIGINT) AS n_dropped_late
FROM runs WHERE valid_to IS NOT NULL
"""


def _top_partner_edges(spark, sf_dir, top: int = 2):
    """Sparsified trade graph: each nation keeps its ``top`` partners
    by lineitem count (count DESC, partner name tiebreak). The raw
    nation graph is near-complete at every SF — useless for peeling
    algorithms; top-k-per-node is the standard degree-bounded
    sparsifier and is SF-robust (relative, not an absolute count
    threshold)."""
    e = _nation_trade_edges(spark, sf_dir)
    cnt = e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy("src").orderBy(F.col("_c").desc(), F.col("dst"))
    return (cnt.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= top).select("src", "dst"))


_TOP_PARTNER_SQL = """
tpc AS (SELECT src, dst, COUNT(*) AS c FROM ({edges}) GROUP BY src, dst),
tp AS (SELECT src, dst FROM tpc
       QUALIFY row_number() OVER (PARTITION BY src
                                  ORDER BY c DESC, dst) <= {top})"""


def kcore_nations(spark, sf_dir):
    """k-core membership (`graph.kcore`, k=3) over the top-2-partner
    trade graph: iterative peeling drops nations whose surviving
    degree < 3 until the dense core stabilizes — the dense-region
    extractor degree thresholds and connected components both miss
    (every node here has degree >= 2 by construction; the core is
    decided by the PEELING cascade, not raw degree). 6 unrolled
    rounds, fixpoint well before that on this graph."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.kcore(edges, k=3, iters=6, broadcast_alive=True)


def _kcore_sql(k: int = 3, iters: int = 6, top: int = 2) -> str:
    parts = [f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=top)},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tp WHERE src <> dst),
bd AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und
  UNION ALL SELECT v, u FROM und),
nodes AS (SELECT DISTINCT node FROM bd),
r0 AS (SELECT node FROM nodes)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
r{t} AS (
  SELECT b.node FROM bd b
  JOIN r{t - 1} a ON a.node = b.node
  JOIN r{t - 1} a2 ON a2.node = b.nbr
  GROUP BY b.node HAVING COUNT(*) >= {k})""")
    parts.append(f"""
SELECT n.node,
       CAST(CASE WHEN r.node IS NULL THEN 0 ELSE 1 END AS INTEGER)
       AS in_kcore
FROM nodes n LEFT JOIN r{iters} r ON r.node = n.node""")
    return "".join(parts)


KCORE_SQL = _kcore_sql()


def hits_nations(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities (`graph.hits`) over the
    directed nation trade graph — supplier nations that ship broadly
    are hubs, customer nations that absorb broadly are authorities;
    the two-sided importance signal PageRank's single score collapses.
    Integer micro-units with L-infinity (MAX) renormalization per
    half-step — exact integer DIV arithmetic, so the oracle unrolls
    all 5 iterations and matches bit-for-bit."""
    from ..functions import graph

    edges = _nation_trade_edges(spark, sf_dir)
    return graph.hits(edges, iters=5, broadcast_scores=True)


def _hits_sql(iters: int = 5, micro: int = 1_000_000) -> str:
    parts = [f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM ({_PAGERANK_EDGE_SQL})
),
nodes AS MATERIALIZED (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges),
h0 AS (SELECT node, CAST({micro} AS BIGINT) AS h FROM nodes)"""]
    # every iteration CTE is MATERIALIZED: each is referenced twice
    # (once by the scalar MAX, once by the division) — inlined, the
    # tree doubles per half-step and the planner never returns (the
    # same 2^t blowup the Spark side fixes with eager localCheckpoints)
    for t in range(1, iters + 1):
        parts.append(f""",
ar{t} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(s.a, 0) AS BIGINT) AS a
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.h) AS a
    FROM edges e JOIN h{t - 1} p ON p.node = e.src
    GROUP BY e.dst) s ON s.node = n.node),
a{t} AS MATERIALIZED (
  SELECT node, CAST((a * {micro}) // (SELECT MAX(a) FROM ar{t})
                    AS BIGINT) AS a
  FROM ar{t}),
hr{t} AS MATERIALIZED (
  SELECT n.node, CAST(COALESCE(s.h, 0) AS BIGINT) AS h
  FROM nodes n LEFT JOIN (
    SELECT e.src AS node, SUM(p.a) AS h
    FROM edges e JOIN a{t} p ON p.node = e.dst
    GROUP BY e.src) s ON s.node = n.node),
h{t} AS MATERIALIZED (
  SELECT node, CAST((h * {micro}) // (SELECT MAX(h) FROM hr{t})
                    AS BIGINT) AS h
  FROM hr{t})""")
    parts.append(f"""
SELECT h.node, h.h AS hub_micro, a.a AS auth_micro
FROM h{iters} h JOIN a{iters} a ON a.node = h.node""")
    return "".join(parts)


HITS_SQL = _hits_sql()


def spearman_events(spark, sf_dir):
    """Per-type Spearman rank correlation between event value and
    event time (`functions/quantiles.spearman`) — the monotone-drift
    detector (are values trending over time?) in exact integer rank
    math: rho = 1 - 6*sum(d^2)/(n(n^2-1)) over deterministic
    row_number ranks, a ratio of exact BIGINTs where Pearson's moment
    folds could never gate."""
    from ..functions.quantiles import spearman

    ev = _t(spark, sf_dir, "events")
    return spearman(ev, ["event_type"], "value", "ts",
                    tiebreak_col="event_id")


SPEARMAN_SQL = """
WITH r AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value, event_id) AS rx,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS ry
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
  FROM r GROUP BY event_type)
SELECT event_type, n, sum_d2,
       CASE WHEN n * (n * n - 1) > 0
            THEN round(1.0 - (6.0 * sum_d2) / (n * (n * n - 1)), 6)
            END AS rho
FROM agg
"""


def ntile_histogram_events(spark, sf_dir):
    """Per-type equi-depth value histogram
    (`functions/quantiles.ntile_histogram`, 10 buckets): NTILE rank
    math splits each type's values into near-equal runs whose [lo, hi]
    bounds are untouched data values — the adaptive histogram shape
    drift monitors and optimizers want, exact on both engines (the
    ANSI first-n-mod-b-buckets-larger rule)."""
    from ..functions.quantiles import ntile_histogram

    ev = _t(spark, sf_dir, "events")
    return ntile_histogram(ev, ["event_type"], "value", buckets=10,
                           tiebreak_col="event_id")


NTILE_HIST_SQL = """
WITH b AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS bucket
  FROM events WHERE value IS NOT NULL)
SELECT event_type, CAST(bucket AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(value) AS lo, MAX(value) AS hi
FROM b GROUP BY event_type, bucket
"""


# ------------------------------------------------------------ round 12b


def ols_trend_events(spark, sf_dir):
    """Per-type OLS trend of value over time
    (`functions/quantiles.ols_trend`): exact integer sufficient
    statistics (micro-second x offsets from the group's first event,
    micro-unit y) folded as DECIMAL(38,0), one float division at the
    end — the drift slope a 100 TB monitoring pipeline alerts on,
    value-hash-exact where naive float moment folds never could."""
    from ..functions.quantiles import ols_trend

    ev = _t(spark, sf_dir, "events")
    return ols_trend(ev, ["event_type"], "ts", "value")


OLS_TREND_SQL = """
WITH base AS (
  SELECT event_type, epoch_ms(ts) AS e, value AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
x0 AS (SELECT event_type, MIN(e) AS e0 FROM base GROUP BY event_type),
pts AS (
  SELECT b.event_type, (e - e0) AS x,
         CAST(round(y * 1000000, 0) AS BIGINT) AS ym
  FROM base b JOIN x0 USING (event_type)),
agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(ym AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * ym) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts GROUP BY event_type)
SELECT event_type, n,
       CASE WHEN (n * sxx - sx * sx) <> 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                       * 1000.0, 6) END AS slope_micro_per_s,
       CASE WHEN (n * sxx - sx * sx) <> 0
            THEN round(CAST(sy * sxx - sx * sxy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE), 6)
            END AS intercept_micro
FROM agg
"""


def psi_drift_events(spark, sf_dir):
    """Per-type Population Stability Index between the early and late
    halves of the time range (`functions/quantiles.psi_drift`):
    integer-midpoint time split, reference-decile bin edges by exact
    rank math, per-bin (p-q)*ln(p/q) snapped to integer micro-units —
    the distribution-drift score monitoring pipelines threshold on,
    deterministic end to end."""
    from ..functions.quantiles import psi_drift

    ev = _t(spark, sf_dir, "events")
    return psi_drift(ev, ["event_type"], "value", "ts")


def _psi_sql(buckets: int = 10) -> str:
    edge_cases = ",\n         ".join(
        f"max(CASE WHEN rn = CAST(floor((n * {i} + {buckets - 1}) "
        f"/ {buckets}) AS BIGINT) THEN v END) AS q{i}"
        for i in range(1, buckets))
    bin_expr = " + ".join(
        f"(CASE WHEN t.v > e.q{i} THEN 1 ELSE 0 END)"
        for i in range(1, buckets))
    return f"""
WITH base AS (
  SELECT event_type, epoch_us(ts) AS e, value AS v
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
span AS (
  SELECT event_type, (MIN(e) + MAX(e)) // 2 AS cut
  FROM base GROUP BY event_type),
tagged AS (
  SELECT b.event_type, b.v, (b.e <= s.cut) AS is_ref
  FROM base b JOIN span s USING (event_type)),
r AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM tagged WHERE is_ref),
edges AS (
  SELECT event_type,
         {edge_cases}
  FROM r GROUP BY event_type),
binned AS (
  SELECT t.event_type, t.is_ref, {bin_expr} + 1 AS bin
  FROM tagged t JOIN edges e USING (event_type)),
counts AS (
  SELECT event_type, bin,
         SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cr,
         SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
  FROM binned GROUP BY event_type, bin),
totals AS (
  SELECT event_type, CAST(SUM(cr) AS BIGINT) AS n_ref,
         CAST(SUM(cc) AS BIGINT) AS n_cur
  FROM counts GROUP BY event_type),
contrib AS (
  SELECT c.event_type, t.n_ref, t.n_cur,
         CAST(round((greatest(c.cr / t.n_ref, 0.000001)
                     - greatest(c.cc / t.n_cur, 0.000001))
                    * ln(greatest(c.cr / t.n_ref, 0.000001)
                         / greatest(c.cc / t.n_cur, 0.000001))
                    * 1000000, 0) AS BIGINT) AS c
  FROM counts c JOIN totals t USING (event_type))
SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
       round(SUM(c) / 1000000.0, 6) AS psi
FROM contrib GROUP BY event_type
"""


PSI_SQL = _psi_sql()


def connected_components_nations(spark, sf_dir):
    """Connected components over the top-2-partner trade graph
    (`fuzzy.connected_components` — min-label propagation, the
    GraphX-CC recipe without the dependency): every nation labeled
    with the smallest reachable nation name. The sparsified graph can
    split into several components where the raw near-complete graph is
    trivially one — the reachability complement of the peeling /
    community gates."""
    from ..functions import fuzzy

    edges = _top_partner_edges(spark, sf_dir)
    und = edges.select(F.col("src").alias("doc_a"),
                       F.col("dst").alias("doc_b")) \
        .filter(F.col("doc_a") != F.col("doc_b"))
    nodes = (edges.select(F.col("src").alias("doc_id"))
             .union(edges.select(F.col("dst").alias("doc_id"))).distinct())
    out = fuzzy.connected_components(und, all_ids=nodes,
                                     broadcast_labels=True)
    return out.select(F.col("id").alias("node"), "cluster")


CC_NATIONS_SQL = f"""
WITH RECURSIVE {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=2)},
ed AS (
  SELECT src AS a, dst AS b FROM tp WHERE src <> dst
  UNION SELECT dst, src FROM tp WHERE src <> dst),
nodes AS (SELECT DISTINCT a AS node FROM ed),
reach(id, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN ed e ON e.a = reach.id
)
SELECT id AS node, min(r) AS cluster FROM reach GROUP BY id
"""


def _bucketed_build(spark, sf_dir):
    """Write orders + lineitem bucketed by the join key (8 buckets,
    sorted in-bucket) — the pay-the-shuffle-once step. Table names and
    paths are per-process (the _scratch discipline: concurrent
    harnesses must never clobber each other's catalog entries)."""
    from ..operators.bucketing import write_bucketed

    pid = os.getpid()
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey")
    write_bucketed(o, f"b_orders_{pid}", bucket_col="o_orderkey",
                   n_buckets=8, path=_scratch("bktord", sf_dir))
    write_bucketed(li, f"b_lineitem_{pid}", bucket_col="o_orderkey",
                   n_buckets=8, path=_scratch("bktli", sf_dir))


def _bucketed_probe(spark, sf_dir):
    from ..operators.bucketing import bucketed_join

    pid = os.getpid()
    j = bucketed_join(spark, f"b_orders_{pid}", f"b_lineitem_{pid}",
                      "o_orderkey")
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("n_lineitems"),
                 _dec_sum("l_extendedprice", "revenue")))


def bucketed_join_orders(spark, sf_dir):
    """Bucketed co-located join lifecycle
    (`operators/bucketing.write_bucketed/bucketed_join`): write orders
    and lineitem hash-bucketed by the join key, then join WITHOUT
    shuffling either side — the repeated-big-big-join posture at
    100 TB (pay the shuffle once at write, never again per query).
    The pytest plan lock asserts the probe join plans ZERO
    hashpartitioning exchanges on the key; this gate proves the
    bucketed read path returns byte-identical results to the plain
    join."""
    _bucketed_build(spark, sf_dir)
    return _bucketed_probe(spark, sf_dir)


BUCKETED_JOIN_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
       AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Round-13 additions: behavioral/longitudinal analytics
# (functions/behavior.py) + multi-source BFS (functions/graph.bfs_hops)
# --------------------------------------------------------------------------

def retention_cohorts_events(spark, sf_dir):
    """Weekly cohort retention (`behavior.cohort_retention`): users
    bucketed by first-activity week (anchored at the corpus min ts —
    data-deterministic), counted in every later week they return. Two
    shuffles: per-user min + the (cohort, offset) distinct-count; the
    global anchor is a 1-row broadcast."""
    from ..functions import behavior

    ev = _t(spark, sf_dir, "events")
    return (behavior.cohort_retention(ev)
            .withColumnRenamed("offset", "week_offset"))


RETENTION_SQL = """
WITH ms AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
g AS (SELECT MIN(ms) AS g0 FROM ms),
f AS (SELECT user_id, MIN(ms) AS fms FROM ms GROUP BY user_id)
SELECT CAST(floor((f.fms - g.g0) / 604800000.0) AS INTEGER) AS cohort,
       CAST(floor((m.ms - g.g0) / 604800000.0)
            - floor((f.fms - g.g0) / 604800000.0) AS INTEGER)
         AS week_offset,
       CAST(COUNT(DISTINCT m.user_id) AS BIGINT) AS n_users
FROM ms m JOIN f ON m.user_id = f.user_id CROSS JOIN g
GROUP BY 1, 2
"""


def markov_transitions_events(spark, sf_dir):
    """First-order Markov transition matrix over per-user event-type
    timelines (`behavior.markov_transitions`): adjacent-state counts
    plus exact floor-division micro-probabilities — the sequence
    model a recommendation/anomaly pipeline derives from a keyed
    topic. One keyed-sort shuffle."""
    from ..functions import behavior

    ev = _t(spark, sf_dir, "events")
    return behavior.markov_transitions(ev)


MARKOV_SQL = """
WITH s AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
           AS next_state
  FROM events),
c AS (SELECT state, next_state, COUNT(*) AS n FROM s
      WHERE next_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT state, SUM(n) AS rn FROM c GROUP BY state)
SELECT c.state, c.next_state, CAST(c.n AS BIGINT) AS n,
       CAST((c.n * 1000000) // t.rn AS BIGINT) AS prob_micro
FROM c JOIN t USING (state)
"""


def state_entropy_events(spark, sf_dir):
    """Per-user Shannon entropy of the event-type distribution
    (`behavior.state_entropy`) — the behavioral-diversity score. Each
    ln snaps to 9 decimals (libm parity, the bigram-LM discipline),
    the weighted sum folds in exact DECIMAL, one float division at
    the end under round-6."""
    from ..functions import behavior

    ev = _t(spark, sf_dir, "events")
    return behavior.state_entropy(ev)


ENTROPY_SQL = """
WITH per AS (
  SELECT user_id AS key, event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2),
a AS (
  SELECT key, CAST(SUM(c) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_states,
         SUM(CAST(round(ln(c), 9) AS DECIMAL(20,9)) * c) AS s
  FROM per GROUP BY key)
SELECT key, n_events, n_states,
       round(round(ln(n_events), 9) - CAST(s AS DOUBLE) / n_events, 6)
         AS entropy
FROM a
"""


def twap_events(spark, sf_dir):
    """Time-weighted average event value per type (`behavior.twap`):
    each observation holds until the type's next one, weighted by the
    interval in ms — the step-function TWAP every metering/billing
    pipeline computes over a keyed topic. Exact decimal products; one
    final round-6 division."""
    from ..functions import behavior

    ev = _t(spark, sf_dir, "events")
    return behavior.twap(ev, ["event_type"])


TWAP_SQL = """
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ms,
         CAST(value AS DECIMAL(18,4)) AS vm
  FROM events),
d AS (
  SELECT event_type, vm,
         lead(ms) OVER (PARTITION BY event_type ORDER BY ms) - ms AS dur
  FROM s)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_ms,
       round(CAST(SUM(vm * CAST(dur AS DECIMAL(18,0))) AS DOUBLE)
             / CAST(SUM(dur) AS DOUBLE), 6) AS twap
FROM d WHERE dur IS NOT NULL
GROUP BY event_type
"""


def cusum_max_events(spark, sf_dir):
    """CUSUM change-point scan per event type (`behavior.cusum_max`):
    max_k |N·S_k − k·S_N| over ts-ordered prefix sums in exact
    integer 1e-4 units — the abrupt-level-shift detector beside PSI
    (shape) and OLS (trend). Ties break to the smallest k; (ts,
    event_id) is the deterministic order."""
    from ..functions import behavior

    ev = _t(spark, sf_dir, "events")
    return behavior.cusum_max(ev, ["event_type"],
                              tiebreak_col="event_id")


# all-integer HUGEINT arithmetic over 1e-4 units: no decimal result
# type can overflow precision 38 (a (38,4)−(38,4) subtraction lands
# at precision 39, where DuckDB's overflow handling is
# version-dependent — the r13 driver-hash failure), and the output
# carries no DECIMAL column (driver-green outputs are int/double
# only: 0/190 ever-green gates emit DECIMAL, 6/6 r13-red ones did).
CUSUM_SQL = """
WITH s AS (
  SELECT event_type,
         row_number() OVER w AS k,
         SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
           OVER (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sk4,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT))
           OVER (PARTITION BY event_type) AS sn4
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
st AS (
  SELECT event_type, n, k,
         abs(CAST(n AS HUGEINT) * sk4
             - CAST(k AS HUGEINT) * sn4) AS stat
  FROM s),
mx AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         MAX(stat) AS max_stat
  FROM st GROUP BY event_type)
SELECT m.event_type, m.n,
       CAST(m.max_stat AS BIGINT) AS max_stat4,
       CAST(MIN(s2.k) AS BIGINT) AS argmax_k
FROM mx m JOIN st s2
  ON s2.event_type = m.event_type AND s2.stat = m.max_stat
GROUP BY 1, 2, 3
"""


def bfs_hops_nations(spark, sf_dir):
    """Multi-source BFS hop distance (`graph.bfs_hops`) from ALGERIA
    over the top-2-partner trade graph (directed — the same
    degree-bounded sparsifier as kcore; the full graph is
    near-complete and radius ~1). 8 unrolled rounds, fixpoint well
    inside that on this graph (convergence detection early-stops and
    certifies)."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.bfs_hops(edges, ["ALGERIA"], iters=8,
                          broadcast_frontier=True)


def _bfs_hops_sql(iters: int = 8, top: int = 2,
                  seed: str = "ALGERIA") -> str:
    parts = [f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=top)},
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM tp UNION ALL SELECT dst FROM tp)),
d0 AS (SELECT node, 0 AS hops FROM nodes WHERE node = '{seed}')"""]
    for t in range(1, iters + 1):
        # each step references d{t-1} twice (carry + expand): AS
        # MATERIALIZED or the inliner doubles the tree per step
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT node, MIN(hops) AS hops FROM (
    SELECT node, hops FROM d{t - 1}
    UNION ALL
    SELECT tp.dst AS node, p.hops + 1 AS hops
    FROM d{t - 1} p JOIN tp ON p.node = tp.src)
  GROUP BY node)""")
    parts.append(f"""
SELECT n.node, CAST(COALESCE(d.hops, -1) AS INTEGER) AS hops
FROM nodes n LEFT JOIN d{iters} d ON d.node = n.node""")
    return "".join(parts)


BFS_HOPS_SQL = _bfs_hops_sql()


def shortest_paths_nations(spark, sf_dir):
    """Weighted shortest paths (`graph.shortest_paths` — synchronous
    Bellman-Ford, the cost-aware BFS generalization) from CHINA over
    the FULL nation trade graph with trade-friction weights
    w = 1 + 10000 DIV trade_count (heavier trade = cheaper edge, all
    integer math): on this dense graph a cheap two-hop route beats an
    expensive direct edge, the case hop-count BFS cannot express. 6
    unrolled rounds; convergence certified by the (rows, Σdist)
    fingerprint early-stop."""
    from ..functions import graph

    edges = (_nation_trade_edges(spark, sf_dir)
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("_c"))
             .select("src", "dst",
                     F.expr("CAST(1 + 10000 DIV _c AS LONG)").alias("w")))
    return graph.shortest_paths(edges, ["CHINA"], iters=6,
                                broadcast_frontier=True)


def _shortest_paths_sql(iters: int = 6, seed: str = "CHINA") -> str:
    parts = [f"""
WITH e AS MATERIALIZED (
  SELECT src, dst, 1 + 10000 // COUNT(*) AS w
  FROM ({_PAGERANK_EDGE_SQL}) GROUP BY src, dst),
nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes
       WHERE node = '{seed}')"""]
    for t in range(1, iters + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{t - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + e.w AS dist
    FROM d{t - 1} p JOIN e ON p.node = e.src)
  GROUP BY node)""")
    parts.append(f"""
SELECT n.node, CAST(COALESCE(d.dist, -1) AS BIGINT) AS dist
FROM nodes n LEFT JOIN d{iters} d ON d.node = n.node""")
    return "".join(parts)


SHORTEST_PATHS_SQL = _shortest_paths_sql()


def markov_stream_events(spark, sf_dir):
    """Streaming Markov transition deltas
    (`streaming/behavior.markov_stream`): the events log split into
    two half-span time bands replayed availableNow one file per micro-batch
    (per-key publish order holds ACROSS batches; within a batch the
    operator sorts), each batch emitting (state, next_state, n_delta)
    increments; the sink fold SUM(n_delta) + the same exact DIV
    probability must equal the batch `behavior.markov_transitions` on
    the same rows — transitions that STRADDLE batch boundaries are
    the point (the held last-state chains them)."""
    from ..streaming.behavior import markov_stream

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("sequence"),
        "event_type")
    deltas = _replay_gate(
        spark, sf_dir, "markovstream", ev, key="user_id", order="sequence",
        shuffle=["user_id", "sequence"],
        build=lambda s, lo, nk: markov_stream(s, key_col="user_id"))
    cnt = (deltas.filter(F.col("state").isNotNull())
           .groupBy("state", "next_state")
           .agg(F.sum("n_delta").cast("long").alias("n")))
    tot = cnt.groupBy("state").agg(F.sum("n").alias("_row_n"))
    dropped = deltas.agg(
        F.coalesce(F.max("n_dropped_late"), F.lit(0)).cast("long")
        .alias("n_dropped"))
    return (cnt.join(tot, on="state").crossJoin(F.broadcast(dropped))
            .select("state", "next_state", "n",
                    F.expr("CAST((n * 1000000) DIV _row_n AS LONG)")
                    .alias("prob_micro"),
                    "n_dropped"))


MARKOV_STREAM_SQL = """
WITH s AS (
  SELECT event_type AS state,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts)
           AS next_state
  FROM events),
c AS (SELECT state, next_state, COUNT(*) AS n FROM s
      WHERE next_state IS NOT NULL GROUP BY 1, 2),
t AS (SELECT state, SUM(n) AS rn FROM c GROUP BY state)
SELECT c.state, c.next_state, CAST(c.n AS BIGINT) AS n,
       CAST((c.n * 1000000) // t.rn AS BIGINT) AS prob_micro,
       CAST(0 AS BIGINT) AS n_dropped
FROM c JOIN t USING (state)
"""


def retention_stream_events(spark, sf_dir):
    """Streaming cohort retention
    (`streaming/behavior.retention_stream`): keyed state = the user's
    cohort (first-activity week) + the weeks already credited; each
    user's first event in a new week emits a (cohort, offset, +1)
    delta, folded by SUM downstream — replayed availableNow over two
    ordered time-band files so cohorts open in one batch and return
    visits land in LATER batches (the cross-batch crediting is the
    parity point vs the batch `cohort_retention` oracle). The week
    grid anchors at the corpus min epoch-ms (a config in the
    streaming form; derived here for oracle parity)."""
    from ..streaming.behavior import retention_stream

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("sequence"))
    deltas = _replay_gate(
        spark, sf_dir, "retstream", ev, key="user_id", order="sequence",
        shuffle=["user_id", "sequence"],
        build=lambda s, lo, nk: retention_stream(s, anchor=int(lo)))
    return (deltas.groupBy("cohort", "week_offset")
            .agg(F.sum("delta").cast("long").alias("n_users"),
                 F.max("n_dropped_late").cast("long").alias("n_dropped")))


RETENTION_STREAM_SQL = """
WITH ms AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
g AS (SELECT MIN(ms) AS g0 FROM ms),
f AS (SELECT user_id, MIN(ms) AS fms FROM ms GROUP BY user_id)
SELECT CAST(floor((f.fms - g.g0) / 604800000.0) AS INTEGER) AS cohort,
       CAST(floor((m.ms - g.g0) / 604800000.0)
            - floor((f.fms - g.g0) / 604800000.0) AS INTEGER)
         AS week_offset,
       CAST(COUNT(DISTINCT m.user_id) AS BIGINT) AS n_users,
       CAST(0 AS BIGINT) AS n_dropped
FROM ms m JOIN f ON m.user_id = f.user_id CROSS JOIN g
GROUP BY 1, 2
"""


def twap_stream_events(spark, sf_dir):
    """Streaming step-function TWAP
    (`streaming/behavior.twap_stream`): keyed state = the open
    observation (last ms + value in integer 1e-4 units); each batch
    emits the closed intervals' (n, dur, Σ value·dur) delta, folded
    downstream by SUM — replayed availableNow over two ordered
    time-band files so observations opened in one batch close in LATER
    batches (the cross-batch interval is the parity point vs the batch
    `behavior.twap` oracle). Values pre-scale to integer 1e-4 units
    Spark-side (DECIMAL(18,4)·10⁴ → LONG) so the kernel is pure
    bigint — exact at any scale."""
    from ..streaming.behavior import twap_stream

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("sequence"),
        F.expr("CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS LONG)")
        .alias("v4"))
    deltas = _replay_gate(
        spark, sf_dir, "twapstream", ev, key="event_type", order="sequence",
        shuffle=["event_type", "sequence"],
        build=lambda s, lo, nk: twap_stream(s))
    return (deltas.groupBy("key")
            .agg(F.sum("n_delta").cast("long").alias("n_intervals"),
                 F.sum("dur_delta").cast("long").alias("total_ms"),
                 F.round(F.sum("wsum_delta").cast("double")
                         / F.sum("dur_delta").cast("double"), 6)
                 .alias("twap"),
                 F.max("n_dropped_late").cast("long").alias("n_dropped"))
            .filter(F.col("n_intervals") > 0)
            .withColumnRenamed("key", "event_type"))


TWAP_STREAM_SQL = """
WITH s AS (
  SELECT event_type, epoch_ms(ts) AS ms,
         CAST(value AS DECIMAL(18,4)) AS vm
  FROM events),
d AS (
  SELECT event_type, vm,
         lead(ms) OVER (PARTITION BY event_type ORDER BY ms) - ms AS dur
  FROM s)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_ms,
       round(CAST(SUM(vm * CAST(dur AS DECIMAL(18,0))) AS DOUBLE)
             / CAST(SUM(dur) AS DOUBLE), 6) AS twap,
       CAST(0 AS BIGINT) AS n_dropped
FROM d WHERE dur IS NOT NULL
GROUP BY event_type
"""


def entropy_stream_events(spark, sf_dir):
    """Streaming per-user entropy via count-map REPLACE emissions
    (`streaming/behavior.entropy_stream`): keyed state = the full
    (event_type → count) map + a monotone version, re-emitted whole on
    every batch the user appears in; the read contract takes the
    LATEST version per key (upsert-by-version, the scd2 discipline)
    and derives entropy with the batch operator's exact tail
    (`behavior.entropy_from_counts` — ln-snap-9, DECIMAL fold, one
    round-6 division), so stream and batch share one float path.
    Cross-batch accumulation (counts spanning both band files) is
    the parity point vs the batch `state_entropy` oracle."""
    from ..functions.behavior import entropy_from_counts
    from ..streaming.behavior import entropy_stream

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("_ms"),
        "event_type")
    sink = _replay_gate(
        spark, sf_dir, "entstream", ev, key="user_id", order="_ms",
        shuffle=["user_id", "event_type"],
        build=lambda s, lo, nk: entropy_stream(s))
    latest = (sink.groupBy("key")
              .agg(F.max_by(F.struct("states", "counts"), "version")
                   .alias("_m")))
    per = (latest.select(
        F.col("key").cast("long").alias("key"),
        F.explode(F.arrays_zip(F.col("_m.states").alias("_s"),
                               F.col("_m.counts").alias("_c"))).alias("z"))
        .select("key", F.col("z._s").alias("_s"),
                F.col("z._c").alias("_c")))
    return entropy_from_counts(per)


# same final state as the batch operator — the stream replays the whole
# log, so the latest count maps equal the batch groupBy counts
ENTROPY_STREAM_SQL = ENTROPY_SQL


def interval_coverage_events(spark, sf_dir):
    """Sweep-line interval union + peak concurrency per type
    (`operators/interval.interval_coverage`): events become half-open
    activity intervals [ts, ts + value·1000ms); the ±1 sweep reports
    covered wall-clock (union, no double-count) and the concurrency
    peak — delta-ASC ordering at shared timestamps IS the half-open
    semantics (end-meets-start is never an overlap). All-integer
    milliseconds."""
    from ..operators.interval import interval_coverage

    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    dur = (F.col("value").cast("decimal(18,4)") * 1000).cast("long")
    iv = ev.select(F.col("event_type"), ms.alias("s"),
                   (ms + dur).alias("e"))
    return interval_coverage(iv, ["event_type"], start_col="s",
                             end_col="e")


INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT event_type, epoch_ms(ts) AS s,
         epoch_ms(ts)
           + CAST(CAST(value AS DECIMAL(18,4)) * 1000 AS BIGINT) AS e
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
    AND CAST(CAST(value AS DECIMAL(18,4)) * 1000 AS BIGINT) > 0),
ev AS (SELECT event_type, s AS t, 1 AS d, e - s AS dur FROM iv
       UNION ALL
       SELECT event_type, e, -1, 0 FROM iv),
sw AS (SELECT event_type, t, d, dur,
              SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                           ROWS UNBOUNDED PRECEDING) AS run,
              lead(t) OVER (PARTITION BY event_type ORDER BY t, d)
                AS nxt
       FROM ev)
SELECT event_type,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_ms,
       CAST(SUM(CASE WHEN run > 0 AND nxt IS NOT NULL
                     THEN nxt - t ELSE 0 END) AS BIGINT) AS covered_ms,
       CAST(MAX(run) AS BIGINT) AS peak_concurrency
FROM sw GROUP BY event_type
"""


def ktruss_nations(spark, sf_dir):
    """k-truss membership (`graph.ktruss`, k=3) over the
    top-2-partner trade graph: iterative EDGE peeling by triangle
    support — the cohesive tier between the k-core (node degrees) and
    cliques; an edge survives only while ≥ k−2 triangles survive
    around it, so the peel CASCADES (kill one edge, its triangles'
    other edges lose support). 6 unrolled rounds; fixpoint certified
    by the surviving-edge count well before that."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.ktruss(edges, k=3, iters=6)


def _ktruss_sql(k: int = 3, iters: int = 6, top: int = 2) -> str:
    parts = [f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=top)},
e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tp WHERE src <> dst)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
tri{t} AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM e{t - 1} a
  JOIN e{t - 1} b ON b.u = a.v
  JOIN e{t - 1} c ON c.u = a.u AND c.v = b.v),
s{t} AS MATERIALIZED (
  SELECT u, v, COUNT(*) AS sup FROM (
    SELECT x AS u, y AS v FROM tri{t}
    UNION ALL SELECT y, z FROM tri{t}
    UNION ALL SELECT x, z FROM tri{t})
  GROUP BY u, v),
e{t} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{t - 1} e
  JOIN s{t} s ON s.u = e.u AND s.v = e.v
  WHERE s.sup >= {k - 2})""")
    parts.append(f"""
SELECT e.u, e.v,
       CAST(CASE WHEN a.u IS NULL THEN 0 ELSE 1 END AS INTEGER)
         AS in_ktruss
FROM e0 e LEFT JOIN e{iters} a ON a.u = e.u AND a.v = e.v""")
    return "".join(parts)


KTRUSS_SQL = _ktruss_sql()


def centrality_nations(spark, sf_dir):
    """Closeness + harmonic centrality (`graph.closeness_centrality`)
    over the top-2-partner trade graph, ALL nodes as seeds in one
    pair-keyed BFS (the product-graph trick — |V|² pair state is the
    documented budget; sampled seeds at scale). Closeness is one
    exact-integer round-6; harmonic folds exact integer snap-9
    reciprocals — the disconnected-graph-safe variant."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.closeness_centrality(edges, iters=8,
                                       broadcast_frontier=True)


def _centrality_sql(iters: int = 8, top: int = 2) -> str:
    parts = [f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=top)},
ds AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tp WHERE src <> dst),
bd AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM ds UNION ALL SELECT v, u FROM ds),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM bd),
d0 AS (SELECT node AS seed, node, 0 AS h FROM nodes)"""]
    for t in range(1, iters + 1):
        parts.append(f""",
d{t} AS MATERIALIZED (
  SELECT seed, node, MIN(h) AS h FROM (
    SELECT seed, node, h FROM d{t - 1}
    UNION ALL
    SELECT p.seed, e.dst AS node, p.h + 1 AS h
    FROM d{t - 1} p JOIN bd e ON p.node = e.src)
  GROUP BY seed, node)""")
    parts.append(f"""
SELECT seed AS node, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CASE WHEN SUM(h) > 0 THEN
         CAST((2 * (COUNT(*) - 1) * 1000000 + SUM(h))
              // (2 * SUM(h)) AS DOUBLE) / 1000000.0
       END AS closeness,
       CAST(SUM((2000000000 + h) // (2 * h)) FILTER (h > 0)
            AS DOUBLE) / 1000000000.0 AS harmonic
FROM d{iters} GROUP BY seed""")
    return "".join(parts)


CENTRALITY_SQL = _centrality_sql()


def interval_stream_events(spark, sf_dir):
    """Streaming sweep-line coverage
    (`streaming/interval.interval_stream`): keyed state = start
    high-water mark + union frontier + the OPEN-ends set (bounded by
    peak concurrency, not volume); per-batch (n, total, covered)
    deltas SUM-fold and the peak MAX-folds downstream — replayed
    availableNow over two start-ordered band files so intervals
    opened in one batch stay open into later ones (the cross-batch
    frontier/heap carry is the parity point vs the batch
    `interval_coverage` oracle)."""
    from ..streaming.interval import interval_stream

    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    dur = (F.col("value").cast("decimal(18,4)") * 1000).cast("long")
    iv = ev.select(F.col("event_type"), ms.alias("s"),
                   (ms + dur).alias("e"))
    deltas = _replay_gate(
        spark, sf_dir, "ivstream", iv, key="event_type", order="s",
        shuffle=["event_type", "s", "e"],
        build=lambda s, lo, nk: interval_stream(s))
    return (deltas.groupBy("key")
            .agg(F.sum("n_delta").cast("long").alias("n_intervals"),
                 F.sum("total_delta").cast("long").alias("total_ms"),
                 F.sum("covered_delta").cast("long").alias("covered_ms"),
                 F.max("peak").cast("long").alias("peak_concurrency"),
                 F.max("n_dropped_late").cast("long").alias("n_dropped"))
            .withColumnRenamed("key", "event_type"))


# the stream replays the whole start-ordered log → same final state as
# the batch sweep, plus the zero dropped-late counter
INTERVAL_STREAM_SQL = INTERVAL_COVERAGE_SQL.replace(
    "       CAST(MAX(run) AS BIGINT) AS peak_concurrency",
    "       CAST(MAX(run) AS BIGINT) AS peak_concurrency,\n"
    "       CAST(0 AS BIGINT) AS n_dropped")


def assortativity_nations(spark, sf_dir):
    """Degree assortativity (`graph.assortativity`) of the
    top-2-partner trade graph — do well-connected nations trade with
    each other (positive) or with peripherals (negative)? The
    symmetric both-directions form needs NO sqrt: an exact integer
    ratio with one round-6 division."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.assortativity(edges, broadcast_degrees=True)


ASSORTATIVITY_SQL = f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=2)},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tp WHERE src <> dst),
bd AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM bd GROUP BY node),
p AS (SELECT CAST(dx.deg AS HUGEINT) AS x, CAST(dy.deg AS HUGEINT) AS y
      FROM bd
      JOIN deg dx ON dx.node = bd.node
      JOIN deg dy ON dy.node = bd.nbr),
a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m, SUM(x) AS s,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM p)
SELECT CAST(m // 2 AS BIGINT) AS n_edges,
       CASE WHEN (m * sxx - s * s) <> 0 THEN
         round(CAST(m * sxy - s * s AS DOUBLE)
               / CAST(m * sxx - s * s AS DOUBLE), 6)
       END AS assortativity
FROM a
"""


def gini_orders(spark, sf_dir):
    """Per-segment Gini coefficient of order totals
    (`concentration.gini`): the inequality score of each market
    segment's revenue distribution — exact rank identity
    (2Σi·x − (n+1)Σx)/(nΣx) in cap-proof scale-0 decimals over 1e-4
    integer units; tie-invariant (no tiebreak needed), one round-6
    division."""
    from ..functions import concentration

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (o.join(c, o["o_custkey"] == c["c_custkey"])
         .select(F.col("c_mktsegment").alias("segment"),
                 F.col("o_totalprice")))
    return concentration.gini(j, ["segment"], "o_totalprice")


# exact HUGEINT half-up round-6 (num·10⁶ and den exceed 2⁵³, so a
# cast-to-double path depends on the engine's hugeint→double
# rounding — version-fragile); ``//`` truncates toward zero like
# Spark's ``div``, so the ±d term is sign-aware (concentration.gini);
# no DECIMAL output column (its value hash is engine-dependent). The
# final /1e6 is IEEE-exact.
GINI_SQL = """
WITH s AS (
  SELECT c_mktsegment AS segment,
         CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
           AS x4
  FROM orders JOIN customer ON o_custkey = c_custkey),
r AS (SELECT segment, x4,
             row_number() OVER (PARTITION BY segment ORDER BY x4) AS i
      FROM s),
a AS (SELECT segment, COUNT(*) AS n,
             CAST(SUM(x4) AS BIGINT) AS sum_value4,
             SUM(CAST(x4 AS HUGEINT)) AS s4,
             SUM(CAST(i AS HUGEINT) * x4) AS w
      FROM r GROUP BY segment)
SELECT segment, CAST(n AS BIGINT) AS n, sum_value4,
       CASE WHEN d <> 0 THEN
         CAST((2 * num6 + CASE WHEN (num6 < 0) = (d < 0) THEN d ELSE -d END)
              // (2 * d) AS DOUBLE) / 1000000.0
       END AS gini
FROM (SELECT *, (2 * w - (n + 1) * s4) * 1000000 AS num6,
             CAST(n AS HUGEINT) * s4 AS d
      FROM a)
"""


def hhi_customer_revenue(spark, sf_dir):
    """Per-segment Herfindahl–Hirschman index over CUSTOMER revenue
    shares (`concentration.hhi`): is a segment's revenue spread across
    its customers or captured by a few? Cross-multiplied Σx²/(Σx)² in
    cap-proof scale-0 decimals — the share ratio never materializes;
    one round-6 division."""
    from ..functions import concentration

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (o.join(c, o["o_custkey"] == c["c_custkey"])
         .select(F.col("c_mktsegment").alias("segment"),
                 F.col("o_custkey"), F.col("o_totalprice")))
    return concentration.hhi(j, ["segment"], "o_custkey",
                             "o_totalprice")


HHI_SQL = """
WITH per AS (
  SELECT c_mktsegment AS segment, o_custkey AS e,
         SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                  AS BIGINT)) AS xe
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2),
a AS (SELECT segment, COUNT(*) AS n_entities,
             SUM(CAST(xe AS HUGEINT)) AS s,
             SUM(CAST(xe AS HUGEINT) * xe) AS q
      FROM per GROUP BY segment)
SELECT segment, CAST(n_entities AS BIGINT) AS n_entities,
       CASE WHEN s <> 0 THEN
         round(CAST(q AS DOUBLE) / CAST(s * s AS DOUBLE), 6)
       END AS hhi
FROM a
"""


def benford_lineitem(spark, sf_dir):
    """Benford first-digit audit of extended prices
    (`checks.benford_digits`): the fabricated-data screen — observed
    first-digit shares (exact micro-unit DIV) against the
    log₁₀(1+1/d) law (snap-9), digit from the DECIMAL string render
    (never float log10). TPC-H prices are uniform-ish products, NOT
    Benford-distributed — the audit's job is to MEASURE that deviation
    exactly, which is what the oracle locks."""
    from ..functions.checks import benford_digits

    li = _t(spark, sf_dir, "lineitem")
    return benford_digits(li, "l_extendedprice")


BENFORD_SQL = """
WITH c AS (
  SELECT CAST(substring(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                             AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         COUNT(*) AS n
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_extendedprice >= 1
  GROUP BY 1),
t AS (SELECT SUM(n) AS nt FROM c),
d AS (SELECT CAST(range AS INTEGER) AS digit FROM range(1, 10))
SELECT d.digit, CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
       CAST((COALESCE(c.n, 0) * 1000000) // t.nt AS BIGINT)
         AS p_obs_micro,
       round(log10(1 + 1.0 / d.digit), 9) AS p_benford,
       round(abs(((COALESCE(c.n, 0) * 1000000) // t.nt) / 1e6
                 - round(log10(1 + 1.0 / d.digit), 9)), 6) AS abs_dev
FROM d LEFT JOIN c ON c.digit = d.digit CROSS JOIN t
"""


def kaplan_meier_users(spark, sf_dir):
    """Kaplan–Meier user-lifetime curve (`survival.kaplan_meier`):
    duration = whole days between a user's first and last event;
    event = churned (last activity > 8 idle hours before the corpus
    max — a data-anchored, deterministic censoring rule), else
    right-censored. The curve the naive retention count gets wrong:
    censored users are at-risk mass, not churn events."""
    from ..functions.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    u = (ev.select(F.col("user_id"), ms.alias("_ms"))
         .groupBy("user_id")
         .agg(F.min("_ms").alias("_f"), F.max("_ms").alias("_l")))
    mx = u.agg(F.max("_l").alias("_mx"))
    base = (u.crossJoin(F.broadcast(mx))
            .select(
                F.expr("CAST((_l - _f) DIV 86400000 AS LONG)")
                .alias("dur_days"),
                F.when(F.col("_mx") - F.col("_l") > 8 * 3_600_000, 1)
                .otherwise(0).alias("churned")))
    return kaplan_meier(base, [], duration_col="dur_days",
                        event_col="churned")


KAPLAN_MEIER_SQL = """
WITH u AS (
  SELECT user_id, MIN(epoch_ms(ts)) AS f, MAX(epoch_ms(ts)) AS l
  FROM events GROUP BY user_id),
mx AS (SELECT MAX(l) AS m FROM u),
base AS (
  SELECT (l - f) // 86400000 AS t,
         CASE WHEN m - l > 8 * 3600000 THEN 1 ELSE 0 END AS e
  FROM u CROSS JOIN mx),
per AS (SELECT t, COUNT(*) AS c, SUM(e) AS d FROM base GROUP BY t),
r AS (SELECT t, c, d,
             SUM(c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
               AS n
      FROM per),
s AS (SELECT t, n, d,
             SUM(CASE WHEN d > 0 AND d < n THEN
                   CAST(round(ln(1 - CAST(d AS DOUBLE) / n), 9)
                        AS DECIMAL(38,9)) END) OVER wa AS lns,
             MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER wa AS dead
      FROM r WINDOW wa AS (ORDER BY t ROWS UNBOUNDED PRECEDING))
SELECT CAST(t AS BIGINT) AS duration, CAST(n AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN dead = 1 THEN 0.0
            ELSE round(exp(COALESCE(CAST(lns AS DOUBLE), 0.0)), 6)
       END AS survival
FROM s WHERE d > 0
"""


def rfm_customers(spark, sf_dir):
    """RFM customer segmentation (`behavior.rfm_segments`) over the
    orders log: recency vs the corpus-max anchor, exact decimal
    monetary, NTILE quintiles with the entity tiebreak so tied
    metrics bucket deterministically on any engine."""
    from ..functions import behavior

    o = _t(spark, sf_dir, "orders")
    return behavior.rfm_segments(o, entity_col="o_custkey",
                                 ts_col="o_orderdate",
                                 value_col="o_totalprice")


# monetary in integer 1e-4 units (BIGINT — never a DECIMAL output
# column, the r13 driver-hash lesson); epoch_ms of the naive
# TIMESTAMP is timezone-free on DuckDB, matching the Spark side's
# tz-proof date-part decomposition.
RFM_SQL = """
WITH per AS (
  SELECT o_custkey AS entity,
         MAX(epoch_ms(CAST(o_orderdate AS TIMESTAMP))) AS last_ms,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000
                       AS BIGINT)) AS BIGINT) AS monetary4
  FROM orders GROUP BY o_custkey),
a AS (SELECT MAX(last_ms) AS anchor FROM per),
sc AS (
  SELECT entity, CAST(a.anchor - last_ms AS BIGINT) AS recency_ms,
         frequency, monetary4,
         NTILE(5) OVER (ORDER BY a.anchor - last_ms, entity) AS r,
         NTILE(5) OVER (ORDER BY frequency, entity) AS f,
         NTILE(5) OVER (ORDER BY monetary4, entity) AS m
  FROM per CROSS JOIN a)
SELECT entity, recency_ms, frequency, monetary4,
       CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f,
       CAST(m AS INTEGER) AS m,
       CAST(r * 100 + f * 10 + m AS INTEGER) AS rfm_code
FROM sc
"""


def mutual_info_orders(spark, sf_dir):
    """Mutual information between order priority and customer market
    segment (`behavior.mutual_information`) — the categorical
    feature-dependence profile: MI·N folds snap-9 lns of exact cell /
    marginal counts in DECIMAL, one float division; reported beside
    the three entropies so MI = Hx + Hy − Hxy holds in the output."""
    from ..functions import behavior

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (o.join(c, o["o_custkey"] == c["c_custkey"])
         .select("o_orderpriority", "c_mktsegment"))
    return behavior.mutual_information(j, "o_orderpriority",
                                       "c_mktsegment")


MUTUAL_INFO_SQL = """
WITH cells AS (
  SELECT o_orderpriority AS x, c_mktsegment AS y, COUNT(*) AS c
  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
sx AS (SELECT SUM(CAST(round(ln(c), 9) AS DECIMAL(20,9)) * c) AS s
       FROM (SELECT SUM(c) AS c FROM cells GROUP BY x)),
sy AS (SELECT SUM(CAST(round(ln(c), 9) AS DECIMAL(20,9)) * c) AS s
       FROM (SELECT SUM(c) AS c FROM cells GROUP BY y)),
sxy AS (SELECT SUM(CAST(round(ln(c), 9) AS DECIMAL(20,9)) * c) AS s
        FROM cells),
t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells)
SELECT t.n, t.n_cells,
       round(round(ln(t.n), 9) - CAST(sx.s AS DOUBLE) / t.n, 6) AS h_x,
       round(round(ln(t.n), 9) - CAST(sy.s AS DOUBLE) / t.n, 6) AS h_y,
       round(round(ln(t.n), 9) - CAST(sxy.s AS DOUBLE) / t.n, 6)
         AS h_xy,
       round(CAST(sxy.s - sx.s - sy.s AS DOUBLE) / t.n
             + round(ln(t.n), 9), 6) AS mi
FROM t, sx, sy, sxy
"""


def ks_pairs_events(spark, sf_dir):
    """Pairwise two-sample Kolmogorov–Smirnov over event-type value
    distributions (`quantiles.ks_pairs`) — the unbinned two-sample
    drift test (PSI needs bins, CUSUM needs order; KS needs nothing):
    D cross-multiplies to exact integers at distinct-value
    boundaries, one round-6 division, smallest-boundary argmax."""
    from ..functions import quantiles

    ev = _t(spark, sf_dir, "events")
    return quantiles.ks_pairs(ev, "event_type", "value")


KS_PAIRS_SQL = """
WITH base AS (
  SELECT event_type AS g,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
pairs AS (SELECT a.g AS ga, b.g AS gb
          FROM (SELECT DISTINCT g FROM base) a
          JOIN (SELECT DISTINCT g FROM base) b ON a.g < b.g),
sided AS (
  SELECT p.ga, p.gb, b.v,
         CASE WHEN b.g = p.ga THEN 1 ELSE 0 END AS ia
  FROM base b JOIN pairs p ON b.g = p.ga OR b.g = p.gb),
perv AS (SELECT ga, gb, v, SUM(ia) AS ca, SUM(1 - ia) AS cb
         FROM sided GROUP BY 1, 2, 3),
cum AS (SELECT ga, gb, v,
               SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
               SUM(ca) OVER wp AS na, SUM(cb) OVER wp AS nb
        FROM perv
        WINDOW w AS (PARTITION BY ga, gb ORDER BY v
                     ROWS UNBOUNDED PRECEDING),
               wp AS (PARTITION BY ga, gb)),
st AS (SELECT ga, gb, v, na, nb,
              abs(CAST(cuma AS HUGEINT) * nb
                  - CAST(cumb AS HUGEINT) * na) AS s
       FROM cum),
mx AS (SELECT ga, gb, CAST(MAX(na) AS BIGINT) AS n_a,
              CAST(MAX(nb) AS BIGINT) AS n_b, MAX(s) AS d
       FROM st GROUP BY 1, 2)
SELECT m.ga AS group_a, m.gb AS group_b, m.n_a, m.n_b,
       CAST(m.d AS BIGINT) AS d_num,
       CAST((2 * m.d * 1000000 + CAST(m.n_a AS HUGEINT) * m.n_b)
            // (2 * CAST(m.n_a AS HUGEINT) * m.n_b) AS DOUBLE)
         / 1000000.0 AS ks,
       CAST(MIN(s2.v) AS BIGINT) AS argmax_v4
FROM mx m JOIN st s2
  ON s2.ga = m.ga AND s2.gb = m.gb AND s2.s = m.d
GROUP BY 1, 2, 3, 4, 5, 6
"""


def acf_events(spark, sf_dir):
    """Per-type lag-1/2/3 autocorrelation (`quantiles.acf`): the
    periodicity/persistence detector completing the drift quartet
    (PSI shape, OLS trend, CUSUM level shifts, ACF cycles). Exact
    cross-multiplied sufficient statistics in DECIMAL(38,0) — the
    float mean is never computed; one division per lag under round-6;
    (ts, event_id) is the deterministic order."""
    from ..functions import quantiles

    ev = _t(spark, sf_dir, "events")
    return quantiles.acf(ev, ["event_type"], order_col="ts",
                         value_col="value", lags=(1, 2, 3),
                         tiebreak_col="event_id")


def _acf_sql(lags=(1, 2, 3)) -> str:
    leads = ",\n         ".join(
        f"lead(y, {k}) OVER w AS y{k}" for k in lags)
    per = ",\n         ".join(
        f"COUNT(y{k}) AS m{k},\n         "
        f"SUM(CAST(y AS HUGEINT) * y{k}) AS p{k},\n         "
        f"SUM(CASE WHEN y{k} IS NOT NULL THEN CAST(y AS HUGEINT) END)"
        f" AS h{k},\n         "
        f"SUM(CAST(y{k} AS HUGEINT)) AS t{k}" for k in lags)
    arms = "\nUNION ALL\n".join(f"""
SELECT event_type, CAST({k} AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
       CAST(m{k} AS BIGINT) AS n_pairs,
       CASE WHEN (n*n*q - n*s*s) <> 0 AND m{k} > 0 THEN
         round(CAST(n*n*p{k} - n*s*(h{k} + t{k}) + m{k}*s*s AS DOUBLE)
               / CAST(n*n*q - n*s*s AS DOUBLE), 6)
       END AS acf
FROM a""" for k in lags)
    return f"""
WITH s0 AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS y,
         {leads}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
a AS (
  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(y AS HUGEINT)) AS s,
         SUM(CAST(y AS HUGEINT) * y) AS q,
         {per}
  FROM s0 GROUP BY event_type)
{arms}
"""


ACF_SQL = _acf_sql()


def assoc_rules_orders(spark, sf_dir):
    """Association rules over order baskets
    (`functions/baskets.association_rules`): part brands co-occurring
    in the same order, with exact micro-unit support / confidence /
    lift (the DECIMAL(38,0) cross-multiplied floor division — bigint
    overflows near 10¹⁰ baskets). The pair space is bounded by BASKET
    size (≤7 lineitems per order), never corpus size; the
    max_basket_size guard raises at execution on pathological
    mega-baskets instead of silently stalling the self-join."""
    from ..functions.baskets import association_rules

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = (li.join(p, li["l_partkey"] == p["p_partkey"])
               .select(F.col("l_orderkey").alias("basket"),
                       F.col("p_brand").alias("item")))
    return association_rules(baskets, basket_col="basket",
                             item_col="item", min_pair_count=5,
                             max_basket_size=64, broadcast_items=True)


ASSOC_RULES_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, p_brand AS it
  FROM lineitem JOIN part ON p_partkey = l_partkey),
nb AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM b),
i AS (SELECT it, COUNT(*) AS n FROM b GROUP BY it),
p AS (SELECT a.it AS item_a, b2.it AS item_b, COUNT(*) AS n_ab
      FROM b a JOIN b b2 ON a.bk = b2.bk AND a.it < b2.it
      GROUP BY 1, 2 HAVING COUNT(*) >= 5)
SELECT p.item_a, p.item_b,
       CAST(ia.n AS BIGINT) AS n_a, CAST(ib.n AS BIGINT) AS n_b,
       CAST(p.n_ab AS BIGINT) AS n_ab,
       CAST(nb.n_baskets AS BIGINT) AS n_baskets,
       CAST((p.n_ab * 1000000) // nb.n_baskets AS BIGINT)
         AS support_micro,
       CAST((p.n_ab * 1000000) // ia.n AS BIGINT) AS conf_ab_micro,
       CAST((p.n_ab * 1000000) // ib.n AS BIGINT) AS conf_ba_micro,
       CAST((p.n_ab * nb.n_baskets * 1000000) // (ia.n * ib.n)
            AS BIGINT) AS lift_micro
FROM p
JOIN i ia ON ia.it = p.item_a
JOIN i ib ON ib.it = p.item_b
CROSS JOIN nb
"""


def link_prediction_nations(spark, sf_dir):
    """Link prediction (`graph.link_prediction`) over the
    top-2-partner trade graph: common-neighbor / Jaccard /
    Adamic–Adar scores for every non-adjacent nation pair — "which
    trade links are missing" (the degree-bounded sparsifier keeps
    non-edges in existence AND bounds the wedge space, the kcore
    posture). Adamic–Adar folds ln-snapped integer n9 reciprocals in
    an exact BIGINT sum — no trailing float round anywhere."""
    from ..functions import graph

    edges = _top_partner_edges(spark, sf_dir)
    return graph.link_prediction(edges, broadcast_degrees=True)


LINK_PREDICTION_SQL = f"""
WITH {_TOP_PARTNER_SQL.format(edges=_PAGERANK_EDGE_SQL, top=2)},
und AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM tp WHERE src <> dst),
bd AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM bd GROUP BY node),
wdg AS (
  SELECT l.node AS w, l.nbr AS a, r.nbr AS b
  FROM bd l JOIN bd r ON l.node = r.node AND l.nbr < r.nbr),
cand AS (
  SELECT wdg.w, wdg.a, wdg.b FROM wdg
  LEFT JOIN und e ON e.u = wdg.a AND e.v = wdg.b
  WHERE e.u IS NULL),
sc AS (
  SELECT a AS node_a, b AS node_b, COUNT(*) AS cn,
         SUM((2000000000000000000
              + CAST(round(ln(d.deg) * 1e9, 0) AS BIGINT))
             // (2 * CAST(round(ln(d.deg) * 1e9, 0) AS BIGINT)))
           AS aa9
  FROM cand JOIN deg d ON d.node = cand.w
  GROUP BY 1, 2)
SELECT sc.node_a, sc.node_b, CAST(sc.cn AS BIGINT) AS common_neighbors,
       CAST((sc.cn * 1000000) // (da.deg + db.deg - sc.cn) AS BIGINT)
         AS jaccard_micro,
       CAST(sc.aa9 AS DOUBLE) / 1000000000.0 AS adamic_adar
FROM sc
JOIN deg da ON da.node = sc.node_a
JOIN deg db ON db.node = sc.node_b
"""


# Lifecycle bench components (VERDICT r11 #1): each index-lifecycle
# gate splits into the I/O-jittery one-time BUILD (train + write +
# append/ingest under the per-process scratch dir) and the
# production-recurring PROBE (pure read of the built index). bench.py
# times the composite row (cross-round continuity) AND each component,
# so the recurring number is tracked separately from build noise. The
# probe assumes the build ran earlier in the same process (same
# _scratch path) — exactly what bench.py and the gates guarantee.
LIFECYCLES: dict[str, tuple] = {
    "pq_index_topk_embeddings": (_pqindex_build, _pqindex_probe),
    "ivfpq_topk_embeddings": (_ivfpq_build, _ivfpq_probe),
    "ivfpq_residual_topk_embeddings": (_ivfpqr_build, _ivfpqr_probe),
    "pq_fold_topk_embeddings": (_pqfold_build, _pqfold_probe),
    "ivfpq_fold_topk_embeddings": (_ivffold_build, _ivffold_probe),
    "ann_rerank_report": (_rerank_build, _rerank_probe),
    "ann_rerank_bounded": (_rerankb_build, _rerankb_probe),
    "ivfpq_auto_topk_embeddings": (_ivfauto_build, _ivfauto_probe),
    "ivfpq_rotated_topk_embeddings": (_ivfrot_build, _ivfrot_probe),
    "pq_rotated_topk_embeddings": (_pqrot_build, _pqrot_probe),
    "ivfpq_rerank_bounded": (_ivfrerankb_build, _ivfrerankb_probe),
    "maxsim_stream_topk_embeddings": (_maxsimstream_build,
                                      _maxsimstream_probe),
    "bq_index_topk_embeddings": (_bqidx_build, _bqidx_probe),
    "sq8_index_topk_embeddings": (_sq8idx_build, _sq8idx_probe),
    "bucketed_join_orders": (_bucketed_build, _bucketed_probe),
}


# Registration order matters: the driver's correctness gate checks the
# FIRST 50 entries only. Rotation policy (mechanical, derived from the
# union of CORRECTNESS_r01..r(N-1)): order by (driver-proof count ASC,
# last-proven round ASC) — new/unproven queries first, then the
# stalest rows — so every proof the driver spends lands on the
# least-recently-verified query. Edited queries must sit in the head.
# The head must hold EXACTLY 50 entries (r7 shipped 51 and silently
# dropped one — tests/test_round8.py::test_head_marker_is_exactly_50
# locks the invariant). ALL queries stay verified every round by
# tools/oracle_check.py regardless of slot.
ALL_QUERIES: dict[str, Query] = {
    q.name: q
    for q in [
        # --- head 1-50: driver gate this round (r13 rotation, VERDICT
        # r12 #2 — computed mechanically from the CORRECTNESS_r01..r12
        # union by (driver-proof count ASC, last-proven ASC, name)).
        # Slots 1-9: the nine brand-new r13 gates (the streaming
        # TWAP/entropy twins, streaming SCD2, the behavior family,
        # BFS). Then: every query whose
        # code path changed this round (the quantile-trio NULL-safe
        # oracles, kcore convergence detection, the spearman/ntile tie
        # guards, semantic_dedup's new kernel parameter). Slots 15-50:
        # the stalest pool — the six once-proven r12 gates, the
        # seventeen twice-proven r12 session-2 gates, and the thirteen
        # r7-stale rows (q1/q2/q4/q5/q6/q7/q18/q19/q21/q22 +
        # topic_stats/topk_orders/winnow) — 20 head rows were NOT in
        # the r12 gate. Exactly 50, locked by
        # tests/test_round8.py::test_head_marker_is_exactly_50. ---
        Query("acf_events", acf_events, ACF_SQL),
        Query("interval_coverage_events", interval_coverage_events,
              INTERVAL_COVERAGE_SQL),
        Query("interval_stream_events", interval_stream_events,
              INTERVAL_STREAM_SQL),
        Query("assortativity_nations", assortativity_nations,
              ASSORTATIVITY_SQL),
        Query("ktruss_nations", ktruss_nations, KTRUSS_SQL),
        Query("centrality_nations", centrality_nations, CENTRALITY_SQL),
        Query("mutual_info_orders", mutual_info_orders, MUTUAL_INFO_SQL),
        Query("ks_pairs_events", ks_pairs_events, KS_PAIRS_SQL),
        Query("kaplan_meier_users", kaplan_meier_users,
              KAPLAN_MEIER_SQL),
        Query("rfm_customers", rfm_customers, RFM_SQL),
        Query("gini_orders", gini_orders, GINI_SQL),
        Query("hhi_customer_revenue", hhi_customer_revenue, HHI_SQL),
        Query("benford_lineitem", benford_lineitem, BENFORD_SQL),
        Query("assoc_rules_orders", assoc_rules_orders, ASSOC_RULES_SQL),
        Query("link_prediction_nations", link_prediction_nations,
              LINK_PREDICTION_SQL),
        Query("twap_stream_events", twap_stream_events, TWAP_STREAM_SQL),
        Query("entropy_stream_events", entropy_stream_events,
              ENTROPY_STREAM_SQL),
        Query("scd2_stream_events", scd2_stream_events, SCD2_STREAM_SQL),
        Query("markov_stream_events", markov_stream_events,
              MARKOV_STREAM_SQL),
        Query("retention_stream_events", retention_stream_events,
              RETENTION_STREAM_SQL),
        Query("shortest_paths_nations", shortest_paths_nations,
              SHORTEST_PATHS_SQL),
        Query("retention_cohorts_events", retention_cohorts_events,
              RETENTION_SQL),
        Query("markov_transitions_events", markov_transitions_events,
              MARKOV_SQL),
        Query("state_entropy_events", state_entropy_events, ENTROPY_SQL),
        Query("twap_events", twap_events, TWAP_SQL),
        Query("cusum_max_events", cusum_max_events, CUSUM_SQL),
        Query("bfs_hops_nations", bfs_hops_nations, BFS_HOPS_SQL),
        Query("winsorize_events", winsorize_events, WINSORIZE_SQL),
        Query("mad_outliers_events", mad_outliers_events, MAD_OUTLIERS_SQL),
        Query("value_quantiles_events", value_quantiles_events, QUANTILES_SQL),
        Query("kcore_nations", kcore_nations, KCORE_SQL),
        Query("spearman_events", spearman_events, SPEARMAN_SQL),
        Query("ntile_histogram_events", ntile_histogram_events,
              NTILE_HIST_SQL),
        Query("semdedup_embeddings", semdedup_embeddings, SEMDEDUP_SQL),
        Query("bucketed_join_orders", bucketed_join_orders, BUCKETED_JOIN_SQL),
        Query("connected_components_nations", connected_components_nations,
              CC_NATIONS_SQL),
        Query("hits_nations", hits_nations, HITS_SQL),
        Query("ols_trend_events", ols_trend_events, OLS_TREND_SQL),
        Query("psi_drift_events", psi_drift_events, PSI_SQL),
        Query("scd2_history_events", scd2_history_events, SCD2_SQL),
        Query("bq_index_topk_embeddings", bq_index_topk_embeddings,
              BQ_INDEX_SQL),
        Query("containment_docs", containment_docs, CONTAINMENT_SQL),
        Query("hll_distinct_events", hll_distinct_events, HLL_SQL),
        Query("ivfpq_rerank_bounded", ivfpq_rerank_bounded,
              IVFPQ_RERANK_BOUNDED_SQL),
        Query("label_propagation_nations", label_propagation_nations,
              LABEL_PROP_SQL),
        Query("maxsim_stream_topk_embeddings", maxsim_stream_topk_embeddings,
              MAXSIM_STREAM_SQL),
        Query("minhash_estimate_docs", minhash_estimate_docs,
              MINHASH_ESTIMATE_SQL),
        Query("neardup_keep_best_docs", neardup_keep_best_docs,
              NEARDUP_KEEP_BEST_SQL),
        Query("pagerank_nations", pagerank_nations, PAGERANK_SQL),
        Query("pagerank_personalized_nations", pagerank_personalized_nations,
              PAGERANK_PERSONALIZED_SQL),
        # --- tail 51+: proven >=3x and recently; local sweep only ---
        # (the ten stale q-rows + bq_topk/hll_set_algebra/hll_hourly/
        # sq8_topk/triangle_count/pagerank_weighted/sq8_index demoted
        # mid-r13 to make head room for the seventeen new session-2
        # gates — always the most-proven non-edited head rows; r14
        # re-ranks the pool mechanically.)
        Query("pagerank_weighted_nations", pagerank_weighted_nations,
              PAGERANK_WEIGHTED_SQL),
        Query("sq8_index_topk_embeddings", sq8_index_topk_embeddings,
              SQ8_INDEX_SQL),
        Query("bq_topk_embeddings", bq_topk_embeddings, BQ_TOPK_SQL),
        Query("hll_set_algebra_events", hll_set_algebra_events,
              HLL_SET_ALGEBRA_SQL),
        Query("hll_hourly_users", hll_hourly_users, HLL_HOURLY_SQL),
        Query("sq8_topk_embeddings", sq8_topk_embeddings, SQ8_TOPK_SQL),
        Query("triangle_count_nations", triangle_count_nations, TRIANGLE_SQL),
        Query("q19_disjunctive_filter", q19_disjunctive_filter, Q19_SQL),
        Query("q21_waiting_suppliers", q21_waiting_suppliers, Q21_SQL),
        Query("q22_idle_balance", q22_idle_balance, Q22_SQL),
        Query("q2_min_cost_supplier", q2_min_cost_supplier, Q2_SQL),
        Query("q4_order_priority", q4_order_priority, Q4_SQL),
        Query("q5_region_revenue", q5_region_revenue, Q5_SQL),
        Query("q1_pricing_summary", q1_pricing_summary, Q1_SQL),
        Query("q18_large_orders", q18_large_orders, Q18_SQL),
        Query("q6_forecast_revenue", q6_forecast_revenue, Q6_SQL),
        Query("q7_nation_volume", q7_nation_volume, Q7_SQL),
        Query("topic_stats", topic_stats, TOPIC_STATS_SQL),
        Query("topk_orders", topk_orders, TOPK_SQL),
        Query("winnow_fingerprints_docs", winnow_fingerprints_docs,
              WINNOW_SQL),
        Query("knn_graph_embeddings", knn_graph_embeddings, KNN_GRAPH_SQL),
        Query("pq_index_topk_embeddings", pq_index_topk_embeddings,
              PQ_INDEX_SQL),
        Query("ivfpq_topk_embeddings", ivfpq_topk_embeddings, IVFPQ_SQL),
        Query("ivfpq_residual_topk_embeddings", ivfpq_residual_topk_embeddings,
              IVFPQ_RESIDUAL_SQL),
        Query("pq_fold_topk_embeddings", pq_fold_topk_embeddings, PQ_FOLD_SQL),
        Query("ivfpq_fold_topk_embeddings", ivfpq_fold_topk_embeddings,
              IVFPQ_FOLD_SQL),
        Query("ann_rerank_report", ann_rerank_report, RERANK_SQL),
        Query("ann_rerank_bounded", ann_rerank_bounded, RERANK_BOUNDED_SQL),
        Query("ivfpq_auto_topk_embeddings", ivfpq_auto_topk_embeddings,
              IVFPQ_AUTO_SQL),
        Query("ivfpq_rotated_topk_embeddings", ivfpq_rotated_topk_embeddings,
              IVFPQ_ROTATED_SQL),
        Query("pq_rotated_topk_embeddings", pq_rotated_topk_embeddings,
              PQ_ROTATED_SQL),
        Query("snapshot_time_travel_events", snapshot_time_travel_events,
              SNAPSHOT_TT_SQL),
        Query("maxsim_topk_embeddings", maxsim_topk_embeddings, MAXSIM_SQL),
        Query("q10_returned_items", q10_returned_items, Q10_SQL),
        Query("q11_important_parts", q11_important_parts, Q11_SQL),
        Query("q13_customer_distribution", q13_customer_distribution, Q13_SQL),
        Query("q14_promo_revenue", q14_promo_revenue, Q14_SQL),
        Query("q15_top_supplier", q15_top_supplier, Q15_SQL),
        Query("q16_supplier_variety", q16_supplier_variety, Q16_SQL),
        Query("q17_small_quantity_revenue", q17_small_quantity_revenue,
              Q17_SQL),
        Query("window_udaf_bigkey", window_udaf_bigkey,
              WINDOW_UDAF_BIGKEY_SQL),
        Query("contamination_check", contamination_check, CONTAM_SQL),
        Query("distinct_customers", distinct_customers, DISTINCT_SQL),
        Query("embedding_neardup_pairs", embedding_neardup_pairs,
              EMB_NEARDUP_SQL),
        Query("embedding_topk", embedding_topk, EMB_TOPK_SQL),
        Query("exact_dedup", exact_dedup, EXACT_DEDUP_SQL),
        Query("grouping_sets_lineitem", grouping_sets_lineitem, CUBE_SQL),
        Query("media_ppm_decode", media_ppm_decode, MEDIA_PPM_SQL),
        Query("media_wav_decode", media_wav_decode, MEDIA_WAV_SQL),
        Query("neardup_clusters", neardup_clusters, NEARDUP_CLUSTERS_SQL),
        Query("ngram_jaccard_pairs", ngram_jaccard_pairs, JACCARD_SQL),
        Query("pane_deltas_user", pane_deltas_user, PANE_DELTAS_SQL),
        Query("pattern_stats", pattern_stats, PATTERN_STATS_SQL),
        Query("persons_generator", persons_generator, PERSONS_SQL),
        Query("pii_redaction", pii_redaction, PII_SQL),
        Query("q8_market_share", q8_market_share, Q8_SQL),
        Query("q9_profit_by_nation", q9_profit_by_nation, Q9_SQL),
        Query("repetition_stats", repetition_stats, REPETITION_SQL),
        Query("rollup_orders", rollup_orders, ROLLUP_SQL),
        Query("running_revenue", running_revenue, RUNNING_SQL),
        Query("setops_customers", setops_customers, SETOPS_SQL),
        Query("simhash_docs", simhash_docs, SIMHASH_SQL),
        Query("tfidf_top_terms", tfidf_top_terms_docs, TFIDF_SQL),
        Query("pq_lloyd_adc_topk_embeddings", pq_lloyd_adc_topk_embeddings,
              PQ_LLOYD_SQL),
        Query("boilerplate_lines_docs", boilerplate_lines_docs,
              BOILERPLATE_LINES_SQL),
        Query("pq_adc_topk_embeddings", pq_adc_topk_embeddings, PQ_ADC_SQL),
        Query("window_udaf_median", window_udaf_median, WINDOW_UDAF_SQL),
        Query("chunk_reassembly", chunk_reassembly, CHUNK_SQL),
        Query("compaction_event_time", compaction_event_time, COMPACT_ET_SQL),
        Query("compaction_publish_order", compaction_publish_order,
              COMPACT_PUB_SQL),
        Query("delayed_withheld", delayed_withheld, DELAYED_SQL),
        Query("entry_filter_routing", entry_filter_routing, ENTRY_FILTER_SQL),
        Query("key_shared_summary", key_shared_summary, KEY_SHARED_SQL),
        Query("q3_shipping_priority", q3_shipping_priority, Q3_SQL),
        Query("session_windows_users", session_windows_users, SESSION_SQL),
        Query("sliding_window_hourly", sliding_window_hourly, SLIDING_SQL),
        Query("tableview_events", tableview_events, TABLEVIEW_SQL),
        Query("tumbling_window_hourly", tumbling_window_hourly, TUMBLING_SQL),
        Query("language_id", language_id, LANG_ID_SQL),
        Query("q20_excess_suppliers", q20_excess_suppliers, Q20_SQL),
        Query("bloom_semijoin_orders", bloom_semijoin_orders,
              BLOOM_SEMIJOIN_SQL),
        Query("bpe_pair_counts_docs", bpe_pair_counts_docs, BPE_PAIRS_SQL),
        Query("cluster_safe_split", cluster_safe_split,
              CLUSTER_SAFE_SPLIT_SQL),
        Query("embedding_ann_ivf", embedding_ann_ivf, ANN_IVF_SQL),
        Query("embedding_ann_lsh", embedding_ann_lsh, ANN_LSH_SQL),
        Query("embedding_ann_lsh_multiprobe", embedding_ann_lsh_multiprobe,
              ANN_LSH_MULTIPROBE_SQL),
        Query("embedding_neardup_blocked", embedding_neardup_blocked,
              EMB_NEARDUP_BLOCKED_SQL),
        Query("funnel_conversion_events", funnel_conversion_events,
              FUNNEL_CONV_SQL),
        Query("heavy_hitter_words", heavy_hitter_words, HEAVY_HITTERS_SQL),
        Query("html_strip_docs", html_strip_docs, HTML_STRIP_SQL),
        Query("label_centroid_stats", label_centroid_stats_emb,
              LABEL_CENTROID_SQL),
        Query("levenshtein_neardup_docs", levenshtein_neardup_docs,
              LEVENSHTEIN_SQL),
        Query("media_features", media_features, MEDIA_FEATURES_SQL),
        Query("neardup_clusters_lsh", neardup_clusters_lsh,
              NEARDUP_CLUSTERS_LSH_SQL),
        Query("pack_sequences_docs", pack_sequences_docs, PACK_SQL),
        Query("salted_hot_key_agg", salted_hot_key_agg, SALTED_SQL),
        Query("stratified_sample_docs", stratified_sample_docs,
              STRATIFIED_SQL),
        Query("subscription_backlog_events", subscription_backlog_events,
              SUBSCRIPTION_BACKLOG_SQL),
        Query("topic_digest_events", topic_digest_events, TOPIC_DIGEST_SQL),
        Query("weighted_sample_docs", weighted_sample_docs,
              WEIGHTED_SAMPLE_SQL),
        Query("auto_consume_events", auto_consume_events, AUTO_CONSUME_SQL),
        Query("batch_receive_cap", batch_receive_cap, BATCH_RECEIVE_SQL),
        Query("antijoin_idle_customers", antijoin_idle_customers,
              ANTIJOIN_SQL),
        Query("asof_join_events_salted", asof_join_events_salted, ASOF_SQL),
        Query("q12_shipmode_priority", q12_shipmode_priority, Q12_SQL),
        Query("analytic_functions_orders", analytic_functions_orders,
              ANALYTIC_FUNCS_SQL),
        Query("asof_join_events", asof_join_events, ASOF_SQL),
        Query("bigram_lm_docs", bigram_lm_docs, BIGRAM_LM_SQL),
        Query("bm25_retrieval_docs", bm25_retrieval_docs, BM25_SQL),
        Query("boilerplate_removal_docs", boilerplate_removal_docs,
              BOILERPLATE_SQL),
        Query("chunk_docs", chunk_docs, CHUNK_DOCS_SQL),
        Query("cms_counts_events", cms_counts_events, CMS_SQL),
        Query("corpus_filter_funnel", corpus_filter_funnel, FUNNEL_SQL),
        Query("dataset_mixing", dataset_mixing, MIX_SQL),
        Query("dq_checks_orders", dq_checks_orders, DQ_CHECKS_SQL),
        Query("dq_unique_nullkeys_events", dq_unique_nullkeys_events,
              DQ_UNIQUE_NULLKEYS_SQL),
        Query("dup_span_docs", dup_span_docs, DUP_SPAN_SQL),
        Query("gapfill_events", gapfill_events, GAPFILL_SQL),
        Query("interval_join_events", interval_join_events, INTERVAL_JOIN_SQL),
        Query("kcenter_coreset_embeddings", kcenter_coreset_embeddings,
              KCENTER_SQL),
        Query("key_skew_stats_events", key_skew_stats_events, KEY_SKEW_SQL),
        Query("kmeans_embeddings_clusters", kmeans_embeddings_clusters,
              KMEANS_SQL),
        Query("kmv_distinct_events", kmv_distinct_events, KMV_SQL),
        Query("minhash_lsh_pairs", minhash_lsh_pairs, MINHASH_SQL),
        Query("mixture_sample_docs", mixture_sample_docs, MIXTURE_SAMPLE_SQL),
        Query("multi_topic_counts", multi_topic_counts, MULTI_TOPIC_SQL),
        Query("oov_rate_docs", oov_rate_docs, OOV_SQL),
        Query("pivot_event_matrix", pivot_event_matrix, PIVOT_SQL),
        Query("profile_lineitem", profile_lineitem, PROFILE_SQL),
        Query("quality_classifier_docs", quality_classifier_docs,
              QUALITY_CLASSIFIER_SQL),
        Query("quantile_sketch_docs", quantile_sketch_docs,
              QUANTILE_SKETCH_DOCS_SQL),
        Query("quantile_sketch_events", quantile_sketch_events,
              QUANTILE_SKETCH_SQL),
        Query("range_rolling_user_value", range_rolling_user_value,
              RANGE_ROLLING_SQL),
        Query("rrf_hybrid_retrieval", rrf_hybrid_retrieval, RRF_SQL),
        Query("shuffle_shards_docs", shuffle_shards_docs, SHUFFLE_SHARDS_SQL),
        Query("split_leakage", split_leakage, LEAKAGE_SQL),
        Query("token_budget_docs", token_budget_docs, TOKEN_BUDGET_SQL),
        Query("train_split_stats", train_split_stats, SPLIT_SQL),
        Query("zorder_block_stats_events", zorder_block_stats_events,
              ZORDER_SQL),
        Query("compacted_read_path", compacted_read_path, COMPACTED_READ_SQL),
        Query("count_windows_user", count_windows_user, COUNT_WINDOW_SQL),
        Query("dedup_sequence_ids", dedup_sequence_ids, DEDUP_SEQ_SQL),
        Query("media_frame_schedule", media_frame_schedule, MEDIA_FRAMES_SQL),
        Query("retry_dlq_routing", retry_dlq_routing, RETRY_SQL),
        Query("text_stats", text_stats, TEXT_STATS_SQL),
        Query("ttl_recent_events", ttl_recent_events, TTL_SQL),
        ]
}
