"""Relational operator queries (SURVEY §2.1-2.7) over the driver testdata.

Each query is the Spark-first expression of an operator family the reference
implements in pandas; citations point at the reference site it re-expresses.
The flagship (``flagship_bounded_max``) is the E1 pipeline shape — event
window -> first crossing -> bounded grouped max -> dim join -> having -> sort
(reference calculate_max_params.py driving optimal_pursuit.py:193-259) — run
set-at-a-time over every group in one pass instead of a ~12k-iteration loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_testdata_table as _t
from ..localrel import local_df as _local
from .registry import register


# ---------------------------------------------------------------------------
# Exact money arithmetic (round-7 determinism sweep)
#
# Money columns in the testdata are exact fixed-point decimals (prices and
# balances 2dp, so 2dp x 2dp products are 4dp, triple products 6dp). Summing
# them as doubles diverges across engines with accumulation order, and even
# DECIMAL-cast sums diverge once the scaled integer exceeds 2^53: DuckDB
# converts decimal->double via int128->double THEN /10^s (two roundings)
# while Spark's BigDecimal.doubleValue rounds once — at an exact half-cent
# boundary the 1-ulp gap flips floor(x*100+0.5) (tpch_q9's sf1 failure).
# The cure: per-row exact SCALED-INTEGER addends, decimal(38,0)/HUGEINT
# sums, and final rounding via true integer division ((S + half) div scale;
# ratios via (2A + B) div (2B) = half-up of A/B) — no float exists anywhere
# until one final exact cents/10^k division both engines share. Spark's
# `div` on decimals is true integral division (returns LONG); the matching
# DuckDB operator is `//` on HUGEINT.
# ---------------------------------------------------------------------------

_D38 = "decimal(38,0)"


def _scaled(expr: F.Column, dp: int) -> F.Column:
    """Exact scaled-integer addend: recover the dp-decimal value as an
    integer via floor(x*10^dp + 0.5) (double ulp error is orders of
    magnitude inside the 0.5 recovery margin for these magnitudes), then
    widen to decimal(38,0) so sums never overflow or round."""
    return (
        F.floor(expr * (10 ** dp) + F.lit(0.5)).cast("long").cast(_D38)
    )


def _money2(sum_col: F.Column, dp_in: int) -> F.Column:
    """Exact 2dp money from a decimal(38,0) sum of 10^-dp_in addends:
    half-up to cents in exact decimal arithmetic, then one correctly
    rounded double division both engines share. For dp_in == 2 the sum
    already IS cents."""
    if dp_in == 2:
        return sum_col.cast("long") / 100.0
    scale = 10 ** (dp_in - 2)
    return (
        F.floor((sum_col + F.lit(scale // 2)) / scale).cast("long") / 100.0
    )


# ---------------------------------------------------------------------------
# Flagship: E1 shape on the events table
# ---------------------------------------------------------------------------

_FLAGSHIP_ORACLE = """
WITH win AS (
    SELECT user_id,
           coalesce(min(ts) FILTER (WHERE event_type = 'signup'),
                    min(ts) FILTER (WHERE event_type = 'view'))    AS start_ts,
           min(ts) FILTER (WHERE event_type = 'purchase')          AS stop_ts
    FROM events GROUP BY user_id
),
crossing AS (
    SELECT e.user_id, min(e.ts) AS crossing_ts
    FROM events e JOIN win w ON e.user_id = w.user_id
    WHERE e.value > 25.0 AND e.ts > w.start_ts
    GROUP BY e.user_id
),
bounded AS (
    SELECT e.user_id, max(e.value) AS max_val, count(*) AS n_window
    FROM events e
    JOIN win w ON e.user_id = w.user_id
    JOIN crossing c ON e.user_id = c.user_id
    WHERE e.ts >= w.start_ts AND e.ts < c.crossing_ts
    GROUP BY e.user_id
)
SELECT b.user_id,
       cu.c_name                AS user_name,
       b.max_val                AS max_val,
       b.n_window               AS n_window,
       epoch_us(w.start_ts)     AS start_us,
       epoch_us(c.crossing_ts)  AS crossing_us,
       epoch_us(w.stop_ts)      AS stop_us
FROM bounded b
JOIN win w      ON b.user_id = w.user_id
JOIN crossing c ON b.user_id = c.user_id
LEFT JOIN customer cu ON cu.c_custkey = b.user_id
WHERE b.n_window >= 2
"""


@register(
    "flagship_bounded_max",
    _FLAGSHIP_ORACLE,
    doc="E1 pipeline shape: W1 event window + W2 first crossing + A1 bounded max "
    "+ J2 broadcast dim join + O2 having (reference optimal_pursuit.py:193-259). "
    "Single-scan form: W1/W2 run as stacked window expressions over ONE "
    "user_id partitioning — the aggregate+join-back composition evaluated "
    "the events subtree four times (no DataFrame subtree CSE), this plan "
    "scans events once with one exchange.",
)
def flagship_bounded_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import event_window_exprs, first_crossing_expr

    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")

    w = Window.partitionBy("user_id")  # unbounded frame: group-wide mins
    start_c, stop_c = event_window_exprs(
        w, "ts", "event_type",
        start_events=["signup"], stop_events=["purchase"],
        fallback_start_event="view",
    )
    # Two stacked Window nodes (the crossing references start_ts, and a
    # window expression cannot nest inside another) — same partitioning,
    # so ONE exchange serves both plus the final aggregation.
    ev_w = events.select(
        "*", start_c.alias("start_ts"), stop_c.alias("stop_ts")
    ).withColumn(
        "crossing_ts",
        first_crossing_expr(w, "ts", F.col("value") > 25.0, F.col("start_ts")),
    )
    bounded = (
        ev_w.filter(
            (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("crossing_ts"))
        )
        .groupBy("user_id", "start_ts", "crossing_ts", "stop_ts")
        .agg(
            F.max("value").alias("max_val"),
            F.count(F.lit(1)).alias("n_window"),
        )
    )

    return (
        bounded.filter(F.col("n_window") >= 2)
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("user_id"), "left")
        .select(
            "user_id",
            F.col("c_name").alias("user_name"),
            "max_val",
            "n_window",
            F.unix_micros("start_ts").alias("start_us"),
            F.unix_micros("crossing_ts").alias("crossing_us"),
            F.unix_micros("stop_ts").alias("stop_us"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation suite (A1-A6) — TPC-H-style headliners
# ---------------------------------------------------------------------------


@register(
    "tpch_q1_pricing_summary",
    """
    WITH s AS (
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sq,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sbp,
               sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 10000 + 0.5) AS BIGINT)) AS sdp,
               sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              * 1000000 + 0.5) AS BIGINT)) AS sch,
               sum(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS sd
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sq AS DOUBLE)                                  AS sum_qty,
           CAST(sbp AS BIGINT) / 100.0                         AS sum_base_price,
           CAST((sdp + 50) // 100 AS BIGINT) / 100.0           AS sum_disc_price,
           CAST((sch + 5000) // 10000 AS BIGINT) / 100.0       AS sum_charge,
           CAST((20000 * sq + n) // (2 * n) AS BIGINT) / 10000.0 AS avg_qty,
           CAST((200 * sbp + n) // (2 * n) AS BIGINT) / 10000.0  AS avg_price,
           CAST((200 * sd + n) // (2 * n) AS BIGINT) / 10000.0   AS avg_disc,
           n AS count_order
    FROM s
    """,
    doc="A2/A3 full-scan aggregate; partial+final hash agg, 6 groups (TPC-H "
    "Q1 shape). All eight statistics derive from exact scaled-integer "
    "sufficient statistics (quantity integral, price/discount 2dp, "
    "disc_price 4dp, charge 6dp): sums in decimal(38,0)/HUGEINT, 2dp/4dp "
    "outputs via true integer division ((S + half) div scale; averages "
    "via (2A + B) div (2B) = half-up of A/B) — no float accumulates and "
    "no engine round() is ever called, so the six group rows stay "
    "hash-identical at any scale factor.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long").cast(_D38)).alias("sq"),
            F.sum(_scaled(F.col("l_extendedprice"), 2)).alias("sbp"),
            F.sum(_scaled(disc_price, 4)).alias("sdp"),
            F.sum(_scaled(disc_price * (1 + F.col("l_tax")), 6)).alias("sch"),
            F.sum(_scaled(F.col("l_discount"), 2)).alias("sd"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sq").cast("double").alias("sum_qty"),
            (F.col("sbp").cast("long") / 100.0).alias("sum_base_price"),
            _money2(F.col("sdp"), 4).alias("sum_disc_price"),
            _money2(F.col("sch"), 6).alias("sum_charge"),
            (
                F.expr("CAST((20000 * sq + n) div (2 * n) AS BIGINT)")
                / 10000.0
            ).alias("avg_qty"),
            (
                F.expr("CAST((200 * sbp + n) div (2 * n) AS BIGINT)")
                / 10000.0
            ).alias("avg_price"),
            (
                F.expr("CAST((200 * sd + n) div (2 * n) AS BIGINT)")
                / 10000.0
            ).alias("avg_disc"),
            F.col("n").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 10000 + 0.5) AS BIGINT)) + 50) // 100
                AS BIGINT) / 100.0 AS revenue,
           epoch_us(o_orderdate)                             AS orderdate_us,
           o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    HAVING CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 10000 + 0.5) AS BIGINT)) + 50) // 100
                AS BIGINT) / 100.0 > 1000.0
    """,
    doc="J1/J2 broadcast dim join + A3 grouped sum + HAVING (TPC-H Q3 shape). "
    "Revenue follows the exact scaled-integer money protocol (see the "
    "module banner): 4dp addends as integers, decimal(38,0)/HUGEINT sums, "
    "half-up to cents by integer division.",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money2(F.sum(_scaled(disc_price, 4)), 4).alias("revenue"))
        .filter(F.col("revenue") > 1000.0)
        .select(
            "l_orderkey",
            "revenue",
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            "o_orderpriority",
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 10000 + 0.5) AS BIGINT)) + 50) // 100
                AS BIGINT) / 100.0 AS revenue,
           count(*) AS n_items
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="Multi-way star join (region->nation->customer->orders->lineitem), "
    "all dims broadcast. Nation-level revenue grows with scale, so it uses "
    "the exact scaled-integer money protocol (module banner).",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dims), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            _money2(
                F.sum(
                    _scaled(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                    )
                ),
                4,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="Semi-join (EXISTS) + grouped count (TPC-H Q4 shape); the correlated "
    "subquery becomes a left_semi hash join.",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST((sum(CAST(floor(l_extendedprice * l_discount
                                * 10000 + 0.5) AS BIGINT)) + 50) // 100
                AS BIGINT) / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="Pure scan-filter-aggregate (TPC-H Q6 shape): every predicate pushes "
    "to the parquet scan, one partial+final agg, no shuffle of data rows.",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _money2(F.sum(_scaled(rev, 4)), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q10_returned_items",
    """
    WITH agg AS (
        SELECT c_custkey, c_name, n_name,
               CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                    * 10000 + 0.5) AS BIGINT)) + 50) // 100
                    AS BIGINT) / 100.0 AS revenue
        FROM customer
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name, n_name
    )
    SELECT c_custkey, c_name, n_name, revenue
    FROM (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rk FROM agg)
    WHERE rk <= 20
    """,
    doc="Returned-item revenue top-20 (TPC-H Q10 shape): star join + grouped "
    "sum + distributed top-k (TakeOrderedAndProject, tie-broken on key).",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_money2(F.sum(_scaled(rev, 4)), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q12_shipmode_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
    doc="Conditional pivot counts inside one aggregate (TPC-H Q12 shape).",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            # BIGINT on BOTH sides: DuckDB's sum(int) is HUGEINT while
            # Spark's is BIGINT — the r2 driver hasher flagged the pair
            # despite identical values, so both engines now emit bigint.
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    """
    WITH s AS (
        SELECT sum(CASE WHEN p_type LIKE 'PROMO%'
                        THEN CAST(floor(l_extendedprice * (1 - l_discount)
                                        * 10000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS promo,
               sum(CAST(floor(l_extendedprice * (1 - l_discount)
                              * 10000 + 0.5) AS BIGINT)) AS total,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    )
    SELECT CAST((2000000 * promo + total) // (2 * total) AS BIGINT) / 10000.0
               AS promo_revenue_pct,
           n_items
    FROM s
    """,
    doc="Promo revenue share (TPC-H Q14 shape): fact-to-dim broadcast join + "
    "conditional ratio aggregate. The 4dp percentage is "
    "(2k*num + den) div (2*den) over exact scaled-integer sums — half-up "
    "rounding entirely in integer arithmetic, no float ratio (module "
    "banner).",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    rev4 = _scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    promo = F.sum(
        F.when(F.col("p_type").like("PROMO%"), rev4).otherwise(
            F.lit(0).cast(_D38)
        )
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            promo.alias("promo"),
            F.sum(rev4).alias("total"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            (
                F.expr(
                    "CAST((2000000 * promo + total) div (2 * total) AS BIGINT)"
                )
                / 10000.0
            ).alias("promo_revenue_pct"),
            "n_items",
        )
    )


@register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    doc="Customer order-count distribution (TPC-H Q13 shape): outer join with "
    "a join-side predicate, then a group-of-groups histogram.",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q18_large_orders",
    """
    SELECT c_name, o_orderkey, epoch_us(o_orderdate) AS orderdate_us,
           o_totalprice, sum(l_quantity) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      AND c_custkey = o_custkey
      AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
    doc="Large-volume orders (TPC-H Q18 shape). Single-scan rewrite: the "
    "textbook IN-subquery form scans lineitem twice (HAVING aggregate + "
    "detail re-aggregation), but the detail re-aggregation recomputes "
    "EXACTLY the per-order sum the subquery produced — (o_orderkey) is "
    "the true grain of the final group-by since the other keys are "
    "functionally dependent on it. One aggregate + filter + joins gives "
    "identical output with one fact scan and one fact exchange "
    "(measured 21 s -> 6 s at the generated sf10).",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    tot = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        tot.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "o_orderkey",
            F.unix_micros("o_orderdate").alias("orderdate_us"),
            "o_totalprice", "total_qty",
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT CAST((2 * sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                 + 7) // 14 AS BIGINT) / 100.0 AS avg_yearly,
           count(*) AS n_small
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_size <= 10
      AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="Correlated aggregate subquery (TPC-H Q17 shape), decorrelated as a "
    "PER-PART WINDOW instead of an aggregate-plus-self-join: "
    "0.2*avg(l_quantity) OVER (PARTITION BY l_partkey) computes the "
    "threshold on the single filtered-lineitem subtree — the aggregate+join "
    "form reads the fact twice because Catalyst does not CSE DataFrame "
    "subtrees (same finding as Q18/Q21/TF-IDF). One fact scan, one "
    "exchange on l_partkey. l_quantity is integral so the threshold is "
    "cross-engine exact.",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    small_parts = p.filter(F.col("p_size") <= 10).select("p_partkey")
    li = l.join(
        F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey")
    )
    qty_lim = (F.avg("l_quantity").over(Window.partitionBy("l_partkey")) * 0.2)
    return (
        li.withColumn("qty_lim", qty_lim)
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            F.sum(_scaled(F.col("l_extendedprice"), 2)).alias("sc"),
            F.count(F.lit(1)).alias("n_small"),
        )
        .select(
            # avg_yearly = cents-sum / 7 half-up to cents: (2S + 7) div 14
            (F.expr("CAST((2 * sc + 7) div 14 AS BIGINT)") / 100.0).alias(
                "avg_yearly"
            ),
            "n_small",
        )
    )


@register(
    "tpch_q19_disjunctive_join",
    """
    SELECT CAST((sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 10000 + 0.5) AS BIGINT)) + 50) // 100
                AS BIGINT) / 100.0 AS revenue,
           count(*) AS n_items
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
          (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
             AND l_quantity BETWEEN 1 AND 21)
       OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 25
             AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
             AND l_quantity BETWEEN 20 AND 40))
    """,
    doc="Disjunctive multi-attribute join predicates (TPC-H Q19 shape): the "
    "equi-key carries the hash join; the OR-of-conjunctions evaluates as a "
    "post-join filter with each side's single-table conjuncts (p_brand/p_size, "
    "l_quantity ranges) pushed below the join by Catalyst.",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 21)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 40)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            _money2(F.sum(_scaled(rev, 4)), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q21_waiting_supplier",
    """
    SELECT s_name, count(*) AS numwait
    FROM lineitem l1, supplier
    WHERE s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    """,
    doc="EXISTS + NOT EXISTS correlated self-joins (TPC-H Q21 shape): the "
    "sole-R-supplier-on-multi-supplier-orders query. Rather than the naive "
    "two self-joins (which shuffle the full fact table three times), the "
    "correlated predicates collapse into ONE scan: per (order, supplier) "
    "R-row counts, re-aggregated per order into (distinct suppliers, "
    "distinct R-suppliers). A row satisfies EXISTS(other supplier) AND NOT "
    "EXISTS(other R-supplier) iff its order has n_supp > 1 and exactly one "
    "R-supplier — itself. Both aggregates and the re-join hash on "
    "l_orderkey, so the exchange is planned once (2x faster than the "
    "self-join form at sf0.1).",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    # Repartition on l_orderkey ALONE (a subset of the grouping key) so the
    # (order, supplier) aggregate, and the per-order window after it, both
    # run on the SAME single exchange — Catalyst would otherwise plan a
    # second scan for the per-order re-aggregate, since DataFrame subtree
    # reuse is not common-subexpression-eliminated across branches.
    per_pair = (
        l.select("l_orderkey", "l_suppkey", "l_returnflag")
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_r_rows"))
    )
    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_pair.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_supp_r", F.sum((F.col("n_r_rows") > 0).cast("int")).over(w))
        .filter(
            (F.col("n_r_rows") > 0)
            & (F.col("n_supp") > 1)
            & (F.col("n_supp_r") == 1)
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_r_rows").alias("numwait"))
    )


@register(
    "tpch_q22_dormant_accounts",
    """
    WITH thr AS (
        SELECT CAST((200 * sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                     + count(*)) // (2 * count(*)) AS BIGINT) AS t
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS totacctbal
    FROM customer c
    WHERE 100 * CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) > (SELECT t FROM thr)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
    doc="Scalar aggregate subquery + NOT EXISTS (TPC-H Q22 shape): the "
    "above-average-balance customers with no urgent orders. The scalar avg "
    "is a broadcast single-row join; NOT EXISTS is a left_anti against the "
    "filtered orders. The 4dp threshold is (2A + B) div (2B) over exact "
    "cent sums and the membership test compares scaled INTEGERS (100 * "
    "cents > threshold), so no float average or comparison exists to "
    "diverge (module banner); totacctbal is the exact cent sum.",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cents = _scaled(F.col("c_acctbal"), 2)
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(cents).alias("sc"), F.count(F.lit(1)).alias("n"))
        .select(F.expr("CAST((200 * sc + n) div (2 * n) AS BIGINT)").alias("t"))
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.join(F.broadcast(thr))
        .filter(cents * 100 > F.col("t"))
        .join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _money2(F.sum(cents), 2).alias("totacctbal"),
        )
    )


@register(
    "pivot_priority_by_nation",
    """
    SELECT n.n_name,
           count(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')        AS p_urgent,
           count(*) FILTER (WHERE o.o_orderpriority = '2-HIGH')          AS p_high,
           count(*) FILTER (WHERE o.o_orderpriority = '3-MEDIUM')        AS p_medium,
           count(*) FILTER (WHERE o.o_orderpriority
                            IN ('4-NOT SPECIFIED', '5-LOW'))             AS p_other
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="PIVOT: long-to-wide order counts per nation by priority class. "
    "The EXPLICIT value list matters at scale: without it Spark runs a "
    "distinct scan over the pivot column first — a full extra pass at "
    "100 TB. The pivot itself plans as a two-level aggregate; the second "
    "level runs over |groups| x |values| already-aggregated rows, "
    "negligible at any scale (verified: 3 scans — one per table — and no "
    "value-discovery job).",
)
def pivot_priority_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    prio = (
        F.when(F.col("o_orderpriority") == "1-URGENT", "p_urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "p_high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "p_medium")
        .otherwise("p_other")
    )
    wide = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("prio", prio)
        .groupBy("n_name")
        .pivot("prio", ["p_urgent", "p_high", "p_medium", "p_other"])
        .count()
    )
    # Pivot leaves NULL where a (nation, class) combo has no rows; the
    # FILTER-clause oracle counts 0 there.
    return wide.select(
        "n_name",
        *[F.coalesce(F.col(p), F.lit(0)).alias(p)
          for p in ("p_urgent", "p_high", "p_medium", "p_other")],
    )


@register(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, metric, value FROM (
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    )
    WHERE p_partkey < 500
    """,
    doc="UNPIVOT/melt: wide-to-long over part metrics via DataFrame.unpivot "
    "(Spark's Expand node — one pass emitting N rows per input row, no "
    "self-union re-scan like the SQL oracle's UNION ALL formulation).",
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.withColumn("p_retailprice", F.col("p_retailprice").cast("double")).withColumn(
        "p_size", F.col("p_size").cast("double")
    ).unpivot("p_partkey", ["p_retailprice", "p_size"], "metric", "value")


@register(
    "summary_stats",
    """
    SELECT c_mktsegment,
           count(*)                               AS n,
           round(avg(c_acctbal), 4)               AS mean_bal,
           round(stddev(c_acctbal), 4)            AS std_bal,
           min(c_acctbal)                         AS min_bal,
           round(quantile_cont(c_acctbal, 0.25), 4) AS p25_bal,
           round(quantile_cont(c_acctbal, 0.5), 4)  AS p50_bal,
           round(quantile_cont(c_acctbal, 0.75), 4) AS p75_bal,
           max(c_acctbal)                         AS max_bal
    FROM customer GROUP BY c_mktsegment
    """,
    doc="A2 describe(): count/mean/std/min/quartiles/max per group "
    "(reference plot_YAP.py:23,66-69). Exact interpolated percentiles.",
)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("c_acctbal"), 4).alias("mean_bal"),
        F.round(F.stddev("c_acctbal"), 4).alias("std_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 4).alias("p25_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.75)"), 4).alias("p75_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@register(
    "grouped_having_sort",
    """
    SELECT user_id, count(*) AS n_events,
           floor((200.0 * sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                  + count(*)) / (2.0 * count(*))) / 10000.0 AS mean_value,
           max(value) AS max_value
    FROM events GROUP BY user_id HAVING count(*) >= 20
    """,
    doc="A3 per-key stats + O2 having-threshold + O1 sort (reference plot_YAP.py:72-75). "
    "Replaces the reference's concat-accumulator loop with one hash aggregate. "
    "The mean is integer-exact: events.value is 2dp, so both engines sum "
    "exact cent-integers; the 4dp rounding is done in INTEGER space "
    "(floor((200*S + n)/(2n)) = half-up of 100*S/n) because a float avg() "
    "accumulates in engine-specific order AND the engines' round() "
    "functions disagree on exact half-boundaries — at sf0.1 one group's "
    "mean is exactly 49.19125: Spark HALF_UPs the shortest decimal repr "
    "to 49.1913, DuckDB rounds the binary double to 49.1912 (the round-7 "
    "scale find). floor on an identical IEEE quotient is unambiguous.",
)
def grouped_having_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    n = F.count(F.lit(1))
    return (
        e.groupBy("user_id")
        .agg(
            n.alias("n_events"),
            (
                F.floor((F.lit(200.0) * F.sum(cents) + n) / (F.lit(2.0) * n))
                / F.lit(10000.0)
            ).alias("mean_value"),
            F.max("value").alias("max_value"),
        )
        .filter(F.col("n_events") >= 20)
        .orderBy(F.col("mean_value").desc())
    )


@register(
    "opt_pareto_frontier",
    """
    WITH g AS (
        SELECT p_retailprice AS price, max(p_size) AS max_sz
        FROM part GROUP BY p_retailprice
    ),
    pm AS (
        SELECT price, max_sz,
               max(max_sz) OVER (ORDER BY price
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS prev_max
        FROM g
    )
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p JOIN pm ON p.p_retailprice = pm.price
    WHERE NOT (coalesce(pm.prev_max >= p.p_size, FALSE)
               OR pm.max_sz > p.p_size)
    """,
    doc="Pareto frontier / skyline query (Borzsony et al. ICDE'01 — public "
    "algorithm family): the parts no other part dominates on (maximize "
    "p_size, minimize p_retailprice). The naive form is an O(n^2) "
    "dominance self-join; this plan is the sort-based O(n log n) "
    "skyline: collapse to per-price max size (one hash aggregate), "
    "prefix-max over the price-ordered aggregate (one window over "
    "DISTINCT prices only — far smaller than the table), and one keyed "
    "join back to emit surviving rows. p is dominated iff a strictly "
    "cheaper part reaches its size (prev_max >= size) or an equal-price "
    "part strictly beats it (max_sz > size). The prefix max itself is "
    "BANDED on integer dollars (operators/prefix.py discipline): "
    "per-band maxima + a triangular join over the tiny band relation "
    "for each band's exclusive offset + a band-partitioned window — no "
    "single-partition global window at any scale; the oracle states the "
    "semantics as the plain global window this decomposes. A unit test "
    "cross-checks against the quadratic dominance join on the small "
    "fixture.",
)
def opt_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    g = p.groupBy(F.col("p_retailprice").alias("price")).agg(
        F.max("p_size").alias("max_sz")
    )
    g = g.withColumn("band", F.floor("price").cast("long"))
    bands = g.groupBy("band").agg(F.max("max_sz").alias("band_max"))
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    offsets = (
        b1.join(b2, F.col("b2.band") < F.col("b1.band"), "left")
        .groupBy(F.col("b1.band").alias("band"))
        .agg(F.max(F.col("b2.band_max")).alias("band_offset"))
    )
    w_in = (
        Window.partitionBy("band")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pm = (
        g.join(F.broadcast(offsets), "band")
        .withColumn("in_band_prev", F.max("max_sz").over(w_in))
        .select(
            "price",
            "max_sz",
            F.greatest("band_offset", "in_band_prev").alias("prev_max"),
        )
    )
    dominated = F.coalesce(
        F.col("prev_max") >= F.col("p_size"), F.lit(False)
    ) | (F.col("max_sz") > F.col("p_size"))
    return (
        p.join(pm, p["p_retailprice"] == pm["price"])
        .filter(~dominated)
        .select("p_partkey", "p_size", "p_retailprice")
    )


@register(
    "corr_per_group",
    """
    WITH s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(CAST(l_quantity AS BIGINT)) AS sx,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sy,
               sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
               sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS syy,
               sum(CAST(l_quantity AS BIGINT)
                   * CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) * 10000 + 0.5)
               / 10000.0 AS qty_price_corr,
           n
    FROM s
    """,
    doc="A4 Pearson correlation per group (reference plot_max_parameters.py:37-40). "
    "Computed from EXACT integer sufficient statistics (l_quantity is "
    "integer-valued, l_extendedprice exactly 2dp): Spark sums in "
    "decimal(38,0), DuckDB in HUGEINT, so accumulation order cannot drift "
    "the moments; one identical double formula + floor-parity rounding on "
    "both sides. A float corr() differs between engines at the ulp level "
    "(different co-moment recurrences), which flips the 4th decimal when a "
    "group's corr lands near a rounding boundary at larger scale factors.",
)
def corr_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    s = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast(dec)).alias("sx"),
        F.sum(y.cast(dec)).alias("sy"),
        F.sum((x * x).cast(dec)).alias("sxx"),
        F.sum((y * y).cast(dec)).alias("syy"),
        F.sum((x * y).cast(dec)).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "l_returnflag",
        (
            F.floor(num / F.sqrt(varx * vary) * 10000 + F.lit(0.5)) / 10000.0
        ).alias("qty_price_corr"),
        "n",
    )


@register(
    "histogram_bins",
    """
    SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin, count(*) AS n
    FROM events GROUP BY event_type, CAST(floor(value / 5.0) AS BIGINT)
    """,
    doc="A5 histogram binning per group (reference sns.histplot, plot_YAP.py:50).",
)
def histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.floor(F.col("value") / 5.0).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "distinct_keys",
    """
    SELECT user_id, event_type FROM events GROUP BY user_id, event_type
    """,
    doc="A6/O3 work-unit enumeration via distinct keys (reference calculate_YAP.py:20-21).",
)
def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").distinct()


# ---------------------------------------------------------------------------
# Filters / projections / scalar functions (P1-P6, F1-F9)
# ---------------------------------------------------------------------------


@register(
    "filter_project_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_quantity BETWEEN 10 AND 40
      AND l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
    """,
    doc="P1 projection + P4 disjunctive membership + P5 range filter; predicates and "
    "column pruning reach the parquet scan (verified via explain in tests).",
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.filter(
            F.col("l_returnflag").isin("A", "R")
            & F.col("l_quantity").between(10, 40)
            & (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias(
                "net_price"
            ),
        )
    )


@register(
    "point_lookup",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_totalprice = (SELECT max(o_totalprice) FROM orders)
    """,
    doc="P6 scalar point extraction kept as a join instead of .iloc scalarization "
    "(reference optimal_pursuit.py:143-144,156-163).",
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    max_price = o.agg(F.max("o_totalprice").alias("m"))
    return (
        o.join(F.broadcast(max_price), F.col("o_totalprice") == F.col("m"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority", "c_name", "c_mktsegment"
        )
    )


@register(
    "trig_heading_wrap",
    """
    SELECT event_id,
           round(degrees(atan2(sin(radians(value * 7.3)), cos(radians(value * 7.3)))), 4)
               AS wrapped_deg,
           round(value * sin(radians(value * 7.3)), 4) AS u,
           round(value * cos(radians(value * 7.3)), 4) AS v
    FROM events WHERE event_type = 'click'
    """,
    doc="F2 trig + angle wrap + velocity decomposition "
    "(reference optimal_pursuit.py:274-277,319-322).",
)
def trig_heading_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    deg = F.col("value") * 7.3
    rad = F.radians(deg)
    wrapped = F.degrees(F.atan2(F.sin(rad), F.cos(rad)))
    return e.select(
        "event_id",
        F.round(wrapped, 4).alias("wrapped_deg"),
        F.round(F.col("value") * F.sin(rad), 4).alias("u"),
        F.round(F.col("value") * F.cos(rad), 4).alias("v"),
    )


@register(
    "conditional_recode_clip",
    """
    SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                WHEN event_type IN ('signup', 'purchase') THEN 'conversion'
                ELSE 'other' END AS event_class,
           count(*) AS n,
           CAST(sum(CAST(floor(greatest(value - 20.0, 0.0) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) / 100.0 AS clipped_sum
    FROM events
    GROUP BY CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                  WHEN event_type IN ('signup', 'purchase') THEN 'conversion'
                  ELSE 'other' END
    """,
    doc="F7/W5 conditional recode + clip (reference plot_YAP.py:42,44-46 position "
    "coarsening and YAP clip).",
)
def conditional_recode_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    event_class = (
        F.when(F.col("event_type").isin("click", "view"), "engagement")
        .when(F.col("event_type").isin("signup", "purchase"), "conversion")
        .otherwise("other")
    )
    return (
        e.withColumn("event_class", event_class)
        .groupBy("event_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _money2(
                F.sum(_scaled(F.greatest(F.col("value") - 20.0, F.lit(0.0)), 2)),
                2,
            ).alias("clipped_sum"),
        )
    )


@register(
    "case_lookup_dim_join",
    """
    WITH prio AS (
        SELECT * FROM (VALUES ('1-URGENT', 5.0), ('2-HIGH', 4.0), ('3-MEDIUM', 3.0))
            AS t(priority, weight)
    )
    SELECT o_orderpriority,
           CASE WHEN weight IS NULL THEN 'error' ELSE 'ok' END AS status,
           count(*) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                    * CAST(floor(coalesce(weight, 0.0) + 0.5) AS BIGINT))
                AS BIGINT)
               / 100.0 AS weighted_price
    FROM orders LEFT JOIN prio ON o_orderpriority = priority
    GROUP BY o_orderpriority, CASE WHEN weight IS NULL THEN 'error' ELSE 'ok' END
    """,
    doc="F8 lookup table as broadcast dim join; unknown keys become error-status rows "
    "instead of raising (reference optimal_pursuit.py:458-477 missing-else semantics, S4).",
)
def case_lookup_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    prio = _local(
        o.sparkSession,
        [("1-URGENT", 5.0), ("2-HIGH", 4.0), ("3-MEDIUM", 3.0)],
        "priority string, weight double",
    )
    return (
        o.join(F.broadcast(prio), F.col("o_orderpriority") == F.col("priority"), "left")
        .withColumn("status", F.when(F.col("weight").isNull(), "error").otherwise("ok"))
        .groupBy("o_orderpriority", "status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # weight is rounded half-up to an integer with the SAME
            # floor(x + 0.5) expression as the oracle — a bare long cast
            # truncates toward zero on Spark but rounds to nearest in
            # DuckDB, so the engines would diverge on any future
            # fractional weight
            _money2(
                F.sum(
                    _scaled(F.col("o_totalprice"), 2)
                    * F.floor(F.coalesce("weight", F.lit(0.0)) + 0.5).cast(
                        "long"
                    )
                ),
                2,
            ).alias("weighted_price"),
        )
    )


@register(
    "timestamp_parts",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS total
    FROM orders GROUP BY 1, 2
    """,
    doc="F5 timestamp decomposition + calendar aggregation; exact cent sums "
    "(module banner).",
)
def timestamp_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        _money2(F.sum(_scaled(F.col("o_totalprice"), 2)), 2).alias("total"),
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4) and set ops (O3-O5)
# ---------------------------------------------------------------------------


@register(
    "join_multi_key",
    """
    WITH a AS (SELECT user_id, event_type, count(*) AS n
               FROM events GROUP BY user_id, event_type),
         b AS (SELECT user_id, event_type,
                      floor(CAST(sum(CAST(value AS DECIMAL(24,10))) AS DOUBLE)
                            / count(*) * 10000 + 0.5) / 10000 AS mean_value
               FROM events WHERE value > 10 GROUP BY user_id, event_type)
    SELECT a.user_id, a.event_type, a.n, b.mean_value
    FROM a LEFT JOIN b ON a.user_id = b.user_id AND a.event_type = b.event_type
    """,
    doc="J3 multi-column left equi-join (reference plot_YAP.py:36,41).",
)
def join_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    a = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    b = (
        e.filter(F.col("value") > 10)
        .groupBy("user_id", "event_type")
        .agg(
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(24,10)")).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_value")
        )
    )
    return a.join(b, ["user_id", "event_type"], "left").select(
        "user_id", "event_type", "n", "mean_value"
    )


@register(
    "temporal_self_join",
    """
    SELECT c.user_id,
           epoch_us(date_trunc('hour', c.ts)) AS hour_bucket_us,
           count(*) AS n_pairs,
           round(avg(p.value - c.value), 4) AS mean_value_lift
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND date_trunc('hour', c.ts) = date_trunc('hour', p.ts)
     AND c.event_type = 'click' AND p.event_type = 'purchase'
    GROUP BY c.user_id, date_trunc('hour', c.ts)
    """,
    doc="J4 temporal self-join / frame alignment (reference optimal_pursuit.py:217-219 "
    "carrier-vs-tackler positional subtraction, made an explicit equi-join).",
)
def temporal_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.date_trunc("hour", "ts").alias("hb"), F.col("value").alias("c_value")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.date_trunc("hour", "ts").alias("p_hb"),
        F.col("value").alias("p_value"),
    )
    joined = c.join(p, (F.col("user_id") == F.col("p_user")) & (F.col("hb") == F.col("p_hb")))
    out = joined.groupBy("user_id", "hb").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(F.col("p_value") - F.col("c_value")), 4).alias("mean_value_lift"),
    )
    return out.select(
        "user_id", F.unix_micros("hb").alias("hour_bucket_us"), "n_pairs", "mean_value_lift"
    )


@register(
    "batch_sessionize",
    """
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        > 3600000000
                     OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, count(DISTINCT session_id) AS n_sessions,
           max(cnt) AS max_session_events
    FROM (SELECT user_id, session_id, count(*) AS cnt
          FROM sessions GROUP BY user_id, session_id)
    GROUP BY user_id
    """,
    doc="Batch sessionization (gaps-and-islands): a >1h silence starts a new "
    "session; new-session flags cumulative-sum into session ids, then two "
    "aggregates. The batch twin of streaming.sessionized_play_stats.",
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_session = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 3600 * 1_000_000), 1
    ).otherwise(0)
    sessions = e.withColumn("new_session", new_session).withColumn(
        "session_id",
        F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.max("cnt").alias("max_session_events"),
    )


@register(
    "asof_last_purchase",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, max(value) AS pvalue FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
           p.pvalue AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    doc="AS-OF join (each click matched to the user's latest preceding "
    "purchase) — an operator Spark lacks natively, built as union + ordered "
    "window carry-forward (operators/temporal.py:asof_join): one shuffle + "
    "one sort per key vs the O(left x right) inequality join. Oracle uses "
    "DuckDB's native ASOF JOIN.",
)
def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join(clicks, purch, by="user_id", value_cols=["pvalue"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_pvalue").alias("last_purchase_value"),
    )


@register(
    "range_join_near_events",
    """
    WITH s AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT s.user_id, epoch_us(s.ts) AS ts_us, s.event_id,
           count(c.user_id) AS n_in_range
    FROM s LEFT JOIN c
      ON s.user_id = c.user_id
     AND abs(epoch_us(c.ts) - epoch_us(s.ts)) <= 1800 * 1000000
    GROUP BY s.user_id, epoch_us(s.ts), s.event_id
    """,
    doc="Range join (clicks within +/-30 min of each signup) via interval "
    "bucketing (operators/temporal.py:range_join_count): probe rows explode "
    "to <=3 fixed-width buckets and the join is a hash EQUI-join on "
    "(key, bucket) — not the BroadcastNestedLoopJoin a raw inequality "
    "condition would plan.",
)
def range_join_near_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import range_join_count

    e = _t(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(
        signups, clicks, by="user_id", probe_ts="ts", build_ts="ts", radius_sec=1800
    ).select("user_id", "ts_us", "event_id", "n_in_range")


@register(
    "semi_anti_join",
    """
    SELECT 'with_orders' AS bucket, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS bucket, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Semi/anti joins (free Spark built-ins the reference lacks, SURVEY §2.3).",
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("bucket"), "n")
    )
    without_orders = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("without_orders").alias("bucket"), "n")
    )
    return with_orders.unionByName(without_orders)


@register(
    "union_dedup_sorted",
    """
    SELECT nationkey, n_name FROM (
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        UNION
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    ) JOIN nation ON nationkey = n_nationkey
    """,
    doc="O4 union + O3 dedup + J1 dim join (reference pd.concat accumulator, plot_YAP.py:25).",
)
def union_dedup_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    n = _t(spark, sf_dir, "nation")
    return (
        c.unionByName(s)
        .distinct()
        .join(F.broadcast(n), F.col("nationkey") == F.col("n_nationkey"))
        .select("nationkey", "n_name")
    )


# ---------------------------------------------------------------------------
# Window / ordered-sequence queries (W1-W4 standalone)
# ---------------------------------------------------------------------------


@register(
    "offset_from_first",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - first_value(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS elapsed_us
    FROM events
    """,
    doc="W3 offset-from-first normalization (reference time-time[0], "
    "optimal_pursuit.py:290-291,446-447; nondeterministic now() origin dropped).",
)
def offset_from_first_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros("ts")
    return e.select(
        "event_id", "user_id", (us - F.first(us).over(w)).alias("elapsed_us")
    )


@register(
    "first_crossing_after_start",
    """
    WITH starts AS (
        SELECT user_id, min(ts) AS start_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    )
    SELECT e.user_id, min(e.event_id) AS crossing_event_id
    FROM events e JOIN starts s ON e.user_id = s.user_id
    WHERE e.value > 40.0 AND e.ts > s.start_ts
    GROUP BY e.user_id
    """,
    doc="W2 first-crossing detection (reference optimal_pursuit.py:222-226).",
)
def first_crossing_after_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    starts = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("start_ts"))
    )
    joined = e.join(starts, "user_id")
    return (
        joined.filter((F.col("value") > 40.0) & (F.col("ts") > F.col("start_ts")))
        .groupBy("user_id")
        .agg(F.min("event_id").alias("crossing_event_id"))
    )


@register(
    "rollup_hierarchy",
    """
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS n_suppliers,
           CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS total_bal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="Hierarchical ROLLUP totals (region -> nation -> grand total) in one "
    "aggregate — grouping-sets support the reference lacks (SURVEY §2.4 "
    "'not present; free in Spark').",
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            _money2(F.sum(_scaled(F.col("s_acctbal"), 2)), 2).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "n_suppliers",
            "total_bal",
        )
    )


@register(
    "cube_order_profile",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority): all four grouping sets in ONE "
    "aggregate pass (SURVEY \u00a72.4 'cube not present; free in Spark'). "
    "Spark expands the cube via a single Expand node feeding one hash "
    "aggregate with map-side partials \u2014 the fact table is scanned once, "
    "not once per grouping set. Decimal-cast sum keeps the hash "
    "accumulation-order-free; both key columns are non-null in the data "
    "so the coalesce 'ALL' sentinel is unambiguous.",
)
def cube_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money2(F.sum(_scaled(F.col("o_totalprice"), 2)), 2).alias(
                "total_price"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


@register(
    "set_ops_intersect_except",
    """
    WITH buyers AS (SELECT DISTINCT o_custkey AS custkey FROM orders
                    WHERE o_totalprice > 100000),
         building AS (SELECT c_custkey AS custkey FROM customer
                      WHERE c_mktsegment = 'BUILDING')
    SELECT 'both' AS bucket, count(*) AS n
    FROM (SELECT custkey FROM buyers INTERSECT SELECT custkey FROM building)
    UNION ALL
    SELECT 'buyers_only' AS bucket, count(*) AS n
    FROM (SELECT custkey FROM buyers EXCEPT SELECT custkey FROM building)
    """,
    doc="INTERSECT / EXCEPT set operators (SURVEY §2.6 'not present; free in "
    "Spark').",
)
def set_ops_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    buyers = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    building = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    both = buyers.intersect(building).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    only = buyers.exceptAll(building).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("buyers_only").alias("bucket"), "n"
    )
    return both.unionByName(only)


@register(
    "window_rank_family",
    """
    SELECT user_id, event_id,
           dense_rank() OVER w AS drk,
           ntile(4) OVER w AS quartile,
           round(cume_dist() OVER w, 4) AS cd
    FROM events
    WHERE event_type = 'signup'
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
    doc="dense_rank / ntile / cume_dist window family (SURVEY §2.5 'not "
    "present; free via pyspark.sql.Window').",
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.dense_rank().over(w).alias("drk"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    )


@register(
    "approx_count_distinct",
    """
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS approx_within_2pct
    FROM lineitem
    """,
    doc="HyperLogLog++ approximate distinct. The HLL sketch value itself is "
    "engine-specific, so the deterministic output is the exact count plus a "
    "boolean the Spark side computes from the sketch (|approx-exact| <= "
    "2% * exact) and the oracle emits as literal TRUE — the hash matches "
    "iff the sketch actually landed inside its bound. The sketch still "
    "runs in the plan (fixed-size mergeable state, the 100 TB path where "
    "exact countDistinct's shuffle-all-keys is not).",
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # Dedup the key FIRST (partial-aggregate map-side, one shuffle of
    # distinct keys), then run count + HLL over the key set in one pass.
    # An HLL sketch depends only on the SET of values, so the estimate is
    # bit-identical to sketching the raw column — but mixing
    # countDistinct with other aggregates in one agg plans through
    # Expand (row duplication per aggregate), measured 8 s at sf0.1 /
    # 42 s at sf1 for this query vs 1.2 s / 1.6 s in this form.
    keys = l.select("l_orderkey").distinct()
    acd = F.approx_count_distinct("l_orderkey", rsd=0.01)
    exact = F.count(F.lit(1)).cast("bigint")
    return keys.agg(
        exact.alias("exact_orders"),
        (F.abs(acd - exact) <= 0.02 * exact).alias("approx_within_2pct"),
    )


@register(
    "skew_salted_agg",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
               AS total_value,
           max(value) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="Salted two-phase aggregation on a LOW-cardinality (5 groups = "
    "maximally skewed reducer load) key: partials over (key, salt) spread "
    "the hot keys across reducers, then combine. Result identical to the "
    "direct groupBy (operators/skew.py).",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_agg

    e = _t(spark, sf_dir, "events").withColumn(
        "value_cents", _scaled(F.col("value"), 2)
    )
    out = salted_agg(
        e,
        ["event_type"],
        {"n": ("count", "*"), "total_cents": ("sum", "value_cents"), "max_value": ("max", "value")},
        n_salts=16,
    )
    return out.select(
        "event_type",
        "n",
        _money2(F.col("total_cents"), 2).alias("total_value"),
        "max_value",
    )


@register(
    "sql_interface",
    """
    SELECT c_mktsegment, count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               / 100.0 AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Same engine through the SQL API: temp views + spark.sql — the "
    "DataFrame and SQL surfaces compile to the same Catalyst plan.",
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_orders,
               -- CAST AS DOUBLE before /100.0: Spark SQL parses the 100.0
               -- literal as DECIMAL(4,1), and bigint/decimal would emit a
               -- decimal column where the oracle emits double
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS DOUBLE) / 100.0 AS total_price
        FROM v_orders JOIN v_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


@register(
    "argmax_per_group",
    """
    SELECT n_nationkey, n_name, s_suppkey AS top_suppkey, s_acctbal AS top_acctbal
    FROM (
        SELECT n_nationkey, n_name, s_suppkey, s_acctbal,
               row_number() OVER (PARTITION BY n_nationkey
                                  ORDER BY s_acctbal DESC, s_suppkey) AS rk
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
    ) WHERE rk = 1
    """,
    doc="Argmax-per-group via ranked window (the TPC-H Q2 min-cost-supplier "
    "shape): partitioned window, deterministic tie-break, rank filter.",
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "n_nationkey", "n_name",
            F.col("s_suppkey").alias("top_suppkey"),
            F.col("s_acctbal").alias("top_acctbal"),
        )
    )


@register(
    "ordered_rank_lag",
    """
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
           round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
               AS value_delta
    FROM events WHERE event_type = 'purchase'
    """,
    doc="Ordered ranking + lag deltas (SURVEY §2.5 'not present — free via Window'); "
    "the per-frame diff pattern of the tracking table.",
)
def ordered_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("rn"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


@register(
    "skew_salted_join",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, e.value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="Salt-and-replicate equi-join (operators/skew.py:salted_join): the "
    "fact side salts on a row id, the smaller side replicates once per "
    "salt, the join runs on (key, salt) — a hot key spreads over n_salts "
    "tasks instead of one. Row-identical to the plain join (the oracle IS "
    "the plain join); the explicit form of what AQE skew-splitting does "
    "adaptively, for pipelines that know their skew up front.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_mktsegment"
    )
    return salted_join(e, c, ["user_id"], n_salts=8).select(
        "event_id", "user_id", "c_name", "c_mktsegment", "value"
    )


@register(
    "grouped_percentiles",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_extendedprice, 0.25) * 10000 + 0.5) / 10000 AS p25,
           floor(quantile_cont(l_extendedprice, 0.50) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(l_extendedprice, 0.75) * 10000 + 0.5) / 10000 AS p75,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (Spark percentile() == "
    "DuckDB quantile_cont: both a + frac*(b-a) on the sorted group). Exact "
    "percentile materializes each group's values — correct but "
    "memory-bound at 100 TB; the approx_quantiles entry is the scale path "
    "(fixed-size sketch, mergeable map-side).",
)
def grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array of fractions: the group's
    # values buffer once and sort once, vs three separate percentile
    # aggregates each materializing the group (measured 8.3s -> 1.5s at
    # sf0.1).
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )

    def out(i, alias):
        return (
            F.floor(F.col("_pcts")[i] * 10000 + 0.5) / 10000
        ).alias(alias)

    return (
        l.groupBy("l_returnflag")
        .agg(pcts.alias("_pcts"), F.count(F.lit(1)).alias("n"))
        .select(
            "l_returnflag", out(0, "p25"), out(1, "p50"), out(2, "p75"), "n"
        )
    )


@register(
    "approx_quantiles",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000
               AS exact_p50,
           TRUE AS approx_within_halfpct,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Approximate percentiles via percentile_approx (Greenwald-Khanna "
    "sketch, accuracy 10000): fixed-size state, mergeable map-side partials "
    "— the 100 TB path where exact percentile's per-group sort/materialize "
    "is not. The sketch value is engine-specific, so the deterministic "
    "output is the exact interpolated median (matches DuckDB quantile_cont) "
    "plus a boolean the Spark side computes from the sketch "
    "(|approx-exact| <= 0.5% * exact) and the oracle emits as literal TRUE.",
)
def approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    approx = F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000))
    exact = F.percentile("l_extendedprice", F.lit(0.5))
    return l.groupBy("l_returnflag").agg(
        (F.floor(exact * 10000 + 0.5) / 10000).alias("exact_p50"),
        (F.abs(approx - exact) <= 0.005 * exact).alias("approx_within_halfpct"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "json_props_rollup",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS total_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="Semi-structured fact column: JSON path extraction from the events "
    "props payload straight into a typed aggregate — the "
    "schema-on-read shape for event streams whose properties vary by "
    "producer. get_json_object evaluates at the scan (map-side), so only "
    "the extracted BIGINT shuffles, never the JSON text.",
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("total_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "json_variant_extract",
    """
    WITH v AS (
        SELECT event_id,
               '{"meta":{"type":"' || event_type || '","flag":'
                   || CAST(value > 50 AS VARCHAR)
                   || '},"payload":' || props
                   || ',"tags":[1,' || CAST(user_id AS VARCHAR) || ']}'
                   AS doc
        FROM events
    )
    SELECT json_extract_string(doc, '$.meta.type')               AS etype,
           CAST(sum(CAST(json_extract(doc, '$.payload.k') AS BIGINT))
                AS BIGINT)                                       AS total_k,
           CAST(sum(CAST(CAST(json_extract(doc, '$.meta.flag') AS BOOLEAN)
                         AS BIGINT)) AS BIGINT)                  AS n_flag,
           CAST(sum(CAST(json_extract(doc, '$.tags[1]') AS BIGINT))
                AS BIGINT)                                       AS sum_tag1,
           count(*)                                              AS n
    FROM v
    GROUP BY etype
    """,
    doc="Spark 4 VARIANT type: a nested semi-structured payload (object + "
    "array + mixed scalar types, assembled from the events columns so the "
    "nesting is non-trivial) is parsed ONCE with parse_json into a VARIANT "
    "and then path-extracted with variant_get at three different types "
    "(string / boolean / long, including an array index '$.tags[1]'). "
    "Unlike get_json_object, the VARIANT binary encoding is parsed a single "
    "time per row however many paths are read, and is the shredding-ready "
    "representation for columnarizing hot paths at 100 TB. The whole "
    "extraction stays inside whole-stage codegen (plan-asserted: zero "
    "Python nodes); only the few extracted scalars reach the shuffle.",
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"meta":{"type":"'),
        F.col("event_type"),
        F.lit('","flag":'),
        (F.col("value") > 50).cast("string"),
        F.lit('},"payload":'),
        F.col("props"),
        F.lit(',"tags":[1,'),
        F.col("user_id").cast("string"),
        F.lit("]}"),
    )
    v = e.select("event_id", F.parse_json(doc).alias("v"))
    out = v.select(
        F.variant_get("v", "$.meta.type", "string").alias("etype"),
        F.variant_get("v", "$.meta.flag", "boolean").alias("flag"),
        F.variant_get("v", "$.payload.k", "long").alias("k"),
        F.variant_get("v", "$.tags[1]", "long").alias("tag1"),
    )
    return out.groupBy("etype").agg(
        F.sum("k").cast("long").alias("total_k"),
        F.sum(F.col("flag").cast("long")).cast("long").alias("n_flag"),
        F.sum("tag1").cast("long").alias("sum_tag1"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_weighted_median",
    """
    WITH w AS (
        SELECT l_returnflag, l_extendedprice AS p,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag ORDER BY l_extendedprice
                   ROWS UNBOUNDED PRECEDING)                  AS cum,
               sum(CAST(l_quantity AS BIGINT)) OVER (
                   PARTITION BY l_returnflag)                 AS tot
        FROM lineitem
    )
    SELECT l_returnflag,
           min(p)                       AS wmed,
           CAST(min(tot) AS BIGINT)     AS total_qty
    FROM w WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
    doc="Custom aggregate via GROUPED_AGG pandas UDF (ArrowAggregatePython): "
    "quantity-weighted median price per return flag — the UDAF extension "
    "point for aggregates Spark lacks natively. Weights are cast to int64 "
    "inside the UDF so the crossing test 2*cum >= tot is exact integer "
    "arithmetic: the answer depends only on the (price, qty) multiset, "
    "never on row order within equal prices, which is what makes a "
    "cross-engine hash check of a custom UDAF possible at all. Arrow "
    "transfers each group as columnar batches (no row-at-a-time pickling); "
    "at 100 TB the single hash-exchange on the grouping key is the only "
    "shuffle, identical to a native aggregate's plan shape.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType is explicit (not hint-inferred): this module's
    # `from __future__ import annotations` stringifies hints, which the
    # pandas-UDF type inferencer cannot resolve.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def wmedian(price, qty):
        df = (
            pd.DataFrame({"p": price, "q": qty.astype("int64")})
            .sort_values("p", kind="mergesort")
        )
        cum = df["q"].cumsum()
        tot = int(df["q"].sum())
        return float(df.loc[2 * cum >= tot, "p"].iloc[0])

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def wtotal(qty):
        return int(qty.astype("int64").sum())

    l = _t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        wmedian("l_extendedprice", "l_quantity").alias("wmed"),
        wtotal("l_quantity").alias("total_qty"),
    )


@register(
    "agg_grouping_sets",
    """
    SELECT CAST(grouping(source) * 2 + grouping(lang) AS INTEGER) AS gid,
           source, lang,
           CAST(count(*) AS BIGINT)        AS n_docs,
           CAST(sum(n_chars) AS BIGINT)    AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (lang), ())
    """,
    doc="Arbitrary GROUPING SETS — the general form CUBE/ROLLUP "
    "specialize (cube_order_profile / rollup_hierarchy cover those): an "
    "ASYMMETRIC set list ((source,lang), (lang), ()) that neither cube "
    "nor rollup can express, in one Expand + single hash-aggregate pass "
    "over the corpus (scanned once, map-side partials, one shuffle — "
    "not one scan per set). Disambiguation here uses grouping() bit "
    "flags (gid = grouping(source)*2 + grouping(lang)) instead of the "
    "coalesce-'ALL' sentinel, the correct idiom when a grouping column "
    "could itself hold the sentinel value; both engines implement the "
    "SQL-standard grouping() so the flag is hash-exact.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupingSets([["source", "lang"], ["lang"], []], "source", "lang")
        .agg(
            (F.grouping("source") * 2 + F.grouping("lang"))
            .cast("int")
            .alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select("gid", "source", "lang", "n_docs", "total_chars")
    )


@register(
    "dq_try_arithmetic",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE n_chars / (doc_id % 7) END          AS ratio,
           string_split(text, ' ')[CAST(doc_id % 60 AS INTEGER) + 1]
                                                         AS tok_at,
           CASE WHEN n_chars = 0 THEN 0
                WHEN n_chars = 1 THEN 9223372036854775807
                ELSE NULL END                            AS big_mul
    FROM documents
    """,
    doc="ANSI-safe error-handling surface: Spark 4 runs with ANSI mode ON "
    "by default, so division by zero, out-of-bounds element_at and "
    "bigint overflow RAISE unless the try_* family absorbs them — "
    "try_divide / try_element_at / try_multiply return NULL exactly "
    "where a pre-ANSI pipeline silently got NULL (or silently got a "
    "WRONG wrapped value, the overflow case). At 100 TB this is the "
    "difference between one poison row killing a 6-hour job and a "
    "NULL-auditable error column — same philosophy as the errors-as-rows "
    "sink (S4), expressed at the scalar level. The oracle states each "
    "absorbed error as an explicit CASE, pinning the exact NULL "
    "positions; all three expressions stay JVM-side in whole-stage "
    "codegen (no UDF error handling).",
)
def dq_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr("try_divide(n_chars, doc_id % 7)").alias("ratio"),
        F.expr(
            "try_element_at(split(text, ' '), CAST(doc_id % 60 AS INT) + 1)"
        ).alias("tok_at"),
        F.expr("try_multiply(n_chars, 9223372036854775807L)").alias(
            "big_mul"
        ),
    )


@register(
    "asof_nearest_purchase",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, max(value) AS pvalue FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts),
         back AS (
             SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
                    p.pvalue AS bv, epoch_us(p.ts) AS bus
             FROM clicks c ASOF LEFT JOIN purch p
               ON c.user_id = p.user_id AND c.ts >= p.ts
         ),
         fwd AS (
             SELECT c.event_id, p.pvalue AS fv, epoch_us(p.ts) AS fus
             FROM clicks c ASOF LEFT JOIN purch p
               ON c.user_id = p.user_id AND c.ts <= p.ts
         ),
         j AS (
             SELECT b.event_id, b.user_id, b.ts_us,
                    (b.bus IS NOT NULL
                     AND b.ts_us - b.bus <= 1800000000) AS b_ok,
                    (f.fus IS NOT NULL
                     AND f.fus - b.ts_us <= 1800000000) AS f_ok,
                    b.bv, b.bus, f.fv, f.fus
             FROM back b JOIN fwd f USING (event_id)
         )
    SELECT event_id, user_id, ts_us,
           CASE WHEN b_ok AND (NOT f_ok OR ts_us - bus <= fus - ts_us)
                THEN bv
                WHEN f_ok THEN fv END AS nearest_purchase_value,
           CAST(CASE WHEN b_ok AND (NOT f_ok OR ts_us - bus <= fus - ts_us)
                     THEN -(ts_us - bus)
                     WHEN f_ok THEN fus - ts_us END AS BIGINT) AS asof_dt_us
    FROM j
    """,
    doc="NEAREST as-of join with tolerance (pandas merge_asof "
    "direction='nearest'): each click matched to the CLOSEST purchase in "
    "either direction within 30 minutes, ties to the predecessor — the "
    "directional completion of asof_last_purchase's backward-only carry. "
    "Built on the same union + one (key, ts)-sorted exchange, with TWO "
    "window frames over that single sort (backward last-carry + forward "
    "first-carry) and an integer-microsecond argmin between the "
    "candidates (operators/temporal.py:asof_join_nearest) — never an "
    "inequality join, one shuffle total. The signed asof_dt_us column "
    "makes the direction choice hash-attested, not just the value. "
    "Oracle: two native DuckDB ASOF joins (>= and <=) + the same "
    "integer CASE.",
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join_nearest

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join_nearest(
        clicks,
        purch,
        by="user_id",
        value_cols=["pvalue"],
        tolerance_us=1_800_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("asof_pvalue").alias("nearest_purchase_value"),
        "asof_dt_us",
    )


@register(
    "asof_next_purchase",
    """
    WITH clicks AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         purch AS (SELECT user_id, ts, max(value) AS pvalue FROM events
                   WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
           p.pvalue AS next_purchase_value,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS asof_dt_us
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
    doc="FORWARD as-of join (pandas merge_asof direction='forward'): "
    "each click matched to the EARLIEST purchase at-or-after it per "
    "user — the directional completion of asof_last_purchase "
    "(backward) and asof_nearest_purchase (nearest): the temporal-join "
    "family now covers all three merge_asof directions through one "
    "operator (operators/temporal.py:asof_join, direction= param). "
    "Same single-exchange shape: union both sides, ONE (user, ts)-"
    "sorted window per key with first(value, ignorenulls) over the "
    "FOLLOWING frame, right rows ordering AFTER left rows on ties so "
    "ts-equality matches — never an inequality join, one shuffle "
    "total. Oracle: DuckDB's native forward ASOF (ON c.ts <= p.ts).",
)
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
        .withColumn("pts", F.col("ts"))
    )
    out = asof_join(
        clicks,
        purch,
        by="user_id",
        value_cols=["pvalue", "pts"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("asof_pvalue").alias("next_purchase_value"),
        (F.unix_micros("asof_pts") - F.unix_micros("ts"))
        .cast("long")
        .alias("asof_dt_us"),
    )


@register(
    "sql_lateral_topn",
    """
    SELECT n.n_name AS nation, t.c_custkey, t.bal_cents
    FROM nation n,
    LATERAL (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY bal_cents DESC, c_custkey
      LIMIT 2
    ) t
    """,
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT — the "
    "top-2 customers by account balance for every nation, written the "
    "way an analyst writes it (a lateral 'top-N per outer row'), "
    "completing the SQL-surface coverage next to sql_interface (plain "
    "SQL entry) and argmax_per_group (the DataFrame max_by form). "
    "Catalyst DECORRELATES the lateral limit into the rank-window plan "
    "the DataFrame API would produce — no nested-loop re-execution per "
    "outer row, the plan a 100 TB join needs — and DuckDB runs the "
    "identical text. Cent quantization + the c_custkey tiebreak make "
    "the top-2 deterministic on both engines.",
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.c_custkey, t.bal_cents
        FROM v_nation n,
        LATERAL (
          SELECT c_custkey,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
          FROM v_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY bal_cents DESC, c_custkey
          LIMIT 2
        ) t
        """
    )
