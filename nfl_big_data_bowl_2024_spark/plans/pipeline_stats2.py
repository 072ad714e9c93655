"""Classical-statistics queries, second module (stat_*).

pipeline_stats.py reached the 2,500-LoC split threshold set by the
round-8 refactor (r11 verdict item 6), so round-12+ statistics
registrations land here. Same conventions: exact fixed-point arithmetic
with engine-defined floor division, grid/value-level rank machinery
instead of row-level sorts, banded prefix sums instead of
single-partition global windows, and a DuckDB oracle beside every
Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix import banded_running_sum
from ..sources.readers import read_testdata_table as _t
from .registry import register


def _kw_rank_sums(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The Kruskal-Wallis rank grid shared by stat_kruskal_wallis and
    stat_dunn_posthoc: per-event-type ``(event_type, n_i, r2_i)`` — group
    size and doubled rank sum over the banded doubled-midrank grid of the
    pooled cents values — and the 1-row tie term ``(t)`` = sum(dup^3 - dup)."""
    v = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = (
        v.groupBy("cents")
        .agg(F.count(F.lit(1)).alias("dup"))
        .withColumn("band", F.expr("cents div 1024"))
    )
    cum = banded_running_sum(
        g, "band", [F.col("cents")], "dup", out_col="cum", descending=False
    )
    r = cum.select(
        "cents",
        "dup",
        (F.lit(2) * F.col("cum") - F.col("dup") + 1).alias("r2"),
    )
    ge = v.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("cg"))
    s = (
        ge.join(F.broadcast(r.select("cents", "r2")), "cents")
        .groupBy("event_type")
        .agg(
            F.sum("cg").cast("long").alias("n_i"),
            F.sum(F.col("cg") * F.col("r2")).cast("long").alias("r2_i"),
        )
    )
    ties = g.agg(
        F.sum(F.expr("CAST(dup AS DECIMAL(28,0)) * dup * dup - dup"))
        .cast("decimal(38,0)")
        .alias("t")
    )
    return s, ties


# The oracle twin of ``_kw_rank_sums``: CTEs ``s (event_type, n_i, r2_i)``
# and ``ties (t)``, plus their inputs ``v``, ``g``, ``c``, ``r`` and ``ge``.
_KW_RANK_SUMS_SQL = """v AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    g AS (SELECT cents, count(*) AS dup FROM v GROUP BY cents),
    c AS (
        SELECT cents, dup,
               sum(dup) OVER (ORDER BY cents
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM g
    ),
    r AS (SELECT cents, dup, 2 * cum - dup + 1 AS r2 FROM c),
    ge AS (
        SELECT event_type, cents, count(*) AS cg
        FROM v GROUP BY event_type, cents
    ),
    s AS (
        SELECT ge.event_type,
               CAST(sum(ge.cg) AS BIGINT)          AS n_i,
               CAST(sum(ge.cg * r.r2) AS BIGINT)   AS r2_i
        FROM ge JOIN r USING (cents) GROUP BY ge.event_type
    ),
    ties AS (
        SELECT CAST(sum(CAST(dup AS HUGEINT) * dup * dup - dup) AS HUGEINT)
                   AS t
        FROM g
    )"""


@register(
    "stat_kruskal_wallis",
    f"""
    WITH {_KW_RANK_SUMS_SQL},
    parts AS (
        SELECT count(*) AS k,
               sum(n_i) AS n,
               sum(CAST(r2_i AS HUGEINT) * r2_i // n_i) AS a4
        FROM s
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n,
           CAST(t AS BIGINT) AS tie_term,
           CAST((3000 * a4 // 4) // (n * (n + 1)) - 3000 * (n + 1)
                AS BIGINT) AS h_milli,
           CAST((1000 * ((3 * a4 // 4) * (n - 1)
                         - 3 * n * (n - 1) * (n + 1) * (n + 1)))
                // (CAST(n AS HUGEINT) * n * n - n - t) AS BIGINT)
               AS hc_milli
    FROM parts, ties
    """,
    doc="Kruskal-Wallis rank test across event types (does the VALUE "
    "distribution's location differ by type, assuming nothing about "
    "its shape?) — the k-group generalization of stat_mann_whitney_u "
    "and the nonparametric twin of stat_anova_oneway, completing the "
    "location-test triple (parametric ANOVA / 2-group MW / k-group "
    "KW); reported both raw (h_milli) and tie-corrected (hc_milli, "
    "divisor 1 - sum(t^3-t)/(N^3-N) folded into exact integer "
    "cross-multiplication via (N^3-N)/(N(N+1)) = N-1). EXACT integers "
    "end to end: combined-sample midranks as doubled midranks "
    "(2*cum - dup + 1, the ml_roc_auc/MW tie idiom) over the bounded "
    "distinct-cents grid, per-group doubled rank sums R2_i from grid "
    "counts (never row-level ranks), and H = 3/(N(N+1)) * sum(R2_i^2/"
    "n_i) - 3(N+1) with every quotient a defined truncate-toward-zero "
    "division in 128-bit intermediates (R2_i^2 ~ 4N^4 — DECIMAL(38)/"
    "HUGEINT holds to ~sf1000, documented bound). Plan discipline: the "
    "global cumulative over the value grid uses the banded prefix-sum "
    "operator (per-band totals + band offsets + band-partitioned "
    "window), NEVER a single-partition window; the doubled-rank "
    "relation is value-level and re-enters broadcast; everything else "
    "is two partial-aggregated exchanges and a 1-row fold.",
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, ties = _kw_rank_sums(spark, sf_dir)
    parts = s.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_i").alias("n"),
        # a4 = sum(R2_i^2 div n_i) = 4 * sum(R_i^2 div' n_i): the doubled
        # ranks keep ties integral; the /4 is folded into the final
        # milli-divisions below (defined truncate-toward-zero protocol,
        # see stat_anova_oneway's comment)
        F.sum(
            F.expr(
                "CAST(CAST(r2_i AS DECIMAL(22,0)) * r2_i div n_i"
                " AS DECIMAL(38,0))"
            )
        ).alias("a4"),
    )
    # Spark's `div` returns BIGINT even for DECIMAL operands, so the
    # big quotients (3000*a4/4 ~ 1e26 at sf10) must stay decimal via the
    # exact floor-division identity (q - q % d) / 4 (agg_gini precedent:
    # q % d makes the numerator divisible, decimal `/` is then exact);
    # `div` is used only where the RESULT fits int64.
    return parts.crossJoin(ties).select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.col("t").cast("long").alias("tie_term"),
        F.expr(
            "CAST(CAST((3000 * a4 - (3000 * a4) % 4) / 4 AS DECIMAL(38,0))"
            " div (n * (n + 1)) - 3000 * (n + 1) AS BIGINT)"
        ).alias("h_milli"),
        F.expr(
            "CAST((1000 * ("
            "CAST((3 * a4 - (3 * a4) % 4) / 4 AS DECIMAL(38,0)) * (n - 1)"
            " - 3 * CAST(n AS DECIMAL(38,0)) * (n - 1) * (n + 1) * (n + 1)))"
            " div (CAST(n AS DECIMAL(38,0)) * n * n - n - t) AS BIGINT)"
        ).alias("hc_milli"),
    )


@register(
    "stat_friedman_test",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    kk AS (SELECT count(DISTINCT event_type) AS k FROM daily),
    complete AS (
        SELECT day FROM daily, kk GROUP BY day, k HAVING count(*) = k
    ),
    d2 AS (SELECT daily.* FROM daily JOIN complete USING (day)),
    g AS (SELECT day, y, count(*) AS dup FROM d2 GROUP BY day, y),
    c AS (
        SELECT day, y, dup,
               sum(dup) OVER (PARTITION BY day ORDER BY y
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM g
    ),
    r AS (SELECT day, y, 2 * cum - dup + 1 AS r2 FROM c),
    rj AS (
        SELECT d2.event_type, CAST(sum(r.r2) AS BIGINT) AS r2_j,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM d2 JOIN r USING (day, y) GROUP BY d2.event_type
    ),
    parts AS (
        SELECT count(*) AS k, max(n_blocks) AS n,
               CAST(sum(CAST(r2_j AS HUGEINT) * r2_j) AS HUGEINT) AS s2
        FROM rj
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n_blocks,
           CAST((3000 * s2 // 4) // (n * k * (k + 1)) - 3000 * n * (k + 1)
                AS BIGINT) AS q_milli
    FROM parts
    """,
    doc="Friedman rank test over the (day x event_type) daily-total "
    "grid: blocks = calendar days (restricted to COMPLETE blocks — "
    "days where every event type traded, the standard repeated-"
    "measures requirement, a deterministic rule on both engines), "
    "treatments = event types ranked WITHIN each day by exact daily "
    "cents total — the within-block companion to stat_kruskal_wallis "
    "(KW pools all values globally and is blind to day effects; "
    "Friedman removes the day effect entirely, detecting consistent "
    "ordering of types across days; Friedman 1937, public). Exact "
    "integers: per-day doubled midranks 2*cum - dup + 1 over the "
    "bounded (day, y) grid (blocks have k <= #types members, the grid "
    "is calendar-bounded regardless of corpus size), Q = 3/(nk(k+1)) "
    "* sum(R2_j^2) - 3n(k+1) via the same doubled-rank algebra and "
    "defined truncating divisions as KW (the /4 folded into a "
    "128-bit floor division). Plan: one partial-aggregated exchange "
    "to the daily grid, day-partitioned bounded windows, one k-row "
    "fold.",
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date("ts"), F.lit("1970-01-01").cast("date")
        ).alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    kk = daily.agg(F.countDistinct("event_type").alias("k"))
    complete = (
        daily.crossJoin(F.broadcast(kk))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("n_types"))
        .filter(F.col("n_types") == F.col("k"))
        .select("day")
    )
    d2 = daily.join(F.broadcast(complete), "day")
    g = d2.groupBy("day", "y").agg(F.count(F.lit(1)).alias("dup"))
    w = (
        Window.partitionBy("day")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = g.select(
        "day",
        "y",
        (F.lit(2) * F.sum("dup").over(w) - F.col("dup") + 1).alias("r2"),
    )
    rj = (
        d2.join(r, ["day", "y"])
        .groupBy("event_type")
        .agg(
            F.sum("r2").cast("long").alias("r2_j"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
        )
    )
    parts = rj.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("n_blocks").alias("n"),
        F.sum(F.expr("CAST(r2_j AS DECIMAL(22,0)) * r2_j"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n_blocks"),
        F.expr(
            "CAST(CAST((3000 * s2 - (3000 * s2) % 4) / 4 AS DECIMAL(38,0))"
            " div (n * k * (k + 1)) - 3000 * n * (k + 1) AS BIGINT)"
        ).alias("q_milli"),
    )


@register(
    "stat_dunn_posthoc",
    f"""
    WITH {_KW_RANK_SUMS_SQL},
    tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n FROM s),
    sig AS (
        SELECT CAST((1000000 * (CAST(n AS HUGEINT) * (n + 1) * (n - 1) - t))
                    // (12 * (n - 1)) AS HUGEINT) AS sigma2_micro, n
        FROM tot, ties
    ),
    pairs AS (
        SELECT a.event_type AS group_a, b.event_type AS group_b,
               a.n_i AS n_a, b.n_i AS n_b,
               (1000 * a.r2_i // (2 * a.n_i))
                 - (1000 * b.r2_i // (2 * b.n_i)) AS d_milli
        FROM s a JOIN s b ON a.event_type < b.event_type
    )
    SELECT group_a, group_b,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(d_milli AS BIGINT) AS d_milli,
           CAST((1000 * CAST(d_milli AS HUGEINT) * d_milli * n_a * n_b)
                // (sigma2_micro * (n_a + n_b)) AS BIGINT) AS z2_milli
    FROM pairs, sig
    """,
    doc="Dunn's (1964, public) post-hoc pairwise rank test after "
    "stat_kruskal_wallis: KW says SOME event type differs in location; "
    "Dunn says WHICH pairs, comparing pooled-sample mean ranks with the "
    "tie-corrected variance sigma^2 = (N(N+1)(N-1) - sum(t^3-t)) / "
    "(12(N-1)) and z_ij = (Rbar_i - Rbar_j) / sqrt(sigma^2 (1/n_i + "
    "1/n_j)). Reported as z2_milli = z^2 in milli units — z^2, not z, "
    "so the plan stays EXACT integer end to end (no sqrt on either "
    "engine): z^2 = d^2 n_i n_j / (sigma^2 (n_i + n_j)) with d the "
    "mean-rank difference in milli units, every quotient a defined "
    "truncate-toward-zero division with positive operands (floor == "
    "truncate on both engines) in 128-bit intermediates (numerator ~ "
    "1e9 N^4 — DECIMAL(38)/HUGEINT holds to ~sf10-scale event counts, "
    "documented bound; beyond that drop d to centi units). Composes on "
    "stat_kruskal_wallis's _kw_rank_sums (oracle: _KW_RANK_SUMS_SQL): "
    "doubled midranks 2*cum - dup + 1 over the "
    "distinct-cents grid via the banded prefix-sum operator (never a "
    "single-partition window), per-group (n_i, R2_i) from grid counts, "
    "then a bounded k x k broadcast self-join (k = #event types) — the "
    "pairwise panel costs nothing beyond the KW scan.",
)
def stat_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    s, ties = _kw_rank_sums(spark, sf_dir)
    tot = s.agg(F.sum("n_i").cast("long").alias("n"))
    # sigma2_micro ~ 1e6 * N^2 / 12 (8.3e18 at sf10) — past BIGINT's
    # comfort zone, and Spark's `div` returns BIGINT even for DECIMAL
    # operands; the exact floor-division identity (q - q % d) / d keeps
    # the quotient DECIMAL (KW's h_milli precedent).
    sig = tot.crossJoin(ties).select(
        F.expr(
            "CAST(((1000000 * (CAST(n AS DECIMAL(38,0)) * (n + 1) * (n - 1)"
            " - t)) - (1000000 * (CAST(n AS DECIMAL(38,0)) * (n + 1)"
            " * (n - 1) - t)) % (12 * (n - 1))) / (12 * (n - 1))"
            " AS DECIMAL(38,0))"
        ).alias("sigma2_micro")
    )
    a = s.select(
        F.col("event_type").alias("group_a"),
        F.col("n_i").alias("n_a"),
        F.col("r2_i").alias("r2_a"),
    )
    b = s.select(
        F.col("event_type").alias("group_b"),
        F.col("n_i").alias("n_b"),
        F.col("r2_i").alias("r2_b"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            "n_a",
            "n_b",
            (
                F.expr("1000 * r2_a div (2 * n_a)")
                - F.expr("1000 * r2_b div (2 * n_b)")
            ).alias("d_milli"),
        )
    )
    return pairs.crossJoin(F.broadcast(sig)).select(
        "group_a",
        "group_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("d_milli").cast("long").alias("d_milli"),
        F.expr(
            "CAST((1000 * CAST(d_milli AS DECIMAL(38,0)) * d_milli * n_a"
            " * n_b) div (sigma2_micro * (n_a + n_b)) AS BIGINT)"
        ).alias("z2_milli"),
    )
