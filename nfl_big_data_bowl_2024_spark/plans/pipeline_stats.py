"""Data-quality, statistics and sketch queries (dq_*, stat_*, agg_*): profiling, drift, hypothesis tests, HLL/CMS/KMV/bitmap sketches, grouped aggregates.

Split along the registry's family seams in round 9 (shared
helpers/oracle fragments live in pipeline_common.py); the dq_*
audit family moved on to pipeline_dq.py in round 10. Original
docstrings, oracle SQL and reference citations moved verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.prefix import banded_running_sum
from ..sources.readers import read_testdata_table as _t
from .registry import register


@register(
    "stat_ks_two_sample",
    """
    WITH e AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS i1,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS i2
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    g AS (
        SELECT c, CAST(sum(i1) AS BIGINT) AS d1,
                  CAST(sum(i2) AS BIGINT) AS d2
        FROM e GROUP BY c
    ),
    r AS (
        SELECT c,
               CAST(sum(d1) OVER (ORDER BY c) AS BIGINT) AS c1,
               CAST(sum(d2) OVER (ORDER BY c) AS BIGINT) AS c2
        FROM g
    ),
    t AS (
        SELECT CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(d2) AS BIGINT) AS n2
        FROM g
    )
    SELECT n1, n2,
           CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_scaled,
           CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) / (n1 * n2) AS ks_stat
    FROM r, t GROUP BY n1, n2
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic between the 'view' and "
    "'purchase' value distributions — distribution-drift detection, the "
    "statistical gate a training pipeline runs between corpus versions / "
    "shards before accepting new data. The KS statistic is "
    "max|F1(x)-F2(x)| over the pooled support, i.e. a GLOBAL running "
    "count — the oracle states it as the textbook unpartitioned window, "
    "while the Spark plan rides banded_running_sum (per-band totals + "
    "triangular band offsets + band-local windows; operators/prefix.py), "
    "so no stage ever sorts the pooled sample on one task. Counts stay "
    "integers and the deviation is computed CROSS-MULTIPLIED "
    "(|C1*n2 - C2*n1|, exact BIGINT) rather than as float CDF "
    "differences, so the max is engine-exact; the only float is the "
    "final scalar division.",
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import banded_running_sum
    from ..operators.scalars import checkpoint_with_scalar

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
            F.when(F.col("event_type") == "view", 1).otherwise(0).alias("i1"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("i2"),
        )
    )
    g = e.groupBy("c").agg(
        F.sum("i1").cast("long").alias("d1"),
        F.sum("i2").cast("long").alias("d2"),
    )
    # Band DESC == global order, so ascending-c cumsums band on -(c div 1000).
    g = g.withColumn("band", -F.expr("c div 1000"))
    g = banded_running_sum(g, "band", [F.col("c").asc()], "d1", out_col="c1")
    g = banded_running_sum(g, "band", [F.col("c").asc()], "d2", out_col="c2")
    cp, tot = checkpoint_with_scalar(
        g,
        F.sum("d1").cast("long").alias("n1"),
        F.sum("d2").cast("long").alias("n2"),
    )
    dev = F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1"))
    return (
        cp.join(tot)
        .groupBy("n1", "n2")
        .agg(F.max(dev).cast("long").alias("ks_scaled"))
        .select(
            "n1",
            "n2",
            "ks_scaled",
            (F.col("ks_scaled") / (F.col("n1") * F.col("n2"))).alias(
                "ks_stat"
            ),
        )
    )


@register(
    "agg_countmin_sketch",
    """
    WITH h(d, a, b) AS (
        VALUES (0, 3079, 1531), (1, 4093, 2389),
               (2, 5351, 3271), (3, 6151, 4447)
    ),
    cnt AS (
        SELECT h.d, ((h.a * e.user_id + h.b) % 8191) % 64 AS bucket,
               count(*) AS cnt
        FROM events e CROSS JOIN h
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id
    ),
    est AS (
        SELECT x.user_id, min(coalesce(c.cnt, 0)) AS cms_n
        FROM exact x CROSS JOIN h
        LEFT JOIN cnt c
          ON c.d = h.d
         AND c.bucket = ((h.a * x.user_id + h.b) % 8191) % 64
        GROUP BY x.user_id
    )
    SELECT CAST(x.user_id AS BIGINT)            AS user_id,
           CAST(x.exact_n AS BIGINT)            AS exact_n,
           CAST(e.cms_n AS BIGINT)              AS cms_n,
           CAST(e.cms_n - x.exact_n AS BIGINT)  AS overcount
    FROM exact x JOIN est e ON x.user_id = e.user_id
    """,
    doc="Count-Min sketch frequency estimation over the event stream "
    "(d=4 x w=64, universal integer hashing mod the Mersenne prime 8191) "
    "with the exact per-key count joined alongside as the audit twin — "
    "rounding out the sketch family: HLL (distinct count), Misra-Gries "
    "(heavy hitters), CMS (point frequency). CMS counters are additive "
    "integer sums into a FIXED d x w grid, so map-side partials collapse "
    "each task to <= 256 rows and the raw key column never shuffles — the "
    "100 TB contract (operators/sketches.py:count_min_counters); the "
    "estimate pass is a broadcast of the 256-row counter table, map-only. "
    "Merge-order insensitivity makes the estimates deterministic, hence a "
    "pure-SQL oracle replaying both the sketch and the exact twin.",
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import count_min_counters, count_min_estimate

    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = count_min_counters(ev, "user_id", width=64, depth=4)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    est = count_min_estimate(
        exact.select("user_id"), counters, "user_id", width=64, depth=4
    )
    return exact.join(est, "user_id").select(
        F.col("user_id").cast("long").alias("user_id"),
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).cast("long").alias("overcount"),
    )


@register(
    "agg_bitmap_audience_overlap",
    """
    WITH s AS (
        SELECT event_type, user_id // 63 AS word,
               (1::BIGINT << (user_id % 63)) AS bits
        FROM events
    ),
    bm AS (SELECT event_type, word, bit_or(bits) AS bm FROM s GROUP BY 1, 2),
    sz AS (SELECT event_type, sum(bit_count(bm)) AS n FROM bm GROUP BY 1),
    inter AS (
        SELECT a.event_type AS seg_a, b.event_type AS seg_b,
               sum(bit_count(a.bm & b.bm)) AS n_common
        FROM bm a JOIN bm b ON a.word = b.word AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT seg_a, seg_b,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(n_common AS BIGINT) AS n_common,
           floor(n_common * 1.0 / (sa.n + sb.n - n_common) * 10000 + 0.5)
               / 10000.0 AS jaccard
    FROM inter
    JOIN sz sa ON sa.event_type = seg_a
    JOIN sz sb ON sb.event_type = seg_b
    """,
    doc="EXACT audience overlap between every pair of event-type segments "
    "via positional bitmaps — the precise twin of the round-7 HLL "
    "inclusion-exclusion ESTIMATE, and the Druid/ClickHouse-style bitmap "
    "index technique re-expressed in pure DataFrame ops: pack users into "
    "63-bit words (word = user_id div 63; 63 not 64 because a signed "
    "1<<63 overflows ANSI engines), bit_or per (segment, word) — "
    "duplicate events are idempotent under OR, so NO distinct "
    "pre-shuffle is needed and map-side partials compress 63 users into "
    "one long before the exchange. Intersections are then a "
    "word-aligned join + popcount sum: |A & B| exact, 64x less shuffle "
    "than shuffling user sets. Spark's bit_or/bit_count/bitwiseAND are "
    "JVM codegen'd; DuckDB mirrors them 1:1.",
)
def agg_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    sel = ev.select(
        "event_type",
        F.expr("user_id div 63").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT))").alias(
            "bits"
        ),
    )
    bm = sel.groupBy("event_type", "word").agg(F.bit_or("bits").alias("bm"))
    sz = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("n")
    )
    a = bm.select(
        F.col("event_type").alias("seg_a"), "word", F.col("bm").alias("bm_a")
    )
    b = bm.select(
        F.col("event_type").alias("seg_b"), "word", F.col("bm").alias("bm_b")
    )
    inter = (
        a.join(b, "word")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.col("bm_a").bitwiseAND(F.col("bm_b"))))
            .cast("long")
            .alias("n_common")
        )
    )
    sa = sz.select(F.col("event_type").alias("seg_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("seg_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_common",
            (F.floor(jac * 10000 + F.lit(0.5)) / 10000.0).alias("jaccard"),
        )
    )


@register(
    "stat_mad_outliers",
    """
    WITH g AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type,
               min(CASE WHEN 2 * cum_c >= n THEN cents END) AS med_c,
               max(n) AS n
        FROM (
            SELECT event_type, cents, c,
                   sum(c) OVER (PARTITION BY event_type ORDER BY cents
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_c,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM g
        ) GROUP BY event_type
    ),
    dev AS (
        SELECT g.event_type, abs(g.cents - m.med_c) AS d, sum(g.c) AS c
        FROM g JOIN med m USING (event_type)
        GROUP BY 1, 2
    ),
    mad AS (
        SELECT event_type,
               min(CASE WHEN 2 * cum_c >= n THEN d END) AS mad_c
        FROM (
            SELECT event_type, d, c,
                   sum(c) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_c,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM dev
        ) GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(m.n AS BIGINT) AS n,
           m.med_c / 100.0 AS median_v,
           a.mad_c / 100.0 AS mad_v,
           CAST(coalesce(sum(g.c) FILTER (
               WHERE abs(g.cents - m.med_c) > 3 * a.mad_c), 0) AS BIGINT)
               AS n_outliers
    FROM med m
    JOIN mad a USING (event_type)
    JOIN g USING (event_type)
    GROUP BY m.event_type, m.n, m.med_c, a.mad_c
    """,
    doc="Robust outlier detection by median absolute deviation — the "
    "breakdown-resistant alternative to the z-score path "
    "(evt_user_zscore_outliers): per group, median, MAD, and the count "
    "of values beyond 3 MADs. BOTH medians come from the fixed cents "
    "counting grid (agg_fixed_grid_quantiles' shape), and the deviation "
    "median is computed from the GRID re-keyed by |cents - median| — "
    "counts re-aggregate, so the raw data is scanned ONCE and every "
    "later stage is O(distinct cents). Lower-nearest-rank medians via "
    "integer cross-multiplication; all arithmetic integer.",
)
def stat_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    g = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )

    def _grid_median(grid, key_col):
        w_cum = (
            Window.partitionBy("event_type")
            .orderBy(key_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy("event_type")
        cum = grid.select(
            "event_type",
            key_col,
            F.sum("c").over(w_cum).alias("cum_c"),
            F.sum("c").over(w_all).alias("n"),
        )
        return cum.groupBy("event_type").agg(
            F.min(
                F.when(2 * F.col("cum_c") >= F.col("n"), F.col(key_col))
            ).alias("med"),
            F.max("n").alias("n"),
        )

    med = _grid_median(g, "cents").select(
        "event_type", F.col("med").alias("med_c"), "n"
    )
    dev = (
        g.join(F.broadcast(med.select("event_type", "med_c")), "event_type")
        .groupBy("event_type", F.abs(F.col("cents") - F.col("med_c")).alias("d"))
        .agg(F.sum("c").alias("c"))
    )
    mad = _grid_median(dev, "d").select(
        "event_type", F.col("med").alias("mad_c")
    )
    out = (
        g.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med_c", "mad_c")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.abs(F.col("cents") - F.col("med_c"))
                        > 3 * F.col("mad_c"),
                        F.col("c"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers")
        )
    )
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        (F.col("med_c") / 100.0).alias("median_v"),
        (F.col("mad_c") / 100.0).alias("mad_v"),
        "n_outliers",
    )


@register(
    "agg_fixed_grid_quantiles",
    """
    WITH g AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    cum AS (
        SELECT event_type, cents, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY cents
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_c,
               sum(c) OVER (PARTITION BY event_type) AS n
        FROM g
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           min(CASE WHEN 2 * cum_c >= n THEN cents END) / 100.0  AS p50,
           min(CASE WHEN 10 * cum_c >= 9 * n THEN cents END) / 100.0 AS p90,
           min(CASE WHEN 100 * cum_c >= 99 * n THEN cents END) / 100.0 AS p99
    FROM cum GROUP BY event_type
    """,
    doc="Exact distributed quantiles WITHOUT a sort of the data: the value "
    "domain is bounded fixed-point (2dp), so a counting-sort grid — one "
    "hash aggregate onto (group, cents) with map-side partials — plus a "
    "cumulative window over the DISTINCT cents (bounded by the domain, "
    "not the row count) yields exact lower-nearest-rank order statistics "
    "p50/p90/p99. The grid is mergeable across shards by addition, the "
    "per-group state is O(domain) regardless of data size, and the rank "
    "thresholds are integer cross-multiplications (k * cum >= q * n) — "
    "no float rank arithmetic. The counting-sort dual of "
    "grouped_percentiles' interpolated-percentile path.",
)
def agg_fixed_grid_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        "cents",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    def q(mult_cum, mult_n):
        return F.min(
            F.when(mult_cum * F.col("cum_c") >= mult_n * F.col("n"), F.col("cents"))
        ) / 100.0

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        q(F.lit(2), F.lit(1)).alias("p50"),
        q(F.lit(10), F.lit(9)).alias("p90"),
        q(F.lit(100), F.lit(99)).alias("p99"),
    )


@register(
    "agg_kmv_distinct",
    """
    WITH d AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM events
    ),
    r AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM d
    ),
    s AS (
        SELECT event_type, max(h) AS h_k, count(*) AS k_eff
        FROM r WHERE rn <= 64 GROUP BY 1
    ),
    x AS (
        SELECT event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1
    )
    SELECT s.event_type,
           CAST(x.exact_distinct AS BIGINT) AS exact_distinct,
           CAST(CASE WHEN s.k_eff < 64 THEN s.k_eff
                     ELSE floor(63.0 * 1152921504606846976 / s.h_k)
                END AS BIGINT) AS kmv_estimate
    FROM s JOIN x USING (event_type)
    """,
    doc="Per-group distinct-count estimation via the KMV (k-minimum-values "
    "/ bottom-k) sketch, Bar-Yossef et al. 2002: keep the k=64 smallest "
    "md5-derived hash values per group; estimate D ~ (k-1)/u_k where u_k "
    "is the k-th smallest hash normalized to [0,1) (here 2^60 since 15 "
    "hex chars). Rounds out the sketch family — HLL (union-mergeable "
    "distinct), CMS (frequency, join size), Misra-Gries (heavy hitters), "
    "KMV (distinct + set operations on sketches). The rank filter "
    "rn <= k compiles to Catalyst's WindowGroupLimit, which keeps only "
    "k rows per group in EACH map task before the exchange — the "
    "bottom-k merge IS the distributed sketch union, no full per-group "
    "sort ever materializes. md5 keeps both engines' hash spaces "
    "identical, so the sketch itself is deterministic and the gate "
    "checks it exactly; the exact distinct rides along as audit twin.",
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    K = 64
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15),
        16,
        10,
    ).cast("long")
    d = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    s = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .groupBy("event_type")
        .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("k_eff"))
    )
    x = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(F.col("k_eff") < K, F.col("k_eff")).otherwise(
        F.floor(F.lit(63.0) * F.lit(1152921504606846976) / F.col("h_k"))
    )
    return s.join(x, "event_type").select(
        "event_type",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        est.cast("long").alias("kmv_estimate"),
    )


@register(
    "agg_cms_join_size",
    """
    WITH h(d, a, b) AS (
        VALUES (0, 3079, 1531), (1, 4093, 2389),
               (2, 5351, 3271), (3, 6151, 4447)
    ),
    r AS (SELECT user_id FROM events WHERE event_type = 'click'),
    s AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
    cr AS (
        SELECT h.d, ((h.a * r.user_id + h.b) % 8191) % 64 AS bucket,
               count(*) AS cnt
        FROM r CROSS JOIN h GROUP BY 1, 2
    ),
    cs AS (
        SELECT h.d, ((h.a * s.user_id + h.b) % 8191) % 64 AS bucket,
               count(*) AS cnt
        FROM s CROSS JOIN h GROUP BY 1, 2
    ),
    ip AS (
        SELECT cr.d, sum(cr.cnt * cs.cnt) AS ip
        FROM cr JOIN cs USING (d, bucket) GROUP BY 1
    ),
    est AS (SELECT min(ip) AS cms_join_size FROM ip),
    exact AS (
        SELECT count(*) AS exact_join_size FROM r JOIN s USING (user_id)
    )
    SELECT CAST(exact_join_size AS BIGINT)                 AS exact_join_size,
           CAST(cms_join_size AS BIGINT)                   AS cms_join_size,
           CAST(cms_join_size - exact_join_size AS BIGINT) AS overcount
    FROM exact CROSS JOIN est
    """,
    doc="Equi-join cardinality estimation from two Count-Min sketches via "
    "their inner product (Cormode & Muthukrishnan 2005 §4.3): "
    "|R JOIN S| = sum_k fR(k)*fS(k), estimated as min over depth rows of "
    "sum_b cntR[d,b]*cntS[d,b] — the optimizer-side primitive for "
    "deciding broadcast vs shuffle WITHOUT executing the join. Each side "
    "collapses to a fixed 4x64 counter grid through map-side partials "
    "(no raw-key shuffle; operators/sketches.py:cms_join_size_estimate), "
    "and the inner product is a 256-row join — O(1) beyond the scans. "
    "Collisions only add mass, so the estimate provably OVERcounts (safe "
    "direction); the exact join size rides along as the audit twin.",
)
def agg_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_join_size_estimate

    ev = _t(spark, sf_dir, "events")
    r = ev.filter(F.col("event_type") == "click").select("user_id")
    s = ev.filter(F.col("event_type") == "purchase").select("user_id")
    est = cms_join_size_estimate(r, s, "user_id", width=64, depth=4)
    exact = r.join(s, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_join_size")
    )
    return exact.crossJoin(est).select(
        "exact_join_size",
        "cms_join_size",
        (F.col("cms_join_size") - F.col("exact_join_size"))
        .cast("long")
        .alias("overcount"),
    )


@register(
    "stat_chi2_independence",
    """
    WITH e AS (
        SELECT event_type AS t, user_id % 4 AS c FROM events
    ),
    cells AS (SELECT t, c, count(*) AS o_n FROM e GROUP BY t, c),
    rt AS (SELECT t, sum(o_n) AS rt FROM cells GROUP BY t),
    ct AS (SELECT c, sum(o_n) AS ct FROM cells GROUP BY c),
    n AS (SELECT sum(o_n) AS n FROM cells),
    grid AS (
        SELECT rt.t, ct.c, rt.rt, ct.ct, n.n,
               coalesce(cells.o_n, 0) AS o_n
        FROM rt CROSS JOIN ct CROSS JOIN n
        LEFT JOIN cells ON cells.t = rt.t AND cells.c = ct.c
    )
    SELECT t AS event_type,
           CAST(c AS BIGINT)                    AS cohort,
           CAST(o_n AS BIGINT)                  AS o_n,
           CAST((rt * ct * 1000) // n AS BIGINT) AS e_milli,
           CAST(((o_n * 1000 - (rt * ct * 1000) // n)
                 * (o_n * 1000 - (rt * ct * 1000) // n))
                // (1000 * ((rt * ct * 1000) // n)) AS BIGINT)
                                                AS chi2_term_milli
    FROM grid
    """,
    doc="Chi-squared independence test (event_type x user cohort) in "
    "exact fixed-point arithmetic: expected counts in milli-units "
    "(E_milli = rt*ct*1000 div N, floor division DEFINED identically on "
    "both engines), per-cell contribution dev^2/(1000*E_milli) — the "
    "categorical-drift statistic next to the KS test's continuous one, "
    "emitted per cell so the hash pins every intermediate, with zero "
    "cells materialized via the rowtot x coltot grid (chi2 is wrong "
    "without them). Plan: one hash aggregate over the (t,c) cells — "
    "tiny, checkpointed — then row/col/grand totals all DERIVED from "
    "the cell relation (no second fact scan) and broadcast back; at "
    "100 TB the fact table is read once. Milli-scaling bounds "
    "intermediates at (N*1000)^2, inside int64 through sf10-per-cell "
    "~3e9 events; beyond that the documented move is micro->milli unit "
    "drop, not silent float fallback.",
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"), (F.col("user_id") % 4).alias("c")
    )
    cells = (
        ev.groupBy("t", "c")
        .agg(F.count(F.lit(1)).alias("o_n"))
        .localCheckpoint(eager=True)  # tiny: |types| x |cohorts| rows
    )
    rt = cells.groupBy("t").agg(F.sum("o_n").alias("rt"))
    ct = cells.groupBy("c").agg(F.sum("o_n").alias("ct"))
    n = cells.agg(F.sum("o_n").alias("n"))
    grid = (
        F.broadcast(rt)
        .crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(cells), ["t", "c"], "left")
        .withColumn("o_n", F.coalesce("o_n", F.lit(0)))
    )
    e_milli = F.expr("(rt * ct * 1000) div n")
    dev = F.col("o_n") * 1000 - e_milli
    return grid.select(
        F.col("t").alias("event_type"),
        F.col("c").cast("long").alias("cohort"),
        F.col("o_n").cast("long").alias("o_n"),
        e_milli.cast("long").alias("e_milli"),
        (dev * dev).cast("long").alias("_d2"),
    ).select(
        "event_type",
        "cohort",
        "o_n",
        "e_milli",
        F.expr("_d2 div (1000 * e_milli)").cast("long").alias(
            "chi2_term_milli"
        ),
    )


@register(
    "stat_mann_whitney_u",
    """
    WITH v AS (SELECT source, n_chars FROM documents),
    g AS (SELECT n_chars, count(*) AS dup FROM v GROUP BY n_chars),
    c AS (
        SELECT n_chars, dup,
               sum(dup) OVER (ORDER BY n_chars
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM g
    ),
    r AS (SELECT n_chars, 2 * cum - dup + 1 AS r2 FROM c),
    s AS (
        SELECT v.source, count(*) AS n_s,
               CAST(sum(r.r2) AS BIGINT) AS r2_sum
        FROM v JOIN r USING (n_chars) GROUP BY v.source
    )
    SELECT source,
           CAST(n_s AS BIGINT)                        AS n_docs,
           r2_sum,
           CAST(r2_sum - n_s * (n_s + 1) AS BIGINT)   AS u2_vs_rest
    FROM s
    """,
    doc="Mann-Whitney rank-sum statistic (one-vs-rest per source, over "
    "doc length): combined-sample midranks carried as INTEGER doubled "
    "midranks (2*midrank = 2*cnt_less + dup + 1 — tie handling without "
    "fractions), per-source rank sum R2 and U2 = 2U = R2 - n(n+1) — the "
    "nonparametric location test next to the KS statistic (which "
    "compares whole CDFs; MW tests stochastic dominance). Exact "
    "integers end to end, so the oracle replays it bit-for-bit. Plan "
    "discipline: the global cumulative count over the value-level "
    "relation uses the banded prefix-sum operator (operators/prefix.py "
    "— per-band totals + triangular band offsets + band-partitioned "
    "window), NEVER a single-partition global window; the doubled-rank "
    "relation is value-level (bounded by distinct lengths) and "
    "re-enters broadcast.",
)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "n_chars")
    g = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("dup")).withColumn(
        "band", F.expr("n_chars div 128")
    )
    cum = banded_running_sum(
        g, "band", [F.col("n_chars")], "dup", out_col="cum", descending=False
    )
    r = cum.select(
        "n_chars", (F.lit(2) * F.col("cum") - F.col("dup") + 1).alias("r2")
    )
    s = (
        d.join(F.broadcast(r), "n_chars")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_s"),
            F.sum("r2").cast("long").alias("r2_sum"),
        )
    )
    return s.select(
        "source",
        F.col("n_s").cast("long").alias("n_docs"),
        "r2_sum",
        (F.col("r2_sum") - F.col("n_s") * (F.col("n_s") + 1))
        .cast("long")
        .alias("u2_vs_rest"),
    )


@register(
    "agg_gini_per_nation",
    """
    WITH v AS (
        SELECT n.n_name AS nation,
               CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
               o.o_orderkey
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    r AS (
        SELECT nation, cents,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY cents, o_orderkey) AS i
        FROM v
    ),
    s AS (
        SELECT nation, count(*) AS n,
               CAST(sum(cents) AS HUGEINT) AS sum_x,
               CAST(sum(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS sum_ix
        FROM r GROUP BY nation
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_orders,
           CAST(sum_x AS BIGINT) AS total_cents,
           CAST(((2 * sum_ix - (n + 1) * sum_x) // n) * 1000000
                // sum_x AS BIGINT) AS gini_micro
    FROM s
    """,
    doc="Exact Gini concentration index of order value per customer "
    "nation, via the rank formulation G = (2*sum(i*x_i) - (n+1)*sum x) "
    "/ (n*sum x) over the ascending-sorted group — the inequality/"
    "concentration statistic (revenue concentration, whale detection) "
    "in pure integer arithmetic: cent-quantized values, a deterministic "
    "(cents, orderkey) tie-break, and micro-unit floor division, so "
    "both engines agree bit-for-bit (the per-n floor division happens "
    "BEFORE the micro scaling so the numerator never exceeds int64 — "
    "relative floor error <= 1/(A/n) ~ 1e-10, part of the defined "
    "semantics). Plan: one exchange on nation feeds "
    "a partition-local ranking window and the grouped fold — no global "
    "sort, no single-partition exchange (ranks are PER GROUP; for a "
    "corpus-wide Gini the banded prefix-sum operator supplies the "
    "global rank, as in stat_mann_whitney_u). The rank-weighted sum is "
    "DECIMAL(38,0)/HUGEINT on both engines — the int64 form ANSI-raised "
    "at the generated sf10's 6e5 orders/nation (first full-registry "
    "sf10 sweep, round 9), and the decimal floor-division identity "
    "(a - a%b)/b keeps the quotient exact with values unchanged at "
    "every previously attested scale point.",
)
def agg_gini_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    v = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation"), "cents", "o_orderkey")
    )
    w = Window.partitionBy("nation").orderBy("cents", "o_orderkey")
    r = v.withColumn("i", F.row_number().over(w))
    s = r.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("sum_x"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("sum_ix"),
    )
    # decimal floor-division identity (nonnegative operands), same as
    # ml_stump_split_finding: Spark `div` is bigint-only, and the
    # rank-weighted sum exceeds int64 at ~6e5 orders/nation (the first
    # sf10 sweep ANSI-raised here); DECIMAL(38,0) end-to-end fixes it
    # with values unchanged at every attested scale point.
    g = s.select(
        "nation",
        F.col("n").cast("long").alias("n_orders"),
        "sum_x",
        F.expr(
            "CAST((((2 * sum_ix - (n + 1) * sum_x)"
            " - (2 * sum_ix - (n + 1) * sum_x) % n) / n) * 1000000"
            " AS DECIMAL(38,0))"
        ).alias("_num"),
    )
    return g.select(
        "nation",
        "n_orders",
        F.col("sum_x").cast("long").alias("total_cents"),
        F.expr("CAST((_num - _num % sum_x) / sum_x AS BIGINT)").alias(
            "gini_micro"
        ),
    )


@register(
    "stat_anova_oneway",
    """
    WITH x AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    g AS (
        SELECT event_type, count(*) AS n_i,
               CAST(sum(cents) AS BIGINT) AS t_i,
               CAST(sum(cents * cents) AS BIGINT) AS q_i
        FROM x GROUP BY event_type
    ),
    parts AS (
        SELECT count(*) AS k, sum(n_i) AS n,
               sum(CAST(t_i AS HUGEINT) * t_i // n_i) AS sum_a,
               sum(t_i) AS t, sum(q_i) AS q
        FROM g
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(sum_a - (CAST(t AS HUGEINT) * t // n) AS BIGINT) AS ssb_cents2,
           CAST(q - sum_a AS BIGINT) AS ssw_cents2,
           CAST((CAST(1000 AS HUGEINT) * (sum_a - CAST(t AS HUGEINT) * t // n)
                 * (n - k))
                // ((q - sum_a) * (k - 1)) AS BIGINT) AS f_milli
    FROM parts
    """,
    doc="One-way ANOVA across event types (does mean event value differ "
    "by type?) in EXACT fixed point — the omnibus location test "
    "completing the stats family (KS=distribution drift, chi2="
    "independence, Mann-Whitney=two-sample location, Gini/winsorized="
    "dispersion): values quantized to integer cents, per-group exact "
    "sufficient statistics (n_i, sum, sum-of-squares) in ONE aggregate "
    "pass with map-side partials, then SSB/SSW via the computational "
    "formula with DEFINED floor division (sum T_i^2 div n_i in 128-bit "
    "intermediates — DECIMAL(38) on Spark, HUGEINT in DuckDB — since "
    "T_i^2 overflows int64 beyond sf0.01) and the F statistic emitted in "
    "integer milli-units. The <=1-cent^2 flooring slack per group is part "
    "of the defined semantics, identical on both engines — no float ever "
    "enters, so the hash check is exact at any scale factor.",
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_i"),
        F.sum("cents").cast("long").alias("t_i"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("q_i"),
    )
    parts = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_i").alias("n"),
        # True integral division (`div`, truncate-toward-zero) — NOT
        # floor(a / b): Spark decimal `/` rounds HALF_UP at result scale
        # before floor, so a quotient within ~5e-7 of an integer floors one
        # high vs DuckDB's exact `//`. Both `div` and `//` truncate toward
        # zero, so the engines agree bit-for-bit (relational.py money
        # protocol). Each per-group quotient T_i^2/n_i ~ n_i*mean^2 fits
        # int64 (Spark `div` returns BIGINT) up to ~3e9 rows/group; the SUM
        # across groups is carried in DECIMAL(38,0).
        F.sum(
            F.expr(
                "CAST(CAST(t_i AS DECIMAL(19,0)) * t_i div n_i"
                " AS DECIMAL(38,0))"
            )
        ).alias("sum_a"),
        F.sum("t_i").alias("t"),
        F.sum("q_i").alias("q"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(sum_a - CAST(t AS DECIMAL(19,0)) * t div n AS BIGINT)"
        ).alias("ssb_cents2"),
        F.expr("CAST(q - sum_a AS BIGINT)").alias("ssw_cents2"),
        F.expr(
            "CAST(1000 * (sum_a - CAST(t AS DECIMAL(19,0)) * t div n)"
            " * (n - k) div ((q - sum_a) * (k - 1)) AS BIGINT)"
        ).alias("f_milli"),
    )


@register(
    "agg_hll_overlap_estimate",
    """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    a AS (SELECT event_type, user_id FROM ut),
    b AS (SELECT event_type, user_id FROM ut),
    ov AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS exact_overlap
        FROM a JOIN b ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, CAST(exact_overlap AS BIGINT) AS exact_overlap,
           TRUE AS sketch_within_tol
    FROM ov
    """,
    doc="Audience-overlap estimation via HLL sketch algebra — the "
    "set-INTERSECTION sibling of agg_hll_shard_union: |A intersect B| = "
    "|A| + |B| - |A union B| by inclusion-exclusion, where each term is "
    "an HLL estimate and the union comes from hll_union of the two "
    "per-type sketches — so pairwise audience overlaps across N "
    "segments need N sketches (16 KB each), not N^2 distinct-count "
    "scans; a new segment means ONE new sketch. Per the registry's "
    "sketch idiom the emitted columns are the EXACT overlap (one "
    "distinct (user,type) relation self-joined on user, keyed shuffle) "
    "plus a Spark-computed tolerance boolean the oracle emits as literal "
    "TRUE. The tolerance is max(5% of exact overlap, 5% of |A|+|B|): "
    "inclusion-exclusion error is ABSOLUTE in the set sizes (std ~ "
    "1.04/sqrt(2^14) ~ 0.81% per term, <= ~1.6% of |A|+|B| combined, so "
    "5% is ~3 sigma), while a purely relative 5%-of-overlap check would "
    "false-fail any low-overlap pair at larger scale factors where the "
    "exact intersection is small relative to the audiences.",
)
def agg_hll_overlap_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ut = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = ut.select(F.col("event_type").alias("type_a"), "user_id")
    b = ut.select(F.col("event_type").alias("type_b"), "user_id")
    exact = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    sk = ut.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    ska = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("n_a"),
    )
    skb = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("n_b"),
    )
    est = (
        ska.crossJoin(skb)
        .filter(F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            (
                F.expr("hll_sketch_estimate(sk_a)")
                + F.expr("hll_sketch_estimate(sk_b)")
                - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
            ).alias("est_overlap"),
        )
    )
    return exact.join(F.broadcast(est), ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_overlap",
        # absolute floor: HLL error compounds absolutely in |A|+|B|, not
        # relative to the (possibly tiny) intersection
        (
            F.abs(F.col("est_overlap") - F.col("exact_overlap"))
            <= F.greatest(
                0.05 * F.col("exact_overlap"),
                0.05 * (F.col("n_a") + F.col("n_b")),
            )
        ).alias("sketch_within_tol"),
    )


@register(
    "stat_spearman_rank_corr",
    """
    WITH c AS (
        SELECT c.c_nationkey AS nation, c.c_custkey,
               CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
               count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
    ),
    r AS (
        SELECT nation, c_custkey,
               2 * rank() OVER (PARTITION BY nation ORDER BY bal)
                 + count(*) OVER (PARTITION BY nation, bal) - 1 AS rx2,
               2 * rank() OVER (PARTITION BY nation ORDER BY n_orders)
                 + count(*) OVER (PARTITION BY nation, n_orders) - 1 AS ry2
        FROM c
    ),
    s AS (
        SELECT nation, count(*) AS n,
               sum(CAST(rx2 AS HUGEINT)) AS sx,
               sum(CAST(ry2 AS HUGEINT)) AS sy,
               sum(CAST(rx2 AS HUGEINT) * rx2) AS sxx,
               sum(CAST(ry2 AS HUGEINT) * ry2) AS syy,
               sum(CAST(rx2 AS HUGEINT) * ry2) AS sxy
        FROM r GROUP BY nation
    )
    SELECT nation, CAST(n AS BIGINT) AS n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)) * 10000 + 0.5)
               / 10000.0 AS spearman_rho
    FROM s
    """,
    doc="Spearman rank correlation per nation (account balance vs order "
    "count) — the RANK-based robust sibling of corr_per_group's Pearson: "
    "monotone association, insensitive to outliers and to any monotone "
    "rescaling of either variable. Ties are handled exactly via "
    "DOUBLED average ranks (2*avg_rank = 2*rank + tie_count - 1, an "
    "INTEGER — the halves introduced by midranks never materialize as "
    "floats), then Pearson over the doubled ranks from exact integer "
    "sufficient statistics (decimal/HUGEINT sums), one identical double "
    "formula + floor-parity rounding at 4 dp on both engines. Scale "
    "shape: one customer-keyed outer join + count, rank windows "
    "partitioned BY NATION (never single-partition), one grouped "
    "moment aggregate — 25 output rows regardless of data size.",
)
def stat_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    c = (
        cu.join(o, cu["c_custkey"] == o["o_custkey"], "left")
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
            .cast("long")
            .alias("bal"),
        )
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    rx2 = (
        2 * F.rank().over(Window.partitionBy("nation").orderBy("bal"))
        + F.count(F.lit(1)).over(Window.partitionBy("nation", "bal"))
        - 1
    ).cast("long")
    ry2 = (
        2 * F.rank().over(Window.partitionBy("nation").orderBy("n_orders"))
        + F.count(F.lit(1)).over(Window.partitionBy("nation", "n_orders"))
        - 1
    ).cast("long")
    r = c.select("nation", rx2.alias("rx2"), ry2.alias("ry2"))
    dec = "decimal(38,0)"
    s = r.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx2").cast(dec)).alias("sx"),
        F.sum(F.col("ry2").cast(dec)).alias("sy"),
        F.sum((F.col("rx2").cast(dec) * F.col("rx2"))).alias("sxx"),
        F.sum((F.col("ry2").cast(dec) * F.col("ry2"))).alias("syy"),
        F.sum((F.col("rx2").cast(dec) * F.col("ry2"))).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "nation",
        F.col("n").cast("long").alias("n"),
        (
            F.floor(num / F.sqrt(varx * vary) * 10000 + F.lit(0.5)) / 10000.0
        ).alias("spearman_rho"),
    )


@register(
    "stat_welch_ttest",
    """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('click', 'view')
    ),
    g AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM cents GROUP BY event_type
    ),
    w AS (
        SELECT a.n AS n_click, b.n AS n_view,
               (a.s1 * 1.0 / a.n) AS m1, (b.s1 * 1.0 / b.n) AS m2,
               (a.s2 - a.s1 * 1.0 / a.n * a.s1) / (a.n - 1) AS v1,
               (b.s2 - b.s1 * 1.0 / b.n * b.s1) / (b.n - 1) AS v2
        FROM (SELECT * FROM g WHERE event_type = 'click') a,
             (SELECT * FROM g WHERE event_type = 'view') b
    )
    SELECT n_click, n_view,
           CAST(floor((m1 - m2) / sqrt(v1 / n_click + v2 / n_view) * 1000000
                      + 0.5) AS BIGINT) AS t_micro,
           CAST(floor(
               ((v1 / n_click + v2 / n_view) * (v1 / n_click + v2 / n_view))
               / ((v1 / n_click) * (v1 / n_click) / (n_click - 1)
                  + (v2 / n_view) * (v2 / n_view) / (n_view - 1)) * 1000
               + 0.5) AS BIGINT) AS df_milli
    FROM w
    """,
    doc="Welch's unequal-variance t-test (click vs view event values) "
    "completing the hypothesis-testing family (ANOVA / chi2 / KS / "
    "Mann-Whitney / Spearman): values are exact integer cents "
    "(round(value*100)), per-group n / sum / sum-of-squares are exact "
    "integer sufficient statistics from ONE partial-aggregated pass "
    "(the 100 TB shape — two grouped sums, no second scan), and the t "
    "statistic + Welch-Satterthwaite df are computed with the IDENTICAL "
    "double expression tree on both engines, then fixed-pointed "
    "(floor(x*1e6+0.5) / floor(x*1e3+0.5)) so no rounding-mode "
    "difference can leak into the hash.",
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"),
        F.col("s1").alias("a1"),
        F.col("s2").alias("a2"),
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"),
        F.col("s1").alias("b1"),
        F.col("s2").alias("b2"),
    )
    w = a.crossJoin(F.broadcast(b)).select(
        "n_click",
        "n_view",
        (F.col("a1") * 1.0 / F.col("n_click")).alias("m1"),
        (F.col("b1") * 1.0 / F.col("n_view")).alias("m2"),
        (
            (F.col("a2") - F.col("a1") * 1.0 / F.col("n_click") * F.col("a1"))
            / (F.col("n_click") - 1)
        ).alias("v1"),
        (
            (F.col("b2") - F.col("b1") * 1.0 / F.col("n_view") * F.col("b1"))
            / (F.col("n_view") - 1)
        ).alias("v2"),
    )
    se2_1 = F.col("v1") / F.col("n_click")
    se2_2 = F.col("v2") / F.col("n_view")
    return w.select(
        "n_click",
        "n_view",
        F.floor((F.col("m1") - F.col("m2")) / F.sqrt(se2_1 + se2_2) * 1_000_000 + 0.5)
        .cast("long")
        .alias("t_micro"),
        F.floor(
            ((se2_1 + se2_2) * (se2_1 + se2_2))
            / (
                se2_1 * se2_1 / (F.col("n_click") - 1)
                + se2_2 * se2_2 / (F.col("n_view") - 1)
            )
            * 1000
            + 0.5
        )
        .cast("long")
        .alias("df_milli"),
    )


@register(
    "stat_kendall_tau",
    """
    WITH spend AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY o_custkey
    ),
    panel AS (
        SELECT nation, ck, x, y FROM (
            SELECT n.n_name AS nation, c.c_custkey AS ck,
                   CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT) AS x,
                   s.y,
                   row_number() OVER (PARTITION BY n.n_name
                                      ORDER BY c.c_custkey) AS rn
            FROM customer c
            JOIN spend s ON s.ck = c.c_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
        ) WHERE rn <= 500
    ),
    pairs AS (
        SELECT a.nation,
               CASE WHEN a.x < b.x THEN -1 WHEN a.x > b.x THEN 1 ELSE 0 END
                   AS dx,
               CASE WHEN a.y < b.y THEN -1 WHEN a.y > b.y THEN 1 ELSE 0 END
                   AS dy
        FROM panel a JOIN panel b
          ON a.nation = b.nation AND a.ck < b.ck
    ),
    agg AS (
        SELECT nation,
               CAST(count(*) AS BIGINT)                          AS n0,
               CAST(sum(CASE WHEN dx * dy = 1  THEN 1 ELSE 0 END)
                    AS BIGINT)                                    AS conc,
               CAST(sum(CASE WHEN dx * dy = -1 THEN 1 ELSE 0 END)
                    AS BIGINT)                                    AS disc,
               CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END)
                    AS BIGINT)                                    AS tx,
               CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END)
                    AS BIGINT)                                    AS ty
        FROM pairs GROUP BY nation
    )
    SELECT nation, n0 AS n_pairs, conc, disc,
           CAST(floor((conc - disc) * 1000000.0
                      / sqrt((n0 - tx) * 1.0 * (n0 - ty)) + 0.5)
                AS BIGINT) AS tau_b_micro
    FROM agg
    """,
    doc="Kendall tau-b rank correlation (account balance vs lifetime "
    "spend) per customer nation — the concordance-based sibling of "
    "stat_spearman_rank_corr, robust to monotone transforms and exact "
    "under ties. Pairwise concordance is inherently quadratic, so the "
    "100 TB shape is a BOUNDED PANEL: a deterministic row_number<=500 "
    "cap per group (lowest custkeys) fixes the per-group pair volume at "
    "<=124,750 regardless of scale, the same bounded-group contract the "
    "reference's per-play kernels rely on (all plays <= ~1,100 frames; "
    "cf. /root/reference/optimal_pursuit.py batching). Plan: per-"
    "customer spend is one grouped sum, the panel one exchange on "
    "nation, and the pair generator a self-equi-join ON nation co-"
    "partitioned by that same exchange (never a cross join); sign "
    "products fold into five integer counters per group, tau-b = "
    "(C-D)/sqrt((n0-tx)(n0-ty)) is fixed-pointed with the IEEE-exact "
    "sqrt so both engines agree bit-for-bit.",
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    spend = o.groupBy("o_custkey").agg(
        F.sum("cents").cast("long").alias("y")
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100.0 + 0.5).cast("long").alias("x"),
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        c.join(spend, c.c_custkey == spend.o_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("c_custkey").alias("ck"), "x", "y")
    )
    w = Window.partitionBy("nation").orderBy("ck")
    panel = (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 500)
        .drop("rn")
    )
    a = panel.alias("a")
    b = panel.select(
        F.col("nation").alias("nation_b"),
        F.col("ck").alias("ck_b"),
        F.col("x").alias("x_b"),
        F.col("y").alias("y_b"),
    ).alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("nation_b")) & (F.col("a.ck") < F.col("ck_b")),
    ).select(
        "nation",
        F.signum(F.col("x_b") - F.col("a.x")).cast("int").alias("dx"),
        F.signum(F.col("y_b") - F.col("a.y")).cast("int").alias("dy"),
    )
    agg = pairs.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(F.col("dx") * F.col("dy") == 1, 1).otherwise(0))
        .cast("long")
        .alias("conc"),
        F.sum(F.when(F.col("dx") * F.col("dy") == -1, 1).otherwise(0))
        .cast("long")
        .alias("disc"),
        F.sum(F.when(F.col("dx") == 0, 1).otherwise(0)).cast("long").alias("tx"),
        F.sum(F.when(F.col("dy") == 0, 1).otherwise(0)).cast("long").alias("ty"),
    )
    return agg.select(
        "nation",
        F.col("n0").alias("n_pairs"),
        "conc",
        "disc",
        F.floor(
            (F.col("conc") - F.col("disc"))
            * 1_000_000.0
            / F.sqrt((F.col("n0") - F.col("tx")) * 1.0 * (F.col("n0") - F.col("ty")))
            + 0.5
        )
        .cast("long")
        .alias("tau_b_micro"),
    )


@register(
    "stat_wilson_ci",
    """
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN value > 80.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events GROUP BY event_type
    ),
    w AS (
        SELECT event_type, n, k,
               k * 1.0 / n AS p,
               1.96 * 1.96 / n AS zz_n
        FROM g
    )
    SELECT event_type, n, k,
           CAST(floor(p * 1000000 + 0.5) AS BIGINT) AS p_micro,
           CAST(floor(((p + zz_n / 2) / (1 + zz_n)
                       - 1.96 * sqrt(p * (1 - p) / n + zz_n / (4 * n))
                         / (1 + zz_n)) * 1000000 + 0.5) AS BIGINT)
               AS lo_micro,
           CAST(floor(((p + zz_n / 2) / (1 + zz_n)
                       + 1.96 * sqrt(p * (1 - p) / n + zz_n / (4 * n))
                         / (1 + zz_n)) * 1000000 + 0.5) AS BIGINT)
               AS hi_micro
    FROM w
    """,
    doc="Wilson 95% score interval for a per-segment success proportion "
    "(share of high-value events, value > 80 ~ the 80th percentile) — "
    "the interval estimation counterpart of the hypothesis-test family, "
    "and the right proportion CI for small k (never escapes [0,1], "
    "unlike the Wald interval). One partial-aggregated grouped pass "
    "produces exact integer (n, k) sufficient statistics — the 100 TB "
    "shape is identical to any grouped count — and the interval itself "
    "is computed on the 5-row aggregate with the IDENTICAL double "
    "expression tree on both engines (z = 1.96 literal, IEEE-exact "
    "sqrt), then micro fixed-pointed so no rounding-mode difference can "
    "leak into the hash.",
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("value") > 80.0, 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    p = F.col("k") * 1.0 / F.col("n")
    zz_n = F.lit(1.96) * 1.96 / F.col("n")
    half = (
        F.lit(1.96)
        * F.sqrt(p * (1 - p) / F.col("n") + zz_n / (4 * F.col("n")))
        / (1 + zz_n)
    )
    center = (p + zz_n / 2) / (1 + zz_n)
    return g.select(
        "event_type",
        "n",
        "k",
        F.floor(p * 1_000_000 + 0.5).cast("long").alias("p_micro"),
        F.floor((center - half) * 1_000_000 + 0.5).cast("long").alias("lo_micro"),
        F.floor((center + half) * 1_000_000 + 0.5).cast("long").alias("hi_micro"),
    )


def _bloom_p1(col: str):
    """First Bloom probe position: two-part multiplicative mix, every
    intermediate product bounded by 2^31 * prime < 2^63 so the hash is
    overflow-safe for the FULL int64 key space (the first sf10 run
    overflowed the naive k*prime at the generator's ~1e10 offset keys —
    the mod-reduce-then-mix form is the fix, mirrored in the oracle)."""
    return F.expr(
        f"(({col} % 2147483648) * 2654435761 % 32768"
        f" + ({col} div 2147483648 % 2147483648) * 1779033703 % 32768)"
        " % 32768"
    )


def _bloom_p2(col: str):
    """Second Bloom probe position (independent primes + offset)."""
    return F.expr(
        f"(({col} % 2147483648) * 2246822519 % 32768"
        f" + ({col} div 2147483648 % 2147483648) * 3144134277 % 32768"
        " + 1013904223) % 32768"
    )


@register(
    "agg_bloom_prefilter_join",
    """
    WITH early AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderdate < TIMESTAMP '1995-06-01'
    ),
    pos AS (
        SELECT unnest([((k % 2147483648) * 2654435761 % 32768
                        + (k // 2147483648 % 2147483648)
                          * 1779033703 % 32768) % 32768,
                       ((k % 2147483648) * 2246822519 % 32768
                        + (k // 2147483648 % 2147483648)
                          * 3144134277 % 32768
                        + 1013904223) % 32768]) AS p
        FROM early
    ),
    words AS (
        SELECT p // 32 AS wd,
               CAST(bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS BIGINT)
                   AS word
        FROM pos GROUP BY p // 32
    ),
    probe AS (
        SELECT c_custkey AS ck,
               ((c_custkey % 2147483648) * 2654435761 % 32768
                + (c_custkey // 2147483648 % 2147483648)
                  * 1779033703 % 32768) % 32768 AS p1,
               ((c_custkey % 2147483648) * 2246822519 % 32768
                + (c_custkey // 2147483648 % 2147483648)
                  * 3144134277 % 32768
                + 1013904223) % 32768 AS p2
        FROM customer
    ),
    j AS (
        SELECT pr.ck,
               coalesce((w1.word >> CAST(pr.p1 % 32 AS INTEGER)) & 1, 0)
                   AS b1,
               coalesce((w2.word >> CAST(pr.p2 % 32 AS INTEGER)) & 1, 0)
                   AS b2,
               CASE WHEN e.k IS NULL THEN 0 ELSE 1 END AS has_early
        FROM probe pr
        LEFT JOIN words w1 ON w1.wd = pr.p1 // 32
        LEFT JOIN words w2 ON w2.wd = pr.p2 // 32
        LEFT JOIN early e ON e.k = pr.ck
    )
    SELECT has_early,
           CAST(count(*) AS BIGINT)      AS n_cust,
           CAST(sum(b1 * b2) AS BIGINT)  AS n_bloom_pass
    FROM j GROUP BY has_early
    """,
    doc="Bloom-filter join prefilter with EXACT cross-engine semantics: "
    "a 32,768-bit / 1,024-word blocked Bloom filter over the early-"
    "window buyer keys, probed by every customer, reported as (truth, "
    "bloom-pass) counts per cohort. Spark's built-in runtime bloom "
    "pruning is opaque (bloom_filter_agg is not SQL-registered and its "
    "xxhash layout is engine-private), so the filter here is built from "
    "PORTABLE integer arithmetic — two Knuth/xxhash-prime multiplicative "
    "probes mixing the low and high 31-bit halves of the key "
    "independently (mod-reduce BEFORE multiply, every intermediate "
    "under 2^62: overflow-safe for the FULL int64 key space — the "
    "naive k*prime form overflowed at the sf10 generator's ~1e10 "
    "offset keys, _bloom_p1/_bloom_p2 are the fix, mirrored verbatim "
    "in this oracle), 32-bit words via bit_or(1<<bit) — so the FALSE-"
    "POSITIVE set itself is deterministic and the oracle hash covers it, "
    "not just the no-false-negative invariant (which the has_early=1 "
    "row attests structurally: n_bloom_pass = n_cust). The 100 TB "
    "shape: the word table is KB-sized and broadcast to both probe "
    "joins — a dim-side sketch that prunes a fact-side shuffle, exactly "
    "how runtime row-group pruning earns its keep; build side is one "
    "distinct + one grouped bit_or.",
)
def agg_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    early = (
        o.filter(F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    pos = early.select(
        F.explode(F.array(_bloom_p1("k"), _bloom_p2("k"))).alias("p")
    )
    words = (
        pos.select(
            F.expr("p div 32").alias("wd"),
            F.expr("CAST(p % 32 AS INT)").alias("b"),
        )
        .groupBy("wd")
        .agg(
            F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), b)"))
            .cast("long")
            .alias("word")
        )
    )
    probe = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        _bloom_p1("c_custkey").alias("p1"),
        _bloom_p2("c_custkey").alias("p2"),
    )
    w1 = words.select(F.col("wd").alias("wd1"), F.col("word").alias("word1"))
    w2 = words.select(F.col("wd").alias("wd2"), F.col("word").alias("word2"))
    j = (
        probe.join(F.broadcast(w1), F.expr("p1 div 32") == F.col("wd1"), "left")
        .join(F.broadcast(w2), F.expr("p2 div 32") == F.col("wd2"), "left")
        .join(F.broadcast(early), F.col("ck") == F.col("k"), "left")
        .select(
            F.coalesce(
                F.expr("shiftright(word1, CAST(p1 % 32 AS INT)) & 1"), F.lit(0)
            ).alias("b1"),
            F.coalesce(
                F.expr("shiftright(word2, CAST(p2 % 32 AS INT)) & 1"), F.lit(0)
            ).alias("b2"),
            F.when(F.col("k").isNull(), 0).otherwise(1).alias("has_early"),
        )
    )
    return j.groupBy("has_early").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum(F.col("b1") * F.col("b2")).cast("long").alias("n_bloom_pass"),
    )


@register(
    "stat_sign_flip_permutation",
    """
    WITH m AS (
        SELECT user_id, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
        FROM events WHERE event_type IN ('click', 'view')
        GROUP BY user_id, event_type
    ),
    d AS (
        SELECT a.user_id AS u,
               (2 * a.s + a.n) // (2 * a.n)
                 - (2 * b.s + b.n) // (2 * b.n) AS diff
        FROM (SELECT * FROM m WHERE event_type = 'click') a
        JOIN (SELECT * FROM m WHERE event_type = 'view') b
          ON a.user_id = b.user_id
    ),
    obs AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(diff) AS BIGINT) AS s_obs
        FROM d
    ),
    flips AS (
        SELECT k, CAST(sum(
                   (1 - 2 * (((u + 1 + k * 7919) % 1048576)
                             * ((u + 1 + k * 7919) % 1048576)
                              // 1024 % 2)) * diff) AS BIGINT) AS s_k
        FROM d, unnest(range(1, 65)) AS t(k)
        GROUP BY k
    )
    SELECT o.n_users,
           o.s_obs AS s_obs_cents,
           CAST(count(*) AS BIGINT) AS n_flips,
           CAST(sum(CASE WHEN abs(f.s_k) >= abs(o.s_obs)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ge,
           CAST((1 + sum(CASE WHEN abs(f.s_k) >= abs(o.s_obs)
                              THEN 1 ELSE 0 END)) * 1000 // (count(*) + 1)
                AS BIGINT) AS p_milli
    FROM flips f, obs o
    GROUP BY o.n_users, o.s_obs
    """,
    doc="Sign-flip permutation test for a paired mean difference (per-"
    "user click-vs-view mean value in integer cents): under H0 each "
    "user's difference is symmetric around 0, so the null distribution "
    "comes from re-summing with DETERMINISTIC pseudo-random signs — 64 "
    "flip vectors derived from middle-square bit mixing "
    "(((u+1+k*7919) mod 2^20)^2 div 1024 mod 2 — the pre-square mod "
    "keeps every intermediate under 2^40, overflow-safe for the FULL "
    "int64 id space), the same derandomization contract "
    "as every hash-seeded pipeline in this repo (both engines compute "
    "the identical flip set, so the permutation DISTRIBUTION itself is "
    "hash-attested, not just the p-value). p = (1 + #{k: |S_k| >= |S_obs|}) / (K+1), the "
    "add-one Monte-Carlo estimator, in exact integer milli. Plan: one "
    "grouped pass for per-user means, a 64-way flat-map (no shuffle "
    "growth — the exchange carries 64 partial sums), two scalar folds. "
    "At 100 TB the per-user reduction is the only data-sized exchange; "
    "the permutation replicas ride map-side partial aggregation.",
)
def stat_sign_flip_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    m = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("s"),
    )
    a = m.filter(F.col("event_type") == "click").select(
        "user_id", F.expr("(2 * s + n) div (2 * n)").alias("mc")
    )
    b = m.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id_b"),
        F.expr("(2 * s + n) div (2 * n)").alias("mv"),
    )
    d = a.join(b, F.col("user_id") == F.col("user_id_b")).select(
        F.col("user_id").alias("u"), (F.col("mc") - F.col("mv")).alias("diff")
    )
    obs = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("diff").cast("long").alias("s_obs"),
    )
    flips = (
        d.select(
            "u", "diff", F.explode(F.sequence(F.lit(1), F.lit(64))).alias("k")
        )
        .groupBy("k")
        .agg(
            F.sum(
                F.expr(
                    "(1 - 2 * (((u + 1 + k * 7919) % 1048576)"
                    " * ((u + 1 + k * 7919) % 1048576)"
                    " div 1024 % 2)) * diff"
                )
            )
            .cast("long")
            .alias("s_k")
        )
    )
    j = flips.crossJoin(F.broadcast(obs))
    out = j.groupBy("n_users", "s_obs").agg(
        F.count(F.lit(1)).cast("long").alias("n_flips"),
        F.sum(
            F.when(F.abs(F.col("s_k")) >= F.abs(F.col("s_obs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_ge"),
        F.expr(
            "CAST((1 + sum(CASE WHEN abs(s_k) >= abs(s_obs)"
            " THEN 1 ELSE 0 END)) * 1000 div (count(*) + 1) AS BIGINT)"
        ).alias("p_milli"),
    )
    return out.select(
        "n_users",
        F.col("s_obs").alias("s_obs_cents"),
        "n_flips",
        "n_ge",
        "p_milli",
    )


@register(
    "stat_cohens_d",
    """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('click', 'view')
    ),
    g AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM cents GROUP BY event_type
    ),
    w AS (
        SELECT a.n AS n_click, b.n AS n_view,
               (a.s1 * 1.0 / a.n) AS m1, (b.s1 * 1.0 / b.n) AS m2,
               (a.s2 - a.s1 * 1.0 / a.n * a.s1) AS ss1,
               (b.s2 - b.s1 * 1.0 / b.n * b.s1) AS ss2
        FROM (SELECT * FROM g WHERE event_type = 'click') a,
             (SELECT * FROM g WHERE event_type = 'view') b
    )
    SELECT n_click, n_view,
           CAST(floor((m1 - m2) / sqrt((ss1 + ss2)
                      / (n_click + n_view - 2)) * 1000000 + 0.5) AS BIGINT)
               AS cohens_d_micro,
           CAST(floor((m1 - m2) / sqrt((ss1 + ss2)
                      / (n_click + n_view - 2)) * 1000000 + 0.5) AS BIGINT)
             + CAST(floor(3.0 * ((m1 - m2) / sqrt((ss1 + ss2)
                      / (n_click + n_view - 2)))
                      / (4 * (n_click + n_view) - 9) * -1000000 + 0.5)
                    AS BIGINT)
               AS hedges_g_micro
    FROM w
    """,
    doc="Cohen's d standardized effect size (pooled-SD mean difference, "
    "click vs view event values) plus the Hedges small-sample "
    "correction g = d * (1 - 3/(4N - 9)) — the effect-size report that "
    "completes the inference triple next to stat_welch_ttest (test "
    "statistic) and stat_wilson_ci (interval): significance without "
    "magnitude is how big pipelines ship no-op 'wins'. Same exact "
    "integer sufficient statistics as Welch (ONE partial-aggregated "
    "grouped pass, cents quantization), identical double expression "
    "trees on both engines (IEEE-exact sqrt), micro fixed-point at the "
    "end. g is emitted as the SUM of two independently-floored micro "
    "terms (d_micro + correction_micro), so each rounding happens on "
    "one engine-identical double and composition order cannot differ.",
)
def stat_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"), F.col("s1").alias("a1"), F.col("s2").alias("a2")
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"), F.col("s1").alias("b1"), F.col("s2").alias("b2")
    )
    w = a.crossJoin(F.broadcast(b)).select(
        "n_click",
        "n_view",
        (F.col("a1") * 1.0 / F.col("n_click")).alias("m1"),
        (F.col("b1") * 1.0 / F.col("n_view")).alias("m2"),
        (F.col("a2") - F.col("a1") * 1.0 / F.col("n_click") * F.col("a1")).alias(
            "ss1"
        ),
        (F.col("b2") - F.col("b1") * 1.0 / F.col("n_view") * F.col("b1")).alias(
            "ss2"
        ),
    )
    d_expr = (F.col("m1") - F.col("m2")) / F.sqrt(
        (F.col("ss1") + F.col("ss2")) / (F.col("n_click") + F.col("n_view") - 2)
    )
    d_micro = F.floor(d_expr * 1_000_000 + 0.5).cast("long")
    corr_micro = F.floor(
        3.0 * d_expr / (4 * (F.col("n_click") + F.col("n_view")) - 9) * -1_000_000
        + 0.5
    ).cast("long")
    return w.select(
        "n_click",
        "n_view",
        d_micro.alias("cohens_d_micro"),
        (d_micro + corr_micro).alias("hedges_g_micro"),
    )


from .pipeline_common import exp_neg_micro_duck, exp_neg_micro_spark


@register(
    "stat_benjamini_hochberg",
    f"""
    WITH cls AS (
        SELECT c.c_nationkey AS n_nationkey,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0
                    WHEN o.o_orderpriority = '3-MEDIUM' THEN 1
                    ELSE 2 END AS cl
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    pern AS (
        SELECT n_nationkey, cl, CAST(count(*) AS HUGEINT) AS o_c
        FROM cls GROUP BY n_nationkey, cl
    ),
    ng AS (
        SELECT n_nationkey, CAST(sum(o_c) AS HUGEINT) AS n_g
        FROM pern GROUP BY n_nationkey
    ),
    gcls AS (
        SELECT cl, CAST(sum(o_c) AS HUGEINT) AS c_c FROM pern GROUP BY cl
    ),
    tot AS (SELECT CAST(sum(c_c) AS HUGEINT) AS n FROM gcls),
    contrib AS (
        SELECT p.n_nationkey,
               (p.o_c * 1000000 - (ng.n_g * g.c_c * 1000000 // t.n))
               * (p.o_c * 1000000 - (ng.n_g * g.c_c * 1000000 // t.n))
               // ((ng.n_g * g.c_c * 1000000 // t.n) * 1000000) AS x
        FROM pern p
        JOIN ng USING (n_nationkey)
        JOIN gcls g ON g.cl = p.cl
        CROSS JOIN tot t
    ),
    stats AS (
        SELECT n_nationkey, CAST(sum(x) AS BIGINT) AS chi2_micro
        FROM contrib GROUP BY n_nationkey
    ),
    pv AS (
        SELECT n_nationkey, chi2_micro,
               {exp_neg_micro_duck('(chi2_micro // 2)')} AS p_micro
        FROM stats
    ),
    rk AS (
        SELECT n_nationkey, chi2_micro, p_micro,
               CAST(row_number() OVER (ORDER BY p_micro, n_nationkey)
                    AS BIGINT) AS bh_rank,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv
    ),
    ks AS (
        SELECT coalesce(max(CASE WHEN p_micro * m <= 100000 * bh_rank
                                 THEN bh_rank END), 0) AS kstar
        FROM rk
    )
    SELECT rk.n_nationkey, rk.chi2_micro, rk.p_micro, rk.bh_rank,
           100000 * rk.bh_rank // rk.m AS bh_threshold_micro,
           CASE WHEN rk.bh_rank <= ks.kstar THEN 1 ELSE 0 END AS rejected
    FROM rk CROSS JOIN ks
    """,
    doc="Benjamini-Hochberg FDR control (alpha = 0.10) over a family of "
    "per-nation chi-square goodness-of-fit tests: does a nation's order-"
    "priority mix (urgent+high / medium / rest) deviate from the global "
    "mix? The per-class statistic is computed with exact integer "
    "arithmetic in micro units (expected counts via HUGEINT/decimal "
    "floor division — the widen-before-aggregate discipline), df = "
    "(3-1)x1 = 2, where the chi-square survival function is EXACTLY "
    "exp(-x/2) — evaluated with the new portable fixed-point "
    "exp_neg_micro (pipeline_common: a 64-cell 2^-frac midpoint table + "
    "integer shift, no engine libm, bit-identical on Spark and DuckDB, "
    "monotone so the BH ranking is order-faithful). The BH step-up "
    "(max k with p_(k) <= alpha*k/m, reject ranks <= k) runs on a panel "
    "BOUNDED by the nation count: Spark collapses it to one sorted "
    "array and finds k* with array HOFs (no global window node — the "
    "registry-wide sweep holds), DuckDB uses a plain window. 100 TB "
    "shape: the only data-sized work is the grouped count (one "
    "exchange, partial-aggregated); everything after runs on m rows. "
    "The multiple-testing ledger every drift/quality audit family "
    "needs before acting on per-segment alarms.",
)
def stat_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cls = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_nationkey").alias("n_nationkey"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(2)
        .alias("cl"),
    )
    pern = cls.groupBy("n_nationkey", "cl").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("o_c")
    )
    ng = pern.groupBy("n_nationkey").agg(F.sum("o_c").alias("n_g"))
    glob = pern.groupBy("cl").agg(F.sum("o_c").alias("c_c"))
    tot = glob.agg(F.sum("c_c").alias("n"))
    # expected count in micro units, exact decimal floor division via the
    # mod-subtract identity (the _emit/gain_1e9 idiom): e = floor(a / b)
    # with a = n_g * c_c * 1e6, b = n
    joined = (
        pern.join(ng, "n_nationkey")
        .join(F.broadcast(glob), "cl")
        .crossJoin(F.broadcast(tot))
    )
    contrib = joined.select(
        "n_nationkey",
        F.expr(
            "CAST((o_c * 1000000"
            " - ((n_g * c_c * 1000000 - (n_g * c_c * 1000000) % n) / n))"
            " AS DECIMAL(38,0))"
        ).alias("diff"),
        F.expr(
            "CAST(((n_g * c_c * 1000000 - (n_g * c_c * 1000000) % n) / n)"
            " * 1000000 AS DECIMAL(38,0))"
        ).alias("den"),
    ).select(
        "n_nationkey",
        F.expr(
            "CAST((diff * diff - (diff * diff) % den) / den"
            " AS DECIMAL(38,0))"
        ).alias("x"),
    )
    stats = contrib.groupBy("n_nationkey").agg(
        F.sum("x").cast("long").alias("chi2_micro")
    )
    pv = stats.select(
        "n_nationkey",
        "chi2_micro",
        F.expr(exp_neg_micro_spark("(chi2_micro div 2)")).alias("p_micro"),
    )
    # BH step-up on the bounded panel (|nations| rows): one sorted array,
    # k* via HOFs — never a global window.
    panel = pv.agg(
        F.array_sort(
            F.collect_list(F.struct("p_micro", "n_nationkey", "chi2_micro"))
        ).alias("a")
    ).select(
        "a",
        F.size("a").cast("long").alias("m"),
        F.expr(
            "aggregate(transform(a, (s, i) ->"
            " CASE WHEN s.p_micro * size(a) <= 100000 * (CAST(i AS BIGINT) + 1)"
            " THEN CAST(i AS BIGINT) + 1 ELSE CAST(0 AS BIGINT) END),"
            " CAST(0 AS BIGINT), (acc, x) -> greatest(acc, x))"
        ).alias("kstar"),
    )
    return panel.select(
        "m", "kstar", F.posexplode("a").alias("pos", "s")
    ).select(
        F.col("s.n_nationkey").alias("n_nationkey"),
        F.col("s.chi2_micro").alias("chi2_micro"),
        F.col("s.p_micro").alias("p_micro"),
        (F.col("pos") + 1).cast("long").alias("bh_rank"),
        F.expr("100000 * (pos + 1) div m").alias("bh_threshold_micro"),
        F.when(F.col("pos") + 1 <= F.col("kstar"), 1)
        .otherwise(0)
        .alias("rejected"),
    )


@register(
    "stat_theil_sen_slope",
    """
    WITH cents AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    daily AS (
        SELECT event_type, day, CAST(sum(c) AS BIGINT) AS y
        FROM cents GROUP BY event_type, day
    ),
    slopes AS (
        SELECT a.event_type,
               (b.y - a.y) * 1.0 / (b.day - a.day) AS slope,
               a.day AS x1, b.day AS x2
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day < b.day
    ),
    rk AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, x1, x2) AS rn,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM slopes
    )
    SELECT event_type,
           CAST(cnt AS BIGINT) AS n_slopes,
           CAST(floor(slope * 1000000 + 0.5) AS BIGINT) AS sen_slope_micro
    FROM rk WHERE rn = (cnt + 1) // 2
    """,
    doc="Theil-Sen robust trend estimator per event type: the LOWER MEDIAN "
    "of all pairwise slopes (y_j - y_i)/(x_j - x_i) over the daily value "
    "series (x = epoch day, y = exact daily cents total) — the "
    "breakdown-point-0.29 alternative to OLS trend that one corrupted "
    "day cannot drag (Theil 1950 / Sen 1968, public). Exact and "
    "engine-portable: the median is selected by RANK (rn = (cnt+1) div "
    "2 over the total order slope, x1, x2), never interpolated, so no "
    "float averaging exists to differ; slopes are identical doubles "
    "from identical BIGINT operands. Scale: the pair fan-out is "
    "O(days^2) per group — bounded by the CALENDAR (365 days -> 66k "
    "pairs), not the corpus, after one partial-aggregated exchange "
    "collapses events to daily points; the rank window runs per group "
    "over those bounded pairs.",
)
def stat_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    daily = cents.groupBy("event_type", "day").agg(
        F.sum("c").cast("long").alias("y")
    )
    a = daily.select(
        "event_type", F.col("day").alias("x1"), F.col("y").alias("y1")
    )
    b = daily.select(
        "event_type", F.col("day").alias("x2"), F.col("y").alias("y2")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            ((F.col("y2") - F.col("y1")) * 1.0 / (F.col("x2") - F.col("x1"))).alias(
                "slope"
            ),
            "x1",
            "x2",
        )
    )
    w = Window.partitionBy("event_type").orderBy("slope", "x1", "x2")
    wc = Window.partitionBy("event_type")
    rk = slopes.select(
        "event_type",
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    # integer lower-median rank: (cnt+1) div 2.  Plain `/` is double
    # division in Spark, so an even cnt yields x.5 and matches NO rank,
    # silently dropping the whole group (r11 advice, high).
    return rk.filter(F.col("rn") == F.floor((F.col("cnt") + 1) / 2)).select(
        "event_type",
        F.col("cnt").cast("long").alias("n_slopes"),
        F.floor(F.col("slope") * 1_000_000 + 0.5).cast("long").alias(
            "sen_slope_micro"
        ),
    )


@register(
    "stat_hartley_fmax",
    """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(c) AS DOUBLE)     AS s1,
               CAST(sum(c * c) AS DOUBLE) AS s2
        FROM cents GROUP BY event_type
    ),
    v AS (
        SELECT event_type,
               (s2 - s1 * s1 / n) / (n - 1) AS s2hat
        FROM g
    ),
    mx AS (SELECT event_type, s2hat FROM v
           ORDER BY s2hat DESC, event_type LIMIT 1),
    mn AS (SELECT event_type, s2hat FROM v
           ORDER BY s2hat ASC, event_type LIMIT 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v)     AS n_groups,
           mx.event_type                                AS type_max_var,
           mn.event_type                                AS type_min_var,
           CAST(floor(mx.s2hat / mn.s2hat * 1000000 + 0.5) AS BIGINT)
               AS fmax_micro
    FROM mx, mn
    """,
    doc="Hartley's F_max variance-homogeneity screen across event types: "
    "the ratio of the largest to the smallest per-group sample variance "
    "(Hartley 1950, public) — the cheap one-pass heteroscedasticity "
    "gate run before trusting a pooled-variance test like "
    "stat_welch_ttest/stat_cohens_d. Variances come from the same exact "
    "integer sufficient statistics (cents quantization, one "
    "partial-aggregated grouped pass), the k-row extremes are selected "
    "by ORDER BY s2hat with the event_type tiebreak (TakeOrderedAnd"
    "Project on both engines, never a bare LIMIT), and the single "
    "output ratio is micro-floored once. Chosen over Bartlett's test "
    "deliberately: Bartlett needs ln of an unbounded variance product, "
    "which would force the ln_micro table through int64-overflowing "
    "n*s2 products; F_max is division-only on doubles from exact "
    "integers.",
)
def stat_hartley_fmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        # decimal-widened sums (the ANSI long-sum overflow rule): exact at
        # any corpus size, cast to double once
        F.sum(F.col("c").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    v = g.select(
        "event_type",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("s2hat"),
    )
    mx = v.orderBy(F.desc("s2hat"), "event_type").limit(1).select(
        F.col("event_type").alias("type_max_var"), F.col("s2hat").alias("maxv")
    )
    mn = v.orderBy("s2hat", "event_type").limit(1).select(
        F.col("event_type").alias("type_min_var"), F.col("s2hat").alias("minv")
    )
    ng = v.agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    return (
        ng.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(mn))
        .select(
            "n_groups",
            "type_max_var",
            "type_min_var",
            F.floor(F.col("maxv") / F.col("minv") * 1_000_000 + 0.5)
            .cast("long")
            .alias("fmax_micro"),
        )
    )


@register(
    "stat_grubbs_extreme",
    """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT event_type,
               count(*)                   AS n,
               CAST(sum(c) AS BIGINT)     AS s1,
               CAST(sum(c * c) AS DOUBLE) AS s2d,
               max(c)                     AS maxc,
               min(c)                     AS minc
        FROM cents GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CASE WHEN maxc * n - s1 >= s1 - minc * n
                THEN maxc ELSE minc END AS extreme_cents,
           CASE WHEN maxc * n - s1 >= s1 - minc * n
                THEN 'high' ELSE 'low' END AS side,
           CAST(floor(
               (CASE WHEN maxc * n - s1 >= s1 - minc * n
                     THEN maxc - CAST(s1 AS DOUBLE) / n
                     ELSE CAST(s1 AS DOUBLE) / n - minc END)
               / sqrt((s2d - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
               * 1000000 + 0.5) AS BIGINT) AS grubbs_micro
    FROM g
    """,
    doc="Grubbs' extreme-studentized-deviate statistic per event type: "
    "G = max|x - mean| / sd, with the deviant SIDE (high/low) and the "
    "extreme value itself (Grubbs 1950, public) — the single-outlier "
    "screen that complements stat_mad_outliers' bulk robust flagging "
    "with a test statistic. Key exactness move: because the mean lies "
    "between min and max, max|x - mean| = max(max - mean, mean - min), "
    "so G needs only (n, sum, sum-sq, min, max) — ONE grouped pass, no "
    "join-back of per-row deviations — and the side is chosen by the "
    "INTEGER comparison maxc*n - s1 >= s1 - minc*n (exact, never a "
    "float tie), ties going to 'high' by definition. The statistic "
    "itself is identical-tree doubles micro-floored once. Scale: "
    "partial-aggregated grouped fold, k output rows.",
)
def stat_grubbs_extreme(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").cast("long").alias("s1"),
        F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2d"),
        F.max("c").alias("maxc"),
        F.min("c").alias("minc"),
    )
    hi = F.col("maxc") * F.col("n") - F.col("s1") >= F.col("s1") - F.col(
        "minc"
    ) * F.col("n")
    mean = F.col("s1").cast("double") / F.col("n")
    dev = F.when(hi, F.col("maxc") - mean).otherwise(mean - F.col("minc"))
    sd = F.sqrt(
        (F.col("s2d") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.when(hi, F.col("maxc")).otherwise(F.col("minc")).alias("extreme_cents"),
        F.when(hi, F.lit("high")).otherwise(F.lit("low")).alias("side"),
        F.floor(dev / sd * 1_000_000 + 0.5).cast("long").alias("grubbs_micro"),
    )


@register(
    "stat_jarque_bera",
    """
    WITH cents AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(c) AS DOUBLE)                 AS s1,
               CAST(sum(c * c) AS DOUBLE)             AS s2,
               CAST(sum((c * c) * c) AS DOUBLE)       AS s3,
               CAST(sum(CAST(c * c AS HUGEINT) * (c * c)) AS DOUBLE)
                                                      AS s4
        FROM cents GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n, s1 / n AS mu,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3 * (s1 / n) * (s2 / n)
                      + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM g
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(floor(m3 / (sqrt(m2) * m2) * 1000000 + 0.5) AS BIGINT)
               AS skew_micro,
           CAST(floor(m4 / (m2 * m2) * 1000000 + 0.5) AS BIGINT)
               AS kurt_micro,
           CAST(floor(n * ((m3 / (sqrt(m2) * m2)) * (m3 / (sqrt(m2) * m2)) / 6
                + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 24)
                * 1000000 + 0.5) AS BIGINT) AS jb_micro
    FROM m
    """,
    doc="Jarque-Bera normality test per event type from exact raw moments: "
    "skewness, kurtosis and JB = n(S^2/6 + (K-3)^2/24) (Jarque & Bera "
    "1980, public) — the distribution-shape gate that tells a pipeline "
    "whether mean/sd-based scores (stat_grubbs_extreme, z-score "
    "bucketing) are even meaningful. The four raw power sums are exact "
    "integer folds in cents (the quartic term multiplies in decimal/HUGEINT per row — cents can exceed the 55108 int64 bound at generated scales — the cubic holds int64 to cents ~2e6; the sums "
    "ride the engines' wide accumulators and are cast to double ONCE), "
    "central moments and the statistic are identical-tree doubles, "
    "micro-floored once per output. ONE partial-aggregated grouped "
    "pass, k rows out — the flat 100 TB shape.",
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    c, c2 = F.col("c"), F.col("c") * F.col("c")
    # Per-row power terms fit int64 (c^4 < 2^63 for cents < 55109), but
    # the SUMS do not — Spark's long-typed sum raises under ANSI where
    # DuckDB silently widens to HUGEINT, so widen to decimal BEFORE
    # aggregating (the graph_degree_assortativity rule, advice r9).
    g = cents.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c.cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(c2.cast("decimal(38,0)")).cast("double").alias("s2"),
        F.sum((c2 * c).cast("decimal(38,0)")).cast("double").alias("s3"),
        # c^4 itself passes int64 once cents > 55108 (seen at the
        # generated sf1: max value 560.21 -> c^4 = 9.85e18), so the
        # QUARTIC multiplies in decimal per row, not just its sum
        F.sum(c2.cast("decimal(19,0)") * c2).cast("double").alias("s4"),
    )
    n = F.col("n")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    skew = m3 / (F.sqrt(m2) * m2)
    kurt = m4 / (m2 * m2)
    jb = n * (skew * skew / 6 + (kurt - 3) * (kurt - 3) / 24)
    return g.select(
        "event_type",
        n.cast("long").alias("n"),
        F.floor(skew * 1_000_000 + 0.5).cast("long").alias("skew_micro"),
        F.floor(kurt * 1_000_000 + 0.5).cast("long").alias("kurt_micro"),
        F.floor(jb * 1_000_000 + 0.5).cast("long").alias("jb_micro"),
    )


@register(
    "stat_levene_brown_forsythe",
    """
    WITH g AS (
        SELECT event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type,
               min(CASE WHEN 2 * cum_c >= n THEN cents END) AS med_c
        FROM (
            SELECT event_type, cents, c,
                   sum(c) OVER (PARTITION BY event_type ORDER BY cents
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum_c,
                   sum(c) OVER (PARTITION BY event_type) AS n
            FROM g
        ) GROUP BY event_type
    ),
    dev AS (
        SELECT g.event_type, abs(g.cents - m.med_c) AS d, sum(g.c) AS c
        FROM g JOIN med m USING (event_type)
        GROUP BY 1, 2
    ),
    zi AS (
        SELECT event_type,
               CAST(sum(c) AS BIGINT)     AS n_i,
               CAST(sum(d * c) AS BIGINT) AS t_i,
               sum(CAST(d AS HUGEINT) * d * c) AS q_i
        FROM dev GROUP BY event_type
    ),
    parts AS (
        SELECT count(*) AS k, sum(n_i) AS n,
               sum(CAST(t_i AS HUGEINT) * t_i // n_i) AS sum_a,
               sum(t_i) AS t, sum(q_i) AS q
        FROM zi
    )
    SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
           CAST(sum_a - (CAST(t AS HUGEINT) * t // n) AS BIGINT)
               AS ssb_z_cents2,
           CAST(q - sum_a AS BIGINT) AS ssw_z_cents2,
           CAST((CAST(1000 AS HUGEINT)
                 * (sum_a - CAST(t AS HUGEINT) * t // n) * (n - k))
                // ((q - sum_a) * (k - 1)) AS BIGINT) AS w_milli
    FROM parts
    """,
    doc="Levene's variance-homogeneity test in the Brown-Forsythe form "
    "(Levene 1960 / Brown & Forsythe 1974, public): one-way ANOVA run "
    "on z_ij = |x_ij - median_j| — the robust companion to "
    "stat_hartley_fmax (F_max is a cheap 2-group-extremes screen and "
    "collapses under non-normality; the BF statistic uses every group "
    "and the median centre, the recommended default). EXACT fixed "
    "point end-to-end: per-group medians come from the cents counting "
    "GRID (stat_mad_outliers' O(distinct-cents) shape — the raw table "
    "is scanned once, the rank window runs over grid cells, lower-"
    "nearest-rank by integer cross-multiplication), deviations re-key "
    "the same grid so z sufficient statistics (n_i, sum z, sum z^2) "
    "are exact integers with 128-bit intermediates (DECIMAL(38) / "
    "HUGEINT — z^2 sums overflow int64 past ~sf100), and the W "
    "statistic replays stat_anova_oneway's defined floor-division "
    "milli protocol, so the hash is engine-exact at any scale. Plan: "
    "one exchange to the grid, two bounded grid windows, one grouped "
    "fold — the corpus is never resorted and never rescanned.",
)
def stat_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    g = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    med = (
        g.select(
            "event_type",
            "cents",
            F.sum("c").over(w_cum).alias("cum_c"),
            F.sum("c").over(w_all).alias("n"),
        )
        .groupBy("event_type")
        .agg(
            F.min(
                F.when(2 * F.col("cum_c") >= F.col("n"), F.col("cents"))
            ).alias("med_c")
        )
    )
    dev = (
        g.join(F.broadcast(med), "event_type")
        .groupBy(
            "event_type", F.abs(F.col("cents") - F.col("med_c")).alias("d")
        )
        .agg(F.sum("c").alias("c"))
    )
    zi = dev.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_i"),
        F.sum(F.col("d") * F.col("c")).cast("long").alias("t_i"),
        F.sum(F.expr("CAST(d AS DECIMAL(19,0)) * d * c"))
        .cast("decimal(38,0)")
        .alias("q_i"),
    )
    parts = zi.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_i").alias("n"),
        # defined truncate-toward-zero `div` in 128-bit intermediates —
        # the stat_anova_oneway money protocol, see that query's comment
        F.sum(
            F.expr(
                "CAST(CAST(t_i AS DECIMAL(19,0)) * t_i div n_i"
                " AS DECIMAL(38,0))"
            )
        ).alias("sum_a"),
        F.sum("t_i").alias("t"),
        F.sum("q_i").alias("q"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.expr(
            "CAST(sum_a - CAST(t AS DECIMAL(19,0)) * t div n AS BIGINT)"
        ).alias("ssb_z_cents2"),
        F.expr("CAST(q - sum_a AS BIGINT)").alias("ssw_z_cents2"),
        F.expr(
            "CAST(1000 * (sum_a - CAST(t AS DECIMAL(19,0)) * t div n)"
            " * (n - k) div ((q - sum_a) * (k - 1)) AS BIGINT)"
        ).alias("w_milli"),
    )
