"""Event-stream analytics queries (evt_*, scd2_*, cdc_*, cogroup_*): sessionization, attribution, time-series decomposition, changelog/SCD reconciliation.

Split along the registry's family seams in round 9 (shared
helpers/oracle fragments live in pipeline_common.py). Original
docstrings, oracle SQL and reference citations moved verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.prefix import banded_running_sum
from ..sources.readers import read_testdata_table as _t
from ..localrel import local_df as _local
from .registry import register


@register(
    "evt_funnel_conversion",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT '1_view' AS stage, count(*) AS n_users FROM v
    UNION ALL SELECT '2_click', count(*) FROM c
    UNION ALL SELECT '3_purchase', count(*) FROM p
    """,
    doc="Ordered funnel conversion (view -> click -> purchase, each stage "
    "strictly AFTER the user's previous stage): the event-analytics "
    "sequence query. Each stage is one per-user conditional-min aggregate "
    "joined to the previous stage's firsts — every shuffle is keyed on "
    "user_id, so at scale the three stages reuse one partitioning; stage "
    "tables shrink monotonically (firsts per user, not events), so the "
    "joins get cheaper down the funnel. No window over the full event "
    "stream, no per-user sort.",
)
def evt_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df, name):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage(v, "1_view").unionAll(stage(c, "2_click")).unionAll(stage(p, "3_purchase"))
    )


@register(
    "evt_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cw
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
    )
    SELECT epoch_us(f.cw) AS cohort_week_us,
           (epoch_us(a.aw) - epoch_us(f.cw)) // 604800000000 AS week_offset,
           count(*) AS n_active
    FROM activity a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention triangle: cohort = week of a user's first "
    "event, cell = distinct users from that cohort active k weeks later. "
    "Two aggregates (per-user firsts; per-(user, week) distinct activity) "
    "+ one user-keyed join + the tiny (cohort, offset) rollup — all "
    "shuffles on user_id or coarser. Week arithmetic is integer epoch-us "
    "division on week-truncated UTC timestamps, exact in both engines.",
)
def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
        .select("user_id", F.date_trunc("week", "first_ts").alias("cw"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("aw")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .select(
            F.unix_micros("cw").alias("cohort_week_us"),
            F.expr("(unix_micros(aw) - unix_micros(cw)) div 604800000000").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week_us", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "evt_rolling_24h",
    """
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
      FROM events
    )
    SELECT event_id, user_id, ts_us,
           count(*) OVER w AS n_24h,
           CAST(sum(c) OVER w AS BIGINT) / 100.0 AS sum_24h,
           floor(CAST(sum(c) OVER w AS BIGINT) * 100.0
                 / count(*) OVER w + 0.5) / 10000 AS avg_24h
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing-24-hour rolling aggregates per user (RANGE frame over "
    "epoch-microseconds — a TIME-based sliding window, not a row-count "
    "frame: the frame widens and narrows with event density, the shape "
    "rowsBetween cannot express). One shuffle on user_id + one sort; "
    "Spark's range-frame executor buffers only the current frame span per "
    "partition, so memory is bounded by events-per-24h, not by user "
    "history. Epoch-us frame bounds and lossless integer-cent sums keep "
    "every emitted value engine-exact (the frames are float-free).",
)
def evt_rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Lossless integer cents make the frame sums exact, so the rolling
    # aggregates cannot drift with the engines' different sliding-frame
    # accumulation strategies (incremental add/remove vs segment tree).
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-86_400_000_000, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("c").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        n.alias("n_24h"),
        (s / 100.0).alias("sum_24h"),
        (F.floor(s * 100.0 / n + 0.5) / 10000).alias("avg_24h"),
    )


@register(
    "evt_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events
    ),
    t AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    )
    SELECT prev_type, next_type, n,
           floor(n * 1.0 / sum(n) OVER (PARTITION BY prev_type)
                 * 1000000 + 0.5) / 1000000 AS p
    FROM t
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences — the user-journey / session-flow analytics primitive. "
    "One user-keyed lag window (the corpus shards by user), one hash "
    "aggregate down to the BOUNDED |types|^2 transition relation, and "
    "row-normalization as a window over that post-agg relation "
    "(partitioned by prev_type — the doc_mix_weights bounded-denominator "
    "case, never a data-scale window). Ordering ties break on event_id, "
    "so the lag sequence is deterministic.",
)
def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    wseq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(wseq).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("prev_type")
    return t.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.floor(F.col("n") * 1.0 / F.sum("n").over(wrow) * 1000000 + 0.5)
            / 1000000
        ).alias("p"),
    )


@register(
    "evt_user_zscore_outliers",
    """
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    stats AS (
        SELECT user_id, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2,
               min(c) AS mn, max(c) AS mx
        FROM ev GROUP BY user_id
    ),
    z AS (
        SELECT e.event_id, e.user_id,
               floor((e.c - s.s1 * 1.0 / s.n) /
                     sqrt((s.s2 - s.s1 * 1.0 * s.s1 / s.n) / (s.n - 1.0))
                     * 10000 + 0.5) / 10000 AS z
        FROM ev e JOIN stats s USING (user_id)
        WHERE s.n > 1 AND s.mn < s.mx
    )
    SELECT event_id, user_id, z FROM z WHERE abs(z) > 3.0
    """,
    doc="Per-entity outlier detection — the anomaly/noise filter a "
    "training pipeline runs per source/user/session rather than "
    "globally: z-score each event against ITS OWN user's mean/stddev "
    "and keep |z| > 3. Per-key two-pass normalization: one hash "
    "aggregate to the |users|-row stats relation, one equi-join back on "
    "the same user_id key (both sides hash-partition on user_id, so the "
    "stats attach rides the aggregate's own exchange layout; at dim-"
    "scale AQE broadcasts the stats side instead). Values are lossless "
    "integer cents, so the per-user moments are exact integer sums and "
    "every z is bit-identical across partitionings/engines; the outlier "
    "cut runs on the 4-dp-rounded z and the sigma>0 guard is the exact, "
    "overflow-free condition min(c) < max(c). Single-event users drop "
    "via n > 1.",
)
def evt_user_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Event values are 2-decimal data: half-up rounding to integer cents is
    # lossless, and the per-user moments (n, S1, S2) become EXACT integer
    # sums — mu/sigma and every z are then bit-identical across
    # partitionings and engines. The sigma>0 guard is min(c) < max(c) —
    # exactly equivalent to sample variance > 0 and overflow-free (the
    # naive s2*n > s1*s1 product would exceed BIGINT around 1e9 events
    # per user at ~$100 values). S2 itself is exact up to ~1e9 such
    # events per user (c^2 ~ 1e8 -> s2 ~ 1e17 < 2^63); past that, shard
    # the user's moments and combine as decimals.
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
    )
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
    )
    mu = F.col("s1") * 1.0 / F.col("n")
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1") * 1.0 * F.col("s1") / F.col("n"))
        / (F.col("n") - 1.0)
    )
    z4 = F.floor((F.col("c") - mu) / sigma * 10000 + 0.5) / 10000
    return (
        ev.join(stats, "user_id")
        .filter((F.col("n") > 1) & (F.col("mn") < F.col("mx")))
        .select("event_id", "user_id", z4.alias("z"))
        .filter(F.abs(F.col("z")) > 3.0)
    )


@register(
    "cogroup_order_reconcile",
    """
    WITH l AS (
        SELECT l_orderkey AS k,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * (1 + l_tax) * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS line_cents,
               count(*) AS n_lines
        FROM lineitem WHERE l_orderkey % 100 = 0 GROUP BY l_orderkey
    ),
    o AS (
        SELECT o_orderkey AS k, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
        FROM orders WHERE o_orderkey % 100 = 0
    ),
    j AS (
        SELECT coalesce(o.k, l.k) AS k,
               coalesce(o_orderpriority, '<NO_ORDER>') AS pri,
               coalesce(total_cents, 0) AS tc,
               coalesce(line_cents, 0) AS lc,
               coalesce(n_lines, 0) AS nl
        FROM o FULL OUTER JOIN l ON o.k = l.k
    )
    SELECT pri AS o_orderpriority,
           count(*)                        AS n_orders,
           CAST(sum(nl) AS BIGINT)         AS n_lines,
           CAST(sum(abs(tc - lc)) AS BIGINT) AS abs_delta_cents
    FROM j GROUP BY pri
    """,
    doc="Cogrouped applyInPandas (the two-relation custom-compute "
    "modality): orders and their lineitems meet per order key in one "
    "pandas kernel that reconciles the order header's total against the "
    "recomputed line revenue in EXACT integer cents — emitting one "
    "delta row per key, including headerless line groups and lineless "
    "orders (the empty-side cases cogroup exists for). The aggregate "
    "per priority is JVM-side. NOTE: this reconciliation is "
    "SQL-expressible (the oracle IS the DF-native production "
    "formulation — two aggregates + one full-outer join); the cogrouped "
    "kernel is registered as the extension-point exhibit with exact "
    "parity, the same role as U3's UDF parity twin — use it when the "
    "per-key logic genuinely exceeds relational algebra (per-key "
    "simulation, rule engines, model scoring over both sides). Keyed "
    "subset (k % 100 = 0) bounds the group count BY CONTRACT: measured "
    "~3 ms per tiny cogroup dispatch (15k groups took 50 s at sf0.1 — "
    "the per-group pandas call is the intrinsic cost of this API, which "
    "is exactly why the relational twin is the production path and why "
    "group COUNT, not row count, is what must be bounded).",
)
def cogroup_order_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 100 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    )

    def reconcile(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(left):
            pri = left["o_orderpriority"].iloc[0]
            tc = int(np.floor(left["o_totalprice"].iloc[0] * 100 + 0.5))
        else:
            pri, tc = "<NO_ORDER>", 0
        if len(right):
            cents = np.floor(
                right["l_extendedprice"]
                * (1 - right["l_discount"])
                * (1 + right["l_tax"])
                * 100
                + 0.5
            ).astype("int64")
            lc, nl = int(cents.sum()), len(right)
        else:
            lc, nl = 0, 0
        return pd.DataFrame(
            {"pri": [pri], "tc": [tc], "lc": [lc], "nl": [nl]}
        )

    per_key = (
        o.groupBy(F.col("o_orderkey").alias("k"))
        .cogroup(l.groupBy(F.col("l_orderkey").alias("k")))
        .applyInPandas(reconcile, "pri string, tc long, lc long, nl long")
    )
    return per_key.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("nl").cast("long").alias("n_lines"),
        F.sum(F.abs(F.col("tc") - F.col("lc"))).cast("long").alias(
            "abs_delta_cents"
        ),
    )


@register(
    "evt_gap_fill_locf",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) // 3600000000 AS h,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events WHERE user_id % 10 = 0
    ),
    obs AS (
        SELECT user_id, h, count(*) AS n_events,
               CAST(sum(c) AS BIGINT) AS cents
        FROM e GROUP BY user_id, h
    ),
    span AS (
        SELECT user_id, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM span
    )
    SELECT g.user_id,
           CAST(g.h AS BIGINT)                                AS hour,
           CAST(coalesce(o.n_events, 0) AS BIGINT)            AS n_events,
           CAST(last_value(o.cents IGNORE NULLS) OVER w AS BIGINT)
                                                              AS locf_cents,
           CAST(g.h - last_value(CASE WHEN o.n_events IS NOT NULL
                                      THEN g.h END IGNORE NULLS) OVER w
                AS BIGINT)                                    AS gap_age_h,
           CAST(CASE WHEN o.n_events IS NULL THEN 1 ELSE 0 END AS INTEGER)
                                                              AS is_gap
    FROM grid g
    LEFT JOIN obs o ON g.user_id = o.user_id AND g.h = o.h
    WINDOW w AS (PARTITION BY g.user_id ORDER BY g.h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Time-series resample + gap-fill: bucket events to hours per user, "
    "densify each user's span to a complete hourly grid "
    "(sequence+explode — generated map-side from one (h0,h1) row per "
    "user, so the grid never shuffles raw events), then "
    "last-observation-carried-forward via last(ignorenulls) over an "
    "unbounded-preceding frame, plus the staleness age of the carried "
    "value. The hypertable rollup's missing half: rollups aggregate what "
    "IS there, gap-fill materializes what ISN'T — the densify-then-LOCF "
    "idiom every downstream ML featurizer needs for regular time grids. "
    "Scale: the grid is O(users x span-hours) independent of event count, "
    "LOCF is one partition-local sorted window per user (no global sort), "
    "and sums ride integer cents so both engines agree bit-for-bit.",
)
def evt_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
        )
    )
    obs = ev.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("c").cast("long").alias("cents"),
    )
    span = obs.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("h")
    )
    joined = grid.join(obs, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("h").cast("long").alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.last("cents", ignorenulls=True).over(w).cast("long").alias(
            "locf_cents"
        ),
        (
            F.col("h")
            - F.last(
                F.when(F.col("n_events").isNotNull(), F.col("h")),
                ignorenulls=True,
            ).over(w)
        )
        .cast("long")
        .alias("gap_age_h"),
        F.when(F.col("n_events").isNull(), 1).otherwise(0).cast("int").alias(
            "is_gap"
        ),
    )


@register(
    "evt_session_window_batch",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    m AS (
        SELECT user_id, ts_us, c,
               CASE WHEN lag(ts_us) OVER w IS NULL
                         OR ts_us - lag(ts_us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS brk
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    s AS (
        SELECT user_id, ts_us, c,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           CAST(min(ts_us) AS BIGINT)  AS session_start_us,
           CAST(count(*) AS BIGINT)    AS n_events,
           CAST(sum(c) AS BIGINT)      AS cents
    FROM s GROUP BY user_id, sid
    """,
    doc="The BUILT-IN session_window aggregation running in BATCH mode "
    "(30 min gap) — batch_sessionize hand-rolls the same semantics with "
    "lag + running-sum islands; this is the declarative form, one "
    "groupBy(user_id, session_window(ts)) whose merging Spark executes "
    "with a dedicated sort-merge session aggregate "
    "(UpdatingSessionsExec), and the SAME expression works unchanged "
    "under readStream (stream_session_stats is exactly that) — the "
    "batch/stream unification Structured Streaming promises. The oracle "
    "states the gap-islands definition relationally, so the built-in's "
    "merge rule (new session iff gap STRICTLY exceeds 30 min — a point "
    "event owns the closed interval [ts, ts+gap], so an exact-gap "
    "successor still merges) is pinned "
    "against the textbook formulation; micro-second integer timestamps "
    "and cent sums keep it engine-exact.",
)
def evt_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
    )
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("c").cast("long").alias("cents"),
        )
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("session_start_us"),
            "n_events",
            "cents",
        )
    )


@register(
    "cdc_apply_changelog",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_del,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    r AS (
        SELECT user_id, ts_us, event_id, is_del, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_ops
        FROM e
    )
    SELECT user_id,
           CAST(ts_us AS BIGINT) AS last_ts_us,
           cents                 AS last_cents,
           CAST(n_ops AS BIGINT) AS n_ops
    FROM r WHERE rn = 1 AND is_del = 0
    """,
    doc="CDC changelog apply (log compaction): replay an ordered "
    "upsert/delete stream (events; event_type='error' acts as the "
    "tombstone op) down to current state per key — the Debezium/Kafka "
    "ingest step that turns a 100 TB change log into a dimension "
    "snapshot, and the batch complement of the SCD-2 writer (which "
    "keeps HISTORY; this keeps the HEAD, dropping keys whose final op "
    "is a delete). One hash exchange on the key + a partition-local "
    "sort takes the latest op per key with a deterministic "
    "(ts, event_id) tie-break; no driver loops, no global sort. "
    "Row-number-desc rather than max_by so delete tombstones can "
    "suppress the key entirely while still counting replayed ops.",
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias(
            "is_del"
        ),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    wn = Window.partitionBy("user_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .withColumn("n_ops", F.count(F.lit(1)).over(wn))
        .filter((F.col("rn") == 1) & (F.col("is_del") == 0))
        .select(
            "user_id",
            F.col("ts_us").cast("long").alias("last_ts_us"),
            F.col("cents").alias("last_cents"),
            F.col("n_ops").cast("long").alias("n_ops"),
        )
    )


@register(
    "evt_absence_churn",
    """
    WITH s AS (
        SELECT user_id, min(epoch_us(ts)) AS signup_us
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (SELECT user_id, epoch_us(ts) AS pus
          FROM events WHERE event_type = 'purchase'),
    j AS (
        SELECT s.user_id, s.signup_us,
               min(CASE WHEN p.pus >= s.signup_us THEN p.pus END)
                   AS first_purchase_us
        FROM s LEFT JOIN p ON p.user_id = s.user_id
        GROUP BY s.user_id, s.signup_us
    )
    SELECT user_id, signup_us, first_purchase_us,
           CAST(CASE WHEN first_purchase_us IS NOT NULL
                      AND first_purchase_us - signup_us <= 604800000000
                     THEN 1 ELSE 0 END AS INTEGER) AS converted_7d,
           CAST((first_purchase_us - signup_us) // 86400000000
                AS BIGINT) AS days_to_convert
    FROM j
    """,
    doc="Absence/churn detection — the NEGATIVE-evidence query funnels "
    "don't answer: for every signed-up user, did a purchase FOLLOW the "
    "first signup, and within the 7-day window? Users with no subsequent "
    "purchase surface with NULL first_purchase_us (the churn cohort). "
    "One user-keyed left join + conditional min — the absence test is "
    "the NULL of a conditional aggregate, not an anti-join, so the "
    "convert-lag rides along in the same pass. Pure integer epoch-us "
    "arithmetic; day lag via integer division.",
)
def evt_absence_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("signup_us"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pus")
    )
    j = (
        s.join(p, "user_id", "left")
        .groupBy("user_id", "signup_us")
        .agg(
            F.min(
                F.when(F.col("pus") >= F.col("signup_us"), F.col("pus"))
            ).alias("first_purchase_us")
        )
    )
    lag = F.col("first_purchase_us") - F.col("signup_us")
    return j.select(
        "user_id",
        "signup_us",
        "first_purchase_us",
        F.when(
            F.col("first_purchase_us").isNotNull()
            & (lag <= F.lit(604_800_000_000)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("converted_7d"),
        F.expr(
            "CAST((first_purchase_us - signup_us) div 86400000000 AS BIGINT)"
        ).alias("days_to_convert"),
    )


@register(
    "evt_interval_union_time",
    """
    WITH iv AS (
        SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
        FROM events
    ),
    m AS (
        SELECT user_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS prev_max_e
        FROM iv
    ),
    seg AS (
        SELECT user_id, s, e,
               sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS seg_id
        FROM m
    ),
    per_seg AS (
        SELECT user_id, seg_id, min(s) AS seg_s, max(e) AS seg_e
        FROM seg GROUP BY user_id, seg_id
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(seg_e - seg_s) AS BIGINT) AS covered_us
    FROM per_seg GROUP BY user_id
    """,
    doc="Interval-union length per user (the sweep-line 'merge overlapping "
    "intervals' pattern): each event opens a 30-minute activity interval; "
    "the covered time is the total length of the UNION of those "
    "intervals — overlapping intervals must not double-count, which "
    "plain sessionization (gap-based) does not answer when intervals "
    "have fixed extents. Decomposition: per-user exclusive running max "
    "of interval ends (one window) -> a new segment opens exactly where "
    "an interval starts past every previous end -> running sum of those "
    "flags numbers the segments -> per-segment min/max + one sum. Two "
    "windows + one aggregate, all partitioned by user_id (one shuffle "
    "key, reused); pure integer epoch-us arithmetic.",
)
def evt_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1_800_000_000)).alias("e"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = iv.withColumn("prev_max_e", F.max("e").over(w_prev))
    seg = m.withColumn(
        "seg_id",
        F.sum(
            F.when(
                F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e")),
                1,
            ).otherwise(0)
        ).over(w_run),
    )
    per_seg = seg.groupBy("user_id", "seg_id").agg(
        F.min("s").alias("seg_s"), F.max("e").alias("seg_e")
    )
    return per_seg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("seg_e") - F.col("seg_s")).cast("long").alias("covered_us"),
    )


@register(
    "evt_seasonal_decompose",
    """
    WITH b AS (
        SELECT event_type,
               CAST((epoch_us(ts) // 3600000000) % 24 AS INTEGER) AS hour_of_day,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    g AS (
        SELECT event_type, hour_of_day, count(*) AS n, sum(cents) AS s
        FROM b GROUP BY 1, 2
    ),
    t AS (SELECT event_type, sum(n) AS tn, sum(s) AS ss FROM g GROUP BY 1)
    SELECT g.event_type, g.hour_of_day, CAST(g.n AS BIGINT) AS n,
           floor((200.0 * g.s + g.n) / (2.0 * g.n)) / 10000.0 AS hourly_mean,
           floor((200.0 * g.s + g.n) / (2.0 * g.n)) / 10000.0
           - floor((200.0 * t.ss + t.tn) / (2.0 * t.tn)) / 10000.0
               AS seasonal_delta
    FROM g JOIN t USING (event_type)
    """,
    doc="Seasonal decomposition of the event stream: per (event_type, "
    "hour-of-day) mean vs the type's overall mean — the additive seasonal "
    "index of a classical decomposition, the load-shaping/anomaly "
    "baseline for ops telemetry. Hour-of-day is epoch-derived "
    "((epoch_us div 3600e6) mod 24), so it is timezone-free and "
    "identical across engines regardless of session TZ. One groupBy onto "
    "the FIXED types x 24 grid (map-side partials collapse every task to "
    "<= 120 rows — the CMS shape), then a window over that tiny "
    "aggregate for the per-type totals: zero additional full-data "
    "shuffles. Means are integer-exact over cent sums (floor-parity).",
)
def evt_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hod = (F.expr("unix_micros(ts) div 3600000000") % 24).cast("int")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = ev.groupBy(
        "event_type", hod.alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s"))
    w = Window.partitionBy("event_type")
    tn = F.sum("n").over(w)
    ss = F.sum("s").over(w)
    hourly = F.floor(
        (F.lit(200.0) * F.col("s") + F.col("n")) / (F.lit(2.0) * F.col("n"))
    ) / 10000.0
    overall = F.floor((F.lit(200.0) * ss + tn) / (F.lit(2.0) * tn)) / 10000.0
    return g.select(
        "event_type",
        "hour_of_day",
        "n",
        hourly.alias("hourly_mean"),
        (hourly - overall).alias("seasonal_delta"),
    )


@register(
    "evt_ewma_fixed_point",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    l AS (
        SELECT user_id, ts_us, event_id, cents,
               lag(cents, 1) OVER w AS c1, lag(cents, 2) OVER w AS c2,
               lag(cents, 3) OVER w AS c3, lag(cents, 4) OVER w AS c4,
               lag(cents, 5) OVER w AS c5, lag(cents, 6) OVER w AS c6,
               lag(cents, 7) OVER w AS c7,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_events
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT CAST(user_id AS BIGINT)  AS user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(128 * cents
                + 64 * coalesce(c1, 0) + 32 * coalesce(c2, 0)
                + 16 * coalesce(c3, 0) +  8 * coalesce(c4, 0)
                +  4 * coalesce(c5, 0) +  2 * coalesce(c6, 0)
                +  1 * coalesce(c7, 0) AS BIGINT)            AS ewma_w256,
           CAST(128
                + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
                + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
                + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
                + CASE WHEN c4 IS NULL THEN 0 ELSE  8 END
                + CASE WHEN c5 IS NULL THEN 0 ELSE  4 END
                + CASE WHEN c6 IS NULL THEN 0 ELSE  2 END
                + CASE WHEN c7 IS NULL THEN 0 ELSE  1 END AS BIGINT)
                                                             AS norm_w
    FROM l WHERE rn = 1
    """,
    doc="Fixed-point EWMA (alpha=1/2, 8-term truncation, weights scaled "
    "by 256 so everything stays integer) of each user's cent-valued "
    "signal at their LATEST event — the exponential-decay smoothing "
    "featurizers apply before training, next to the rolling-24h mean "
    "(uniform weights) and gap-fill LOCF (no decay). The recurrence "
    "y_t = x_t/2 + y_{t-1}/2 is unrolled into eight lag() terms over one "
    "partition-local sorted window per user (no global sort, one "
    "exchange), with the realized weight mass emitted alongside so "
    "missing-history normalization needs no division. Integer weights "
    "mean both engines agree bit-for-bit — a hash-checked oracle over a "
    "smoothing kernel that is float-and-flaky in its textbook form.",
)
def evt_ewma_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wd = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    wn = Window.partitionBy("user_id")
    lags = e.select(
        "user_id",
        "cents",
        *[F.lag("cents", i).over(w).alias(f"c{i}") for i in range(1, 8)],
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_events"),
    )
    weights = [64, 32, 16, 8, 4, 2, 1]
    ewma = F.lit(128) * F.col("cents")
    norm = F.lit(128)
    for i, wt in enumerate(weights, start=1):
        ewma = ewma + F.lit(wt) * F.coalesce(F.col(f"c{i}"), F.lit(0))
        norm = norm + F.when(F.col(f"c{i}").isNull(), 0).otherwise(wt)
    return lags.filter(F.col("rn") == 1).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_events").cast("long").alias("n_events"),
        ewma.cast("long").alias("ewma_w256"),
        norm.cast("long").alias("norm_w"),
    )


@register(
    "evt_sequence_match",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               substr(event_type, 1, 1) AS ch
        FROM events
    ),
    seq AS (
        SELECT user_id,
               string_agg(ch, '' ORDER BY ts_us, event_id) AS s
        FROM e GROUP BY user_id
    )
    SELECT CAST(user_id AS BIGINT)                          AS user_id,
           CAST(length(s) AS BIGINT)                        AS n_events,
           CAST((length(s) - length(replace(s, 'vcp', ''))) // 3
                AS BIGINT)                                  AS n_conversions,
           CAST(strpos(s, 'vcp') AS BIGINT)                 AS first_conv_pos
    FROM seq
    """,
    doc="Ordered sequence-pattern matching (MATCH_RECOGNIZE shape): each "
    "user's event history is folded into an ordered type-code string "
    "(event types map to distinct first letters) and scanned for the "
    "consecutive view->click->purchase funnel — count of non-overlapping "
    "conversions plus the first conversion position. Complements "
    "evt_funnel_conversion (which allows gaps between stages): this is "
    "the STRICT-CONTIGUITY pattern a MATCH_RECOGNIZE engine compiles. "
    "One exchange on user_id; the per-user fold is "
    "sort_array(collect_list(struct(ts,id,ch))) — partition-local, "
    "deterministic under the unique (ts_us, event_id) tie-break, with "
    "per-key sequence length bounded by contract (sessionize first for "
    "unbounded keys). String matching is engine-agnostic left-to-right "
    "replace/locate, so the oracle hash-matches exactly.",
)
def evt_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("ch"),
    )
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("ts_us", "event_id", "ch"))
                    ),
                    lambda x: x["ch"],
                ),
                "",
            ).alias("s")
        )
    )
    return seq.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.length("s").cast("long").alias("n_events"),
        F.expr("(length(s) - length(replace(s, 'vcp', ''))) div 3")
        .cast("long")
        .alias("n_conversions"),
        F.instr(F.col("s"), "vcp").cast("long").alias("first_conv_pos"),
    )


@register(
    "evt_sliding_distinct_users",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS d FROM events
    ),
    w AS (
        SELECT user_id, unnest(generate_series(d - 6, d)) AS wd FROM e
    )
    SELECT CAST(wd AS BIGINT)                     AS window_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           count(*)                               AS n_events
    FROM w GROUP BY wd
    """,
    doc="Sliding-window distinct counting: 7-day windows advancing 1 day "
    "(Spark's native sliding window(ts, '7 days', '1 day') — each event "
    "replicated into its 7 covering windows by the JVM Expand, "
    "epoch-aligned starts) with an EXACT per-window distinct-user count "
    "— the rolling-reach / WAU-style metric. Distinct-over-sliding is "
    "the shape approx sketches usually absorb; here the exact form is "
    "two-level aggregation (partial distinct inside the Expand exchange) "
    "and the oracle replays the window replication with generate_series "
    "— swap in the HLL shard union when 7x replication of a 100 TB "
    "stream outgrows exact (the documented scale path, "
    "agg_hll_shard_union). Window starts are pure integer day indexes, "
    "so both engines agree exactly.",
)
def evt_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return (
        ev.groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.expr("unix_micros(w.start) div 86400000000")
            .cast("long")
            .alias("window_day"),
            "n_users",
            "n_events",
        )
    )


@register(
    "evt_autocovariance_lags",
    """
    WITH h AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS h,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY event_type, epoch_us(ts) // 3600000000
    ),
    lags AS (SELECT unnest(generate_series(1, 3)) AS lag)
    SELECT a.event_type,
           CAST(l.lag AS INTEGER)        AS lag,
           CAST(count(*) AS BIGINT)      AS n_pairs,
           CAST(sum(a.cents) AS BIGINT)  AS sum_x,
           CAST(sum(b.cents) AS BIGINT)  AS sum_y,
           CAST(sum(a.cents * b.cents) AS BIGINT) AS sum_xy
    FROM h a
    CROSS JOIN lags l
    JOIN h b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    GROUP BY a.event_type, l.lag
    """,
    doc="Autocovariance sufficient statistics at lags 1-3 of the hourly "
    "cent-valued signal per event type: exact integer (n, sum_x, sum_y, "
    "sum_xy) over observed-hour pairs (h, h+lag) — the closed-form-OLS "
    "pattern (ml_linreg_closed_form) applied to serial dependence; the "
    "caller derives autocorrelation as (n*sxy - sx*sy) / ... in one "
    "driver-side step, keeping the distributed pass float-free. Pairs "
    "come from an equi-join of the hourly rollup with itself on "
    "(type, h+lag) — keyed, never a range scan — and the rollup is "
    "computed once, map-side partials absorbing the event stream. "
    "Gaps are handled by construction: only observed pairs join.",
)
def evt_autocovariance_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
    )
    h = (
        ev.groupBy("event_type", "h")
        .agg(F.sum("c").cast("long").alias("cents"))
        .localCheckpoint(eager=True)  # reused by both join sides
    )
    lags = h.sparkSession.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = h.select("event_type", "h", F.col("cents").alias("x"))
    b = h.select(
        "event_type", F.col("h").alias("hb"), F.col("cents").alias("y")
    )
    return (
        a.crossJoin(F.broadcast(lags))
        .withColumn("hb", F.col("h") + F.col("lag"))
        .join(b, ["event_type", "hb"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum("y").cast("long").alias("sum_y"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        )
    )


@register(
    "evt_changepoint_cusum",
    """
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS hour,
               count(*) AS x
        FROM events GROUP BY event_type, hour
    ),
    ref AS (
        SELECT event_type,
               CAST(sum(x) AS BIGINT) // count(*) AS ref_x
        FROM hourly GROUP BY event_type
    ),
    dev AS (
        SELECT h.event_type, h.hour, h.x, r.ref_x,
               sum(h.x - r.ref_x) OVER (
                   PARTITION BY h.event_type ORDER BY h.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM hourly h JOIN ref r ON h.event_type = r.event_type
    ),
    cusum AS (
        SELECT event_type, hour, ref_x,
               p - least(CAST(0 AS BIGINT), min(p) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
        FROM dev
    )
    SELECT event_type,
           CAST(max(s) AS BIGINT)                    AS max_cusum,
           CAST(min(CASE WHEN s > 5 * ref_x THEN hour END) AS BIGINT)
                                                     AS first_alarm_hour,
           CAST(sum(CASE WHEN s > 5 * ref_x THEN 1 ELSE 0 END) AS BIGINT)
                                                     AS n_alarm_hours
    FROM cusum GROUP BY event_type
    """,
    doc="CUSUM changepoint detection over the hourly per-type event "
    "stream — the sequential drift detector next to the EWMA smoother "
    "and the KS drift statistic: the recursive page form S_t = max(0, "
    "S_{t-1} + (x_t - ref)) is rewritten NON-recursively as P_t - "
    "min(0, running-min of P) (P = running sum of deviations), so two "
    "partition-local ordered windows over the tiny hourly rollup replace "
    "an un-expressible recursion; alarm threshold 5x the per-type "
    "reference rate, first alarm hour + alarm-hour count + peak CUSUM "
    "emitted per type. All arithmetic is exact integers (counts, floor-"
    "div reference), so the oracle hash-matches at any scale. Scale "
    "shape: raw events collapse in the ONE hourly hash aggregate "
    "(map-side partials); the windows run over event_type partitions "
    "bounded by distinct hours, never raw rows.",
)
def evt_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    hourly = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        )
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ref = hourly.groupBy("event_type").agg(
        F.expr("CAST(sum(x) AS BIGINT) div count(*)").alias("ref_x")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = hourly.join(ref, "event_type").withColumn(
        "p", F.sum(F.col("x") - F.col("ref_x")).over(w)
    )
    cusum = dev.withColumn(
        "s", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    alarm = F.col("s") > 5 * F.col("ref_x")
    return cusum.groupBy("event_type").agg(
        F.max("s").cast("long").alias("max_cusum"),
        F.min(F.when(alarm, F.col("hour"))).cast("long").alias("first_alarm_hour"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_hours"),
    )


@register(
    "evt_last_touch_attribution",
    """
    WITH ev AS (
        SELECT event_id, user_id, event_type, ts,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    seq AS (
        SELECT *,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch_channel,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN epoch_us(ts) END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS touch_us
        FROM ev
    )
    SELECT coalesce(CASE WHEN epoch_us(ts) - touch_us
                              <= CAST(604800000000 AS BIGINT)
                         THEN touch_channel END, 'organic') AS channel,
           CAST(count(*) AS BIGINT)     AS n_purchases,
           CAST(sum(cents) AS BIGINT)   AS revenue_cents
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY channel
    """,
    doc="Last-touch marketing attribution: every purchase is credited to "
    "the user's most recent non-purchase event within a 7-day lookback "
    "(older or absent touches fall to 'organic') — the sessionless "
    "attribution shape next to evt_funnel_conversion (ordered funnel) "
    "and evt_cohort_retention (cohort triangles). One user-keyed ordered "
    "window carries BOTH the channel and its timestamp via "
    "last_value(...) IGNORE NULLS over an unbounded-to-1-preceding "
    "frame; ties at identical timestamps break on event_id so the "
    "cross-engine replay is deterministic. Exact integer cents. Scale "
    "shape: one exchange on user_id (partition-local sort bounded by "
    "per-user event counts), then a channel-keyed aggregate over "
    "purchases only.",
)
def evt_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    seq = ev.withColumn(
        "touch_channel",
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True).over(w),
    ).withColumn(
        "touch_us",
        F.last(
            F.when(non_purchase, F.unix_micros("ts")), ignorenulls=True
        ).over(w),
    )
    in_window = (
        F.unix_micros("ts") - F.col("touch_us") <= 7 * 86400 * 1_000_000
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(in_window, F.col("touch_channel")), F.lit("organic")
            ).alias("channel"),
            "cents",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "scd2_bitemporal_asof",
    """
    WITH base AS (SELECT doc_id, n_chars FROM documents),
    mx AS (SELECT max(doc_id) AS m FROM base),
    -- Standard bitemporal correction protocol: the original belief row
    -- (A: valid [0,inf), believed [0,inf)) gets its TRANSACTION
    -- interval closed at the correction instant 2000+doc_id, and two
    -- rows open believed-from that instant: the restated history
    -- (B: original value, valid [0, 1000+doc_id)) and the correction
    -- (C: new value, valid [1000+doc_id, inf)). Valid-time history is
    -- never destroyed; earlier beliefs remain queryable by tx.
    versions AS (
        SELECT doc_id, n_chars,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(NULL AS BIGINT) AS valid_to,
               CAST(0 AS BIGINT) AS tx_from,
               CASE WHEN doc_id % 2 = 0 THEN 2000 + doc_id END AS tx_to
        FROM base
        UNION ALL
        SELECT doc_id, n_chars,
               0, 1000 + doc_id,
               2000 + doc_id, NULL
        FROM base WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, n_chars + 1,
               1000 + doc_id, NULL,
               2000 + doc_id, NULL
        FROM base WHERE doc_id % 2 = 0
    ),
    probes AS (
        SELECT CAST(500 AS BIGINT) AS tx_at, 1501 + m AS valid_at, m
        FROM mx
        UNION ALL
        SELECT 2501 + m, 1501 + m, m FROM mx
        UNION ALL
        SELECT 2501 + m, CAST(500 AS BIGINT), m FROM mx
    ),
    hits AS (
        SELECT p.tx_at, p.valid_at, v.doc_id, v.n_chars
        FROM probes p JOIN versions v
          ON v.tx_from <= p.tx_at
         AND (v.tx_to IS NULL OR p.tx_at < v.tx_to)
         AND v.valid_from <= p.valid_at
         AND (v.valid_to IS NULL OR p.valid_at < v.valid_to)
    )
    SELECT tx_at, valid_at,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_chars) AS BIGINT)  AS total_chars
    FROM hits GROUP BY tx_at, valid_at
    """,
    doc="BITEMPORAL as-of join — the two-axis extension of "
    "scd2_pointintime_join: every version carries a VALID-time interval "
    "(when the fact was true in the world) AND a TRANSACTION-time "
    "interval (when the warehouse believed it), so 'what did we know at "
    "tx=T about time V' is answerable after late corrections without "
    "rewriting history. The correction protocol closes the original "
    "row's TRANSACTION interval at tx=2000+doc_id and opens two rows "
    "believed from that instant — restated history (original value, "
    "valid to 1000+doc_id) and the correction (new value, valid "
    "onward) — so probe (tx=500, V=late) sees the ORIGINAL values "
    "everywhere (the correction was not yet known: every doc present), "
    "probe (tx=late, V=late) sees the corrected values for even docs, "
    "and probe (tx=late, V=500) reaches back to the restated original "
    "validity — all probes data-derived (offsets past max(doc_id)) so "
    "the assertions hold at any scale factor. Plan shape: the probe "
    "side is "
    "3 rows, so Catalyst broadcasts it and the residual double-interval "
    "predicate evaluates on the dimension scan — never a cartesian "
    "product; at warehouse scale the dimension shuffles once on the "
    "equi-key (doc_id when probing per-document) exactly like the SCD-2 "
    "single-axis case.",
)
def scd2_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    m = d.agg(F.max("doc_id")).first()[0]
    even = F.col("doc_id") % 2 == 0
    null_l = F.lit(None).cast("long")
    # A: original belief — valid forever, believed until the correction
    va = d.select(
        "doc_id",
        "n_chars",
        F.lit(0).cast("long").alias("valid_from"),
        null_l.alias("valid_to"),
        F.lit(0).cast("long").alias("tx_from"),
        F.when(even, F.col("doc_id") + 2000).cast("long").alias("tx_to"),
    )
    # B: restated history — original value, validity closed at the
    # correction's effective time, believed from the correction instant
    vb = d.filter(even).select(
        "doc_id",
        "n_chars",
        F.lit(0).cast("long").alias("valid_from"),
        (F.col("doc_id") + 1000).cast("long").alias("valid_to"),
        (F.col("doc_id") + 2000).cast("long").alias("tx_from"),
        null_l.alias("tx_to"),
    )
    # C: the correction itself
    vc = d.filter(even).select(
        "doc_id",
        (F.col("n_chars") + 1).alias("n_chars"),
        (F.col("doc_id") + 1000).cast("long").alias("valid_from"),
        null_l.alias("valid_to"),
        (F.col("doc_id") + 2000).cast("long").alias("tx_from"),
        null_l.alias("tx_to"),
    )
    versions = va.unionByName(vb).unionByName(vc)
    probes = _local(
        d.sparkSession,
        [(500, 1501 + m), (2501 + m, 1501 + m), (2501 + m, 500)],
        "tx_at long, valid_at long",
    )
    # The probe side is 3 rows BY CONSTRUCTION — broadcast it explicitly.
    # Left to stats, Catalyst broadcasts whichever side estimates smaller:
    # at sf0.01 that is the versions relation (a fine BNLJ), but at sf10
    # versions outgrow the threshold and the non-equi join degrades to a
    # CartesianProduct that re-reads the dimension per probe partition
    # (measured 36 s -> ~2 s). With the bounded side pinned as the build,
    # the plan is one streamed pass over versions at any scale factor.
    hits = F.broadcast(probes).join(
        versions,
        (F.col("tx_from") <= F.col("tx_at"))
        & (F.col("tx_to").isNull() | (F.col("tx_at") < F.col("tx_to")))
        & (F.col("valid_from") <= F.col("valid_at"))
        & (F.col("valid_to").isNull() | (F.col("valid_at") < F.col("valid_to"))),
    )
    return hits.groupBy("tx_at", "valid_at").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "evt_rfm_segmentation",
    """
    WITH rfm AS (
        SELECT o_custkey,
               CAST((SELECT max(epoch_us(o_orderdate)) FROM orders)
                    // 86400000000
                    - max(epoch_us(o_orderdate)) // 86400000000
                    AS BIGINT)                                  AS recency_days,
               count(*)                                         AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT)                                  AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    m AS (
        SELECT 'r' AS met, recency_days AS v FROM rfm
        UNION ALL SELECT 'f' AS met, CAST(n_orders AS BIGINT) AS v FROM rfm
        UNION ALL SELECT 'm' AS met, monetary_cents AS v FROM rfm
    ),
    grid AS (SELECT met, v, count(*) AS c FROM m GROUP BY met, v),
    cum AS (
        SELECT met, v,
               sum(c) OVER (PARTITION BY met ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS cum_c,
               sum(c) OVER (PARTITION BY met) AS n
        FROM grid
    ),
    cl AS (
        SELECT met,
               min(CASE WHEN 5 * cum_c >= 1 * n THEN v END) AS c1,
               min(CASE WHEN 5 * cum_c >= 2 * n THEN v END) AS c2,
               min(CASE WHEN 5 * cum_c >= 3 * n THEN v END) AS c3,
               min(CASE WHEN 5 * cum_c >= 4 * n THEN v END) AS c4
        FROM cum GROUP BY met
    ),
    cuts AS (
        SELECT
            min(CASE WHEN met = 'r' THEN c1 END) AS r1,
            min(CASE WHEN met = 'r' THEN c2 END) AS r2,
            min(CASE WHEN met = 'r' THEN c3 END) AS r3,
            min(CASE WHEN met = 'r' THEN c4 END) AS r4,
            min(CASE WHEN met = 'f' THEN c1 END) AS f1,
            min(CASE WHEN met = 'f' THEN c2 END) AS f2,
            min(CASE WHEN met = 'f' THEN c3 END) AS f3,
            min(CASE WHEN met = 'f' THEN c4 END) AS f4,
            min(CASE WHEN met = 'm' THEN c1 END) AS m1,
            min(CASE WHEN met = 'm' THEN c2 END) AS m2,
            min(CASE WHEN met = 'm' THEN c3 END) AS m3,
            min(CASE WHEN met = 'm' THEN c4 END) AS m4
        FROM cl
    )
    SELECT CAST(1 + CAST(recency_days > r1 AS INTEGER)
                  + CAST(recency_days > r2 AS INTEGER)
                  + CAST(recency_days > r3 AS INTEGER)
                  + CAST(recency_days > r4 AS INTEGER) AS BIGINT)       AS r_seg,
           CAST(1 + CAST(n_orders > f1 AS INTEGER)
                  + CAST(n_orders > f2 AS INTEGER)
                  + CAST(n_orders > f3 AS INTEGER)
                  + CAST(n_orders > f4 AS INTEGER) AS BIGINT)           AS f_seg,
           CAST(1 + CAST(monetary_cents > m1 AS INTEGER)
                  + CAST(monetary_cents > m2 AS INTEGER)
                  + CAST(monetary_cents > m3 AS INTEGER)
                  + CAST(monetary_cents > m4 AS INTEGER) AS BIGINT)     AS m_seg,
           CAST(count(*) AS BIGINT)              AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT)   AS total_monetary_cents
    FROM rfm CROSS JOIN cuts
    GROUP BY r_seg, f_seg, m_seg
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation — the "
    "classic warehouse cohorting shape next to funnel/retention/"
    "attribution: per-customer exact integer metrics (days since last "
    "order, order count, lifetime cents) in one keyed aggregate, "
    "quintile cutoffs from EXACT counting-grid order statistics (the "
    "agg_fixed_grid_quantiles lower-nearest-rank pattern: unpivot the "
    "three integer metrics, count per distinct value, cumulative window "
    "over the bounded value domain, then min value whose 5*cum >= k*n — "
    "integer cross-multiplication, no interpolation, so the cuts are "
    "integer-exact on both engines; interpolated percentile() vs "
    "quantile_cont() can differ by 1 ulp and reclassify every customer "
    "sitting on a boundary) broadcast back, and each quintile index "
    "computed as 1 + sum of strict-threshold exceedances — boolean "
    "integer adds, no window over customers, no ntile (a global ntile "
    "would funnel every customer through one task; the threshold form "
    "keeps the relation partitioned). Output is the 125-cell segment "
    "cube with customer counts and monetary totals. The grid state is "
    "O(distinct metric values), mergeable by addition — the 100 TB "
    "path, no per-buffer value vector.",
)
def evt_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    rfm = o.groupBy("o_custkey").agg(
        F.max("day").alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("monetary_cents"),
    )
    global_last = rfm.agg(F.max("last_day").alias("g")).first()["g"]
    rfm = rfm.withColumn(
        "recency_days", (F.lit(global_last) - F.col("last_day")).cast("long")
    )

    # Exact lower-nearest-rank quintile cuts via the counting-grid pattern
    # (agg_fixed_grid_quantiles): integer-exact on both engines, O(distinct
    # values) state, no interpolation arithmetic to diverge by 1 ulp.
    m = rfm.select(
        F.expr(
            "stack(3, 'r', recency_days, 'f', CAST(n_orders AS BIGINT),"
            " 'm', monetary_cents) AS (met, v)"
        )
    )
    grid = m.groupBy("met", "v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("met")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "met",
        "v",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(Window.partitionBy("met")).alias("n"),
    )
    cl = cum.groupBy("met").agg(
        *[
            F.min(
                F.when(5 * F.col("cum_c") >= k * F.col("n"), F.col("v"))
            ).alias(f"c{k}")
            for k in range(1, 5)
        ]
    )
    cuts = cl.agg(
        *[
            F.min(F.when(F.col("met") == met, F.col(f"c{k}"))).alias(
                f"{met}{k}"
            )
            for met in ("r", "f", "m")
            for k in range(1, 5)
        ]
    )

    def seg(metric, pfx):
        s = F.lit(1)
        for i in range(1, 5):
            s = s + (F.col(metric) > F.col(f"{pfx}{i}")).cast("int")
        return s.cast("long")

    return (
        rfm.crossJoin(F.broadcast(cuts))
        .select(
            seg("recency_days", "r").alias("r_seg"),
            seg("n_orders", "f").alias("f_seg"),
            seg("monetary_cents", "m").alias("m_seg"),
            "monetary_cents",
        )
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("total_monetary_cents"),
        )
    )


@register(
    "evt_survival_hazard",
    """
    WITH b AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
    u AS (
        SELECT user_id, min(epoch_us(ts)) AS entry_us,
               max(epoch_us(ts)) AS last_us
        FROM events GROUP BY user_id
    ),
    t AS (
        SELECT CASE WHEN u.last_us < b.end_us - 86400000000
                    THEN (u.last_us - u.entry_us) // 86400000000
                    ELSE (b.end_us - u.entry_us) // 86400000000 END AS t_day,
               CASE WHEN u.last_us < b.end_us - 86400000000
                    THEN 1 ELSE 0 END AS died
        FROM u CROSS JOIN b
    ),
    per AS (
        SELECT t_day, count(*) AS n_all, sum(died) AS d FROM t GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n FROM t),
    cum AS (
        SELECT t_day, n_all, d,
               sum(n_all) OVER (ORDER BY t_day
                                ROWS UNBOUNDED PRECEDING) AS cle
        FROM per
    )
    SELECT t_day, CAST(n - (cle - n_all) AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(1000000 * d // (n - (cle - n_all)) AS BIGINT) AS hazard_ppm
    FROM cum CROSS JOIN tot
    WHERE d > 0
    """,
    doc="Kaplan-Meier-style survival/hazard table with right censoring — "
    "the at-risk accounting cohort retention and absence/churn queries "
    "skip: a user's lifetime runs from first to last event; users last "
    "seen within 24 hours of the study end are CENSORED at study end "
    "(still alive, exit the risk set without an event), everyone else "
    "churns at their last-seen day. For each event day t: n_risk = "
    "users whose lifetime >= t, d = churns at t, hazard in exact ppm "
    "(1e6*d div n_risk — the discrete KM increment; the survival curve "
    "is the running product of (1 - h_t), left to the consumer because "
    "a cross-row float PRODUCT is exactly the order-dependence this "
    "engine's determinism contract bans). Pure epoch-us integer "
    "arithmetic throughout. Scale shape: one user-keyed aggregate, one "
    "day-keyed aggregate (map-side combined), then the at-risk "
    "complement comes from banded_running_sum — the banded prefix-sum "
    "pattern, never a single-partition global window — plus two "
    "broadcast one-row joins (study end, cohort size).",
)
def evt_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    b = ev.agg(F.max("us").alias("end_us"))
    u = ev.groupBy("user_id").agg(
        F.min("us").alias("entry_us"), F.max("us").alias("last_us")
    )
    HORIZON_US, DAY_US = 86_400_000_000, 86_400_000_000
    t = u.crossJoin(F.broadcast(b)).select(
        F.when(
            F.col("last_us") < F.col("end_us") - HORIZON_US,
            F.expr(f"(last_us - entry_us) div {DAY_US}"),
        )
        .otherwise(F.expr(f"(end_us - entry_us) div {DAY_US}"))
        .alias("t_day"),
        F.when(
            F.col("last_us") < F.col("end_us") - HORIZON_US, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("died"),
    )
    per = t.groupBy("t_day").agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("died").alias("d")
    )
    tot = t.agg(F.count(F.lit(1)).alias("n"))
    cum = banded_running_sum(
        per.withColumn("_band", F.expr("t_day div 32")),
        "_band",
        [F.col("t_day").asc()],
        "n_all",
        out_col="cle",
        descending=False,
    ).drop("_band")
    n_risk = F.col("n") - (F.col("cle") - F.col("n_all"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("d") > 0)
        .select(
            "t_day",
            n_risk.cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("d_events"),
            F.expr(
                "CAST(1000000 * d div "
                "(n - (cle - n_all)) AS BIGINT)"
            ).alias("hazard_ppm"),
        )
    )


@register(
    "evt_burstiness_fano",
    """
    WITH h AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
               count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, count(*) AS n,
               sum(CAST(c AS HUGEINT)) AS sc,
               sum(CAST(c AS HUGEINT) * c) AS scc
        FROM h GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           CAST(sc AS BIGINT) AS n_events,
           CAST(1000 * (n * scc - sc * sc) // (n * sc) AS BIGINT)
               AS fano_milli
    FROM s
    """,
    doc="Burstiness per event type via the Fano factor (variance-to-mean "
    "ratio of hourly event counts over observed hours; ~1000 milli = "
    "Poisson-like arrivals, above = bursty, below = regular) — the "
    "dispersion diagnostic next to evt_autocovariance_lags' serial "
    "dependence. Exact integer arithmetic end-to-end: var/mean = "
    "(n*Sum(c^2) - Sum(c)^2) / (n*Sum(c)) in milli via true integer "
    "division on HUGEINT/decimal sums (counts are integers, so no "
    "float ever appears). Two grouped aggregates, both map-side "
    "combined; output is one row per event type.",
)
def evt_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    h = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("c"))
    s = h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c").cast(dec)).alias("sc"),
        F.sum(F.col("c").cast(dec) * F.col("c")).alias("scc"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("sc").cast("long").alias("n_events"),
        F.expr(
            "CAST((1000 * (n * scc - sc * sc)"
            " - (1000 * (n * scc - sc * sc)) % (n * sc)) / (n * sc)"
            " AS BIGINT)"
        ).alias("fano_milli"),
    )


@register(
    "evt_position_attribution",
    """
    WITH t AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END AS rc
        FROM events
        WHERE event_type IN ('click', 'view', 'signup', 'purchase')
    ),
    carried AS (
        SELECT *,
               first_value(CASE WHEN is_p = 1 THEN us END IGNORE NULLS)
                   OVER w AS p_us,
               first_value(CASE WHEN is_p = 1 THEN event_id END IGNORE NULLS)
                   OVER w AS p_key
        FROM t
        WINDOW w AS (PARTITION BY user_id ORDER BY us, is_p, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ),
    credited AS (
        SELECT user_id, event_id, event_type, us, p_key,
               count(*) OVER pw AS k,
               row_number() OVER (PARTITION BY p_key
                                  ORDER BY us, event_id) AS rn
        FROM carried
        WHERE is_p = 0 AND p_us IS NOT NULL
          AND p_us - us <= 604800000000
        WINDOW pw AS (PARTITION BY p_key)
    ),
    purch AS (SELECT event_id AS p_key, rc FROM t WHERE is_p = 1),
    weighted AS (
        SELECT c.event_type AS channel,
               CASE WHEN c.k = 1 THEN 10000
                    WHEN c.k = 2 THEN 5000
                    WHEN c.rn = 1 OR c.rn = c.k THEN 4000
                    ELSE 2000 // (c.k - 2) END AS w_bp,
               p.rc
        FROM credited c JOIN purch p USING (p_key)
    ),
    touch_credit AS (
        SELECT channel, count(*) AS n_touches,
               sum(rc * w_bp // 10000) AS credited_cents
        FROM weighted GROUP BY channel
    ),
    organic AS (
        SELECT 'organic' AS channel, count(*) AS n_touches,
               sum(rc) AS credited_cents
        FROM purch p
        WHERE NOT EXISTS (SELECT 1 FROM credited c WHERE c.p_key = p.p_key)
    )
    SELECT channel, CAST(n_touches AS BIGINT) AS n_touches,
           CAST(credited_cents AS BIGINT) AS credited_cents
    FROM (SELECT * FROM touch_credit UNION ALL
          SELECT * FROM organic WHERE n_touches > 0) u
    """,
    doc="Position-based (U-shaped) multi-touch attribution — the "
    "fractional-credit completion of evt_last_touch_attribution's "
    "winner-take-all: each touch credits the FIRST purchase following "
    "it within 7 days; within a purchase's touch sequence the first and "
    "last touch get 40% each and the middles split the remaining 20% "
    "(single touch 100%, two touches 50/50); purchases with no eligible "
    "touch fall to 'organic'. All credit arithmetic in integer basis "
    "points with true integer division (truncation toward the house is "
    "the documented convention), revenue in exact cents — "
    "hash-identical on both engines. Scale shape: ONE forward-carry "
    "window per user (min-over-following of the packed purchase key — "
    "the asof-forward idiom), one window per purchase sequence for "
    "position ranks, then grouped sums; the purchase key packs "
    "(us, event_id) into one long so the carry is a single column.",
)
def evt_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "signup", "purchase")
    )
    t = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("rc"),
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("us", "is_p", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # first-in-frame-order non-null = the FIRST following purchase (the
    # frame order IS (us, is_p, event_id)); both carried columns come
    # from that same row — no packed key, no overflow-prone arithmetic
    carried = t.select(
        "*",
        F.first(F.when(F.col("is_p") == 1, F.col("us")), ignorenulls=True)
        .over(w_fwd)
        .alias("p_us"),
        F.first(
            F.when(F.col("is_p") == 1, F.col("event_id")), ignorenulls=True
        )
        .over(w_fwd)
        .alias("p_key"),
    )
    credited = (
        carried.filter(
            (F.col("is_p") == 0)
            & F.col("p_us").isNotNull()
            & (F.col("p_us") - F.col("us") <= 604_800_000_000)
        )
        .select(
            "event_type",
            "us",
            "event_id",
            "p_key",
            F.count(F.lit(1)).over(Window.partitionBy("p_key")).alias("k"),
            F.row_number()
            .over(Window.partitionBy("p_key").orderBy("us", "event_id"))
            .alias("rn"),
        )
    )
    purch = t.filter(F.col("is_p") == 1).select(
        F.col("event_id").alias("p_key"), "rc"
    )
    w_bp = (
        F.when(F.col("k") == 1, 10000)
        .when(F.col("k") == 2, 5000)
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("k")), 4000)
        .otherwise(F.expr("2000 div (k - 2)"))
    )
    weighted = credited.join(purch, "p_key").select(
        F.col("event_type").alias("channel"),
        w_bp.alias("w_bp"),
        "rc",
    )
    touch_credit = weighted.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum(F.expr("rc * w_bp div 10000")).alias("credited_cents"),
    )
    organic = (
        purch.join(credited.select("p_key"), "p_key", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("rc").alias("credited_cents"),
        )
        .select(
            F.lit("organic").alias("channel"), "n_touches", "credited_cents"
        )
        .filter(F.col("n_touches") > 0)
    )
    return touch_credit.unionByName(organic).select(
        "channel",
        F.col("n_touches").cast("long").alias("n_touches"),
        F.col("credited_cents").cast("long").alias("credited_cents"),
    )


@register(
    "evt_markov_stationary",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    tc AS (
        SELECT prev, event_type AS cur, count(*) AS c
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, event_type
    ),
    rs AS (SELECT prev, CAST(sum(c) AS BIGINT) AS rs FROM tc GROUP BY prev),
    types AS (SELECT DISTINCT event_type AS t FROM events),
    k AS (SELECT count(*) AS k FROM types),
    p0 AS (SELECT t AS state, CAST(1000000 // k.k AS BIGINT) AS pi FROM types, k),
    p1 AS (
        SELECT tc.cur AS state, CAST(sum((p0.pi * tc.c) // rs.rs) AS BIGINT) AS pi
        FROM p0 JOIN tc ON p0.state = tc.prev JOIN rs ON rs.prev = tc.prev
        GROUP BY tc.cur
    ),
    p2 AS (
        SELECT tc.cur AS state, CAST(sum((p1.pi * tc.c) // rs.rs) AS BIGINT) AS pi
        FROM p1 JOIN tc ON p1.state = tc.prev JOIN rs ON rs.prev = tc.prev
        GROUP BY tc.cur
    ),
    p3 AS (
        SELECT tc.cur AS state, CAST(sum((p2.pi * tc.c) // rs.rs) AS BIGINT) AS pi
        FROM p2 JOIN tc ON p2.state = tc.prev JOIN rs ON rs.prev = tc.prev
        GROUP BY tc.cur
    )
    SELECT state AS event_type, pi AS pi_micro FROM p3
    """,
    doc="Stationary distribution of the per-user event-type Markov chain "
    "by three unrolled integer power iterations: transition counts come "
    "from one lag window per user (the only data-sized shuffle — the "
    "chain itself is k x k = 25 cells), pi0 is uniform micro-units, and "
    "each step is pi'_j = sum_i (pi_i * c_ij) div rowsum_i — positive-int "
    "div, so the oracle replays all three steps bit-exactly (floor mass "
    "leak is part of the defined semantics, identical on both engines). "
    "The behavioral-model sibling of evt_transition_matrix: where that "
    "query reports the one-step matrix, this one converges toward the "
    "long-run occupancy a session simulator or mixing-time audit needs.",
)
def evt_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type")
        .over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").asc(), F.col("event_id").asc()
            )
        )
        .alias("prev"),
    )
    tc = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("cur"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rs = tc.groupBy("prev").agg(F.sum("c").cast("long").alias("rs"))
    tcr = F.broadcast(tc.join(rs, "prev"))
    types = ev.select(F.col("event_type").alias("state")).distinct()
    kk = types.agg(F.count(F.lit(1)).alias("k"))
    pi = types.crossJoin(F.broadcast(kk)).select(
        "state", F.expr("1000000 div k").cast("long").alias("pi")
    )
    for _ in range(3):
        pi = (
            pi.join(tcr, pi["state"] == tcr["prev"])
            .select(
                F.col("cur").alias("state"),
                F.expr("(pi * c) div rs").alias("contrib"),
            )
            .groupBy("state")
            .agg(F.sum("contrib").cast("long").alias("pi"))
        )
    return pi.select(F.col("state").alias("event_type"), F.col("pi").alias("pi_micro"))


@register(
    "evt_peak_concurrency",
    """
    WITH iv AS (
        SELECT event_type, epoch_us(ts) AS s,
               epoch_us(ts) + 1800000000 AS e
        FROM events
    ),
    pts AS (
        SELECT event_type, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT event_type, e AS t, -1 AS d FROM iv
    ),
    sweep AS (
        SELECT event_type, t, d,
               CAST(sum(d) OVER (PARTITION BY event_type
                                 ORDER BY t, d DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS conc
        FROM pts
    ),
    mx AS (
        SELECT event_type, t, conc,
               max(conc) OVER (PARTITION BY event_type) AS peak
        FROM sweep
    )
    SELECT event_type,
           CAST(max(peak) AS BIGINT) AS peak_concurrency,
           CAST(min(CASE WHEN conc = peak THEN t END) AS BIGINT)
               AS first_peak_us
    FROM mx GROUP BY event_type
    """,
    doc="Peak concurrency per event type via the classic interval "
    "endpoint sweep: each event opens a 30-minute activity interval, "
    "endpoints become +1/-1 deltas, a running sum over the time-ordered "
    "endpoint stream is the live concurrency, and the answer is its "
    "max plus the earliest instant it is reached. The tie rule is part "
    "of the contract: at equal timestamps starts sort before ends "
    "(ORDER BY t, d DESC), so touching intervals COUNT as overlapping "
    "— stated identically in both engines, making the hash attest the "
    "boundary semantics. Complements evt_interval_union_time (total "
    "covered time) with the max-depth statistic (capacity planning / "
    "peak-load sizing). Plan: one exchange on event_type feeds the "
    "partition-local ordered window and both folds; integer "
    "microseconds end to end, no floats. At 100 TB the per-key stream "
    "is the scaling unit — for a single global key the banded "
    "prefix-sum operator (operators/prefix.py) supplies the same "
    "running sum without a single-partition window, as "
    "stat_mann_whitney_u demonstrates.",
)
def evt_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("s")
    )
    iv = ev.select("event_type", "s", (F.col("s") + 1_800_000_000).alias("e"))
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sweep = pts.select(
        "event_type", "t", F.sum("d").over(w).cast("long").alias("conc")
    )
    wp = Window.partitionBy("event_type")
    mx = sweep.withColumn("peak", F.max("conc").over(wp))
    return mx.groupBy("event_type").agg(
        F.max("peak").cast("long").alias("peak_concurrency"),
        F.min(F.when(F.col("conc") == F.col("peak"), F.col("t")))
        .cast("long")
        .alias("first_peak_us"),
    )


@register(
    "evt_uplift_diff_in_diff",
    """
    WITH p AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS treated,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                   AS period,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    g AS (
        SELECT treated, period,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s
        FROM p GROUP BY treated, period
    ),
    m AS (
        SELECT
          max(CASE WHEN treated=1 AND period=0
                   THEN (2*s+n)//(2*n) END) AS m_t0,
          max(CASE WHEN treated=1 AND period=1
                   THEN (2*s+n)//(2*n) END) AS m_t1,
          max(CASE WHEN treated=0 AND period=0
                   THEN (2*s+n)//(2*n) END) AS m_c0,
          max(CASE WHEN treated=0 AND period=1
                   THEN (2*s+n)//(2*n) END) AS m_c1,
          CAST(sum(n) AS BIGINT) AS n_purchases
        FROM g
    )
    SELECT n_purchases,
           CAST(m_t0 AS BIGINT) AS treat_before_centi,
           CAST(m_t1 AS BIGINT) AS treat_after_centi,
           CAST(m_c0 AS BIGINT) AS ctrl_before_centi,
           CAST(m_c1 AS BIGINT) AS ctrl_after_centi,
           CAST((m_t1 - m_t0) - (m_c1 - m_c0) AS BIGINT) AS did_centi
    FROM m
    """,
    doc="Difference-in-differences uplift estimate for a hash-bucket A/B "
    "assignment (treated = user_id % 2, the deterministic assignment "
    "rule real experimentation platforms use) on purchase value around "
    "a fixed intervention date: DiD = (treat_after - treat_before) - "
    "(ctrl_after - ctrl_before), the causal-analysis primitive every "
    "experimentation pipeline reduces to. Cell means are exact integer "
    "round-half-up cents ((2s+n) div (2n), positive sums so Spark div "
    "== DuckDB //); one partial-aggregated pass collapses the fact "
    "table to 4 (treated, period) cells and the estimate is pure "
    "integer arithmetic on the 4-cell pivot — the flat 100 TB shape. "
    "Complements evt_position_attribution (observational credit) with "
    "the experimental counterfactual contrast.",
)
def evt_uplift_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    p = ev.select(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), 1
        )
        .otherwise(0)
        .alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    g = p.groupBy("treated", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )

    def cell(t: int, pd: int):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("period") == pd),
                F.expr("(2*s+n) div (2*n)"),
            )
        )

    m = g.agg(
        cell(1, 0).alias("m_t0"),
        cell(1, 1).alias("m_t1"),
        cell(0, 0).alias("m_c0"),
        cell(0, 1).alias("m_c1"),
        F.sum("n").cast("long").alias("n_purchases"),
    )
    return m.select(
        "n_purchases",
        F.col("m_t0").cast("long").alias("treat_before_centi"),
        F.col("m_t1").cast("long").alias("treat_after_centi"),
        F.col("m_c0").cast("long").alias("ctrl_before_centi"),
        F.col("m_c1").cast("long").alias("ctrl_after_centi"),
        ((F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0")))
        .cast("long")
        .alias("did_centi"),
    )


from .pipeline_common import exp_neg_micro_duck, exp_neg_micro_spark


@register(
    "evt_decayed_user_score",
    f"""
    WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
    d AS (
        SELECT user_id,
               {exp_neg_micro_duck(
                   "(((ref_us - epoch_us(ts)) // 1000000)"
                   " * 693147 // 604800)"
               )} AS decay_micro
        FROM events CROSS JOIN ref
    ),
    s AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(decay_micro AS HUGEINT)) AS BIGINT)
                   AS score_micro
        FROM d GROUP BY user_id
    )
    SELECT user_id, n_events, score_micro FROM s
    ORDER BY score_micro DESC, user_id LIMIT 25
    """,
    doc="Exponentially time-decayed per-user activity score (half-life "
    "7 days, anchored at the corpus max timestamp): the recency-"
    "weighted engagement feature every feature store derives before "
    "ranking or churn models — sum over a user's events of "
    "exp(-ln2 * age / halflife). The decay is evaluated with the "
    "portable fixed-point exp_neg_micro (pipeline_common: 2^-frac "
    "midpoint table + integer shift, no engine libm, bit-identical on "
    "both engines); the exponent ln2*age/halflife is exact integer "
    "micro arithmetic (age_sec * 693147 // 604800). 100 TB shape: one "
    "map-side transform (the 1-row max-ts anchor broadcasts), one "
    "partial-aggregated exchange on user_id with the sum widened to "
    "HUGEINT/decimal before accumulating (micro weights x per-user "
    "event counts pass int64 at corpus scale), then "
    "TakeOrderedAndProject for the tie-broken top 25.",
)
def evt_decayed_user_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    ref = e.agg(F.max(F.unix_micros("ts")).alias("ref_us"))
    d = e.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.expr(
            exp_neg_micro_spark(
                "(((ref_us - unix_micros(ts)) div 1000000)"
                " * 693147 div 604800)"
            )
        ).alias("decay_micro"),
    )
    s = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("decay_micro").cast("decimal(28,0)"))
        .cast("long")
        .alias("score_micro"),
    )
    return s.orderBy(F.col("score_micro").desc(), "user_id").limit(25)


@register(
    "evt_ar1_fit",
    """
    WITH hr AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT event_type, c AS y,
               lag(c) OVER (PARTITION BY event_type ORDER BY h) AS x,
               h - lag(h) OVER (PARTITION BY event_type ORDER BY h) AS dh
        FROM hr
    ),
    p AS (SELECT event_type, x, y FROM lagged WHERE dh = 1),
    s AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                    AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                    AS HUGEINT) AS sxx
        FROM p GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST((n * sxy - sx * sy) * 1000000
                          // (n * sxx - sx * sx) AS BIGINT) END
               AS phi_micro,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE CAST((sy * 1000000
                           - ((n * sxy - sx * sy) * 1000000
                              // (n * sxx - sx * sx)) * sx)
                          // n AS BIGINT) END AS intercept_micro
    FROM s
    """,
    doc="Per-event-type AR(1) fit on the hourly count series — the "
    "forecasting primitive completing the time-series tier "
    "(evt_autocovariance_lags measures memory, evt_seasonal_decompose "
    "removes cycles, this FITS the recursion x_t = c + phi*x_(t-1)): "
    "OLS of each hour's count on the previous hour's, restricted to "
    "truly CONSECUTIVE hour pairs (the lag window also carries the "
    "hour delta; gaps drop out rather than fabricating a transition "
    "across them). phi and the intercept come from integer sufficient "
    "statistics (n, Sx, Sy, Sxy, Sxx) accumulated in HUGEINT/decimal — "
    "the widen-before-aggregate discipline — with the final ratios "
    "truncated toward zero at micro units IDENTICALLY on both engines "
    "(both DuckDB's // and Spark's mod-subtract identity truncate "
    "toward zero for signed numerators; the denominator n*Sxx - Sx^2 "
    "is >= 0 by Cauchy-Schwarz); the intercept reuses the TRUNCATED "
    "phi so the two emitted coefficients are mutually consistent. "
    "Degenerate series (constant x) yield NULL, never a division "
    "error. 100 TB shape: the raw event stream collapses map-side into "
    "the (type, hour) grid in ONE partial-aggregated exchange; the lag "
    "window and the OLS fold run on grid rows (types x hours), corpus "
    "volume never reaches a window.",
)
def evt_ar1_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").select("event_type", "ts")
    hr = e.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 3600000000").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.partitionBy("event_type").orderBy("h")
    lagged = hr.select(
        "event_type",
        F.col("c").alias("y"),
        F.lag("c").over(w).alias("x"),
        (F.col("h") - F.lag("h").over(w)).alias("dh"),
    )
    p = lagged.filter(F.col("dh") == 1)
    s = p.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("x").cast("decimal(28,0)")).cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,0)")).cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    # phi is defined ONCE as a named column and the intercept reads it —
    # never a second copy of the same arithmetic (the ml_calibration_bins
    # advice-r9 lesson). Both floor-ish divisions use the mod-subtract
    # identity, which truncates toward zero exactly like DuckDB's //.
    t = s.select(
        "event_type",
        "n",
        "sx",
        "sy",
        F.expr("(n * sxy - sx * sy) * 1000000").alias("cnum"),
        F.expr("n * sxx - sx * sx").alias("cden"),
    ).select(
        "event_type",
        "n",
        "sx",
        "sy",
        F.when(F.col("cden") == 0, F.lit(None))
        .otherwise(
            F.expr("CAST((cnum - cnum % cden) / cden AS DECIMAL(38,0))")
        )
        .alias("phi"),
    )
    return t.select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.col("phi").cast("long").alias("phi_micro"),
        F.expr(
            "CAST(((sy * 1000000 - phi * sx)"
            " - (sy * 1000000 - phi * sx) % n) / n AS DECIMAL(38,0))"
        )
        .cast("long")
        .alias("intercept_micro"),
    )


@register(
    "evt_haar_energy",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    d0 AS (SELECT min(day) AS day0 FROM daily),
    grid AS (SELECT event_type, day - day0 AS i, y FROM daily, d0),
    contrib AS (
        SELECT g.event_type, t.l,
               g.i // (2 * (1 << (t.l - 1))) AS block,
               (1 - 2 * ((g.i // (1 << (t.l - 1))) % 2)) * g.y AS sy
        FROM grid g, unnest(range(1, 13)) AS t(l)
    ),
    det AS (
        SELECT event_type, l, block,
               CAST(sum(sy) AS BIGINT) AS d
        FROM contrib GROUP BY event_type, l, block
    )
    , en AS (
        SELECT event_type, l,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS e
        FROM det GROUP BY event_type, l
    )
    SELECT event_type,
           CAST(l AS BIGINT) AS level,
           n_blocks,
           CAST(e // 1000000000000000000 AS BIGINT) AS energy_exa,
           CAST(e % 1000000000000000000 AS BIGINT) AS energy_rem
    FROM en
    """,
    doc="Haar wavelet energy spectrum of the per-type daily total series "
    "(Haar 1910, public; the multiresolution variance decomposition a "
    "forecasting pipeline uses to pick seasonality scales): detail "
    "coefficient d_{l,b} = sum over the level-l block pair of "
    "(+|-)-signed daily cents, energy_l = sum_b d^2 — which dyadic "
    "scale (2 days, 4, ..., 4096) carries the series' variance. The "
    "textbook algorithm is a log-depth halving LOOP; the Spark plan "
    "recasts it as ONE multiresolution explode: each daily-grid row "
    "emits its 12 (level, block, sign) contributions (sign = "
    "1 - 2*((i div 2^(l-1)) mod 2), block = i div 2^l — pure integer "
    "bit arithmetic, identical text on both engines), then exactly TWO "
    "exchanges: (type, level, block) -> detail, (type, level) -> "
    "energy. The explode is 12x a CALENDAR-BOUNDED grid (days x types, "
    "not corpus rows), so corpus growth fattens grid cells map-side "
    "and never the exchange. Missing days contribute implicit zeros "
    "(absent rows), the standard dyadic zero-pad. Fixed 12 levels = "
    "first 12 dyadic scales (spans past 4096 days report scales 1-12; "
    "a deterministic definition, not a data gate). Exact integers end "
    "to end; d^2 sums ride HUGEINT/DECIMAL(38,0) intermediates and the "
    "energy is emitted as an EXACT hi/lo pair of BIGINTs at modulus "
    "10^18 (energy = energy_exa * 1e18 + energy_rem) — a single BIGINT "
    "overflows at the generated sf10 (~1e20 cents^2, caught by the "
    "scaling run), and emitting the 128-bit value directly is not "
    "type-stable cross-engine (DuckDB HUGEINT surfaces as float64 "
    "through pandas, breaking the value hash on dtype alone); the "
    "split holds to ~9e36, i.e. far past any corpus this schema can "
    "represent.",
)
def evt_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    d0 = daily.agg(F.min("day").alias("day0"))
    grid = daily.crossJoin(F.broadcast(d0)).select(
        "event_type", (F.col("day") - F.col("day0")).alias("i"), "y"
    )
    contrib = grid.select(
        "event_type",
        F.explode(
            F.expr(
                "transform(sequence(1, 12), l -> struct("
                "l AS l, "
                "i div (2 * shiftleft(1, l - 1)) AS block, "
                "(1 - 2 * ((i div shiftleft(1, l - 1)) % 2)) * y AS sy))"
            )
        ).alias("c"),
    ).select(
        "event_type",
        F.col("c.l").alias("l"),
        F.col("c.block").alias("block"),
        F.col("c.sy").alias("sy"),
    )
    det = contrib.groupBy("event_type", "l", "block").agg(
        F.sum("sy").cast("long").alias("d")
    )
    en = det.groupBy("event_type", "l").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum(F.expr("CAST(d AS DECIMAL(22,0)) * d"))
        .cast("decimal(38,0)")
        .alias("e"),
    )
    m = "1000000000000000000"
    return en.select(
        "event_type",
        F.col("l").cast("long").alias("level"),
        "n_blocks",
        F.expr(f"CAST((e - e % {m}) / {m} AS BIGINT)").alias("energy_exa"),
        F.expr(f"CAST(e % {m} AS BIGINT)").alias("energy_rem"),
    )
