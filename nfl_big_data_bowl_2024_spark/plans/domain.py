"""Domain pipelines E1/E2 (reference calculate_max_params.py / calculate_YAP.py).

E1 (max-params) is the reference's stage-1 batch driver re-expressed as ONE
declarative plan — scan once, window/crossing/bounded-max as conditional
aggregates, dimension joins broadcast — instead of ~12k per-play loop
iterations each re-reading the full weekly CSV (reference
optimal_pursuit.py:149 inside calculate_max_params.py:28). E2 (YAP) wraps the
U1 kernel (kernels/yap.py) in applyInPandas over (gameId, playId) groups.

Both run over the deterministic NFL fixtures (fixtures.py) because the driver
testdata has no tracking-shaped table; E1's oracle rebuilds the identical
fixture via VALUES CTEs so the DuckDB gate still applies. E2's full search is
iterative LQR — not SQL-expressible — so e2_yap registers rows-only with
golden tests (tests/test_yap_kernel.py); e2_yap_closed_form is its
hash-checkable operating point (straight-line plays, oracle below).

At 100 TB: tracking is week-partitioned (sources.read_tracking), play groups
are the shuffle key everywhere (one shuffle, reused), dims broadcast, and the
kernel cost is embarrassingly parallel across plays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures, schemas
from ..localrel import local_df as _local
from ..kernels.yap import (
    MAX_PARAMS_SCHEMA,
    YAP_RESULT_SCHEMA,
    max_params_play_kernel,
    yap_play_kernel,
)
from .registry import register

_PLAY_KEY = ["gameId", "playId"]


def max_params_plan(
    tracking: DataFrame,
    players: DataFrame,
    plays: DataFrame,
    tackles: DataFrame,
    r_t: float = 1.0,
) -> DataFrame:
    """E1/U3 as pure DataFrame ops (reference optimal_pursuit.py:193-259).

    Output: one row per (play, tackler): game_ID, play_ID, NFL_ID, name,
    position, max_vel, max_accel, status. NULL maxima = never-in-vicinity
    (the reference's NaN branch, :232-236); status='error_no_window' when the
    start/stop event is missing (the reference raises there ->
    run_errors row, calculate_max_params.py:39-46).

    Shape (optimization round 13): the aggregate+join composition scanned
    the tracking fact SEVEN times (carrier branch twice, the pairs subtree
    duplicated under crossing and bounded, win three times) through nine
    exchanges, because Catalyst does not CSE DataFrame subtrees. Recast in
    the flagship's stacked-window form: ONE scan of tracking, every window
    partitioned by a superset of (gameId, playId) so a single clustering
    (bucketed storage, or one inserted exchange) serves them all —
      - carrier coordinates attached per frame via a (game, play, frame)
        window (replaces the carrier_xy self-join),
      - start/stop_ord via (game, play) window MINs over carrier rows
        (event_window semantics, W1),
      - crossing_ord via the (game, play, nflId) window (W2),
      - the bounded maxima as conditional aggregates in the terminal
        groupBy (A1) — which reuses the same clustering, so no further
        exchange.
    The per-player aggregate (play x player grain, dim-sized) is eagerly
    localCheckpointed: the per-play window spine and the per-tackler
    maxima are BOTH derived from it, and without the checkpoint the
    whole scan would run once per consumer. The fact is scanned once and
    never re-shuffled (plan-audited by
    test_bucketed_tracking_keeps_e1_fact_shuffle_free).
    """
    tackler_key = _PLAY_KEY + ["nflId"]
    per_player = _max_params_per_player(tracking, plays, r_t).localCheckpoint(
        eager=True
    )
    win = per_player.groupBy(*_PLAY_KEY).agg(
        F.max("start_ord").alias("start_ord"), F.max("stop_ord").alias("stop_ord")
    )
    bounded = per_player.select(*tackler_key, "max_vel", "max_accel")

    err = F.col("start_ord").isNull() | F.col("stop_ord").isNull()
    return (
        tackles.join(F.broadcast(players), "nflId")
        .join(win, _PLAY_KEY, "left")
        .join(bounded, tackler_key, "left")
        .select(
            F.col("gameId").alias("game_ID"),
            F.col("playId").alias("play_ID"),
            F.col("nflId").alias("NFL_ID"),
            F.col("displayName").alias("name"),
            F.col("position"),
            F.when(err, F.lit(None).cast("double")).otherwise(F.col("max_vel")).alias("max_vel"),
            F.when(err, F.lit(None).cast("double")).otherwise(F.col("max_accel")).alias("max_accel"),
            F.when(err, "error_no_window").otherwise("ok").alias("status"),
        )
    )


def _max_params_per_player(
    tracking: DataFrame, plays: DataFrame, r_t: float = 1.0
) -> DataFrame:
    """The single-scan heavy stage of E1: per (game, play, player) bounded
    maxima + the play's event window, as stacked window expressions over
    one (gameId, playId) clustering. LAZY — callers checkpoint it (it has
    two consumers in max_params_plan) and tests explain it directly to
    assert the fact is scanned once and never re-shuffled."""
    from pyspark.sql.window import Window

    w_frame = Window.partitionBy(*_PLAY_KEY, "frameId")
    w_play = Window.partitionBy(*_PLAY_KEY)
    tackler_key = _PLAY_KEY + ["nflId"]
    w_tackler = Window.partitionBy(*tackler_key)

    t = tracking.join(
        F.broadcast(plays.select(*_PLAY_KEY, "ballCarrierId")), _PLAY_KEY
    )
    is_carrier = F.col("nflId") == F.col("ballCarrierId")
    start_primary = F.min(
        F.when(
            is_carrier & F.col("event").isin(list(schemas.START_EVENTS)),
            F.col("frameId"),
        )
    ).over(w_play)
    start_fallback = F.min(
        F.when(
            is_carrier & (F.col("event") == schemas.FALLBACK_START_EVENT),
            F.col("frameId"),
        )
    ).over(w_play)
    t = (
        t.withColumn("cx", F.max(F.when(is_carrier, F.col("x"))).over(w_frame))
        .withColumn("cy", F.max(F.when(is_carrier, F.col("y"))).over(w_frame))
        # presence flag, NOT cx IS NOT NULL: a carrier row with NULL x must
        # still admit the frame into the bounded slice (the old inner join
        # kept it, with a NULL dist)
        .withColumn(
            "has_c", F.count(F.when(is_carrier, F.lit(1))).over(w_frame) > 0
        )
        .withColumn("start_ord", F.coalesce(start_primary, start_fallback))
        .withColumn(
            "stop_ord",
            F.min(
                F.when(
                    is_carrier & F.col("event").isin(list(schemas.STOP_EVENTS)),
                    F.col("frameId"),
                )
            ).over(w_play),
        )
    )
    dx = F.col("cx") - F.col("x")
    dy = F.col("cy") - F.col("y")
    t = t.withColumn("dist", F.sqrt(dx * dx + dy * dy)).withColumn(
        "crossing_ord",
        F.min(
            F.when(
                (F.col("dist") < r_t) & (F.col("frameId") > F.col("start_ord")),
                F.col("frameId"),
            )
        ).over(w_tackler),
    )
    in_slice = (
        F.col("has_c")
        & (F.col("frameId") >= F.col("start_ord"))
        & (F.col("frameId") < F.col("crossing_ord"))
    )
    return t.groupBy(*tackler_key).agg(
        F.max(F.when(in_slice, F.col("s"))).alias("max_vel"),
        F.max(F.when(in_slice, F.col("a"))).alias("max_accel"),
        F.first("start_ord").alias("start_ord"),
        F.first("stop_ord").alias("stop_ord"),
    )


_E1_ORACLE = f"""
WITH tracking AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fx0(')}),
players AS (SELECT * FROM {fixtures.players_values_cte().replace('fx(', 'fx1(')}),
plays AS (SELECT * FROM {fixtures.plays_values_cte().replace('fx(', 'fx2(')}),
tackles AS (SELECT * FROM {fixtures.tackles_values_cte().replace('fx(', 'fx3(')}),
carrier AS (
    SELECT t.* FROM tracking t
    JOIN plays p ON t.gameId = p.gameId AND t.playId = p.playId
                AND t.nflId = p.ballCarrierId
),
win AS (
    SELECT gameId, playId,
           coalesce(
               min(CASE WHEN event IN ('handoff','pass_outcome_caught','run','snap_direct')
                        THEN frameId END),
               min(CASE WHEN event = 'ball_snap' THEN frameId END)) AS start_ord,
           min(CASE WHEN event IN ('tackle','out_of_bounds','fumble','qb_slide',
                                   'touchdown','safety','fumble_defense_recovered')
                    THEN frameId END) AS stop_ord
    FROM carrier GROUP BY gameId, playId
),
pairs AS (
    SELECT tk.gameId, tk.playId, tk.nflId, tk.frameId, tk.s, tk.a,
           sqrt((c.x - tk.x) * (c.x - tk.x) + (c.y - tk.y) * (c.y - tk.y)) AS dist
    FROM tracking tk
    JOIN tackles kk ON tk.gameId = kk.gameId AND tk.playId = kk.playId
                   AND tk.nflId = kk.nflId
    JOIN carrier c ON tk.gameId = c.gameId AND tk.playId = c.playId
                  AND tk.frameId = c.frameId
),
crossing AS (
    SELECT p.gameId, p.playId, p.nflId, min(p.frameId) AS crossing_ord
    FROM pairs p JOIN win w ON p.gameId = w.gameId AND p.playId = w.playId
    WHERE p.dist < 1.0 AND p.frameId > w.start_ord
    GROUP BY p.gameId, p.playId, p.nflId
),
bounded AS (
    SELECT p.gameId, p.playId, p.nflId,
           max(p.s) AS max_vel, max(p.a) AS max_accel
    FROM pairs p
    JOIN win w ON p.gameId = w.gameId AND p.playId = w.playId
    JOIN crossing x ON p.gameId = x.gameId AND p.playId = x.playId
                   AND p.nflId = x.nflId
    WHERE p.frameId >= w.start_ord AND p.frameId < x.crossing_ord
    GROUP BY p.gameId, p.playId, p.nflId
)
SELECT k.gameId AS game_ID, k.playId AS play_ID, k.nflId AS NFL_ID,
       pl.displayName AS name, pl.position AS position,
       CASE WHEN w.start_ord IS NULL OR w.stop_ord IS NULL THEN NULL
            ELSE b.max_vel END AS max_vel,
       CASE WHEN w.start_ord IS NULL OR w.stop_ord IS NULL THEN NULL
            ELSE b.max_accel END AS max_accel,
       CASE WHEN w.start_ord IS NULL OR w.stop_ord IS NULL THEN 'error_no_window'
            ELSE 'ok' END AS status
FROM tackles k
JOIN players pl ON k.nflId = pl.nflId
LEFT JOIN win w ON k.gameId = w.gameId AND k.playId = w.playId
LEFT JOIN crossing c ON k.gameId = c.gameId AND k.playId = c.playId
                    AND k.nflId = c.nflId
LEFT JOIN bounded b ON k.gameId = b.gameId AND k.playId = b.playId
                   AND k.nflId = b.nflId
"""


@register(
    "e1_max_params",
    _E1_ORACLE,
    doc="E1/U3 max-params pipeline, DataFrame-native over the FIXTURES.md §A "
    "tracking scenarios (reference calculate_max_params.py + "
    "optimal_pursuit.py:193-259); oracle rebuilds the identical fixture via "
    "VALUES CTEs.",
)
def e1_max_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    return max_params_plan(
        fixtures.tracking_df(spark),
        fixtures.players_df(spark),
        fixtures.plays_df(spark),
        fixtures.tackles_df(spark),
    )


def _kernel_input(
    tracking: DataFrame,
    players: DataFrame,
    plays: DataFrame,
    tackles: DataFrame,
) -> DataFrame:
    """Shared grouped-map input: carrier + tackler frames with role flags,
    player dims and (broadcast-joined) position limits as columns. The
    kernels read time as ``t`` seconds; a tracking scan that carries only
    the ``time`` timestamp (``sources.readers.read_tracking``) gets ``t``
    derived from it."""
    spark = tracking.sparkSession
    if "t" not in tracking.columns:
        tracking = tracking.withColumn("t", F.unix_micros("time") / 1e6)
    limits = _local(
        spark, schemas.POSITION_LIMITS, schemas.POSITION_LIMITS_SCHEMA
    )
    marked = (
        tracking.join(F.broadcast(plays.select(*_PLAY_KEY, "ballCarrierId")), _PLAY_KEY)
        .join(
            F.broadcast(tackles.withColumn("is_tackler", F.lit(True))),
            _PLAY_KEY + ["nflId"],
            "left",
        )
        .withColumn("is_tackler", F.coalesce("is_tackler", F.lit(False)))
        .filter(F.col("is_tackler") | (F.col("nflId") == F.col("ballCarrierId")))
        .join(F.broadcast(players), "nflId", "left")
        .join(F.broadcast(limits), "position", "left")
    )
    # Explicit-count repartition on the play key: the kernel is CPU-bound
    # (up to ~30 LQR solves per tackler) while a play's frames are only a
    # few KB, so AQE's size-based coalescing would funnel every play into
    # one task. groupBy reuses this exact partitioning — no extra exchange.
    sc = tracking.sparkSession.sparkContext
    return marked.repartition(sc.defaultParallelism, *_PLAY_KEY)


def max_params_kernel_plan(
    tracking: DataFrame,
    players: DataFrame,
    plays: DataFrame,
    tackles: DataFrame,
) -> DataFrame:
    """U3 UDF variant — parity twin of max_params_plan, used by tests to
    prove the DataFrame-native plan reproduces the reference loop exactly."""
    return _kernel_input(tracking, players, plays, tackles).groupBy(*_PLAY_KEY).applyInPandas(
        max_params_play_kernel, schema=MAX_PARAMS_SCHEMA
    )


def yap_plan(
    tracking: DataFrame,
    players: DataFrame,
    plays: DataFrame,
    tackles: DataFrame,
) -> DataFrame:
    """E2 — the U1 kernel over every play in one applyInPandas pass
    (reference calculate_YAP.py). Limits arrive as broadcast-joined columns
    so unknown positions become data (NULL limits -> error-status row), not
    exceptions."""
    return _kernel_input(tracking, players, plays, tackles).groupBy(*_PLAY_KEY).applyInPandas(
        yap_play_kernel, schema=YAP_RESULT_SCHEMA
    )


@register(
    "e2_yap",
    None,
    doc="E2/U1 YAP pipeline: applyInPandas per (gameId, playId) running the "
    "LQR intercept search (reference calculate_YAP.py + "
    "optimal_pursuit.py:431-571). Iterative optimal control — no SQL oracle; "
    "golden/property tests in tests/test_yap_kernel.py.",
)
def e2_yap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return yap_plan(
        fixtures.tracking_df(spark),
        fixtures.players_df(spark),
        fixtures.plays_df(spark),
        fixtures.tackles_df(spark),
    )


def _yap_cf_oracle(alias: str, meta_rows: str, intercept: int) -> str:
    """Oracle of a closed-form YAP operating point over the fixture CTE
    (renamed ``alias``): ``meta_rows`` are the VALUES rows (gameId, playId,
    carrierId, tacklerId, name, position, dir, max_vel_opt,
    max_accel_opt), and the pinned intercept frame is f0 + ``intercept``."""
    cte = fixtures.tracking_values_cte().replace("fx(", f"{alias}(")
    return f"""
WITH tracking AS (SELECT * FROM {cte}),
meta AS (
    SELECT * FROM (VALUES
        {meta_rows}
    ) AS m(gameId, playId, carrierId, tacklerId, name, position, dir,
           max_vel_opt, max_accel_opt)
),
carrier AS (
    SELECT t.gameId, t.playId, t.frameId, t.event, t.x, t.y
    FROM tracking t JOIN meta m
      ON t.gameId = m.gameId AND t.playId = m.playId AND t.nflId = m.carrierId
),
start_f AS (
    SELECT gameId, playId,
           min(CASE WHEN event IN ('handoff','pass_outcome_caught','run',
                                   'snap_direct') THEN frameId END) AS f0
    FROM carrier GROUP BY gameId, playId
),
dist AS (
    SELECT c.gameId, c.playId, c.frameId, c.x AS cx,
           sqrt((c.x - k.x) * (c.x - k.x) + (c.y - k.y) * (c.y - k.y)) AS d
    FROM carrier c
    JOIN meta m ON c.gameId = m.gameId AND c.playId = m.playId
    JOIN tracking k ON k.gameId = c.gameId AND k.playId = c.playId
                   AND k.frameId = c.frameId AND k.nflId = m.tacklerId
),
crossing AS (
    SELECT d.gameId, d.playId, min(d.frameId) AS fv
    FROM dist d JOIN start_f s ON d.gameId = s.gameId AND d.playId = s.playId
    WHERE d.d < 1.0 AND d.frameId > s.f0
    GROUP BY d.gameId, d.playId
)
SELECT m.gameId AS game_ID, m.playId AS play_ID, m.tacklerId AS NFL_ID,
       m.name AS name, m.position AS position,
       floor((CASE WHEN m.dir = 'left' THEN cj.cx - cv.cx
                   ELSE cv.cx - cj.cx END) * 100 + 0.5) / 100 AS YAP,
       m.max_vel_opt AS max_vel_opt, m.max_accel_opt AS max_accel_opt,
       'ok' AS status
FROM meta m
JOIN start_f s ON s.gameId = m.gameId AND s.playId = m.playId
JOIN crossing cr ON cr.gameId = m.gameId AND cr.playId = m.playId
JOIN dist cv ON cv.gameId = m.gameId AND cv.playId = m.playId
            AND cv.frameId = cr.fv
JOIN dist cj ON cj.gameId = m.gameId AND cj.playId = m.playId
            AND cj.frameId = s.f0 + {intercept}
"""


# Driver-checkable operating point for the U1 kernel: the two straight-line
# pursuit plays (101 right, 201 left mirror). For them everything except two
# LQR-path maxima is SQL-derivable from the fixture CTE:
#   - the start frame f0 (first handoff-class event) and the vicinity
#     crossing fv (first frame after f0 with dist < R_t) are plain SQL;
#   - the first LQR-FEASIBLE intercept frame is f0 + 6 — pinned, and proven
#     robust, by tests/test_yap_kernel.py::test_closed_form_operating_point
#     (the previous candidate fails r_f > R_t by >= 4%, the winner passes
#     all three constraints with >= 48% headroom, so no ~1-ulp numeric
#     drift can move the argmin);
#   - YAP is then pure carrier displacement: +/- (x_c[fv] - x_c[f0+6]);
#   - max_vel_opt / max_accel_opt are maxima OVER the optimal path itself
#     (not SQL-expressible); they enter the oracle as literals whose
#     unrounded values sit >= 0.0018 away from their 2 dp rounding
#     boundary (asserted by the same test).
_YAP_CF_ORACLE = _yap_cf_oracle(
    "fxy",
    """(CAST(1 AS BIGINT), CAST(101 AS BIGINT), CAST(1001 AS BIGINT),
         CAST(2001 AS BIGINT), 'Tackler Alpha', 'CB', 'right',
         CAST(5.66 AS DOUBLE), CAST(0.57 AS DOUBLE)),
        (CAST(2 AS BIGINT), CAST(201 AS BIGINT), CAST(1002 AS BIGINT),
         CAST(2003 AS BIGINT), 'Tackler Charlie', 'MLB', 'left',
         CAST(5.6 AS DOUBLE), CAST(0.34 AS DOUBLE))""",
    6,
)


@register(
    "e2_yap_closed_form",
    _YAP_CF_ORACLE,
    doc="E2/U1 at a hash-checkable operating point: the same applyInPandas "
    "LQR kernel (reference calculate_YAP.py + optimal_pursuit.py:431-571) "
    "restricted to the two straight-line pursuit plays whose YAP is "
    "closed-form carrier displacement. The oracle derives the start frame, "
    "vicinity crossing and YAP from the fixture VALUES CTE; the intercept "
    "frame and the two optimal-path maxima are pinned constants whose "
    "robustness (feasibility + rounding margins) is asserted in "
    "tests/test_yap_kernel.py — same move that made MinHash/SimHash/IVF "
    "driver-checkable via deterministic operating points.",
)
def e2_yap_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    cf = F.col("playId").isin(101, 201)
    return yap_plan(
        fixtures.tracking_df(spark).filter(cf),
        fixtures.players_df(spark),
        fixtures.plays_df(spark).filter(cf),
        fixtures.tackles_df(spark).filter(cf),
    )


# Second closed-form operating point: the CURVED pursuit play 301 (quadratic
# carrier arc, SS converging along both axes). Unlike 101/201 the geometry
# is genuinely 2-D — the vicinity distance and the LQR boundary conditions
# both carry nonzero y components — so this pins the kernel's planar math,
# not just its 1-D projection. Pinned constants (intercept = f0 + 5,
# max_vel_opt 5.62, max_accel_opt 5.9) are margin-proven in
# tests/test_yap_kernel.py::test_closed_form_operating_point_curved: every
# earlier candidate fails its binding constraint by >= 30%, the winner
# passes all three with >= 28% headroom, and both maxima sit >= 0.0020 from
# their 2 dp half-up boundary.
_YAP_CF_CURVED_ORACLE = _yap_cf_oracle(
    "fxcv",
    """(CAST(4 AS BIGINT), CAST(301 AS BIGINT), CAST(1001 AS BIGINT),
         CAST(2007 AS BIGINT), 'Tackler Golf', 'SS', 'right',
         CAST(5.62 AS DOUBLE), CAST(5.9 AS DOUBLE))""",
    5,
)


@register(
    "e2_yap_closed_form_curved",
    _YAP_CF_CURVED_ORACLE,
    doc="E2/U1 second hash-checked operating point: the SAME applyInPandas "
    "LQR kernel on the curved-pursuit play (quadratic carrier arc + 2-D "
    "converging SS, fixtures.py play 301) — extends the hash-checked "
    "surface of the kernel (reference calculate_YAP.py + "
    "optimal_pursuit.py:431-571) beyond the straight-line plays of "
    "e2_yap_closed_form. The oracle derives start frame, vicinity "
    "crossing and YAP (pure carrier displacement between two derived "
    "frames) from the fixture VALUES CTE; the intercept frame (f0 + 5) "
    "and the optimal-path maxima are pinned constants margin-proven in "
    "tests/test_yap_kernel.py.",
)
def e2_yap_closed_form_curved(spark: SparkSession, sf_dir: str) -> DataFrame:
    cf = F.col("playId") == 301
    return yap_plan(
        fixtures.tracking_df(spark).filter(cf),
        fixtures.players_df(spark),
        fixtures.plays_df(spark).filter(cf),
        fixtures.tackles_df(spark).filter(cf),
    )


_TRAJ_ORACLE = f"""
WITH tracking AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxt(')}),
carrier AS (SELECT frameId, t, event, x AS cx, y AS cy FROM tracking
            WHERE gameId = 1 AND playId = 101 AND nflId = 1001),
tackler AS (SELECT frameId, x AS tx, y AS ty, s, a FROM tracking
            WHERE gameId = 1 AND playId = 101 AND nflId = 2001)
SELECT c.frameId, c.t, c.event, c.cx, c.cy, k.tx, k.ty, k.s, k.a,
       sqrt((c.cx - k.tx) * (c.cx - k.tx) + (c.cy - k.ty) * (c.cy - k.ty)) AS dist,
       CASE WHEN sqrt((c.cx - k.tx) * (c.cx - k.tx)
                      + (c.cy - k.ty) * (c.cy - k.ty)) < 1.0
            THEN 1 ELSE 0 END AS in_vicinity
FROM carrier c JOIN tackler k ON c.frameId = k.frameId
"""


@register(
    "single_play_trajectory",
    _TRAJ_ORACLE,
    doc="Single-play interactive view (the reference's 4th entry point, "
    "optimal_pursuit_example.py / animate_play): per-frame carrier+tackler "
    "positions, separation and vicinity flag for one (gameId, playId) — the "
    "exact data the animation renders, as a plan instead of a loop.",
)
def single_play_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    tr = fixtures.tracking_df(spark).filter(
        (F.col("gameId") == 1) & (F.col("playId") == 101)
    )
    carrier = tr.filter(F.col("nflId") == 1001).select(
        "frameId", "t", "event", F.col("x").alias("cx"), F.col("y").alias("cy")
    )
    tackler = tr.filter(F.col("nflId") == 2001).select(
        "frameId", F.col("x").alias("tx"), F.col("y").alias("ty"), "s", "a"
    )
    dx = F.col("cx") - F.col("tx")
    dy = F.col("cy") - F.col("ty")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        carrier.join(tackler, "frameId")
        .withColumn("dist", dist)
        .withColumn(
            "in_vicinity", F.when(F.col("dist") < 1.0, 1).otherwise(0)
        )
        .select(
            "frameId", "t", "event", "cx", "cy", "tx", "ty", "s", "a",
            "dist", "in_vicinity",
        )
    )


def single_play_animation_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered trajectory plus the compass headings the animation's
    orientation arrows need (reference animate_play quivers (sin th, cos th)
    unit vectors per marker, optimal_pursuit.py:379,419-421). Kept separate
    from the oracle-backed ``single_play_trajectory`` so the gate schema
    stays frozen; the sink consumes either shape."""
    tr = fixtures.tracking_df(spark).filter(
        (F.col("gameId") == 1) & (F.col("playId") == 101)
    )
    cdir = tr.filter(F.col("nflId") == 1001).select(
        "frameId", F.col("dir").alias("cdir")
    )
    tdir = tr.filter(F.col("nflId") == 2001).select(
        "frameId", F.col("dir").alias("tdir")
    )
    return (
        single_play_trajectory(spark, sf_dir)
        .join(cdir, "frameId")
        .join(tdir, "frameId")
    )


# Fixture event time of every stream_* query and its oracle, in INTEGER
# microseconds on both engines: play p starts at epoch second
# 1_700_000_000 + 100 p, and t has exact 0.1 s granularity, so round(t*10)
# is integral — no double->timestamp rounding hazard.
_EVENT_US_SQL = (
    "(CAST(1700000000 AS BIGINT) + playId * 100) * 1000000"
    " + CAST(round(t * 10) AS BIGINT) * 100000"
)


def _event_us() -> Column:
    """``_EVENT_US_SQL`` as a Spark column over the fixture tracking rows."""
    return (
        (F.lit(1_700_000_000).cast("long") + F.col("playId") * 100) * 1_000_000
        + F.round(F.col("t") * 10).cast("long") * 100_000
    )


# Deterministic oracle for the STREAMING sessionization: gap-based sessions
# (the general lag/running-sum formulation of session_window) over the same
# fixture, INCLUDING the watermark emission rule — append mode only emits a
# session once the watermark (max event time - 10 s) has passed its end, so
# the chronologically-last play's session is provably withheld and the
# oracle reproduces that by filtering on the same cutoff.
_STREAM_SESS_ORACLE = f"""
WITH fx AS (SELECT * FROM {fixtures.tracking_values_cte()}),
ev AS (
    SELECT gameId, playId, frameId, s,
           {_EVENT_US_SQL} AS ts_us
    FROM fx
),
flagged AS (
    SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 5000000
                   THEN 1 ELSE 0 END AS new_sess
    FROM ev WINDOW w AS (PARTITION BY gameId, playId ORDER BY ts_us)
),
sess AS (
    SELECT *, sum(new_sess) OVER (PARTITION BY gameId, playId ORDER BY ts_us
                                  ROWS UNBOUNDED PRECEDING) AS sess_id
    FROM flagged
),
agg AS (
    SELECT gameId, playId,
           min(ts_us) AS sess_start_us,
           max(ts_us) + 5000000 AS sess_end_us,
           count(*) AS n_frames,
           min(frameId) AS first_frame,
           max(frameId) AS last_frame,
           max(s) AS max_speed
    FROM sess GROUP BY gameId, playId, sess_id
)
SELECT * FROM agg
WHERE sess_end_us <= (SELECT max(ts_us) FROM ev) - 10000000
"""


_STREAM_DEDUP_ORACLE = f"""
WITH fxd AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxd(')})
SELECT gameId, playId,
       count(*) AS n_rows,
       count(DISTINCT frameId) AS n_frames
FROM fxd GROUP BY gameId, playId
"""


@register(
    "stream_dedup_frames",
    _STREAM_DEDUP_ORACLE,
    doc="Streaming at-least-once dedup (§2.9): the fixture feed is written "
    "as one full file plus a REDELIVERY file duplicating the latest "
    "play's frames (their event times sit inside the 10 s watermark, so "
    "the dedup state is still live when the duplicates arrive in the "
    "next micro-batch); dropDuplicatesWithinWatermark keys the state "
    "store on frame identity and drops them. The oracle is the "
    "duplicate-free per-play row count — any surviving duplicate row "
    "hash-fails. Bounded state by construction: entries expire once the "
    "watermark passes their event time, unlike dropDuplicates whose "
    "keys-seen store grows forever.",
)
def stream_dedup_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_d_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(1).write.mode("overwrite").parquet(d)
        # Redelivery: the play with the GLOBAL max event time — its frames
        # are within every batch's watermark, so the duplicates must be
        # dropped regardless of which file forms the first micro-batch.
        tr.filter((F.col("gameId") == 3) & (F.col("playId") == 207)).coalesce(
            1
        ).write.mode("append").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = st.read_tracking_stream(spark, d, schema, max_files_per_trigger=1)
        q = st.run_to_memory_sink(
            st.dedup_frame_stream(stream), "stream_dedup_frames_q", "append"
        )
        q.awaitTermination(300)
        return (
            spark.table("stream_dedup_frames_q")
            .groupBy("gameId", "playId")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("frameId").alias("n_frames"),
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_STREAM_WIN_ORACLE = f"""
WITH fxw AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxw(')}),
ev AS (
    SELECT gameId, playId, s, a,
           {_EVENT_US_SQL} AS ts_us
    FROM fxw
),
win AS (
    SELECT gameId, playId,
           (ts_us // 1000000) * 1000000 AS win_start_us,
           count(*) AS n_frames,
           max(s) AS max_speed,
           max(a) AS max_accel
    FROM ev GROUP BY gameId, playId, ts_us // 1000000
)
SELECT * FROM win
WHERE win_start_us + 1000000 <= (SELECT max(ts_us) FROM ev) - 10000000
"""


@register(
    "stream_window_stats",
    _STREAM_WIN_ORACLE,
    doc="Structured Streaming tumbling-window aggregation (the other half "
    "of §2.9 next to the session_window query): watermarked 1 s event-time "
    "windows per play, file-source micro-batches, memory sink drained with "
    "trigger(availableNow). Oracle-checked INCLUDING append-mode emission: "
    "epoch-aligned tumbling windows are integer-second buckets in SQL, and "
    "only windows whose end <= max event time - 10 s (the final global "
    "watermark) are emitted — the withheld tail windows match too.",
)
def stream_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_w_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(2).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        # No per-file trigger throttle: the attested semantics here are the
        # watermark + append-mode emission cutoff, which the final
        # watermark-commit batch provides identically whether the feed
        # arrives as one data batch or several (multi-micro-batch behavior
        # is attested by stream_dedup_frames' redelivery feed). Dropping
        # the forced batch boundary + pinning 4 state partitions took the
        # fixed cost from 5.4 s to 3.1 s at sf0.1 (round-8 verdict item 6).
        stream = st.read_tracking_stream(spark, d, schema)
        st.drain_to_memory_sink(
            st.windowed_play_stats(stream),
            "stream_window_stats_q",
            "append",
            state_partitions=4,
        )
        return spark.table("stream_window_stats_q").select(
            "gameId", "playId",
            F.unix_micros("win_start").alias("win_start_us"),
            "n_frames", "max_speed", "max_accel",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "stream_session_stats",
    _STREAM_SESS_ORACLE,
    doc="Structured Streaming end-to-end (§2.9 extension): fixture tracking "
    "frames written as a two-file parquet feed -> file-source readStream "
    "-> watermark + session_window per play -> memory sink "
    "drained with trigger(availableNow). ORACLE-CHECKED including the "
    "watermark semantics: the oracle computes gap-sessionization with the "
    "general lag/running-sum formulation and applies the same append-mode "
    "emission cutoff (session end <= max event time - 10 s), so the "
    "withheld final session matches too. Batch-equivalence is additionally "
    "asserted in tests/test_streaming.py.",
)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_q_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(2).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        # Same fixed-cost trim as stream_window_stats: no forced batch
        # boundary (the emission cutoff is what this query attests) and 4
        # pinned state partitions for the fixture-scale feed.
        stream = st.read_tracking_stream(spark, d, schema)
        st.drain_to_memory_sink(
            st.sessionized_play_stats(stream),
            "stream_session_stats_q",
            "append",
            state_partitions=4,
        )
        # The memory sink holds the emitted batches in the driver's table
        # registry — the returned plan scans those batches, never the source
        # files, so the temp dir can be removed with no collect/recreate
        # round-trip (the r2 review's one remaining driver-side collect).
        return spark.table("stream_session_stats_q").select(
            "gameId", "playId",
            F.unix_micros("sess_start").alias("sess_start_us"),
            F.unix_micros("sess_end").alias("sess_end_us"),
            "n_frames", "first_frame", "last_frame", "max_speed",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_STREAM_ENRICH_ORACLE = f"""
WITH fxe AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxe(')}),
fxp AS (SELECT * FROM {fixtures.players_values_cte().replace('fx(', 'fxp(')}),
ev AS (
    SELECT fxe.nflId, s,
           {_EVENT_US_SQL} AS ts_us
    FROM fxe
),
j AS (
    SELECT fxp.position AS position, ev.s, ev.ts_us
    FROM ev LEFT JOIN fxp ON ev.nflId = fxp.nflId
),
win AS (
    SELECT position,
           (ts_us // 1000000) * 1000000 AS win_start_us,
           count(*) AS n_frames,
           max(s) AS max_speed
    FROM j GROUP BY position, ts_us // 1000000
)
SELECT * FROM win
WHERE win_start_us + 1000000 <= (SELECT max(ts_us) FROM ev) - 10000000
"""


@register(
    "stream_enrich_window_stats",
    _STREAM_ENRICH_ORACLE,
    doc="Stream-STATIC broadcast enrichment under the driver gate (the "
    "streaming form of the J1 dim join): live frames LEFT-join the roster "
    "dimension via streaming.enriched_frame_stream — stateless, map-side, "
    "re-resolving the static side every micro-batch so dimension updates "
    "land without a query restart — then a watermarked 1 s tumbling "
    "window aggregates per POSITION (a dim attribute, proving enrichment "
    "happened before windowing). Oracle-checked including append-mode "
    "emission: only windows whose end <= max event time - 10 s (the "
    "final global watermark) are emitted.",
)
def stream_enrich_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_e_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(2).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = st.read_tracking_stream(spark, d, schema, max_files_per_trigger=1)
        enriched = st.enriched_frame_stream(
            stream, fixtures.players_df(spark), on="nflId"
        )
        agg = (
            enriched.withWatermark("event_time", "10 seconds")
            .groupBy(F.window("event_time", "1 second").alias("win"), "position")
            .agg(
                F.count(F.lit(1)).alias("n_frames"),
                F.max("s").alias("max_speed"),
            )
        )
        q = st.run_to_memory_sink(
            agg, "stream_enrich_window_stats_q", "append"
        )
        q.awaitTermination(300)
        return spark.table("stream_enrich_window_stats_q").select(
            "position",
            F.unix_micros("win.start").alias("win_start_us"),
            "n_frames",
            "max_speed",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_STREAM_SSJOIN_ORACLE = f"""
WITHfxs AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxs(')}),
fr AS (
    SELECT gameId, playId, nflId, frameId,
           {_EVENT_US_SQL} AS ts_us
    FROM fxs
),
ev AS (
    SELECT gameId, playId, event,
           {_EVENT_US_SQL} AS evt_us
    FROM fxs WHERE event IS NOT NULL
)
SELECT f.gameId, f.playId, f.nflId, e.event, e.evt_us,
       count(*) AS n_frames,
       min(f.frameId) AS first_frame,
       max(f.frameId) AS last_frame
FROM fr f JOIN ev e
  ON f.gameId = e.gameId AND f.playId = e.playId
 AND e.evt_us >= f.ts_us - 5000000 AND e.evt_us <= f.ts_us
GROUP BY f.gameId, f.playId, f.nflId, e.event, e.evt_us
"""


@register(
    "stream_interval_join_stats",
    _STREAM_SSJOIN_ORACLE.replace("WITHfxs", "WITH fxs"),
    doc="Stream-STREAM interval join under the driver gate (the remaining "
    "§2.9 join shape next to the stream-static broadcast): a live frame "
    "stream joins a live play-event stream (snap/handoff/tackle markers) "
    "on play keys PLUS a 5 s lookback interval — the watermark+interval "
    "combination that lets Spark EXPIRE buffered join state, so each "
    "side holds watermark+lookback worth of rows instead of growing for "
    "the life of the query (streaming.py:frame_event_interval_join). "
    "Per (frame-actor, event) the emitted matches are aggregated to "
    "counts + frame bounds; the oracle replays the interval join "
    "statically from the fixture CTE — epoch-micro interval bounds keep "
    "it engine-exact.",
)
def stream_interval_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from .. import streaming as st

    fd = tempfile.mkdtemp(prefix="stream_f_")
    ed = tempfile.mkdtemp(prefix="stream_ev_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(1).write.mode("overwrite").parquet(fd)
        tr.filter(F.col("event").isNotNull()).select(
            "gameId",
            "playId",
            "event",
            F.col("event_time").alias("evt_time"),
        ).coalesce(1).write.mode("overwrite").parquet(ed)
        fschema = spark.read.parquet(fd).schema
        eschema = T.StructType(
            [
                T.StructField("gameId", T.LongType(), True),
                T.StructField("playId", T.LongType(), True),
                T.StructField("event", T.StringType(), True),
                T.StructField("evt_time", T.TimestampType(), True),
            ]
        )
        frames = st.read_tracking_stream(spark, fd, fschema)
        events = st.read_tracking_stream(spark, ed, eschema)
        joined = st.frame_event_interval_join(frames, events, lookback="5 seconds")
        q = st.run_to_memory_sink(joined, "stream_ssj_q", "append")
        q.awaitTermination(300)
        return (
            spark.table("stream_ssj_q")
            .groupBy(
                "gameId",
                "playId",
                "nflId",
                "event",
                F.unix_micros("evt_time").alias("evt_us"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_frames"),
                F.min("frameId").alias("first_frame"),
                F.max("frameId").alias("last_frame"),
            )
        )
    finally:
        shutil.rmtree(fd, ignore_errors=True)
        shutil.rmtree(ed, ignore_errors=True)


_STREAM_STATEFUL_ORACLE = f"""
WITH fxr AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxr(')})
SELECT gameId, playId, nflId,
       count(*) AS n_frames,
       max(s) AS max_speed
FROM fxr GROUP BY gameId, playId, nflId
"""


@register(
    "stream_stateful_running_max",
    _STREAM_STATEFUL_ORACLE,
    doc="Custom STATEFUL streaming operator under the driver gate: "
    "applyInPandasWithState carries per-(game, play, player) running "
    "frame-count + max speed across micro-batches in the state store "
    "(streaming.py:running_player_max — the streaming form of the A1 "
    "bounded max; transformWithStateInPandas is unusable in this "
    "container, see session notes). The feed is split into two files "
    "fed one per micro-batch, so the state MUST survive a batch "
    "boundary to produce the right totals; update-mode emissions are "
    "reduced with a monotone max per key, and the oracle is the plain "
    "batch aggregate over the fixture CTE — any lost or double-counted "
    "state hash-fails.",
)
def stream_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_st_")
    try:
        tr = fixtures.tracking_df(spark)
        # two files -> two micro-batches (maxFilesPerTrigger=1): state must
        # carry the first file's counts into the second batch
        tr.filter(F.col("frameId") <= 17).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        tr.filter(F.col("frameId") > 17).coalesce(1).write.mode("append").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = st.read_tracking_stream(spark, d, schema, max_files_per_trigger=1)
        q = st.run_to_memory_sink(
            st.running_player_max(stream), "stream_runmax_q", "update"
        )
        q.awaitTermination(300)
        # update mode emits one row per key per batch-with-updates; the
        # running values are monotone, so max() reduces to the final state
        return (
            spark.table("stream_runmax_q")
            .groupBy("gameId", "playId", "nflId")
            .agg(
                F.max("n_frames").alias("n_frames"),
                F.max("max_speed").alias("max_speed"),
            )
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "e2_yap_scale",
    None,
    doc="E2 kernel at load: the same applyInPandas YAP pipeline over a "
    "synthetic season whose play count scales with the harness sf "
    "(sf0.01 -> 25 plays, sf0.1 -> 256). Plays are the parallelism unit — "
    "this measures kernel throughput, not fixture overhead.",
)
def e2_yap_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = fixtures.synthetic_play_count(sf_dir)
    players: list = []
    plays: list = []
    tackles: list = []
    for p in range(n):
        pl, play, tk = fixtures._synthetic_play_meta(p)
        players.extend(pl)
        plays.append(play)
        tackles.extend(tk)
    # Tracking (the big table) is generated ON THE EXECUTORS; only the three
    # broadcast-sized dims are built driver-side.
    return yap_plan(
        fixtures.synthetic_tracking_df(spark, n),
        # Arrow-built LocalTableScans (r14): the tuple path parks each dim
        # in a pickled RDD whose every evaluation pays a Python round-trip.
        fixtures._local_df(spark, players, fixtures.PLAYERS_FIXTURE_SCHEMA),
        fixtures._local_df(spark, plays, fixtures.PLAYS_FIXTURE_SCHEMA),
        fixtures._local_df(spark, tackles, fixtures.TACKLES_FIXTURE_SCHEMA),
    )


_STREAM_STATE_ORACLE = f"""
WITH fxs AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxs(')})
SELECT gameId, playId,
       count(DISTINCT frameId) AS n_state_keys
FROM fxs GROUP BY gameId, playId
"""


@register(
    "stream_state_introspection",
    _STREAM_STATE_ORACLE,
    doc="State-store introspection (statestore batch reader): run the "
    "fixture feed through an exactly-once key dedup "
    "(dropDuplicates on frame identity — unbounded state), then "
    "batch-read the checkpoint's state store itself and count live "
    "state entries per play. The oracle is the per-play distinct frame "
    "count: the dedup operator's state IS the set of keys seen, so any "
    "state-store row lost, duplicated, or mis-keyed hash-fails. This is "
    "the ops surface for state-size audits and skew hunts on a "
    "production stream — a batch scan over the checkpoint, one task per "
    "state partition, no stream restart. Companion catalog reader: "
    "streaming.state_metadata.",
)
def stream_state_introspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from .. import streaming as st

    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join("/tmp/spark_graft_stream", sf, "state_introspection")
    feed, ckpt = os.path.join(base, "feed"), os.path.join(base, "ckpt")
    # Fresh cycle each run: the state store must reflect exactly one full
    # pass over the feed. The checkpoint outlives the call (the returned
    # DataFrame lazily scans it when the driver collects).
    shutil.rmtree(base, ignore_errors=True)
    tr = fixtures.tracking_df(spark).select("gameId", "playId", "frameId", "t")
    tr.coalesce(1).write.mode("overwrite").parquet(feed)
    stream = st.read_tracking_stream(spark, feed, tr.schema)
    q = (
        st.dedup_keys_stream(stream, ["gameId", "playId", "frameId"])
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    state = st.state_snapshot(spark, ckpt)
    return state.groupBy(
        F.col("key.gameId").alias("gameId"), F.col("key.playId").alias("playId")
    ).agg(F.count(F.lit(1)).alias("n_state_keys"))


_STREAM_SLIDE_ORACLE = f"""
WITH fxsl AS (SELECT * FROM {fixtures.tracking_values_cte().replace('fx(', 'fxsl(')}),
ev AS (
    SELECT gameId, playId, s, a,
           {_EVENT_US_SQL} AS ts_us
    FROM fxsl
),
w AS (
    SELECT gameId, playId, s, a,
           unnest([ts_us // 1000000 - 1, ts_us // 1000000]) AS ws
    FROM ev
),
win AS (
    SELECT gameId, playId,
           ws * 1000000 AS win_start_us,
           count(*) AS n_frames,
           max(s) AS max_speed,
           max(a) AS max_accel
    FROM w GROUP BY gameId, playId, ws
)
SELECT * FROM win
WHERE win_start_us + 2000000 <= (SELECT max(ts_us) FROM ev) - 10000000
"""


@register(
    "stream_sliding_window_stats",
    _STREAM_SLIDE_ORACLE,
    doc="Structured Streaming SLIDING-window aggregation (2 s windows, 1 s "
    "slide) — the remaining §2.9 window type next to tumbling, session, "
    "stream-static, stream-stream and stateful: each frame is replicated "
    "into its two covering epoch-aligned windows by the JVM Expand, the "
    "watermark bounds state, and append mode emits a window once the "
    "final watermark passes its END (window start + 2 s <= max event "
    "time - 10 s — the oracle replays both the replication via unnest "
    "and the emission cutoff, so the withheld tail windows match too). "
    "Batch twin: evt_sliding_distinct_users.",
)
def stream_sliding_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .. import streaming as st

    d = tempfile.mkdtemp(prefix="stream_sl_")
    try:
        tr = fixtures.tracking_df(spark).withColumn(
            "event_time", F.timestamp_micros(_event_us())
        )
        tr.coalesce(2).write.mode("overwrite").parquet(d)
        schema = spark.read.parquet(d).schema
        stream = st.read_tracking_stream(spark, d, schema, max_files_per_trigger=1)
        q = st.run_to_memory_sink(
            st.sliding_play_stats(stream), "stream_sliding_window_stats_q", "append"
        )
        q.awaitTermination(300)
        return spark.table("stream_sliding_window_stats_q").select(
            "gameId", "playId",
            F.unix_micros("win_start").alias("win_start_us"),
            "n_frames", "max_speed", "max_accel",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
