"""Output checks, computed apart from the program and run untimed.

* ``fixpoint``: each operation's rows must match DuckDB running
  the operation's registered oracle SQL over the same testdata tree: same
  column names, same row count, same order-insensitive value hash.
* ``season`` E1: the maxima must match a DuckDB query, written here, over the
  generated parquet.
* ``season`` E2: properties the method must have (one row per tackle, error
  rows exactly on the plays generated without a stop event, NULL YAP exactly
  where there is no vicinity crossing after the start, optimal-path maxima
  within the position's limits, YAP a carrier displacement from the
  crossing).
* ``season`` E3: per-player stats must match DuckDB over the stage-1 parquet
  the pass wrote.

Every check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np

R_T = 1.0  # vicinity radius of the pursuit model
YAP_TOL = 0.005 + 1e-9  # YAP is rounded to 2 dp by the kernel
START_EVENTS = ("handoff", "pass_outcome_caught", "run", "snap_direct")
STOP_EVENTS = (
    "tackle", "out_of_bounds", "fumble", "qb_slide", "touchdown", "safety",
    "fumble_defense_recovered",
)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return repr(round(float(v), 9))
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def value_hash(pdf) -> str:
    """Order-insensitive hash: columns by name, rows sorted, floats to 9 dp."""
    rows = sorted(
        "|".join(_cell(v) for v in row)
        for row in pdf[sorted(pdf.columns)].itertuples(index=False, name=None)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def compare(name: str, got, want) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    if value_hash(got) != value_hash(want):
        return [f"{name}: value hash differs over {len(got)} rows"]
    return []


def registry_oracles(tree: str, ops: list[str]) -> dict:
    """Each operation's registered oracle SQL, run by DuckDB over ``tree``."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    specs = all_queries()
    con = duckdb.connect()
    for f in os.listdir(tree):
        name, ext = os.path.splitext(f)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(tree, f)}')")
    return {op: con.execute(specs[op].oracle).df() for op in ops}


def check_registry(tree: str, outputs: dict, oracles: dict | None = None) -> list[str]:
    oracles = oracles or registry_oracles(tree, sorted(outputs))
    fails = []
    for op, got in outputs.items():
        fails += compare(op, got, oracles[op])
    return fails


# ---------------------------------------------------------------------------
# season
# ---------------------------------------------------------------------------

def _season_views(con, tree: str) -> None:
    con.execute(
        "CREATE VIEW tracking AS SELECT * FROM read_parquet("
        f"'{tree}/tracking/*/*.parquet', hive_partitioning = true)"
    )
    for t in ("players", "plays", "tackles"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tree}/{t}.parquet')")
    starts = ", ".join(f"'{e}'" for e in START_EVENTS)
    stops = ", ".join(f"'{e}'" for e in STOP_EVENTS)
    con.execute("""
        CREATE VIEW carrier AS
        SELECT t.* FROM tracking t JOIN plays p
          ON t.gameId = p.gameId AND t.playId = p.playId AND t.nflId = p.ballCarrierId""")
    con.execute(f"""
        CREATE VIEW win AS
        SELECT gameId, playId,
               coalesce(min(frameId) FILTER (WHERE event IN ({starts})),
                        min(frameId) FILTER (WHERE event = 'ball_snap')) AS start_f,
               min(frameId) FILTER (WHERE event IN ({stops})) AS stop_f
        FROM carrier GROUP BY gameId, playId""")
    con.execute("""
        CREATE VIEW pairs AS
        SELECT k.gameId, k.playId, k.nflId, t.frameId, t.s, t.a,
               sqrt((c.x - t.x) * (c.x - t.x) + (c.y - t.y) * (c.y - t.y)) AS dist
        FROM tackles k
        JOIN tracking t ON t.gameId = k.gameId AND t.playId = k.playId AND t.nflId = k.nflId
        JOIN carrier c ON c.gameId = t.gameId AND c.playId = t.playId AND c.frameId = t.frameId""")
    con.execute(f"""
        CREATE VIEW crossing AS
        SELECT p.gameId, p.playId, p.nflId, min(p.frameId) AS cross_f
        FROM pairs p JOIN win w USING (gameId, playId)
        WHERE p.dist < {R_T} AND p.frameId > w.start_f
        GROUP BY ALL""")


def season_e1_oracle(tree: str):
    con = duckdb.connect()
    _season_views(con, tree)
    return con.execute("""
        SELECT k.gameId AS game_ID, k.playId AS play_ID, k.nflId AS NFL_ID,
               pl.displayName AS name, pl.position,
               CASE WHEN w.start_f IS NULL OR w.stop_f IS NULL THEN NULL ELSE b.max_vel END AS max_vel,
               CASE WHEN w.start_f IS NULL OR w.stop_f IS NULL THEN NULL ELSE b.max_accel END AS max_accel,
               CASE WHEN w.start_f IS NULL OR w.stop_f IS NULL THEN 'error_no_window' ELSE 'ok' END AS status
        FROM tackles k
        JOIN players pl ON pl.nflId = k.nflId
        LEFT JOIN win w ON w.gameId = k.gameId AND w.playId = k.playId
        LEFT JOIN (
            SELECT p.gameId, p.playId, p.nflId, max(p.s) AS max_vel, max(p.a) AS max_accel
            FROM pairs p JOIN win w USING (gameId, playId)
            JOIN crossing x USING (gameId, playId, nflId)
            WHERE p.frameId >= w.start_f AND p.frameId < x.cross_f
            GROUP BY ALL
        ) b ON b.gameId = k.gameId AND b.playId = k.playId AND b.nflId = k.nflId
    """).df()


def season_e3_oracle(stage1_dir: str):
    """E3 over the stage-1 parquet: LB-group per-player YAP stats."""
    con = duckdb.connect()
    return con.execute(f"""
        WITH yap AS (
            SELECT NFL_ID, name,
                   CASE WHEN position IN ('CB','SS','FS') THEN 'DB'
                        WHEN position IN ('MLB','OLB','ILB') THEN 'LB'
                        WHEN position IN ('DT','NT') THEN 'T'
                        ELSE position END AS position,
                   CASE WHEN YAP < 0 THEN 0.0 ELSE YAP END AS YAP
            FROM read_parquet('{stage1_dir}/e2_yap/ok/*.parquet')
        )
        SELECT NFL_ID, name, position,
               floor(CAST(sum(CAST(YAP AS DECIMAL(24,10))) AS DOUBLE)
                     / count(YAP) * 10000 + 0.5) / 10000 AS YAP_mean,
               quantile_cont(YAP, 0.5) AS YAP_med,
               max(YAP) AS YAP_max,
               count(YAP) AS n_plays
        FROM yap WHERE position = 'LB'
        GROUP BY NFL_ID, name, position
        HAVING count(YAP) >= 5
    """).df()


def check_e2(tree: str, e2) -> list[str]:
    """Properties of the E2 (YAP) rows; ``e2`` holds every row, ok and error."""
    import pandas as pd

    from nfl_big_data_bowl_2024_spark import schemas

    con = duckdb.connect()
    _season_views(con, tree)
    with open(os.path.join(tree, "truth.json")) as fh:
        truth = json.load(fh)
    fails = []
    key = ["game_ID", "play_ID", "NFL_ID"]
    tackles = con.execute(
        "SELECT gameId AS game_ID, playId AS play_ID, nflId AS NFL_ID FROM tackles"
    ).df()
    if len(e2) != len(tackles) or e2[key].duplicated().any():
        fails.append(f"e2_yap: {len(e2)} rows for {len(tackles)} tackles rows")
    elif len(e2.merge(tackles, on=key)) != len(tackles):
        fails.append("e2_yap: row keys differ from the tackles table")

    no_stop = {tuple(p) for p in truth["no_stop_plays"]}
    gen_err = np.array([(g, p) in no_stop for g, p in zip(e2["game_ID"], e2["play_ID"])], bool)
    status = e2["status"].to_numpy()
    if set(status[gen_err]) - {"error_no_window"} or set(status[~gen_err]) - {"ok"}:
        fails.append("e2_yap: error_no_window rows differ from the plays generated without a stop event")

    ok = e2[e2["status"] == "ok"]
    crossing = con.execute("SELECT gameId AS game_ID, playId AS play_ID, nflId AS NFL_ID, cross_f FROM crossing").df()
    ok = ok.merge(crossing, on=key, how="left")
    null_yap = ok["YAP"].isna().to_numpy()
    no_cross = ok["cross_f"].isna().to_numpy()
    if (null_yap != no_cross).any():
        fails.append(f"e2_yap: {int((null_yap != no_cross).sum())} rows where NULL YAP and no crossing disagree")

    limits = pd.DataFrame(
        schemas.POSITION_LIMITS, columns=[f.name for f in schemas.POSITION_LIMITS_SCHEMA.fields]
    )
    lim = ok.merge(limits, on="position", how="left")
    over = (lim["max_vel_opt"] > lim["V_max_max"]) | (lim["max_accel_opt"] > lim["A_max_max"])
    if over.any() or lim["V_max_max"].isna().any():
        fails.append(f"e2_yap: {int(over.sum())} rows exceed their position's limits")

    # YAP = +/-(carrier x at the crossing - carrier x at a frame after the start)
    disp = _displacements(con)
    got = ok[~null_yap].merge(disp, on=key, how="left")
    bad = 0
    for yap, cand in zip(got["YAP"], got["cand"]):
        if cand is None or not np.any(np.abs(np.asarray(cand) - yap) <= YAP_TOL):
            bad += 1
    if bad:
        fails.append(f"e2_yap: {bad} YAP values are no carrier displacement from the crossing")
    return fails


def _displacements(con):
    """Per crossing tackler: every signed carrier displacement from a frame
    after the start to the crossing frame."""
    return con.execute("""
        SELECT x.gameId AS game_ID, x.playId AS play_ID, x.nflId AS NFL_ID,
               list(CASE WHEN c.playDirection = 'left' THEN c.x - cx.x ELSE cx.x - c.x END) AS cand
        FROM crossing x
        JOIN win w ON w.gameId = x.gameId AND w.playId = x.playId
        JOIN carrier cx ON cx.gameId = x.gameId AND cx.playId = x.playId AND cx.frameId = x.cross_f
        JOIN carrier c ON c.gameId = x.gameId AND c.playId = x.playId AND c.frameId > w.start_f
        GROUP BY ALL
    """).df()


def check_season(tree: str, stage1_dir: str, outputs: dict) -> list[str]:
    """Checks every operation in ``outputs``; one that failed is absent."""
    checks = {
        "e1_max_params": lambda got: compare("e1_max_params", got, season_e1_oracle(tree)),
        "e2_yap": lambda got: check_e2(tree, got),
        "e3_player_stats": lambda got: compare(
            "e3_player_stats", got, season_e3_oracle(stage1_dir)
        ),
    }
    return [f for op, check in checks.items() if op in outputs for f in check(outputs[op])]


def read_stage1(stage1_dir: str, op: str):
    """Both sinks of one stage-1 operation as one frame (ok rows get their
    dropped ``status`` back)."""
    import pandas as pd
    import pyarrow.dataset as ds

    def read(sub):
        return ds.dataset(os.path.join(stage1_dir, op, sub), format="parquet").to_table().to_pandas()

    ok = read("ok").assign(status="ok")
    return pd.concat([ok, read("error")], ignore_index=True)
