"""U1 — per-play YAP search kernel (reference optimal_pursuit.py:431-571).

The reference runs this as a ~12k-iteration driver loop, one play at a time,
re-reading every CSV per iteration. Here the SAME per-play algorithm runs as
an Arrow-batched ``applyInPandas`` grouped-map over (gameId, playId) groups —
data-parallel across plays, numpy-vectorized within a play, with failures
emitted as status rows (S4) instead of a driver-side try/except ledger
(reference calculate_YAP.py:37-49).

Semantics reproduced (citations into /root/reference):
  - event window + fallback: optimal_pursuit.py:112-121
  - vicinity crossing (dist < R_t strictly after start): :495-499
  - frozen tackler state at the start frame: :503-506
  - candidate-frame search with first feasible (R_f<=R_t, V<=V_max_max,
    A<=A_max_max) winning: :508-522
  - YAP = +/- (x_carrier[vicinity] - x_carrier[j]) signed by playDirection,
    rounded 2dp: :554-557,560
  - optimal-trajectory overwrite + NaN tail, then max-params re-run over the
    overwritten frames (U3 optimal_path variant): :524-552, :193-259
  - unknown-position limit variables (if/elif with no else, method-scope
    vars persisting across the tackler loop): NameError kills the play ONLY
    when an unknown-position tackler would consume never-assigned limits;
    with a prior known tackler the STALE limits are silently reused
    (flagged 'ok_stale_limits' here), and a no-vicinity unknown tackler
    takes the NaN path untouched: :458-477,495-517, calculate_YAP.py:37-49
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from ..schemas import FALLBACK_START_EVENT, START_EVENTS, STOP_EVENTS
from .lqr import RiccatiSweep, solve_optimal_path

R_T = 1.0  # vicinity radius (reference optimal_pursuit.py:126 default R_t=1.0)

YAP_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("game_ID", T.LongType(), False),
        T.StructField("play_ID", T.LongType(), False),
        T.StructField("NFL_ID", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("position", T.StringType(), True),
        T.StructField("YAP", T.DoubleType(), True),
        T.StructField("max_vel_opt", T.DoubleType(), True),
        T.StructField("max_accel_opt", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def _identify_events(events: np.ndarray) -> tuple[int | None, int | None]:
    """Positional (start, stop) indices; None where the reference raises."""
    start = None
    for s in (START_EVENTS, (FALLBACK_START_EVENT,)):
        hits = np.nonzero(np.isin(events, s))[0]
        if hits.size:
            start = int(hits[0])
            break
    stops = np.nonzero(np.isin(events, STOP_EVENTS))[0]
    stop = int(stops[0]) if stops.size else None
    return start, stop


def _first_crossing(dist: np.ndarray, idx_start: int) -> int | None:
    """First positional index with dist < R_T strictly after idx_start
    (reference optimal_pursuit.py:495-499 two-stage nonzero)."""
    close = np.nonzero(dist < R_T)[0]
    if close.size == 0:
        return None
    after = close[close > idx_start]
    return int(after[0]) if after.size else None


def _uv(speed: np.ndarray, dir_deg: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """dir (compass deg) -> (u, v) = (V sin th, V cos th) after atan2 wrap
    (reference optimal_pursuit.py:442-445; the wrap is a no-op for sin/cos
    but reproduced for bit-parity of intermediate values)."""
    th = dir_deg * (np.pi / 180.0)
    th = np.arctan2(np.sin(th), np.cos(th))
    return speed * np.sin(th), speed * np.cos(th)


def _max_params_over(
    v: np.ndarray, a: np.ndarray, dist: np.ndarray, idx_start: int
) -> tuple[float, float]:
    """A1 over [idx_start, crossing) with NaN when never in vicinity
    (reference optimal_pursuit.py:222-236)."""
    idx_stop = _first_crossing(dist, idx_start)
    if idx_stop is None or idx_stop <= idx_start:
        return float("nan"), float("nan")
    return float(np.max(v[idx_start:idx_stop])), float(np.max(a[idx_start:idx_stop]))


MAX_PARAMS_SCHEMA = T.StructType(
    [
        T.StructField("game_ID", T.LongType(), False),
        T.StructField("play_ID", T.LongType(), False),
        T.StructField("NFL_ID", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("position", T.StringType(), True),
        T.StructField("max_vel", T.DoubleType(), True),
        T.StructField("max_accel", T.DoubleType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


def max_params_play_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """U3 UDF variant of the E1 max-params pipeline — the reference's
    per-play loop body verbatim as a grouped-map kernel
    (optimal_pursuit.py:193-259), kept ONLY for bit-parity testing against
    the DataFrame-native plan (plans.domain.max_params_plan); the DF plan is
    the production path (no Python in the hot loop).
    Input columns match yap_play_kernel's."""
    game_id = int(pdf["gameId"].iloc[0])
    play_id = int(pdf["playId"].iloc[0])
    carrier_id = int(pdf["ballCarrierId"].iloc[0])

    carrier = pdf[pdf["nflId"] == carrier_id].sort_values("frameId")
    x_c, y_c = carrier["x"].to_numpy(), carrier["y"].to_numpy()
    if len(carrier):
        idx_start, idx_stop = _identify_events(carrier["event"].to_numpy(dtype=object))
    else:
        idx_start = idx_stop = None

    tacklers = (
        pdf[pdf["is_tackler"]][["nflId", "displayName", "position"]]
        .drop_duplicates("nflId")
        .sort_values("nflId")
    )
    out = []
    for _, tk in tacklers.iterrows():
        g = pdf[pdf["nflId"] == tk["nflId"]].sort_values("frameId")
        status = None
        if len(carrier) == 0:
            status = "error_no_carrier_frames"
        elif len(g) != len(carrier):
            status = "error_frame_misalignment"
        elif idx_start is None or idx_stop is None:
            status = "error_no_window"
        if status is not None:
            out.append((game_id, play_id, int(tk["nflId"]), tk["displayName"],
                        tk["position"], None, None, status))
            continue
        dist = np.sqrt((x_c - g["x"].to_numpy()) ** 2 + (y_c - g["y"].to_numpy()) ** 2)
        mv, ma = _max_params_over(
            g["s"].to_numpy(), g["a"].to_numpy(), dist, idx_start
        )
        out.append((game_id, play_id, int(tk["nflId"]), tk["displayName"],
                    tk["position"],
                    None if np.isnan(mv) else mv,
                    None if np.isnan(ma) else ma,
                    "ok"))
    return pd.DataFrame(
        out, columns=[f.name for f in MAX_PARAMS_SCHEMA.fields]
    )


def yap_play_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: one (gameId, playId) group in, one result row per
    tackler out. Input columns: frameId, t, event, x, y, s, a, dir,
    playDirection, nflId, ballCarrierId, is_tackler, displayName, position,
    V_max_med, V_max_max, A_max_med, A_max_max (NULL limits = unknown pos).
    """
    game_id = int(pdf["gameId"].iloc[0])
    play_id = int(pdf["playId"].iloc[0])
    carrier_id = int(pdf["ballCarrierId"].iloc[0])
    play_direction = str(pdf["playDirection"].iloc[0])

    out: list[dict] = []

    def emit(nfl, name, pos, yap, mvo, mao, status):
        out.append(
            {
                "game_ID": game_id, "play_ID": play_id, "NFL_ID": int(nfl),
                "name": name, "position": pos,
                "YAP": None if yap is None or (isinstance(yap, float) and np.isnan(yap)) else float(yap),
                "max_vel_opt": None if mvo is None or (isinstance(mvo, float) and np.isnan(mvo)) else float(mvo),
                "max_accel_opt": None if mao is None or (isinstance(mao, float) and np.isnan(mao)) else float(mao),
                "status": status,
            }
        )

    carrier = pdf[pdf["nflId"] == carrier_id].sort_values("frameId")
    tacklers = (
        pdf[pdf["is_tackler"]][["nflId", "displayName", "position",
                                "V_max_med", "V_max_max", "A_max_med", "A_max_max"]]
        .drop_duplicates("nflId")
        .sort_values("nflId")
    )
    frames = {
        int(nfl): pdf[pdf["nflId"] == nfl].sort_values("frameId")
        for nfl in tacklers["nflId"]
    }

    # Malformed plays become error ROWS, never job failures: at ~12k plays a
    # single bad record must not kill the stage (the reference's blanket
    # try/except -> run_errors.csv, calculate_YAP.py:37-49, as data).
    bad = None
    if len(carrier) == 0:
        bad = "error_no_carrier_frames"
    elif any(len(g) != len(carrier) for g in frames.values()):
        bad = "error_frame_misalignment"  # J4 positional assumption violated
    if bad is not None:
        for _, tk in tacklers.iterrows():
            emit(tk["nflId"], tk["displayName"], tk["position"], None, None, None, bad)
        return pd.DataFrame(out, columns=[f.name for f in YAP_RESULT_SCHEMA.fields])

    x_c = carrier["x"].to_numpy()
    y_c = carrier["y"].to_numpy()
    t = carrier["t"].to_numpy(dtype=float)
    t = t - t[0]

    idx_start, idx_stop = _identify_events(carrier["event"].to_numpy(dtype=object))
    if idx_start is None or idx_stop is None:
        for _, tk in tacklers.iterrows():
            emit(tk["nflId"], tk["displayName"], tk["position"],
                 None, None, None, "error_no_window")
        return pd.DataFrame(out, columns=[f.name for f in YAP_RESULT_SCHEMA.fields])
    time_0 = t[idx_start]

    # The reference's position->limits if/elif has no else
    # (optimal_pursuit.py:458-477), and the limit variables live in METHOD
    # scope across loop iterations. Three distinct behaviors follow, all
    # reproduced here:
    #   1. unknown position, no prior known tackler, limits CONSUMED (the
    #      tackler has a vicinity crossing after the start): NameError ->
    #      per-play try/except (calculate_YAP.py:37-49) -> the play aborts;
    #      earlier tacklers' rows were already appended (save is inside the
    #      loop), later tacklers emit nothing. Surfaced as an
    #      'error_unknown_position' row for the aborting tackler.
    #   2. unknown position, no prior known tackler, limits NEVER consumed
    #      (no vicinity crossing after start): the NaN path never touches
    #      the variables -> YAP=NaN row, loop CONTINUES.
    #   3. unknown position AFTER a known tackler: the previous tackler's
    #      limits are silently reused (stale variables) -> a computed row
    #      with the prior position's limits; flagged 'ok_stale_limits' so
    #      the divergence-prone reference behavior is visible as data.
    stale_limits: tuple | None = None
    for _, tk in tacklers.iterrows():
        g = frames[int(tk["nflId"])]
        if pd.isna(tk["V_max_med"]):
            if stale_limits is None:
                x_t, y_t = g["x"].to_numpy(), g["y"].to_numpy()
                dist = np.sqrt((x_c - x_t) ** 2 + (y_c - y_t) ** 2)
                if _first_crossing(dist, idx_start) is not None:
                    # Case 1: the optimizer would consume unset limits.
                    emit(tk["nflId"], tk["displayName"], tk["position"],
                         None, None, None, "error_unknown_position")
                    break
                # Case 2: NaN path, limits untouched.
                emit(tk["nflId"], tk["displayName"], tk["position"],
                     None, None, None, "ok")
                continue
            limits = stale_limits  # case 3
            status = "ok_stale_limits"
        else:
            limits = (
                float(tk["V_max_med"]), float(tk["V_max_max"]),
                float(tk["A_max_med"]), float(tk["A_max_max"]),
            )
            stale_limits = limits
            status = "ok"

        try:
            yap, mvo, mao = _search_tackler(
                limits, g, x_c, y_c, t, time_0, idx_start, play_direction,
            )
        except Exception:
            # Reference semantics: an exception aborts the PLAY (earlier
            # tacklers' rows were already saved); surfaced as data here.
            emit(tk["nflId"], tk["displayName"], tk["position"],
                 None, None, None, "error_kernel")
            break

        emit(tk["nflId"], tk["displayName"], tk["position"],
             yap, mvo, mao, status)

    return pd.DataFrame(out, columns=[f.name for f in YAP_RESULT_SCHEMA.fields])


def _search_tackler(limits, g, x_c, y_c, t, time_0, idx_start, play_direction):
    """The per-tackler candidate-frame search (reference
    optimal_pursuit.py:479-561), split out so exceptions map to error rows.
    ``limits`` is the (V_max_med, V_max_max, A_max_med, A_max_max) tuple in
    effect for this tackler — its own position's, or the previous tackler's
    when the reference would reuse stale variables."""
    x_t, y_t = g["x"].to_numpy(), g["y"].to_numpy()
    v_t, a_t = g["s"].to_numpy(), g["a"].to_numpy()
    u_t, w_t = _uv(v_t, g["dir"].to_numpy())
    dist = np.sqrt((x_c - x_t) ** 2 + (y_c - y_t) ** 2)

    yap = float("nan")
    mvo = mao = float("nan")
    idx_v = _first_crossing(dist, idx_start)
    if idx_v is not None:
        x_cv = x_c[idx_v]
        x0, y0 = x_t[idx_start], y_t[idx_start]
        u0, v0 = u_t[idx_start], w_t[idx_start]
        v_med, v_max, a_med, a_max = limits
        # One shared Riccati sweep serves every candidate horizon.
        sweep = RiccatiSweep(v_med, a_med, R_T)

        for idx_j in range(idx_start + 1, len(t) - 1):
            time_j = t[idx_start : idx_j + 1] - time_0
            dx0 = x0 - x_c[idx_j]
            dy0 = y0 - y_c[idx_j]
            xp, yp, up, vp, axp, ayp = solve_optimal_path(
                dx0, dy0, u0, v0, time_j, v_med, a_med, R_T, sweep=sweep
            )
            r_f = float(np.sqrt(xp[-1] ** 2 + yp[-1] ** 2))
            v_pk = float(np.max(np.sqrt(up**2 + vp**2)))
            a_pk = float(np.max(np.sqrt(axp**2 + ayp**2)))
            if r_f <= R_T and v_pk <= v_max and a_pk <= a_max:
                if play_direction == "left":
                    yap = round(x_c[idx_j] - x_cv, 2)
                else:
                    yap = round(x_cv - x_c[idx_j], 2)
                # U3 optimal_path variant: overwrite [idx_start, idx_j],
                # NaN the tail, re-run max-params over the new arrays
                # (reference optimal_pursuit.py:524-552 then :193-259).
                k = len(xp)
                x_o = x_t.astype(float).copy()
                y_o = y_t.astype(float).copy()
                v_o = v_t.astype(float).copy()
                a_o = a_t.astype(float).copy()
                x_o[idx_start : idx_start + k] = xp + x_c[idx_j]
                y_o[idx_start : idx_start + k] = yp + y_c[idx_j]
                v_o[idx_start : idx_start + k] = np.sqrt(up**2 + vp**2)
                a_o[idx_start : idx_start + k] = np.sqrt(axp**2 + ayp**2)
                for arr in (x_o, y_o, v_o, a_o):
                    arr[idx_start + k :] = np.nan
                dist_o = np.sqrt((x_c - x_o) ** 2 + (y_c - y_o) ** 2)
                mv, ma = _max_params_over(v_o, a_o, dist_o, idx_start)
                mvo, mao = round(mv, 2), round(ma, 2)
                break

    return yap, mvo, mao
