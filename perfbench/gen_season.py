"""Seeded synthetic season slice for the ``season`` workload.

Writes the NFL data model the E1/E2/E3 pipeline reads::

    <out>/tracking/week=N/part-0.parquet   10 Hz frames (schemas.TRACKING minus week)
    <out>/players.parquet                  nflId, displayName, position
    <out>/plays.parquet                    schemas.PLAYS
    <out>/tackles.parquet                  gameId, playId, nflId
    <out>/truth.json                       what the generator intended, for the checks

Every play has a ball carrier, 1-3 tacklers whose positions are in
``schemas.POSITION_LIMITS``, three bystanders and the football (NULL nflId).
Plays run in both directions, along straight or curved carrier paths, and
last a varying number of frames. A fixed share of plays has no stop event
(the pipeline must report ``error_no_window`` for them) and a fixed share of
tacklers shadows the carrier without ever coming within R_t (NULL YAP). The
per-play work profile (``_layout``) is the same for every seed.

Only numpy and pyarrow are used: the program under test never sees this code,
only the files it writes.

    python3 perfbench/gen_season.py --seed 7 --out /tmp/season
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PLAYS = 48
PLAYS_PER_GAME = 8
N_WEEKS = 2
FRAME_DT = 0.1
NO_STOP_SHARE = 0.10  # plays with no stop event -> error_no_window rows
SHADOW_SHARE = 0.15  # tacklers that never come within R_t -> NULL YAP
TACKLERS_PER_PLAY = (0.30, 0.45, 0.25)  # shares of plays with 1, 2, 3 tacklers
LAYOUT_SEED = 2024  # fixes the per-play work profile, see _layout()
FALLBACK_SHARE = 0.10  # plays whose only start event is the ball_snap fallback

# (position, weight): LB-heavy so E3's LB group has players with >= 5 plays.
TACKLER_POSITIONS = [
    ("MLB", 3), ("OLB", 3), ("ILB", 2), ("CB", 2), ("SS", 1), ("FS", 1),
    ("DE", 1), ("DT", 1), ("NT", 1),
]
N_DEFENDERS = 24
N_CARRIERS = 10
N_BYSTANDERS = 20
START_EVENTS = ["handoff", "pass_outcome_caught", "run"]
STOP_EVENTS = ["tackle", "out_of_bounds", "fumble", "touchdown"]


def _players(rng: np.random.Generator) -> dict[str, list]:
    names, weights = zip(*TACKLER_POSITIONS)
    p = np.asarray(weights, dtype=float) / sum(weights)
    pos = list(rng.choice(names, size=N_DEFENDERS, p=p))
    pos += list(rng.choice(["RB", "WR", "TE"], size=N_CARRIERS))
    pos += list(rng.choice(["T", "G", "C", "QB"], size=N_BYSTANDERS))
    ids = [40000 + i for i in range(len(pos))]
    return {
        "nflId": ids,
        "displayName": [f"Player {i:05d}" for i in ids],
        "position": pos,
    }


def _kinematics(x: np.ndarray, y: np.ndarray, rng: np.random.Generator):
    """Speed, acceleration, distance and compass direction from positions."""
    vx = np.gradient(x, FRAME_DT)
    vy = np.gradient(y, FRAME_DT)
    s = np.hypot(vx, vy)
    a = np.abs(np.gradient(s, FRAME_DT))
    dis = np.concatenate([[0.0], np.hypot(np.diff(x), np.diff(y))])
    direction = np.degrees(np.arctan2(vx, vy)) % 360.0
    orient = (direction + rng.normal(0, 15, size=len(x))) % 360.0
    r2 = lambda v: np.round(v, 2)  # noqa: E731 - tracking data carries 2 dp
    return r2(s), r2(a), r2(dis), r2(orient), r2(direction)


def _carrier_path(rng, n, start, sign):
    """Carrier path: standing until the start frame, then accelerating
    downfield, straight or along a sinusoidal cut."""
    x0 = rng.uniform(30, 70)
    y0 = rng.uniform(12, 41)
    f = np.arange(n, dtype=float)
    run = np.clip(f - start, 0, None) * FRAME_DT
    top = rng.uniform(4.5, 7.0)
    dist = top * (run - (1 - np.exp(-2.0 * run)) / 2.0)
    x = x0 + sign * dist
    if rng.random() < 0.5:
        return x, np.full(n, y0)
    amp = rng.uniform(1.5, 4.0) * rng.choice([-1.0, 1.0])
    return x, y0 + amp * np.sin(run * rng.uniform(0.6, 1.2))


def _pursuer_path(rng, cx, cy, start, meet, sign):
    """A tackler that starts 5-11 yd downfield of the carrier's meeting
    point, closes on it, and stays within ~0.5 yd of the carrier after."""
    n = len(cx)
    d0 = rng.uniform(5.0, 11.0)
    ang = rng.uniform(-0.9, 0.9)
    px = cx[meet] + sign * d0 * np.cos(ang)
    py = cy[meet] + d0 * np.sin(ang)
    off = rng.uniform(0.2, 0.5)
    oang = rng.uniform(0, 2 * np.pi)
    ox, oy = off * np.cos(oang), off * np.sin(oang)
    f = np.arange(n, dtype=float)
    w = np.clip((f - start) / max(meet - start, 1), 0.0, 1.0)
    w = w * w * (3 - 2 * w)  # smoothstep: rest, close, arrive
    x = px + (cx[meet] + ox - px) * w
    y = py + (cy[meet] + oy - py) * w
    after = f > meet
    x[after] = cx[after] + ox
    y[after] = cy[after] + oy
    return x, y


def _shadow_path(rng, cx, cy):
    """A tackler that mirrors the carrier 4-8 yd to the side: never within R_t."""
    side = rng.uniform(4.0, 8.0) * rng.choice([-1.0, 1.0])
    lag = rng.uniform(-2.0, 2.0)
    return cx + lag, cy + side


def _layout() -> dict[str, np.ndarray]:
    """The per-play work profile, the same for every seed: frame counts,
    start frames, tackler counts, the plays without a stop event, the
    shadowing tackler slots and how far into its play each pursuer meets the
    carrier. Play keys are fixed too, so every seed hands the engine the same
    amount of work in the same hash partitions; the seed moves everything
    else (paths, speeds, directions, events, who tackles)."""
    rng = np.random.default_rng(LAYOUT_SEED)
    n_tacklers = rng.permutation(
        np.repeat([1, 2, 3], np.round(np.array(TACKLERS_PER_PLAY) * N_PLAYS).astype(int))
    )
    total = int(n_tacklers.sum())
    return {
        "n_frames": rng.permutation(28 + (np.arange(N_PLAYS) * 18) // N_PLAYS),
        "start": rng.integers(4, 9, N_PLAYS),
        "n_tacklers": n_tacklers,
        "no_stop": rng.permutation(N_PLAYS)[: int(round(NO_STOP_SHARE * N_PLAYS))],
        "shadow": rng.permutation(total)[: int(round(SHADOW_SHARE * total))],
        "meet": rng.uniform(0.0, 1.0, total),
    }


def generate(seed: int, out: str) -> dict:
    rng = np.random.default_rng(seed)
    players = _players(rng)
    defenders = players["nflId"][:N_DEFENDERS]
    carriers = players["nflId"][N_DEFENDERS:N_DEFENDERS + N_CARRIERS]
    bystanders = players["nflId"][N_DEFENDERS + N_CARRIERS:]

    cols: dict[int, dict[str, list]] = {}
    plays = {k: [] for k in (
        "gameId", "playId", "ballCarrierId", "possessionTeam", "defensiveTeam",
        "yardlineNumber", "yardsToGo", "yardlineSide", "playResult",
        "prePenaltyPlayResult", "playNullifiedByPenalty")}
    tackles = {"gameId": [], "playId": [], "nflId": []}
    truth = {"no_stop_plays": [], "shadow_tacklers": []}
    base_us = 1694120400 * 1_000_000  # 2023-09-07 21:00 UTC

    lay = _layout()
    no_stop = set(lay["no_stop"].tolist())
    shadow = set(lay["shadow"].tolist())
    slot = 0
    for p in range(N_PLAYS):
        game = 2023090700 + p // PLAYS_PER_GAME
        play = 100 + 7 * (p % PLAYS_PER_GAME)
        week = 1 + (p // PLAYS_PER_GAME) % N_WEEKS
        n = int(lay["n_frames"][p])
        start = int(lay["start"][p])
        sign = 1.0 if rng.random() < 0.5 else -1.0
        direction = "right" if sign > 0 else "left"
        carrier = int(rng.choice(carriers))
        cx, cy = _carrier_path(rng, n, start, sign)

        events = np.full(n, None, dtype=object)
        events[0] = "ball_snap"
        if rng.random() >= FALLBACK_SHARE:
            events[start] = str(rng.choice(START_EVENTS))
        if p not in no_stop:
            events[n - int(rng.integers(2, 5))] = str(rng.choice(STOP_EVENTS))
        else:
            truth["no_stop_plays"].append([game, play])

        tacklers = [int(t) for t in rng.choice(defenders, size=lay["n_tacklers"][p], replace=False)]
        paths = {carrier: (cx, cy)}
        for t in tacklers:
            tackles["gameId"].append(game)
            tackles["playId"].append(play)
            tackles["nflId"].append(t)
            slot += 1
            if slot - 1 in shadow:
                paths[t] = _shadow_path(rng, cx, cy)
                truth["shadow_tacklers"].append([game, play, t])
            else:
                meet = start + 8 + int(lay["meet"][slot - 1] * (n - 12 - start))
                paths[t] = _pursuer_path(rng, cx, cy, start, meet, sign)
        for b in rng.choice(bystanders, size=3, replace=False):
            bx = rng.uniform(20, 90) + np.cumsum(rng.normal(0, 0.3, n))
            by = rng.uniform(5, 48) + np.cumsum(rng.normal(0, 0.3, n))
            paths[int(b)] = (bx, by)
        paths[None] = (cx + 0.1, cy + 0.1)  # the football rides with the carrier

        wk = cols.setdefault(week, {f: [] for f in _TRACKING_COLS})
        frame_ids = np.arange(1, n + 1)
        t_us = base_us + p * 60_000_000 + (frame_ids - 1) * int(FRAME_DT * 1e6)
        for nfl, (x, y) in paths.items():
            s, a, dis, o, dirn = _kinematics(x, y, rng)
            club = "football" if nfl is None else ("DEF" if nfl in tacklers else "OFF")
            wk["gameId"].extend([game] * n)
            wk["playId"].extend([play] * n)
            wk["nflId"].extend([nfl] * n)
            wk["frameId"].extend(frame_ids.tolist())
            wk["time"].extend(t_us.tolist())
            wk["club"].extend([club] * n)
            wk["playDirection"].extend([direction] * n)
            wk["event"].extend(events.tolist())
            wk["x"].extend(np.round(x, 2).tolist())
            wk["y"].extend(np.round(y, 2).tolist())
            wk["s"].extend(s.tolist())
            wk["a"].extend(a.tolist())
            wk["dis"].extend(dis.tolist())
            wk["o"].extend(o.tolist())
            wk["dir"].extend(dirn.tolist())

        yardline = int(rng.integers(1, 50))
        gained = int(round(abs(cx[-1] - cx[start])))
        plays["gameId"].append(game)
        plays["playId"].append(play)
        plays["ballCarrierId"].append(carrier)
        plays["possessionTeam"].append("OFF")
        plays["defensiveTeam"].append("DEF")
        plays["yardlineNumber"].append(yardline)
        plays["yardsToGo"].append(int(rng.integers(1, 11)))
        plays["yardlineSide"].append("OFF" if rng.random() < 0.5 else "DEF")
        plays["playResult"].append(gained)
        plays["prePenaltyPlayResult"].append(gained)
        plays["playNullifiedByPenalty"].append("N")

    os.makedirs(out, exist_ok=True)
    for week, c in cols.items():
        d = os.path.join(out, "tracking", f"week={week}")
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(c, schema=_TRACKING_ARROW), os.path.join(d, "part-0.parquet"))
    pq.write_table(pa.table(players, schema=_PLAYERS_ARROW), os.path.join(out, "players.parquet"))
    pq.write_table(pa.table(plays, schema=_PLAYS_ARROW), os.path.join(out, "plays.parquet"))
    pq.write_table(pa.table(tackles, schema=_TACKLES_ARROW), os.path.join(out, "tackles.parquet"))
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    return truth


_TRACKING_ARROW = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int64()), ("nflId", pa.int64()),
    ("frameId", pa.int32()), ("time", pa.timestamp("us", tz="UTC")),
    ("club", pa.string()), ("playDirection", pa.string()), ("event", pa.string()),
    ("x", pa.float64()), ("y", pa.float64()), ("s", pa.float64()),
    ("a", pa.float64()), ("dis", pa.float64()), ("o", pa.float64()),
    ("dir", pa.float64()),
])
_TRACKING_COLS = _TRACKING_ARROW.names
_PLAYERS_ARROW = pa.schema([
    ("nflId", pa.int64()), ("displayName", pa.string()), ("position", pa.string()),
])
_PLAYS_ARROW = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int64()), ("ballCarrierId", pa.int64()),
    ("possessionTeam", pa.string()), ("defensiveTeam", pa.string()),
    ("yardlineNumber", pa.int32()), ("yardsToGo", pa.int32()),
    ("yardlineSide", pa.string()), ("playResult", pa.int32()),
    ("prePenaltyPlayResult", pa.int32()), ("playNullifiedByPenalty", pa.string()),
])
_TACKLES_ARROW = pa.schema([
    ("gameId", pa.int64()), ("playId", pa.int64()), ("nflId", pa.int64()),
])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)


if __name__ == "__main__":
    main()
