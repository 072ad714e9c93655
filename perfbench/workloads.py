"""What one pass of each workload runs, and the recorder that times its layers.

A pass calls only the program's public functions: readers and writers from
``sources``, plan builders from ``plans``, and the registered queries. The
final action of every operation hands its result to the driver (an Arrow
collect, or for stage 1 of ``season`` a persisted count followed by the
two-sink parquet write), so the results the checks compare are the ones the
timed pass produced.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

SEASON_OPS = ["e1_max_params", "e2_yap", "e3_player_stats"]
# No consumer of the session-scoped connected-components label memo
# (dedup_cluster_*, dedup_survivorship_by_source) belongs here: every pass
# after the first would time a cache hit, and deleting the memo would read as
# a regression. dedup_ngram_jaccard is left out for its cost: it would add
# about 3 s to every warm pass and 4 s to the cold one (README.md, "Run
# budget").
FIXPOINT_OPS = [
    "graph_label_propagation",
    "graph_pagerank_trading",
    "graph_kcore_peel",
]
OPS = {"season": SEASON_OPS, "fixpoint": FIXPOINT_OPS}
# Passes per run after the cold pass: untimed warm-ups, then timed ones.
# Both counts are fixed, so warm_pass_s is the median of the same passes on
# every commit; passes that --seconds adds beyond them are recorded but not
# in the median. The JIT keeps speeding passes up after the cold one: the
# first runs 10-20% above the level passes settle at, the second 5-10%, so
# the first is a warm-up and the median of the next three leaves out the
# second where it is still slow.
WARMUP_PASSES = 1
TIMED_PASSES = 3
ALL_OPS = SEASON_OPS + FIXPOINT_OPS

# The testdata copy (copy_testdata.py) the fixpoint workload reads. It is
# scale factor 0.01: at 0.1 a fixpoint run took about 57 s before any
# warm-up pass (README.md, "Run budget").
TREE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# Tables each registry workload reads, for the bare-scan layer figure.
SCAN_TABLES = {"fixpoint": ["orders", "lineitem"]}
SEASON_TABLES = ["players", "plays", "tackles"]
KEYS = ["game_ID", "play_ID", "NFL_ID", "name", "position"]


class Recorder:
    """Untraced passes: calls straight through, nothing recorded."""

    @contextmanager
    def op(self, name: str):
        yield

    def call(self, layer: str, op: str, fn):
        return fn()


def job_group(pass_idx: int, op: str) -> str:
    return f"pass{pass_idx}:{op}"


class TraceRecorder(Recorder):
    """Spans kept in memory around each layer call; every operation runs in
    its own Spark job group (``job_group``) so its jobs can be found again."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.pass_idx = 0

    @contextmanager
    def op(self, name: str):
        self.sc.setJobGroup(job_group(self.pass_idx, name), name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {"layer": "op", "op": name, "pass": self.pass_idx, "start": t0, "end": t1}
            )

    def call(self, layer: str, op: str, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.spans.append(
                {"layer": layer, "op": op, "pass": self.pass_idx, "start": t0, "end": time.time()}
            )


def _attempt(rec: Recorder, name: str, failed: dict, body):
    """Run one operation; an exception is recorded in ``failed`` under the
    operation's name instead of ending the pass."""
    try:
        with rec.op(name):
            return body()
    except Exception as exc:  # noqa: BLE001 - every failure is counted
        failed[name] = f"{type(exc).__name__}: {exc}"[:500]
        return None


def registry_pass(spark, tree: str, ops: list[str], rec: Recorder) -> tuple[dict, dict]:
    """One pass over registered queries: build each plan, collect its rows.
    Returns the rows of every operation that ran and the error of every one
    that failed."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    specs = all_queries()
    out, failed = {}, {}
    for name in ops:

        def body(name=name):
            df = rec.call("plans.build", name, lambda: specs[name].fn(spark, tree))
            return rec.call("plans.action", name, df.toPandas)

        rows = _attempt(rec, name, failed, body)
        if name not in failed:
            out[name] = rows
    return out, failed


def season_inputs(spark, tree: str):
    """The season tables through the program's readers. ``t`` (seconds) is
    derived from the ``time`` timestamp here because the E2 kernel reads a
    ``t`` column that ``read_tracking``'s schema does not carry."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.sources.readers import read_parquet_table, read_tracking

    tracking = read_tracking(spark, os.path.join(tree, "tracking"))
    tracking = tracking.withColumn("t", F.unix_micros("time") / 1e6)
    players, plays, tackles = (
        read_parquet_table(spark, name, os.path.join(tree, f"{name}.parquet"))
        for name in SEASON_TABLES
    )
    return tracking, players, plays, tackles


def stage1_paths(out_dir: str, op: str) -> tuple[str, str]:
    return os.path.join(out_dir, op, "ok"), os.path.join(out_dir, op, "error")


def season_pass(spark, tree: str, out_dir: str, rec: Recorder) -> tuple[dict, dict]:
    """E1 and E2 over the tracking scan, each persisted, materialized and
    written through the two-sink writer; E3 over the written stage-1 rows.
    Returns E3's rows (E1 and E2 are checked from their sinks) and the error
    of every operation that failed; E3 fails with either of its inputs."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.plans.domain import max_params_plan, yap_plan
    from nfl_big_data_bowl_2024_spark.plans.reporting import player_stats_plan
    from nfl_big_data_bowl_2024_spark.sources.writers import write_with_error_sink

    tracking, players, plays, tackles = season_inputs(spark, tree)
    failed = {}
    for name, plan in (("e1_max_params", max_params_plan), ("e2_yap", yap_plan)):

        def stage1(name=name, plan=plan):
            df = rec.call("plans.build", name, lambda: plan(tracking, players, plays, tackles))
            # write_with_error_sink filters its input twice; without the
            # persist each sink would recompute the plan (for E2, the whole
            # LQR search).
            df = df.persist()
            try:
                rec.call("plans.action", name, df.count)
                ok, err = stage1_paths(out_dir, name)
                rec.call("sources.write", name, lambda: write_with_error_sink(df, ok, err))
            finally:
                df.unpersist(blocking=True)

        _attempt(rec, name, failed, stage1)

    name = "e3_player_stats"
    if failed:
        failed[name] = "not run: its stage-1 input failed"
        return {}, failed

    def e3():
        def build():
            e1 = spark.read.parquet(stage1_paths(out_dir, "e1_max_params")[0])
            e2 = spark.read.parquet(stage1_paths(out_dir, "e2_yap")[0])
            return player_stats_plan(
                e2.select(*KEYS, "YAP"),
                e1.select(*KEYS, "max_vel", "max_accel"),
                e2.select(
                    *KEYS,
                    F.col("max_vel_opt").alias("max_vel"),
                    F.col("max_accel_opt").alias("max_accel"),
                ),
            )

        df = rec.call("plans.build", name, build)
        return rec.call("plans.action", name, df.toPandas)

    rows = _attempt(rec, name, failed, e3)
    return ({} if failed else {name: rows}), failed


def scan_inputs(spark, workload: str, tree: str) -> None:
    """Bare scan of every input table of the workload into the noop sink."""
    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table

    if workload == "season":
        tracking, *dims = season_inputs(spark, tree)
        frames = [tracking, *dims]
    else:
        frames = [read_testdata_table(spark, tree, t) for t in SCAN_TABLES[workload]]
    for df in frames:
        df.write.format("noop").mode("overwrite").save()


def kernel_inputs(tree: str):
    """Per-play kernel input frames, built with pandas from the generated
    files: carrier and tackler rows with player dims and position limits,
    the columns ``yap_play_kernel`` documents."""
    import pandas as pd
    import pyarrow.parquet as pq

    from nfl_big_data_bowl_2024_spark import schemas

    table = pq.read_table(os.path.join(tree, "tracking"))
    tr = table.to_pandas()
    tr["t"] = table["time"].cast("int64").to_numpy() / 1e6  # microseconds -> s
    plays = pq.read_table(os.path.join(tree, "plays.parquet")).to_pandas()
    tackles = pq.read_table(os.path.join(tree, "tackles.parquet")).to_pandas()
    players = pq.read_table(os.path.join(tree, "players.parquet")).to_pandas()
    limits = pd.DataFrame(
        schemas.POSITION_LIMITS,
        columns=[f.name for f in schemas.POSITION_LIMITS_SCHEMA.fields],
    )
    m = tr.merge(plays[["gameId", "playId", "ballCarrierId"]], on=["gameId", "playId"])
    m = m.merge(tackles.assign(is_tackler=True), on=["gameId", "playId", "nflId"], how="left")
    m["is_tackler"] = m["is_tackler"].notna()
    m = m[m["is_tackler"] | (m["nflId"] == m["ballCarrierId"])]
    m = m.merge(players, on="nflId", how="left").merge(limits, on="position", how="left")
    return [g.reset_index(drop=True) for _, g in m.groupby(["gameId", "playId"], sort=True)]


def replay_kernel(tree: str) -> dict:
    """Run ``yap_play_kernel`` serially on every generated play, counting the
    LQR solves it makes."""
    import numpy as np

    from nfl_big_data_bowl_2024_spark.kernels import yap

    frames = kernel_inputs(tree)
    real = yap.solve_optimal_path
    solves = 0

    def counted(*args, **kwargs):
        nonlocal solves
        solves += 1
        return real(*args, **kwargs)

    per_play = []
    yap.solve_optimal_path = counted
    try:
        for pdf in frames:
            t0 = time.perf_counter()
            yap.yap_play_kernel(pdf)
            per_play.append(time.perf_counter() - t0)
    finally:
        yap.solve_optimal_path = real
    return {
        "play_ms": float(np.median(per_play)) * 1e3,
        "serial_s": float(sum(per_play)),
        "lqr_solves": solves,
        "plays": len(frames),
    }
