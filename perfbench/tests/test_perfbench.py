"""The benchmark's own tests: generator, testdata copy, checks and metric names.

No Spark session is started: valid outputs come from the DuckDB references
and from the E2 kernel run serially, and each check must accept them and
reject a copy with one value corrupted.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks as C  # noqa: E402
import copy_testdata  # noqa: E402
import gen_season  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_generator_is_deterministic_per_seed(tmp_path):
    gen_season.generate(5, str(tmp_path / "a"))
    gen_season.generate(5, str(tmp_path / "b"))
    gen_season.generate(6, str(tmp_path / "c"))
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_season_generator_makes_the_promised_cases(tmp_path):
    truth = gen_season.generate(3, str(tmp_path))
    assert len(truth["no_stop_plays"]) == round(gen_season.NO_STOP_SHARE * gen_season.N_PLAYS)
    assert truth["shadow_tacklers"]
    tr = pd.read_parquet(tmp_path / "tracking")
    assert set(tr["playDirection"]) == {"left", "right"}
    assert tr["nflId"].isna().any()  # the football
    tackles = pd.read_parquet(tmp_path / "tackles.parquet")
    players = pd.read_parquet(tmp_path / "players.parquet")
    positions = set(tackles.merge(players, on="nflId")["position"])
    from nfl_big_data_bowl_2024_spark import schemas

    assert positions <= {p[0] for p in schemas.POSITION_LIMITS}
    assert tackles.groupby(["gameId", "playId"]).size().isin([1, 2, 3]).all()


def test_testdata_copy_matches_its_sums():
    assert copy_testdata.check() == []
    for tables in W.SCAN_TABLES.values():
        for t in tables:
            assert os.path.isfile(os.path.join(W.TREE, f"{t}.parquet"))


def _corrupt(df: pd.DataFrame) -> pd.DataFrame:
    """Copy with one value changed: the first numeric cell of the last row."""
    bad = df.copy()
    col = next(c for c in bad.columns if pd.api.types.is_numeric_dtype(bad[c]))
    v = bad.iloc[-1][col]
    bad.loc[bad.index[-1], col] = (0 if pd.isna(v) else v) + 1
    return bad


@pytest.mark.parametrize("op", W.FIXPOINT_OPS)
def test_registry_check_rejects_one_corrupted_value(op):
    want = C.registry_oracles(W.TREE, [op])
    assert len(want[op]) > 0, f"{op} is empty on the testdata copy"
    assert C.check_registry(W.TREE, {op: want[op].copy()}, want) == []
    assert C.check_registry(W.TREE, {op: _corrupt(want[op])}, want)


def test_a_failing_operation_is_counted_and_the_pass_goes_on():
    failed = {}

    def boom():
        raise ValueError("bad plan")

    assert W._attempt(W.Recorder(), "op_a", failed, boom) is None
    assert W._attempt(W.Recorder(), "op_b", failed, lambda: 3) == 3
    assert failed == {"op_a": "ValueError: bad plan"}


def test_season_checks_skip_a_failed_operation(season):
    tree, stage1, e2 = season
    assert C.check_season(tree, stage1, {"e2_yap": e2}) == []


@pytest.fixture(scope="module")
def season(tmp_path_factory):
    """A generated season with a valid E2 output (the kernel run serially)
    and the stage-1 E2 sinks written as parquet."""
    tree = str(tmp_path_factory.mktemp("season"))
    gen_season.generate(11, tree)
    from nfl_big_data_bowl_2024_spark.kernels.yap import yap_play_kernel

    e2 = pd.concat([yap_play_kernel(f) for f in W.kernel_inputs(tree)], ignore_index=True)
    stage1 = str(tmp_path_factory.mktemp("stage1"))
    ok, err = W.stage1_paths(stage1, "e2_yap")
    for path, rows in ((ok, e2[e2.status == "ok"].drop(columns="status")), (err, e2[e2.status != "ok"])):
        os.makedirs(path)
        rows.to_parquet(os.path.join(path, "part-0.parquet"), index=False)
    return tree, stage1, e2


def test_e1_check_rejects_one_corrupted_value(season):
    tree, _, _ = season
    want = C.season_e1_oracle(tree)
    assert (want["status"] == "error_no_window").any() and want["max_vel"].notna().any()
    assert C.compare("e1", want.copy(), want) == []
    bad = want.copy()
    i = bad["max_vel"].first_valid_index()
    bad.loc[i, "max_vel"] += 0.01
    assert C.compare("e1", bad, want)


def test_e2_check_accepts_the_kernel_output(season):
    tree, stage1, e2 = season
    assert C.check_e2(tree, e2) == []
    assert C.read_stage1(stage1, "e2_yap").shape == e2.shape


def _first(e2, mask):
    return e2.index[mask.to_numpy()][0]


@pytest.mark.parametrize(
    "corruption",
    ["status", "null_yap", "yap_value", "limit", "dropped_row"],
)
def test_e2_check_rejects_one_corrupted_value(season, corruption):
    tree, _, e2 = season
    bad = e2.copy()
    ok = bad["status"] == "ok"
    if corruption == "status":
        bad.loc[_first(bad, ok), "status"] = "error_no_window"
    elif corruption == "null_yap":
        bad.loc[_first(bad, ok & bad["YAP"].isna()), "YAP"] = 1.0
    elif corruption == "yap_value":
        bad.loc[_first(bad, ok & bad["YAP"].notna()), "YAP"] += 100.0
    elif corruption == "limit":
        bad.loc[_first(bad, ok & bad["max_vel_opt"].notna()), "max_vel_opt"] = 99.0
    else:
        bad = bad.drop(index=_first(bad, ok))
    assert C.check_e2(tree, bad)


def test_e3_check_rejects_one_corrupted_value(season):
    _, stage1, _ = season
    want = C.season_e3_oracle(stage1)
    assert len(want) > 0, "no LB player reaches five plays"
    assert C.compare("e3", want.copy(), want) == []
    assert C.compare("e3", _corrupt(want), want)


def test_printed_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(W.OPS)


@pytest.mark.parametrize("workload", list(W.OPS))
def test_layer_metrics_cover_every_per_layer_name(workload):
    ops = W.OPS[workload]
    spans = [
        {"layer": layer, "op": op, "pass": 1, "start": 0.0, "end": 1.0}
        for op in ops for layer in ("plans.build", "plans.action", "sources.write")
    ]
    traced = {
        "spans": spans, "timed_passes": [1], "session_s": 5.0, "scan_s": 0.5,
        "counts": {op: {"jobs": 2, "stages": 3, "tasks": 4} for op in ops},
        "operators": {"executor_run_s": 1.0}, "warm_pass_s": 2.0, "env": {"task_slots": 2},
    }
    if workload == "season":
        traced["kernel"] = {"play_ms": 30.0, "lqr_solves": 100, "serial_s": 1.5}
    got = run.layer_metrics(workload, traced, {"warm_pass_s": 1.5})
    assert list(got) == list(run.per_layer_units())
    assert got["trace.overhead_s"] == pytest.approx(0.5)


def test_operator_metrics_from_a_small_event_log():
    import layers

    plan = {
        "nodeName": "FlatMapGroupsInPandas", "metrics": [],
        "children": [{"nodeName": "Sort", "metrics": [], "children": [{
            "nodeName": "Exchange",
            "metrics": [{"name": "records read", "accumulatorId": 7}],
            "children": [{"nodeName": "Exchange", "children": [],
                          "metrics": [{"name": "records read", "accumulatorId": 8}]}],
        }]}],
    }
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 3,
        "Task Info": {"Accumulables": [{"ID": 7, "Update": "40"}, {"ID": 8, "Update": "5"}]},
        "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000, "JVM GC Time": 100,
            "Memory Bytes Spilled": 10, "Disk Bytes Spilled": 20,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
        },
    }
    events = [
        {"Event": "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000, "Stage IDs": [3]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500, "Stage IDs": [4]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2500},
        task,
        dict(task, **{"Stage ID": 4}),
    ]
    got = layers.operator_metrics(events, [{"start": 0.5, "end": 3.0}], {1})
    assert got["grouped_map_rows"] == 40  # only the exchange feeding the grouped map
    assert got["executor_run_s"] == 1.5 and got["executor_cpu_s"] == 2.0
    assert got["gc_s"] == 0.1 and got["spill_bytes"] == 30 and got["shuffle_write_bytes"] == 300
    assert got["between_jobs_s"] == pytest.approx(2.5 - 1.5)  # jobs cover 1.0-2.5 s
