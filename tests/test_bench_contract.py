"""Bench output-contract guards (no Spark session needed).

The driver captures only the LAST 2000 characters of bench.py stdout and
parses the JSON document from that window (BENCH_r04.json lost the head of
the line — headline_queries_total plus ~23 timings — when round 4 printed
every raw sample).  Pin the worst-case printed line under the window so
adding a headline query can never silently truncate the artifact again.
"""

from __future__ import annotations

import json
from pathlib import Path

BENCH_SRC = Path(__file__).resolve().parent.parent / "bench.py"


def _bench_module():
    import sys

    sys.path.insert(0, str(BENCH_SRC.parent))
    import bench

    return bench


def _headline_names() -> list[str]:
    return list(_bench_module().HEADLINE)


def test_worst_case_bench_line_fits_driver_window():
    names = _headline_names() + ["scd2_upsert"]
    assert len(names) >= 60
    assert len(set(names)) == len(names), "duplicate headline entries"
    # worst case the formatter can emit per value: "9.99" under 10 s,
    # whole seconds ("9999") above — 4 chars either way
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.99,
            "unit": "sec",
            "core_total": 99999.99,
            "core_prev_total": 99999.99,
            "calibration_sec": 9999.999,
            "calibration_multi": {
                "cpu": 9999.999,
                "shuffle": 9999.999,
                "pyudf": 9999.999,
                "membw": 9999.999,
            },
            "core_total_normalized": 99999.99,
            "queries": {n: 9999 for n in names},
            "sf": 0.1,
        },
        separators=(",", ":"),
    )
    assert len(line) <= 2000, (
        f"worst-case bench line is {len(line)} chars; the driver window is "
        "2000 — drop or rename a headline entry"
    )


def test_core_is_pinned_and_comparable():
    """The regression core must stay a subset of HEADLINE with a prev
    entry per pin (None only for newly pinned queries), so the
    core_total/core_prev_total ratio stays meaningful round over round."""
    bench = _bench_module()
    assert len(bench.CORE) >= 25
    assert set(bench.CORE) <= set(bench.HEADLINE)
    assert set(bench.CORE_PREV) == set(bench.CORE)
    comparable = [n for n in bench.CORE if bench.CORE_PREV[n] is not None]
    assert len(comparable) >= 0.8 * len(bench.CORE)


def test_calibration_probe_is_frozen():
    """The box-speed probe only works if NO round edits it: pin the exact
    source of calibration_probe's workload so a diff here is loud. If you
    hit this assert, you changed the probe — revert; the probe's whole
    value is that its timing shifts measure the box, never the code."""
    import hashlib
    import inspect

    bench = _bench_module()
    src = inspect.getsource(bench.calibration_probe)
    digest = hashlib.sha256(src.encode()).hexdigest()[:16]
    assert digest == "59899ec0317f7f92", (
        f"calibration_probe source changed (sha {digest}) — the probe is "
        "frozen by contract; revert the edit"
    )


def test_bench_registry_names_resolve():
    """Every headline name must exist in the query registry (a typo would
    crash the driver's bench run, losing the round's perf artifact)."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    registry = all_queries()
    missing = [n for n in _headline_names() if n not in registry]
    assert not missing, f"headline entries not in registry: {missing}"


def test_newest_bench_record_picks_highest_round(tmp_path):
    """The previous-round lookup orders BENCH_r{N}.json by numeric N (r10
    after r9, although "r9" sorts after "r10" as a string), ignores
    non-round files, and degrades to {} with no artifact or a garbled one."""
    bench = _bench_module()
    assert bench._newest_bench_record(str(tmp_path)) == {}
    for n in (9, 10):
        (tmp_path / f"BENCH_r{n}.json").write_text(
            json.dumps({"parsed": {"value": n}})
        )
    (tmp_path / "BENCH_r11_c8.json").write_text(json.dumps({"parsed": {"value": 0}}))
    assert bench._newest_bench_record(str(tmp_path)) == {"value": 10}
    (tmp_path / "BENCH_r12.json").write_text('{"parsed": {"val')
    assert bench._newest_bench_record(str(tmp_path)) == {}
    (tmp_path / "BENCH_r12.json").write_text("[1, 2]")
    assert bench._newest_bench_record(str(tmp_path)) == {}


def test_shape_class_covers_all_benched_queries():
    """Every benched query (HEADLINE + scd2_upsert) must carry a drift-class
    tag in bench.SHAPE_CLASS with a value matching a real probe shape —
    an untagged query silently falls back to the cpu probe, which r12's
    forensics proved under-corrects membw-shaped drift."""
    bench = _bench_module()
    benched = set(bench.HEADLINE) | {"scd2_upsert"}
    untagged = benched - set(bench.SHAPE_CLASS)
    assert not untagged, f"benched queries without a SHAPE_CLASS tag: {untagged}"
    bad = {
        n: c
        for n, c in bench.SHAPE_CLASS.items()
        if c not in {"cpu", "shuffle", "pyudf", "membw"}
    }
    assert not bad, f"SHAPE_CLASS values must name a probe shape: {bad}"
    stale = set(bench.SHAPE_CLASS) - benched
    assert not stale, f"SHAPE_CLASS tags for queries no longer benched: {stale}"
