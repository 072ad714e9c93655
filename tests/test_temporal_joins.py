"""As-of join and range join unit tests (operators/temporal.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nfl_big_data_bowl_2024_spark.operators.temporal import asof_join, range_join_count


def test_asof_backward_semantics(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 5, "c"), (2, 50, "d")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 60, 600.0)],
        "k long, ts long, v double",
    )
    out = {
        r["tag"]: r["asof_v"]
        for r in asof_join(left, right, by="k", value_cols=["v"]).collect()
    }
    assert out["a"] == 100.0   # equality matches (ts 10 >= 10)
    assert out["b"] == 150.0   # latest preceding, not first
    assert out["c"] is None    # nothing precedes ts 5
    assert out["d"] is None    # right row at 60 is in the future


def test_asof_plan_has_no_nested_loop(spark):
    left = spark.range(100).select(F.lit(1).alias("k"), F.col("id").alias("ts"))
    right = spark.range(100).select(
        F.lit(1).alias("k"), F.col("id").alias("ts"), F.col("id").cast("double").alias("v")
    )
    plan = asof_join(left, right, by="k")._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "Window" in plan  # the carry-forward shape


def test_range_join_count_matches_naive(spark):
    probe = spark.createDataFrame(
        [(1, 1000, 10), (1, 5000, 11), (2, 1000, 12)],
        "k long, us long, pid long",
    ).select("k", F.timestamp_micros(F.col("us") * 1_000_000).alias("ts"), "pid")
    build = spark.createDataFrame(
        [(1, 900), (1, 1100), (1, 3000), (1, 7000), (2, 999)], "k long, us long"
    ).select("k", F.timestamp_micros(F.col("us") * 1_000_000).alias("ts"))
    out = {
        r["pid"]: r["n_in_range"]
        for r in range_join_count(probe, build, "k", "ts", "ts", radius_sec=200).collect()
    }
    # pid 10 (t=1000): build at 900, 1100 within 200 -> 2; 3000/7000 out
    # pid 11 (t=5000): none within 200 -> 0
    # pid 12 (t=1000, k=2): build 999 within -> 1
    assert out == {10: 2, 11: 0, 12: 1}


def test_range_join_plan_is_equi_hash(spark):
    probe = spark.range(100).select(
        F.lit(1).alias("k"), F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        F.col("id").alias("pid"),
    )
    build = spark.range(100).select(
        F.lit(1).alias("k"), F.timestamp_micros(F.col("id") * 500_000).alias("ts")
    )
    plan = (
        range_join_count(probe, build, "k", "ts", "ts", 60)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan  # bucketing made it an equi-join


def test_bitemporal_probe_semantics(spark):
    """The three bitemporal probes must realize the correction protocol:
    before the correction's tx instant EVERY doc shows original values;
    after it, valid-time-late probes show corrections while
    valid-time-early probes reach the restated original history."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_testdata_table,
    )

    SF = "/root/testdata/sf0.01"
    d = read_testdata_table(spark, SF, "documents")
    n_docs = d.count()
    totals = d.agg(
        F.sum("n_chars").alias("t"),
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("even"),
    ).first()
    rows = {
        (r["tx_at"], r["valid_at"]): r
        for r in all_queries()["scd2_bitemporal_asof"].fn(spark, SF).collect()
    }
    assert len(rows) == 3
    early_tx = min(k[0] for k in rows)
    late_tx = max(k[0] for k in rows)
    early_v = min(k[1] for k in rows)
    late_v = max(k[1] for k in rows)
    # (tx early, V late): correction unknown -> all docs, original total
    r1 = rows[(early_tx, late_v)]
    assert r1["n_docs"] == n_docs and r1["total_chars"] == totals["t"]
    # (tx late, V late): corrected -> even docs +1 char each
    r2 = rows[(late_tx, late_v)]
    assert r2["n_docs"] == n_docs
    assert r2["total_chars"] == totals["t"] + totals["even"]
    # (tx late, V early): restated history -> original values again
    r3 = rows[(late_tx, early_v)]
    assert r3["n_docs"] == n_docs and r3["total_chars"] == totals["t"]


def test_last_touch_attribution_hand_case(spark):
    """Hand-checkable attribution: lookback, organic fallback, and the
    event_id tie-break at identical timestamps."""
    import datetime as dt

    from nfl_big_data_bowl_2024_spark.plans import all_queries
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1)

    def ts(days, secs=0):
        return t0 + dt.timedelta(days=days, seconds=secs)

    rows = [
        # user 1: view then purchase 1 day later -> 'view'
        (1, 100, "view", ts(0), 0.0),
        (2, 100, "purchase", ts(1), 10.0),
        # user 2: click 10 days before purchase -> outside 7d -> organic
        (3, 200, "click", ts(0), 0.0),
        (4, 200, "purchase", ts(10), 20.0),
        # user 3: purchase with no prior event -> organic
        (5, 300, "purchase", ts(2), 40.0),
        # user 4: click and signup at the SAME instant then purchase ->
        # tie breaks on event_id: the LAST by (ts, event_id) wins
        (6, 400, "click", ts(3), 0.0),
        (7, 400, "signup", ts(3), 0.0),
        (8, 400, "purchase", ts(3, 60), 80.0),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double",
        ).write.parquet(os.path.join(td, "events.parquet"))
        got = {
            r["channel"]: (r["n_purchases"], r["revenue_cents"])
            for r in all_queries()["evt_last_touch_attribution"]
            .fn(spark, td)
            .collect()
        }
    assert got == {
        "view": (1, 1000),
        "organic": (2, 6000),
        "signup": (1, 8000),
    }


def test_spatial_proximity_matches_bruteforce(spark):
    """The grid-bucketed spatial join must equal the quadratic
    brute-force pair set exactly (cell size == radius -> the forward
    half-neighborhood {home, E, NE, N, NW} covers every offset pair
    once; same-cell id order + cross-cell least/greatest -> no
    duplicates)."""
    import itertools
    import math

    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_testdata_table,
    )

    SF = "/root/testdata/sf0.01"
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in all_queries()["spatial_proximity_pairs"].fn(spark, SF).collect()
    }
    pts = {
        r["vec_id"]: (float(r["embedding"][0]) * 100, float(r["embedding"][1]) * 100)
        for r in read_testdata_table(spark, SF, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(pts), 2):
        d = math.dist(pts[a], pts[b])
        if d <= 5.0:
            want[(a, b)] = math.floor(d * 10000 + 0.5) / 10000
    assert got == want


def test_asof_nearest_matches_python_model(spark):
    """asof_join_nearest == a per-key python model: closest right row by
    |dt| within tolerance, ties to the predecessor, exact-ts match = dt 0
    backward."""
    import datetime as dt

    from nfl_big_data_bowl_2024_spark.operators.temporal import (
        asof_join_nearest,
    )

    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)
    left_rows = [
        # (id, key, ts_sec) — includes exact match, equidistant tie,
        # out-of-tolerance, and no-right-row keys
        (1, "a", 100), (2, "a", 150), (3, "a", 205),
        (4, "b", 50), (5, "b", 1000), (6, "c", 10),
    ]
    right_rows = [
        ("a", 100, 1.0), ("a", 200, 2.0), ("a", 210, 3.0),
        ("b", 55, 4.0),
    ]
    left = spark.createDataFrame(
        [(i, k, t(s)) for i, k, s in left_rows],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, t(s), v) for k, s, v in right_rows],
        "user_id string, ts timestamp, pvalue double",
    )
    TOL = 60 * 1_000_000
    got = {
        r["event_id"]: (r["asof_pvalue"], r["asof_dt_us"])
        for r in asof_join_nearest(
            left, right, by="user_id", value_cols=["pvalue"],
            tolerance_us=TOL,
        ).collect()
    }

    def model(key, s):
        cands = [(abs(rs - s), rs <= s, rs, v)
                 for k, rs, v in right_rows if k == key
                 if abs(rs - s) * 1_000_000 <= TOL]
        if not cands:
            return (None, None)
        # min |dt|, tie -> backward (rs <= s sorts True first via not-)
        d, is_back, rs, v = min(cands, key=lambda c: (c[0], not c[1]))
        return (v, (rs - s) * 1_000_000)

    expect = {i: model(k, s) for i, k, s in left_rows}
    assert got == expect
    # the equidistant case (205 between 200 and 210) went backward
    assert got[3] == (2.0, -5_000_000)


def test_position_attribution_hand_case(spark):
    """Hand-checkable U-shaped credit: 40/40/20-split, two-touch 50/50,
    single-touch 100%, organic fallback, and the truncating integer
    division convention."""
    import datetime as dt
    import os
    import tempfile

    from nfl_big_data_bowl_2024_spark.plans import all_queries

    t0 = dt.datetime(2024, 1, 1)

    def ts(days, secs=0):
        return t0 + dt.timedelta(days=days, seconds=secs)

    rows = [
        # user 1: view, click, click, signup -> purchase 100.00
        #   view first 40%, signup last 40%, two middle clicks 10% each
        (1, 100, "view", ts(0), 0.0),
        (2, 100, "click", ts(0, 60), 0.0),
        (3, 100, "click", ts(0, 120), 0.0),
        (4, 100, "signup", ts(0, 180), 0.0),
        (5, 100, "purchase", ts(1), 100.0),
        # user 2: single click -> purchase 20.00: click gets 100%
        (6, 200, "click", ts(0), 0.0),
        (7, 200, "purchase", ts(1), 20.0),
        # user 3: view + click -> purchase 10.01: 50/50 with truncation
        #   (1001 cents * 5000 div 10000 = 500 each; 1 cent evaporates)
        (8, 300, "view", ts(0), 0.0),
        (9, 300, "click", ts(0, 30), 0.0),
        (10, 300, "purchase", ts(1), 10.01),
        # user 4: touch outside the 7-day window -> organic
        (11, 400, "click", ts(0), 0.0),
        (12, 400, "purchase", ts(10), 40.0),
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string, "
            "ts timestamp, value double",
        ).write.parquet(os.path.join(td, "events.parquet"))
        got = {
            r["channel"]: (r["n_touches"], r["credited_cents"])
            for r in all_queries()["evt_position_attribution"]
            .fn(spark, td)
            .collect()
        }
    assert got == {
        # view: 40% of 10000 + 50% of 1001 = 4000 + 500
        "view": (2, 4500),
        # clicks: two middles 10% each of 10000 + 100% of 2000 + 50% of 1001
        "click": (4, 1000 + 1000 + 2000 + 500),
        # signup: last-touch 40% of 10000
        "signup": (1, 4000),
        "organic": (1, 4000),
    }


def test_asof_null_right_column_is_row_atomic(spark):
    """Advice r9: a NULL inside ONE right value column must NOT be filled
    from a different (further) right row — all asof_<col> values come
    from the single matched row (struct carry), matching true ASOF /
    DuckDB semantics."""
    from nfl_big_data_bowl_2024_spark.operators.temporal import (
        asof_join,
        asof_join_nearest,
    )

    left = spark.createDataFrame(
        [(1, 100), (1, 200)], "k int, ts int"
    ).selectExpr("k", "timestamp_micros(ts * 1000000) AS ts")
    # right row at t=150 has v1 NULL; the earlier row at t=50 has v1=7.
    # A per-column carry would emit (asof_v1=7, asof_v2=20) for the left
    # row at t=200 — mixing two right rows. Row-atomic: (NULL, 20).
    right = spark.createDataFrame(
        [(1, 50, 7, 10), (1, 150, None, 20)],
        "k int, ts int, v1 int, v2 int",
    ).selectExpr("k", "timestamp_micros(ts * 1000000) AS ts", "v1", "v2")

    back = {
        r["ts"]: (r["asof_v1"], r["asof_v2"])
        for r in asof_join(left, right, by="k").collect()
    }
    import datetime

    t100 = datetime.datetime.fromtimestamp(100, datetime.timezone.utc)
    vals = {t.timestamp(): v for t, v in ((k.replace(tzinfo=datetime.timezone.utc), v) for k, v in back.items())}
    assert vals[100.0] == (7, 10)      # matched row t=50
    assert vals[200.0] == (None, 20)   # matched row t=150, v1 stays NULL

    fwd = {
        r["ts_us"]: (r["asof_v1"], r["asof_v2"])
        for r in asof_join_nearest(left, right, by="k").collect()
    }
    # t=100: |dt|=50 both ways — ties go BACKWARD (t=50), row-atomic (7,10)
    assert fwd[100_000_000] == (7, 10)
    # t=200: nearest is t=150; v1 stays NULL from that same row
    assert fwd[200_000_000] == (None, 20)


def test_adamic_adar_candidates_share_parity_never_edges(spark):
    """Pins the round-10 bipartite-parity proof that let the Spark plan
    drop the existing-edge anti-join: every predicted pair joins two
    same-parity nodes (both customers or both suppliers), and none of
    them is an existing trading edge."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_testdata_table,
    )

    sf = "/root/testdata/sf0.001"
    out = all_queries()["graph_adamic_adar_links"].fn(spark, sf)
    rows = out.collect()
    assert rows, "expected 25 predicted links"
    for r in rows:
        assert r["node_a"] % 2 == r["node_b"] % 2

    o = read_testdata_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_testdata_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    pairs = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = pairs.unionAll(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    hits = (
        out.join(
            edges,
            (out["node_a"] == edges["src"]) & (out["node_b"] == edges["dst"]),
            "inner",
        ).count()
    )
    assert hits == 0
