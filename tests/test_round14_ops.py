"""Round-14 optimization tests: size-gated plan shapes and internals
changed during optimization round 2 (VERDICT r13 items)."""

from __future__ import annotations

import os

SF = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def _fmt_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_table_tree_bytes_matches_fs():
    from nfl_big_data_bowl_2024_spark.plans.pipeline_graph import (
        _table_tree_bytes,
    )

    root = os.path.join(SF01, "lineitem.parquet")
    want = 0
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fname in files:
                want += os.stat(os.path.join(dirpath, fname)).st_size
    else:
        want = os.stat(root).st_size
    assert _table_tree_bytes(SF01, "lineitem") == want > 0
    assert _table_tree_bytes(SF01, "no_such_table") == 0


def test_copurchase_small_scale_picks_broadcast_self_join(spark):
    # Below the 32 MB gate the r14 shape is the broadcast self-join (the
    # pre-r13 plan): lineitem auto-broadcasts, so no collect_set pass.
    plan = _fmt_plan(
        _registry()["graph_copurchase_projection"].fn(spark, SF01)
    )
    assert "BroadcastHashJoin" in plan
    assert "collect_set" not in plan


def test_copurchase_large_scale_picks_one_scan_expansion(spark, monkeypatch):
    # Above the gate the r13 collect_set expansion must come back: one
    # lineitem scan, no join. Forced by faking the size signal — the plan
    # shape is what is under test, not the fs measurement.
    import nfl_big_data_bowl_2024_spark.plans.pipeline_graph as pg

    monkeypatch.setattr(
        pg, "_table_tree_bytes", lambda sf_dir, name: 1 << 40
    )
    plan = _fmt_plan(
        _registry()["graph_copurchase_projection"].fn(spark, SF01)
    )
    assert "collect_set" in plan
    assert "Join" not in plan
    assert plan.count("Scan parquet") <= 2  # tree + details sections


def test_fixture_local_df_exact_and_jvm_local(spark):
    # r14: fixture relations are Arrow-built LocalTableScans (pure JVM at
    # evaluation time) instead of pickled-RDD ExistingRDD scans. The values
    # must round-trip BIT-EXACTLY vs the tuple path (the DuckDB oracles
    # interpolate the same tuples as VALUES CTEs), and the plan must stay
    # Python-free.
    import io
    from contextlib import redirect_stdout

    from nfl_big_data_bowl_2024_spark import fixtures

    cases = [
        (fixtures.tracking_rows(), fixtures.TRACKING_FIXTURE_SCHEMA),
        (fixtures.PLAYERS, fixtures.PLAYERS_FIXTURE_SCHEMA),
        (fixtures.PLAYS, fixtures.PLAYS_FIXTURE_SCHEMA),
        (fixtures.TACKLES, fixtures.TACKLES_FIXTURE_SCHEMA),
        (fixtures.stage2_rows(), fixtures.STAGE2_SCHEMA),
    ]
    builders = [
        fixtures.tracking_df, fixtures.players_df, fixtures.plays_df,
        fixtures.tackles_df, fixtures.stage2_df,
    ]
    for (rows, schema), build in zip(cases, builders):
        old = spark.createDataFrame(rows, schema)
        new = build(spark)
        assert new.schema == old.schema
        a = [tuple(r) for r in old.collect()]
        b = [tuple(r) for r in new.collect()]
        assert len(a) == len(b)
        assert all(repr(x) == repr(y) for x, y in zip(a, b))
        buf = io.StringIO()
        with redirect_stdout(buf):
            new.explain()
        assert "LocalTableScan" in buf.getvalue()
        assert "ExistingRDD" not in buf.getvalue()


def test_kcore_keyed_fallback_matches_and_ends_src_partitioned(spark, monkeypatch):
    # ADVICE r13 (medium): the keyed fallback used to END partitioned by
    # dst, so post-fallback degree aggregates silently exchanged at the
    # conf-fixed width. Force the fallback (gate -> 0), check (a) results
    # identical to the broadcast path, (b) the terminal degree aggregate
    # reads the persisted blocks with NO shuffle exchange above them. Both
    # runs take the distributed arm: a graph this small would otherwise
    # peel on the driver and plan as a LocalTableScan.
    import io
    from contextlib import redirect_stdout

    import nfl_big_data_bowl_2024_spark.operators.graph as g

    monkeypatch.setattr(g, "_DRIVER_LOCAL_EDGE_ROWS", -1)

    edges = spark.createDataFrame(
        [(a, b) for a in range(1, 9) for b in range(1, 9) if a != b and (a + b) % 3]
        + [(100, 1), (101, 2)],
        "src long, dst long",
    )
    want = sorted(
        tuple(r) for r in g.kcore_peel(edges, k=3, rounds=3).collect()
    )
    monkeypatch.setattr(g, "_BROADCAST_NODE_SET_ROWS", 0)
    out = g.kcore_peel(edges, k=3, rounds=3)
    got = sorted(tuple(r) for r in out.collect())
    assert got == want and len(got) > 0
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # terminal plan: HashAggregate over InMemoryTableScan, no Exchange
    # between them (the persisted generation ends hash-partitioned by src)
    assert "InMemoryTableScan" in plan
    head = plan.split("InMemoryTableScan")[0]
    assert "Exchange hashpartitioning" not in head


def test_copurchase_gate_arms_agree(spark, monkeypatch):
    # Both arms of the gate must return identical rows (the oracle pins
    # the small arm; this pins arm-equality directly).
    import nfl_big_data_bowl_2024_spark.plans.pipeline_graph as pg

    reg = _registry()
    small = [
        tuple(r)
        for r in reg["graph_copurchase_projection"].fn(spark, SF01).collect()
    ]
    monkeypatch.setattr(
        pg, "_table_tree_bytes", lambda sf_dir, name: 1 << 40
    )
    large = [
        tuple(r)
        for r in reg["graph_copurchase_projection"].fn(spark, SF01).collect()
    ]
    assert small == large


def test_checkpoint_counted_and_observed(spark):
    """r14 job folding: the observed-metric checkpoint helpers must return
    the exact counts/aggregates a separate job would, including the
    zero-row edge case, and the checkpointed relation must be the same
    rows."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.operators.scalars import (
        checkpoint_counted,
        checkpoint_observed,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("x")
    )
    cp, n = checkpoint_counted(df)
    assert n == 1000 and cp.count() == 1000
    cp2, n2 = checkpoint_counted(df, cond=F.col("x") < 3)
    assert n2 == df.filter(F.col("x") < 3).count()
    assert cp2.count() == 1000  # cond counts, never filters
    _, n0 = checkpoint_counted(df.filter(F.col("id") < 0))
    assert n0 == 0
    _, n0c = checkpoint_counted(
        df.filter(F.col("id") < 0), cond=F.col("x") < 3
    )
    assert n0c == 0
    cp3, m = checkpoint_observed(
        df,
        F.sum("x").alias("sx"),
        F.max("id").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    want = df.agg(
        F.sum("x").alias("sx"), F.max("id").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert (m["sx"], m["mx"], m["n"]) == (want["sx"], want["mx"], want["n"])
    assert cp3.count() == 1000


def test_edges_on_disk_known_rows(spark):
    """known_rows skips the counting job but must report the exact count
    and keep the storage-level gating; the lazily-persisted relation
    still materializes to the same rows."""
    from pyspark.storagelevel import StorageLevel

    from nfl_big_data_bowl_2024_spark.operators.graph import _edges_on_disk

    base = spark.range(500).selectExpr("id AS src", "id + 1 AS dst")
    e, n = _edges_on_disk(base, expected_rows=500, known_rows=500)
    try:
        assert n == 500
        assert e.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        assert e.count() == 500  # first consumer materializes lazily
    finally:
        e.unpersist()
    e2, n2 = _edges_on_disk(base, known_rows=500)  # unknown size: DISK_ONLY
    try:
        assert n2 == 500 and e2.storageLevel == StorageLevel.DISK_ONLY
    finally:
        e2.unpersist()


def test_cc_driver_local_matches_distributed(spark, monkeypatch):
    """r14 size-gated driver-local union-find CC: both paths must return
    identical (node, component) rows — exercised on random graphs so the
    distributed path keeps coverage now that small inputs take the local
    path by default."""
    import random

    from pyspark.sql import functions as F

    import nfl_big_data_bowl_2024_spark.operators.graph as G

    rng = random.Random(1414)
    for trial in range(3):
        n = rng.randint(5, 60)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(1, 3 * n))
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        local = sorted(
            tuple(r) for r in G.connected_components(df).collect()
        )
        monkeypatch.setattr(G, "_DRIVER_LOCAL_EDGE_ROWS", -1)
        dist = sorted(
            tuple(r) for r in G.connected_components(df).collect()
        )
        monkeypatch.undo()
        assert local == dist and len(local) > 0, f"trial {trial}"
    # node dtype preserved by the local path (int edges stay int)
    small = spark.createDataFrame([(1, 2)], "src int, dst int")
    out = G.connected_components(small)
    assert dict(out.dtypes) == {"node": "int", "component": "int"}
