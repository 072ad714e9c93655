"""Salted aggregation equals direct aggregation on skewed data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nfl_big_data_bowl_2024_spark.operators.skew import salted_agg


def test_salted_agg_matches_direct(spark):
    # 10k rows, 95% in one hot key
    df = spark.range(10_000).select(
        F.when(F.col("id") % 20 == 0, F.col("id") % 3).otherwise(F.lit(99)).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    direct = {
        r["k"]: (r["n"], r["total"], r["mx"], r["mn"])
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"),
            F.max("v").alias("mx"), F.min("v").alias("mn"),
        ).collect()
    }
    salted = {
        r["k"]: (r["n"], r["total"], r["mx"], r["mn"])
        for r in salted_agg(
            df, ["k"],
            {"n": ("count", "*"), "total": ("sum", "v"),
             "mx": ("max", "v"), "mn": ("min", "v")},
            n_salts=8,
        ).collect()
    }
    assert direct == salted


def test_salted_agg_rejects_non_algebraic(spark):
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="not an algebraic aggregate"):
        salted_agg(df, ["k"], {"m": ("median", "v")})


def test_salted_join_matches_plain_join_on_skewed_keys(spark):
    """90% of fact rows share one key; salted join must return exactly the
    plain join's rows (inner and left), with the hot key spread across
    salts."""
    from nfl_big_data_bowl_2024_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1 if i % 10 else i, i, float(i)) for i in range(2000)],
        "k long, row_id long, v double",
    )
    dim = spark.createDataFrame(
        [(i, f"name{i}") for i in range(0, 2000, 7)], "k long, name string"
    )
    for how in ("inner", "left"):
        got = {
            tuple(r)
            for r in salted_join(fact, dim, ["k"], n_salts=8, how=how).collect()
        }
        want = {tuple(r) for r in fact.join(dim, ["k"], how).collect()}
        assert got == want, how


def test_aqe_splits_skewed_join_at_runtime(spark):
    """session.py claims AQE's skew-join splitting is the runtime fallback
    for joins whose skew is not known up front. Prove it on the executed
    plan: a sort-merge join where one key holds ~99% of the rows must come
    back with the skew marker once AQE finalizes the plan, and the split
    must not change the result."""
    confs = {
        # force a shuffle join (the dim would broadcast otherwise)
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # shrink the detection thresholds to testdata scale (defaults are
        # 256 MB / 5x median — correct for the 100 TB target, far above a
        # 60k-row fixture)
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # incompressible payload so shuffle-write bytes track row counts
        # (a constant pad would LZ4 away and dodge the size threshold)
        pad = F.sha2(F.col("id").cast("string"), 256)
        left = spark.range(60_000).select(
            F.when(F.col("id") % 100 == 0, (F.col("id") / 100).cast("long") % 50)
            .otherwise(F.lit(999))
            .alias("k"),
            pad.alias("pad_l"),
        )
        right = spark.range(1_000).select(F.col("id").alias("k"), pad.alias("pad_r"))
        joined = left.join(right, "k")
        rows = joined.collect()
        # every left key (0..49 and 999) exists exactly once on the right
        assert len(rows) == 60_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_quantiles_error_bound(spark):
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    rows = all_queries()["approx_quantiles"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        # Bound computed inside the plan vs the exact interpolated median;
        # the oracle emits literal TRUE so a bound miss is also a hash-fail.
        assert r["approx_within_halfpct"] is True, f"{r['l_returnflag']}: GK sketch outside 0.5%"
        assert r["exact_p50"] > 0
