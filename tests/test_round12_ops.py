"""Round-12 batch: regression tests for the r11 advice fixes — the
Theil-Sen even-count lower-median rank (integer vs double division), the
CC-label memo's data fingerprint + dead-application eviction, and the
matryoshka scale-gated query modulus."""

from __future__ import annotations

import math
import os

SF = "/root/testdata/sf0.001"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def test_theil_sen_even_slope_count(spark, tmp_path):
    """r11 advice (high): `rn == (cnt+1)/2` with Spark's double division
    matches NO rank when cnt is even (x.5), silently dropping the group.
    Build a 4-day series (6 pairwise slopes — even) and assert the group
    survives with the exact lower-median slope."""
    import pandas as pd

    # one event type, 4 days, one event per day: values 1.00, 2.00, 4.00,
    # 8.00 dollars -> daily cents 100, 200, 400, 800 at days 0,1,2,3.
    # 6 pairwise slopes sorted: 100, 150, 200, 233.33, 300, 400
    # lower median = rank (6+1)//2 = 3 -> 200 cents/day.
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["1970-01-01", "1970-01-02", "1970-01-03", "1970-01-04"]
            ),
            "user_id": [1, 1, 1, 1],
            "event_type": ["even_case"] * 4,
            "value": [1.0, 2.0, 4.0, 8.0],
            "props": [""] * 4,
        }
    )
    d = str(tmp_path / "sf_even")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    rows = _registry()["stat_theil_sen_slope"].fn(spark, d).collect()
    assert len(rows) == 1, "even slope count must not drop the group"
    r = rows[0]
    assert r["event_type"] == "even_case"
    assert r["n_slopes"] == 6
    assert r["sen_slope_micro"] == 200 * 1_000_000


def test_theil_sen_odd_still_exact(spark, tmp_path):
    """Companion: 3 days (3 slopes, odd) picks rank 2 — the fix must not
    shift the odd-count rank."""
    import pandas as pd

    # days 0,1,2 cents 100,300,900 -> slopes 200, 400, 600; sorted
    # rank (3+1)//2 = 2 -> 400
    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(["1970-01-01", "1970-01-02", "1970-01-03"]),
            "user_id": [1, 1, 1],
            "event_type": ["odd_case"] * 3,
            "value": [1.0, 3.0, 9.0],
            "props": [""] * 3,
        }
    )
    d = str(tmp_path / "sf_odd")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    rows = _registry()["stat_theil_sen_slope"].fn(spark, d).collect()
    assert len(rows) == 1
    assert rows[0]["n_slopes"] == 3
    assert rows[0]["sen_slope_micro"] == 400 * 1_000_000


def test_novelty_hash_keying_collision_free(spark):
    """txt_ngram_novelty keys its one corpus-wide exchange on xxhash64 of
    the shingle while the oracle keys on the string itself — the two are
    EXACTLY equal iff xxhash64 is collision-free over the corpus's
    distinct shingles. Assert that deterministically at sf0.01 (the
    driver-gate point; the sf1 run is in PERF.md): distinct-string count
    == distinct-hash count."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.operators.dedup import shingle_array
    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_testdata_table,
    )

    d = read_testdata_table(spark, "/root/testdata/sf0.01", "documents")
    sh = d.select(F.explode(shingle_array("text", 8)).alias("s"))
    row = sh.agg(
        F.countDistinct("s").alias("n_str"),
        F.countDistinct(F.xxhash64("s")).alias("n_hash"),
    ).collect()[0]
    assert row["n_str"] == row["n_hash"] > 0


def test_novelty_single_heavy_scan(spark):
    """The r12 novelty restructure must run the corpus explode ONCE: the
    vocabulary relation is eagerly checkpointed, so the final plan reads
    the checkpoint RDD for both derivations and contains NO Generate
    (explode) node and exactly one parquet scan (the text-free n_docs
    column scan). Without the checkpoint, column pruning specializes the
    two partial aggs and the heavy scan runs twice."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    df = all_queries()["txt_ngram_novelty"].fn(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # formatted explain lists each node in the tree AND the details
    # section, so one physical node contributes two occurrences
    assert plan.count("Generate") == 0, "explode must live inside the checkpoint"
    assert plan.count("Scan parquet") == 2, "only the text-free n_docs scan"
    assert plan.count("Scan ExistingRDD") == 4, "both branches read the checkpoint"


def test_matryoshka_modulus_scale_gate():
    """The query-side modulus must keep |Q| <= 8000 at any corpus size
    (knn_join's driver-holdable bound is 10k) and stay 100 below 800k
    rows so existing attested results are unchanged."""
    for n, want in [
        (1000, 100),
        (800_000, 100),
        (800_001, 101),
        (5_000_000, 625),
        (100_000_000, 12_500),
    ]:
        m = max(100, -(-n // 8000))
        assert m == want
        assert n / m <= 8000 or m == 100
        # the oracle's greatest(100, ceil(n/8000.0)) agrees
        assert m == max(100, math.ceil(n / 8000.0))
