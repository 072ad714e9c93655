"""Partitioning-independence guard for hash-checked queries.

The round-3 doc_mix_weights flake was a float accumulation whose order
changed with the physical partitioning, flipping a half-up floor at the
rounding boundary. Every query that rounds or thresholds a derived
statistic must now produce BIT-IDENTICAL rows regardless of how the data
is split — this test re-runs the boundary-sensitive registry queries
under very different shuffle-partition settings (same session, runtime
conf) and diffs the collected rows."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.01"

# The queries whose outputs pass through a floor/threshold on a derived
# statistic — the class where accumulation-order sensitivity would show.
BOUNDARY_QUERIES = [
    "doc_mix_weights",
    "doc_quality_zscore_bucket",
    "evt_user_zscore_outliers",
    "txt_unigram_surprisal",
    "txt_bigram_lm_surprisal",
    "evt_rolling_24h",
    "doc_dsir_importance",
    "doc_dsir_select",
    "doc_select_token_budget",
    "txt_heavy_hitters",
    "txt_bpe_encode",
    "evt_hypertable_rollup",
    # rounded float pipelines with wide margins — pinned here so a margin
    # regression (e.g. a finer rounding step) surfaces as a test failure
    # instead of a driver-gate flake
    "emb_pca_power_iteration",
    "txt_vocab_coverage",
    "e3_position_params",
    # round-7 integer-exact pipelines: the scaled-int money protocol
    # (tpch_q1), integer argmin near decision boundaries (ml_eval),
    # grid medians (MAD), and integer ratio rounding (KMV estimate)
    "tpch_q1_pricing_summary",
    "ml_eval_confusion",
    "stat_mad_outliers",
    "agg_kmv_distinct",
    "agg_fixed_grid_quantiles",
    # round-8 boundary-sensitive pipelines: the BM25 per-term fixed-point
    # (the per-doc sum is an exact integer BY DESIGN — this pins it), the
    # PQ integer-Lloyd codebook train (floor(sum/count) re-centering),
    # the stump's decimal floor-division gains, Spearman's doubled-rank
    # moments, and the distributed global rank under the
    # sorted-neighborhood join
    "txt_bm25_topk",
    "sim_pq_adc_topk",
    "ml_stump_split_finding",
    "stat_spearman_rank_corr",
    "dedup_sorted_neighborhood",
]


@pytest.mark.parametrize("name", BOUNDARY_QUERIES)
def test_rows_identical_across_partitionings(spark, name):
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    q = all_queries()[name]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(tuple(r) for r in q.fn(spark, SF).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        b = sorted(tuple(r) for r in q.fn(spark, SF).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a, name
    assert a == b, f"{name}: rows differ between 3- and 64-partition runs"


def test_log_micro_terms_survive_libm_ulp_differences():
    """ADVICE r4: doc_dsir_importance / doc_dsir_select and
    txt_unigram_surprisal floor(log(x)*1e6+0.5) — ln/log2 are NOT
    exactly-rounded and can differ by ~1 ulp between JVM Math.log and
    DuckDB's libm, so a micro term at a .5 boundary could flip the BIGINT
    unit cross-engine.  Replay every log argument on the gate corpus and
    assert a +/-2-ulp perturbation of the log's result never flips the
    floor.  Both engines compute the log ARGUMENT bit-identically (exact
    integer inputs through one fixed IEEE op order), so perturbing the
    log output is exactly the cross-engine failure model; x == 1 (ln = 0)
    and power-of-two log2 arguments are exact in every libm and skipped.
    """
    import math

    import duckdb
    import numpy as np

    con = duckdb.connect()
    doc = f"'{SF}/documents.parquet'"

    def floors_stable(val: float, scale: float) -> bool:
        outs = {
            math.floor(scale * v + 0.5)
            for v in (
                val,
                float(np.nextafter(np.nextafter(val, -np.inf), -np.inf)),
                float(np.nextafter(np.nextafter(val, np.inf), np.inf)),
            )
        }
        return len(outs) == 1

    # --- DSIR per-term log-likelihood ratios ---
    lm = con.sql(
        f"""
        WITH toks AS (
            SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
            FROM {doc}
        )
        SELECT CAST(count(*) AS BIGINT) AS c_r,
               CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM toks GROUP BY term
        """
    ).fetchall()
    n_r = sum(c_r for c_r, _ in lm)
    n_t = sum(c_t for _, c_t in lm)
    v = len(lm)
    checked = 0
    for c_r, c_t in lm:
        x = ((c_t + 1.0) * (n_r + v)) / ((c_r + 1.0) * (n_t + v))
        if x == 1.0:
            continue  # ln(1) = 0 exactly in every libm
        assert floors_stable(math.log(x), 1e6), (c_r, c_t, x)
        checked += 1
    # the synthetic corpus has a deliberately tiny vocabulary (~31 terms);
    # what matters is that every inexact-log term on the gate corpus holds
    assert checked >= 25

    # --- unigram surprisal -log2(n/tot) ---
    counts = con.sql(
        f"""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM {doc}
        )
        SELECT CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY term
        """
    ).fetchall()
    tot = sum(n for (n,) in counts)
    for (n,) in counts:
        p = n * 1.0 / tot
        m = math.frexp(p)
        if m[0] == 0.5:
            continue  # exact power of two: log2 exact in every libm
        assert floors_stable(-math.log2(p), 1e6), (n, tot)


def test_money_protocol_exact_at_half_cent_boundary(spark):
    """Reproduce the tpch_q9 sf1 failure class and prove the scaled-integer
    money protocol immune to it: a group whose 4dp sum lands EXACTLY on a
    half-cent boundary at a magnitude where the scale-10 integer exceeds
    2^53 (DuckDB's decimal->double is int128->double THEN /1e10 — two
    roundings — while Spark's BigDecimal.doubleValue rounds once, so the
    old DECIMAL(24,10)-cast pattern could disagree by one cent here)."""
    import duckdb
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.plans.relational import _money2, _scaled

    # 2,000,000 x 114,893.16193 would be the shape; emulate with few rows:
    # values are exact 4dp, sum = 229,786,323.8650 exactly (trailing "50").
    vals = [114893161.9325, 114893161.9325]  # 4dp each, sum ends in .8650
    sdf = spark.createDataFrame([(v,) for v in vals], "v double")
    got = (
        sdf.agg(_money2(F.sum(_scaled(F.col("v"), 4)), 4).alias("m"))
        .collect()[0]["m"]
    )
    con = duckdb.connect()
    want = con.execute(
        "SELECT CAST((sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)) + 50) // 100"
        "       AS BIGINT) / 100.0 FROM (VALUES (114893161.9325),"
        "       (114893161.9325)) t(v)"
    ).fetchone()[0]
    # half-up: ...23.865 -> ...23.87 (exactly, in both engines)
    assert got == want == 229786323.87
