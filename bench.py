"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Each query is forced end-to-end with the no-op sink (full compute, no
collect-to-driver overhead) after one warm-up of the Spark session. Prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# CORE: the PINNED benchmark set — never rotates (round-6 verdict item: only
# 35 of 68 r6 headline queries overlapped r5, making round-over-round
# regression detection lossy). One entry per family: the E1/E2/flagship
# pipelines, a TPC-H spread, and each pipeline-operator family's
# representative. CORE_PREV carries the last driver-recorded value per core
# query, auto-derived from the newest BENCH_r{N}.json next to this file
# (round-7 verdict item 2: a hardcoded dict silently compared against an
# ever-older base), so every BENCH_rN reads against the actual previous
# round (core_prev_total on the printed line, per-query map in
# BENCH_SAMPLES).
# ---------------------------------------------------------------------------
CORE = [
    "flagship_bounded_max",
    "e1_max_params",
    "e2_yap",
    "e2_yap_scale",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_supplier",
    "dedup_minhash_lsh",
    "dedup_cluster_representative",
    "dedup_semantic",
    "sim_topk_bruteforce",
    "sim_lsh_bucketed",
    "sim_knn_join",
    "emb_kmeans_lloyd",
    "emb_pca_power_iteration",
    "ml_quality_classifier_train",
    "txt_tfidf_topterms",
    "txt_bpe_train",
    "txt_heavy_hitters",
    "mm_video_frame_decode",
    "doc_pack_context_windows",
    "doc_dsir_select",
    "grouped_percentiles",
    "stream_session_stats",
    "stream_window_stats",
    "graph_pagerank_trading",
]

def _newest_bench_record(root: str) -> dict:
    """The parsed bench line (``"parsed"``) of the newest BENCH_r{N}.json
    in ``root``, newest by numeric N (one is recorded per round).
    {} with no artifact (fresh clone) or an unreadable one."""
    import glob
    import re

    best, best_n = None, -1
    for p in glob.glob(os.path.join(root, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and int(m.group(1)) > best_n:
            best, best_n = p, int(m.group(1))
    if best is None:
        return {}
    try:
        with open(best) as fh:
            parsed = json.load(fh).get("parsed")
    except (OSError, ValueError, AttributeError):
        return {}
    return parsed if isinstance(parsed, dict) else {}


_PREV_RECORD = _newest_bench_record(os.path.dirname(os.path.abspath(__file__)))

# Last recorded sf0.1 value per CORE query. A pin absent from the
# previous round (newly added, or that round's line truncated) gets None
# and drops out of the comparable-core totals; with no artifact at all
# every pin is None and core_prev_total is 0 over an empty comparable set.
CORE_PREV = {n: (_PREV_RECORD.get("queries") or {}).get(n) for n in CORE}


def _load_calib_prev() -> "float | None":
    """Last recorded calibration_sec; None before the probe's first
    recorded round."""
    try:
        return float(_PREV_RECORD["calibration_sec"])
    except (KeyError, TypeError, ValueError):
        return None


def _load_calib_multi_prev() -> "dict[str, float] | None":
    """Previous round's recorded per-shape probes (cpu/shuffle/pyudf/membw),
    for the drift-class normalization. None without a recorded
    ``calibration_multi`` — normalization then falls back to the scalar
    probe."""
    v = _PREV_RECORD.get("calibration_multi")
    try:
        return {k: float(x) for k, x in v.items()} if v else None
    except (AttributeError, TypeError, ValueError):
        return None


def calibration_probe(spark, sf_dir: str) -> float:
    """FROZEN box-speed probe — DO NOT MODIFY ACROSS ROUNDS (round-8
    verdict item 2: drift vs regression needed a manual forensic pass).

    A fixed parquet scan-aggregate over lineitem that no round's engine
    code touches: raw ``spark.read.parquet`` (not our readers), built-in
    aggregates only, noop sink. Because the workload is code-frozen, a
    round-over-round shift in its timing measures the BOX (shared-host
    contention, kernel, JVM), so ``core_total_normalized`` =
    ``core_total * calib_prev / calib_now`` reads the pinned core with
    environment drift divided out. Min of 5 runs."""
    import glob as _glob

    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.isdir(path) and not _glob.glob(os.path.join(path, "*.parquet")):
        path = os.path.join(path, "*")
    df = (
        spark.read.parquet(path)
        .filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_extendedprice").alias("s"),
            F.avg("l_discount").alias("a"),
            F.max("l_shipdate").alias("m"),
        )
    )
    runs = []
    for _ in range(5):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
    return min(runs)

# ROTATING: everything else currently benched; entries here may rotate to
# BENCH_SAMPLES-only to respect the 2000-char line budget.
#
# Round-11 rotation (verdict r10 item 5): the non-CORE slice had been
# static since r8, while the 26 round-9/10 registrations had never
# appeared in a BENCH record. 24 flat entries with three-plus rounds of
# recorded history each rotated to BENCH_SAMPLES-only
# (tpch_q5_local_supplier_volume, pivot_priority_by_nation,
# mm_decode_features, txt_bigram_lm_surprisal, src_zorder_pruned_scan,
# evt_rollup_incremental_refresh, json_variant_extract,
# agg_weighted_median, src_pysource_generate, stat_ks_two_sample,
# txt_fuzzy_blocked_levenshtein, agg_hll_shard_union, agg_countmin_sketch,
# evt_ewma_fixed_point, src_schema_evolution_scan,
# evt_sliding_distinct_users, txt_token_lift_pairs, ml_naive_bayes_train,
# dq_referential_integrity, evt_autocovariance_lags, stat_mann_whitney_u,
# agg_gini_per_nation, agg_kmv_distinct, dq_table_checksum — all prior
# numbers remain in BENCH_r05..r10.json / BENCH_SAMPLES.json). The full
# pre-r11 slice history lives in BENCH_r10.json and the git history of
# this file.
ROTATING = [
    # retained heavies: the iterative graph fixpoints and the r7/r8 dedup
    # / ranking / split-search paths — the non-CORE entries whose timings
    # actually move when plans change (graph_triangle_count and
    # dedup_prefix_filter_jaccard, flat across r6/r7-r10, also rotated to
    # samples-only to fit the 2000-char line with the 26 new entries)
    "graph_label_propagation",
    # (graph_khop_reachability, flat r6-r10, rotated to samples-only for
    # the sim_matryoshka_prefix_eval slot)
    "graph_kcore_peel",
    "dedup_sorted_neighborhood",
    "txt_bm25_topk",
    "ml_stump_split_finding",
    # code changed round 11 (staging isolation / pair-exchange sizing /
    # shared CC labels) — benched while the change beds in
    "src_binaryfile_scan",
    "dedup_ngram_jaccard",
    "dedup_cluster_assign",
    # round-9 registrations, first BENCH appearance
    "asof_next_purchase",
    "txt_zipf_fit",
    "txt_kl_source_divergence",
    "txt_ngram_novelty",
    "txt_cross_source_contamination",
    # (stat_kendall_tau 1.02/1.05, flat r11/r12, rotated for the
    # evt_haar_energy slot;
    # evt_peak_concurrency 0.49/0.54 also flat/sub-second, rotated
    # with the six below for the graph_adamic_adar_links slot;
    # evt_uplift_diff_in_diff 0.29/0.34, stat_wilson_ci 0.25/0.23,
    # agg_bloom_prefilter_join 0.48/0.48, stat_sign_flip_permutation
    # 0.44/0.44, dq_sequential_gap_audit 0.50/0.51, stat_cohens_d
    # 0.37/0.36 — all flat and sub-second across their r11/r12 records —
    # rotated to BENCH_SAMPLES-only in r13 to fit the 2000-char line
    # with the calibration_multi + dual-normalization keys and the r13
    # registrations)
    "graph_copurchase_projection",
    "graph_degree_assortativity",
    "ml_roc_auc",
    "ml_calibration_bins",
    "ml_boosted_stumps",
    "dedup_semantic_autok",
    # round-11 late registration
    "sim_matryoshka_prefix_eval",
    # round-13 registrations, first BENCH appearance
    "stat_dunn_posthoc",
    "ml_auc_ci_hanley",
    # code changed round 13 (packed-key wedge behind the 2^31 scale
    # gate) — benched while the change beds in
    "graph_adamic_adar_links",
    "evt_haar_energy",
    # round-10 registrations, first BENCH appearance
    "stat_benjamini_hochberg",
    "ml_pr_auc",
    "ml_ndcg_at_k",
    "evt_decayed_user_score",
    "ml_kmeans_silhouette",
    "txt_shannon_entropy",
    "evt_ar1_fit",
]

HEADLINE = CORE + ROTATING

# Drift-class tag per benched query (r12 verdict item 3): which frozen
# probe shape (calibration_probes_multi) best tracks the box resource the
# query's hot path leans on, so box drift is divided out PER CLASS.
# Round-12 forensics proved the single cpu-shape scalar under-corrects
# membw-shaped drift (explode + wide hash-agg: novelty and adamic-adar
# drifted 1.6-1.7x on untouched code while the cpu probe read 1.3x).
# Tags are dominant-plan-feature judgments, refined when per-query
# forensics (decompose_* scripts) say otherwise:
#   cpu     scan + codegen arithmetic/agg, no large exchange or explode
#   shuffle exchange/join/window dominated
#   pyudf   Arrow + pandas-UDF/kernel dominated
#   membw   array/token explode into wide hash-aggs (agg-map churn)
# Coverage of every HEADLINE entry (+ scd2_upsert) is enforced by
# tests/test_bench_contract.py.
SHAPE_CLASS: dict[str, str] = {
    "flagship_bounded_max": "shuffle",
    "e1_max_params": "cpu",
    "e2_yap": "pyudf",
    "e2_yap_scale": "pyudf",
    "tpch_q1_pricing_summary": "cpu",
    "tpch_q3_shipping_priority": "shuffle",
    "tpch_q6_forecast_revenue": "cpu",
    "tpch_q8_market_share": "shuffle",
    "tpch_q10_returned_items": "shuffle",
    "tpch_q18_large_orders": "shuffle",
    "tpch_q21_waiting_supplier": "shuffle",
    "dedup_minhash_lsh": "membw",
    "dedup_cluster_representative": "membw",
    "dedup_semantic": "membw",
    "sim_topk_bruteforce": "membw",
    "sim_lsh_bucketed": "membw",
    "sim_knn_join": "membw",
    "emb_kmeans_lloyd": "membw",
    "emb_pca_power_iteration": "membw",
    "ml_quality_classifier_train": "cpu",
    "txt_tfidf_topterms": "membw",
    "txt_bpe_train": "membw",
    "txt_heavy_hitters": "membw",
    "mm_video_frame_decode": "pyudf",
    "doc_pack_context_windows": "shuffle",
    "doc_dsir_select": "membw",
    "grouped_percentiles": "shuffle",
    "stream_session_stats": "shuffle",
    "stream_window_stats": "shuffle",
    "graph_pagerank_trading": "shuffle",
    "graph_label_propagation": "shuffle",
    "graph_kcore_peel": "shuffle",
    "dedup_sorted_neighborhood": "shuffle",
    "txt_bm25_topk": "membw",
    "ml_stump_split_finding": "cpu",
    "src_binaryfile_scan": "cpu",
    "dedup_ngram_jaccard": "membw",
    "dedup_cluster_assign": "membw",
    "asof_next_purchase": "shuffle",
    "txt_zipf_fit": "membw",
    "txt_kl_source_divergence": "membw",
    "txt_ngram_novelty": "membw",
    "txt_cross_source_contamination": "membw",
    "stat_dunn_posthoc": "shuffle",
    "ml_auc_ci_hanley": "shuffle",
    "evt_haar_energy": "shuffle",
    "graph_adamic_adar_links": "membw",
    "graph_copurchase_projection": "membw",
    "graph_degree_assortativity": "shuffle",
    "ml_roc_auc": "shuffle",
    "ml_calibration_bins": "cpu",
    "ml_boosted_stumps": "cpu",
    "dedup_semantic_autok": "membw",
    "sim_matryoshka_prefix_eval": "membw",
    "stat_benjamini_hochberg": "shuffle",
    "ml_pr_auc": "shuffle",
    "ml_ndcg_at_k": "shuffle",
    "evt_decayed_user_score": "shuffle",
    "ml_kmeans_silhouette": "membw",
    "txt_shannon_entropy": "membw",
    "evt_ar1_fit": "cpu",
    "scd2_upsert": "shuffle",
}


def calibration_probes_multi(spark) -> dict[str, float]:
    """Multi-shape box-speed probes (round-11, verdict r10 item 3) — the
    single frozen scan-agg probe normalizes CPU+scan drift but is blind to
    shuffle-service and Python-dispatch contention, the two other ways a
    shared box can slow a query. Three FROZEN shapes, min of 3 runs each,
    all on synthetic inputs so no round's engine code can touch them:

      cpu      fixed arithmetic fold over spark.range (pure codegen CPU)
      shuffle  fixed repartition + grouped agg (exchange write+read path)
      pyudf    fixed pandas-UDF round-trip (Arrow + Python worker path)
      membw    fixed explode + wide hash-agg (memory-bandwidth / agg-map
               path — round 12: novelty and adamic-adar, both this shape,
               drifted 1.6-1.7x on untouched code while cpu read only
               1.3x; the first three probes under-correct for steal that
               hits large agg hash maps hardest)

    Recorded in BENCH_SAMPLES.json (calibration_multi + a bounded history
    list), never on the 2000-char line. The scalar ``calibration_probe``
    stays the normalization basis for core_total_normalized — these
    probes DIAGNOSE which resource moved when it shifts."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    out: dict[str, float] = {}

    cpu_df = (
        spark.range(0, 20_000_000, 1, 32)
        .select(
            F.sum(
                F.col("id") * 2654435761 % 1000003 + (F.col("id") % 97) * 31
            ).alias("s")
        )
    )
    shuffle_df = (
        spark.range(0, 4_000_000, 1, 32)
        .withColumn("k", F.col("id") % 100_000)
        .repartition(64, "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
    )

    @pandas_udf("double")
    def _probe_udf(v):
        return (v * 1.0000001 + 3.0) % 1000.0

    pyudf_df = spark.range(0, 2_000_000, 1, 32).select(_probe_udf("id").alias("x"))

    # 2M rows x 24-element arrays -> 48M exploded rows into a ~6M-key
    # hash agg: the explode + wide-agg shape whose steal sensitivity the
    # cpu/shuffle probes under-report (frozen synthetic, engine-code-free)
    membw_df = (
        spark.range(0, 2_000_000, 1, 32)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(23)),
                    lambda i: F.col("id") * 24 + i,
                )
            ).alias("k")
        )
        .groupBy((F.col("k") % 6_000_000).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("k").alias("m"))
    )

    for key, df in (
        ("cpu", cpu_df),
        ("shuffle", shuffle_df),
        ("pyudf", pyudf_df),
        ("membw", membw_df),
    ):
        runs = []
        for _ in range(3):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[key] = min(runs)
    return out

# Queries that showed multi-second shared-box spikes in past driver runs
# (BENCH_r03: sim_topk_bruteforce x4.7, doc_pack_context_windows x2.9 — both
# noise on re-measure) or that pay Arrow/kernel dispatch: extra reps so one
# stall can't masquerade as a regression.
NOISY = {
    "sim_topk_bruteforce",
    "doc_pack_context_windows",
    "dedup_minhash_lsh",
    "sim_lsh_bucketed",
    "e2_yap",
    "e2_yap_scale",
    "sim_knn_join",
    "emb_kmeans_lloyd",
    "dedup_cluster_representative",
    "graph_pagerank_trading",
    "graph_khop_reachability",
    "graph_kcore_peel",
}


# The iterative-graph family measured at the generated sf10 point by
# `python bench.py --sf10-graph` (round-7 verdict item 6: the sf10 numbers
# lived only in PERF.md prose). One run each — these are multi-minute
# fixpoints; the mode exists to make the scale evidence machine-readable
# in BENCH_SAMPLES.json, not to be a steady-state microbenchmark.
SF10_GRAPH = [
    "graph_label_propagation",
    "graph_kcore_peel",
    "graph_khop_reachability",
    "graph_pagerank_trading",
    "dedup_cluster_assign",
]


def _merge_bench_samples(extra: dict) -> None:
    """Merge keys into BENCH_SAMPLES.json without dropping existing ones
    (main() owns sf/samples/spread_sec/core; --sf10-graph owns sf10_graph)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SAMPLES.json"
    )
    doc: dict = {}
    try:
        with open(path) as fh:
            doc = json.load(fh)
    except (OSError, ValueError):
        doc = {}
    doc.update(extra)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)


# Default query set for `--sf10-sweep`: the sf10 heavy tail (everything
# that has ever exceeded ~30 s solo at the generated sf10) plus any query
# whose code changed in the current round (edit per round). Each query
# gets its OWN SparkSession (see sf10_sweep_mode).
SF10_SWEEP_DEFAULT = [
    "dedup_cluster_assign",
    "dedup_cluster_representative",
    # the full-corpus label relation (labels + doc-spine left join)
    "dedup_cluster_labels",
    "dedup_ngram_jaccard",
    "txt_ngram_novelty",
    "graph_adamic_adar_links",
    "evt_haar_energy",
    "src_binaryfile_scan",
]


def sf10_sweep_mode(names: list[str], key: str) -> None:
    """Run each named query at the generated sf10 point, ONE FRESH
    SparkSession per query, and merge {key: record} into
    BENCH_SAMPLES.json."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/scaledata/sf10")
    if not os.path.isdir(sf_dir):
        print(json.dumps({"metric": key, "value": None, "unit": "sec",
                          "error": f"no sf10 tree at {sf_dir} "
                          "(generate with scripts/gen_scale_data.py)"}))
        return
    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.session import get_spark

    # Box-speed probes first (own throwaway session): sf10 numbers on the
    # shared box have swung ~2-3x with host steal (PERF.md), so every
    # sweep record carries the multi-shape probe values measured at sweep
    # time — a reader can normalize before calling anything a regression.
    probe_spark = get_spark("bench-sf10-sweep-probe")
    probe_spark.sparkContext.setLogLevel("ERROR")
    probes = calibration_probes_multi(probe_spark)
    probe_spark.stop()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        # ONE SparkSession PER QUERY. Shuffle files are only deleted when
        # the driver GC collects the ShuffleDependency, so across the
        # five-query sf10 graph sweep in one session the dead shuffle
        # blocks of the iterative fixpoints (~70 GB after four queries)
        # filled the disk and the fifth query died with 'No space left on
        # device'; session teardown removes the app's block-manager dirs.
        # A shared session also inflated the CC family 2.3x over
        # fresh-session solo numbers via accumulated executor memory
        # pressure: a sweep should measure the operator, not the session
        # history.
        spark = get_spark("bench-sf10-sweep")
        spark.sparkContext.setLogLevel("ERROR")
        print(f"[sf10-sweep] running {name}", file=sys.stderr, flush=True)
        t0 = time.time()
        try:
            all_queries()[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.time() - t0, 1)
        except Exception as exc:
            errors[name] = str(exc).split("\n")[0][:200]
        print(f"[sf10-sweep] {name}: {timings.get(name, 'FAILED')}",
              file=sys.stderr, flush=True)
        spark.stop()
    rec: dict = {"sf_dir": sf_dir, "protocol": "one fresh session per query",
                 "total_sec": round(sum(timings.values()), 1),
                 "box_probes": probes,
                 "timings": timings}
    if errors:
        rec["errors"] = errors
    _merge_bench_samples({key: rec})
    line: dict = {"metric": key, "value": rec["total_sec"], "unit": "sec",
                  "queries": timings}
    if errors:
        line["errors"] = errors
    print(json.dumps(line, separators=(",", ":")))


def bench_scd2_upsert(spark, sf_dir: str) -> float:
    """Time one SCD-2 history-preserving upsert cycle over the documents
    dimension: snapshot write -> updates batch for half the keys ->
    upsert (guards + window chain + swap). Not a registry query (it is a
    side-effecting writer), so it gets a bespoke bench entry."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table
    from nfl_big_data_bowl_2024_spark.sources.writers import upsert_scd2_parquet

    d = read_testdata_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="bench_scd2_")
    path = tmp + "/dim"
    try:
        t0 = _t.time()
        d.withColumn("valid_from", F.lit(0).cast("long")).withColumn(
            "valid_to", F.lit(None).cast("long")
        ).write.mode("overwrite").parquet(path)
        updates = d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.concat(F.col("source"), F.lit("-v2")).alias("source"),
            (F.col("n_chars") + 1).alias("n_chars"),
            (F.lit(1000) + F.col("doc_id")).cast("timestamp").alias("ts"),
        )
        upsert_scd2_parquet(spark, path, updates, keys=["doc_id"], ts_col="ts")
        return _t.time() - t0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # Warm the JVM/session so the first measured query doesn't pay startup.
    registry["tpch_q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    # Warm the Python worker fleet too: the first Arrow-UDF stage of a
    # session spawns one worker per core, each importing numpy/pandas
    # (~10-15 s across 32 workers). That is one-time session setup, not
    # query cost — pay it here so the first UDF-bearing headline query is
    # measured at steady state, like every other query.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):
        import numpy as np  # noqa: F401
        import pandas as pd

        return pd.Series([float(x) for x in v])

    spark.range(0, 320, 1, 32).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    # Box-speed calibration first (frozen workload, see calibration_probe):
    # recorded on the printed line so the round-over-round core ratio can
    # be read with environment drift divided out.
    calib = calibration_probe(spark, sf_dir)
    calib_prev = _load_calib_prev()
    calib_multi = calibration_probes_multi(spark)
    calib_multi_prev = _load_calib_multi_prev()

    # min of N runs per query, ALL samples recorded: the min is the
    # steady-state number (first run can pay residual JIT), and the full
    # sample list lets a reader separate shared-box stalls from real
    # regressions without re-running (BENCH_r03 had two x3-5 spikes that
    # were pure noise). Noise-prone/kernel-heavy queries get 5 reps.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in HEADLINE:
        reps = 5 if name in NOISY else 3
        runs: list[float] = []
        for _ in range(reps):
            t0 = time.time()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        samples[name] = runs
        timings[name] = min(runs)

    name = "scd2_upsert"
    samples[name] = [round(bench_scd2_upsert(spark, sf_dir), 3) for _ in range(3)]
    timings[name] = min(samples[name])

    total = round(sum(timings.values()), 2)
    # Totals over the COMPARABLE core (pins with a recorded prev value),
    # so core_total/core_prev_total is a like-for-like ratio even while a
    # newly pinned query (e1_max_params this round) builds up history.
    comparable = [n for n in CORE if CORE_PREV[n] is not None]
    core_total = round(sum(timings[n] for n in comparable), 2)
    core_prev_total = round(sum(CORE_PREV[n] for n in comparable), 2)

    # Drift-class normalization (r12 verdict item 3): each query's timing
    # is re-expressed at the previous round's box speed using the probe of
    # ITS shape class (SHAPE_CLASS), not the single cpu-shape scalar —
    # r12's forensics proved the scalar under-tracks membw-shaped drift.
    # Falls back per-query to the scalar ratio when the class probe lacks
    # a previous value (transition rounds), and to 1.0 with no history.
    def _class_factor(cls: str) -> float:
        if (
            calib_multi_prev
            and calib_multi_prev.get(cls)
            and calib_multi.get(cls)
        ):
            return calib_multi_prev[cls] / calib_multi[cls]
        if calib_prev is not None and calib > 0:
            return calib_prev / calib
        return 1.0

    def _norm_factor(name: str) -> float:
        return _class_factor(SHAPE_CLASS.get(name, "cpu"))

    core_total_normalized = round(
        sum(timings[n] * _norm_factor(n) for n in comparable), 2
    )

    # The driver's artifact keeps only the LAST 2000 characters of stdout and
    # parses the JSON document out of that window — round 4 recorded every
    # raw sample on the line, overflowed the window, and lost the head of
    # the document (headline_queries_total + the first ~23 timings). So the
    # printed line carries ONLY the contract keys, compact separators, 2 dp
    # (whole seconds past 10 s), asserted <= 2000 chars (worst-case width is
    # pinned by tests/test_bench_contract.py); the full per-run samples go
    # to a sidecar file for spread/noise analysis instead.
    # Bounded multi-probe history: append this run's probes so probe
    # drift can be read across rounds even though only the scalar makes
    # the printed line (the driver's BENCH_r{N}.json keeps just that).
    prev_samples: dict = {}
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_SAMPLES.json"
            )
        ) as fh:
            prev_samples = json.load(fh)
    except (OSError, ValueError):
        prev_samples = {}
    multi_hist = (prev_samples.get("calibration_multi_history") or [])[-19:]
    multi_hist.append({"epoch": int(time.time()), **calib_multi})

    _merge_bench_samples(
        {
            "sf": sf,
            "samples": samples,
            "spread_sec": {
                n: round(max(r) - min(r), 3)
                for n, r in samples.items()
                if len(r) > 1
            },
            # the pinned regression-detection core: this round's min
            # next to the last driver-recorded value per core query
            "core": {
                n: {"now": timings[n], "prev": CORE_PREV[n]}
                for n in CORE
            },
            "calibration": {"now": calib, "prev": calib_prev},
            "calibration_multi": calib_multi,
            "calibration_multi_history": multi_hist,
            # per-query drift-class-normalized minimums (r10 item 3,
            # per-class since r13): this round's min x the shape-class
            # probe ratio, i.e. the timing re-expressed at the PREVIOUS
            # round's box speed so per-query round-over-round deltas read
            # net of box drift in the resource the query actually uses
            "queries_normalized": {
                n: round(v * _norm_factor(n), 3) for n, v in timings.items()
            },
            # the factor applied per class this run (audit trail)
            "norm_factor_by_class": {
                cls: round(_class_factor(cls), 4)
                for cls in ("cpu", "shuffle", "pyudf", "membw")
            },
        }
    )

    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            # pinned-core totals: core_prev_total sums the SAME core
            # queries' last driver-recorded values (minus never-before-
            # benched pins), so core_total/core_prev_total is a stable
            # round-over-round regression ratio immune to rotation
            "core_total": core_total,
            "core_prev_total": core_prev_total,
            # frozen-probe box speed + the drift-normalized core totals:
            # compare core_total_normalized / core_prev_total round over
            # round (round-8 verdict item 2). Since r13 the headline
            # normalization is PER DRIFT CLASS (cpu/shuffle/pyudf/membw
            # probe per query shape — r12 verdict item 3);
            # calibration_multi puts this run's class probes on the
            # round's record so the next round can normalize against
            # them.
            "calibration_sec": calib,
            "calibration_multi": calib_multi,
            "core_total_normalized": core_total_normalized,
            "queries": {
                n: (round(v, 2) if v < 10 else int(round(v)))
                for n, v in timings.items()
            },
            "sf": sf,
        },
        separators=(",", ":"),
    )
    if len(line) > 2000:
        # Never abort the artifact: an oversized line (e.g. a >=10000 s
        # timing widening past the pinned per-query budget) degrades to a
        # headline-only record instead of losing the whole perf document.
        line = json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "truncated": f"per-query map dropped ({len(line)} chars > 2000)",
                "sf": sf,
            },
            separators=(",", ":"),
        )
    print(line)


if __name__ == "__main__":
    if "--sf10-graph" in sys.argv:
        sf10_sweep_mode(SF10_GRAPH, "sf10_graph")
    elif "--sf10-sweep" in sys.argv:
        _key = "sf10_sweep_latest"
        for _a in sys.argv[1:]:
            if _a.startswith("--key="):
                _key = _a.split("=", 1)[1]
        _names = [
            a for a in sys.argv[1:] if not a.startswith("--")
        ] or SF10_SWEEP_DEFAULT
        sf10_sweep_mode(_names, _key)
    else:
        main()
