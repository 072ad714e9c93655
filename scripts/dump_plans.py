"""Regenerate PLANS.md: the formatted physical plan of each showcase query.

The plan-audit tests assert these properties mechanically; this artifact
makes them readable. Usage: python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"

SHOWCASE = [
    (
        "evt_haar_energy",
        "Multiresolution explode: the log-depth Haar halving loop as ONE "
        "Generate (12 levels x the calendar-bounded daily grid, sign/"
        "block from integer bit arithmetic) feeding exactly two hash "
        "exchanges — (type, level, block) detail then (type, level) "
        "energy; corpus growth fattens grid cells map-side only.",
    ),
    (
        "stat_dunn_posthoc",
        "The KW doubled-midrank grid (banded prefix sums, value-level "
        "broadcast re-entry) finished by a bounded k x k broadcast "
        "nested-loop panel — the pairwise posthoc costs nothing beyond "
        "the KW scan.",
    ),
    (
        "ml_auc_ci_hanley",
        "ml_roc_auc's exchange + per-source window + grouped fold, then "
        "a pure per-row epilogue (Hanley variance, deterministic integer "
        "sqrt) — a CI panel with zero additional scans or exchanges.",
    ),
    (
        "flagship_bounded_max",
        "One scan, every exchange on user_id (window-expression forms of "
        "W1/W2 stack over a single partitioning), dim join broadcast.",
    ),
    (
        "tpch_q11_important_parts",
        "Grand-total attachment: the per-part aggregate is an eager "
        "localCheckpoint (Scan ExistingRDD below — the fact is never "
        "re-scanned) and the total is a scalar aggregate broadcast back; "
        "no Window node anywhere.",
    ),
    (
        "txt_unigram_surprisal",
        "Train-then-score: checkpointed vocab model, scalar normalizer, "
        "broadcast hash join back onto the token stream.",
    ),
    (
        "txt_span_dedup",
        "Map-only chunking (Generate, no UDF); exactly two hash "
        "exchanges — the span-keyed window and the doc-keyed aggregate.",
    ),
    (
        "doc_quality_zscore_bucket",
        "The corpus is never hash-partitioned: scan + broadcast-attach of "
        "the 1-row stats + project.",
    ),
    (
        "dedup_incremental_batch",
        "Batch window and index join share the fingerprint key; source "
        "filters pushed to both scans.",
    ),
    (
        "sim_topk_bruteforce",
        "TakeOrderedAndProject (per-partition top-k), never a global "
        "window sort.",
    ),
    (
        "doc_training_order",
        "One shard-keyed exchange; position assignment is a partitioned "
        "window over content-hash keys.",
    ),
    (
        "dq_expectations_check",
        "Per-table metric aggregates are checkpointed 1-row relations; "
        "the only live scans belong to the FK anti-join's key columns "
        "(ReadSchema shows the single-column projection).",
    ),
    (
        "skew_salted_agg",
        "Two-phase salted aggregation: the first exchange keys on "
        "(key, salt), the second collapses the bounded partials.",
    ),
    (
        "pipeline_curation_funnel",
        "Gate -> dedup -> leakage-safe split as one plan: a single "
        "documents scan, one fingerprint-partitioned window for the "
        "canonical choice, map-side Generate of per-row stage flags, one "
        "small stage aggregate.",
    ),
    (
        "mm_decode_features",
        "Real BMP/PPM decode at the Arrow boundary: executor-side payload "
        "generation and the decoder are two MapInPandas nodes over the "
        "id column only — no shuffle anywhere.",
    ),
    (
        "doc_select_token_budget",
        "Global running sum WITHOUT a global window: per-band token "
        "totals, a triangular band self-join for exclusive offsets "
        "(bands are bounded — score quantized to milli-units), and a "
        "band-partitioned window for the in-band sum; the budget scalar "
        "rides the same eager checkpoint so documents is scanned once.",
    ),
    (
        "txt_pii_redact",
        "PII scrub as a pure projection: the regexp_replace chain and "
        "the sequential match counts live inside one WholeStageCodegen "
        "over the scan — zero exchanges, zero Python.",
    ),
    (
        "txt_heavy_hitters",
        "Exact heavy hitters without a vocab shuffle: MapInPandas MG "
        "candidate sketch -> bounded distinct -> broadcast hash join "
        "back onto the token stream -> exact count + integer threshold.",
    ),
    (
        "txt_bpe_train",
        "BPE trainer output relation (the 3 collected merge rows): the "
        "training rounds themselves each ran one vocab-sized pair "
        "aggregate + TakeOrdered argmax over the checkpointed "
        "word-frequency table; merges were map-only string replaces.",
    ),
    (
        "evt_hypertable_rollup",
        "Time-hierarchy rollup (hour -> day -> total) in one pass: a "
        "single Expand node feeds one hash aggregate with map-side "
        "partials — the fact is scanned once for all three granularities; "
        "day/hour come from exact BIGINT division of epoch micros.",
    ),
    (
        "evt_rollup_incremental_refresh",
        "Continuous-aggregate maintenance: the executed plan reads the "
        "MATERIALIZED base rollup from parquet and unions it with the "
        "delta slice's partial aggregate (pushed filter on the fact "
        "scan); the merge re-aggregates decomposable partials — no "
        "full-fact rescan anywhere in the plan.",
    ),
    (
        "graph_pagerank_trading",
        "Iterative integer fixpoint on the driver-local arm: the 97k "
        "symmetrized edges at sf0.01 are under the 500k-row gate, so they "
        "are counted, collected once through Arrow and the 3 rounds "
        "replayed in numpy — the final plan is one LocalTableScan "
        "(Catalyst folds the entity projection into it). Above the gate "
        "each round is one src-keyed shuffle join + one dst-keyed "
        "integer sum; float-free "
        "on both arms, so the DuckDB oracle replays it bit-exactly.",
    ),
    (
        "txt_bigram_lm_surprisal",
        "Bigram LM train-then-score: adjacent-pair extraction is map-only "
        "(slice+zip on the token array — no self-join, no lead() window); "
        "the scoring join re-shuffles pairs onto the model's own (w1,w2) "
        "aggregate exchange; V is a checkpointed distributed scalar.",
    ),
    (
        "json_variant_extract",
        "VARIANT: one parse_json per row, four variant_get path "
        "extractions at three types — all inside WholeStageCodegen (zero "
        "Python nodes), pruned 4-column scan; only extracted scalars "
        "reach the exchange.",
    ),
    (
        "txt_chunk_udtf",
        "Python UDTF lateral: the chunker plans as a single "
        "ArrowEvalPythonUDTF generator node (vectorized Arrow transfer, "
        "no BatchEvalPython, no nested-loop join for the LATERAL); "
        "map-only — the doc_id filter is pushed to the parquet scan "
        "below the UDTF.",
    ),
    (
        "emb_arrow_norm_audit",
        "mapInArrow kernel: one MapInArrow node straight over the scan "
        "(zero-copy Arrow list buffers, integer cumsum per batch); the "
        "label aggregate's exchange is the plan's only shuffle.",
    ),
    (
        "scd2_pointintime_join",
        "AS OF (point-in-time) join against the SCD-2 dimension: the "
        "validity-interval predicate rides the doc_id equi-join as a "
        "residual condition — a keyed shuffle join, never a "
        "CartesianProduct/nested-loop over intervals.",
    ),
    (
        "src_pysource_generate",
        "Python Data Source scan: BatchScan over the connector's planned "
        "id-range partitions; the pushed range predicate narrowed the "
        "planned splits BEFORE generation (connector-side pruning), and "
        "Spark still re-applies the filter above the scan.",
    ),
    (
        "agg_countmin_sketch",
        "Count-Min estimate pass: the d x w counter table (<= 256 rows, "
        "built by a grouped count whose key space is the fixed grid, so "
        "map-side partials bound every task's exchange contribution) "
        "re-enters as a BroadcastHashJoin build side — the probe never "
        "shuffles; the only exchanges key on user_id (exact twin) and "
        "the fixed grid.",
    ),
    (
        "stat_chi2_independence",
        "Single fact scan: the (t,c) cell aggregate is an eager "
        "localCheckpoint (Scan ExistingRDD below), and row totals, "
        "column totals, the grand total AND the zero-cell grid are all "
        "derived from it via broadcast joins — no second pass over "
        "events, no Window node.",
    ),
    (
        "evt_sliding_distinct_users",
        "Native sliding window: one Expand replicates each event into "
        "its 7 covering windows JVM-side, then a two-phase "
        "distinct-aggregate (partial per partition under the exchange) "
        "computes the exact per-window user count — no per-window "
        "re-scan, no Python.",
    ),
    (
        "txt_token_lift_pairs",
        "Association lift: the basket relation is checkpointed once "
        "(Scan ExistingRDD on both sides of the pair join — the "
        "explode/distinct subtree never runs twice), the pair join is "
        "keyed on doc_id, and the document-frequency relation re-enters "
        "twice as BroadcastHashJoin build sides.",
    ),
    (
        "graph_kcore_peel",
        "Fixed-round peel on the driver-local arm: the sf0.01 edge set "
        "is under the 500k-row gate, so the rounds run in numpy over "
        "one Arrow collect and the final plan is one LocalTableScan "
        "(the entity projection folded in). Above the gate each round is one "
        "grouped degree count + anti-joins on an edge set that only "
        "shrinks; both arms take the monotone-fixpoint early stop once "
        "no node falls below k.",
    ),
    (
        "stat_mann_whitney_u",
        "Rank-sum without a global sort: the cumulative count rides the "
        "banded prefix-sum shape (band-partitioned window + triangular "
        "band offsets — no SinglePartition exchange anywhere), and the "
        "value-level doubled-midrank relation re-enters as a "
        "BroadcastHashJoin build side onto the fact scan.",
    ),
    (
        "graph_label_propagation",
        "Synchronous mode LPA on the driver-local arm: the sf0.01 edge "
        "set is under the 500k-row gate, so both rounds run in numpy "
        "over one Arrow collect and the final plan is one "
        "LocalTableScan (the entity projection folded in). Above the gate the label "
        "vector joins the src-partitioned edges, the (node, label) count "
        "collapses map-side, and the per-node argmax is "
        "max(struct(cnt, -lab)) — a hash aggregate, no Window/sort.",
    ),
    (
        "stat_anova_oneway",
        "One fact scan: the per-group sufficient statistics collapse in "
        "a single partial+final hash aggregate; everything above the "
        "group relation (SSB/SSW decimals, milli-F) is arithmetic over "
        "a k-row relation. The only SinglePartition step is the final "
        "k-row roll-up — bounded by the group count, not the data.",
    ),
    (
        "evt_changepoint_cusum",
        "Raw events collapse in the hourly hash aggregate (map-side "
        "partials); both CUSUM windows (running sum, running min) share "
        "ONE event_type exchange and sort — partition-local, bounded by "
        "distinct hours — and the reference-rate relation re-enters as "
        "a broadcast.",
    ),
    (
        "agg_kmv_distinct",
        "Bottom-k sketch: the rank filter compiles to WindowGroupLimit "
        "on BOTH sides of the group exchange — each map task keeps only "
        "k rows per group before shuffling, so the per-group sort never "
        "sees more than k x tasks rows.",
    ),
    (
        "agg_bitmap_audience_overlap",
        "Positional-bitmap overlap: users pack into 63-bit words via "
        "bit_or with map-side partials (63 users -> one long before the "
        "exchange); intersections are a word-keyed join + popcount sum, "
        "and the per-segment size relation re-enters broadcast.",
    ),
    (
        "dq_table_checksum",
        "Order-insensitive audit at minimum cost: md5 + conv inside one "
        "WholeStageCodegen over the scan, then ONE exchange on the fixed "
        "8-shard grid with partial sums already collapsed map-side.",
    ),
    (
        "opt_pareto_frontier",
        "Sort-based skyline with no global window: per-price max "
        "aggregate, banded prefix max (triangular join over the tiny "
        "integer-dollar band relation broadcast back), and one keyed "
        "join to emit survivors.",
    ),
    (
        "ml_eval_confusion",
        "Nearest-centroid evaluation in exact integer space: one "
        "posexplode, the 640-row centroid model re-enters broadcast, "
        "integer squared distances collapse per (vec, candidate) and "
        "the packed-key argmin is an ordinary hash aggregate — no "
        "float accumulation anywhere near the decision boundary.",
    ),
    (
        "stat_mad_outliers",
        "Both medians from ONE raw-data scan: the cents counting grid "
        "is an eager checkpoint (Scan ExistingRDD below), the deviation "
        "grid re-keys it by |cents - median|, and every window runs "
        "over O(distinct cents), never rows.",
    ),
    (
        "dedup_sorted_neighborhood",
        "Distributed global rank with NO single-partition window: one "
        "range exchange (checkpointed — Scan ExistingRDD below), "
        "per-partition row_number windows keyed by partition id, "
        "broadcast offset attach, then the neighbor pairing is a keyed "
        "equi-join on rank with the gap exploded map-side.",
    ),
    (
        "ml_stump_split_finding",
        "The gradient-histogram shape: stack() melts features map-side, "
        "ONE hash exchange builds the per-(feature,bin) histogram with "
        "partial aggregation, and every window (cumsum, totals, argmax "
        "rank) runs over O(bins) rows partitioned by feature — row "
        "volume never reaches a window.",
    ),
    (
        "txt_bm25_topk",
        "Document length computed map-side (size(split), no explode); "
        "only query-term tokens survive into the one (doc, term) "
        "exchange; df as a window on the tf relation (subtree computed "
        "once); N/avgdl broadcast one-row; top-25 is "
        "TakeOrderedAndProject, never a global sort.",
    ),
    (
        "graph_adamic_adar_links",
        "Round-10 rewrite + round-13 packed key: wedges expand map-side "
        "from BOUNDED sorted neighbor arrays (Generate over the "
        "collect_list riding the adjacency join's src partitioning — "
        "no d^2 self-join); when node ids fit 32 bits (scale-gated) "
        "each pair is ONE packed long shiftleft(ya,32)+yb, so the only "
        "data-sized exchange carries (bigint, int) and the aggregate "
        "keys on a single long; the apex weight is a literal-array "
        "lookup BEFORE that exchange, the anti-join is gone (bipartite "
        "parity proof, pinned in tests), and top-25 is "
        "TakeOrderedAndProject on (aa, packed key) — order-preserving, "
        "tie-break exact.",
    ),
    (
        "stat_benjamini_hochberg",
        "Only the grouped count touches data volume (partial-aggregated "
        "exchange); expected counts and the chi-square fold run on the "
        "(nation x 3) panel with decimal exact division; the BH step-up "
        "is a sorted-array HOF over ONE collected row — no "
        "SinglePartition window anywhere; p-values via the fixed-point "
        "exp_neg_micro literal table.",
    ),
    (
        "evt_decayed_user_score",
        "Map-side decay (1-row max-ts anchor broadcast, literal "
        "2^-frac table lookup), one partial-aggregated exchange on "
        "user_id with the sum widened to decimal, "
        "TakeOrderedAndProject top-25 — the flat recency-feature "
        "shape.",
    ),
    (
        "dedup_ngram_jaccard",
        "Round-11 rewrite: the guarded shingle relation is materialized "
        "ONCE (Scan ExistingRDD below — the eager localCheckpoint that "
        "also yields the exact candidate-pair count), the d(d-1)/2 pair "
        "stream repartitions to a DATA-SIZED width (~4M pair rows/task, "
        "not the conf default) keyed on doc_a alone — which satisfies "
        "the (doc_a, doc_b) clustering, so the grouped count runs "
        "partial+final with no second exchange — and the per-doc count "
        "attach stays the count-gated broadcast. 273.7 -> 129.6 s at "
        "the generated sf10.",
    ),
    (
        "ml_lift_gain_deciles",
        "Exact decile gains with NO row-level global sort: the corpus "
        "collapses to distinct (score, cnt, cnt_pos) points in one "
        "partial-aggregated exchange, cumulative-before ranks ride "
        "banded_running_sum's triangular band decomposition (score = "
        "band), each point explodes to only the <= 10 deciles it "
        "overlaps by rank arithmetic, and the only SinglePartition "
        "steps are bounded folds (grand totals, the 10-row decile "
        "cumulative).",
    ),
]


def main() -> None:
    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.session import get_spark

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    print("# PLANS — executed physical plans of the showcase queries")
    print()
    print("Generated by `python scripts/dump_plans.py > PLANS.md` at sf0.01.")
    print("The properties called out here are asserted mechanically in")
    print("`tests/test_plan_audit.py` (per-query audits plus a registry-wide")
    print("sweep that bans CartesianProduct, global windows — ordered or")
    print("unordered, detected structurally via the SinglePartition exchange")
    print("they require — and row-at-a-time Python UDFs across all queries).")
    for name, note in SHOWCASE:
        df = qs[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        print(f"\n## {name}\n\n{note}\n\n```")
        print(plan.rstrip())
        print("```")


if __name__ == "__main__":
    main()
