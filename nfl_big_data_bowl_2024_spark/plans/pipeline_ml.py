"""ML training / evaluation queries (ml_*): trainers, eval metrics,
calibration, and the boosted-stump family.

Split out of plans/pipeline_sim.py in round 10 (the r8 split target of
no file over ~2,500 LoC; pipeline_sim had grown to 2,939). Original
docstrings, oracle SQL and reference citations moved verbatim; shared
helpers stay in pipeline_common.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_testdata_table as _t
from .pipeline_common import (
    _AA_LOG2_MICRO,
    _kmeans_assign_sql,
    _mean_token_len,
    _n_ws_tokens,
)
from .registry import register


@register(
    "ml_quality_classifier_train",
    """
    WITH feat AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               length(text) * 1.0 / len(string_split(text, ' ')) AS x1,
               len(string_split(text, ' ')) / 100.0 AS x2
        FROM documents
    ),
    g1 AS (  -- round 1: w = 0, so p = 0.5 exactly (no exp needed)
        SELECT avg(0.5 - y) AS g0,
               avg((0.5 - y) * x1) AS g1,
               avg((0.5 - y) * x2) AS g2
        FROM feat
    ),
    w1 AS (
        SELECT floor(-0.5 * g0 * 1e9 + 0.5) / 1e9 AS w0,
               floor(-0.5 * g1 * 1e9 + 0.5) / 1e9 AS w1,
               floor(-0.5 * g2 * 1e9 + 0.5) / 1e9 AS w2
        FROM g1
    ),
    g2 AS (
        SELECT avg(1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2))) - y) AS g0,
               avg((1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2))) - y) * x1)
                   AS g1,
               avg((1.0 / (1.0 + exp(-(w0 + w1 * x1 + w2 * x2))) - y) * x2)
                   AS g2,
               any_value(w0) AS pw0, any_value(w1) AS pw1, any_value(w2) AS pw2
        FROM feat, w1
    ),
    w2 AS (
        SELECT floor((pw0 - 0.5 * g0) * 1e9 + 0.5) / 1e9 AS w0,
               floor((pw1 - 0.5 * g1) * 1e9 + 0.5) / 1e9 AS w1,
               floor((pw2 - 0.5 * g2) * 1e9 + 0.5) / 1e9 AS w2
        FROM g2
    )
    SELECT doc_id, p, p >= 0.5 AS pred, y FROM (
        SELECT f.doc_id,
               floor(1.0 / (1.0 + exp(-(w.w0 + w.w1 * f.x1 + w.w2 * f.x2)))
                     * 1e6 + 0.5) / 1e6 AS p,
               CAST(f.y AS BIGINT) AS y
        FROM feat f, w2 w
    )
    """,
    doc="Distributed quality-classifier training — the fasttext-style "
    "linear gate LLM pipelines train to score crawl quality: full-batch "
    "gradient-descent logistic regression (label: lang='en'; features: "
    "mean token length, scaled token count — exact integer ratios). Each "
    "GD round is ONE aggregate whose d+1-double gradient is the only "
    "driver traffic (operators/clustering.py:logreg_train_gd, same "
    "bounded-index contract as the k-means trainer); the feature "
    "relation is checkpointed once so rounds re-read blocks, not text. "
    "Weights round to 9 dp per round, which lets the oracle replay both "
    "rounds bit-identically (round 1 needs no exp at all; round 2's "
    "~1-ulp libm exp differences vanish under averaging + rounding). "
    "Output: per-doc score, hard prediction, label.",
)
def ml_quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import logreg_train_gd

    d = _t(spark, sf_dir, "documents")
    n_toks = F.size(F.split("text", " "))
    feat = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        _mean_token_len().alias("x1"),
        (n_toks / 100.0).alias("x2"),
    ).localCheckpoint(eager=True)
    w = logreg_train_gd(feat, ["x1", "x2"], "y", lr=0.5, iters=2)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    # pred derives from the ROUNDED p (the value both engines hash), so a
    # ~1-ulp libm exp() difference cannot flip a boundary prediction.
    return feat.select(
        "doc_id",
        (F.floor(p * 1e6 + 0.5) / 1e6).alias("p"),
        F.col("y").cast("bigint").alias("y"),
    ).select(
        "doc_id", "p", (F.col("p") >= 0.5).alias("pred"), "y"
    ).select("doc_id", "p", "pred", "y")


@register(
    "ml_linreg_closed_form",
    """
    WITH f AS (
        SELECT source,
               CAST(length(text) - length(replace(text, ' ', '')) + 1
                    AS BIGINT) AS x,
               CAST(n_chars AS BIGINT) AS y
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(count(*) AS BIGINT)    AS n,
               CAST(sum(x) AS BIGINT)      AS sx,
               CAST(sum(y) AS BIGINT)      AS sy,
               CAST(sum(x * x) AS BIGINT)  AS sxx,
               CAST(sum(y * y) AS BIGINT)  AS syy,
               CAST(sum(x * y) AS BIGINT)  AS sxy
        FROM f GROUP BY source
    )
    SELECT source,
           n AS n_docs,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
               AS intercept,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx))
               * ((n * sxy - sx * sy) / (n * syy - sy * sy)) AS r2
    FROM s
    """,
    doc="Closed-form OLS regression (chars-per-token fit per source) via "
    "SUFFICIENT STATISTICS — the non-iterative sibling of "
    "ml_quality_classifier_train's gradient loop: slope/intercept/r2 "
    "derive entirely from {n, Sx, Sy, Sxx, Syy, Sxy}, so the whole fit "
    "is ONE map-side-combined groupBy over the corpus — one shuffle of "
    "six numbers per group, no iterations, no driver-side matrices, the "
    "way a 100 TB calibration fit should run. Both x and y are integers, "
    "so the six moments are EXACT BIGINTs; each engine then performs the "
    "IDENTICAL scalar float expression on identical integers "
    "(bigint/bigint division promotes to double in both Spark and "
    "DuckDB), which is why a float regression can be hash-checked at all "
    "— regr_slope/regr_r2 built-ins would accumulate in "
    "partitioning-dependent order and could never cross-engine match.",
)
def ml_linreg_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = _t(spark, sf_dir, "documents").select(
        "source",
        _n_ws_tokens().cast("long").alias("x"),
        F.col("n_chars").cast("long").alias("y"),
    )
    s = f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)").alias("slope"),
        F.expr(
            "(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n"
        ).alias("intercept"),
        F.expr(
            "((n * sxy - sx * sy) / (n * sxx - sx * sx))"
            " * ((n * sxy - sx * sy) / (n * syy - sy * sy))"
        ).alias("r2"),
    )


@register(
    "ml_eval_confusion",
    """
    WITH ex AS (
        SELECT vec_id, label, i AS pos,
               CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000 + 0.5)
                    AS BIGINT) AS vq
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS (
        SELECT label AS clabel, pos,
               CAST((2 * sum(vq) + count(*)) // (2 * count(*)) AS BIGINT) AS c4
        FROM ex GROUP BY label, pos
    ),
    dist AS (
        SELECT e.vec_id, e.label, c.clabel,
               sum((e.vq - c.c4) * (e.vq - c.c4)) AS d2
        FROM ex e JOIN cent c ON e.pos = c.pos
        GROUP BY e.vec_id, e.label, c.clabel
    ),
    pred AS (
        SELECT vec_id, label,
               CAST(min(d2 * 16 + clabel) % 16 AS INTEGER) AS pred_label
        FROM dist GROUP BY vec_id, label
    ),
    m AS (
        SELECT t.label,
               t.n_true, coalesce(p.n_pred, 0) AS n_pred,
               coalesce(tp.tp, 0) AS tp
        FROM (SELECT label, count(*) AS n_true FROM pred GROUP BY label) t
        LEFT JOIN (SELECT pred_label, count(*) AS n_pred
                   FROM pred GROUP BY pred_label) p ON p.pred_label = t.label
        LEFT JOIN (SELECT label, count(*) AS tp FROM pred
                   WHERE label = pred_label GROUP BY label) tp
               ON tp.label = t.label
    )
    SELECT label, CAST(n_true AS BIGINT) AS n_true,
           CAST(n_pred AS BIGINT) AS n_pred, CAST(tp AS BIGINT) AS tp,
           CAST(CASE WHEN n_pred = 0 THEN 0
                ELSE (2000 * tp + n_pred) // (2 * n_pred) END AS BIGINT)
               AS precision_milli,
           CAST((2000 * tp + n_true) // (2 * n_true) AS BIGINT)
               AS recall_milli,
           CAST((2 * 2000 * tp + (n_true + n_pred)) // (2 * (n_true + n_pred))
                AS BIGINT) AS f1_milli
    FROM m
    """,
    doc="Classifier EVALUATION — the metrics pass the ml_* training "
    "queries feed: a nearest-centroid classifier over the labeled "
    "embeddings, scored with the per-label confusion diagonal, "
    "precision, recall, and F1 (per mille). Entirely in exact integer "
    "space: embeddings quantize to 1e-4 grid ints, centroids are "
    "(2S + n) div (2n) integer half-up means, squared distances are "
    "integer sums (no float accumulation can flip an argmin near a "
    "tie), the argmin is min over the packed key d2*16 + label (a total "
    "order with the label as deterministic tie-break; labels are 0-9), "
    "and the metric ratios are (2A + B) div (2B). Shapes: one "
    "posexplode, the 640-row centroid model broadcast back, one "
    "(vec, candidate-label) aggregate, O(labels) rollups. F1 per label "
    "is exactly 2*TP/(n_true + n_pred) — no float harmonic mean.",
)
def ml_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        "label",
        "pos",
        # cast float32 -> double BEFORE scaling: engines promote a
        # float * int differently, and a single-precision product can
        # quantize to a different grid cell
        F.floor(F.col("v").cast("double") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("vq"),
    )
    cent = (
        ex.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.sum("vq").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "clabel",
            "pos",
            F.expr("CAST((2 * s + n) div (2 * n) AS BIGINT)").alias("c4"),
        )
    )
    diff = F.col("vq") - F.col("c4")
    dist = (
        ex.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    pred = dist.groupBy("vec_id", "label").agg(
        (F.min(F.col("d2") * 16 + F.col("clabel")) % 16)
        .cast("int")
        .alias("pred_label")
    )
    t = pred.groupBy("label").agg(F.count(F.lit(1)).alias("n_true"))
    p = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred")
    )
    tp = (
        pred.filter(F.col("label") == F.col("pred_label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    m = (
        t.join(p, "label", "left")
        .join(tp, "label", "left")
        .select(
            "label",
            "n_true",
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return m.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        F.expr(
            "CAST(CASE WHEN n_pred = 0 THEN 0"
            " ELSE (2000 * tp + n_pred) div (2 * n_pred) END AS BIGINT)"
        ).alias("precision_milli"),
        F.expr("CAST((2000 * tp + n_true) div (2 * n_true) AS BIGINT)").alias(
            "recall_milli"
        ),
        F.expr(
            "CAST((2 * 2000 * tp + (n_true + n_pred))"
            " div (2 * (n_true + n_pred)) AS BIGINT)"
        ).alias("f1_milli"),
    )


@register(
    "ml_naive_bayes_train",
    """
    WITH t AS (
        SELECT source AS label, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT label, tok, count(*) AS n_lt FROM t
        WHERE tok <> '' GROUP BY label, tok
    ),
    lt AS (SELECT label, sum(n_lt) AS n_l FROM c GROUP BY label),
    v AS (SELECT count(DISTINCT tok) AS v FROM c),
    ld AS (SELECT source AS label, count(*) AS n_docs_l FROM documents
           GROUP BY source),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT c.label, c.tok,
           CAST(c.n_lt AS BIGINT)                             AS n_lt,
           CAST((c.n_lt + 1) * 1000000 // (lt.n_l + v.v)
                AS BIGINT)                                    AS cond_micro,
           CAST(ld.n_docs_l * 1000 // nd.n_docs AS BIGINT)    AS prior_milli
    FROM c
    JOIN lt ON lt.label = c.label
    JOIN ld ON ld.label = c.label
    CROSS JOIN v CROSS JOIN nd
    """,
    doc="Multinomial naive-Bayes training in exact fixed point: "
    "class-conditional token probabilities with add-one smoothing "
    "((n_lt+1)*1e6 div (n_l+V)) and class priors in milli-units — "
    "count-based ML training is pure relational algebra, so unlike the "
    "GD-trained classifier (ml_quality_classifier_train, replayed "
    "round-by-round) the WHOLE training run is one hash-checked "
    "aggregate pass. Plan: one (label, tok) aggregate absorbs the "
    "token stream map-side; class totals and the vocabulary size "
    "derive from the count relation (no second corpus scan) and "
    "re-enter broadcast. Scoring is a broadcast-model join of these "
    "micro-unit log-free weights (the txt_bigram_lm_surprisal pattern).",
)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        F.col("source").alias("label"),
        F.explode(F.split("text", " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    c = t.groupBy("label", "tok").agg(F.count(F.lit(1)).alias("n_lt"))
    c = c.localCheckpoint(eager=True)  # bounded: |labels| x |vocab|
    lt = c.groupBy("label").agg(F.sum("n_lt").alias("n_l"))
    v = c.agg(F.countDistinct("tok").alias("v"))
    ld = d.groupBy(F.col("source").alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs_l")
    )
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        c.join(F.broadcast(lt), "label")
        .join(F.broadcast(ld), "label")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nd))
        .select(
            "label",
            "tok",
            F.col("n_lt").cast("long").alias("n_lt"),
            F.expr("(n_lt + 1) * 1000000 div (n_l + v)")
            .cast("long")
            .alias("cond_micro"),
            F.expr("n_docs_l * 1000 div n_docs")
            .cast("long")
            .alias("prior_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Round-8 additions: sorted-neighborhood dedup, weighted sampling,
# hard-negative mining, histogram split finding
# ---------------------------------------------------------------------------


@register(
    "ml_stump_split_finding",
    """
    WITH pts AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        FROM lineitem
    ),
    melted AS (
        SELECT 'quantity' AS feature, qty AS val, y FROM pts
        UNION ALL
        SELECT 'discount' AS feature, disc AS val, y FROM pts
    ),
    hist AS (
        SELECT feature, val,
               count(*) AS n_b,
               CAST(sum(y) AS HUGEINT) AS s_b
        FROM melted GROUP BY 1, 2
    ),
    cum AS (
        SELECT feature, val,
               sum(n_b) OVER w AS n_l,
               sum(s_b) OVER w AS s_l,
               sum(n_b) OVER (PARTITION BY feature) AS n_t,
               sum(s_b) OVER (PARTITION BY feature) AS s_t
        FROM hist
        WINDOW w AS (PARTITION BY feature ORDER BY val
                     ROWS UNBOUNDED PRECEDING)
    ),
    gains AS (
        SELECT feature, val AS threshold,
               (s_l * s_l) // n_l
                 + ((s_t - s_l) * (s_t - s_l)) // (n_t - n_l)
                 - (s_t * s_t) // n_t AS gain
        FROM cum WHERE n_l < n_t
    )
    SELECT feature, CAST(threshold AS BIGINT) AS threshold,
           CAST(gain // 1000000000 AS BIGINT) AS gain_1e9
    FROM (SELECT *, row_number() OVER (PARTITION BY feature
                                       ORDER BY gain DESC, threshold) AS rk
          FROM gains) t
    WHERE rk <= 1
    """,
    doc="Histogram-based best-split finding — one round of the split "
    "search inside every gradient-boosted-tree trainer (XGBoost/LightGBM "
    "hist mode): for each feature (l_quantity; l_discount in integer "
    "percent) and each candidate threshold t, the SSE reduction of "
    "splitting at val <= t, computed from per-bin (count, sum) "
    "histograms only — gain = S_L^2/n_L + S_R^2/n_R - S^2/n needs no "
    "sum of squares. All arithmetic exact: y in integer cents, sums as "
    "DECIMAL(38,0)/HUGEINT, quotients via true integer division (Spark "
    "`div` = DuckDB `//`), ties to the lowest threshold. Scale shape is "
    "the gradient-histogram pattern: ONE shuffle builds the per-(feature,"
    "bin) histogram (map-side partial agg collapses 100 TB of rows to "
    "#bins rows), the cumulative-sum window then runs over <=61 bins per "
    "feature — bounded regardless of data size.",
)
def ml_stump_split_finding(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("disc"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("y"),
    )
    melted = pts.select(
        F.expr("stack(2, 'quantity', qty, 'discount', disc)").alias(
            "feature", "val"
        ),
        "y",
    )
    hist = melted.groupBy("feature", "val").agg(
        F.count(F.lit(1)).alias("n_b"),
        F.sum("y").cast("decimal(38,0)").alias("s_b"),
    )
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("feature")
    cum = hist.select(
        "feature",
        "val",
        F.sum("n_b").over(w_cum).alias("n_l"),
        F.sum("s_b").over(w_cum).alias("s_l"),
        F.sum("n_b").over(w_tot).alias("n_t"),
        F.sum("s_b").over(w_tot).alias("s_t"),
    )
    # Floor division in PURE decimal: Spark's `div` operator always
    # returns BIGINT, and S^2/n already exceeds int64 at sf0.1 (~8e18).
    # For nonnegative decimals a div b == (a - a % b) / b, and that
    # division's result is exactly integral, so the decimal divide's
    # HALF_UP rounding is the identity — exact floor division with no
    # long anywhere.
    def _idiv(a: str, b: str) -> str:
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS DECIMAL(38,0))"

    gains = cum.filter(F.col("n_l") < F.col("n_t")).select(
        "feature",
        F.col("val").alias("threshold"),
        F.expr(
            _idiv("s_l * s_l", "n_l")
            + " + "
            + _idiv("(s_t - s_l) * (s_t - s_l)", "n_t - n_l")
            + " - "
            + _idiv("s_t * s_t", "n_t")
        ).alias("gain"),
    )
    rk = F.row_number().over(
        Window.partitionBy("feature").orderBy(
            F.col("gain").desc(), "threshold"
        )
    )
    return (
        gains.withColumn("rk", rk)
        .filter(F.col("rk") <= 1)
        .select(
            "feature",
            F.col("threshold").cast("long").alias("threshold"),
            # The argmax ranks on the FULL-precision integer gain; only the
            # reported value is coarsened (// 1e9) so it fits BIGINT on
            # both engines at any scale (gain <= S^2/n ~ 8e24 cents^2 at
            # the 100 TB point -> 8e15 after the division, inside 2^53 and
            # int64 alike — no decimal->double conversion, the tpch_q9
            # 1-ulp divergence class never arises).
            F.expr(
                "CAST((gain - gain % 1000000000) / 1000000000 AS BIGINT)"
            ).alias("gain_1e9"),
        )
    )


def _roc_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROC sufficient statistics ``(source, n_docs, n_pos,
    r2_pos)`` of the n_chars score against the lang = 'en' label: ties
    collapse to per-(source, score) count pairs, and ``r2_pos`` is the
    positives' doubled midrank sum."""
    d = _t(spark, sf_dir, "documents")
    pts = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("cnt_pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = pts.select(
        "source",
        "cnt",
        "cnt_pos",
        (2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1).alias(
            "r2"
        ),
    )
    return rk.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.sum("cnt_pos").cast("long").alias("n_pos"),
        F.sum(F.col("cnt_pos") * F.col("r2")).cast("long").alias("r2_pos"),
    )


# The oracle twin of ``_roc_rank_stats``: CTEs ``pts``, ``rk`` and ``agg``.
_ROC_RANK_STATS_SQL = """pts AS (
        SELECT source, n_chars,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_pos
        FROM documents GROUP BY source, n_chars
    ),
    rk AS (
        SELECT source, cnt, cnt_pos,
               2 * coalesce(sum(cnt) OVER (
                       PARTITION BY source ORDER BY n_chars
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) + cnt + 1 AS r2
        FROM pts
    ),
    agg AS (
        SELECT source,
               CAST(sum(cnt) AS BIGINT)           AS n_docs,
               CAST(sum(cnt_pos) AS BIGINT)       AS n_pos,
               CAST(sum(cnt_pos * r2) AS BIGINT)  AS r2_pos
        FROM rk GROUP BY source
    )"""


@register(
    "ml_roc_auc",
    f"""
    WITH {_ROC_RANK_STATS_SQL}
    SELECT source, n_docs, n_pos,
           CASE WHEN n_pos = 0 OR n_pos = n_docs THEN NULL
                ELSE CAST((r2_pos - n_pos * (n_pos + 1)) * 1000000
                          // (2 * n_pos * (n_docs - n_pos)) AS BIGINT)
           END AS auc_micro
    FROM agg
    """,
    doc="Per-source ROC-AUC of a score column (n_chars) against a binary "
    "relevance label (lang = 'en'), via the rank statistic AUC = "
    "(R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with midrank tie "
    "handling — the threshold-free ranking-quality counterpart of "
    "ml_eval_confusion's fixed-threshold precision/recall. EXACT in "
    "integers end-to-end: ties collapse to per-(group, score) count "
    "pairs first (the 100 TB move — the rank window runs over DISTINCT "
    "scores per group, not rows, after one partial-aggregated shuffle), "
    "the doubled midrank 2*cum_before + cnt + 1 keeps half-ranks "
    "integral, and the final division is integer floor-div to micro "
    "units. Degenerate groups (all-positive / all-negative) yield NULL "
    "rather than a division error under ANSI mode. Plan: one exchange "
    "on (source, n_chars) for the count pass, a per-source window over "
    "the collapsed score points, one grouped fold.",
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _roc_rank_stats(spark, sf_dir).select(
        "source",
        "n_docs",
        "n_pos",
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_pos") == F.col("n_docs")), F.lit(None)
        )
        .otherwise(
            F.expr(
                "(r2_pos - n_pos * (n_pos + 1)) * 1000000"
                " div (2 * n_pos * (n_docs - n_pos))"
            )
        )
        .cast("long")
        .alias("auc_micro"),
    )


@register(
    "ml_calibration_bins",
    """
    WITH scored AS (
        SELECT CAST(n_chars AS BIGINT) * 1000
               // (length(text) - length(replace(text, ' ', '')) + 1)
                   AS mtl_milli,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    binned AS (
        SELECT least(greatest((mtl_milli - 2000) // 500, 0), 9) AS bin_id,
               mtl_milli, pos
        FROM scored
    )
    SELECT CAST(bin_id AS BIGINT)  AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST((2 * sum(mtl_milli) + count(*)) // (2 * count(*))
                AS BIGINT) AS mean_score_milli,
           CAST((2000 * sum(pos) + count(*)) // (2 * count(*))
                AS BIGINT) AS pos_rate_milli
    FROM binned GROUP BY bin_id
    """,
    doc="Calibration / reliability table for a deterministic integer "
    "scorer (mean token length in milli-units = n_chars*1000 div "
    "n_tokens, the x1 feature of the round-5 quality classifier) "
    "against the lang='en' label: 10 fixed-width score bins, per-bin "
    "count, empirical positive rate and mean score — the reliability-"
    "diagram companion to ml_roc_auc (AUC measures ranking, this "
    "measures probability calibration; both are pure relational "
    "reductions). All-integer pipeline: the milli-unit score and both "
    "per-bin ratios use the (2s+n) div (2n) round-half-up identity, so "
    "the hash is engine-exact with no float in sight. One map-side "
    "projection + one grouped fold over 10 keys — the flat 100 TB "
    "shape; the fixed grid (vs data-dependent deciles) is what keeps "
    "it single-pass (agg_fixed_grid_quantiles documents the exact-"
    "order-stat alternative when adaptive bins are required).",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # Integer `div` keeps the score exact (no double rounding); the SQL
    # string is the single definition — a prior Column-API duplicate of
    # the same arithmetic was removed (advice r9) so the two cannot drift.
    scored = d.select(
        F.expr(
            "CAST(n_chars AS BIGINT) * 1000"
            " div (length(text) - length(replace(text, ' ', '')) + 1)"
        ).alias("mtl_milli"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    binned = scored.select(
        F.least(
            F.greatest(F.expr("(mtl_milli - 2000) div 500"), F.lit(0)), F.lit(9)
        ).alias("bin_id"),
        "mtl_milli",
        "pos",
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("CAST((2 * sum(mtl_milli) + count(*)) div (2 * count(*)) AS BIGINT)")
        .alias("mean_score_milli"),
        F.expr("CAST((2000 * sum(pos) + count(*)) div (2 * count(*)) AS BIGINT)")
        .alias("pos_rate_milli"),
    ).select(
        F.col("bin_id").cast("long").alias("bin_id"),
        "n_docs",
        "n_pos",
        "mean_score_milli",
        "pos_rate_milli",
    )


def _best_stump_df(pts: DataFrame, val_col: str, y_col: str) -> DataFrame:
    """One histogram-mode best-split search: 1-row DataFrame with
    (threshold, n_l, n_r, s_l, s_r, gain) for splitting ``val_col <=
    threshold`` to minimize SSE of ``y_col``. Same exact-decimal
    arithmetic as ml_stump_split_finding (pure-decimal floor division;
    sums may be negative — only their squares enter the gain)."""
    hist = pts.groupBy(F.col(val_col).alias("val")).agg(
        F.count(F.lit(1)).alias("n_b"),
        # Widen before aggregating (advice r9): sum decimal, not int64 —
        # SUM(decimal(28,0)) accumulates directly in decimal(38,0).
        F.sum(F.col(y_col).cast("decimal(28,0)"))
        .cast("decimal(38,0)")
        .alias("s_b"),
    )
    # The histogram is bounded (<= #distinct bins, 61 for these grids);
    # collapse it to ONE aggregate row and compute the prefix sums with
    # array higher-order functions — no Window node at all, so the
    # registry-wide no-global-window sweep holds with zero exceptions
    # (a windowed formulation here plans an Exchange SinglePartition of
    # the histogram rows; the O(bins^2) slice-aggregate over <= 61
    # elements is noise by comparison).
    arr = hist.agg(
        F.array_sort(
            F.collect_list(F.struct("val", "n_b", "s_b"))
        ).alias("a")
    )
    cum_arr = arr.select(
        F.expr(
            "transform(a, (s, i) -> struct("
            " s.val AS val,"
            " aggregate(slice(a, 1, i + 1), 0L,"
            "           (acc, t) -> acc + t.n_b) AS n_l,"
            " aggregate(slice(a, 1, i + 1), CAST(0 AS DECIMAL(38,0)),"
            "           (acc, t) -> CAST(acc + t.s_b AS DECIMAL(38,0)))"
            "     AS s_l))"
        ).alias("c"),
        F.expr("aggregate(a, 0L, (acc, t) -> acc + t.n_b)").alias("n_t"),
        F.expr(
            "aggregate(a, CAST(0 AS DECIMAL(38,0)),"
            " (acc, t) -> CAST(acc + t.s_b AS DECIMAL(38,0)))"
        ).alias("s_t"),
    )
    cum = cum_arr.select(
        F.explode("c").alias("s"), "n_t", "s_t"
    ).select(
        F.col("s.val").alias("val"),
        F.col("s.n_l").alias("n_l"),
        F.col("s.s_l").alias("s_l"),
        "n_t",
        "s_t",
    )

    def _idiv(a: str, b: str) -> str:
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS DECIMAL(38,0))"

    gains = cum.filter(F.col("n_l") < F.col("n_t")).select(
        F.col("val").alias("threshold"),
        "n_l",
        (F.col("n_t") - F.col("n_l")).alias("n_r"),
        "s_l",
        (F.col("s_t") - F.col("s_l")).alias("s_r"),
        F.expr(
            _idiv("s_l * s_l", "n_l")
            + " + "
            + _idiv("(s_t - s_l) * (s_t - s_l)", "n_t - n_l")
            + " - "
            + _idiv("s_t * s_t", "n_t")
        ).alias("gain"),
    )
    return (
        gains.orderBy(F.col("gain").desc(), "threshold").limit(1)
    )


_STUMP_STAGE_SQL = """
    h{i} AS (
        SELECT {val} AS val, count(*) AS n_b,
               CAST(sum({y}) AS HUGEINT) AS s_b
        FROM {src} GROUP BY {val}
    ),
    c{i} AS (
        SELECT val,
               sum(n_b) OVER w AS n_l, sum(s_b) OVER w AS s_l,
               sum(n_b) OVER () AS n_t, sum(s_b) OVER () AS s_t
        FROM h{i}
        WINDOW w AS (ORDER BY val ROWS UNBOUNDED PRECEDING)
    ),
    g{i} AS (
        SELECT val AS threshold, n_l, n_t - n_l AS n_r,
               s_l, s_t - s_l AS s_r,
               (s_l * s_l) // n_l
                 + ((s_t - s_l) * (s_t - s_l)) // (n_t - n_l)
                 - (s_t * s_t) // n_t AS gain
        FROM c{i} WHERE n_l < n_t
    ),
    b{i} AS (SELECT * FROM g{i} ORDER BY gain DESC, threshold LIMIT 1)"""

_STUMP_EMIT_SQL = """
    SELECT {stage} AS stage, '{feature}' AS feature,
           CAST(threshold AS BIGINT)      AS threshold,
           CAST(n_l AS BIGINT)            AS n_left,
           CAST(n_r AS BIGINT)            AS n_right,
           CAST(s_l AS BIGINT)            AS s_left_cents,
           CAST(s_r AS BIGINT)            AS s_right_cents,
           CAST(greatest(gain, 0) // 1000000000 AS BIGINT) AS gain_1e9
    FROM b{i}"""


@register(
    "ml_boosted_stumps",
    "WITH pts AS (\n"
    "    SELECT CAST(l_quantity AS BIGINT) AS qty,\n"
    "           CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc,\n"
    "           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y\n"
    "    FROM lineitem\n"
    "),"
    + _STUMP_STAGE_SQL.format(i=1, val="qty", y="y", src="pts")
    + ",\n    p1 AS (SELECT threshold AS t1, s_l // n_l AS pl,"
    " s_r // n_r AS pr FROM b1),\n"
    "    resid AS (\n"
    "        SELECT p.disc,\n"
    "               CAST(p.y - CASE WHEN p.qty <= q.t1 THEN q.pl"
    " ELSE q.pr END AS BIGINT) AS rr\n"
    "        FROM pts p, p1 q\n"
    "    ),"
    + _STUMP_STAGE_SQL.format(i=2, val="disc", y="rr", src="resid")
    + _STUMP_EMIT_SQL.format(stage=1, feature="quantity", i=1)
    + "\n    UNION ALL"
    + _STUMP_EMIT_SQL.format(stage=2, feature="discount", i=2),
    doc="Two rounds of gradient boosting with histogram-mode decision "
    "stumps (squared loss): stage 1 fits the best l_quantity split to "
    "the price target, stage 2 fits the best l_discount split to the "
    "stage-1 RESIDUALS — the functional-gradient sequencing that "
    "distinguishes a boosted ensemble from ml_stump_split_finding's "
    "independent per-feature search. Leaf predictions are exact floor-"
    "division means of POSITIVE stage-1 sums (Spark div and DuckDB // "
    "agree on nonnegative operands; stage-2 residual sums may be "
    "negative and are only ever SQUARED in the gain, with the emitted "
    "gain clamped at 0 before coarsening so the +-2 floor error can "
    "never put a negative through the trunc-vs-floor divergence). All "
    "sufficient statistics are DECIMAL(38,0)/HUGEINT; the per-stage "
    "histogram is the only data-sized exchange (map-side partials "
    "collapse rows to <=61 bins), the cumulative window runs over a "
    "single bounded aggregate row (array_sort + posexplode, no "
    "SinglePartition exchange of row data), and the stage-1 model "
    "reaches stage 2 as a 1-row broadcast — two passes over the fact "
    "table total, the gradient-histogram discipline of "
    "XGBoost/LightGBM hist mode at any scale.",
)
def ml_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("disc"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("y"),
    )
    # r13: b1 is a ONE-ROW aggregate consumed twice (the residual
    # broadcast AND the emitted union row); without the checkpoint the
    # whole stage-1 stump search — a full scan + threshold windows — ran
    # once per consumer in the final plan (Catalyst does not CSE
    # DataFrame subtrees): 3 scans of lineitem down to 2.
    b1 = _best_stump_df(pts, "qty", "y").localCheckpoint(eager=True)
    p1 = b1.select(
        F.col("threshold").alias("t1"),
        F.expr("CAST((s_l - s_l % n_l) / n_l AS BIGINT)").alias("pl"),
        F.expr("CAST((s_r - s_r % n_r) / n_r AS BIGINT)").alias("pr"),
    )
    resid = pts.crossJoin(F.broadcast(p1)).select(
        "disc",
        (
            F.col("y")
            - F.when(F.col("qty") <= F.col("t1"), F.col("pl")).otherwise(
                F.col("pr")
            )
        ).alias("rr"),
    )
    b2 = _best_stump_df(resid, "disc", "rr")

    def _emit(b: DataFrame, stage: int, feature: str) -> DataFrame:
        return b.select(
            F.lit(stage).cast("int").alias("stage"),
            F.lit(feature).alias("feature"),
            F.col("threshold").cast("long").alias("threshold"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("n_r").cast("long").alias("n_right"),
            F.col("s_l").cast("long").alias("s_left_cents"),
            F.col("s_r").cast("long").alias("s_right_cents"),
            F.expr(
                "CAST((greatest(gain, CAST(0 AS DECIMAL(38,0)))"
                " - greatest(gain, CAST(0 AS DECIMAL(38,0))) % 1000000000)"
                " / 1000000000 AS BIGINT)"
            ).alias("gain_1e9"),
        )

    return _emit(b1, 1, "quantity").unionByName(_emit(b2, 2, "discount"))






# NDCG@10 fixed-point discounts: w_i = round(1e6 / log2(i + 1)) reuses the
# adamic-adar inverse-log table (pipeline_common._AA_LOG2_MICRO, position
# i+1); _NDCG_CUM[j] = sum of the first j discounts is the ideal-DCG
# lookup for a source with j <= 10 positives.
_NDCG_K = 10
_NDCG_W = [_AA_LOG2_MICRO[i] for i in range(1, _NDCG_K + 1)]
_NDCG_CUM = [0]
for _w in _NDCG_W:
    _NDCG_CUM.append(_NDCG_CUM[-1] + _w)
_NDCG_W_SQL = ", ".join(str(v) for v in _NDCG_W)
_NDCG_CUM_SQL = ", ".join(str(v) for v in _NDCG_CUM)


@register(
    "ml_pr_auc",
    """
    WITH pts AS (
        SELECT source, n_chars,
               CAST(count(*) AS HUGEINT) AS cnt,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS HUGEINT) AS cnt_pos
        FROM documents GROUP BY source, n_chars
    ),
    cum AS (
        SELECT source, cnt_pos,
               sum(cnt) OVER (
                   PARTITION BY source ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nk,
               sum(cnt_pos) OVER (
                   PARTITION BY source ORDER BY n_chars DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tpk
        FROM pts
    ),
    agg AS (
        SELECT source,
               CAST(max(nk) AS BIGINT)  AS n_docs,
               CAST(max(tpk) AS BIGINT) AS n_pos,
               sum(cnt_pos * tpk * 1000000 // nk) AS s
        FROM cum GROUP BY source
    )
    SELECT source, n_docs, n_pos,
           CASE WHEN n_pos = 0 THEN NULL
                ELSE CAST(s // n_pos AS BIGINT) END AS pr_auc_micro
    FROM agg
    """,
    doc="Per-source precision-recall AUC (average precision with ties "
    "collapsed to score points) of the n_chars score against the "
    "lang='en' label — the imbalanced-label companion of ml_roc_auc "
    "(ROC-AUC is inflated by abundant true negatives; AP weights by the "
    "positive class only): AP = sum_k (R_k - R_(k-1)) * P_k over "
    "distinct scores DESCENDING = sum_k cnt_pos_k * TP_k / N_k / n_pos. "
    "EXACT in integers end-to-end with the same 100 TB shape as the ROC "
    "twin: collapse to per-(source, score) count pairs first (one "
    "partial-aggregated exchange), ONE per-source cumulative window "
    "over the collapsed score points, per-term floor to micro units in "
    "HUGEINT/decimal (widen-before-aggregate: cnt_pos*TP*1e6 exceeds "
    "int64 at corpus scale), integer floor-div by n_pos at the end. "
    "All-negative sources yield NULL rather than an ANSI error.",
)
def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    pts = d.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("cnt_pos"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pts.select(
        "source",
        "cnt_pos",
        F.sum("cnt").over(w).alias("nk"),
        F.sum("cnt_pos").over(w).alias("tpk"),
    )
    agg = cum.groupBy("source").agg(
        F.max("nk").cast("long").alias("n_docs"),
        F.max("tpk").cast("long").alias("n_pos"),
        F.sum(
            F.expr(
                "CAST((cnt_pos * tpk * 1000000"
                " - (cnt_pos * tpk * 1000000) % nk) / nk AS DECIMAL(38,0))"
            )
        ).alias("s"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_pos",
        F.when(F.col("n_pos") == 0, F.lit(None))
        .otherwise(F.expr("CAST((s - s % n_pos) / n_pos AS BIGINT)"))
        .cast("long")
        .alias("pr_auc_micro"),
    )


@register(
    "ml_ndcg_at_k",
    f"""
    WITH rk AS (
        SELECT source,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
               ) AS pos
        FROM documents
    ),
    agg AS (
        SELECT source,
               CAST(sum(CASE WHEN pos <= {_NDCG_K} AND rel = 1 THEN
                   ([{_NDCG_W_SQL}])[CAST(pos AS INTEGER)] ELSE 0 END)
                   AS BIGINT) AS dcg_micro,
               CAST(sum(rel) AS BIGINT) AS n_pos
        FROM rk GROUP BY source
    )
    SELECT source, n_pos, dcg_micro,
           CASE WHEN n_pos = 0 THEN NULL
                ELSE CAST(dcg_micro * 1000000 // ([{_NDCG_CUM_SQL}])
                     [CAST(least(n_pos, {_NDCG_K}) AS INTEGER) + 1]
                     AS BIGINT) END AS ndcg_micro
    FROM agg
    """,
    doc="Per-source NDCG@10 of the n_chars ranking against the lang='en' "
    "relevance label — the position-discounted ranking metric (ROC/AP "
    "are position-blind above the cut; NDCG pays most for the first "
    "screens of results). Discounts 1/log2(i+1) come from the SAME "
    "64-entry fixed-point table as Adamic-Adar (positions 2..11), so "
    "no float log reaches either engine; the ideal DCG is a literal "
    "11-entry prefix-sum lookup at min(n_pos, 10) — both are integer "
    "micro units and the final ratio is integer floor-div. The ranking "
    "breaks score ties on doc_id, so the per-source row_number window "
    "(PARTITIONED — never global) is deterministic on both engines. "
    "100 TB shape: one exchange on source for the window, one grouped "
    "fold; at scale the window input can be pre-pruned to per-source "
    "top-k by any per-partition k-selector since only ranks <= 10 "
    "contribute.",
)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    rk = d.select(
        "source",
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("pos"),
    )
    agg = rk.groupBy("source").agg(
        F.sum(
            F.when(
                (F.col("pos") <= _NDCG_K) & (F.col("rel") == 1),
                F.expr(f"element_at(array({_NDCG_W_SQL}), CAST(pos AS INT))"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("dcg_micro"),
        F.sum("rel").cast("long").alias("n_pos"),
    )
    return agg.select(
        "source",
        "n_pos",
        "dcg_micro",
        F.when(F.col("n_pos") == 0, F.lit(None))
        .otherwise(
            F.expr(
                f"dcg_micro * 1000000 div element_at("
                f"array({_NDCG_CUM_SQL}),"
                f" CAST(least(n_pos, {_NDCG_K}) AS INT) + 1)"
            )
        )
        .cast("long")
        .alias("ndcg_micro"),
    )


@register(
    "ml_kmeans_silhouette",
    f"""
    WITH {_kmeans_assign_sql("8")},
    d2all AS (
        SELECT a2.vec_id, a2.cid AS own, c1.cid AS cand,
               floor(list_distance(a2.e, c1.e) * 1e9 + 0.5) / 1e9 AS d
        FROM a2 CROSS JOIN c1
    ),
    ranked AS (
        SELECT vec_id, own, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cand)
                   AS rn
        FROM d2all
    ),
    ab AS (
        SELECT vec_id, any_value(own) AS cid,
               max(CASE WHEN rn = 1 THEN d END) AS a,
               max(CASE WHEN rn = 2 THEN d END) AS b
        FROM ranked GROUP BY vec_id
    ),
    s AS (
        SELECT cid,
               CASE WHEN greatest(a, b) = 0 THEN 0
                    ELSE CAST(floor((b - a) * 1000000 / greatest(a, b)
                              + 0.5) AS BIGINT) END AS s_micro
        FROM ab
    )
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(s_micro) AS BIGINT) AS sum_s_micro
    FROM s GROUP BY cid
    """,
    doc="Simplified (centroid-based) silhouette per k-means cluster — the "
    "cluster-quality metric completing the k-means family (emb_kmeans_"
    "lloyd trains, dedup_semantic consumes, this EVALUATES; its oracle "
    "composes on the same k-means replay, _kmeans_assign_sql): for every "
    "vector, a = distance to its own centroid, b = distance to the "
    "second-nearest centroid, s = (b - a) / max(a, b) in [-1, 1] — the "
    "classic silhouette with the O(n^2) mean-pairwise distances "
    "replaced by centroid distances (Hruschka et al.'s simplified "
    "form), which is what makes it computable in ONE map-side pass at "
    "100 TB: the k x dim centroid model is driver-held (bounded by "
    "contract, same as the trainer), each vector scores all k "
    "centroids in a sorted literal array (a = element 0, b = element "
    "1 — no window, no join), and the only exchange is the final "
    "k-row grouped fold. Distances use the shared 9-dp half-up left-"
    "fold convention so both engines rank identically; per-vector s "
    "is floored to integer micro units BEFORE the cluster sum, so the "
    "output is exact integers (sum emitted, not mean — integer "
    "division of negative sums rounds differently across engines).",
)
def ml_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import (
        _euclid,
        assign_to_centroids,
        refine_centroids,
    )

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    seeds = e.orderBy("vec_id").limit(8).collect()
    c0 = {i: [float(v) for v in r["e"]] for i, r in enumerate(seeds)}
    assigned = assign_to_centroids(e, c0, "e")
    c1 = refine_centroids(assigned, "e")
    near2 = F.array_sort(
        F.array(
            *[
                F.struct(
                    _euclid(F.col("e"), cent).alias("d"),
                    F.lit(int(cid)).alias("cid"),
                )
                for cid, cent in sorted(c1.items())
            ]
        )
    )
    ab = e.select(
        near2[0]["cid"].alias("cid"),
        near2[0]["d"].alias("a"),
        near2[1]["d"].alias("b"),
    )
    s = ab.select(
        "cid",
        F.when(F.greatest("a", "b") == 0.0, F.lit(0))
        .otherwise(
            F.floor(
                (F.col("b") - F.col("a")) * 1000000.0
                / F.greatest("a", "b")
                + 0.5
            )
        )
        .cast("long")
        .alias("s_micro"),
    )
    return s.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("s_micro").cast("long").alias("sum_s_micro"),
    ).select(
        F.col("cid").cast("long").alias("cluster_id"),
        "n_vecs",
        "sum_s_micro",
    )


@register(
    "ml_cohen_kappa",
    """
    WITH scored AS (
        SELECT CASE WHEN CAST(n_chars AS BIGINT) * 1000
                    // (length(text) - length(replace(text, ' ', '')) + 1)
                    >= 5500 THEN 1 ELSE 0 END AS pred,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    g AS (
        SELECT count(*) AS n,
               CAST(sum(pred * pos) AS BIGINT)             AS tp,
               CAST(sum(pred * (1 - pos)) AS BIGINT)       AS fp,
               CAST(sum((1 - pred) * pos) AS BIGINT)       AS fn
        FROM scored
    )
    SELECT CAST(n AS BIGINT)            AS n_docs,
           tp, fp, fn,
           CAST(n - tp - fp - fn AS BIGINT) AS tn,
           CAST(floor(
               ((tp + (n - tp - fp - fn)) * 1.0 / n
                - ((tp + fp) * 1.0 * (tp + fn)
                   + (fn + (n - tp - fp - fn)) * 1.0 * (fp + (n - tp - fp - fn)))
                  / (1.0 * n * n))
               / (1 - ((tp + fp) * 1.0 * (tp + fn)
                   + (fn + (n - tp - fp - fn)) * 1.0 * (fp + (n - tp - fp - fn)))
                  / (1.0 * n * n))
               * 1000000 + 0.5) AS BIGINT) AS kappa_micro
    FROM g
    """,
    doc="Cohen's kappa chance-corrected agreement between the deterministic "
    "mean-token-length classifier (mtl_milli >= 5500, the median split of "
    "the round-5 quality scorer) and the lang='en' label (Cohen 1960, "
    "public): kappa = (p_o - p_e)/(1 - p_e) with p_e from the marginal "
    "products — the agreement metric that exposes when ml_eval_confusion's "
    "raw accuracy is just class imbalance. ONE ungrouped "
    "partial-aggregated fold produces the full confusion mass (tp/fp/fn, "
    "tn by complement); kappa is identical-tree doubles over those exact "
    "integers, micro-floored once. Map-side partials, one exchange of "
    "four counters — the flattest possible 100 TB shape.",
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.when(
            F.expr(
                "CAST(n_chars AS BIGINT) * 1000"
                " div (length(text) - length(replace(text, ' ', '')) + 1)"
            )
            >= 5500,
            1,
        )
        .otherwise(0)
        .alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    g = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pred") * F.col("pos")).cast("long").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("pos"))).cast("long").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("pos")).cast("long").alias("fn"),
    )
    n, tp, fp, fn = F.col("n"), F.col("tp"), F.col("fp"), F.col("fn")
    tn = n - tp - fp - fn
    po = (tp + tn) * 1.0 / n
    pe = ((tp + fp) * 1.0 * (tp + fn) + (fn + tn) * 1.0 * (fp + tn)) / (
        1.0 * n * n
    )
    return g.select(
        n.cast("long").alias("n_docs"),
        tp,
        fp,
        fn,
        tn.cast("long").alias("tn"),
        F.floor((po - pe) / (1 - pe) * 1_000_000 + 0.5)
        .cast("long")
        .alias("kappa_micro"),
    )


@register(
    "ml_lift_gain_deciles",
    """
    WITH scored AS (
        SELECT CAST(n_chars AS BIGINT) * 1000
               // (length(text) - length(replace(text, ' ', '')) + 1)
                   AS mtl_milli,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    pts AS (
        SELECT mtl_milli,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(pos) AS BIGINT) AS cnt_pos
        FROM scored GROUP BY mtl_milli
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(cnt_pos) AS BIGINT) AS p FROM pts),
    rk AS (
        SELECT mtl_milli, cnt, cnt_pos,
               coalesce(sum(cnt) OVER (ORDER BY mtl_milli DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM pts
    ),
    seg AS (
        SELECT d, cnt, cnt_pos, cb, n, p,
               greatest(cb + 1, (d * n + 9) // 10 + 1)      AS seg_lo,
               least(cb + cnt, ((d + 1) * n + 9) // 10)     AS seg_hi
        FROM rk, tot,
             unnest(generate_series(CAST((10 * cb) // n AS BIGINT),
                                    CAST((10 * (cb + cnt - 1)) // n
                                         AS BIGINT))) AS t(d)
    ),
    byd AS (
        SELECT d AS decile,
               CAST(sum(seg_hi - seg_lo + 1) AS BIGINT) AS n_docs,
               CAST(sum(greatest(least(seg_hi, cb + cnt_pos) - seg_lo + 1,
                                 0)) AS BIGINT) AS n_pos,
               max(n) AS n, max(p) AS p
        FROM seg GROUP BY d
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
           CAST(sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_pos,
           CAST((2000 * sum(n_pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + p)
               // (2 * p) AS BIGINT) AS gain_milli,
           CAST(floor(n_pos * 1.0 * n / (n_docs * 1.0 * p) * 1000 + 0.5)
               AS BIGINT) AS lift_milli
    FROM byd
    """,
    doc="Exact decile lift / cumulative-gains table for the deterministic "
    "mtl_milli scorer against the lang='en' label — the campaign-"
    "targeting companion of ml_roc_auc (AUC summarizes the whole "
    "ranking; the gains table says what the TOP 10/20/...% buys). "
    "Ranking ties inside one score value are broken POSITIVES-FIRST "
    "(the optimistic-gains convention, stated in the contract), which "
    "is what makes the table computable from collapsed (score, cnt, "
    "cnt_pos) points by pure rank arithmetic: each score point spans "
    "ranks [cb+1, cb+cnt], its positives the prefix [cb+1, cb+cnt_pos], "
    "and each point is exploded to only the <= 10 deciles it overlaps. "
    "NO row-level global sort exists anywhere: the cumulative-before "
    "counts ride banded_running_sum's triangular band decomposition "
    "(one row per distinct score = one band; the operator doc states "
    "the global-window equivalence the oracle uses), and the final "
    "10-row cumulative is another triangular self-join. Scale: one "
    "partial-aggregated exchange collapses the corpus to distinct "
    "scores (bounded by score granularity, not rows), everything after "
    "is arithmetic over that bounded relation.",
)
def ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import banded_running_sum

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.expr(
            "CAST(n_chars AS BIGINT) * 1000"
            " div (length(text) - length(replace(text, ' ', '')) + 1)"
        ).alias("mtl_milli"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    pts = scored.groupBy("mtl_milli").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("cnt_pos"),
    )
    tot = pts.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_pos").cast("long").alias("p"),
    )
    rk = banded_running_sum(
        pts, "mtl_milli", [F.col("mtl_milli").desc()], "cnt",
        out_col="cum", descending=True,
    ).withColumn("cb", F.col("cum") - F.col("cnt"))
    seg = (
        rk.crossJoin(F.broadcast(tot))
        .select(
            "cnt", "cnt_pos", "cb", "n", "p",
            F.explode(
                F.sequence(
                    F.expr("(10 * cb) div n"),
                    F.expr("(10 * (cb + cnt - 1)) div n"),
                )
            ).alias("d"),
        )
        .select(
            "d", "cnt_pos", "cb", "n", "p",
            F.greatest(F.col("cb") + 1, F.expr("(d * n + 9) div 10 + 1")).alias(
                "seg_lo"
            ),
            F.least(
                F.col("cb") + F.col("cnt"), F.expr("((d + 1) * n + 9) div 10")
            ).alias("seg_hi"),
        )
    )
    byd = seg.groupBy(F.col("d").alias("decile")).agg(
        F.sum(F.col("seg_hi") - F.col("seg_lo") + 1).cast("long").alias("n_docs"),
        F.sum(
            F.greatest(
                F.least(F.col("seg_hi"), F.col("cb") + F.col("cnt_pos"))
                - F.col("seg_lo")
                + 1,
                F.lit(0),
            )
        )
        .cast("long")
        .alias("n_pos"),
        F.max("n").alias("n"),
        F.max("p").alias("p"),
    )
    # 10-row cumulative via the same triangular decomposition (one band
    # per decile) — no SinglePartition window even here.
    cum = banded_running_sum(
        byd, "decile", [F.col("decile")], "n_pos",
        out_col="cum_pos", descending=False,
    )
    return cum.select(
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "n_pos",
        F.col("cum_pos").cast("long").alias("cum_pos"),
        F.expr("CAST((2000 * cum_pos + p) div (2 * p) AS BIGINT)").alias(
            "gain_milli"
        ),
        F.floor(
            F.col("n_pos") * 1.0 * F.col("n") / (F.col("n_docs") * 1.0 * F.col("p"))
            * 1000
            + 0.5
        )
        .cast("long")
        .alias("lift_milli"),
    )


@register(
    "ml_brier_decomposition",
    """
    WITH scored AS (
        SELECT least(greatest((CAST(n_chars AS BIGINT) * 1000
                   // (length(text) - length(replace(text, ' ', '')) + 1)
                   - 4500) // 20, 0), 100) AS p_centi,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    bins AS (
        SELECT p_centi,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(y) AS BIGINT)   AS pos_b
        FROM scored GROUP BY p_centi
    ),
    tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
                   CAST(sum(pos_b) AS BIGINT) AS p FROM bins),
    contrib AS (
        SELECT n_b, pos_b, n, p,
               p_centi * p_centi * n_b - 200 * p_centi * pos_b
                   + 10000 * pos_b AS sq_term,
               CAST(floor(100.0 * (p_centi * n_b - 100.0 * pos_b)
                          * (p_centi * n_b - 100.0 * pos_b) / n_b)
                    AS BIGINT) AS rel_b,
               CAST(floor(1000000.0 * (pos_b - n_b * (p * 1.0 / n))
                          * (pos_b - n_b * (p * 1.0 / n)) / n_b)
                    AS BIGINT) AS res_b
        FROM bins, tot
    )
    SELECT CAST(max(n) AS BIGINT)                    AS n_docs,
           CAST(max(p) AS BIGINT)                    AS n_pos,
           CAST(count(*) AS BIGINT)                  AS n_bins,
           CAST((200 * sum(sq_term) + max(n)) // (2 * max(n)) AS BIGINT)
               AS brier_micro,
           CAST(sum(rel_b) // max(n) AS BIGINT)      AS reliability_micro,
           CAST(sum(res_b) // max(n) AS BIGINT)      AS resolution_micro,
           CAST(floor(1000000.0 * (max(p) * 1.0 / max(n))
                      * (1 - max(p) * 1.0 / max(n)) + 0.5) AS BIGINT)
               AS uncertainty_micro
    FROM contrib
    """,
    doc="Brier score + Murphy (1973) reliability/resolution/uncertainty "
    "decomposition for a deterministic centi-probability forecast "
    "(p_centi = clamp((mtl_milli - 4500) div 20, 0, 100)) of lang='en' "
    "— the proper-scoring-rule companion of ml_calibration_bins: the "
    "same reliability the diagram shows, as one number, plus the "
    "resolution the diagram can't. Cross-engine determinism: the Brier "
    "term is EXACT integers end-to-end (per-bin sq_term, round-half-up "
    "div); the two decomposition sums quantize PER BIN — each bin's "
    "contribution is an identical-tree double floored to an integer "
    "before summation, so the total is an order-free integer sum and "
    "no float accumulation order can differ (the same move as "
    "stat_benjamini_hochberg's per-row quantization). Shape: one "
    "partial-aggregated exchange collapses the corpus to <= 101 "
    "forecast bins; everything after is arithmetic on that bounded "
    "relation (the grand totals re-enter as a broadcast).",
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.least(
            F.greatest(
                F.expr(
                    "(CAST(n_chars AS BIGINT) * 1000"
                    " div (length(text) - length(replace(text, ' ', '')) + 1)"
                    " - 4500) div 20"
                ),
                F.lit(0),
            ),
            F.lit(100),
        ).alias("p_centi"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    bins = scored.groupBy("p_centi").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("pos_b"),
    )
    tot = bins.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("pos_b").cast("long").alias("p"),
    )
    pc, nb, pb = F.col("p_centi"), F.col("n_b"), F.col("pos_b")
    ybar = F.col("p") * 1.0 / F.col("n")
    contrib = bins.crossJoin(F.broadcast(tot)).select(
        "n_b",
        "pos_b",
        "n",
        "p",
        (pc * pc * nb - 200 * pc * pb + 10000 * pb).alias("sq_term"),
        F.floor(
            100.0
            * (pc * nb - 100.0 * pb)
            * (pc * nb - 100.0 * pb)
            / nb
        )
        .cast("long")
        .alias("rel_b"),
        F.floor(
            1_000_000.0 * (pb - nb * ybar) * (pb - nb * ybar) / nb
        )
        .cast("long")
        .alias("res_b"),
    )
    return contrib.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.max("p").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr("CAST((200 * sum(sq_term) + max(n)) div (2 * max(n)) AS BIGINT)")
        .alias("brier_micro"),
        F.expr("CAST(sum(rel_b) div max(n) AS BIGINT)").alias(
            "reliability_micro"
        ),
        F.expr("CAST(sum(res_b) div max(n) AS BIGINT)").alias(
            "resolution_micro"
        ),
        F.floor(
            1_000_000.0
            * (F.max("p") * 1.0 / F.max("n"))
            * (1 - F.max("p") * 1.0 / F.max("n"))
            + 0.5
        )
        .cast("long")
        .alias("uncertainty_micro"),
    )


@register(
    "ml_mcc_threshold",
    """
    WITH scored AS (
        SELECT CASE WHEN CAST(n_chars AS BIGINT) * 1000
                    // (length(text) - length(replace(text, ' ', '')) + 1)
                    >= 5482 THEN 1 ELSE 0 END AS pred,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    cm AS (
        SELECT CAST(sum(CASE WHEN pred = 1 AND pos = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(sum(CASE WHEN pred = 1 AND pos = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(sum(CASE WHEN pred = 0 AND pos = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(sum(CASE WHEN pred = 0 AND pos = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tn
        FROM scored
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) = 0
                THEN NULL
                ELSE CAST(floor(
                    CAST(CAST(tp AS HUGEINT) * tn
                         - CAST(fp AS HUGEINT) * fn AS DOUBLE) * 1000000
                    / sqrt(CAST(CAST(tp + fp AS HUGEINT) * (tp + fn)
                                * (tn + fp) * (tn + fn) AS DOUBLE))
                    + 0.5) AS BIGINT)
           END AS mcc_micro
    FROM cm
    """,
    doc="Matthews correlation coefficient of the fixed-threshold "
    "mean-token-length classifier (score = ml_calibration_bins' "
    "mtl_milli, threshold 5482 = the corpus median, so all four "
    "confusion cells are populated) against the lang='en' label — the "
    "single-scalar confusion summary that, unlike accuracy or F1 "
    "(ml_eval_confusion), is prevalence-invariant and symmetric in "
    "classes (Matthews 1975, public). The confusion counts are exact "
    "integers from ONE map-side-aggregated scan (a 1-row reduction — "
    "the flat 100 TB shape); the numerator tp*tn - fp*fn and the "
    "4-factor denominator product are carried in 128-bit integers "
    "(DECIMAL(38)/HUGEINT — the product is ~n^4), converted to double "
    "ONCE each, divided through IEEE-exact sqrt (correctly rounded by "
    "the standard on both engines, unlike ln), and micro-floored "
    "half-up once. Degenerate margins yield NULL, not a division "
    "error.",
)
def ml_mcc_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        F.expr(
            "CASE WHEN CAST(n_chars AS BIGINT) * 1000"
            " div (length(text) - length(replace(text, ' ', '')) + 1)"
            " >= 5482 THEN 1 ELSE 0 END"
        ).alias("pred"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    cm = scored.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("pos") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("pos") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("pos") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.expr(
                "CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
                " * (tn + fp) * (tn + fn)"
            )
            == 0,
            F.lit(None),
        )
        .otherwise(
            F.floor(
                F.expr(
                    "CAST(CAST(tp AS DECIMAL(38,0)) * tn"
                    " - CAST(fp AS DECIMAL(38,0)) * fn AS DOUBLE)"
                )
                * 1_000_000
                / F.sqrt(
                    F.expr(
                        "CAST(CAST(tp + fp AS DECIMAL(38,0)) * (tp + fn)"
                        " * (tn + fp) * (tn + fn) AS DOUBLE)"
                    )
                )
                + 0.5
            )
        )
        .cast("long")
        .alias("mcc_micro"),
    )


@register(
    "ml_expected_calibration_error",
    """
    WITH scored AS (
        SELECT CAST(n_chars AS BIGINT) * 1000
               // (length(text) - length(replace(text, ' ', '')) + 1)
                   AS mtl_milli,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    p AS (
        SELECT least(greatest(mtl_milli - 4500, 0), 2000) // 2 AS p_milli,
               pos
        FROM scored
    ),
    b AS (
        SELECT p_milli // 100 AS bin_id,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(pos) AS BIGINT) AS pos_b,
               CAST(sum(p_milli) AS BIGINT) AS sum_p
        FROM p GROUP BY 1
    ),
    e AS (
        SELECT bin_id, n_b,
               abs((2000 * pos_b + n_b) // (2 * n_b)
                   - (2 * sum_p + n_b) // (2 * n_b)) AS err_milli
        FROM b
    )
    SELECT CAST(sum(n_b) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n_b * err_milli) // sum(n_b) AS BIGINT) AS ece_milli,
           CAST(max(err_milli) AS BIGINT) AS mce_milli
    FROM e
    """,
    doc="Expected / maximum calibration error of the deterministic "
    "pseudo-probability p = clamp(mtl_milli - 4500, 0, 2000) div 2 (an "
    "affine milli-unit recalibration of the quality score; the floor "
    "div-by-2 is part of the defined integer semantics) against "
    "the lang='en' label: 21 fixed-width probability bins, per-bin "
    "|empirical positive rate - mean predicted probability|, "
    "frequency-weighted mean (ECE, Naeini et al. 2015, public) and "
    "max (MCE) — the scalar summaries of ml_calibration_bins' "
    "reliability table, the number a training pipeline thresholds on "
    "before trusting classifier-filtered data. All-integer: both "
    "per-bin rates use the (2s+n) div (2n) half-up identity and the "
    "final ECE is one integer floor-division, so compounded flooring "
    "is part of the defined semantics, identical on both engines. "
    "One map-side projection + one 21-key grouped fold + a 1-row "
    "reduction — the flat 100 TB shape.",
)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    p = d.select(
        F.expr(
            "least(greatest(CAST(n_chars AS BIGINT) * 1000"
            " div (length(text) - length(replace(text, ' ', '')) + 1)"
            " - 4500, 0), 2000) div 2"
        ).alias("p_milli"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    b = p.groupBy(F.expr("p_milli div 100").alias("bin_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("pos").cast("long").alias("pos_b"),
        F.sum("p_milli").cast("long").alias("sum_p"),
    )
    e = b.select(
        "bin_id",
        "n_b",
        F.abs(
            F.expr("(2000 * pos_b + n_b) div (2 * n_b)")
            - F.expr("(2 * sum_p + n_b) div (2 * n_b)")
        ).alias("err_milli"),
    )
    return e.agg(
        F.sum("n_b").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr("CAST(sum(n_b * err_milli) div sum(n_b) AS BIGINT)").alias(
            "ece_milli"
        ),
        F.max("err_milli").cast("long").alias("mce_milli"),
    )


@register(
    "ml_best_f1_threshold",
    """
    WITH pts AS (
        SELECT n_chars,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cnt_pos
        FROM documents GROUP BY n_chars
    ),
    tot AS (SELECT CAST(sum(cnt_pos) AS BIGINT) AS p,
                   CAST(sum(cnt) AS BIGINT)     AS n FROM pts),
    suf AS (
        SELECT n_chars,
               sum(cnt) OVER (ORDER BY n_chars DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS pp,
               sum(cnt_pos) OVER (ORDER BY n_chars DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS tp
        FROM pts
    ),
    f1 AS (
        SELECT s.n_chars AS threshold, s.tp, s.pp, t.p AS n_pos,
               CAST(2000000 * s.tp // (s.pp + t.p) AS BIGINT) AS f1_micro
        FROM suf s, tot t
    )
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(pp AS BIGINT)
               AS n_pred_pos, n_pos, f1_micro,
           CAST(1000 * tp // pp AS BIGINT)    AS precision_milli,
           CAST(1000 * tp // n_pos AS BIGINT) AS recall_milli
    FROM f1
    ORDER BY f1_micro DESC, threshold LIMIT 1
    """,
    doc="Operating-point selection: the decision threshold on the "
    "n_chars score maximizing F1 against the lang='en' label — the "
    "step AFTER ml_roc_auc's threshold-free ranking quality and "
    "BEFORE ml_eval_confusion's fixed-point metrics: a production "
    "quality filter must pick ONE cutoff, and best-F1 is the standard "
    "pick. Exact and bounded: scores collapse to the distinct-value "
    "grid first (one partial-aggregated exchange — candidate "
    "thresholds are grid points, the 100 TB move), TP/PredictedPos at "
    "every threshold are SUFFIX sums over the grid (Spark: the banded "
    "prefix-sum operator descending — never a single-partition "
    "window; oracle: the plain window), F1 = 2TP/(PP+P) is compared "
    "as floor-micro integers with the SMALLEST threshold as the "
    "deterministic tiebreak (floored ties resolve identically on "
    "both engines), and the 1-row answer plans "
    "TakeOrderedAndProject.",
)
def ml_best_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import banded_running_sum

    d = _t(spark, sf_dir, "documents")
    pts = (
        d.groupBy("n_chars")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
            .cast("long")
            .alias("cnt_pos"),
        )
        .withColumn("band", F.expr("n_chars div 128"))
    )
    # suffix sums = descending banded running sums (band + in-band order
    # both descending, matching the operator's best-first contract)
    s1 = banded_running_sum(
        pts, "band", [F.col("n_chars").desc()], "cnt", out_col="pp"
    )
    suf = banded_running_sum(
        s1, "band", [F.col("n_chars").desc()], "cnt_pos", out_col="tp"
    )
    tot = pts.agg(
        F.sum("cnt_pos").cast("long").alias("p"),
    )
    f1 = suf.crossJoin(F.broadcast(tot)).select(
        F.col("n_chars").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("pp").cast("long").alias("n_pred_pos"),
        F.col("p").alias("n_pos"),
        F.expr("CAST(2000000 * tp div (pp + p) AS BIGINT)").alias("f1_micro"),
        F.expr("CAST(1000 * tp div pp AS BIGINT)").alias("precision_milli"),
        F.expr("CAST(1000 * tp div p AS BIGINT)").alias("recall_milli"),
    )
    return f1.orderBy(F.col("f1_micro").desc(), "threshold").limit(1)


@register(
    "ml_psi_source_drift",
    """
    WITH scored AS (
        SELECT source,
               least(greatest((CAST(n_chars AS BIGINT) * 1000
                   // (length(text) - length(replace(text, ' ', '')) + 1)
                   - 2000) // 500, 0), 9) AS bin_id
        FROM documents
    ),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS na
            FROM scored GROUP BY source),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
    cnt AS (SELECT source, bin_id, CAST(count(*) AS BIGINT) AS ca
            FROM scored GROUP BY source, bin_id),
    bt AS (SELECT bin_id, CAST(count(*) AS BIGINT) AS call
           FROM scored GROUP BY bin_id),
    grid AS (SELECT t.source, t.na, b.bin_id
             FROM tot t CROSS JOIN
                  (SELECT unnest(generate_series(0, 9)) AS bin_id) b),
    f AS (
        SELECT g.source, g.na, nn.n - g.na AS nb,
               coalesce(c.ca, 0) AS ca,
               coalesce(bt.call, 0) - coalesce(c.ca, 0) AS cb
        FROM grid g
        LEFT JOIN cnt c ON c.source = g.source AND c.bin_id = g.bin_id
        LEFT JOIN bt ON bt.bin_id = g.bin_id
        CROSS JOIN nn
    ),
    terms AS (
        SELECT source, na,
               (1000 * ca // na - 1000 * cb // nb)
               * (((length(format('{:b}', (greatest(ca, 1) * nb))) - 1) * 693147 + [7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233][CAST((CASE WHEN (length(format('{:b}', (greatest(ca, 1) * nb))) - 1) >= 6 THEN (greatest(ca, 1) * nb) // (1::BIGINT << ((length(format('{:b}', (greatest(ca, 1) * nb))) - 1) - 6)) ELSE ((greatest(ca, 1) * nb) * 64) // (1::BIGINT << (length(format('{:b}', (greatest(ca, 1) * nb))) - 1)) END) AS INTEGER) - 63])
                  - ((length(format('{:b}', (greatest(cb, 1) * na))) - 1) * 693147 + [7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233][CAST((CASE WHEN (length(format('{:b}', (greatest(cb, 1) * na))) - 1) >= 6 THEN (greatest(cb, 1) * na) // (1::BIGINT << ((length(format('{:b}', (greatest(cb, 1) * na))) - 1) - 6)) ELSE ((greatest(cb, 1) * na) * 64) // (1::BIGINT << (length(format('{:b}', (greatest(cb, 1) * na))) - 1)) END) AS INTEGER) - 63])) AS term
        FROM f
    )
    SELECT source, CAST(max(na) AS BIGINT) AS n_docs,
           CAST(sum(term) // 1000 AS BIGINT) AS psi_micro
    FROM terms GROUP BY source
""",
    doc="Population stability index of each source's quality-score "
    "distribution against the REST of the corpus (one-vs-rest, the "
    "stat_mann_whitney_u pattern): PSI = sum over the 10 fixed "
    "ml_calibration_bins score bins of (p_src - p_rest) * "
    "ln(p_src/p_rest) — the standard drift gate a model-serving or "
    "data-mixing pipeline thresholds on (PSI > 0.2 = major shift) "
    "before trusting a new ingest batch, complementing "
    "dq_drift_population's count-based drift with the "
    "distribution-shape one. Engine-exact WITHOUT libm: the log ratio "
    "is ln_micro(ca*nb) - ln_micro(cb*na) through the shared 64-cell "
    "fixed-point table (pipeline_common; products < 2^63 to ~sf1000), "
    "shares are integer per-mille floors, empty cells clamp to count 1 "
    "(the standard PSI epsilon) on a constant 10-bin grid so every "
    "(source, bin) exists on both engines. One map-side projection, "
    "two bounded grouped folds, a broadcast grid join — flat at "
    "100 TB.",
)
def ml_psi_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.expr(
            "least(greatest((CAST(n_chars AS BIGINT) * 1000"
            " div (length(text) - length(replace(text, ' ', '')) + 1)"
            " - 2000) div 500, 0), 9)"
        ).alias("bin_id"),
    )
    tot = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    nn = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cnt = scored.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    bt = scored.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("call")
    )
    grid = tot.crossJoin(
        F.broadcast(
            nn.select("n", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin_id"))
        )
    )
    f = (
        grid.join(cnt, ["source", "bin_id"], "left")
        .join(F.broadcast(bt), "bin_id", "left")
        .select(
            "source",
            "na",
            (F.col("n") - F.col("na")).alias("nb"),
            F.coalesce("ca", F.lit(0)).alias("ca"),
            (F.coalesce("call", F.lit(0)) - F.coalesce("ca", F.lit(0))).alias(
                "cb"
            ),
        )
    )
    terms = f.select(
        "source",
        "na",
        (
            (
                F.expr("1000 * ca div na") - F.expr("1000 * cb div nb")
            )
            * (
                F.expr("""CAST(((length(bin((greatest(ca, 1) * nb))) - 1) * 693147 + element_at(array(7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233), CAST((CASE WHEN (length(bin((greatest(ca, 1) * nb))) - 1) >= 6 THEN (greatest(ca, 1) * nb) div shiftleft(CAST(1 AS BIGINT), CAST((length(bin((greatest(ca, 1) * nb))) - 1) - 6 AS INT)) ELSE ((greatest(ca, 1) * nb) * 64) div shiftleft(CAST(1 AS BIGINT), CAST((length(bin((greatest(ca, 1) * nb))) - 1) AS INT)) END) AS INT) - 63)) AS BIGINT)""")
                - F.expr("""CAST(((length(bin((greatest(cb, 1) * na))) - 1) * 693147 + element_at(array(7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233), CAST((CASE WHEN (length(bin((greatest(cb, 1) * na))) - 1) >= 6 THEN (greatest(cb, 1) * na) div shiftleft(CAST(1 AS BIGINT), CAST((length(bin((greatest(cb, 1) * na))) - 1) - 6 AS INT)) ELSE ((greatest(cb, 1) * na) * 64) div shiftleft(CAST(1 AS BIGINT), CAST((length(bin((greatest(cb, 1) * na))) - 1) AS INT)) END) AS INT) - 63)) AS BIGINT)""")
            )
        ).alias("term"),
    )
    return terms.groupBy("source").agg(
        F.max("na").cast("long").alias("n_docs"),
        F.expr("CAST(sum(term) div 1000 AS BIGINT)").alias("psi_micro"),
    ).select("source", "n_docs", "psi_micro")


@register(
    "ml_auc_ci_hanley",
    f"""
    WITH {_ROC_RANK_STATS_SQL},
    auc AS (
        SELECT source, n_docs, n_pos, n_docs - n_pos AS n_neg,
               CAST((r2_pos - n_pos * (n_pos + 1)) * 1000000
                    // (2 * n_pos * (n_docs - n_pos)) AS BIGINT) AS a
        FROM agg WHERE n_pos > 0 AND n_pos < n_docs
    ),
    vr AS (
        SELECT source, n_docs, n_pos, a,
               CAST((CAST(
                   (a * (1000000 - a)) // 1000000
                   + (n_pos - 1) * ((a * 1000000) // (2000000 - a)
                                    - (a * a) // 1000000)
                   + (n_neg - 1) * ((2 * a * a) // (1000000 + a)
                                    - (a * a) // 1000000)
                   AS HUGEINT) * 1000000)
                   // (n_pos * n_neg) AS BIGINT) AS var_pico
        FROM auc
    ),
    s0 AS (
        SELECT vr.*, CAST(floor(sqrt(CAST(var_pico AS DOUBLE)))
                          AS BIGINT) AS s
        FROM vr
    ),
    s1 AS (
        SELECT s0.* REPLACE (
            CASE WHEN s * s > var_pico THEN s - 1 ELSE s END AS s)
        FROM s0
    ),
    s2 AS (
        SELECT s1.* REPLACE (
            CASE WHEN (s + 1) * (s + 1) <= var_pico THEN s + 1 ELSE s END
                AS s)
        FROM s1
    )
    SELECT source, n_docs, n_pos, a AS auc_micro, var_pico,
           s AS se_micro,
           greatest(0, a - (196 * s) // 100)       AS ci_lo_micro,
           least(1000000, a + (196 * s) // 100)    AS ci_hi_micro
    FROM s2
    """,
    doc="95% confidence interval for the per-source ROC-AUC via Hanley & "
    "McNeil (1982, public): SE^2 = (A(1-A) + (n+ - 1)(Q1 - A^2) + "
    "(n- - 1)(Q2 - A^2)) / (n+ n-) with Q1 = A/(2-A), Q2 = 2A^2/(1+A). "
    "Zero extra scans beyond ml_roc_auc: it composes on that query's "
    "_roc_rank_stats (oracle: _ROC_RANK_STATS_SQL), and the variance is "
    "pure arithmetic on those sufficient statistics (n_docs, n_pos, "
    "doubled rank sum), so the plan is the SAME one exchange + "
    "per-source window + grouped fold, then a per-row epilogue. EXACT "
    "integers end to end including the square root: se_micro = "
    "isqrt(var_pico) computed as floor(sqrt(double)) then corrected "
    "deterministically by +-1 against the integer square (var_pico ~ "
    "1e13 << 2^52, so the double is exact and the correction makes the "
    "result independent of libm rounding on either engine); A, Q1, Q2 "
    "in micro units with every quotient a positive-operand truncating "
    "division (floor == truncate, identical on both engines); the "
    "(n-1)-weighted products ride DECIMAL(38)/HUGEINT (documented "
    "bound ~1e12 docs/source). Degenerate sources (all-positive / "
    "all-negative) are excluded rather than NULL-filled: a CI needs "
    "both classes present. CI clamped to [0, 1e6] micro.",
)
def ml_auc_ci_hanley(spark: SparkSession, sf_dir: str) -> DataFrame:
    auc = _roc_rank_stats(spark, sf_dir).filter(
        (F.col("n_pos") > 0) & (F.col("n_pos") < F.col("n_docs"))
    ).select(
        "source",
        "n_docs",
        "n_pos",
        (F.col("n_docs") - F.col("n_pos")).alias("n_neg"),
        F.expr(
            "(r2_pos - n_pos * (n_pos + 1)) * 1000000"
            " div (2 * n_pos * (n_docs - n_pos))"
        )
        .cast("long")
        .alias("a"),
    )
    vr = auc.select(
        "source",
        "n_docs",
        "n_pos",
        "a",
        F.expr(
            "CAST(CAST("
            "(a * (1000000 - a)) div 1000000"
            " + (n_pos - 1) * ((a * 1000000) div (2000000 - a)"
            "                  - (a * a) div 1000000)"
            " + (n_neg - 1) * ((2 * a * a) div (1000000 + a)"
            "                  - (a * a) div 1000000)"
            " AS DECIMAL(38,0)) * 1000000 div (n_pos * n_neg) AS BIGINT)"
        ).alias("var_pico"),
    )
    s0 = vr.withColumn(
        "s", F.floor(F.sqrt(F.col("var_pico").cast("double"))).cast("long")
    )
    s1 = s0.withColumn(
        "s",
        F.when(
            F.col("s") * F.col("s") > F.col("var_pico"), F.col("s") - 1
        ).otherwise(F.col("s")),
    )
    s2 = s1.withColumn(
        "s",
        F.when(
            (F.col("s") + 1) * (F.col("s") + 1) <= F.col("var_pico"),
            F.col("s") + 1,
        ).otherwise(F.col("s")),
    )
    return s2.select(
        "source",
        "n_docs",
        "n_pos",
        F.col("a").alias("auc_micro"),
        "var_pico",
        F.col("s").alias("se_micro"),
        F.greatest(
            F.lit(0).cast("long"),
            F.col("a") - F.expr("(196 * s) div 100"),
        ).alias("ci_lo_micro"),
        F.least(
            F.lit(1000000).cast("long"),
            F.col("a") + F.expr("(196 * s) div 100"),
        ).alias("ci_hi_micro"),
    )
