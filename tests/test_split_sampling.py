"""Round-8 additions: histogram split finding and sequential Poisson
sampling — python-model cross-checks the oracles can't express."""

from __future__ import annotations

import numpy as np

SF_DIR = "/root/testdata/sf0.001"


def test_stump_split_matches_numpy_exact_integers(spark):
    """Best (feature, threshold) == an exact-integer numpy recomputation of
    gain = S_L^2/n_L + S_R^2/n_R - S^2/n over python ints (no float at any
    point, matching the plan's decimal arithmetic)."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_ml import (
        ml_stump_split_finding,
    )

    got = {
        r["feature"]: (r["threshold"], r["gain_1e9"])
        for r in ml_stump_split_finding(spark, SF_DIR).collect()
    }

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_discount", "l_extendedprice"
    ).collect()
    qty = [int(r["l_quantity"]) for r in li]
    disc = [int(np.floor(r["l_discount"] * 100 + 0.5)) for r in li]
    y = [int(np.floor(r["l_extendedprice"] * 100 + 0.5)) for r in li]

    def best(feature_vals):
        pairs = sorted(zip(feature_vals, y))
        vals = sorted(set(feature_vals))
        n_t, s_t = len(pairs), sum(v for _, v in pairs)
        base = (s_t * s_t) // n_t
        out, i, n_l, s_l = [], 0, 0, 0
        for t in vals:
            while i < len(pairs) and pairs[i][0] <= t:
                s_l += pairs[i][1]
                n_l += 1
                i += 1
            if n_l == n_t:
                break
            gain = (s_l * s_l) // n_l + ((s_t - s_l) ** 2) // (n_t - n_l) - base
            out.append((gain, t))
        # max gain, tie -> lowest threshold
        g, t = max(out, key=lambda p: (p[0], -p[1]))
        return t, g // 10**9

    assert got["quantity"] == best(qty)
    assert got["discount"] == best(disc)


def test_sequential_poisson_prefers_heavy_docs(spark):
    """The weighted draw must overrepresent long documents relative to a
    uniform draw: mean n_chars of the sample > population mean (the whole
    point of PPS sampling), and the draw is a pure function of content."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_doc import (
        doc_sequential_poisson_sample,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    samp = doc_sequential_poisson_sample(spark, SF_DIR)
    joined = samp.join(d, "doc_id")
    m_samp = joined.agg(F.avg("n_chars")).first()[0]
    m_pop = d.agg(F.avg("n_chars")).first()[0]
    assert m_samp > m_pop

    # reproducible across partitionings: same sample set
    a = {r["doc_id"] for r in samp.collect()}
    b = {r["doc_id"] for r in doc_sequential_poisson_sample(spark, SF_DIR).collect()}
    assert a == b


def test_bm25_matches_python_model_and_partitioning(spark):
    """Fixed-point BM25 == a python float model computed with the same
    IEEE op order, and the integer per-term scores make the ranking
    partitioning-invariant (a float sum would not be)."""
    import math

    from nfl_big_data_bowl_2024_spark.plans.pipeline_txt import txt_bm25_topk

    got = [
        (r["doc_id"], r["score_1e4"], r["n_terms"])
        for r in txt_bm25_topk(spark, SF_DIR).collect()
    ]

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    toks = {r["doc_id"]: r["text"].split(" ") for r in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) * 1.0 / n
    TERMS = ["hash", "join", "scan"]
    df = {
        q: sum(1 for t in toks.values() if q in t) for q in TERMS
    }
    scores = {}
    for d, ts in toks.items():
        s, k = 0, 0
        for q in TERMS:
            tf = ts.count(q)
            if tf == 0 or df[q] == 0:
                continue
            val = (
                (n * 1.0 / df[q])
                * (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 * (len(ts) * 1.0 / avgdl)))
                * 10000
                + 0.5
            )
            s += math.floor(val)
            k += 1
        if k:
            scores[d] = (s, k)
    want = sorted(
        ((d, s, k) for d, (s, k) in scores.items()),
        key=lambda t: (-t[1], t[0]),
    )[:25]
    assert got == want


def test_dsir_select_over_empty_documents(spark, tmp_path):
    """An empty corpus observes its token sums as None (SQL sum over zero
    rows); DSIR selection must build and return no rows instead of
    raising."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_doc import doc_dsir_select

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    d.limit(0).write.parquet(str(tmp_path / "documents.parquet"))
    assert doc_dsir_select(spark, str(tmp_path)).collect() == []
