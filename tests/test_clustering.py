"""k-means trainer and k-NN join: numeric cross-validation vs numpy plus
the plan properties the docstrings promise (map-only assignment, salted
two-phase top-k, no cartesian pair table)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nfl_big_data_bowl_2024_spark.operators.clustering import (
    assign_to_centroids,
    kmeans_lloyd,
    knn_join,
    refine_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .cache()
    )


def test_kmeans_refinement_reduces_inertia(spark, emb):
    seeds = emb.orderBy("vec_id").limit(8).collect()
    c0 = {i: [float(v) for v in r["e"]] for i, r in enumerate(seeds)}
    a1 = assign_to_centroids(emb, c0)
    inertia1 = a1.agg(F.sum(F.col("d") * F.col("d"))).collect()[0][0]
    c1 = refine_centroids(a1)
    a2 = assign_to_centroids(emb, c1)
    inertia2 = a2.agg(F.sum(F.col("d") * F.col("d"))).collect()[0][0]
    # Lloyd monotonicity (the 6-dp centroid rounding can cost at most a
    # whisker, hence the epsilon)
    assert inertia2 <= inertia1 * (1 + 1e-6)


def test_kmeans_recovers_planted_blobs(spark):
    rng = np.random.default_rng(7)
    blobs = []
    # interleave ids so the k lowest-id seeds span the blobs (lowest-id
    # seeding is deterministic, not smart — all-one-blob seeds would just
    # demonstrate Lloyd's well-known bad-seed local optimum)
    for b, center in enumerate([-10.0, 0.0, 10.0]):
        pts = center + 0.01 * rng.standard_normal((20, 8))
        blobs += [(i * 3 + b, [float(x) for x in pts[i]]) for i in range(20)]
    df = spark.createDataFrame(blobs, "vec_id: long, e: array<double>")
    out = kmeans_lloyd(df, k=3, iters=3).collect()
    # every planted blob must map to exactly one learned cluster
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster_id"])
    assert all(len(s) == 1 for s in by_blob.values()), by_blob
    assert len({next(iter(s)) for s in by_blob.values()}) == 3


def test_kmeans_drops_empty_clusters(spark):
    # two far blobs, k=3 seeded from the first blob: at least one seed
    # starves and the survivors still partition the data
    rows = [(i, [0.0 + 0.001 * i] * 4) for i in range(10)] + [
        (100 + i, [50.0 + 0.001 * i] * 4) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, e: array<double>")
    out = kmeans_lloyd(df, k=3, iters=3).collect()
    assert len(out) == 20
    assert len({r["cluster_id"] for r in out}) <= 3


def test_knn_join_matches_numpy(spark, emb):
    q = emb.filter(F.col("vec_id") % 10 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = emb.filter(F.col("vec_id") % 10 != 0).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    got = {
        (r["query_id"], r["rk"]): r["neighbor_id"]
        for r in knn_join(q, c, k=3).collect()
    }

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.stack([np.array(r["e"]) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qm = ids % 10 == 0
    sims = mat[qm] @ mat[~qm].T
    cids = ids[~qm]
    for qi, qid in enumerate(ids[qm]):
        order = sorted(
            zip(np.floor(sims[qi] * 1e6 + 0.5) / 1e6, -cids), reverse=True
        )
        for rk in range(1, 4):
            assert got[(qid, rk)] == -order[rk - 1][1], (qid, rk)


def test_knn_join_windows_all_partitioned(spark, emb):
    q = emb.filter(F.col("vec_id") % 10 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = emb.filter(F.col("vec_id") % 10 != 0).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    plan = knn_join(q, c, k=3)._jdf.queryExecution().executedPlan().toString()
    # scoring is one mapInPandas pass — no pair join of any kind
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "MapInPandas" in plan
    # the final top-k window carries a partition spec (no global sort)
    for ln in plan.splitlines():
        if "Window [" in ln or "RunningWindowFunction" in ln:
            assert "windowspecdefinition(query_id" in ln, ln


def test_kmeans_query_plan_is_scan_plus_single_exchange(spark):
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    df = all_queries()["emb_kmeans_lloyd"].fn(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # final round: map-only assignment against literal centroids + one
    # grouped agg — no join in the returned plan at all. Since r13 the
    # source below the assignment is the operator's checkpointed (id,
    # vector) projection (Scan ExistingRDD) — built from exactly one
    # FileScan at fn() time — so the returned plan must show one
    # ExistingRDD scan and no FileScan (a FileScan here would mean a
    # consumer re-scanned the source instead of the projection).
    assert "Join" not in plan
    assert plan.count("FileScan") == 0
    assert plan.count("Scan ExistingRDD") == 1


def test_logreg_gd_matches_numpy_replay(spark):
    """The distributed trainer's per-round (gradient -> 9dp-rounded
    update) schedule must reproduce an exact numpy replay, and two rounds
    must reduce the full-batch log-loss from the w=0 baseline."""
    import math

    from nfl_big_data_bowl_2024_spark.operators.clustering import logreg_train_gd

    rows = [
        (float(i % 2), 1.0 + 0.8 * (i % 2) + 0.05 * (i % 7), 0.3 + 0.1 * (i % 5))
        for i in range(60)
    ]
    feat = spark.createDataFrame(rows, "y double, x1 double, x2 double")
    w = logreg_train_gd(feat, ["x1", "x2"], "y", lr=0.5, iters=2)

    m = np.array(rows)
    y, X = m[:, 0], np.hstack([np.ones((len(m), 1)), m[:, 1:]])
    wref = np.zeros(3)
    for _ in range(2):
        p = 1.0 / (1.0 + np.exp(-X @ wref))
        g = ((p - y)[:, None] * X).mean(axis=0)
        wref = np.array(
            [math.floor(v * 1e9 + 0.5) / 1e9 for v in (wref - 0.5 * g)]
        )
    assert w == pytest.approx(list(wref), abs=1e-12)

    def loss(wv):
        p = 1.0 / (1.0 + np.exp(-X @ np.asarray(wv)))
        return -(y * np.log(p) + (1 - y) * np.log(1 - p)).mean()

    assert loss(w) < loss([0.0, 0.0, 0.0])


def test_pca_power_iteration_tracks_top_eigenvector(spark):
    """On data WITH a spectral gap (planted dominant direction), the
    rounded distributed power iteration must converge to the true top
    eigen-direction; on the driver's isotropic corpus the query is
    exercised for replay determinism only (see the query docstring)."""
    import math

    from nfl_big_data_bowl_2024_spark.operators.clustering import (
        power_iteration_top_direction,
    )

    d, n = 16, 400
    rng_free = [
        [math.sin(1.0 + 0.7 * i + 1.3 * j) * 0.2 for j in range(d)]
        for i in range(n)
    ]  # deterministic pseudo-noise, no RNG
    spike = [math.cos(0.3 * j) for j in range(d)]
    rows = [
        (i, [rng_free[i][j] + (2.0 if i % 2 else -2.0) * spike[j] for j in range(d)])
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    v = np.array(power_iteration_top_direction(df, "e", iters=3))

    X = np.array([r[1] for r in rows])
    evecs = np.linalg.eigh(X.T @ X)[1]
    top = evecs[:, -1]
    assert abs(float(v @ top)) > 0.999, float(v @ top)


def test_logreg_gd_rejects_null_features(spark):
    """avg() silently drops NULL rows per-column, which would shrink one
    gradient component's averaging set and skew the weights with no error
    — the guard (folded into the first round's aggregate, no extra pass)
    must raise instead."""
    import pytest as _pytest

    from nfl_big_data_bowl_2024_spark.operators.clustering import logreg_train_gd

    feat = spark.createDataFrame(
        [(0.0, 1.0, 0.0), (1.0, None, 1.0), (1.0, 2.0, 1.0)],
        "y double, x1 double, x2 double",
    )
    with _pytest.raises(ValueError, match="x1.*NULL"):
        logreg_train_gd(feat, ["x1", "x2"], "y", lr=0.5, iters=1)
    # all-NULL label: the dedicated empty/all-NULL message
    feat2 = spark.createDataFrame(
        [(None, 1.0, 0.0)], "y double, x1 double, x2 double"
    )
    with _pytest.raises(ValueError, match="NULL"):
        logreg_train_gd(feat2, ["x1", "x2"], "y", lr=0.5, iters=1)


def test_vectorized_assignment_matches_hof_path(spark):
    """assign_to_centroids_vectorized (BLAS expansion, the large-k scale
    path) must agree with assign_to_centroids (sequential fold, the
    oracle-checked path) after the shared 9-dp rounding — same cluster,
    same rounded distance — on the gate corpus."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.operators.clustering import (
        assign_to_centroids,
        assign_to_centroids_vectorized,
        kmeans_lloyd,
        refine_centroids,
    )
    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table

    e = read_testdata_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    seeds = e.orderBy("vec_id").limit(8).collect()
    cents = {i: [float(v) for v in r["e"]] for i, r in enumerate(seeds)}
    # round 1 + a refined round 2, both paths
    for c in (cents, refine_centroids(assign_to_centroids(e, cents), "e")):
        hof = {
            r["vec_id"]: (r["cluster_id"], r["d"])
            for r in assign_to_centroids(e, c).collect()
        }
        vec = {
            r["vec_id"]: (r["cluster_id"], r["d"])
            for r in assign_to_centroids_vectorized(e, c).collect()
        }
        assert hof == vec
    # and the full trainer agrees end-to-end
    a = {(r["vec_id"], r["cluster_id"], r["d"])
         for r in kmeans_lloyd(e, k=8, iters=2).collect()}
    b = {(r["vec_id"], r["cluster_id"], r["d"])
         for r in kmeans_lloyd(e, k=8, iters=2, vectorized=True).collect()}
    assert a == b


def test_vectorized_assignment_exact_on_adversarial_ties(spark):
    """The provably-identical claim (clustering.py docstring): exact ties,
    exact centroid hits, and distances engineered within ulps of a 0.5e-9
    half-up rounding boundary must all come out bit-identical between the
    BLAS twin and the fold path — the winner band is recomputed exactly in
    the fold's own accumulation order, so no empirical luck is involved."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.operators.clustering import (
        assign_to_centroids,
        assign_to_centroids_vectorized,
    )

    cents = {
        0: [0.0, 0.0, 0.0, 0.0],
        1: [1.0, 0.0, 0.0, 0.0],
        2: [0.0, 1.0, 0.0, 0.0],
        # a centroid crowded next to c1 so the winner band holds >1 entry
        3: [1.0, 1e-7, 0.0, 0.0],
    }
    rows = [
        # exact hit on c1: d must be exactly 0.0 (expansion alone gives ~1e-8)
        (0, [1.0, 0.0, 0.0, 0.0]),
        # exact tie between c0 and c1 -> lowest cid (0) must win
        (1, [0.5, 0.0, 0.0, 0.0]),
        # near-tie zone: c3 beats the exact c1/c2 tie by ~5e-8
        (2, [0.5, 0.5, 0.0, 0.0]),
        # within ulps of a rounding boundary: d to c0 = 0.0000000005
        (3, [5e-10, 0.0, 0.0, 0.0]),
        # deep inside c3's crowd zone
        (4, [1.0, 5e-8, 0.0, 0.0]),
        # far point, unambiguous winner
        (5, [10.0, 10.0, 10.0, 10.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id int, e array<double>").withColumn(
        "e", F.transform("e", lambda x: x.cast("double"))
    )
    hof = {
        r["vec_id"]: (r["cluster_id"], r["d"])
        for r in assign_to_centroids(e, cents).collect()
    }
    vec = {
        r["vec_id"]: (r["cluster_id"], r["d"])
        for r in assign_to_centroids_vectorized(e, cents).collect()
    }
    assert hof == vec
    assert hof[0] == (1, 0.0)  # exact hit is exactly zero
    assert hof[1][0] == 0  # tie -> lowest cid
    assert hof[2][0] == 3  # c3 is ~5e-8 nearer than the c1/c2 tie pair


def test_linreg_closed_form_matches_numpy(spark):
    """The sufficient-statistics OLS must agree with numpy's least squares
    (and its r2 with scipy-free manual computation) on a crafted corpus."""
    import os
    import tempfile

    import numpy as np

    from nfl_big_data_bowl_2024_spark.plans.pipeline_ml import (
        ml_linreg_closed_form,
    )

    rng = np.random.default_rng(5)
    rows = []
    xs, ys = [], []
    for i in range(300):
        ntok = int(rng.integers(5, 120))
        text = " ".join("w" * int(rng.integers(1, 9)) for _ in range(ntok))
        noise = int(rng.integers(-20, 21))
        n_chars = max(len(text) + noise, 1)
        rows.append((i, text, "en", "synth", n_chars))
        xs.append(ntok)
        ys.append(n_chars)
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = ml_linreg_closed_form(spark, td).collect()
    assert len(got) == 1
    r = got[0]
    x = np.array(xs, dtype=np.float64)
    y = np.array(ys, dtype=np.float64)
    slope, intercept = np.polyfit(x, y, 1)
    r2 = float(np.corrcoef(x, y)[0, 1] ** 2)
    assert r["n_docs"] == 300
    assert r["slope"] == pytest.approx(slope, rel=1e-9)
    assert r["intercept"] == pytest.approx(intercept, rel=1e-6)
    assert r["r2"] == pytest.approx(r2, rel=1e-9)
