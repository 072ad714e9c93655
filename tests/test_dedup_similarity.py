"""Cross-validation tests the dedup/similarity docstrings promise:
MinHash-LSH vs exact Jaccard, SimHash determinism, brute-force top-k vs a
numpy oracle, and LSH ANN recall vs brute force on planted near-duplicates."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nfl_big_data_bowl_2024_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from nfl_big_data_bowl_2024_spark.operators.similarity import brute_force_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_minhash_lsh_pairs_subset_of_exact(spark, documents):
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(documents, "doc_id", "text", 8, 0.2).collect()
    }
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_candidates(
            documents, "doc_id", "text", 8, 32, 8, 0.2
        ).collect()
    }
    # The signature cache is released inside the operator (sig.unpersist()
    # after the eager pair-table checkpoint); the only storage allowed to
    # survive is the operator's own output checkpoint — composed sessions
    # must not accumulate signature caches.
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after - cached_before <= 1
    # Verified LSH pairs are a subset of the exact answer with equal jaccard…
    for k, j in lsh.items():
        assert k in exact
        assert j == pytest.approx(exact[k])
    # …and recall on real near-dups (>=0.5) must be total at these settings.
    strong = {k for k, j in exact.items() if j >= 0.5}
    assert strong <= set(lsh)


def test_simhash_deterministic_and_near_dup_bands(spark, documents):
    a = {r["doc_id"]: r["simhash"] for r in simhash_signatures(documents, "doc_id", "text").collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_signatures(documents, "doc_id", "text").collect()}
    assert a == b  # hash-seeded but fully deterministic
    # identical texts -> identical simhash
    dup = documents.limit(1).union(documents.limit(1))
    sigs = [r["simhash"] for r in simhash_signatures(dup, "doc_id", "text").collect()]
    assert len(set(sigs)) == 1


def _np_topk(emb_rows, qid, k):
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb_rows}
    q = vecs[qid]
    scored = []
    for vid, v in vecs.items():
        if vid == qid:
            continue
        c = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        scored.append((round(c, 4), vid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [vid for _, vid in scored[:k]]


def test_brute_force_topk_matches_numpy(spark, embeddings):
    rows = embeddings.collect()
    expect = _np_topk(rows, 0, 10)
    got = [r["vec_id"] for r in brute_force_topk(embeddings, 0, k=10).collect()]
    assert sorted(got) == sorted(expect)


def test_brute_force_topk_plan_is_distributed(spark, embeddings):
    plan = brute_force_topk(embeddings, 0, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan  # no single-partition global window


def test_lsh_ann_recall_on_planted_neighbors(spark):
    # 40 base vectors + a near-duplicate of each (small deterministic
    # perturbation) -> 40 planted pairs with cosine ~0.999.
    dim = 64
    rows = []
    for i in range(40):
        base = [float(((i * 37 + j * 11) % 19) - 9) for j in range(dim)]
        pert = [v + 0.05 * ((j + i) % 3 - 1) for j, v in enumerate(base)]
        rows.append((i, base))
        rows.append((1000 + i, pert))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from nfl_big_data_bowl_2024_spark.operators.similarity import lsh_bucketed_pairs

    got = {
        (r["vid_a"], r["vid_b"])
        for r in lsh_bucketed_pairs(df, min_cosine=0.99, dim=dim).collect()
    }
    planted = {(i, 1000 + i) for i in range(40)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9


def test_hot_shingle_guard_filters(spark):
    # Docs 1/2/3 share the stopword-like shingle 'AAAAAAAA' (df=3); docs 1
    # and 3 are identical (their other shingles have df=2). With max_df=2 the
    # hot shingle is dropped, so the 1-2 pair (connected ONLY through it)
    # disappears while the true duplicate pair 1-3 survives.
    df = spark.createDataFrame(
        [(1, "AAAAAAAAxxxxxxxx"), (2, "AAAAAAAAyyyyyyyy"), (3, "AAAAAAAAxxxxxxxx")],
        "doc_id long, text string",
    )
    unguarded = ngram_jaccard_pairs(df, "doc_id", "text", n=8, threshold=0.01, max_df=None)
    guarded = ngram_jaccard_pairs(df, "doc_id", "text", n=8, threshold=0.01, max_df=2)
    upairs = {(r["doc_a"], r["doc_b"]) for r in unguarded.collect()}
    gpairs = {(r["doc_a"], r["doc_b"]) for r in guarded.collect()}
    assert (1, 2) in upairs          # shared hot shingle creates the pair
    assert (1, 2) not in gpairs      # guard drops it
    assert (1, 3) in gpairs          # true duplicates still found
    # jaccard of the surviving duplicate pair is 1.0 over the filtered space
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in guarded.collect()}
    assert jac[(1, 3)] == 1.0


def test_ivf_probe_all_equals_brute_force(spark, embeddings):
    from nfl_big_data_bowl_2024_spark.operators.similarity import ivf_topk

    bf = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(embeddings, 0, k=10).collect()]
    ivf_all = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(embeddings, 0, k=10, n_centroids=8, nprobe=8).collect()
    ]
    assert sorted(ivf_all) == sorted(bf)


def test_ivf_partial_probe_recall(spark, embeddings):
    from nfl_big_data_bowl_2024_spark.operators.similarity import ivf_topk

    bf = {r["vec_id"] for r in brute_force_topk(embeddings, 0, k=10).collect()}
    part = {r["vec_id"] for r in ivf_topk(embeddings, 0, k=10, n_centroids=8, nprobe=4).collect()}
    # half the lists probed -> meaningful but imperfect recall
    assert len(part & bf) / len(bf) >= 0.3


def test_winnow_fingerprint_matches_python_model(spark):
    """txt_winnow_fingerprint vs a from-scratch pure-Python winnowing model
    (k=8 md5 k-grams, w=4 sliding min) on hand-built strings, including the
    short-document (< k chars) edge case."""
    import hashlib

    from nfl_big_data_bowl_2024_spark.plans.pipeline_txt import txt_winnow_fingerprint

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "aaaaaaaaaaaaaaaaaaaa",  # degenerate: all k-grams identical
        3: "tiny",  # shorter than k
        4: "the quick brown fox jumps over the lazy dog " * 3,  # repeated content
    }

    def model(text, k=8, w=4):
        m = max(len(text) - k + 1, 1)
        hashes = [hashlib.md5(text[i : i + k].encode()).hexdigest() for i in range(m)]
        nw = max(len(hashes) - w + 1, 1)
        fps = [min(hashes[j : j + w]) for j in range(nw)]
        return len(hashes), len(set(fps)), min(fps)

    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df = spark.createDataFrame(
            [(i, t, "en", "test", len(t)) for i, t in texts.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_kgrams"], r["n_fingerprints"], r["min_fp"])
            for r in txt_winnow_fingerprint(spark, td).collect()
        }
    assert got == {i: model(t) for i, t in texts.items()}


def test_minhash_exact_dup_point_equals_exact_jaccard(spark, documents):
    """At the 0.9-threshold / 16x2-band operating point the LSH output must
    EQUAL the exact-Jaccard answer (per-pair miss probability <= 3.3e-12)
    — this is what makes dedup_minhash_exact_dups oracle-checkable."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(documents, "doc_id", "text", 8, 0.9).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_candidates(
            documents, "doc_id", "text", 8, 32, 16, 0.9
        ).collect()
    }
    assert set(lsh) == set(exact)
    for k in exact:
        assert lsh[k] == pytest.approx(exact[k])


def test_cluster_lsh_composition_matches_exact_audit_twin(spark):
    """The registered dedup-clustering queries ride the banded-LSH edge
    source (_cluster_pairs_lsh) while their DuckDB oracles stay on the
    exact-pair recursive CTE. That is only sound if the two compositions
    coincide on the testdata: near-dup clusters here are tight
    (J >= ~0.95), where 16x2 banding misses a pair with prob <= 3.3e-12.
    Assert edge-set AND label-set equality at sf0.01 (the driver's gate
    scale; the same equality was measured at sf0.1: 256 pairs / 477
    labels on both sides)."""
    from nfl_big_data_bowl_2024_spark.operators.graph import connected_components
    from nfl_big_data_bowl_2024_spark.plans.pipeline_common import (
        _cluster_pairs_lsh,
        cluster_pairs_exact,
    )
    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_testdata_table as _t,
    )

    d = _t(spark, "/root/testdata/sf0.01", "documents")
    lsh = _cluster_pairs_lsh(d)
    exact = cluster_pairs_exact(d)
    lsh_edges = {(r.doc_a, r.doc_b) for r in lsh.select("doc_a", "doc_b").collect()}
    exact_edges = {(r.doc_a, r.doc_b) for r in exact.collect()}
    assert lsh_edges == exact_edges
    lsh_labels = {
        (r.node, r.component)
        for r in connected_components(lsh, "doc_a", "doc_b").collect()
    }
    exact_labels = {
        (r.node, r.component)
        for r in connected_components(exact, "doc_a", "doc_b").collect()
    }
    assert lsh_labels == exact_labels


def test_cluster_labels_shared_across_consumers(spark):
    """The four cluster-dedup consumers of the shared label builder
    (pipeline_common.cluster_labels_lsh) agree: dedup_cluster_assign
    returns exactly its labels, the representative query's labels are
    exactly the assign output, and the full label map and survivorship
    counts are consistent with it."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_common import (
        cluster_labels_lsh,
    )
    from nfl_big_data_bowl_2024_spark.plans.pipeline_sim import (
        dedup_cluster_assign,
        dedup_cluster_labels,
        dedup_cluster_representative,
        dedup_survivorship_by_source,
    )

    sf = "/root/testdata/sf0.001"
    labels = {(r.doc_id, r.component) for r in cluster_labels_lsh(spark, sf).collect()}
    assert {
        (r.doc_id, r.component) for r in dedup_cluster_assign(spark, sf).collect()
    } == labels
    reps = dedup_cluster_representative(spark, sf).collect()
    comp_ids = {c for _, c in labels}
    assert {r.component for r in reps} == comp_ids
    # representative must be a member of its own component with max n_chars
    assert all(
        (r.rep_doc_id, r.component) in labels for r in reps
    )
    # the full label map restricted to edge-connected docs equals the
    # assign output
    full = {
        (r.doc_id, r.component)
        for r in dedup_cluster_labels(spark, sf).collect()
    }
    assert {p for p in full if p[0] != p[1]} <= labels
    assert labels <= full
    surv = dedup_survivorship_by_source(spark, sf).collect()
    assert sum(r.n_kept for r in surv) == len({c for _, c in full})


def test_semantic_dedup_drops_planted_neighbors(spark):
    """SemDeDup semantics on planted geometry: two near-identical vectors
    land in the same cluster -> higher id dropped with dup_of = lower id;
    an equally-similar pair SPLIT across clusters is NOT compared (the
    approximation the paper trades for the n^2 -> sum(|c|^2) bound)."""
    import numpy as np

    from nfl_big_data_bowl_2024_spark.operators.clustering import semantic_dedup

    rng_free = [
        # cluster A around +x, cluster B around +y (k=2 seeds are ids 0,1)
        (0, [10.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 10.0, 0.0, 0.0]),
        (2, [10.0, 0.5, 0.0, 0.0]),   # near-dup of 0 (same cluster)
        (3, [0.5, 10.0, 0.0, 0.0]),   # near-dup of 1 (same cluster)
        (4, [10.0, 9.0, 0.0, 0.0]),   # between, lands in ONE cluster only
        (5, [9.0, 10.0, 0.0, 0.0]),   # its near-dup in the OTHER cluster
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rng_free],
        "vec_id long, e array<double>",
    )
    out = {
        r.vec_id: (r.verdict, r.dup_of)
        for r in semantic_dedup(emb, tau=0.97, k=2, iters=1).collect()
    }
    assert out[0] == ("kept", None)
    assert out[1] == ("kept", None)
    assert out[2] == ("dropped_semantic", 0)
    assert out[3] == ("dropped_semantic", 1)
    # 4 and 5: cosine(4,5) = 0.9945 >= tau, but they sit in different
    # clusters, so neither is dropped by the other
    a = np.array(rng_free[4][1]); b = np.array(rng_free[5][1])
    assert a @ b / (np.linalg.norm(a) * np.linalg.norm(b)) > 0.97
    assert out[4][0] == "kept" and out[5][0] == "kept"


def test_semantic_dedup_cosine_floor_margins():
    """The dedup_semantic oracle compares floor(cosine*1e6+0.5) across
    engines, where Spark's cosine is a numpy einsum and DuckDB's a
    sequential list_cosine_similarity — different accumulation orders.
    Assert every within-cluster pair's micro value on the gate corpus
    keeps the same floor under a +/-2-ulp perturbation, and that no
    ROUNDED cosine ties the 0.45 threshold boundary ambiguously (exact
    equality is fine: both engines then see the same rounded value)."""
    import math

    import duckdb
    import numpy as np

    con = duckdb.connect()
    emb = con.sql(
        "SELECT vec_id, embedding::DOUBLE[] AS e "
        "FROM '/root/testdata/sf0.01/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in emb])
    m = np.stack([np.asarray(r[1]) for r in emb])
    # replay the assignment the same way kmeans_lloyd does (2 rounds,
    # lowest-id seeds, 9 dp distance rounding, 6 dp centroid rounding)
    cents = m[np.argsort(ids)[:8]].copy()
    for it in range(2):
        d = np.sqrt(((m[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2))
        d = np.floor(d * 1e9 + 0.5) / 1e9
        assign = np.lexsort((np.arange(cents.shape[0])[None, :].repeat(len(m), 0), d), axis=1)[:, 0]
        if it == 0:
            cents = np.stack([
                np.floor(m[assign == c].mean(axis=0) * 1e6 + 0.5) / 1e6
                for c in range(cents.shape[0])
            ])
    checked = 0
    for c in range(8):
        members = np.nonzero(assign == c)[0]
        sub = m[members]
        n = sub / np.linalg.norm(sub, axis=1, keepdims=True)
        cos = n @ n.T
        iu, ju = np.triu_indices(len(members), k=1)
        for v in cos[iu, ju]:
            micro = v * 1e6 + 0.5
            base = math.floor(micro)
            for nudged in (
                np.nextafter(np.nextafter(v, -np.inf), -np.inf),
                np.nextafter(np.nextafter(v, np.inf), np.inf),
            ):
                assert math.floor(float(nudged) * 1e6 + 0.5) == base, v
            checked += 1
    assert checked > 10_000


def test_fuzzy_blocked_levenshtein_adversarial_fixture(spark):
    """Known edit distances, hot-block exclusion, threshold cut, and the
    non-ASCII guard — the semantics the blocked fuzzy matcher promises."""
    import os
    import tempfile

    from nfl_big_data_bowl_2024_spark.plans.pipeline_txt import (
        txt_fuzzy_blocked_levenshtein,
    )

    base = "the quick brown fox jumps over the lazy dog " * 3
    rows = [
        (1, base, "en", "t", len(base)),
        # replace() hits all 3 repeats; 2 land inside the 120-char prefix
        (2, base.replace("lazy", "hazy"), "en", "t", len(base)),
        (3, base[:-6] + "qq dog", "en", "t", len(base)),
        (10, "zz" + base, "en", "t", len(base) + 2),  # different block, alone
        # non-ASCII pair that WOULD match but must be excluded by the guard
        (20, "café " + base, "en", "t", len(base) + 5),
        (21, "café " + base + "x", "en", "t", len(base) + 6),
    ]
    # hot block: 70 rows sharing a prefix-16 — must be guarded out entirely
    hot = "HOTBLOCKPREFIX__ filler text %d"
    rows += [(100 + i, hot % i, "en", "t", 30) for i in range(70)]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            (r["doc_a"], r["doc_b"]): (r["edit_dist"], r["sim_pct"])
            for r in txt_fuzzy_blocked_levenshtein(spark, td).collect()
        }
    # prefix is 120 chars; docs 1/2/3 share the block. 1-2 dist 2 (two
    # lazy->hazy repeats inside the prefix), 1-3 identical up to 120.
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert got[(1, 2)] == (2, 99)
    assert got[(1, 3)][0] == 0 and got[(1, 3)][1] == 100


def test_aqe_skew_split_triggers_on_hot_band(spark):
    """The 100 TB story for the banded LSH joins cites AQE skew handling
    for hot buckets ("hot buckets split via AQE skew-join",
    operators/similarity.py:lsh_bucketed_pairs docstring). Prove it fires:
    a deliberately hot (band_id, band_sig) bucket joined id-only, with the
    skew thresholds scaled to fixture bytes, must (a) show the skew split
    in the final adaptive plan (SortMergeJoin(skew=true) over AQEShuffleRead
    skewed) and (b) still produce the exact pair set — the split only
    re-partitions work, never changes the join result."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale the detector to fixture bytes (defaults are 256 MB-class)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # force the shuffle join path the LSH candidate join takes at scale
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # skew is detected RELATIVE to the median shuffle partition: with
        # the test session's 4 partitions the cold keys pool into
        # hot-sized partitions and nothing is skewed; 32 spreads them thin
        # like a real cluster's partition count would
        "spark.sql.shuffle.partitions": "32",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        hot = spark.range(1200).select(
            F.col("id").alias("vid"),
            F.lit(0).alias("band_id"),
            F.lit(0).alias("band_sig"),
        )
        cold = spark.range(10_000).select(
            (F.col("id") + 100_000).alias("vid"),
            (F.col("id") % 16).alias("band_id"),
            (F.col("id") % 200 + 1).alias("band_sig"),
        )
        banded = hot.unionByName(cold).localCheckpoint(eager=True)
        a = banded.select(F.col("vid").alias("vid_a"), "band_id", "band_sig")
        b = banded.select(F.col("vid").alias("vid_b"), "band_id", "band_sig")
        pairs = (
            a.join(b, ["band_id", "band_sig"])
            .filter(F.col("vid_a") < F.col("vid_b"))
            .select("vid_a", "vid_b")
        )
        n = len(pairs.collect())  # same QueryExecution finalizes the AQE plan
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan
        # exact expected pair count: hot C(1200,2) + cold buckets' pairs
        # (cold key space: (id%16, id%200+1) -> lcm(16,200)=400 distinct
        # combos, 10000/400 = 25 ids per combo -> 400 * C(25,2))
        assert n == 1200 * 1199 // 2 + 400 * (25 * 24 // 2)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_filter_jaccard_equals_inverted_index(spark, documents):
    """Prefix filtering is LOSSLESS for Jaccard >= t: the PPJoin-style path
    (explode only the rarest n - ceil(t*n) + 1 tokens per doc) must return
    exactly the pairs a full inverted-index join finds, with equal jaccard."""
    from nfl_big_data_bowl_2024_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    t = 0.5
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filter_jaccard_pairs(
            documents, "doc_id", "text", threshold=t, max_df=256
        ).collect()
    }

    # In-test oracle: full inverted index over the same filtered token space.
    toks = documents.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    rare = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") <= 256)
        .select("tok")
    )
    kept = toks.join(rare, "tok")
    counts = {
        r["doc_id"]: r["n"]
        for r in kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    overlap = (
        kept.select(F.col("doc_id").alias("a"), "tok")
        .join(kept.select(F.col("doc_id").alias("b"), "tok"), "tok")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    want = {}
    for r in overlap:
        union = counts[r["a"]] + counts[r["b"]] - r["c"]
        j = r["c"] / union
        if j >= t:
            import math

            want[(r["a"], r["b"])] = math.floor(j * 10000 + 0.5) / 10000.0
    assert got == want
    assert want, "fixture must contain at least one qualifying pair"


# ---------------------------------------------------------------------------
# Round 8: sorted-neighborhood dedup + the distributed global rank under it
# ---------------------------------------------------------------------------


def test_global_sort_rank_matches_single_partition_row_number(spark):
    from nfl_big_data_bowl_2024_spark.operators.dedup import global_sort_rank

    rows = [(i, f"k{(i * 37) % 101:03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, key string").repartition(13)
    got = {
        r["id"]: r["_g"]
        for r in global_sort_rank(df, ["key", "id"]).collect()
    }
    expect = {
        rid: g + 1
        for g, (_, rid) in enumerate(sorted((k, i) for i, k in rows))
    }
    assert got == expect


def test_sorted_neighborhood_matches_bruteforce_model(spark):
    """Pair set == the python model: global sort order, rank gap <= w,
    levenshtein <= max_distance (planted near-dups share a sort prefix)."""
    from nfl_big_data_bowl_2024_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    base = [
        f"record {chr(97 + i % 17)}{i:04d} common body text here"
        for i in range(160)
    ]
    # plant near-duplicates: same sort prefix, one-char edits
    texts = base + [t[:-1] + "X" for t in base[:40]]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)

    W, K = 4, 60
    got = {
        (r["doc_a"], r["doc_b"], r["gap"], r["lev"])
        for r in sorted_neighborhood_pairs(
            df, "doc_id", "text", window=W, max_distance=K
        ).collect()
    }

    def lev(a, b):
        la, lb = len(a), len(b)
        prev = list(range(lb + 1))
        for i in range(1, la + 1):
            cur = [i] + [0] * lb
            for j in range(1, lb + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[lb]

    order = sorted(rows, key=lambda r: (r[1], r[0]))
    expect = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + W + 1, len(order))):
            d = lev(order[i][1], order[j][1])
            if d <= K:
                expect.add((order[i][0], order[j][0], j - i, d))
    assert got == expect
    assert len(expect) > 40  # the planted edits are actually found


def test_sorted_neighborhood_partitioning_invariant(spark):
    from nfl_big_data_bowl_2024_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = {
        tuple(r)
        for r in sorted_neighborhood_pairs(
            d.repartition(3), "doc_id", "text"
        ).collect()
    }
    b = {
        tuple(r)
        for r in sorted_neighborhood_pairs(
            d.repartition(17), "doc_id", "text"
        ).collect()
    }
    assert a == b


def test_hard_negatives_match_numpy(spark, embeddings):
    """sim_hard_negatives top-1 == a numpy argmax over rounded cosines with
    the same (cosine desc, vec_id asc) tie order."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_sim import (
        sim_hard_negatives,
    )

    got = {
        r["anchor_id"]: (r["negative_id"], r["cosine"])
        for r in sim_hard_negatives(spark, SF_DIR).collect()
    }
    rows = embeddings.collect()
    import numpy as np

    ids = np.array([r["vec_id"] for r in rows])
    labs = np.array([r["label"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for a_idx in np.where(ids < 100)[0]:
        cos = np.round(Vn @ Vn[a_idx], 4)
        mask = labs != labs[a_idx]
        # best = max cosine, tie -> smallest vec_id
        cand = sorted(
            zip(-cos[mask], ids[mask]), key=lambda t: (t[0], t[1])
        )
        want_id, want_cos = cand[0][1], -cand[0][0]
        g_id, g_cos = got[ids[a_idx]]
        assert g_id == want_id and abs(g_cos - want_cos) < 1e-9


def test_pq_adc_recall_against_exact_l2(spark):
    """PQ-ADC (16x16 codebook, 2 integer-Lloyd rounds) must place >= 7 of
    the exact-L2 top-10 inside its top-25 on the sf0.01 corpus — the
    measured operating point (8/10); the floor guards against a quality
    regression in the codebook construction."""
    import numpy as np

    from nfl_big_data_bowl_2024_spark.operators.similarity import pq_adc_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rows = e.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = V[ids == 0][0]
    d2 = ((V - q) ** 2).sum(1)
    mask = ids != 0
    exact10 = {int(i) for _, i in sorted(zip(d2[mask], ids[mask]))[:10]}
    got = {r["vec_id"] for r in pq_adc_topk(e, k=25).collect()}
    assert len(got & exact10) >= 7


def test_pq_arrow_assignment_matches_hof_twin(spark):
    """The production mapInArrow code-assignment must be BIT-IDENTICAL to
    the pure-Catalyst HOF oracle twin: same integer distances, same
    lowest-cid tie-break — so the full ranked result (ids AND adc_dist2)
    of both modes is equal, and the registered query's SQL oracle keeps
    holding for the arrow path."""
    from nfl_big_data_bowl_2024_spark.operators.similarity import pq_adc_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    arrow = [
        (r["vec_id"], r["adc_dist2"])
        for r in pq_adc_topk(e, k=25, assign_mode="arrow").collect()
    ]
    hof = [
        (r["vec_id"], r["adc_dist2"])
        for r in pq_adc_topk(e, k=25, assign_mode="hof").collect()
    ]
    assert arrow == hof
