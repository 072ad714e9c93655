"""Round-11 batch: pure-Python replays of the new classical-stats and
ML-evaluation queries on the sf0.001 driver tree (Theil-Sen rank-median
slope, Hartley F_max, Grubbs extreme deviate, Jarque-Bera moments,
Cohen's kappa, the exact decile lift/gains table, the Brier/Murphy
decomposition identity, and the hapax-legomena profile), plus the
invariants that make each statistic trustworthy (robustness, bounds,
partition identities)."""

from __future__ import annotations

import math
from collections import Counter

SF = "/root/testdata/sf0.001"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def _duck():
    import duckdb

    return duckdb.connect()


def _events():
    return _duck().execute(
        "SELECT event_type,"
        " date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,"
        " CAST(round(value * 100) AS BIGINT) AS c"
        f" FROM '{SF}/events.parquet'"
    ).fetchall()


def _docs_scored():
    return _duck().execute(
        "SELECT CAST(n_chars AS BIGINT) * 1000"
        " // (length(text) - length(replace(text, ' ', '')) + 1),"
        " CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
        f" FROM '{SF}/documents.parquet'"
    ).fetchall()


def test_theil_sen_replay_and_robustness(spark):
    """Replay the lower-median pairwise slope per event type in pure
    Python, and check the estimator's defining property: it matches the
    median of all pairwise slopes (breakdown resistance is what the
    MEDIAN gives; the replay uses the identical rank rule)."""
    rows = {
        r["event_type"]: (r["n_slopes"], r["sen_slope_micro"])
        for r in _registry()["stat_theil_sen_slope"].fn(spark, SF).collect()
    }
    daily: dict = {}
    for t, day, c in _events():
        daily[(t, day)] = daily.get((t, day), 0) + c
    by_type: dict = {}
    for (t, day), y in daily.items():
        by_type.setdefault(t, []).append((day, y))
    assert set(rows) == set(by_type)
    for t, pts in by_type.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (x1, y1), (x2, y2) = pts[i], pts[j]
                slopes.append(((y2 - y1) / (x2 - x1), x1, x2))
        slopes.sort()
        n = len(slopes)
        med = slopes[(n + 1) // 2 - 1][0]
        assert rows[t][0] == n
        assert rows[t][1] == math.floor(med * 1_000_000 + 0.5)


def test_hartley_fmax_replay(spark):
    """F_max must equal max/min of the per-type sample variances computed
    from the same exact integer sufficient statistics, and be >= 1."""
    row = _registry()["stat_hartley_fmax"].fn(spark, SF).collect()[0]
    agg: dict = {}
    for t, _, c in _events():
        n, s1, s2 = agg.get(t, (0, 0, 0))
        agg[t] = (n + 1, s1 + c, s2 + c * c)
    var = {
        t: (s2 - float(s1) * s1 / n) / (n - 1) for t, (n, s1, s2) in agg.items()
    }
    tmax = min((t for t in var if var[t] == max(var.values())))
    tmin = min((t for t in var if var[t] == min(var.values())))
    assert row["n_groups"] == len(var)
    assert row["type_max_var"] == tmax
    assert row["type_min_var"] == tmin
    expect = math.floor(max(var.values()) / min(var.values()) * 1e6 + 0.5)
    assert row["fmax_micro"] == expect
    assert row["fmax_micro"] >= 1_000_000


def test_grubbs_extreme_replay(spark):
    """G = max(max-mean, mean-min)/sd per type, side by the integer rule;
    also assert the extreme value really is the group min or max."""
    rows = {
        r["event_type"]: r
        for r in _registry()["stat_grubbs_extreme"].fn(spark, SF).collect()
    }
    by_type: dict = {}
    for t, _, c in _events():
        by_type.setdefault(t, []).append(c)
    for t, xs in by_type.items():
        n, s1 = len(xs), sum(xs)
        s2 = sum(x * x for x in xs)
        hi = max(xs) * n - s1 >= s1 - min(xs) * n
        mean = s1 / n
        dev = max(xs) - mean if hi else mean - min(xs)
        sd = math.sqrt((s2 - float(s1) * s1 / n) / (n - 1))
        r = rows[t]
        assert r["side"] == ("high" if hi else "low")
        assert r["extreme_cents"] == (max(xs) if hi else min(xs))
        assert r["grubbs_micro"] == math.floor(dev / sd * 1e6 + 0.5)
        assert r["grubbs_micro"] > 0


def test_jarque_bera_replay(spark):
    """Skew/kurtosis/JB from exact raw moments; JB must be >= 0 and the
    kurtosis of any real sample >= 1 (Pearson's inequality K >= S^2+1)."""
    rows = {
        r["event_type"]: r
        for r in _registry()["stat_jarque_bera"].fn(spark, SF).collect()
    }
    by_type: dict = {}
    for t, _, c in _events():
        by_type.setdefault(t, []).append(c)
    for t, xs in by_type.items():
        n = len(xs)
        s1 = float(sum(xs))
        s2 = float(sum(x * x for x in xs))
        s3 = float(sum(x * x * x for x in xs))
        s4 = float(sum((x * x) * (x * x) for x in xs))
        mu = s1 / n
        m2 = s2 / n - mu * mu
        m3 = s3 / n - 3 * mu * (s2 / n) + 2 * mu**3
        m4 = s4 / n - 4 * mu * (s3 / n) + 6 * mu * mu * (s2 / n) - 3 * mu**4
        skew = m3 / (math.sqrt(m2) * m2)
        kurt = m4 / (m2 * m2)
        jb = n * (skew * skew / 6 + (kurt - 3) ** 2 / 24)
        r = rows[t]
        assert r["skew_micro"] == math.floor(skew * 1e6 + 0.5)
        assert r["kurt_micro"] == math.floor(kurt * 1e6 + 0.5)
        assert r["jb_micro"] == math.floor(jb * 1e6 + 0.5)
        assert r["jb_micro"] >= 0
        assert kurt >= skew * skew + 1  # Pearson, sanity of the moments


def test_cohen_kappa_replay_and_bounds(spark):
    row = _registry()["ml_cohen_kappa"].fn(spark, SF).collect()[0]
    tp = fp = fn = tn = 0
    for mtl, pos in _docs_scored():
        pred = 1 if mtl >= 5500 else 0
        if pred and pos:
            tp += 1
        elif pred:
            fp += 1
        elif pos:
            fn += 1
        else:
            tn += 1
    n = tp + fp + fn + tn
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    assert row["kappa_micro"] == math.floor(kappa * 1e6 + 0.5)
    assert -1_000_000 <= row["kappa_micro"] <= 1_000_000


def test_lift_gain_deciles_partition_and_replay(spark):
    """The decile table must PARTITION the corpus (sum n_docs = N, sum
    n_pos = P, decile sizes equal the rank-formula sizes), reproduce a
    row-level positives-first replay exactly, and end at gain 1000."""
    out = {
        r["decile"]: r
        for r in _registry()["ml_lift_gain_deciles"].fn(spark, SF).collect()
    }
    scored = _docs_scored()
    n = len(scored)
    p = sum(pos for _, pos in scored)
    # positives-first within a score: sort by (-score, -pos)
    ranked = sorted(scored, key=lambda r: (-r[0], -r[1]))
    counts: Counter = Counter()
    poss: Counter = Counter()
    for r0, (_, pos) in enumerate(ranked):
        d = (10 * r0) // n  # rank r = r0+1, d = (10*(r-1)) div n
        counts[d] += 1
        poss[d] += pos
    assert set(out) == set(counts)
    assert sum(r["n_docs"] for r in out.values()) == n
    assert sum(r["n_pos"] for r in out.values()) == p
    cum = 0
    for d in sorted(out):
        assert out[d]["n_docs"] == counts[d]
        assert out[d]["n_pos"] == poss[d]
        cum += poss[d]
        assert out[d]["cum_pos"] == cum
        assert out[d]["gain_milli"] == (2000 * cum + p) // (2 * p)
        lift = poss[d] * 1.0 * n / (counts[d] * 1.0 * p)
        assert out[d]["lift_milli"] == math.floor(lift * 1000 + 0.5)
    assert out[max(out)]["gain_milli"] == 1000


def test_brier_decomposition_identity(spark):
    """Murphy: brier = reliability - resolution + uncertainty (up to the
    documented per-bin micro quantization), and each term is bounded."""
    row = _registry()["ml_brier_decomposition"].fn(spark, SF).collect()[0]
    b, rel, res, unc = (
        row["brier_micro"],
        row["reliability_micro"],
        row["resolution_micro"],
        row["uncertainty_micro"],
    )
    # each per-bin floor loses < 1 micro per bin, two quantized sums +
    # three independent roundings -> tolerance 2*n_bins + 3
    tol = 2 * row["n_bins"] + 3
    assert abs(b - (rel - res + unc)) <= tol
    for v in (b, rel, res, unc):
        assert 0 <= v <= 1_000_000
    assert res <= unc + tol  # resolution can't beat the base-rate variance


def test_hapax_replay(spark):
    rows = {
        r["source"]: r
        for r in _registry()["txt_hapax_legomena"].fn(spark, SF).collect()
    }
    docs = _duck().execute(
        f"SELECT source, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    by_src: dict = {}
    for src, text in docs:
        cnt = by_src.setdefault(src, Counter())
        cnt.update(text.split(" "))
    assert set(rows) == set(by_src)
    for src, cnt in by_src.items():
        vocab = len(cnt)
        hapax = sum(1 for v in cnt.values() if v == 1)
        r = rows[src]
        assert r["vocab"] == vocab
        assert r["hapax"] == hapax
        assert r["total_tokens"] == sum(cnt.values())
        assert r["hapax_ratio_milli"] == (2000 * hapax + vocab) // (2 * vocab)


def test_matryoshka_prefix_eval_replay(spark):
    """Replay the full/prefix top-1 retrieval in numpy with the exact
    rounded-cosine + id tiebreak, and assert the agreement semantics."""
    import numpy as np

    rows = {
        r["query_id"]: r
        for r in _registry()["sim_matryoshka_prefix_eval"].fn(spark, SF).collect()
    }
    data = _duck().execute(
        f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'"
    ).fetchall()
    vecs = {vid: np.asarray(e, dtype=np.float64) for vid, e in data}
    qids = [v for v in vecs if v % 100 == 7]
    cids = [v for v in vecs if v % 100 != 7]
    assert set(rows) == set(qids)

    def top1(q, dims):
        qv = vecs[q][:dims]
        best = None
        for c in sorted(cids):
            cv = vecs[c][:dims]
            cos = float(qv @ cv) / (
                math.sqrt(float(qv @ qv)) * math.sqrt(float(cv @ cv))
            )
            cos = math.floor(cos * 1e6 + 0.5) / 1e6
            if best is None or cos > best[1]:
                best = (c, cos)
        return best

    for q in qids:
        fid, fcos = top1(q, 64)
        pid, pcos = top1(q, 16)
        r = rows[q]
        assert (r["full_neighbor_id"], r["full_cosine"]) == (fid, fcos)
        assert (r["prefix_neighbor_id"], r["prefix_cosine"]) == (pid, pcos)
        assert r["top1_agree"] == int(fid == pid)
