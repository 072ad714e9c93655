"""Round-12 second batch: pure-Python replays of the new statistics /
ML-evaluation / lexical queries on the sf0.001 driver tree (Brown-
Forsythe Levene, Kruskal-Wallis with tie correction, MCC, ECE/MCE, the
best-F1 operating point, TTR/Guiraud, Yule's K), plus the cross-query
consistency law that pins dedup_survivorship_by_source to the cluster
relations it derives from."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def _duck():
    import duckdb

    return duckdb.connect()


def _event_cents():
    rows = _duck().execute(
        "SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT)"
        f" FROM '{SF}/events.parquet'"
    ).fetchall()
    by_type = defaultdict(list)
    for t, c in rows:
        by_type[t].append(c)
    return by_type


def _lower_median(vals):
    s = sorted(vals)
    return s[(len(s) + 1) // 2 - 1]


def test_levene_brown_forsythe_replay(spark):
    """Replay W = ((N-k)/(k-1)) * SSB_z/SSW_z on z = |x - median| with
    the exact per-group integer-division protocol."""
    by_type = _event_cents()
    zs = {
        t: [abs(c - _lower_median(v)) for c in v] for t, v in by_type.items()
    }
    k = len(zs)
    n = sum(len(z) for z in zs.values())
    sum_a = sum(sum(z) ** 2 // len(z) for z in zs.values())
    t_all = sum(sum(z) for z in zs.values())
    q = sum(x * x for z in zs.values() for x in z)
    ssb = sum_a - t_all * t_all // n
    ssw = q - sum_a
    w_milli = 1000 * ssb * (n - k) // (ssw * (k - 1))
    row = _registry()["stat_levene_brown_forsythe"].fn(spark, SF).collect()[0]
    assert (row["k"], row["n"]) == (k, n)
    assert row["ssb_z_cents2"] == ssb
    assert row["ssw_z_cents2"] == ssw
    assert row["w_milli"] == w_milli


def test_kruskal_wallis_replay(spark):
    """Replay H and tie-corrected H with doubled midranks over the
    pooled cents grid, matching the defined floor-division order."""
    by_type = _event_cents()
    pooled = Counter()
    for v in by_type.values():
        pooled.update(v)
    # doubled midrank per distinct value: 2*cum_before + dup + 1
    r2 = {}
    cum = 0
    for c in sorted(pooled):
        r2[c] = 2 * cum + pooled[c] + 1
        cum += pooled[c]
    n = cum
    k = len(by_type)
    a4 = sum(
        sum(r2[c] for c in v) ** 2 // len(v) for v in by_type.values()
    )
    t_term = sum(d**3 - d for d in pooled.values())
    # engine `div` / `//` truncate toward ZERO; Python `//` floors —
    # they differ by 1 on the negative tie-corrected numerator
    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    h_milli = tdiv(tdiv(3000 * a4, 4), n * (n + 1)) - 3000 * (n + 1)
    hc_milli = tdiv(
        1000
        * (tdiv(3 * a4, 4) * (n - 1) - 3 * n * (n - 1) * (n + 1) * (n + 1)),
        n**3 - n - t_term,
    )
    row = _registry()["stat_kruskal_wallis"].fn(spark, SF).collect()[0]
    assert (row["k"], row["n"], row["tie_term"]) == (k, n, t_term)
    assert row["h_milli"] == h_milli
    assert row["hc_milli"] == hc_milli


def _doc_rows():
    return _duck().execute(
        "SELECT CAST(n_chars AS BIGINT) * 1000"
        " // (length(text) - length(replace(text, ' ', '')) + 1),"
        " CASE WHEN lang = 'en' THEN 1 ELSE 0 END, n_chars"
        f" FROM '{SF}/documents.parquet'"
    ).fetchall()


def test_mcc_replay_and_bounds(spark):
    tp = fp = fn = tn = 0
    for mtl, pos, _n in _doc_rows():
        pred = 1 if mtl >= 5482 else 0
        if pred and pos:
            tp += 1
        elif pred:
            fp += 1
        elif pos:
            fn += 1
        else:
            tn += 1
    row = _registry()["ml_mcc_threshold"].fn(spark, SF).collect()[0]
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    denom = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    want = math.floor(
        (tp * tn - fp * fn) * 1_000_000 / math.sqrt(denom) + 0.5
    )
    assert row["mcc_micro"] == want
    assert -1_000_000 <= row["mcc_micro"] <= 1_000_000


def test_ece_replay(spark):
    bins = defaultdict(lambda: [0, 0, 0])  # n, pos, sum_p
    for mtl, pos, _n in _doc_rows():
        p = min(max(mtl - 4500, 0), 2000) // 2
        b = bins[p // 100]
        b[0] += 1
        b[1] += pos
        b[2] += p
    errs = {
        bid: abs(
            (2000 * pos + nb) // (2 * nb) - (2 * sp + nb) // (2 * nb)
        )
        for bid, (nb, pos, sp) in bins.items()
    }
    n_docs = sum(b[0] for b in bins.values())
    ece = sum(bins[b][0] * errs[b] for b in bins) // n_docs
    row = (
        _registry()["ml_expected_calibration_error"].fn(spark, SF).collect()[0]
    )
    assert row["n_docs"] == n_docs
    assert row["n_bins"] == len(bins)
    assert row["ece_milli"] == ece
    assert row["mce_milli"] == max(errs.values())


def test_best_f1_replay(spark):
    pts = _duck().execute(
        "SELECT n_chars, count(*),"
        " sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)"
        f" FROM '{SF}/documents.parquet' GROUP BY n_chars"
    ).fetchall()
    p = sum(r[2] for r in pts)
    best = None
    pp = tp = 0
    for n_chars, cnt, cnt_pos in sorted(pts, reverse=True):
        pp += cnt
        tp += cnt_pos
        f1 = 2_000_000 * tp // (pp + p)
        cand = (-f1, n_chars, tp, pp)
        if best is None or cand < best:
            best = cand
    row = _registry()["ml_best_f1_threshold"].fn(spark, SF).collect()[0]
    assert row["threshold"] == best[1]
    assert (row["tp"], row["n_pred_pos"], row["n_pos"]) == (
        best[2],
        best[3],
        p,
    )
    assert row["f1_micro"] == -best[0]


def _token_counts():
    rows = _duck().execute(
        f"SELECT source, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    tc = defaultdict(Counter)
    for src, text in rows:
        tc[src].update(text.split(" "))
    return tc


def test_ttr_guiraud_and_yule_replay(spark):
    tc = _token_counts()
    ttr = {
        r["source"]: r
        for r in _registry()["txt_ttr_guiraud"].fn(spark, SF).collect()
    }
    yule = {
        r["source"]: r for r in _registry()["txt_yule_k"].fn(spark, SF).collect()
    }
    assert set(ttr) == set(tc) == set(yule)
    for src, c in tc.items():
        types, tokens = len(c), sum(c.values())
        assert ttr[src]["n_types"] == types
        assert ttr[src]["n_tokens"] == tokens
        assert ttr[src]["ttr_milli"] == (2000 * types + tokens) // (2 * tokens)
        assert ttr[src]["guiraud_micro"] == math.floor(
            types / math.sqrt(tokens) * 1_000_000 + 0.5
        )
        s2 = sum(v * v for v in c.values())
        assert yule[src]["sum_cnt_sq"] == s2
        assert yule[src]["yule_k_centi"] == 1_000_000 * (s2 - tokens) // (
            tokens * tokens
        )


def test_survivorship_consistency_laws(spark):
    """dedup_survivorship_by_source must agree with the cluster
    relations it derives from: total kept == number of components in
    the FULL label map (one representative each), per-source docs sum
    to the corpus, and every multi-member cluster drops members."""
    reg = _registry()
    surv = reg["dedup_survivorship_by_source"].fn(spark, SF).collect()
    labels = reg["dedup_cluster_labels"].fn(spark, SF).collect()
    n_components = len({r["component"] for r in labels})
    n_docs_total = len(labels)
    assert sum(r["n_docs"] for r in surv) == n_docs_total
    assert sum(r["n_kept"] for r in surv) == n_components
    assert sum(r["n_dropped"] for r in surv) == n_docs_total - n_components
    for r in surv:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        assert r["drop_milli"] == 1000 * r["n_dropped"] // r["n_docs"]


def test_gopher_filter_replay(spark):
    """Replay the four rule flags per document and the per-source
    rollup; also assert every rule discriminates somewhere in the
    corpus (a rule that never fires is a dead gate)."""
    rows = _duck().execute(
        f"SELECT source, text, CAST(n_chars AS BIGINT)"
        f" FROM '{SF}/documents.parquet'"
    ).fetchall()
    stop = {"the", "and", "of", "to", "a", "in", "is", "that"}
    agg = defaultdict(lambda: [0, 0, 0, 0, 0, 0])  # n, fwc, fmwl, fstop, falpha, npass
    total_fails = [0, 0, 0, 0]
    for src, text, n_chars in rows:
        toks = text.split(" ")
        f_wc = 0 if len(toks) >= 25 else 1
        f_mwl = 0 if 4800 <= n_chars * 1000 // len(toks) <= 5800 else 1
        f_stop = 0 if sum(1 for t in toks if t in stop) >= 2 else 1
        n_alpha = sum(1 for t in toks if t and all("a" <= ch <= "z" for ch in t))
        f_alpha = 0 if n_alpha * 1000 // len(toks) >= 800 else 1
        a = agg[src]
        a[0] += 1
        a[1] += f_wc
        a[2] += f_mwl
        a[3] += f_stop
        a[4] += f_alpha
        a[5] += 1 if (f_wc + f_mwl + f_stop + f_alpha) == 0 else 0
        for i, f in enumerate((f_wc, f_mwl, f_stop, f_alpha)):
            total_fails[i] += f
    got = {
        r["source"]: r
        for r in _registry()["doc_gopher_quality_filter"].fn(spark, SF).collect()
    }
    assert set(got) == set(agg)
    for src, (n, fwc, fmwl, fstop, falpha, npass) in agg.items():
        r = got[src]
        assert (
            r["n_docs"],
            r["fail_word_count"],
            r["fail_mean_word_len"],
            r["fail_stopwords"],
            r["fail_alpha_ratio"],
            r["n_pass"],
        ) == (n, fwc, fmwl, fstop, falpha, npass)
        assert r["pass_milli"] == (2000 * npass + n) // (2 * n)
    # thresholds are fitted to the corpus: the wc/mwl/stop rules must
    # each fail SOMEWHERE (non-degenerate gates)
    assert total_fails[0] > 0 and total_fails[1] > 0 and total_fails[2] > 0


def test_lateral_topn_replay(spark):
    """The lateral top-2 must equal the per-nation sort-and-take, and
    decorrelate (no per-outer-row re-execution plan nodes)."""
    rows = _duck().execute(
        "SELECT n.n_name, c.c_custkey,"
        " CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)"
        f" FROM '{SF}/nation.parquet' n"
        f" JOIN '{SF}/customer.parquet' c ON c.c_nationkey = n.n_nationkey"
    ).fetchall()
    by_nation = defaultdict(list)
    for name, ck, bal in rows:
        by_nation[name].append((-bal, ck))
    want = set()
    for name, lst in by_nation.items():
        for negbal, ck in sorted(lst)[:2]:
            want.add((name, ck, -negbal))
    got = {
        (r["nation"], r["c_custkey"], r["bal_cents"])
        for r in _registry()["sql_lateral_topn"].fn(spark, SF).collect()
    }
    assert got == want
    df = _registry()["sql_lateral_topn"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def _events_transformed(tmp_path, name, fn):
    """Write a copy of the sf0.001 events tree with value -> fn(cents)/100
    (exact cent-level transform) and return the directory."""
    import os

    import pandas as pd

    rows = _duck().execute(
        f"SELECT * FROM '{SF}/events.parquet'"
    ).df()
    cents = (rows["value"] * 100 + 0.5).astype("int64")
    rows["value"] = cents.map(fn) / 100.0
    d = str(tmp_path / name)
    os.makedirs(d)
    pd.DataFrame(rows).to_parquet(os.path.join(d, "events.parquet"))
    return d


def test_kruskal_wallis_monotone_invariance(spark, tmp_path):
    """KW is a RANK statistic: any strictly increasing transform of the
    values (cents -> 3*cents + 7, exact in cents space) must leave k, n,
    the tie term and both H variants bit-identical."""
    reg = _registry()
    base = reg["stat_kruskal_wallis"].fn(spark, SF).collect()[0]
    d = _events_transformed(tmp_path, "kw_mono", lambda c: 3 * c + 7)
    got = reg["stat_kruskal_wallis"].fn(spark, d).collect()[0]
    assert got.asDict() == base.asDict()


def test_levene_location_shift_invariance(spark, tmp_path):
    """Brown-Forsythe is computed on |x - group median|: shifting every
    value by a constant (cents + 500, exact) leaves the deviations and
    therefore every output column bit-identical."""
    reg = _registry()
    base = reg["stat_levene_brown_forsythe"].fn(spark, SF).collect()[0]
    d = _events_transformed(tmp_path, "lev_shift", lambda c: c + 500)
    got = reg["stat_levene_brown_forsythe"].fn(spark, d).collect()[0]
    assert got.asDict() == base.asDict()


def test_friedman_replay(spark):
    """Replay Q over complete day-blocks with within-day doubled
    midranks; Friedman must also be invariant to a per-day additive
    shift (block effect removed by construction) — asserted by shifting
    each day's totals by day*1000 in the replay and re-deriving
    identical ranks."""
    rows = _duck().execute(
        "SELECT event_type,"
        " date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,"
        " CAST(round(value * 100) AS BIGINT)"
        f" FROM '{SF}/events.parquet'"
    ).fetchall()
    daily = defaultdict(int)
    for t, day, c in rows:
        daily[(t, day)] += c
    types = sorted({t for t, _ in daily})
    k = len(types)
    days = sorted({d for _, d in daily})
    complete = [
        d for d in days if all((t, d) in daily for t in types)
    ]
    n = len(complete)
    assert n > 0
    r2_j = Counter()
    for d in complete:
        ys = sorted(daily[(t, d)] for t in types)
        for t in types:
            y = daily[(t, d)]
            r2_j[t] += 2 * sum(1 for v in ys if v < y) + ys.count(y) + 1
    s2 = sum(v * v for v in r2_j.values())

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    q_milli = tdiv(tdiv(3000 * s2, 4), n * k * (k + 1)) - 3000 * n * (k + 1)
    row = _registry()["stat_friedman_test"].fn(spark, SF).collect()[0]
    assert (row["k"], row["n_blocks"], row["q_milli"]) == (k, n, q_milli)
    # block-effect invariance of the replayed ranks: shifting every value
    # in a day by the same constant leaves within-day ranks unchanged
    r2_shifted = Counter()
    for d in complete:
        ys = sorted(daily[(t, d)] + d * 1000 for t in types)
        for t in types:
            y = daily[(t, d)] + d * 1000
            r2_shifted[t] += 2 * sum(1 for v in ys if v < y) + ys.count(y) + 1
    assert r2_shifted == r2_j


def test_psi_replay(spark):
    """Replay per-source PSI with the exact fixed-point ln table and the
    per-mille floor shares; PSI of a source against itself-complement
    must also come out ~0 when the source's distribution matches the
    rest (sanity bound, not asserted exactly — flooring)."""
    from nfl_big_data_bowl_2024_spark.plans.pipeline_common import (
        LN2_MICRO,
        LN_MANTISSA_MICRO,
    )

    def ln_micro(v):
        e = v.bit_length() - 1
        m = (v >> (e - 6)) if e >= 6 else (v * 64) >> e
        return e * LN2_MICRO + LN_MANTISSA_MICRO[m - 64]

    rows = _doc_rows()
    srcs = _duck().execute(
        f"SELECT source FROM '{SF}/documents.parquet'"
    ).fetchall()
    binned = [
        (src[0], min(max((mtl - 2000) // 500, 0), 9))
        for src, (mtl, _pos, _nc) in zip(srcs, rows)
    ]
    n = len(binned)
    na = Counter(s for s, _ in binned)
    ca = Counter(binned)
    call = Counter(b for _, b in binned)
    want = {}
    for s in na:
        nb = n - na[s]
        total = 0
        for b in range(10):
            c_a = ca.get((s, b), 0)
            c_b = call.get(b, 0) - c_a
            pa = 1000 * c_a // na[s]
            pb = 1000 * c_b // nb
            dln = ln_micro(max(c_a, 1) * nb) - ln_micro(max(c_b, 1) * na[s])
            total += (pa - pb) * dln
        q = abs(total) // 1000
        want[s] = q if total >= 0 else -q
    got = {
        r["source"]: (r["n_docs"], r["psi_micro"])
        for r in _registry()["ml_psi_source_drift"].fn(spark, SF).collect()
    }
    assert set(got) == set(want)
    for s in want:
        assert got[s] == (na[s], want[s])
