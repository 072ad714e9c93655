"""Round-9 second batch: pure-Python replays of the integer/fixed-point
semantics on the sf0.001 driver tree (Kendall tau-b, Wilson CI, portable
Bloom prefilter, ROC-AUC, calibration bins, peak concurrency, co-purchase
projection, Zipf fit)."""

from __future__ import annotations

import math

SF = "/root/testdata/sf0.001"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def _duck():
    import duckdb

    return duckdb.connect()


def test_kendall_tau_hand_replay(spark):
    got = {
        r["nation"]: (r["n_pairs"], r["conc"], r["disc"], r["tau_b_micro"])
        for r in _registry()["stat_kendall_tau"].fn(spark, SF).collect()
    }
    con = _duck()
    rows = con.execute(
        f"""SELECT n.n_name, c.c_custkey,
                   CAST(floor(c.c_acctbal * 100.0 + 0.5) AS BIGINT),
                   s.y
            FROM '{SF}/customer.parquet' c
            JOIN (SELECT o_custkey,
                         CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5)
                                       AS BIGINT)) AS BIGINT) AS y
                  FROM '{SF}/orders.parquet' GROUP BY o_custkey) s
              ON s.o_custkey = c.c_custkey
            JOIN '{SF}/nation.parquet' n
              ON n.n_nationkey = c.c_nationkey
            ORDER BY n.n_name, c.c_custkey"""
    ).fetchall()
    by_nation: dict = {}
    for nat, ck, x, y in rows:
        by_nation.setdefault(nat, []).append((ck, x, y))
    want = {}
    for nat, panel in by_nation.items():
        panel = panel[:500]
        n0 = conc = disc = tx = ty = 0
        for i in range(len(panel)):
            for j in range(i + 1, len(panel)):
                _, xi, yi = panel[i]
                _, xj, yj = panel[j]
                dx = (xi < xj) - (xi > xj)
                dy = (yi < yj) - (yi > yj)
                n0 += 1
                conc += dx * dy == 1
                disc += dx * dy == -1
                tx += dx == 0
                ty += dy == 0
        tau = math.floor(
            (conc - disc) * 1_000_000.0 / math.sqrt((n0 - tx) * 1.0 * (n0 - ty))
            + 0.5
        )
        want[nat] = (n0, conc, disc, tau)
    assert got == want


def test_wilson_ci_hand_replay(spark):
    got = {
        r["event_type"]: (r["n"], r["k"], r["p_micro"], r["lo_micro"], r["hi_micro"])
        for r in _registry()["stat_wilson_ci"].fn(spark, SF).collect()
    }
    con = _duck()
    rows = con.execute(
        f"""SELECT event_type, count(*),
                   sum(CASE WHEN value > 80.0 THEN 1 ELSE 0 END)
            FROM '{SF}/events.parquet' GROUP BY event_type"""
    ).fetchall()
    want = {}
    for t, n, k in rows:
        p = k * 1.0 / n
        zz_n = 1.96 * 1.96 / n
        center = (p + zz_n / 2) / (1 + zz_n)
        half = 1.96 * math.sqrt(p * (1 - p) / n + zz_n / (4 * n)) / (1 + zz_n)
        want[t] = (
            n,
            k,
            math.floor(p * 1_000_000 + 0.5),
            math.floor((center - half) * 1_000_000 + 0.5),
            math.floor((center + half) * 1_000_000 + 0.5),
        )
    assert got == want


def test_bloom_prefilter_replay_and_no_false_negatives(spark):
    rows = {
        r["has_early"]: (r["n_cust"], r["n_bloom_pass"])
        for r in _registry()["agg_bloom_prefilter_join"].fn(spark, SF).collect()
    }
    con = _duck()
    early = {
        k
        for (k,) in con.execute(
            f"""SELECT DISTINCT o_custkey FROM '{SF}/orders.parquet'
                WHERE o_orderdate < TIMESTAMP '1995-06-01'"""
        ).fetchall()
    }
    custs = [
        k
        for (k,) in con.execute(
            f"SELECT c_custkey FROM '{SF}/customer.parquet'"
        ).fetchall()
    ]
    def _p1(k):
        return (
            (k % 2**31) * 2654435761 % 32768
            + (k // 2**31 % 2**31) * 1779033703 % 32768
        ) % 32768

    def _p2(k):
        return (
            (k % 2**31) * 2246822519 % 32768
            + (k // 2**31 % 2**31) * 3144134277 % 32768
            + 1013904223
        ) % 32768

    words: dict = {}
    for k in early:
        for p in (_p1(k), _p2(k)):
            words[p // 32] = words.get(p // 32, 0) | (1 << (p % 32))
    want: dict = {}
    for ck in custs:
        p1 = _p1(ck)
        p2 = _p2(ck)
        hit = (words.get(p1 // 32, 0) >> (p1 % 32)) & 1 and (
            words.get(p2 // 32, 0) >> (p2 % 32)
        ) & 1
        flag = 1 if ck in early else 0
        n, np_ = want.get(flag, (0, 0))
        want[flag] = (n + 1, np_ + (1 if hit else 0))
    assert rows == want
    # structural invariant: a Bloom filter has NO false negatives
    if 1 in rows:
        assert rows[1][1] == rows[1][0]


def test_roc_auc_midrank_replay(spark):
    got = {
        r["source"]: (r["n_docs"], r["n_pos"], r["auc_micro"])
        for r in _registry()["ml_roc_auc"].fn(spark, SF).collect()
    }
    con = _duck()
    rows = con.execute(
        f"""SELECT source, n_chars, lang = 'en'
            FROM '{SF}/documents.parquet' ORDER BY source, n_chars"""
    ).fetchall()
    by_src: dict = {}
    for s, x, pos in rows:
        by_src.setdefault(s, []).append((x, pos))
    want = {}
    for s, vals in by_src.items():
        n = len(vals)
        n_pos = sum(1 for _, p in vals if p)
        if n_pos == 0 or n_pos == n:
            want[s] = (n, n_pos, None)
            continue
        # midranks over the sorted score list
        r2_pos = 0  # doubled rank sum of positives
        i = 0
        vals.sort()
        while i < n:
            j = i
            while j < n and vals[j][0] == vals[i][0]:
                j += 1
            r2 = (i + 1) + j  # 2 * midrank = (first + last) one-based
            r2_pos += sum(r2 for k in range(i, j) if vals[k][1])
            i = j
        auc = (r2_pos - n_pos * (n_pos + 1)) * 1_000_000 // (
            2 * n_pos * (n - n_pos)
        )
        want[s] = (n, n_pos, auc)
    assert got == want


def test_calibration_bins_replay(spark):
    got = {
        r["bin_id"]: (
            r["n_docs"],
            r["n_pos"],
            r["mean_score_milli"],
            r["pos_rate_milli"],
        )
        for r in _registry()["ml_calibration_bins"].fn(spark, SF).collect()
    }
    con = _duck()
    rows = con.execute(
        f"""SELECT n_chars,
                   length(text) - length(replace(text, ' ', '')) + 1,
                   lang = 'en'
            FROM '{SF}/documents.parquet'"""
    ).fetchall()
    acc: dict = {}
    for n_chars, n_tok, pos in rows:
        mtl = n_chars * 1000 // n_tok
        b = min(max((mtl - 2000) // 500, 0), 9)
        n, np_, s = acc.get(b, (0, 0, 0))
        acc[b] = (n + 1, np_ + (1 if pos else 0), s + mtl)
    want = {
        b: (n, np_, (2 * s + n) // (2 * n), (2000 * np_ + n) // (2 * n))
        for b, (n, np_, s) in acc.items()
    }
    assert got == want


def test_peak_concurrency_sweep_replay(spark):
    got = {
        r["event_type"]: (r["peak_concurrency"], r["first_peak_us"])
        for r in _registry()["evt_peak_concurrency"].fn(spark, SF).collect()
    }
    con = _duck()
    rows = con.execute(
        f"""SELECT event_type, epoch_us(ts) FROM '{SF}/events.parquet'"""
    ).fetchall()
    by_type: dict = {}
    for t, s in rows:
        by_type.setdefault(t, []).append(s)
    want = {}
    for t, starts in by_type.items():
        pts = [(s, 1) for s in starts] + [(s + 1_800_000_000, -1) for s in starts]
        pts.sort(key=lambda p: (p[0], -p[1]))  # starts before ends at ties
        conc = peak = 0
        first = None
        for ts, d in pts:
            conc += d
            if conc > peak:
                peak = conc
                first = ts
        want[t] = (peak, first)
    assert got == want


def test_copurchase_projection_replay(spark):
    got = [
        (r["part_a"], r["part_b"], r["n_cooc"])
        for r in _registry()["graph_copurchase_projection"].fn(spark, SF).collect()
    ]
    con = _duck()
    rows = con.execute(
        f"""SELECT DISTINCT l_orderkey, l_partkey
            FROM '{SF}/lineitem.parquet'"""
    ).fetchall()
    by_order: dict = {}
    for ok, pk in rows:
        by_order.setdefault(ok, []).append(pk)
    cooc: dict = {}
    for parts in by_order.values():
        parts.sort()
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                key = (parts[i], parts[j])
                cooc[key] = cooc.get(key, 0) + 1
    want = sorted(
        ((a, b, n) for (a, b), n in cooc.items() if n >= 2),
        key=lambda r: (-r[2], r[0], r[1]),
    )[:100]
    assert got == want


def _ln_micro(v: int) -> int:
    e = v.bit_length() - 1
    m = v * 64 // (1 << e) - 64
    table = [
        round(math.log(1.0 + (i + 0.5) / 64.0) * 1_000_000) for i in range(64)
    ]
    return e * 693147 + table[m]


def test_zipf_fit_portable_ln_replay(spark):
    row = _registry()["txt_zipf_fit"].fn(spark, SF).collect()[0]
    con = _duck()
    freqs = con.execute(
        f"""SELECT term, CAST(count(*) AS BIGINT) AS f
            FROM (SELECT unnest(string_split(text, ' ')) AS term
                  FROM '{SF}/documents.parquet')
            GROUP BY term ORDER BY f DESC, term LIMIT 100"""
    ).fetchall()
    pts = [
        (_ln_micro(i + 1), _ln_micro(f)) for i, (_, f) in enumerate(freqs)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    slope = math.floor((n * sxy - sx * sy) * 1_000_000.0 / (n * sxx - sx * sx) + 0.5)
    intercept = math.floor(
        sy * 1.0 / n
        - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)) * sx / n
        + 0.5
    )
    assert (row["n_ranks"], row["zipf_slope_micro"], row["intercept_micro"]) == (
        n,
        slope,
        intercept,
    )
    # ln_micro accuracy contract: within 0.1% relative of true ln
    for v in (1, 2, 3, 7, 64, 65, 1000, 123456):
        if v > 1:
            assert abs(_ln_micro(v) / 1e6 - math.log(v)) < max(
                0.001 * math.log(v), 0.016
            )


def test_sign_flip_permutation_replay(spark):
    row = _registry()["stat_sign_flip_permutation"].fn(spark, SF).collect()[0]
    con = _duck()
    rows = con.execute(
        f"""SELECT user_id, event_type, count(*),
                   sum(CAST(round(value * 100) AS BIGINT))
            FROM '{SF}/events.parquet'
            WHERE event_type IN ('click', 'view')
            GROUP BY user_id, event_type"""
    ).fetchall()
    means: dict = {}
    for u, t, n, s in rows:
        means.setdefault(u, {})[t] = (2 * s + n) // (2 * n)
    diffs = {
        u: m["click"] - m["view"]
        for u, m in means.items()
        if "click" in m and "view" in m
    }
    s_obs = sum(diffs.values())
    n_ge = 0
    for k in range(1, 65):
        s_k = 0
        for u, d in diffs.items():
            h = (u + 1 + k * 7919) % 1048576
            sign = 1 - 2 * ((h * h // 1024) % 2)
            s_k += sign * d
        n_ge += abs(s_k) >= abs(s_obs)
    assert (
        row["n_users"],
        row["s_obs_cents"],
        row["n_flips"],
        row["n_ge"],
        row["p_milli"],
    ) == (len(diffs), s_obs, 64, n_ge, (1 + n_ge) * 1000 // 65)


def test_kl_divergence_replay(spark):
    row = _registry()["txt_kl_source_divergence"].fn(spark, SF).collect()[0]
    con = _duck()
    rows = con.execute(
        f"""SELECT lang, unnest(string_split(text, ' '))
            FROM '{SF}/documents.parquet' WHERE lang IN ('en', 'de')"""
    ).fetchall()
    cp: dict = {}
    cq: dict = {}
    vocab = set()
    for lang, t in rows:
        vocab.add(t)
        if lang == "en":
            cp[t] = cp.get(t, 0) + 1
        else:
            cq[t] = cq.get(t, 0) + 1
    v = len(vocab)
    tp, tq = sum(cp.values()), sum(cq.values())
    pd_, qd = tp + v, tq + v
    s_pq = s_qp = 0
    for t in vocab:
        pn, qn = cp.get(t, 0) + 1, cq.get(t, 0) + 1
        s_pq += pn * (_ln_micro(pn) - _ln_micro(pd_) - _ln_micro(qn) + _ln_micro(qd))
        s_qp += qn * (_ln_micro(qn) - _ln_micro(qd) - _ln_micro(pn) + _ln_micro(pd_))
    assert (
        row["n_vocab"],
        row["tokens_en"],
        row["tokens_de"],
        row["kl_en_de_micro"],
        row["kl_de_en_micro"],
    ) == (
        v,
        tp,
        tq,
        math.floor(s_pq / pd_ + 0.5),
        math.floor(s_qp / qd + 0.5),
    )
    # both directions of a smoothed KL over real counts should be >= 0
    # up to the documented ln-table error envelope
    assert row["kl_en_de_micro"] > -2000 and row["kl_de_en_micro"] > -2000


def _best_stump(points):
    """points: list of (val, y). Returns (threshold, n_l, n_r, s_l, s_r,
    gain) replaying the exact integer semantics."""
    hist: dict = {}
    for v, y in points:
        n, s = hist.get(v, (0, 0))
        hist[v] = (n + 1, s + y)
    bins = sorted(hist.items())
    n_t = sum(n for _, (n, _) in bins)
    s_t = sum(s for _, (_, s) in bins)
    best = None
    n_l = s_l = 0
    for v, (n, s) in bins:
        n_l += n
        s_l += s
        if n_l >= n_t:
            continue
        gain = (
            (s_l * s_l) // n_l
            + ((s_t - s_l) * (s_t - s_l)) // (n_t - n_l)
            - (s_t * s_t) // n_t
        )
        cand = (-gain, v, n_l, n_t - n_l, s_l, s_t - s_l)
        if best is None or cand < best:
            best = cand
    g, v, n_l, n_r, s_l, s_r = best
    return (v, n_l, n_r, s_l, s_r, -g)


def test_boosted_stumps_replay(spark):
    got = {
        r["stage"]: (
            r["feature"],
            r["threshold"],
            r["n_left"],
            r["n_right"],
            r["s_left_cents"],
            r["s_right_cents"],
            r["gain_1e9"],
        )
        for r in _registry()["ml_boosted_stumps"].fn(spark, SF).collect()
    }
    con = _duck()
    pts = con.execute(
        f"""SELECT CAST(l_quantity AS BIGINT),
                   CAST(floor(l_discount * 100 + 0.5) AS BIGINT),
                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
            FROM '{SF}/lineitem.parquet'"""
    ).fetchall()
    t1, n_l, n_r, s_l, s_r, g1 = _best_stump([(q, y) for q, _, y in pts])
    pl, pr = s_l // n_l, s_r // n_r
    resid = [(d, y - (pl if q <= t1 else pr)) for q, d, y in pts]
    t2, n_l2, n_r2, s_l2, s_r2, g2 = _best_stump(resid)
    assert got[1] == ("quantity", t1, n_l, n_r, s_l, s_r, max(g1, 0) // 10**9)
    assert got[2] == ("discount", t2, n_l2, n_r2, s_l2, s_r2, max(g2, 0) // 10**9)
    # boosting contract: stage-2 residual sums balance to ~0 across leaves
    assert abs(s_l2 + s_r2) <= n_l2 + n_r2  # floor-mean leakage bound


def test_asof_forward_hand_replay(spark):
    got = {
        r["event_id"]: (r["next_purchase_value"], r["asof_dt_us"])
        for r in _registry()["asof_next_purchase"].fn(spark, SF).collect()
    }
    con = _duck()
    clicks = con.execute(
        f"""SELECT event_id, user_id, epoch_us(ts)
            FROM '{SF}/events.parquet' WHERE event_type = 'click'"""
    ).fetchall()
    purch = con.execute(
        f"""SELECT user_id, epoch_us(ts), max(value)
            FROM '{SF}/events.parquet' WHERE event_type = 'purchase'
            GROUP BY user_id, ts"""
    ).fetchall()
    by_user: dict = {}
    for u, t, v in purch:
        by_user.setdefault(u, []).append((t, v))
    want = {}
    for eid, u, t in clicks:
        nxt = min(
            ((pt, pv) for pt, pv in by_user.get(u, []) if pt >= t),
            default=None,
        )
        want[eid] = (nxt[1], nxt[0] - t) if nxt else (None, None)
    assert got == want


def test_ngram_novelty_replay(spark):
    got = {
        r["source"]: (
            r["n_docs"],
            r["total_shingles"],
            r["novel_shingles"],
            r["novelty_milli"],
        )
        for r in _registry()["txt_ngram_novelty"].fn(spark, SF).collect()
    }
    con = _duck()
    docs = con.execute(
        f"SELECT doc_id, source, text FROM '{SF}/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    first: dict = {}
    per_doc = []
    for doc_id, source, text in docs:
        n = max(len(text) - 7, 1)
        shs = {text[g : g + 8] for g in range(n)}
        per_doc.append((doc_id, source, shs))
        for sh in shs:
            if sh not in first or doc_id < first[sh]:
                first[sh] = doc_id
    acc: dict = {}
    for doc_id, source, shs in per_doc:
        novel = sum(1 for sh in shs if first[sh] == doc_id)
        nd, tot, nov = acc.get(source, (0, 0, 0))
        acc[source] = (nd + 1, tot + len(shs), nov + novel)
    want = {
        s: (nd, tot, nov, nov * 1000 // tot) for s, (nd, tot, nov) in acc.items()
    }
    assert got == want


def test_uplift_did_replay(spark):
    row = _registry()["evt_uplift_diff_in_diff"].fn(spark, SF).collect()[0]
    con = _duck()
    rows = con.execute(
        f"""SELECT user_id % 2,
                   CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END,
                   CAST(round(value * 100) AS BIGINT)
            FROM '{SF}/events.parquet' WHERE event_type = 'purchase'"""
    ).fetchall()
    cells: dict = {}
    for t, p, c in rows:
        n, s = cells.get((t, p), (0, 0))
        cells[(t, p)] = (n + 1, s + c)
    m = {k: (2 * s + n) // (2 * n) for k, (n, s) in cells.items()}
    did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
    assert (
        row["n_purchases"],
        row["treat_before_centi"],
        row["treat_after_centi"],
        row["ctrl_before_centi"],
        row["ctrl_after_centi"],
        row["did_centi"],
    ) == (len(rows), m[(1, 0)], m[(1, 1)], m[(0, 0)], m[(0, 1)], did)


def test_gap_audit_replay(spark):
    got = {
        r["tbl"]: (
            r["n_rows"],
            r["n_distinct"],
            r["id_min"],
            r["id_max"],
            r["n_duplicates"],
            r["n_gaps"],
        )
        for r in _registry()["dq_sequential_gap_audit"].fn(spark, SF).collect()
    }
    con = _duck()
    want = {}
    for tbl, key in (
        ("events", "event_id"),
        ("orders", "o_orderkey"),
        ("customer", "c_custkey"),
    ):
        n, d, lo, hi = con.execute(
            f"""SELECT count(*), count(DISTINCT {key}), min({key}),
                       max({key}) FROM '{SF}/{tbl}.parquet'"""
        ).fetchall()[0]
        want[tbl] = (n, d, lo, hi, n - d, hi - lo + 1 - d)
    assert got == want


def test_degree_assortativity_replay(spark):
    row = _registry()["graph_degree_assortativity"].fn(spark, SF).collect()[0]
    con = _duck()
    pairs = con.execute(
        f"""SELECT DISTINCT o.o_custkey, l.l_suppkey
            FROM '{SF}/orders.parquet' o
            JOIN '{SF}/lineitem.parquet' l
              ON o.o_orderkey = l.l_orderkey"""
    ).fetchall()
    dc: dict = {}
    ds: dict = {}
    for c, s in pairs:
        dc[c] = dc.get(c, 0) + 1
        ds[s] = ds.get(s, 0) + 1
    m = len(pairs)
    sx = sum(dc[c] for c, _ in pairs)
    sy = sum(ds[s] for _, s in pairs)
    sxx = sum(dc[c] ** 2 for c, _ in pairs)
    syy = sum(ds[s] ** 2 for _, s in pairs)
    sxy = sum(dc[c] * ds[s] for c, s in pairs)
    r = math.floor(
        float(m * sxy - sx * sy)
        * 1_000_000.0
        / math.sqrt(float(m * sxx - sx * sx) * float(m * syy - sy * sy))
        + 0.5
    )
    assert (row["n_edges"], row["assortativity_micro"]) == (m, r)
    # correlation bound (up to fixed-point rounding)
    assert -1_000_001 <= r <= 1_000_001


def test_autok_formula_parity_python_vs_duckdb():
    """The auto-k rule must agree between the Spark driver (Python
    int.bit_length) and the oracle (DuckDB binary-string length) for
    every corpus size."""
    con = _duck()
    for n in [1, 7, 500, 2048, 2049, 16384, 16385, 200000, 5000000, 10**9]:
        k_py = max(8, 1 << max((n - 1) // 2048, 1).bit_length())
        k_sql = con.execute(
            "SELECT greatest(8, 1::BIGINT << length(format('{:b}',"
            f" greatest(({n} - 1) // 2048, 1))))"
        ).fetchone()[0]
        assert k_py == k_sql, (n, k_py, k_sql)
        # k is a power of two and cluster size stays in (1024, 2048]
        assert k_py & (k_py - 1) == 0
        if n > 16384:
            assert n / k_py <= 2048 and n / k_py > 512


def test_cross_source_contamination_replay(spark):
    row = (
        _registry()["txt_cross_source_contamination"].fn(spark, SF).collect()[0]
    )
    con = _duck()
    rows = con.execute(
        f"""SELECT md5(lower(trim(text))), source, count(*)
            FROM '{SF}/documents.parquet' GROUP BY 1, 2"""
    ).fetchall()
    per_fp: dict = {}
    for fp, src, n in rows:
        per_fp.setdefault(fp, []).append(n)
    total = within = dup = 0
    for counts in per_fp.values():
        n = sum(counts)
        total += n * (n - 1) // 2
        within += sum(c * (c - 1) // 2 for c in counts)
        dup += n > 1
    assert (
        row["n_fingerprints"],
        row["n_dup_fingerprints"],
        row["pairs_total"],
        row["pairs_within_source"],
        row["pairs_cross_source"],
    ) == (len(per_fp), dup, total, within, total - within)


def test_cohens_d_replay(spark):
    row = _registry()["stat_cohens_d"].fn(spark, SF).collect()[0]
    con = _duck()
    g = dict()
    for t, n, s1, s2 in con.execute(
        f"""SELECT event_type, count(*),
                   sum(CAST(round(value * 100) AS BIGINT)),
                   sum(CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT))
            FROM '{SF}/events.parquet'
            WHERE event_type IN ('click', 'view') GROUP BY event_type"""
    ).fetchall():
        g[t] = (n, s1, s2)
    (nc, a1, a2), (nv, b1, b2) = g["click"], g["view"]
    m1, m2 = a1 * 1.0 / nc, b1 * 1.0 / nv
    ss1 = a2 - a1 * 1.0 / nc * a1
    ss2 = b2 - b1 * 1.0 / nv * b1
    d = (m1 - m2) / math.sqrt((ss1 + ss2) / (nc + nv - 2))
    d_micro = math.floor(d * 1_000_000 + 0.5)
    corr = math.floor(3.0 * d / (4 * (nc + nv) - 9) * -1_000_000 + 0.5)
    assert (row["n_click"], row["n_view"], row["cohens_d_micro"],
            row["hedges_g_micro"]) == (nc, nv, d_micro, d_micro + corr)
