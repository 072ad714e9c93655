"""Round-13 batch: replay and invariance tests for the new
registrations — stat_dunn_posthoc (exact fixed-point replay; monotone-
transform invariance), ml_auc_ci_hanley (float-reference variance
tracking; deterministic isqrt incl. perfect-square boundary),
evt_haar_energy (hand replay with a gapped series; calendar-shift
invariance) — and for the graph_adamic_adar_links packed-key scale
gate (both paths agree incl. tie order; packed plan keys on one
bigint)."""

from __future__ import annotations

import math
import os

SF = "/root/testdata/sf0.001"


def _registry():
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    return all_queries()


def _dunn_reference(values_by_group: dict[str, list[int]]):
    """Exact fixed-point replay of the registered statistic (documented
    truncating-division protocol), NOT a float approximation."""
    allv = sorted(v for vs in values_by_group.values() for v in vs)
    n = len(allv)
    # midranks doubled over the pooled sample
    from collections import Counter

    cnt = Counter(allv)
    r2 = {}
    cum = 0
    tie_t = 0
    for val in sorted(cnt):
        dup = cnt[val]
        cum += dup
        r2[val] = 2 * cum - dup + 1
        tie_t += dup**3 - dup
    stats = {
        g: (len(vs), sum(r2[v] for v in vs))
        for g, vs in values_by_group.items()
    }
    q = 1_000_000 * (n * (n + 1) * (n - 1) - tie_t)
    sigma2_micro = q // (12 * (n - 1))
    out = {}
    for ga in sorted(stats):
        for gb in sorted(stats):
            if ga >= gb:
                continue
            n_a, r2_a = stats[ga]
            n_b, r2_b = stats[gb]
            d_milli = (1000 * r2_a) // (2 * n_a) - (1000 * r2_b) // (2 * n_b)
            num = 1000 * d_milli * d_milli * n_a * n_b
            den = sigma2_micro * (n_a + n_b)
            # truncate toward zero (num >= 0, den > 0: // == div)
            out[(ga, gb)] = (n_a, n_b, d_milli, num // den)
    return out


def test_dunn_posthoc_exact_replay(spark, tmp_path):
    """Three groups with ties straddling group boundaries; every pair's
    (n_a, n_b, d_milli, z2_milli) must equal the integer replay."""
    import pandas as pd

    groups = {
        "a": [100, 200, 200, 300],
        "b": [200, 400, 400, 500, 500],
        "c": [100, 600, 700],
    }
    rows = []
    i = 0
    for g, vs in groups.items():
        for v in vs:
            rows.append((i, "1970-01-01", 1, g, v / 100.0, ""))
            i += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    d = str(tmp_path / "sf_dunn")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))

    got = {
        (r["group_a"], r["group_b"]): (
            r["n_a"],
            r["n_b"],
            r["d_milli"],
            r["z2_milli"],
        )
        for r in _registry()["stat_dunn_posthoc"].fn(spark, d).collect()
    }
    want = _dunn_reference(groups)
    assert got == want


def test_dunn_pair_count_and_kw_consistency(spark):
    """On the sf0.001 corpus the panel must be exactly k(k-1)/2 pairs for
    the k event types KW sees, and the pair with the largest |d_milli|
    must also carry the largest z2_milli when group sizes are equal-ish
    (sanity tie between the two statistics)."""
    reg = _registry()
    kw = reg["stat_kruskal_wallis"].fn(spark, SF).collect()[0]
    pairs = reg["stat_dunn_posthoc"].fn(spark, SF).collect()
    k = kw["k"]
    assert len(pairs) == k * (k - 1) // 2
    assert all(p["z2_milli"] >= 0 for p in pairs)
    assert all(p["group_a"] < p["group_b"] for p in pairs)


def test_hanley_ci_against_float_reference(spark):
    """var_pico must track the float Hanley-McNeil variance within the
    documented fixed-point granularity, and the CI must bracket the AUC
    with halfwidth 1.96 * se."""
    rows = _registry()["ml_auc_ci_hanley"].fn(spark, SF).collect()
    assert rows, "expected at least one non-degenerate source"
    for r in rows:
        a = r["auc_micro"] / 1e6
        n_pos = r["n_pos"]
        n_neg = r["n_docs"] - r["n_pos"]
        q1 = a / (2 - a)
        q2 = 2 * a * a / (1 + a)
        var = (
            a * (1 - a)
            + (n_pos - 1) * (q1 - a * a)
            + (n_neg - 1) * (q2 - a * a)
        ) / (n_pos * n_neg)
        got = r["var_pico"] / 1e12
        # fixed-point truncation error: each micro-unit quotient truncates
        # (<= 1e-6 each, n-weighted) -> tolerance scales with n/(n+ n-)
        tol = 3e-6 * max(n_pos, n_neg) / (n_pos * n_neg) + 1e-12
        assert abs(got - var) <= tol, (r["source"], got, var, tol)
        # se is the exact isqrt of var_pico
        s = r["se_micro"]
        assert s * s <= r["var_pico"] < (s + 1) * (s + 1)
        assert r["ci_lo_micro"] == max(0, r["auc_micro"] - (196 * s) // 100)
        assert r["ci_hi_micro"] == min(
            1_000_000, r["auc_micro"] + (196 * s) // 100
        )


def test_hanley_isqrt_exact_at_perfect_squares(spark, tmp_path):
    """The +-1 isqrt correction must hit perfect squares exactly: build a
    source whose var_pico lands on / beside a perfect square and assert
    floor(sqrt(.)) semantics via the s*s <= v < (s+1)^2 invariant over a
    spread of magnitudes (the float-only floor(sqrt(double)) can be off
    by one near squares; the invariant catches that)."""
    import pandas as pd

    # two sources, each with both classes present and heavy ties so the
    # rank path (midranks) is exercised; magnitudes differ by 100x so
    # var_pico spans well-separated scales
    rows = []
    i = 0
    for src, n_en, n_other in (("s1", 3, 17), ("s2", 40, 160)):
        for j in range(n_en):
            rows.append((f"d{i}", src, "en", 100 + (j % 3) * 50, "x"))
            i += 1
        for j in range(n_other):
            rows.append((f"d{i}", src, "de", 90 + (j % 5) * 40, "x"))
            i += 1
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "source", "lang", "n_chars", "text"]
    )
    d = str(tmp_path / "sf_hanley")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "documents.parquet"))
    out = _registry()["ml_auc_ci_hanley"].fn(spark, d).collect()
    assert len(out) == 2
    for r in out:
        s, v = r["se_micro"], r["var_pico"]
        assert s * s <= v < (s + 1) * (s + 1)
        assert s == math.isqrt(v)


def _write_trading_tables(tmp_path, cust_base):
    """Tiny orders/lineitem pair whose trading graph has known wedges;
    cust_base shifts customer keys so node ids land under / over 2^31,
    forcing the packed / struct wedge paths of graph_adamic_adar_links."""
    import pandas as pd

    # customers c1..c4 x suppliers s1..s3; c_i trades with supplier set:
    # c1:{1,2}, c2:{1,2}, c3:{2,3}, c4:{1,2,3} -> apexes both sides,
    # several supplier pairs share 2+ customer apexes (ties in n_common)
    trades = [
        (1, 1), (1, 2),
        (2, 1), (2, 2),
        (3, 2), (3, 3),
        (4, 1), (4, 2), (4, 3),
    ]
    orders = pd.DataFrame(
        {
            "o_orderkey": range(1, len(trades) + 1),
            "o_custkey": [cust_base + c for c, _ in trades],
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": range(1, len(trades) + 1),
            "l_suppkey": [s for _, s in trades],
        }
    )
    d = str(tmp_path)
    os.makedirs(d, exist_ok=True)
    orders.to_parquet(os.path.join(d, "orders.parquet"))
    li.to_parquet(os.path.join(d, "lineitem.parquet"))
    return d


def test_adamic_packed_and_struct_paths_agree(spark, tmp_path):
    """The r13 scale gate must be invisible in results: the same graph
    shifted past 2^31 (struct path) and kept small (packed path) must
    produce identical predictions up to the customer-key shift —
    including tie-break order on (aa_micro, node_a, node_b)."""
    reg = _registry()
    d_small = _write_trading_tables(tmp_path / "small", cust_base=0)
    d_big = _write_trading_tables(tmp_path / "big", cust_base=2_000_000_000)

    small = reg["graph_adamic_adar_links"].fn(spark, d_small).collect()
    big = reg["graph_adamic_adar_links"].fn(spark, d_big).collect()
    assert len(small) == len(big) > 0

    shift = 2 * 2_000_000_000  # customer node ids are custkey * 2

    def norm(rows, delta):
        out = []
        for r in rows:
            a = r["node_a"] - (delta if r["node_a"] % 2 == 0 else 0)
            b = r["node_b"] - (delta if r["node_b"] % 2 == 0 else 0)
            out.append((a, b, r["aa_micro"], r["n_common"]))
        return out

    assert norm(small, 0) == norm(big, shift)


def test_adamic_packed_plan_carries_single_long_key(spark, tmp_path):
    """Plan-shape audit for the packed path: the wedge aggregate must key
    on ONE bigint (the packed pair), not a two-column struct — the whole
    point of the r13 change; a regression to struct keys under the gate
    would be silent in results."""
    reg = _registry()
    d = _write_trading_tables(tmp_path, cust_base=0)
    df = reg["graph_adamic_adar_links"].fn(spark, d)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft" in plan
    # the packed path groups by the single key column `k`
    assert "hashpartitioning(k#" in plan.replace(" ", "").lower() or (
        "partitioning(k#" in plan.replace(" ", "").lower()
    )


def test_haar_energy_exact_replay(spark, tmp_path):
    """Hand-replay the multiresolution explode on a small series with a
    gap (missing day = implicit zero) and assert every (level, n_blocks,
    energy) triple; also the Parseval-flavor sanity that level energies
    are scale-decompositions of the same series (all non-negative, and
    levels past the span collapse to one block holding total^2)."""
    import pandas as pd

    # one type, days 0,1,2,4 (day 3 missing), daily cents 100,300,500,700
    rows = [
        (1, "2024-01-01", 1, "t", 1.00, ""),
        (2, "2024-01-02", 1, "t", 3.00, ""),
        (3, "2024-01-03", 1, "t", 5.00, ""),
        (4, "2024-01-05", 1, "t", 7.00, ""),
    ]
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    d = str(tmp_path / "sf_haar")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))

    got = {
        r["level"]: (
            r["n_blocks"],
            r["energy_exa"] * 10**18 + r["energy_rem"],
        )
        for r in _registry()["evt_haar_energy"].fn(spark, d).collect()
    }
    # i: 0,1,2,4 with y 100,300,500,700; implicit zeros elsewhere
    y = {0: 100, 1: 300, 2: 500, 4: 700}

    def ref(level):
        half = 1 << (level - 1)
        blocks = {}
        for i, v in y.items():
            sign = 1 - 2 * ((i // half) % 2)
            blocks.setdefault(i // (2 * half), 0)
            blocks[i // (2 * half)] += sign * v
        return len(blocks), sum(d * d for d in blocks.values())

    assert set(got) == set(range(1, 13))
    for level in range(1, 13):
        assert got[level] == ref(level), level
    # levels whose half-block exceeds the span: one block, d = total sum
    total = sum(y.values())
    for level in range(4, 13):
        assert got[level] == (1, total * total)


def test_dunn_invariant_under_monotone_transform(spark, tmp_path):
    """Dunn is a rank statistic: doubling every value (a strictly
    monotone, tie-preserving map on the cents grid) must leave every
    (n_a, n_b, d_milli, z2_milli) unchanged."""
    import pandas as pd

    groups = {"a": [100, 200, 300], "b": [150, 250, 250, 400]}
    for mult, sub in ((1, "m1"), (2, "m2")):
        rows = []
        i = 0
        for g, vs in groups.items():
            for v in vs:
                rows.append((i, "1970-01-01", 1, g, v * mult / 100.0, ""))
                i += 1
        pdf = pd.DataFrame(
            rows,
            columns=[
                "event_id", "ts", "user_id", "event_type", "value", "props",
            ],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"])
        d = str(tmp_path / sub)
        os.makedirs(d)
        pdf.to_parquet(os.path.join(d, "events.parquet"))
    reg = _registry()
    one = sorted(
        tuple(r) for r in reg["stat_dunn_posthoc"].fn(
            spark, str(tmp_path / "m1")
        ).collect()
    )
    two = sorted(
        tuple(r) for r in reg["stat_dunn_posthoc"].fn(
            spark, str(tmp_path / "m2")
        ).collect()
    )
    assert one == two


def test_haar_invariant_under_calendar_shift(spark, tmp_path):
    """Energies are computed on i = day - min(day), so shifting every
    timestamp by a constant number of days must reproduce the spectrum
    exactly (the day0 anchor, not the calendar, defines the dyadic
    grid)."""
    import pandas as pd

    base = [
        (1, "2024-01-01", 1, "t", 1.00, ""),
        (2, "2024-01-02", 1, "t", 3.00, ""),
        (3, "2024-01-04", 1, "t", 5.00, ""),
        (4, "2024-01-09", 1, "t", 7.00, ""),
    ]
    for shift_days, sub in ((0, "s0"), (37, "s37")):
        pdf = pd.DataFrame(
            base,
            columns=[
                "event_id", "ts", "user_id", "event_type", "value", "props",
            ],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]) + pd.Timedelta(days=shift_days)
        d = str(tmp_path / sub)
        os.makedirs(d)
        pdf.to_parquet(os.path.join(d, "events.parquet"))
    reg = _registry()
    a = sorted(
        tuple(r)
        for r in reg["evt_haar_energy"].fn(spark, str(tmp_path / "s0")).collect()
    )
    b = sorted(
        tuple(r)
        for r in reg["evt_haar_energy"].fn(
            spark, str(tmp_path / "s37")
        ).collect()
    )
    assert a == b
