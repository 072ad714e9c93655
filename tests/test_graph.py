"""Graph operators on known topologies and against pure-Python replays, and
every trading-graph query against its DuckDB oracle."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import nfl_big_data_bowl_2024_spark.operators.graph as G
from nfl_big_data_bowl_2024_spark.operators.graph import connected_components


def _on_both_arms(fn):
    """``fn()`` on the driver-local arm, then with the size gate forced to
    the distributed arm."""
    local = fn()
    with pytest.MonkeyPatch.context() as m:
        m.setattr(G, "_DRIVER_LOCAL_EDGE_ROWS", -1)
        dist = fn()
    return local, dist


def _components(spark, edge_list):
    edges = spark.createDataFrame(edge_list, "src: long, dst: long")
    rows = connected_components(edges).collect()
    return {r["node"]: r["component"] for r in rows}


def test_chain_cycle_and_isolated_pair(spark):
    # chain 1-2-3-4 (diameter 3, needs multiple rounds), cycle 10-11-12-10,
    # pair 20-21, self-loop 30.
    got = _components(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21), (30, 30)],
    )
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30,
    }


def test_long_chain_converges(spark):
    # Diameter 29: exercises the multi-round propagation + early stop.
    got = _components(spark, [(i, i + 1) for i in range(30)])
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_matches_union_find_on_random_graph(spark):
    rng = random.Random(7)
    edge_list = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        parent[find(a)] = find(b)
    nodes = {v for e in edge_list for v in e}
    # Canonical label = min node id in the component.
    roots = {}
    for v in sorted(nodes):
        roots.setdefault(find(v), v)
    expect = {v: roots[find(v)] for v in nodes}

    got = _components(spark, edge_list)
    assert got == expect


def test_property_random_graphs_match_union_find(spark):
    """Hypothesis: on arbitrary small graphs (self-loops, duplicate edges,
    disconnected nodes) the distributed CC labels equal union-find's
    min-id-per-component. Spark-session-bound, so examples are batched into
    one deadline-free run."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge_st = st.tuples(
        st.integers(min_value=0, max_value=25), st.integers(min_value=0, max_value=25)
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(edge_st, min_size=1, max_size=30))
    def check(edge_list):
        parent = list(range(26))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            parent[find(a)] = find(b)
        nodes = {v for e in edge_list for v in e}
        roots = {}
        for v in sorted(nodes):
            roots.setdefault(find(v), v)
        expect = {v: roots[find(v)] for v in nodes}
        assert _components(spark, edge_list) == expect

    check()


def test_pagerank_integer_matches_hand_replay(spark):
    """pagerank_integer on a 3-node star (A<->B, A<->C): every iteration is
    integer-exact, so the expected ranks are computed by a 5-line Python
    replay of the defined arithmetic — any deviation (float creep, wrong
    div semantics, missed damping) breaks equality."""
    from nfl_big_data_bowl_2024_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame(
        [(0, 2), (2, 0), (0, 4), (4, 0)], "src long, dst long"
    )
    arms = _on_both_arms(
        lambda: {
            r["node"]: r["rank_micro"]
            for r in pagerank_integer(edges, iters=3).collect()
        }
    )

    deg = {0: 2, 2: 1, 4: 1}
    r = {n: 1_000_000 // 3 for n in deg}
    base = 15 * 1_000_000 // (100 * 3)
    for _ in range(3):
        contrib = {0: r[2] // deg[2] + r[4] // deg[4], 2: r[0] // deg[0], 4: r[0] // deg[0]}
        r = {n: base + (85 * contrib[n]) // 100 for n in deg}
    for got in arms:
        assert got == r
        # the hub holds more mass than the leaves, and leaves tie exactly
        assert got[0] > got[2] == got[4]


def test_triangle_counts_known_topologies(spark):
    from nfl_big_data_bowl_2024_spark.operators.graph import triangle_counts

    # K4 on 1-4 (every node in C(3,2)=3 triangles), square 10-13 (none),
    # star at 20 (none), triangle 30-32 with pendant 33, plus a duplicate
    # and a reversed edge to exercise canonicalization.
    edges = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
            (10, 11), (11, 12), (12, 13), (13, 10),
            (20, 21), (20, 22), (20, 23), (20, 24),
            (30, 31), (31, 32), (32, 30), (32, 33),
            (2, 1), (30, 31),  # reversed + duplicate
        ],
        "src: long, dst: long",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 30: 1, 31: 1, 32: 1}


def test_triangle_counts_bruteforce_random(spark):
    import itertools
    import random

    from nfl_big_data_bowl_2024_spark.operators.graph import triangle_counts

    rng = random.Random(11)
    edge_list = {
        (min(a, b), max(a, b))
        for a, b in (
            (rng.randrange(25), rng.randrange(25)) for _ in range(80)
        )
        if a != b
    }
    adj = set(edge_list)
    expect: dict[int, int] = {}
    for x, y, z in itertools.combinations(range(25), 3):
        if (x, y) in adj and (x, z) in adj and (y, z) in adj:
            for n in (x, y, z):
                expect[n] = expect.get(n, 0) + 1
    edges = spark.createDataFrame(sorted(edge_list), "src: long, dst: long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == expect


def _hops(spark, edge_list, seed_nodes, max_hops=3):
    from nfl_big_data_bowl_2024_spark.operators.graph import bfs_min_hops

    edges = spark.createDataFrame(edge_list, "src: long, dst: long")
    seeds = spark.createDataFrame([(s,) for s in seed_nodes], "node: long")
    rows = bfs_min_hops(edges, seeds, max_hops=max_hops).collect()
    return {r["node"]: r["hops"] for r in rows}


def test_bfs_known_topology(spark):
    # Directed chain 1->2->3->4->5, branch 2->10, back-edge 4->1,
    # unreachable island 20->21.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (4, 1), (20, 21)]
    got = _hops(spark, edges, [1], max_hops=3)
    assert got == {1: 0, 2: 1, 3: 2, 10: 2, 4: 3}


def test_bfs_multi_source_takes_minimum(spark):
    # Two seeds converging: node 3 is 2 hops from seed 1 but 1 hop from
    # seed 9; min wins. Seed nodes themselves stay at 0 even when reached
    # again via the cycle.
    edges = [(1, 2), (2, 3), (9, 3), (3, 1)]
    got = _hops(spark, edges, [1, 9], max_hops=4)
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}


def test_bfs_early_stop_on_empty_frontier(spark):
    # Exhausts reachability in 1 hop; the loop must stop rather than
    # spin to max_hops.
    got = _hops(spark, [(1, 2)], [1], max_hops=25)
    assert got == {1: 0, 2: 1}


def test_bfs_matches_python_bfs_on_random_graph(spark):
    import collections
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    seeds = [0, 1]
    adj = collections.defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    dist = {s: 0 for s in seeds}
    frontier = list(seeds)
    for k in range(1, 4):
        nxt = set()
        for u in frontier:
            nxt |= adj[u]
        nxt -= dist.keys()
        for v in nxt:
            dist[v] = k
        frontier = list(nxt)
    assert _hops(spark, edges, seeds, max_hops=3) == dist


def _core(spark, edge_list, k, rounds=3):
    from nfl_big_data_bowl_2024_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(edge_list, "src: long, dst: long")
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    local, dist = _on_both_arms(
        lambda: {
            r["node"]: r["deg"] for r in kcore_peel(sym, k=k, rounds=rounds).collect()
        }
    )
    assert local == dist
    return local


def test_kcore_triangle_with_pendant(spark):
    # Triangle 1-2-3 plus pendant 3-4: the 2-core is the triangle; node 4
    # (degree 1) peels in round 1 and node 3's degree drops to 2.
    got = _core(spark, [(1, 2), (2, 3), (1, 3), (3, 4)], k=2)
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_chain_fully_peels(spark):
    # A chain has no 2-core: endpoints peel first, then the chain unravels
    # inward one round per layer — 3 rounds clear a 6-node chain.
    got = _core(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], k=2)
    assert got == {}


def test_kcore_fixed_rounds_is_superset_of_fixpoint(spark):
    # A 10-node chain needs 5 peel rounds to empty; at rounds=3 the defined
    # semantics keep the inner 4 nodes (a SUPERSET of the true empty
    # 2-core), each reporting degree from the surviving edge set.
    edges = [(i, i + 1) for i in range(1, 10)]
    got = _core(spark, edges, k=2, rounds=3)
    assert set(got) == {4, 5, 6, 7}
    got5 = _core(spark, edges, k=2, rounds=5)
    assert got5 == {}


def test_label_propagation_mode_hand_graph(spark):
    """Two 3-cliques joined by one bridge edge: after 2 synchronous
    mode rounds every member of each triangle carries its clique's
    minimum id; the deterministic tie rule (count desc, label asc) is
    what the hand-computation exercises."""
    from nfl_big_data_bowl_2024_spark.operators.graph import (
        label_propagation_mode,
    )

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    bridge = [(3, 10)]
    und = tri1 + tri2 + bridge
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    arms = _on_both_arms(
        lambda: {
            r["node"]: r["community"]
            for r in label_propagation_mode(edges, iters=2).collect()
        }
    )
    # Round 1: all neighbor counts are 1, so the tie rule gives every
    # node its min neighbor label: {1:2, 2:1, 3:1, 10:3, 11:10, 12:10}.
    # Round 2 (hand-traced over those labels):
    #   1: nbrs {2->1, 3->1}            -> 1 (count 2)
    #   2: nbrs {1->2, 3->1}   tie      -> 1 (lowest label)
    #   3: nbrs {1->2, 2->1, 10->3} tie -> 1
    #   10: nbrs {3->1, 11->10, 12->10} -> 10 (count 2)
    #   11: nbrs {10->3, 12->10}  tie   -> 3
    #   12: nbrs {10->3, 11->10}  tie   -> 3
    for got in arms:
        assert set(got) == {1, 2, 3, 10, 11, 12}
        assert got[1] == 1 and got[2] == 1 and got[3] == 1
        assert got[10] == 10 and got[11] == 3 and got[12] == 3


def test_label_propagation_isolated_node_keeps_self_label(spark):
    from nfl_big_data_bowl_2024_spark.operators.graph import (
        label_propagation_mode,
    )

    # node 7 only EMITS (no in-edges): it must survive with its own label
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (7, 1)], "src long, dst long"
    )
    for got in _on_both_arms(
        lambda: {
            r["node"]: r["community"]
            for r in label_propagation_mode(edges, iters=2).collect()
        }
    ):
        assert got[7] == 7


def test_memory_discipline_helpers(spark):
    """_edges_on_disk must persist DISK_ONLY (never pinning the in-memory
    storage pool) and report the exact count; _exchange_width must stay
    at defaultParallelism for small inputs and scale ~1M rows/task."""
    from pyspark.storagelevel import StorageLevel

    from nfl_big_data_bowl_2024_spark.operators.graph import (
        _edges_on_disk,
        _exchange_width,
    )

    e, n = _edges_on_disk(
        spark.range(1000).selectExpr("id AS src", "id + 1 AS dst")
    )
    try:
        assert n == 1000
        assert e.storageLevel == StorageLevel.DISK_ONLY
    finally:
        e.unpersist()
    sc = spark.sparkContext
    assert _exchange_width(sc, 1_000) == sc.defaultParallelism
    assert _exchange_width(sc, 250_000_000) == 251


def test_bellman_ford_bounded_on_known_graph(spark):
    """Hand-checkable weighted graph: the bounded Bellman-Ford must return
    min path cost over <= rounds edges, including the case where a longer
    (more edges) path is cheaper and a node beyond the round budget keeps
    the best within-budget cost."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.operators.graph import bellman_ford_bounded

    #   0 -5-> 1 -1-> 2 -1-> 3
    #   0 ----------10-----> 3        (direct but expensive)
    #   3 -1-> 4
    edges = spark.createDataFrame(
        [(0, 1, 5), (1, 2, 1), (2, 3, 1), (0, 3, 10), (3, 4, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.range(1).select(F.lit(0).cast("long").alias("node"))

    got3 = {
        r["node"]: r["cost"]
        for r in bellman_ford_bounded(edges, seeds, rounds=3).collect()
    }
    # within 3 edges: 0->1->2->3 costs 7 (beats direct 10); 4 needs 4 edges
    # via the cheap path, so its best <=3-edge cost is 10+1=11
    assert got3 == {0: 0, 1: 5, 2: 6, 3: 7, 4: 11}

    got4 = {
        r["node"]: r["cost"]
        for r in bellman_ford_bounded(edges, seeds, rounds=4).collect()
    }
    assert got4[4] == 8  # cheap path reaches 4 within the 4-edge budget


def test_ppr_hand_replay_and_broadcast_seed_plan(spark):
    """Personalized PageRank: (a) exact integer hand-replay on a small
    graph, (b) the round-8 verdict item-4 plan fix — every seed-restart
    join in one iteration's pre-checkpoint plan must broadcast the seed
    side (the old FULL OUTER broadcast hint was unsupported: Spark logged
    a HintErrorLogger WARN and sort-merged both sides, shuffling the
    frontier-sized contrib relation every round)."""
    from nfl_big_data_bowl_2024_spark.operators.graph import (
        _ppr_step,
        pagerank_personalized_integer,
    )

    random.seed(9)
    edge_list = list(
        {(random.randrange(30), random.randrange(30)) for _ in range(120)}
    )
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "src: long, dst: long")
    seeds = spark.createDataFrame([(1,), (2,), (3,)], "node: long")

    arms = _on_both_arms(
        lambda: {
            r["node"]: r["rank_micro"]
            for r in pagerank_personalized_integer(
                edges, seeds, iters=3, damping_pct=85
            ).collect()
        }
    )

    # pure-python integer replay (positive values: // == SQL div)
    outdeg: dict[int, int] = {}
    for a, _ in edge_list:
        outdeg[a] = outdeg.get(a, 0) + 1
    seed_ids = [s for s in (1, 2, 3) if s in outdeg]
    n_seeds = len(seed_ids)
    base = (100 - 85) * 1_000_000 // (100 * n_seeds)
    r = {s: 1_000_000 // n_seeds for s in seed_ids}
    for _ in range(3):
        contrib: dict[int, int] = {}
        for a, b in edge_list:
            if a in r:
                contrib[b] = contrib.get(b, 0) + r[a] // outdeg[a]
        nxt = {}
        for node, s in contrib.items():
            nxt[node] = (base if node in seed_ids else 0) + (85 * s) // 100
        for s in seed_ids:
            if s not in contrib:
                nxt[s] = base
        r = nxt
    for got in arms:
        assert got == r

    # plan audit on the pre-checkpoint step: seed joins broadcast, and no
    # sort-merge join anywhere (the old full-outer fallback)
    ed = edges.join(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")), "src"
    )
    seed_base = seeds.select("node", F.lit(base).cast("long").alias("b"))
    rv = seeds.select(
        "node", F.lit(1_000_000 // 3).cast("long").alias("r")
    )
    step = _ppr_step(ed, rv, seed_base, width=4, damping_pct=85)
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_null_endpoints_match_across_cc_arms(spark, monkeypatch):
    """A NULL src or dst joins nothing on the distributed arm: the edge
    carries no connectivity, its other endpoint is still a node, and NULL
    is one node labelled NULL. With the size gate at its default the
    driver-local arm declines such edges, so both runs give these rows."""
    edges = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4), (None, None), (5, None)],
        "src long, dst long",
    )

    def run():
        key = lambda r: (r[0] is not None, r[0] or 0)  # noqa: E731
        return sorted((tuple(r) for r in G.connected_components(edges).collect()), key=key)

    local = run()
    monkeypatch.setattr(G, "_DRIVER_LOCAL_EDGE_ROWS", -1)
    dist = run()
    assert local == dist
    assert local == [(None, None), (1, 1), (2, 1), (3, 3), (4, 3), (5, 5)]


def test_copurchase_unknown_size_takes_scale_safe_arm(spark, monkeypatch, tmp_path):
    """An unknown lineitem size (0: missing or non-local path) must not take
    the small-scale broadcast self-join; it takes the collect_set arm."""
    import io
    from contextlib import redirect_stdout

    import nfl_big_data_bowl_2024_spark.plans.pipeline_graph as pg

    spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], "l_orderkey long, l_partkey long"
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    monkeypatch.setattr(pg, "_table_tree_bytes", lambda sf_dir, name: 0)
    df = pg.graph_copurchase_projection(spark, str(tmp_path))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "collect_set" in plan
    assert "Join" not in plan


def _sorted_rows(df):
    """(column types, rows sorted with NULLs last) of a DataFrame."""
    key = lambda r: tuple((x is None, x or 0) for x in r)  # noqa: E731
    return df.dtypes, sorted((tuple(r) for r in df.collect()), key=key)


def _on_gate_arms(spark, rows, schema, op):
    """``op(edges)`` on each arm of the driver-local gate, as
    ``{arm: (result, triggers)}``; ``triggers`` lists each ``_local_graph``
    call as (trigger, took it). The arms:

      - ``pre-gate``: edges from ``local_df``, a LocalRelation whose size
        Catalyst knows, so the bounded collect runs before any persist;
      - ``post-count``: edges from ``createDataFrame(list)``, a LogicalRDD of
        unknown size, which the pre-gate declines without running anything,
        so the ``_edges_on_disk`` count decides;
      - ``distributed``: the gate forced to -1;
      - ``overflow``: the LocalRelation edges with the byte measure patched
        to 0 and the gate at one row, so the bounded collect runs, overflows
        and falls through to the distributed arm."""
    from nfl_big_data_bowl_2024_spark.localrel import local_df

    real = G._local_graph

    def run(edges, **patch):
        log = []

        def spy(e, n_rows=None):
            g = real(e, n_rows)
            log.append(("pre-gate" if n_rows is None else "post-count", g is not None))
            return g

        with pytest.MonkeyPatch.context() as m:
            m.setattr(G, "_local_graph", spy)
            for name, value in patch.items():
                m.setattr(G, name, value)
            return op(edges), log

    known = local_df(spark, rows, schema)
    return {
        "pre-gate": run(known),
        "post-count": run(spark.createDataFrame(rows, schema)),
        "distributed": run(known, _DRIVER_LOCAL_EDGE_ROWS=-1),
        "overflow": run(known, _input_bytes=lambda df: 0, _DRIVER_LOCAL_EDGE_ROWS=1),
    }


_LOCAL_TRIGGERS = {
    "pre-gate": [("pre-gate", True)],
    "post-count": [("pre-gate", False), ("post-count", True)],
    "distributed": [("pre-gate", False), ("post-count", False)],
    "overflow": [("pre-gate", False), ("post-count", False)],
}


def test_fixpoint_arms_agree_on_random_graphs(spark):
    """Each integer fixpoint returns the same rows and column types on the
    pre-gated collect, the post-count local arm, the distributed arm and an
    overflowing pre-gated collect, on seeded random graphs with duplicate
    edges, a self-loop, a dst-only node, int and long ids, and (last graph)
    a NULL endpoint, which both local triggers decline."""
    rng = random.Random(10)
    for trial, typ in enumerate(["long", "int", "long"]):
        n = rng.randint(12, 40)
        edge_list = [(rng.randrange(n), rng.randrange(n)) for _ in range(3 * n)]
        edge_list += edge_list[:4] + [(1, 1), (2, n + 5)]
        if trial == 2:
            edge_list.append((None, 3))
        seeds = spark.createDataFrame(
            [(edge_list[0][0],), (2,), (n + 100,)], f"node {typ}"
        )

        def sym(edges):
            return edges.union(edges.selectExpr("dst AS src", "src AS dst"))

        ops = {
            "pagerank": lambda e: G.pagerank_integer(e, iters=3),
            "lpa": lambda e: G.label_propagation_mode(sym(e), iters=3),
            "kcore": lambda e: G.kcore_peel(sym(e), k=3, rounds=3),
            "ppr": lambda e: G.pagerank_personalized_integer(e, seeds, iters=3),
            "hits": lambda e: G.hits_integer(e, "src", "dst", iters=2),
        }
        for name, op in ops.items():
            arms = _on_gate_arms(
                spark, edge_list, f"src {typ}, dst {typ}", lambda e: _sorted_rows(op(e))
            )
            local, dist = arms["post-count"][0], arms["distributed"][0]
            assert local == dist and local[1], f"{name}, graph {trial}"
            for arm, (rows, triggers) in arms.items():
                assert rows == local, f"{name}, graph {trial}, {arm}"
                want = _LOCAL_TRIGGERS["distributed" if trial == 2 else arm]
                assert triggers == want, f"{name}, graph {trial}, {arm}"


def test_fixpoints_over_empty_edges_return_no_rows(spark):
    """An empty edge relation gives zero rows on every arm (PageRank used
    to divide by its zero node count); personalized PageRank keeps its
    zero-seed ValueError as its declared precondition."""
    empty = spark.createDataFrame([], "src long, dst long")
    ops = {
        "cc": lambda e: G.connected_components(e),
        "pagerank": lambda e: G.pagerank_integer(e),
        "lpa": lambda e: G.label_propagation_mode(e),
        "kcore": lambda e: G.kcore_peel(e),
        "hits": lambda e: G.hits_integer(e, "src", "dst"),
    }
    for name, op in ops.items():
        assert _on_both_arms(lambda: op(empty).collect()) == ([], []), name
        arms = _on_gate_arms(spark, [], "src long, dst long", lambda e: op(e).collect())
        assert {arm: rows for arm, (rows, _) in arms.items()} == dict.fromkeys(arms, []), name
        # zero rows never overflow, so the forced overflow stays local too
        assert arms["pre-gate"][1] == arms["overflow"][1] == [("pre-gate", True)], name
    seeds = spark.createDataFrame([(1,)], "node long")

    def ppr(e=empty):
        with pytest.raises(ValueError, match=">= 1 seed"):
            G.pagerank_personalized_integer(e, seeds)

    _on_both_arms(ppr)
    _on_gate_arms(spark, [], "src long, dst long", ppr)


def test_small_trading_graph_runs_in_four_jobs_and_persists_nothing(spark, verify_local):
    """Guard on the pre-gated arm: at sf0.001 ``graph_pagerank_trading``
    builds and collects in at most 4 Spark jobs (the join's stages, the
    bounded edge collect and the caller's collect; no schema inference, no
    persist, no count), and its build leaves no RDD persisted."""
    import os

    from nfl_big_data_bowl_2024_spark.plans import all_queries

    sf = os.path.join(os.path.dirname(verify_local.SF_DIR), "sf0.001")
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet())
    group = "pagerank-small-jobs"
    sc.setJobGroup(group, group)
    try:
        df = all_queries()["graph_pagerank_trading"].fn(spark, sf)
        assert set(sc._jsc.getPersistentRDDs().keySet()) - before == set()
        assert len(df.toPandas()) > 0
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 4, jobs


# Every registered query over the customer<->supplier trading graph. sf0.01,
# not sf0.001: graph_kcore_peel keeps no node at sf0.001.
TRADING_GRAPH_QUERIES = [
    "graph_pagerank_trading",
    "graph_khop_reachability",
    "graph_temporal_reachability",
    "graph_weighted_sssp",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_adamic_adar_links",
    "graph_pagerank_personalized",
    "graph_degree_distribution",
    "graph_hits_integer",
    "graph_degree_assortativity",
]


@pytest.mark.parametrize("name", TRADING_GRAPH_QUERIES)
def test_trading_graph_query_matches_oracle(assert_matches_oracle, name):
    assert_matches_oracle(name)


# The registered queries over the size-gated fixpoints: sf0.01 takes the
# driver-local arm, so these force the distributed one. dedup_cluster_assign
# stands for connected components.
GATED_FIXPOINT_QUERIES = [
    "graph_pagerank_trading",
    "graph_kcore_peel",
    "graph_label_propagation",
    "graph_pagerank_personalized",
    "graph_hits_integer",
    "dedup_cluster_assign",
]


@pytest.mark.parametrize("name", GATED_FIXPOINT_QUERIES)
def test_gated_fixpoint_distributed_arm_matches_oracle(
    assert_matches_oracle, monkeypatch, name
):
    monkeypatch.setattr(G, "_DRIVER_LOCAL_EDGE_ROWS", -1)
    assert_matches_oracle(name)
