"""Graph and spatial queries (graph_*, spatial_*): PageRank/HITS, label propagation, k-core, reachability, proximity pairs.

Eleven queries run over the customer<->supplier trading graph (distinct
(customer, supplier) pairs of orders x lineitem). Each side is built from
one fragment per piece: ``_trading_pairs``/``_sym_edges``/``_entity`` on
Spark, ``_pairs_sql``/``_edges_sql``/``_entity_sql`` in the DuckDB
oracles, whose unrolled per-round CTE builders live here as well. The
two part co-purchase queries (triangles, clustering coefficient) share
``_part_copurchase_pairs`` and the oracle CTEs ``_PART_TRIANGLES_SQL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_testdata_table as _t
from .pipeline_common import _AA_LOG2_MICRO
from .registry import register


def _table_tree_bytes(sf_dir: str, name: str) -> int:
    """Local-fs byte size of a table's parquet tree (stat calls only, no
    Spark job) — the cheap scale signal the size-gated plan shapes key on.
    0 means unknown (missing path or a non-local filesystem)."""
    import os

    root = os.path.join(sf_dir, f"{name}.parquet")
    total = 0
    if os.path.isdir(root):
        for dirpath, _dirs, files in os.walk(root):
            for fname in files:
                total += os.stat(os.path.join(dirpath, fname)).st_size
    elif os.path.exists(root):
        total = os.stat(root).st_size
    return total


# ---------------------------------------------------------------------------
# The trading graph, Spark side: customers are the even node ids 2c,
# suppliers the odd ids 2s + 1.
# ---------------------------------------------------------------------------


def _trading_pairs(spark: SparkSession, sf_dir: str, *extra_cols: Column) -> DataFrame:
    """Distinct trading pairs ``(c, s, *extra_cols)`` of orders x lineitem,
    the input of every trading-graph query. ``extra_cols`` are aliased
    Columns over the orders/lineitem join, carried into the distinct."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"), *extra_cols
        )
        .distinct()
    )


def _sym_edges(pairs: DataFrame, extras: dict[str, Column] | None = None) -> DataFrame:
    """Symmetrized trading-graph edges in ONE pass over ``pairs`` (r13
    optimization): the old ``select(fwd).unionAll(select(rev))`` shape
    references the pairs subtree twice, and Catalyst does not CSE
    DataFrame subtrees — the orders x lineitem join + distinct ran TWICE
    inside every edge materialization. Each pair row now emits both
    directions map-side via one explode. ``extras`` maps output column
    name -> Column carried through on both directions."""
    extras = extras or {}
    fwd = F.struct(
        (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
    )
    rev = F.struct(
        (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
    )
    out = pairs.select(
        F.explode(F.array(fwd, rev)).alias("e"),
        *[c.alias(n) for n, c in extras.items()],
    )
    return out.select("e.src", "e.dst", *extras.keys())


def _supplier_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reachability queries' seed cohort: every tenth supplier's node."""
    return (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 10 == 0)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
    )


def _entity(col: str) -> list[Column]:
    """Decode node id ``col`` into ``(is_supplier, entity_id)``."""
    return [
        (F.col(col) % 2).cast("int").alias("is_supplier"),
        F.expr(f"{col} div 2").cast("long").alias("entity_id"),
    ]


# ---------------------------------------------------------------------------
# The trading graph, oracle side: the SQL twins of the fragments above and
# the unrolled per-round CTE builders of the fixpoint oracles.
# ---------------------------------------------------------------------------


def _pairs_sql(*extra: str, recursive: bool = False, materialized: bool = False) -> str:
    """The opening ``WITH`` of a trading-graph oracle: ``pairs (c, s,
    *extra)``, the twin of ``_trading_pairs``. ``extra`` are SELECT items
    over ``o``/``l``; ``recursive`` opens ``WITH RECURSIVE``, and
    ``materialized`` makes DuckDB compute the CTE once for all readers."""
    cols = "".join(f", {x}" for x in extra)
    rec = "RECURSIVE " if recursive else ""
    mat = "MATERIALIZED " if materialized else ""
    return f"""WITH {rec}pairs AS {mat}(
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s{cols}
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    )"""


def _edges_sql(*extra: str, name: str = "edges") -> str:
    """CTE ``name (src, dst, *extra)``: both directions of every pair, the
    twin of ``_sym_edges``. ``extra`` are SELECT items over ``pairs``."""
    cols = "".join(f", {x}" for x in extra)
    return f"""{name} AS (
        SELECT c * 2 AS src, s * 2 + 1 AS dst{cols} FROM pairs
        UNION ALL
        SELECT s * 2 + 1 AS src, c * 2 AS dst{cols} FROM pairs
    )"""


_SUPPLIER_SEEDS_SQL = """seeds AS (
        SELECT s_suppkey * 2 + 1 AS node FROM supplier WHERE s_suppkey % 10 = 0
    )"""


def _entity_sql(col: str) -> str:
    """SELECT items decoding node id ``col``, the twin of ``_entity``."""
    return (
        f"CAST({col} % 2 AS INTEGER) AS is_supplier, "
        f"CAST({col} // 2 AS BIGINT) AS entity_id"
    )


def _pagerank_iter_sql(prev: str, out: str) -> str:
    """One unrolled integer-PageRank iteration (see operators/graph.py:
    pagerank_integer — div of positive ints matches Spark's div exactly)."""
    return f"""{out} AS (
        SELECT e.dst AS node,
               b.b + (85 * sum(p.r // e.outdeg)) // 100 AS r
        FROM ed e JOIN {prev} p ON e.src = p.node CROSS JOIN base b
        GROUP BY e.dst, b.b
    )"""


def _ppr_iter_sql(prev: str, out: str) -> str:
    """One unrolled personalized-PageRank iteration: sparse contribution
    join + FULL join against the seed restart vector (seeds regain their
    restart mass even with zero in-contributions; reached non-seeds get
    damped mass only)."""
    return f"""{out} AS (
        SELECT coalesce(c.node, sb.node) AS node,
               coalesce(sb.b, 0) + (85 * coalesce(c.s, 0)) // 100 AS r
        FROM (SELECT e.dst AS node, sum(p.r // e.outdeg) AS s
              FROM ed e JOIN {prev} p ON e.src = p.node
              GROUP BY e.dst) c
        FULL JOIN seed_base sb ON c.node = sb.node
    )"""


def _kcore_round_sql(e_in: str, e_out: str, k: int) -> str:
    """One unrolled peel round (see operators/graph.py:kcore_peel)."""
    return f"""d_{e_out} AS (
        SELECT src, count(*) AS n FROM {e_in} GROUP BY src
    ),
    k_{e_out} AS (SELECT src FROM d_{e_out} WHERE n >= {k}),
    {e_out} AS (
        SELECT {e_in}.src, {e_in}.dst FROM {e_in}
        JOIN k_{e_out} a ON {e_in}.src = a.src
        JOIN k_{e_out} b ON {e_in}.dst = b.src
    )"""


def _lpa_iter_sql(prev: str, cnt: str, out: str) -> str:
    """One unrolled synchronous mode-LPA round (see operators/graph.py:
    label_propagation_mode — argmax by (count desc, label asc))."""
    return f"""{cnt} AS (
        SELECT e.dst AS node, l.lab, count(*) AS cnt
        FROM edges e JOIN {prev} l ON e.src = l.node
        GROUP BY e.dst, l.lab
    ),
    {out} AS (
        SELECT n.node, coalesce(w.lab, n.node) AS lab
        FROM nodes n LEFT JOIN (
            SELECT node, lab FROM (
                SELECT node, lab, row_number() OVER (
                    PARTITION BY node ORDER BY cnt DESC, lab ASC) AS rn
                FROM {cnt}) t
            WHERE rn = 1
        ) w ON n.node = w.node
    )"""


# The Adamic-Adar weight table (pipeline_common._AA_LOG2_MICRO) as a SQL
# array literal body.
_AA_LOG2_MICRO_SQL = ", ".join(str(w) for w in _AA_LOG2_MICRO)


@register(
    "graph_pagerank_trading",
    f"""
    {_pairs_sql()},
    {_edges_sql()},
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
    n AS (SELECT count(*) AS n FROM deg),
    base AS (SELECT (15 * 1000000) // (100 * n) AS b FROM n),
    r0 AS (SELECT src AS node, 1000000 // n.n AS r FROM deg, n),
    {_pagerank_iter_sql("r0", "r1")},
    {_pagerank_iter_sql("r1", "r2")},
    {_pagerank_iter_sql("r2", "r3")}
    SELECT {_entity_sql("node")},
           CAST(r AS BIGINT) AS rank_micro
    FROM r3
    """,
    doc="Deterministic integer PageRank over the customer<->supplier "
    "trading graph (distinct trading pairs from orders x lineitem, "
    "symmetrized so every node both emits and receives mass) — the "
    "iterative NUMERIC fixpoint shape next to connected_components' "
    "label fixpoint: 3 synchronous power iterations, each one shuffle "
    "join of the degree-annotated edge relation with the rank vector on "
    "src plus one grouped integer sum on dst, lineage truncated per "
    "round. Rank arithmetic is float-free (micro-units, div/// of "
    "positive ints) so the DuckDB oracle replays all three iterations "
    "bit-exactly — a hash-checked iterative algorithm, not a rows-only "
    "one (operators/graph.py:pagerank_integer).",
)
def graph_pagerank_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_integer

    edges = _sym_edges(_trading_pairs(spark, sf_dir))
    r = pagerank_integer(edges, iters=3)
    return r.select(
        *_entity("node"),
        F.col("rank_micro").cast("long").alias("rank_micro"),
    )


# ---------------------------------------------------------------------------
# The part co-purchase graph (parts sharing an order, every 4th order),
# shared by graph_triangle_count and graph_clustering_coeff.
# ---------------------------------------------------------------------------


def _part_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs ``(src, dst)`` with src < dst bought in one order, one row
    per shared order (not yet distinct)."""
    lo = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
    )
    return (
        lo.alias("x")
        .join(
            lo.alias("y"),
            (F.col("x.ok") == F.col("y.ok")) & (F.col("x.p") < F.col("y.p")),
        )
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
    )


# The oracle twin of the triangle enumeration over those pairs: CTEs
# ``canon (a, b)`` (the distinct pairs), ``deg (node, deg)`` and
# ``tri (x, y, z)`` (each triangle once), plus ``lo`` and ``oriented``.
_PART_TRIANGLES_SQL = """lo AS (
        SELECT l_orderkey AS ok, l_partkey AS p
        FROM lineitem WHERE l_orderkey % 4 = 0
    ),
    canon AS (
        SELECT DISTINCT a.p AS a, b.p AS b
        FROM lo a JOIN lo b ON a.ok = b.ok AND a.p < b.p
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT a AS node FROM canon
            UNION ALL
            SELECT b AS node FROM canon
        ) GROUP BY node
    ),
    oriented AS (
        SELECT CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND c.a < c.b)
                    THEN c.a ELSE c.b END AS lo,
               CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND c.a < c.b)
                    THEN c.b ELSE c.a END AS hi
        FROM canon c
        JOIN deg da ON c.a = da.node
        JOIN deg db ON c.b = db.node
    ),
    tri AS (
        SELECT w1.lo AS x, w1.hi AS y, w2.hi AS z
        FROM oriented w1
        JOIN oriented w2 ON w1.lo = w2.lo AND w1.hi <> w2.hi
        JOIN oriented e ON e.lo = w1.hi AND e.hi = w2.hi
    )"""


@register(
    "graph_triangle_count",
    f"""
    WITH {_PART_TRIANGLES_SQL}
    SELECT node AS part_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri
    )
    GROUP BY node
    """,
    doc="Per-node triangle counts over the part co-purchase graph (parts "
    "sharing an order, every 4th order) — the third graph-analytics shape "
    "next to connected_components' label fixpoint and PageRank's numeric "
    "fixpoint: a SINGLE-PASS join algorithm whose scale risk is fan-out, "
    "not iteration. Degree-ordered edge orientation (Cohen's MapReduce "
    "graph-twiddling) caps oriented out-degree at O(sqrt(E)) so the wedge "
    "self-join never explodes on power-law hubs — a star contributes ZERO "
    "wedges at its center. All joins are equi-keyed (apex, then the "
    "(y,z) closing pair); integer-only arithmetic, so the DuckDB oracle "
    "replays the orientation and enumeration bit-exactly "
    "(operators/graph.py:triangle_counts).",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    return triangle_counts(_part_copurchase_pairs(spark, sf_dir)).select(
        F.col("node").alias("part_id"), "n_triangles"
    )


@register(
    "graph_khop_reachability",
    f"""
    {_pairs_sql(recursive=True)},
    {_edges_sql()},
    {_SUPPLIER_SEEDS_SQL},
    reach AS (
        SELECT node, 0 AS hops FROM seeds
        UNION
        SELECT e.dst AS node, r.hops + 1 AS hops
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < 3
    )
    SELECT {_entity_sql("node")},
           CAST(min(hops) AS INTEGER) AS hops
    FROM reach GROUP BY node
    """,
    doc="Bounded-depth multi-source BFS over the customer<->supplier "
    "trading graph: minimum hop distance (<= 3) from the seeded supplier "
    "cohort, via the synchronous frontier loop in "
    "operators/graph.py:bfs_min_hops — Spark's recursive-CTE substitute. "
    "Each round is one keyed frontier-x-edges shuffle join + distinct + "
    "left-anti against the visited set (the wavefront drives the join, "
    "never the full graph), lineage truncated per round. Pure integer set "
    "algebra, so the DuckDB oracle IS a recursive CTE replaying the same "
    "fixpoint — the third hash-checked iterative algorithm next to "
    "connected components (label fixpoint) and integer PageRank (numeric "
    "fixpoint): this one is the frontier/reachability fixpoint.",
)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_min_hops

    edges = _sym_edges(_trading_pairs(spark, sf_dir))
    reach = bfs_min_hops(edges, _supplier_seeds(spark, sf_dir), max_hops=3)
    return reach.select(
        *_entity("node"),
        F.col("hops").cast("int").alias("hops"),
    )


@register(
    "graph_temporal_reachability",
    f"""
    {_pairs_sql(
        "CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS d",
        recursive=True,
    )},
    {_edges_sql("d AS t")},
    {_SUPPLIER_SEEDS_SQL},
    walk AS (
        SELECT node, CAST(0 AS BIGINT) AS arr, 0 AS hops FROM seeds
        UNION
        SELECT e.dst AS node, e.t AS arr, w.hops + 1 AS hops
        FROM walk w JOIN edges e ON e.src = w.node AND e.t >= w.arr
        WHERE w.hops < 3
    )
    SELECT {_entity_sql("node")},
           CAST(min(arr) AS BIGINT)  AS arrival_day
    FROM walk GROUP BY node
    """,
    doc="TIME-RESPECTING reachability over the trading graph (temporal-"
    "network semantics, Holme & Saramaki 2012): an edge dated day d is "
    "usable only if d >= the arrival time at its source, and the answer "
    "is the EARLIEST arrival day within <= 3 edges of the seeded "
    "supplier cohort — who could a signal emitted by these suppliers "
    "actually have reached, given transaction ordering? Plain BFS "
    "overcounts (it ignores that influence cannot flow backward in "
    "time). Same delta-propagating fixpoint scaffolding as "
    "graph_weighted_sssp with the relax rule swapped to min-arrival "
    "(operators/graph.py:temporal_reachability) — monotone because an "
    "earlier arrival enables a superset of edges. Integer epoch-days; "
    "the recursive-CTE oracle replays the fixpoint exactly — the FIFTH "
    "hash-checked iterative algorithm in the graph family.",
)
def graph_temporal_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import temporal_reachability

    pairs = _trading_pairs(
        spark, sf_dir, F.expr("unix_micros(o_orderdate) div 86400000000").alias("d")
    )
    edges = _sym_edges(pairs, {"t": F.col("d")})
    arr = temporal_reachability(edges, _supplier_seeds(spark, sf_dir), rounds=3)
    return arr.select(
        *_entity("node"),
        F.col("arrival").cast("long").alias("arrival_day"),
    )


@register(
    "graph_weighted_sssp",
    f"""
    {_pairs_sql(recursive=True)},
    {_edges_sql("1 + (c + s) % 5 AS w")},
    {_SUPPLIER_SEEDS_SQL},
    walk AS (
        SELECT node, CAST(0 AS BIGINT) AS cost, 0 AS hops FROM seeds
        UNION
        SELECT e.dst AS node, wk.cost + e.w AS cost, wk.hops + 1 AS hops
        FROM walk wk JOIN edges e ON e.src = wk.node
        WHERE wk.hops < 4
    )
    SELECT {_entity_sql("node")},
           CAST(min(cost) AS BIGINT) AS cost
    FROM walk GROUP BY node
    """,
    doc="Bounded-round multi-source WEIGHTED shortest paths over the "
    "customer<->supplier trading graph (integer edge weights "
    "1 + (c+s) % 5): minimum path cost within <= 4 edges of the seeded "
    "supplier cohort, via synchronous Bellman-Ford with delta "
    "propagation (operators/graph.py:bellman_ford_bounded) — the "
    "weighted sibling of graph_khop_reachability's BFS. Only nodes "
    "whose distance improved last round drive each relaxation join, so "
    "per-round cost tracks the improving wavefront; lineage truncated "
    "and edges DISK_ONLY per the graph memory discipline. Pure integer "
    "min-plus algebra: the DuckDB recursive CTE replays the fixpoint "
    "bit-for-bit — the fourth hash-checked iterative algorithm next to "
    "CC (label fixpoint), PageRank (numeric fixpoint), and BFS "
    "(frontier fixpoint): this one is the min-plus relaxation fixpoint.",
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bellman_ford_bounded

    w = F.lit(1) + (F.col("c") + F.col("s")) % 5
    edges = _sym_edges(_trading_pairs(spark, sf_dir), {"w": w})
    dist = bellman_ford_bounded(edges, _supplier_seeds(spark, sf_dir), rounds=4)
    return dist.select(
        *_entity("node"),
        F.col("cost").cast("long").alias("cost"),
    )


@register(
    "graph_kcore_peel",
    f"""
    {_pairs_sql()},
    {_edges_sql(name="e0")},
    {_kcore_round_sql("e0", "e1", 20)},
    {_kcore_round_sql("e1", "e2", 20)},
    {_kcore_round_sql("e2", "e3", 20)}
    SELECT {_entity_sql("src")},
           CAST(count(*) AS BIGINT)  AS deg
    FROM e3 GROUP BY src
    """,
    doc="Fixed-round k-core peeling (k=20, 3 synchronous rounds) over the "
    "trading graph — the monotone-peeling iterative shape next to CC "
    "(label fixpoint), PageRank (numeric fixpoint) and BFS (frontier "
    "fixpoint): each round drops every node of degree < k and the edges "
    "touching it, isolating the densely-interconnected trading core "
    "(the engagement/fraud-analysis primitive). The round count is part "
    "of the DEFINED semantics (like pagerank_integer's iteration "
    "count), so the unrolled SQL oracle replays every peel bit-exactly; "
    "peeling is monotone, so r rounds equal the true k-core whenever it "
    "converges within r. Per round: one grouped degree count + one "
    "semi-join per endpoint — keyed shuffles over an edge set that only "
    "shrinks (operators/graph.py:kcore_peel).",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import kcore_peel

    edges = _sym_edges(_trading_pairs(spark, sf_dir))
    core = kcore_peel(edges, k=20, rounds=3)
    return core.select(
        *_entity("node"),
        F.col("deg").cast("long").alias("deg"),
    )


@register(
    "graph_label_propagation",
    f"""
    {_pairs_sql()},
    {_edges_sql()},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    lab0 AS (SELECT node, node AS lab FROM nodes),
    {_lpa_iter_sql("lab0", "cnt1", "lab1")},
    {_lpa_iter_sql("lab1", "cnt2", "lab2")}
    SELECT {_entity_sql("node")},
           CAST(lab AS BIGINT)        AS community
    FROM lab2
    """,
    doc="Community detection via synchronous mode-based Label Propagation "
    "over the customer<->supplier trading graph — the FREQUENCY fixpoint "
    "completing the iterative-graph family (CC=min-label, PageRank="
    "numeric mass, BFS=reachability, k-core=monotone peeling, triangles="
    "wedge counting): 2 fixed rounds, each one edge-x-label shuffle join "
    "+ one (node,label) count aggregate + a max_by-shaped argmax "
    "(max(struct(cnt,-lab)) — no per-node window/sort), ties to the "
    "lowest label so the unrolled row_number oracle replays every round "
    "deterministically. Classic async LPA visits nodes in random order; "
    "the synchronized deterministic variant is what makes a cross-engine "
    "hash possible at all (operators/graph.py:label_propagation_mode).",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import label_propagation_mode

    edges = _sym_edges(_trading_pairs(spark, sf_dir))
    lab = label_propagation_mode(edges, iters=2)
    return lab.select(
        *_entity("node"),
        F.col("community").cast("long").alias("community"),
    )


@register(
    "graph_adamic_adar_links",
    f"""
    {_pairs_sql()},
    {_edges_sql()},
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    -- low-degree connector apexes only (<= 64): bounds the wedge
    -- fan-out AND matches Adamic-Adar's rationale (hubs carry little
    -- link signal; their inverse-degree weight is near zero anyway)
    adj AS (
        SELECT e.src AS x, e.dst AS nbr, d.d
        FROM edges e JOIN deg d ON e.src = d.node WHERE d.d <= 64
    ),
    wedge AS (
        SELECT a.nbr AS ya, b.nbr AS yb, a.d
        FROM adj a JOIN adj b ON a.x = b.x AND a.nbr < b.nbr
    ),
    scored AS (
        SELECT ya, yb,
               CAST(sum(([{_AA_LOG2_MICRO_SQL}])[d]) AS BIGINT) AS aa_micro,
               count(*) AS n_common
        FROM wedge GROUP BY ya, yb
    ),
    non_edges AS (
        SELECT sc.* FROM scored sc
        LEFT JOIN edges e ON sc.ya = e.src AND sc.yb = e.dst
        WHERE e.src IS NULL
    )
    SELECT CAST(ya AS BIGINT) AS node_a, CAST(yb AS BIGINT) AS node_b,
           aa_micro, CAST(n_common AS BIGINT) AS n_common
    FROM non_edges
    ORDER BY aa_micro DESC, node_a, node_b LIMIT 25
    """,
    doc="Link prediction via Adamic-Adar common-neighbor scoring over the "
    "trading graph — the predictive-analytics member of the graph family "
    "(CC/PageRank/BFS/k-core/LPA/triangles describe the graph; this "
    "predicts its next edges): candidate pairs are generated by a wedge "
    "self-join restricted to connector apexes of degree <= 64 — the "
    "hub guard bounding the quadratic fan-out (the same cap idiom as the "
    "token-lift basket and the fuzzy-match block), which HERE also "
    "matches the measure's own rationale: Adamic-Adar weights each "
    "common neighbor by 1/log(degree), so excluded hubs contribute "
    "little signal by construction. Weights come from a 64-entry "
    "fixed-point table (round(1e6/log2(d)), identical integer literal "
    "array on both engines — no float arithmetic in either plan), "
    "existing edges drop via an anti-join on the symmetrized edge set, "
    "and the top 25 predicted links break ties on the node pair so the "
    "hash check is exact.",
)
def graph_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 shape (verdict r9 item 3 — was the slowest sf10 query at
    429 s): (a) the 60M-row join+distinct pairs subtree is
    localCheckpoint'ed so the symmetrizing union's two branches read it
    once (the graph_degree_assortativity lineage discipline); (b) wedges
    are expanded from BOUNDED per-apex neighbor arrays (collect_list
    after the d <= 64 filter, so arrays hold at most 64 ids) with array
    HOFs — emitting exactly the d(d-1)/2 ordered pairs instead of the
    d^2-row self-join the previous plan filtered in half, and riding the
    adjacency join's existing src partitioning (no extra exchange);
    (c) the apex weight is looked up from the fixed-point table
    MAP-SIDE, so the big wedge exchange carries the pair key plus
    (w:int) — the only data-sized shuffle left in the plan; (d) the
    existing-edge anti-join is gone: the trading graph is bipartite by
    construction (customers even ids, suppliers odd), every edge joins
    opposite parities, while both endpoints of a wedge share the apex's
    OPPOSITE side and therefore the same parity — a candidate pair can
    never be an existing edge, so the anti-join removed zero rows and
    only cost a full shuffle of the scored relation. The DuckDB oracle
    retains the anti-join form; both produce identical rows
    (hash-checked).

    Round-13 (verdict r12 item 4, candidate b): when every node id fits
    32 bits — a 1-row max over the pairs decides (r14: observed on the
    pairs checkpoint job itself, no separate scan), the matryoshka
    scale-gate idiom — the wedge pair is emitted as ONE
    packed long ``shiftleft(ya, 32) + yb`` straight from the array HOF:
    the explode writes a bigint instead of a two-long struct, the
    exchange row narrows from (long, long, int) to (long, int), and the
    hash aggregate keys on a single 8-byte comparison. Packing is
    order-preserving (both halves positive < 2^31), so
    ``ORDER BY aa_micro DESC, k`` equals the oracle's
    ``ORDER BY aa_micro DESC, node_a, node_b`` and the top-25 tie-break
    stays exact; unpack is shiftright / mod after the limit. Measured
    (scripts/ab_adamic_packed.py, removed; last present at commit
    7cba2a3; committed record in PERF.md): 22-26%
    faster at the generated sf1.0 (B 7.8/8.9 s vs A 10.0/12.5 s,
    probes flat, outputs hash-identical); real TPC-H ids keep the gate
    open to ~sf1000 (custkey*2 < 2^31). The generated sf10 tree's
    synthetic 35-bit ids fail the gate and keep the struct path; the
    third arm (order-preserving dense remap to 32-bit ids via
    global_sort_rank, then pack) was REJECTED with data: its remap
    build + extra 117M-row exchange offset the packed-exchange saving
    (fresh-session solos A {116.6, 183.3, 241.5} vs C {178.5, 178.7,
    261.3} s, mins 84.9 vs 97.2 across all sessions, probes recorded
    beside every rep)."""
    from ..operators.graph import _edges_on_disk, _exchange_width
    from ..operators.scalars import checkpoint_observed

    # r14: the packed-key scale gate's max-node scan — previously its own
    # driver job over the checkpointed pairs (~0.5 s at sf10) — rides the
    # pairs checkpoint as an observed metric instead.
    pairs, pair_metrics = checkpoint_observed(
        _trading_pairs(spark, sf_dir),
        F.max(F.greatest(F.col("c") * 2, F.col("s") * 2 + 1)).alias("m"),
    )
    max_node = pair_metrics["m"]
    # DISK_ONLY + size-aware widths (operators/graph.py memory
    # discipline): the wedge relation is ~sum(deg_capped^2)/2 rows — the
    # plan's dominant exchange at the sf10 trading graph — so its
    # aggregate width must scale with the data, and the edge relation
    # must not pin execution memory.
    edges, n_edges = _edges_on_disk(
        pairs.select(
            (F.col("c") * 2).alias("src"), (F.col("s") * 2 + 1).alias("dst")
        ).unionAll(
            pairs.select(
                (F.col("s") * 2 + 1).alias("src"), (F.col("c") * 2).alias("dst")
            )
        )
    )
    sc = spark.sparkContext
    width = _exchange_width(sc, n_edges)
    # wedge volume ~ capped-degree^2/2 per apex; width accordingly wider
    # 4M wedge rows per task (not the 1M default): wedge rows are a
    # 20-byte (long, long, int) struct, so 4M rows is ~80 MB of exchange
    # input per task — still far inside executor memory — and the
    # aggregate runs 4x fewer tasks (A/B'd on the sf10 trading graph).
    wedge_width = _exchange_width(sc, n_edges * 20, target_rows=4_000_000)
    deg = (
        edges.repartition(width, "src")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
        # low-degree connector apexes only: bounds the wedge fan-out AND
        # the collect_list below (arrays of at most 64 neighbor ids),
        # and matches Adamic-Adar's own rationale (hubs carry ~0 weight)
        .filter(F.col("d") <= 64)
    )
    adj = (
        edges.repartition(width, "src")
        .join(deg, edges["src"] == deg["node"])
        .select(F.col("src").alias("x"), F.col("dst").alias("nbr"), "d")
    )
    nbrs = (
        adj.groupBy("x")
        .agg(
            F.array_sort(F.collect_list("nbr")).alias("ns"),
            F.any_value("d").alias("d"),
        )
        .select(
            "ns",
            F.expr(
                f"element_at(array({_AA_LOG2_MICRO_SQL}), CAST(d AS INT))"
            ).alias("w"),
        )
    )
    # Scale gate for the packed-key wedge: max_node arrived as an
    # observed metric of the pairs checkpoint job above (r14).
    if max_node is not None and max_node < (1 << 31):
        # d(d-1)/2 strictly-ordered pairs per apex as ONE packed long
        # each — order-preserving, so the top-25 tie-break on the packed
        # key is exact (docstring; A/B record in PERF.md).
        wedge = nbrs.select(
            "w",
            F.explode(
                F.expr(
                    "flatten(transform(ns, (y, i) -> transform("
                    "slice(ns, i + 2, 64), "
                    "z -> shiftleft(y, 32) + z)))"
                )
            ).alias("k"),
        )
        scored = (
            wedge.repartition(wedge_width, "k")
            .groupBy("k")
            .agg(
                F.sum("w").cast("long").alias("aa_micro"),
                F.count(F.lit(1)).alias("n_common"),
            )
        )
        return (
            scored.orderBy(F.col("aa_micro").desc(), "k")
            .limit(25)
            .select(
                F.shiftright("k", 32).cast("long").alias("node_a"),
                (F.col("k") % F.lit(1 << 32)).cast("long").alias("node_b"),
                "aa_micro",
                F.col("n_common").cast("long").alias("n_common"),
            )
            .orderBy(F.col("aa_micro").desc(), "node_a", "node_b")
        )
    # fallback past 2^31: two-long struct keys (the r10 shape)
    wedge = nbrs.select(
        "w",
        F.explode(
            F.expr(
                "flatten(transform(ns, (y, i) -> transform("
                "slice(ns, i + 2, 64), z -> struct(y AS ya, z AS yb))))"
            )
        ).alias("p"),
    ).select(F.col("p.ya").alias("ya"), F.col("p.yb").alias("yb"), "w")
    scored = (
        wedge.repartition(wedge_width, "ya", "yb")
        .groupBy("ya", "yb")
        .agg(
            F.sum("w").cast("long").alias("aa_micro"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    return (
        scored.select(
            F.col("ya").cast("long").alias("node_a"),
            F.col("yb").cast("long").alias("node_b"),
            "aa_micro",
            F.col("n_common").cast("long").alias("n_common"),
        )
        .orderBy(F.col("aa_micro").desc(), "node_a", "node_b")
        .limit(25)
    )


@register(
    "spatial_proximity_pairs",
    """
    WITH pts AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) * 100 AS x,
               CAST(embedding[2] AS DOUBLE) * 100 AS y
        FROM embeddings
    ),
    offs AS (SELECT unnest(generate_series(-1, 1)) AS o),
    a AS (
        SELECT p.vec_id, p.x, p.y,
               CAST(floor(p.x / 5.0) AS BIGINT) + ox.o AS cx,
               CAST(floor(p.y / 5.0) AS BIGINT) + oy.o AS cy
        FROM pts p CROSS JOIN offs ox CROSS JOIN offs oy
    ),
    b AS (
        SELECT vec_id, x, y,
               CAST(floor(x / 5.0) AS BIGINT) AS cx,
               CAST(floor(y / 5.0) AS BIGINT) AS cy
        FROM pts
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
                   AS dist
        FROM a JOIN b ON a.cx = b.cx AND a.cy = b.cy
        WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           floor(dist * 10000 + 0.5) / 10000 AS dist
    FROM pairs WHERE dist <= 5.0
    """,
    doc="Spatial proximity self-join (all point pairs within radius 5) "
    "via 2-D grid bucketing — the SPATIAL JOIN operator Spark lacks "
    "natively, built the same way the engine builds every all-pairs "
    "shape: bucket to kill the quadratic, exact predicate to finish. "
    "Cell size equals the radius, so |dx|<=r implies a cell delta of at "
    "most 1 — but a cross-cell pair only needs ONE of its points to "
    "visit the other's home cell, so each point replicates to its home "
    "plus the 4 FORWARD neighbors only (E, NE, N, NW: exactly one of "
    "{delta, -delta} per nonzero offset), a 5x map-side explode instead "
    "of the naive 3x3's 9x — 44% less replicated exchange volume with "
    "exactly-once pair coverage preserved (same-cell pairs keep the "
    "id-order dedup; cross-cell pairs are id-normalized on emit; "
    "asserted pair-for-pair against the quadratic brute force in "
    "tests/test_temporal_joins.py). The equi-join on (cx, cy) is an "
    "ordinary hash join: skew from dense cells splits via AQE exactly "
    "like the LSH band buckets. Points derive deterministically from "
    "the embedding table's first two components scaled to a field-sized "
    "span; distances emitted at the engine's 4 dp half-up contract.",
)
def spatial_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Forward-neighbor replication: the self-join analog of build-side
    # replication. A 3x3 replicate-one-side plan ships every point 9x;
    # but a pair in DIFFERENT cells only needs ONE of the two points to
    # visit the other's home cell, so replicating each point to its home
    # plus the 4 FORWARD neighbors (E, NE, N, NW — exactly one of
    # {delta, -delta} for each of the 8 nonzero cell offsets) still meets
    # every qualifying pair exactly once at 5/9 the exploded volume.
    # Same-cell pairs meet home-vs-home and keep the id_a < id_b dedup;
    # cross-cell pairs meet once by construction (the forward set never
    # contains both delta and -delta) and are emitted id-normalized via
    # least/greatest. The squared differences are symmetric in IEEE
    # (negation is exact), so the id-normalized distance is bit-identical
    # to the oracle's replicate-9x formulation and the oracle is
    # unchanged; pair-set equality with the 3x3 plan is asserted in
    # tests/test_sketches.py.
    r = 5.0
    pts = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("embedding")[0].cast("double") * 100).alias("x"),
        (F.col("embedding")[1].cast("double") * 100).alias("y"),
    )
    fwd = F.explode(
        F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in ((0, 0), (1, 0), (1, 1), (0, 1), (-1, 1))
            ]
        )
    )
    a = pts.select(
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.floor(F.col("x") / r).cast("long").alias("hx"),
        F.floor(F.col("y") / r).cast("long").alias("hy"),
        fwd.alias("o"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("hx") + F.col("o.dx")).alias("cx"),
        (F.col("hy") + F.col("o.dy")).alias("cy"),
        (F.col("o.dx") == 0).__and__(F.col("o.dy") == 0).alias("same_cell"),
    )
    b = pts.select(
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.floor(F.col("x") / r).cast("long").alias("cx"),
        F.floor(F.col("y") / r).cast("long").alias("cy"),
    )
    dx = F.col("xa") - F.col("xb")
    dy = F.col("ya") - F.col("yb")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        a.join(b, ["cx", "cy"])
        .filter(
            (F.col("same_cell") & (F.col("id_a") < F.col("id_b")))
            | (~F.col("same_cell"))
        )
        .withColumn("dist", dist)
        .filter(F.col("dist") <= r)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            (F.floor(F.col("dist") * 10000 + 0.5) / 10000).alias("dist"),
        )
    )


@register(
    "graph_clustering_coeff",
    f"""
    WITH {_PART_TRIANGLES_SQL},
    pt AS (
        SELECT node, count(*) AS n_tri
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y AS node FROM tri
            UNION ALL SELECT z AS node FROM tri
        )
        GROUP BY node
    )
    SELECT d.node AS part_id, CAST(d.deg AS BIGINT) AS deg,
           CAST(coalesce(pt.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(2000000 * coalesce(pt.n_tri, 0) // (d.deg * (d.deg - 1))
                AS BIGINT) AS lcc_ppm
    FROM deg d LEFT JOIN pt ON d.node = pt.node
    WHERE d.deg >= 2
    """,
    doc="Local clustering coefficient per node — 2*triangles(v) / "
    "(deg(v)*(deg(v)-1)) in exact ppm over the part co-purchase graph: "
    "the standard 'how clique-like is this node's neighborhood' metric "
    "(Watts-Strogatz), and the canonical CONSUMER of per-node triangle "
    "counts. Rides graph_triangle_count's degree-oriented enumeration "
    "(it composes on _part_copurchase_pairs; oracle: _PART_TRIANGLES_SQL) "
    "(out-degree capped at O(sqrt(E)), hot hubs contribute zero wedges "
    "at their center) plus one left join back to the degree relation so "
    "triangle-free nodes report lcc = 0 instead of vanishing. Integer "
    "arithmetic end-to-end (ppm via exact integer division), so the "
    "oracle replays bit-exactly.",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    pairs = _part_copurchase_pairs(spark, sf_dir).distinct()
    deg = (
        pairs.select(F.col("src").alias("node"))
        .unionAll(pairs.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(pairs)
    return (
        deg.join(tri, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            F.col("node").alias("part_id"),
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.expr(
                "CAST(2000000 * coalesce(n_triangles, 0) div "
                "(deg * (deg - 1)) AS BIGINT)"
            ).alias("lcc_ppm"),
        )
    )


@register(
    "graph_pagerank_personalized",
    f"""
    {_pairs_sql()},
    {_edges_sql()},
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
    seeds AS (
        SELECT DISTINCT c.c_custkey * 2 AS node
        FROM customer c
        WHERE c.c_nationkey = 0
          AND EXISTS (SELECT 1 FROM deg d WHERE d.src = c.c_custkey * 2)
    ),
    ns AS (SELECT count(*) AS ns FROM seeds),
    seed_base AS (
        SELECT node, (15 * 1000000) // (100 * ns.ns) AS b
        FROM seeds CROSS JOIN ns
    ),
    r0 AS (SELECT node, 1000000 // ns.ns AS r FROM seeds CROSS JOIN ns),
    {_ppr_iter_sql("r0", "r1")},
    {_ppr_iter_sql("r1", "r2")},
    {_ppr_iter_sql("r2", "r3")}
    SELECT {_entity_sql("node")},
           CAST(r AS BIGINT) AS rank_micro
    FROM r3
    """,
    doc="Personalized PageRank (random walk with restart) over the "
    "trading graph, seeded on nation-0 customers — importance RELATIVE "
    "to a query set, the locality/recommendation scorer next to "
    "graph_pagerank_trading's global rank. Same float-free micro-unit "
    "contract (positive integer div only), with sparse-frontier "
    "semantics: mass starts on the seeds and a node owns a rank row "
    "only once the walk reaches it — early iterations stay "
    "frontier-sized at 100 TB instead of node-count-sized; seeds regain "
    "restart mass through a FULL join with the broadcast seed-base "
    "vector each round. 3 unrolled iterations replayed bit-exactly by "
    "the oracle (operators/graph.py:pagerank_personalized_integer).",
)
def graph_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_personalized_integer

    edges = _sym_edges(_trading_pairs(spark, sf_dir))
    seeds = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select((F.col("c_custkey") * 2).alias("node"))
    )
    r = pagerank_personalized_integer(edges, seeds, iters=3)
    return r.select(
        *_entity("node"),
        F.col("rank_micro").cast("long").alias("rank_micro"),
    )


@register(
    "graph_degree_distribution",
    f"""
    {_pairs_sql()},
    deg AS (
        SELECT node, count(*) AS d FROM (
            SELECT c * 2 AS node FROM pairs
            UNION ALL
            SELECT s * 2 + 1 AS node FROM pairs
        ) GROUP BY node
    ),
    pow2 AS (
        SELECT CAST(b AS INTEGER) AS bucket,
               CAST(2 ** b AS BIGINT) AS lo,
               CAST(2 ** (b + 1) AS BIGINT) AS hi
        FROM (SELECT unnest(generate_series(0, 40)) AS b) t
    )
    SELECT p.bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(deg.d) AS BIGINT) AS min_deg,
           CAST(max(deg.d) AS BIGINT) AS max_deg,
           CAST(sum(deg.d) AS BIGINT) AS degree_mass
    FROM deg JOIN pow2 p ON deg.d >= p.lo AND deg.d < p.hi
    GROUP BY p.bucket
    """,
    doc="Degree-distribution histogram of the trading graph in "
    "powers-of-two buckets — the power-law/skew diagnostic that sizes "
    "every other graph plan (hub mass tells you whether AQE skew "
    "splitting, degree-oriented triangle orientation, and salting are "
    "load-bearing). The log2 bucket comes from an exact integer range "
    "join against a broadcast 41-row powers-of-two table (2^b <= d < "
    "2^(b+1)) — no libm log2, whose value at exact powers is not "
    "guaranteed correctly rounded, so the bucket edges are "
    "hash-identical by construction. One distinct-pair build, one "
    "degree aggregate, one broadcast band join; output is <= 41 rows "
    "at any scale.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one pass over the pairs: _sym_edges emits both endpoints of a pair
    deg = (
        _sym_edges(_trading_pairs(spark, sf_dir))
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    pow2 = spark.range(41).select(
        F.col("id").cast("int").alias("bucket"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))").alias("lo"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(id + 1 AS INT))"
        ).alias("hi"),
    )
    return (
        deg.join(
            F.broadcast(pow2),
            (F.col("d") >= F.col("lo")) & (F.col("d") < F.col("hi")),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("d").cast("long").alias("min_deg"),
            F.max("d").cast("long").alias("max_deg"),
            F.sum("d").cast("long").alias("degree_mass"),
        )
    )


@register(
    "graph_hits_integer",
    f"""
    -- pairs is MATERIALIZED: four downstream CTE references otherwise
    -- inline the orders x lineitem join + distinct four times, which
    -- aborted DuckDB (OOM) at sf1.0; materialized it runs once (46 s),
    -- mirroring the Spark side's _edges_on_disk one-time materialization
    {_pairs_sql(materialized=True)},
    h0 AS (
        SELECT c, CAST(1000000 AS BIGINT) AS h
        FROM (SELECT DISTINCT c FROM pairs)
    ),
    a1r AS (
        SELECT p.s, CAST(sum(h0.h) AS BIGINT) AS raw
        FROM pairs p JOIN h0 ON p.c = h0.c GROUP BY p.s
    ),
    a1d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // 1000000, 1) AS d FROM a1r),
    a1 AS (SELECT s, CAST(raw // d AS BIGINT) AS a FROM a1r, a1d),
    h1r AS (
        SELECT p.c, CAST(sum(a1.a) AS BIGINT) AS raw
        FROM pairs p JOIN a1 ON p.s = a1.s GROUP BY p.c
    ),
    h1d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // 1000000, 1) AS d FROM h1r),
    h1 AS (SELECT c, CAST(raw // d AS BIGINT) AS h FROM h1r, h1d),
    a2r AS (
        SELECT p.s, CAST(sum(h1.h) AS BIGINT) AS raw
        FROM pairs p JOIN h1 ON p.c = h1.c GROUP BY p.s
    ),
    a2d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // 1000000, 1) AS d FROM a2r),
    a2 AS (SELECT s, CAST(raw // d AS BIGINT) AS a FROM a2r, a2d),
    h2r AS (
        SELECT p.c, CAST(sum(a2.a) AS BIGINT) AS raw
        FROM pairs p JOIN a2 ON p.s = a2.s GROUP BY p.c
    ),
    h2d AS (SELECT greatest(CAST(sum(raw) AS BIGINT) // 1000000, 1) AS d FROM h2r),
    h2 AS (SELECT c, CAST(raw // d AS BIGINT) AS h FROM h2r, h2d)
    SELECT CAST(0 AS INTEGER) AS is_supplier, CAST(c AS BIGINT) AS entity_id,
           h AS score_micro
    FROM h2
    UNION ALL
    SELECT CAST(1 AS INTEGER), CAST(s AS BIGINT), a FROM a2
    """,
    doc="Deterministic integer HITS (Kleinberg 1999) over the directed "
    "customer->supplier purchase graph: hubs (customers) accumulate the "
    "authority mass of suppliers they buy from, authorities the hub mass "
    "of their buyers, each side renormalized to ~1e6 total per round via "
    "score div greatest(sum div 1e6, 1) — dividing by the PRE-scaled "
    "scalar keeps every intermediate below 2^63 at billion-node scale "
    "where a *1e6-first form would overflow. Two unrolled rounds, "
    "positive-int div only, so the oracle replays hub and authority "
    "vectors bit-exactly (the link-analysis sibling of "
    "graph_pagerank_trading; operators/graph.py:hits_integer). Each "
    "round: two shuffle joins of the pair relation against node-sized "
    "score vectors + two grouped sums + two 1-row broadcast scalars.",
)
def graph_hits_integer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits_integer

    return hits_integer(_trading_pairs(spark, sf_dir), iters=2)


@register(
    "graph_copurchase_projection",
    """
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    cooc AS (
        SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_cooc
        FROM pairs GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_cooc
    FROM cooc
    WHERE n_cooc >= 2
    ORDER BY n_cooc DESC, part_a, part_b
    LIMIT 100
    """,
    doc="Bipartite projection of the order-part purchase graph onto the "
    "part side: item-item co-occurrence counts (the edge list every "
    "co-occurrence / association-mining / item-similarity pipeline "
    "starts from), support-thresholded and emitted as a deterministic "
    "top-100 (count DESC, then the unique pair key — no bare LIMIT on "
    "ties). The quadratic danger in a bipartite projection is per-"
    "basket fan-out, and the bound here is STRUCTURAL: baskets are "
    "orders with <= 13 distinct parts (TPC-H lineitem shape), so the "
    "within-basket self-equi-join on l_orderkey emits <= 78 pairs per "
    "order — linear in orders, co-partitioned by the join key, one "
    "exchange. For heavy-tailed baskets (users x documents) the "
    "documented guard is the same hot-key cap dedup_ngram_jaccard "
    "applies to shingles (drop baskets above a df ceiling before "
    "pairing); the top-k is TakeOrderedAndProject, never a global "
    "sort.",
)
def graph_copurchase_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: the old shape scanned lineitem twice (self-join of a distinct
    # subtree Catalyst cannot CSE) and exchanged both sides. An order's
    # part list is BOUNDED (TPC-H: <= 7 lines), so the ordered pairs
    # expand map-side from one sorted collect_set array (the
    # jaccard/adamic wedge idiom): ONE scan, one (orderkey) exchange that
    # also subsumes the old distinct, one pair aggregate — no join.
    #
    # r14 size gate (VERDICT r13 item 1): below the broadcast envelope the
    # old self-join wins — the distinct'd (orderkey, partkey) projection
    # auto-broadcasts, so the "two scans + two-sided exchange" cost the
    # collect_set shape removes never existed there, while the collect_set
    # aggregate's array-building is pure overhead. Interleaved same-box
    # A/B (min-of-5 sf0.1 / min-of-4 sf1, probes beside, r14 record):
    # sf0.1 old 1.306 vs new 1.422 s; sf1 old 4.391 vs new 2.807 s — the
    # crossover is exactly where lineitem stops broadcasting, so the gate
    # keys on the same signal the planner does (input tree bytes vs the
    # session's 64 MB autoBroadcastJoinThreshold, conservatively halved
    # for parquet-to-in-memory expansion). An unknown size (0) takes the
    # scale-safe collect_set arm.
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if 0 < _table_tree_bytes(sf_dir, "lineitem") <= 32 * 1024 * 1024:
        lid = li.distinct()
        a = lid.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
        )
        b = lid.select(
            F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("part_b")
        )
        pairs = a.join(
            b,
            (F.col("ok") == F.col("ok_b")) & (F.col("part_a") < F.col("part_b")),
        ).select("part_a", "part_b")
    else:
        ids = li.groupBy("l_orderkey").agg(
            F.array_sort(F.collect_set("l_partkey")).alias("ids")
        )
        pairs = ids.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (a, i) -> transform("
                    "slice(ids, i + 2, size(ids)),"
                    " b -> struct(a AS part_a, b AS part_b))))"
                )
            ).alias("p")
        ).select("p.part_a", "p.part_b")
    cooc = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_cooc")
    )
    return (
        cooc.filter(F.col("n_cooc") >= 2)
        .orderBy(F.col("n_cooc").desc(), "part_a", "part_b")
        .limit(100)
    )


@register(
    "graph_degree_assortativity",
    f"""
    {_pairs_sql()},
    dc AS (SELECT c, CAST(count(*) AS BIGINT) AS d FROM pairs GROUP BY c),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM pairs GROUP BY s),
    e AS (
        SELECT dc.d AS x, ds.d AS y
        FROM pairs p JOIN dc ON dc.c = p.c JOIN ds ON ds.s = p.s
    ),
    agg AS (
        SELECT CAST(count(*) AS HUGEINT) AS m,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(sum(x * x) AS HUGEINT) AS sxx,
               CAST(sum(y * y) AS HUGEINT) AS syy,
               CAST(sum(x * y) AS HUGEINT) AS sxy
        FROM e
    )
    SELECT CAST(m AS BIGINT) AS n_edges,
           CAST(floor(CAST(m * sxy - sx * sy AS DOUBLE) * 1000000.0
                      / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                             * CAST(m * syy - sy * sy AS DOUBLE)) + 0.5)
                AS BIGINT) AS assortativity_micro
    FROM agg
    """,
    doc="Degree assortativity of the customer-supplier trading graph: "
    "Pearson correlation of (customer degree, supplier degree) over the "
    "distinct edge set — the one-number mixing diagnostic (negative = "
    "hubs attach to leaves, the disassortative shape typical of "
    "commerce graphs) that tells a partitioner whether degree-based "
    "skew mitigation (operators/skew.py salting) will be needed before "
    "the joins that graph_degree_distribution's histogram sizes. Exact "
    "integer sufficient statistics: one exchange for the distinct edge "
    "set, two node-sized degree aggregates joined back on their own "
    "keys, five sums in DECIMAL(38,0)/HUGEINT (m*sxy overflows int64 "
    "at ~1e9 edges, so the widening is load-bearing, same as "
    "ml_stump_split_finding), and one closing sqrt on identical "
    "doubles. The 100 TB shape is three hash exchanges, all partial-"
    "aggregated, no iteration.",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _trading_pairs(spark, sf_dir)
        # Three consumers (two degree aggregates + the edge join) would
        # re-run the 60M-row join+distinct subtree three times (84 s at
        # the generated sf10); one eager materialization bounds it to
        # once — the same lineage discipline as the graph fixpoints.
        .localCheckpoint()
    )
    # r13: endpoint degrees as WINDOW counts over the checkpointed pair
    # relation — the old aggregate+join-back shape exchanged pairs three
    # times (by c and by s for the attach joins, plus the degree
    # aggregates); two stacked window partitionings exchange it twice and
    # need no join at all (the e1/flagship stacking idiom).
    e = (
        pairs.withColumn(
            "x", F.count(F.lit(1)).over(Window.partitionBy("c")).cast("long")
        )
        .withColumn(
            "y", F.count(F.lit(1)).over(Window.partitionBy("s")).cast("long")
        )
        .select("x", "y")
    )
    # Widen BEFORE aggregating (advice r9): the five sums must accumulate
    # in DECIMAL, matching the DuckDB oracle's HUGEINT accumulator — a
    # post-hoc cast of a LongType sum would ANSI-raise (or wrap) first.
    # decimal(19,0) operands make each product decimal(38,0); SUM over
    # decimal stays decimal(38,0), so nothing ever touches int64.
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    agg = e.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(xd).cast("decimal(38,0)").alias("sx"),
        F.sum(yd).cast("decimal(38,0)").alias("sy"),
        F.sum(xd * xd).cast("decimal(38,0)").alias("sxx"),
        F.sum(yd * yd).cast("decimal(38,0)").alias("syy"),
        F.sum(xd * yd).cast("decimal(38,0)").alias("sxy"),
    )
    return agg.select(
        F.col("m").cast("long").alias("n_edges"),
        F.floor(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            * 1000000.0
            / F.sqrt(
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                )
                * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            )
            + 0.5
        )
        .cast("long")
        .alias("assortativity_micro"),
    )
