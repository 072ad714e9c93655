"""Graph operators: iterative fixpoints and join-based counts over edge
relations, run as driver-side loops of DataFrame joins (Spark has no
recursive CTE).

Operators, by fixpoint shape:
  - ``connected_components``: min-label flooding with a delta frontier and
    pointer doubling.
  - ``pagerank_integer``, ``pagerank_personalized_integer`` and
    ``hits_integer``: float-free numeric power iterations in integer
    micro-units.
  - ``label_propagation_mode``: deterministic synchronous mode LPA.
  - ``kcore_peel``: fixed-round monotone peeling.
  - ``bfs_min_hops``: the frontier/reachability fixpoint.
  - ``bellman_ford_bounded`` and ``temporal_reachability``: one bounded
    delta-relaxation loop (``_delta_relax``) with two relax rules.
  - ``triangle_counts``: single-pass degree-oriented wedge enumeration.

Every operator is integer arithmetic and set algebra with its round count
part of its semantics, so a DuckDB oracle replays it bit-exactly.

One driver-local arm with two triggers: connected components and the five
integer fixpoints (PageRank, LPA, k-core, personalized PageRank, HITS) run on
the driver when their edge set is at most ``_DRIVER_LOCAL_EDGE_ROWS`` rows.
``_gated_edges`` tries the pre-gate first: when Catalyst's size of the edge
relation's input is at most the gate's 8 MB Arrow payload, one bounded
``limit(gate + 1).toArrow()`` of the un-persisted relation is the arm's input,
with no persist and no count. An unknown size (a LogicalRDD), a larger input,
an overflowing collect or a NULL endpoint falls through to ``_edges_on_disk``,
whose exact count is the second trigger. Either way ``_local_graph`` is the
one collect, a ``_*_local`` replay runs the same integer rounds in numpy, and
the result is a ``LocalTableScan``. Larger inputs take the distributed loop.

Shared disciplines:
  - Bulk edge relations of the distributed loops persist via
    ``_edges_on_disk`` (DISK_ONLY at unknown or large sizes, so cached edges
    never squeeze execution memory), and exchanges whose per-task state
    scales with the edge count take their width from ``_exchange_width``.
  - ``localCheckpoint`` truncates the growing per-round state — without it
    the plan doubles per iteration and Catalyst analysis time explodes. It
    also drops lineage, so losing an executor mid-query is unrecoverable.
  - Convergence probes ride the checkpoint job as observed counts
    (``checkpoint_counted``) instead of a separate job.
  - Node sets up to ``_BROADCAST_NODE_SET_ROWS`` rows broadcast.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from ..localrel import local_columns_df
from .scalars import checkpoint_counted

if TYPE_CHECKING:  # numpy loads only when a driver-local arm runs
    import numpy as np


# Edge relations at or above this row count persist DISK_ONLY; below it
# they keep the in-memory path (columnar cache ~16-25 B/row: 20M rows is a
# few hundred MB, far inside the storage pool, while the sf10 trading
# graph's 117M-row generations must stay off-heap-of-storage or the
# fixpoint rounds OOM — the measured 85ee508 failure).
_IN_MEM_EDGE_ROWS = 20_000_000

# Node-set relations at or below this row count take the explicit-broadcast
# fast path in the fixpoint loops (connected_components frontiers,
# kcore_peel peel sets). Sizing rationale (ADVICE r13): a broadcast
# relation is collected to the driver and replicated per executor; a 5M-row
# single-long-column build relation is ~40 MB of data (~100-200 MB as a
# built BroadcastHashJoin relation), which stays far inside
# spark.driver.maxResultSize (1 GiB default) and the repo's 16 GB driver
# heap while covering every measured frontier/peel set through the
# generated sf10 graphs. Deliberately above autoBroadcastJoinThreshold
# (64 MB estimate-based): these gates fire on EXACT counts the loops
# already have, not Catalyst estimates, so the cliff is chosen, not
# inherited. Production would derive this from executor/driver memory conf;
# the constant keeps both operators' gates in one place.
_BROADCAST_NODE_SET_ROWS = 5_000_000

# Edge sets at or below this row count run on the DRIVER: connected
# components and the five integer fixpoints (pagerank_integer,
# label_propagation_mode, kcore_peel, pagerank_personalized_integer,
# hits_integer) collect the edges once (_local_graph) and replay their
# rounds in numpy instead of paying one or more Spark jobs per round.
# Rationale: at this size the distributed loops are pure scheduling floor
# (CC: 2.5-2.7 s at sf0.1 for a 477-node near-dup graph; PageRank, LPA and
# k-core: 16-23 jobs each over the 97k-edge sf0.01 trading graph), while
# 500k edges are ~8 MB as an Arrow transfer and each numpy round is a few
# vectorized passes over them. This is a bounded driver-held model in the
# k-means-seed class, NOT an unbounded driver loop. One arm, two triggers
# (_gated_edges), and the same row bound for both:
#   - the pre-gate, before anything runs: Catalyst's input size of the edge
#     relation is at most this many rows' two-int64 Arrow payload
#     (x 16 bytes = 8 MB), and a bounded limit(gate + 1) collect returns at
#     most this many rows;
#   - the post-count trigger: the exact count _edges_on_disk takes of the
#     persisted relation.
# Unknown sizes decline the pre-gate, and anything both triggers decline
# keeps the distributed path unchanged (the sf0.1 trading graph reads
# 13.5 MB of orders/lineitem and has 1.17M symmetrized edges, sf10 117M).
# Equivalence: each replay runs the distributed arm's rounds over the same
# rows — the same node universe (e.g. PageRank and LPA rank/label only
# sources; a node no contribution reaches drops out, an LPA node nothing
# reaches resets to its own id), the same round count and early stops, and
# the same integer arithmetic: int64 ``//`` for Spark's ``div`` of
# non-negative operands, exact int64 sums (np.add.at, never a float64
# weighted bincount), ties to the lowest id. Nodes are indexed in id order,
# so a min over indexes is a min over ids. Pinned arm-against-arm on random
# graphs in tests/test_graph.py.
_DRIVER_LOCAL_EDGE_ROWS = 500_000


def _edges_on_disk(
    df: DataFrame,
    expected_rows: "int | None" = None,
    known_rows: "int | None" = None,
) -> tuple[DataFrame, int]:
    """Materialize an edge relation and return (df, row_count).

    This is the large arm's entry: the gated fixpoints reach it through
    ``_gated_edges`` only once the driver-local pre-gate has declined (an
    unknown or over-8 MB input, an overflowing bounded collect, a NULL
    endpoint), so a small edge set is never persisted or counted; the count
    taken here is the gate's second trigger.

    Bulk edge relations must NOT occupy the in-memory storage pool: cached
    blocks inside the protected storage fraction cannot be evicted by
    execution memory, and the fixpoint rounds' wide joins/aggregates then
    die with UNABLE_TO_ACQUIRE_MEMORY (measured on the generated sf10
    trading graph — 117M edges — on the 16 GB local box). Sequential disk
    reads of a compact two-column relation are cheap next to the shuffles
    they feed. The count both forces materialization and sizes downstream
    exchange widths; it is one long to the driver.

    ``expected_rows`` gates the storage level: when the caller already
    knows an upper bound on this relation's size (a peel loop knows the
    previous generation's count; a derived relation knows its source's),
    a bound under ``_IN_MEM_EDGE_ROWS`` keeps the relation in memory
    (MEMORY_AND_DISK_DESER) so sf0.1-sized graphs skip the per-round disk
    round-trips. Unknown sizes default to DISK_ONLY — the safe level at
    the 100 TB design point.

    ``known_rows`` (r14): when the caller knows this relation's EXACT row
    count already — every repartition/explode of an already-counted
    relation does — the counting job is skipped entirely and the persist
    stays LAZY: the first consumer job materializes the blocks while
    doing its own work (all such call sites consume the relation in one
    linear chain before any concurrent reader exists, so there is no
    cold-cache race). One fewer job per fixpoint build, and at scale one
    fewer full pass over the edge set. Callers that pass ``known_rows``
    must keep the UPSTREAM persisted relation alive until the first
    consumer job has run (unpersisting it earlier would force a full
    recompute of the original subtree).
    """
    level = (
        StorageLevel.MEMORY_AND_DISK_DESER
        if expected_rows is not None and expected_rows < _IN_MEM_EDGE_ROWS
        else StorageLevel.DISK_ONLY
    )
    e = df.persist(level)
    if known_rows is not None:
        return e, known_rows
    return e, e.count()


def _exchange_width(sc, n_rows: int, target_rows: int = 1_000_000) -> int:
    """Partition count for exchanges whose per-task state scales with the
    edge count: defaultParallelism at small inputs, ~target_rows per task
    at scale. Conf-fixed widths (32) put ~3.7M-row hash maps in every
    concurrent task at sf10 — the measured OOM; the repartitions sized by
    this helper replace exchanges the join/groupBy would perform anyway,
    so round structure is unchanged, only width scales."""
    return max(sc.defaultParallelism, int(n_rows // target_rows) + 1)


class _LocalGraph(NamedTuple):
    """An edge relation collected for the driver-local arm."""

    nodes: "np.ndarray"  # sorted distinct endpoint ids, in the column dtype
    src: "np.ndarray"  # first column's endpoint per edge: int32 index into nodes
    dst: "np.ndarray"  # second column's endpoint per edge: int32 index into nodes
    ftype: T.DataType  # the endpoints' Spark type


def _input_bytes(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` summed over the leaves of ``df``'s
    optimized plan: the bytes of input evaluating ``df`` reads, known
    before anything runs (file sizes for a parquet scan, rows x row width
    for a LocalRelation). A leaf of unknown size, such as the LogicalRDD of
    ``spark.createDataFrame(list)``, reports ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue), so an unknown input measures as large."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        int(leaves.apply(i).stats().sizeInBytes())
        for i in range(leaves.size())
    )


def _local_graph(e: DataFrame, n_rows: "int | None" = None) -> "_LocalGraph | None":
    """The one collect of the driver-local arm: the two-column edge
    relation ``e`` as a ``_LocalGraph``, or None for the distributed arm.
    It declines when the endpoints are not one integer type, when an
    endpoint is NULL (NULL joins nothing on the distributed arm; the
    replays do not model it), and when ``e`` is over the gate. The gate has
    two triggers:

      - ``n_rows`` None (the pre-gate, before anything is materialized):
        ``e``'s input must measure at most ``_DRIVER_LOCAL_EDGE_ROWS * 16``
        bytes, the gate's own two-int64 Arrow payload (8 MB), and then one
        ``limit(_DRIVER_LOCAL_EDGE_ROWS + 1).toArrow()`` of the un-persisted
        relation must return at most the gate's rows. An unknown size
        declines without running anything, and the byte bound caps what an
        overflowing collect wastes at one evaluation over <= 8 MB of input.
      - ``n_rows`` given (``e`` persisted and counted by ``_edges_on_disk``):
        at most ``_DRIVER_LOCAL_EDGE_ROWS`` rows; ``e`` is unpersisted once
        collected, and left persisted when declined.

    Lean temporaries (the driver's peak RSS is a benchmark metric): one
    ``np.unique`` per endpoint column, not one over their concatenation,
    int32 indexes, and the Arrow table dropped once converted."""
    ftype = e.schema[0].dataType
    if not isinstance(ftype, T.IntegralType) or e.schema[1].dataType != ftype:
        return None
    if n_rows is None:
        # Measured and collected through the limit's own plan: optimizing
        # ``e``'s would fix that plan before a fallback persist, and the
        # post-count collect of ``e`` would then recompute, not read, the
        # persisted blocks.
        bounded = e.limit(_DRIVER_LOCAL_EDGE_ROWS + 1)
        if _input_bytes(bounded) > _DRIVER_LOCAL_EDGE_ROWS * 16:
            return None
        tbl = bounded.toArrow()
        if tbl.num_rows > _DRIVER_LOCAL_EDGE_ROWS:
            return None
    elif n_rows > _DRIVER_LOCAL_EDGE_ROWS:
        return None
    else:
        tbl = e.toArrow()
    if tbl.column(0).null_count or tbl.column(1).null_count:
        return None
    import numpy as np

    x, y = tbl.column(0).to_numpy(), tbl.column(1).to_numpy()
    del tbl
    if n_rows is not None:
        e.unpersist()
    nodes = np.union1d(np.unique(x), np.unique(y))
    return _LocalGraph(
        nodes,
        np.searchsorted(nodes, x).astype(np.int32),
        np.searchsorted(nodes, y).astype(np.int32),
        ftype,
    )


def _gated_edges(
    e: DataFrame,
) -> "tuple[_LocalGraph, None, None] | tuple[None, DataFrame, int]":
    """Route a gated fixpoint's two-column edge relation ``e``:
    ``(graph, None, None)`` when either trigger of ``_local_graph`` takes
    it to the driver, else ``(None, persisted e, its row count)`` from
    ``_edges_on_disk`` for the distributed loop. The pre-gate runs first,
    so a small input is one bounded collect with no persist and no count;
    whatever it declines takes the post-count trigger unchanged."""
    g = _local_graph(e)
    if g is not None:
        return g, None, None
    e, n = _edges_on_disk(e)
    g = _local_graph(e, n)
    return (g, None, None) if g is not None else (None, e, n)


def _local_out(spark, *cols) -> DataFrame:
    """A LocalTableScan over ``(name, spark_type, values)`` columns."""
    schema = T.StructType([T.StructField(n, t, True) for n, t, _ in cols])
    return local_columns_df(spark, [v for _, _, v in cols], schema)


def _cc_local(spark, g: _LocalGraph, max_iter: int) -> DataFrame:
    """connected_components' rounds on the driver. A distributed round is
    a neighbor min over the delta frontier, which equals the min over
    every neighbor (a node's label is already at most what each unchanged
    neighbor last sent), then one pointer-doubling jump; labels only fall,
    so lab[x] <= x and the jump's least() is the jumped label. Replayed as
    such, with the same ``max_iter`` cap and stop-on-no-change."""
    import numpy as np

    lab = np.arange(len(g.nodes))
    for _ in range(max_iter):
        m = lab.copy()
        np.minimum.at(m, g.src, lab[g.dst])
        np.minimum.at(m, g.dst, lab[g.src])
        m = m[m]
        if np.array_equal(m, lab):
            break
        lab = m
    return _local_out(
        spark, ("node", g.ftype, g.nodes), ("component", g.ftype, g.nodes[lab])
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """Component label per node: (node, component) where component is the
    minimum node id reachable through ``edges`` (undirected; self-pairs and
    duplicates tolerated). Nodes are those appearing in any edge.

    Dedup pipelines need this beyond near-duplicate PAIRS: keeping "one doc
    per duplicate cluster" requires the transitive closure of the pair
    relation. The distributed arm is the label-propagation formulation
    GraphX's ``connectedComponents`` Pregel program computes (each node
    repeatedly takes the min label in its closed neighborhood):
      - The symmetrized edge relation is persisted PRE-PARTITIONED by src,
        so each round's message join exchanges only the label side;
        messages come only from the DELTA FRONTIER (nodes whose label
        changed last round — sound because min-label flooding is
        monotone), and the per-round min agg + labels self-join (pointer
        doubling: lbl <- label(lbl)) halve label distance — O(log
        diameter) rounds, the hash-to-min shape of Kiveris et al.,
        "Connected Components in MapReduce and Beyond". Near-dup graphs
        are short chains; typical corpora converge in <= 4 rounds.
      - Convergence = no label changed, counted on the round's own
        checkpoint job — no row data to the driver.
    """
    # A small edge set goes to the driver-local arm (_gated_edges; see
    # _DRIVER_LOCAL_EDGE_ROWS). Otherwise the caller's edge relation is
    # materialized ONCE before anything else: the symmetrizing union below
    # references it twice, and Spark executes both union branches — for an
    # LSH-derived edge source that meant the whole candidate-verify subtree
    # ran twice inside the first job (measured at the generated sf10:
    # 211 s -> 97 s for dedup_cluster_assign after this checkpoint).
    # DISK_ONLY + size-aware widths per _edges_on_disk/_exchange_width.
    sc = edges.sparkSession.sparkContext
    g, e, n_e0 = _gated_edges(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if g is not None:
        return _cc_local(edges.sparkSession, g, max_iter)
    # Symmetrize once; both directions are needed so a min label entering a
    # cluster anywhere can flow along every edge. Duplicate edges are left
    # in place — min() is idempotent over them, and a distinct() here would
    # add a full shuffle of the edge set before the first round. Size is
    # known exactly (2x the materialized input), so small graphs keep the
    # in-memory path.
    # Pre-partition the symmetrized relation BY SRC at materialization:
    # every round's message join is on src, and a persisted relation keeps
    # its HashPartitioning, so the per-round join exchanges only the
    # (node-or-frontier-sized) label side — the old loop re-shuffled all
    # 2x|E| rows by src EVERY round (round-8 verdict item 5: 270 s at the
    # generated sf10 vs PageRank's 50 s on the same graph, which already
    # used this one-time-exchange shape).
    width = _exchange_width(sc, 2 * n_e0)
    # The symmetrized relation's row count is EXACTLY 2 x the counted
    # input (one explode row per direction, repartition preserves rows),
    # so its materializing count job is skipped (known_rows, r14): the
    # labels checkpoint below is the first consumer and materializes the
    # sym blocks inside its own job. e stays persisted until then.
    sym, n_sym = _edges_on_disk(
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .repartition(width, "src"),
        expected_rows=2 * n_e0,
        known_rows=2 * n_e0,
    )
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn(
            "lbl", F.col("node")
        )
    ).localCheckpoint()
    e.unpersist()

    # Delta-frontier propagation: min-label flooding is a MONOTONE
    # fixpoint, so a node only needs to (re)send its label in the round
    # after that label changed — the value an unchanged neighbor would
    # send now is exactly what it already sent when it last changed, and
    # receivers fold messages into their current label with least(), so
    # early delivery can never be lost. Round 1's frontier is every node
    # (label = own id); near-dup graphs then collapse the frontier fast,
    # and each later round's edge join touches only edges leaving changed
    # nodes instead of the full 2x|E| relation. Convergence = empty
    # frontier (replaces the label-sum scalar probe: no change anywhere
    # means no future change is possible).
    frontier = labels
    for _ in range(max_iter):
        nbr_min = (
            sym.join(frontier.withColumnRenamed("node", "src"), "src")
            .repartition(width, "dst")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # Carry the pre-step label through as old_lbl so the frontier can
        # be derived from the SAME checkpointed relation below — computing
        # it as new_labels-join-labels cost one extra node-sized join plus
        # a second localCheckpoint job per round, pure fixed overhead that
        # showed up as +2.4 s at sf0.1 without moving a byte less at sf10.
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("lbl").alias("old_lbl"),
            F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
        )
        # Pointer doubling: lbl <- label(lbl). A label is itself a node id,
        # so one self-join shortcuts chains — combined with the neighbor min
        # this converges in O(log diameter) rounds (hash-to-min style)
        # instead of O(diameter) one-hop propagation. Node-sized join on
        # both sides; stays full (not frontier-limited) because a jump
        # target's label may have changed even when the jumper's did not.
        jump = stepped.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("jump_lbl")
        )
        # Exact changed-node count as an OBSERVED METRIC of the checkpoint
        # job itself (r14, via checkpoint_counted): r13 cut 3 jobs/round to
        # 2 by counting the checkpointed blocks; the observation folds that
        # count into the materializing job — 1 job/round, no re-scan at
        # all. The count still gates the frontier broadcast EXACTLY (the
        # round-9 A/B: a bare filter view as frontier cost 314 s vs 207 s
        # at sf10 because the message join saw the node-relation size
        # estimate): a bounded frontier gets an explicit broadcast hint on
        # the lazy view over the checkpoint; an oversized one is
        # materialized for the keyed join as before.
        new_full, n_changed = checkpoint_counted(
            stepped.join(jump, "lbl", "left").select(
                "node",
                "old_lbl",
                F.least("lbl", F.coalesce("jump_lbl", "lbl")).alias("lbl"),
            ),
            cond=F.col("lbl") < F.col("old_lbl"),
        )
        labels = new_full.select("node", "lbl")
        if n_changed == 0:
            break
        fr = new_full.filter(F.col("lbl") < F.col("old_lbl")).select(
            "node", "lbl"
        )
        frontier = (
            F.broadcast(fr) if n_changed <= _BROADCAST_NODE_SET_ROWS else fr.localCheckpoint()
        )
    sym.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def _rank_round(g: _LocalGraph, r, has, share_div):
    """One integer PageRank message round on the driver: the sum of
    ``r div outdeg`` each node receives from the sources holding a rank
    row (``has``), and which nodes received any message."""
    import numpy as np

    live = has[g.src]
    to = g.dst[live]
    s = np.zeros(len(g.nodes), dtype=np.int64)
    np.add.at(s, to, (r // share_div)[g.src[live]])
    reached = np.zeros(len(g.nodes), dtype=bool)
    reached[to] = True
    return s, reached


def _pagerank_local(spark, g: _LocalGraph, iters: int, damping_pct: int) -> DataFrame:
    """pagerank_integer's rounds on the driver (see _DRIVER_LOCAL_EDGE_ROWS).
    Ranked nodes start as the sources; after each round only the nodes a
    contribution reached hold a rank row, and a node without out-edges
    emits nothing."""
    import numpy as np

    outdeg = np.bincount(g.src, minlength=len(g.nodes))
    n = max(int(np.count_nonzero(outdeg)), 1)  # an empty graph ranks nothing
    base = (100 - damping_pct) * 1_000_000 // (100 * n)
    has = outdeg > 0
    r = np.full(len(g.nodes), 1_000_000 // n, dtype=np.int64)
    share_div = np.maximum(outdeg, 1)
    for _ in range(iters):
        s, has = _rank_round(g, r, has, share_div)
        r = base + damping_pct * s // 100
    return _local_out(
        spark,
        ("node", g.ftype, g.nodes[has]),
        ("rank_micro", T.LongType(), r[has]),
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Deterministic integer PageRank: (node, rank_micro) after ``iters``
    synchronous power iterations.

    The float formulation (r' = (1-d)/N + d * sum r/outdeg) accumulates in
    an engine- and partitioning-dependent order, so a cross-engine oracle
    could never hash-match it. This variant is FLOAT-FREE: ranks live in
    integer micro-units, per-edge contributions are ``r div outdeg`` and
    the damping step is ``(85 * sum) div 100`` — integer division of
    positive operands, on which Spark's ``div`` and DuckDB's ``//`` agree
    exactly, so every iteration is bit-replayable in SQL. (Floor-division
    rank leakage ≤ outdeg-1 micro-units per node per round is part of the
    DEFINED semantics, identically on both engines.)

    Scale shape per iteration — the same discipline as
    ``connected_components`` above:
      - one shuffle join of the (static) out-degree-annotated edge
        relation with the current rank vector on ``src``;
      - one grouped integer sum on ``dst`` (map-side partials);
      - ``localCheckpoint`` truncates the doubling lineage each round.
    The edge relation is symmetrized/deduplicated by the CALLER; nodes
    are every distinct ``src`` (callers wanting dangling-node handling
    add the reverse edges, which also guarantees every node receives
    mass). N (node count) is a bounded scalar fetch, same class as the
    k-means seed collect. Bulk relations persist DISK_ONLY and exchange
    widths scale with the edge count (_edges_on_disk/_exchange_width).
    """
    sc = edges.sparkSession.sparkContext
    g, e, n_edges = _gated_edges(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if g is not None:
        return _pagerank_local(edges.sparkSession, g, iters, damping_pct)
    width = _exchange_width(sc, n_edges)
    # ONE materialization of the edge relation, pre-partitioned by src so
    # every iteration's message join reuses the partitioning (r13
    # optimization: the old shape materialized the edges TWICE — raw, then
    # joined with outdeg — because outdeg rode on the edge rows; outdeg now
    # rides in a node-sized join against the persisted degree relation
    # instead, so the second full-edge pass and its storage are gone).
    ep, _ = _edges_on_disk(
        e.repartition(width, "src"), expected_rows=n_edges, known_rows=n_edges
    )
    # Out-degrees aggregate straight off ep's partitioning (no exchange);
    # ep's row count is exactly n_edges (known_rows — no counting job,
    # r14), so deg.count() below is the job that materializes BOTH ep and
    # deg while returning the bounded node-count scalar (one long to the
    # driver). e must stay persisted until that job has run.
    deg = ep.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    n = max(deg.count(), 1)  # an empty graph ranks nothing
    e.unpersist()
    base = (100 - damping_pct) * 1_000_000 // (100 * n)
    r = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000 // n).cast("long").alias("r")
    )
    for i in range(iters):
        # Rank lineage is LINEAR (each r feeds exactly one consumer), so —
        # unlike connected_components' doubling label/jump lineage — no
        # per-iteration checkpoint is needed: all `iters` rounds chain into
        # ONE job (3 shuffle rounds over the persisted ep/deg blocks)
        # instead of one eager checkpoint job per round. The per-edge
        # share r div outdeg is computed in a node-sized join with deg
        # BEFORE the edge join, keeping the edge-side join input two
        # columns wide.
        rd = (
            r.withColumnRenamed("node", "src")
            .join(deg, "src")
            .select("src", F.expr("r div outdeg").alias("c"))
        )
        contrib = (
            ep.join(rd, "src")
            .select("dst", "c")
            .repartition(width, "dst")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("s"))
        )
        r = contrib.select(
            "node",
            (F.lit(base) + F.expr(f"({damping_pct} * s) div 100"))
            .cast("long")
            .alias("r"),
        )
        # Linear lineage still grows the PLAN per round; at the registered
        # iters=3 that is free, but this is a public operator with
        # caller-chosen iters, so truncate every 8 rounds to bound Catalyst
        # analysis cost (ADVICE r13) — no extra job at small iters.
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            r = r.localCheckpoint(eager=True)
    # One terminal checkpoint (the only eager job after the build) lets the
    # persisted edge/degree blocks be released before the caller's action.
    r = r.localCheckpoint(eager=True)
    ep.unpersist()
    deg.unpersist()
    return r.select("node", F.col("r").alias("rank_micro"))


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts: (node, n_triangles) for every
    node of ``edges`` (undirected; self-loops and duplicates tolerated) that
    closes at least one triangle.

    Degree-oriented enumeration (Cohen, "Graph Twiddling in a MapReduce
    World" / the cSpan orientation): each undirected edge is oriented from
    the smaller endpoint to the larger under the total order
    (degree, node-id).  The oriented graph is a DAG whose out-degrees are
    bounded by O(sqrt(E)) regardless of skew — a star's hub gets NO
    out-edges, so the wedge join below never explodes on hot nodes, which is
    the property that makes this survive power-law graphs at 100 TB.  Every
    triangle {x ≺ y ≺ z} is generated exactly once as the wedge
    (x→y, x→z) closed by the oriented edge y→z.

    Plan shape: one distinct on the canonical edge set, one grouped degree
    count, one self-join on the wedge apex, one equi-join against the
    oriented edge relation, one explode of the 3 triangle corners + grouped
    count — every join keyed, no inequality-only (nested-loop) joins.
    """
    # Canonical undirected edge set: (a < b), duplicates and self-loops out.
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    # Undirected degree per node (appearances on either side).
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionAll(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge low ≺ high under (deg, id); keep it as (lo, hi).
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.col("a"),
            )
            .otherwise(F.col("b"))
            .alias("lo"),
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.col("b"),
            )
            .otherwise(F.col("a"))
            .alias("hi"),
        )
    )
    # Wedges at the apex: pairs of out-neighbors (y != z, unordered once —
    # the closing edge y→z exists in exactly one orientation, so each
    # triangle matches exactly one of the two wedge orderings).
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    w2 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") != F.col("z"))
    closing = oriented.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    tri = wedges.join(closing, ["y", "z"])
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def bfs_min_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: (node, hops) — the MINIMUM hop distance from any
    seed node, for every node within ``max_hops`` of the seed set along
    DIRECTED ``edges`` (symmetrize before calling for undirected reach).

    Spark has no recursive CTE, so bounded-depth reachability runs as a
    synchronous frontier loop — the Pregel/GraphX ``shortestPaths`` shape
    specialized to unit weights:

      frontier_{k+1} = (frontier_k ⋈ edges).dst  ANTI-JOIN  visited

    Each round is ONE keyed shuffle join (frontier x edges on ``src``) plus
    one distinct and one left-anti join against the visited set — no
    all-pairs products anywhere, and the frontier (not the full graph)
    drives the join, so per-round cost tracks the expanding wavefront.
    ``localCheckpoint`` truncates lineage per round exactly as in
    ``connected_components`` above. The loop body is deterministic set
    algebra — no floats, no ordering sensitivity — which is why the
    registered query can carry a recursive-CTE DuckDB oracle that replays
    the same fixpoint bit-for-bit.

    ``seeds`` is a one-column DataFrame of node ids (column name ``node``).
    Depth is bounded by contract (``max_hops``), keeping the visited
    relation O(reachable set) — at 100 TB the visited set is the only
    state that grows, and it only ever receives NEW nodes.
    """
    # Materialize the edge relation once: every round's frontier join and
    # the anti-join probe reread it, and without this the caller's edge
    # subtree (often a join+distinct) replans per round. DISK_ONLY so the
    # bulk relation never squeezes execution memory (_edges_on_disk).
    e, _ = _edges_on_disk(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    visited = seeds.select(
        F.col("node").cast("long").alias("node"), F.lit(0).cast("int").alias("hops")
    ).localCheckpoint(eager=True)
    frontier = visited.select("node")
    for k in range(1, max_hops + 1):
        # Only the new layer is checkpointed (one job per round): the
        # visited relation stays a <= max_hops-deep union of already-
        # checkpointed layers — shallow enough to leave as lineage, so
        # each round costs one materialization instead of two. The
        # empty-frontier convergence probe rides that job as an observed
        # count (r14, checkpoint_counted) instead of a separate isEmpty.
        nxt, n_new = checkpoint_counted(
            frontier.withColumnRenamed("node", "src")
            .join(e, "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        if n_new == 0:
            break
        visited = visited.unionByName(nxt.withColumn("hops", F.lit(k).cast("int")))
        frontier = nxt
    e.unpersist()
    return visited


def _kcore_local(spark, g: _LocalGraph, k: int, rounds: int) -> DataFrame:
    """kcore_peel's rounds on the driver (see _DRIVER_LOCAL_EDGE_ROWS): a
    round drops every source whose surviving out-degree is below k with
    every edge touching it, and the loop stops early once none is."""
    import numpy as np

    alive = np.ones(len(g.src), dtype=bool)
    for _ in range(rounds):
        deg = np.bincount(g.src[alive], minlength=len(g.nodes))
        drop = (deg > 0) & (deg < k)
        if not drop.any():
            break
        alive &= ~(drop[g.src] | drop[g.dst])
    deg = np.bincount(g.src[alive], minlength=len(g.nodes))
    keep = deg > 0
    return _local_out(
        spark,
        ("node", g.ftype, g.nodes[keep]),
        ("deg", T.LongType(), deg[keep].astype(np.int64)),
    )


def kcore_peel(
    edges: DataFrame, k: int = 2, rounds: int = 3, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Fixed-round k-core peeling: (node, deg) for nodes surviving
    ``rounds`` synchronous rounds of "drop every node with degree < k"
    over the undirected graph (callers pass a symmetrized edge relation;
    degree = out-degree of the symmetrized form).

    True k-core decomposition peels to a fixpoint; the ROUND COUNT here is
    part of the defined semantics (like pagerank_integer's iteration
    count) so the result is bit-replayable by an unrolled SQL oracle —
    each round is a monotone filter, so r rounds give the exact k-core
    whenever the peeling converges within r (and a superset otherwise,
    with survivors' degrees reported from the last surviving edge set).

    Per round: ONE grouped degree pass (the peel set — nodes below k —
    is checkpointed directly, so the old keep-vs-node-count probe's
    second degree aggregate is gone) + the complement anti-join of the
    edge relation against the peel set on EACH endpoint. The peel set is
    typically a small fraction of the nodes, so when it is (<= 5M rows)
    the anti-joins broadcast it and the edge set is filtered MAP-SIDE —
    no edge shuffle at all that round; a larger peel set falls back to
    keyed shuffle anti-joins with size-aware widths. Edge generations
    persist via _edges_on_disk — DISK_ONLY at unknown/large sizes,
    in-memory when the previous generation's count bounds this one under
    the threshold — and each generation unpersists once its successor is
    materialized, so at most two live at a time.
    """
    sc = edges.sparkSession.sparkContext
    g, e0, n_e = _gated_edges(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if g is not None:
        return _kcore_local(edges.sparkSession, g, k, rounds)
    width = _exchange_width(sc, n_e)
    # r13 optimization: pre-partition the edge relation by src ONCE (the
    # pagerank/LP discipline) so every round's degree aggregate — and the
    # terminal one — runs with NO exchange at all; the old loop
    # re-shuffled the full surviving edge set every round. While the peel
    # sets broadcast (the common case: peel sets are node-sized), the
    # surviving generations stay LAZY chains of map-side broadcast
    # anti-joins over these blocks — broadcast joins preserve the
    # partitioning, and not materializing each generation saves one full
    # edge write+read per round (at the generated sf10: three ~100M-row
    # generation spills gone). A peel set too big to broadcast falls back
    # to the old materialize-per-generation keyed anti-joins.
    # known_rows (r14): the repartition preserves the counted row count,
    # so e's materializing count job is skipped — round 1's peel-set
    # checkpoint below is the first consumer and materializes the blocks;
    # e0 stays persisted until that job has run.
    e, _ = _edges_on_disk(
        e0.repartition(width, "src"), expected_rows=n_e, known_rows=n_e
    )
    materialized = [e]
    first_round = True
    if rounds < 1:  # degenerate caller: materialize e, release e0 now
        e.count()
        first_round = False
        e0.unpersist()
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # Peel-set count rides the checkpoint job as an observed metric
        # (r14, checkpoint_counted): one job per round instead of the
        # checkpoint + count pair. Monotone fixpoint early-stop: if no
        # node fell below k this round, none ever will (degrees only drop
        # when a neighbor peels), so the remaining rounds are no-ops and
        # the unrolled-SQL oracle still matches exactly.
        drop, n_drop = checkpoint_counted(
            deg.filter(F.col("deg") < k).select("src")
        )
        if first_round:
            e0.unpersist()
            first_round = False
        if n_drop == 0:
            break
        if n_drop <= _BROADCAST_NODE_SET_ROWS:
            # small peel set: broadcast anti-joins, edges filtered map-side,
            # partitioning preserved — next round's degree pass needs no
            # exchange and no new materialization
            e = e.join(F.broadcast(drop), "src", "left_anti").join(
                F.broadcast(drop.withColumnRenamed("src", "dst")),
                "dst",
                "left_anti",
            )
        else:
            # r14 (ADVICE r13): the fallback must END partitioned by src —
            # its last repartition used to be on dst, so after any >5M-row
            # peel round every later deg = e.groupBy("src") silently
            # exchanged at the conf-fixed shuffle width (the fixed-width
            # hash-map OOM shape _exchange_width exists to prevent), and
            # the "degree aggregate runs with NO exchange" invariant broke
            # exactly on the at-scale path. Width is recomputed from the
            # SURVIVING edge count each keyed round.
            nxt_plan = (
                e.repartition(width, "dst")
                .join(drop.withColumnRenamed("src", "dst"), "dst", "left_anti")
                .repartition(width, "src")
                .join(drop, "src", "left_anti")
            )
            nxt, n_e = _edges_on_disk(
                nxt_plan.select("src", "dst"), expected_rows=n_e
            )
            width = _exchange_width(sc, n_e)
            materialized[-1].unpersist()
            materialized[:] = [nxt]
            e = nxt
    return (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def _lpa_local(spark, g: _LocalGraph, iters: int) -> DataFrame:
    """label_propagation_mode's rounds on the driver (see
    _DRIVER_LOCAL_EDGE_ROWS). The labelled nodes are the sources; each
    round a node takes its most frequent arriving label, ties to the
    lowest, and a node nothing arrives at resets to its own id."""
    import numpy as np

    n = len(g.nodes)
    # int32 arithmetic whenever the keys below fit: half-size temporaries
    dt = np.int32 if (len(g.src) + n) * n < 2**31 else np.int64
    own = np.arange(n, dtype=dt)
    lab = own
    for _ in range(iters):
        # (node, label) arrivals as sorted keys node * n + label, counted
        # in place (np.unique would copy the edge-sized key array)
        key = g.dst.astype(dt)
        key *= n
        key += lab[g.src]
        key.sort()
        new = np.ones(len(key), dtype=bool)
        np.not_equal(key[1:], key[:-1], out=new[1:])
        starts = np.flatnonzero(new)
        cnt = np.diff(starts, append=len(key)).astype(dt)
        key = key[starts]
        del new, starts
        # per node, the highest count, then the lowest label, wins:
        # score = count * n + (n - 1 - label) < (edges + n) * n
        best = np.full(n, -1, dtype=dt)
        np.maximum.at(best, key // n, cnt * n + (n - 1 - key % n))
        lab = np.where(best < 0, own, n - 1 - best % n)
    srcs = np.unique(g.src)
    return _local_out(
        spark,
        ("node", g.ftype, g.nodes[srcs]),
        ("community", g.ftype, g.nodes[lab[srcs]]),
    )


def label_propagation_mode(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """Synchronous mode-based Label Propagation (community detection) —
    the FREQUENCY fixpoint next to connected_components (min-label),
    pagerank_integer (numeric mass), bfs_min_hops (reachability) and
    kcore_peel (monotone peeling): after ``iters`` rounds each node holds
    the most frequent label among its in-neighbors, ties broken to the
    LOWEST label (Raghavan et al. 2007's LPA, synchronized and made
    deterministic so a fixed-round unrolled SQL oracle replays it
    bit-exactly; classic async LPA visits nodes in random order, which no
    cross-engine hash could ever match).

    Labels start as the node id. Per round: one shuffle join of the
    (static, caller-symmetrized) edge relation with the label vector on
    ``src``, one (node, label) count aggregate with map-side partials,
    and one ``max_by``-shaped argmax per node — ``max(struct(cnt,
    -label))`` needs no window, so the round is two keyed exchanges with
    no per-node sort. Isolated nodes (no in-edges) keep their own label
    via a left join against the node universe. ``localCheckpoint``
    truncates lineage per round, same discipline as the other fixpoints.

    Memory discipline, measured on the generated sf10 trading graph
    (117M edges, 16 GB local box):
      - The static edge relation persists DISK_ONLY, not in-memory: an
        in-memory checkpoint pins gigabytes inside the protected
        storage fraction, and the round's wide joins/aggregates then
        die with UNABLE_TO_ACQUIRE_MEMORY. Edges are scanned once per
        round sequentially from local disk — cheap — while execution
        memory stays whole. (Lineage above the edges is one join +
        distinct, so persist suffices; only the iteratively GROWING
        label vector needs true lineage truncation, and it is small —
        one row per node.)
      - Exchange widths are SIZE-AWARE, not conf-fixed: the (node,
        label) aggregate's pre-partial cardinality is the edge count,
        so at 32 shuffle partitions sf10 means ~3.7M-row hash maps in
        every concurrent task. The edge count comes from the persist's
        materializing count() and sizes explicit repartitions to ~1M
        rows/task; the groupBys reuse those exchanges (matching hash
        keys), so the number of exchanges per round is unchanged —
        only their width scales with the data.
    """
    sc = edges.sparkSession.sparkContext
    g, e, n_edges = _gated_edges(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if g is not None:
        return _lpa_local(edges.sparkSession, g, iters)
    parts = _exchange_width(sc, n_edges)
    # Re-persist the static edge relation ALREADY hash-partitioned by src
    # (in-memory when the now-known count is small): every round's
    # label join then needs no edge-side exchange — only the node-sized
    # label vector moves. One extra materialization upfront buys `iters`
    # saved shuffles of the edge set.
    # known_rows (r14): the repartition preserves the counted row count,
    # so ep's materializing count job is skipped — the nodes checkpoint
    # below is the first consumer and materializes the blocks; e stays
    # persisted until that job has run.
    ep, _ = _edges_on_disk(
        e.repartition(parts, "src"), expected_rows=n_edges, known_rows=n_edges
    )
    nodes = ep.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    e.unpersist()
    lab = nodes.select("node", F.col("node").alias("lab"))
    for i in range(iters):
        arriving = (
            ep.join(lab.withColumnRenamed("node", "src"), "src")
            .repartition(parts, "dst", "lab")
            .groupBy(F.col("dst").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (count desc, label asc): max of (cnt, -lab) structs
        winner = (
            arriving.repartition(parts, "node")
            .groupBy("node")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("lab")).alias("neg"))).alias("w"))
            .select("node", (-F.col("w.neg")).alias("lab"))
        )
        # Label lineage is LINEAR (each lab feeds exactly one consumer:
        # the next round's message join; the checkpointed `nodes` spine is
        # the only twice-referenced relation) — so, as in pagerank_integer
        # since r13, no per-round checkpoint: all `iters` rounds chain
        # into one job, terminally checkpointed below so the persisted
        # edge blocks can be released before the caller's action.
        lab = nodes.join(winner, "node", "left").select(
            "node", F.coalesce(F.col("lab"), F.col("node")).alias("lab")
        )
        # Truncate every 8 rounds for caller-chosen large iters (ADVICE
        # r13: lineage-chaining is free at the registered iters=2 but the
        # plan grows per round); no extra job at small iters.
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            lab = lab.localCheckpoint(eager=True)
    lab = lab.localCheckpoint(eager=True)
    ep.unpersist()
    return lab.select("node", F.col("lab").alias("community"))


def _delta_relax(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    value: str,
    cand: Column,
    usable: Column | None = None,
) -> DataFrame:
    """The bounded delta-relaxation loop shared by bellman_ford_bounded and
    temporal_reachability: (node, ``value``) = the minimum over paths of at
    most ``rounds`` edges from the seed set, seeds at 0.

    ``edges`` is the (src, dst, ...) relation, persisted DISK_ONLY for the
    loop (_edges_on_disk memory discipline). Each round joins the frontier
    (nodes whose ``value`` improved last round) with the edges on src,
    keeps the ``usable`` hops, takes the minimum ``cand`` per dst and keeps
    the strict improvements. The relax rule must be monotone (a smaller
    value at u never removes a candidate at its successors), so after k
    rounds every value is exact over <= k-edge paths. Per round: one keyed
    frontier-x-edges shuffle join + a min aggregate + a left join against
    the current values. Values change in place (unlike BFS's append-only
    layers), so the state relation is re-aggregated and lineage-truncated
    per round — two bounded materializations per round, acceptable at a
    contract-bounded depth.
    """
    e, _ = _edges_on_disk(edges)
    state = seeds.select(
        F.col("node").cast("long").alias("node"),
        F.lit(0).cast("long").alias(value),
    ).localCheckpoint(eager=True)
    frontier = state
    for _k in range(rounds):
        hop = frontier.withColumnRenamed("node", "src").join(e, "src")
        if usable is not None:
            hop = hop.filter(usable)
        best = hop.groupBy(F.col("dst").alias("node")).agg(F.min(cand).alias("cand"))
        # convergence probe observed on the checkpoint job (r14) — no
        # separate isEmpty pass
        improved, n_improved = checkpoint_counted(
            best.join(state, "node", "left")
            .filter(F.col(value).isNull() | (F.col("cand") < F.col(value)))
            .select("node", F.col("cand").alias(value))
        )
        if n_improved == 0:
            break
        state = (
            state.unionByName(improved)
            .groupBy("node")
            .agg(F.min(value).alias(value))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist()
    return state


def bellman_ford_bounded(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths, bounded to ``rounds`` edges:
    (node, cost) = the minimum total edge weight over any path of at most
    ``rounds`` edges from the seed set (integer weights).

    Synchronous Bellman-Ford with delta propagation (``_delta_relax``) —
    the weighted sibling of ``bfs_min_hops``: each round relaxes ONLY the
    nodes whose distance improved last round (a j-edge path improves its
    endpoint no later than round j), so the join is driven by the
    improving wavefront, never the full node set. Integer set/min algebra
    throughout: a DuckDB recursive CTE replays the same fixpoint
    bit-for-bit, so the registered query is hash-checkable.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(w).cast("long").alias("w"),
    )
    return _delta_relax(e, seeds, rounds, "cost", F.col("cost") + F.col("w"))


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    t: str = "t",
) -> DataFrame:
    """Time-respecting reachability (temporal-network min arrival): for
    every node within ``rounds`` edges of the seed set, the EARLIEST
    arrival time over paths whose edge timestamps never decrease — an
    edge (u, v, t) is usable only if t >= arrival(u). Seeds arrive at 0.

    ``bellman_ford_bounded``'s delta-relaxation loop with the relax rule
    swapped: cand_arrival(v) = min over usable edges of t. The rule is
    still monotone (an EARLIER arrival at u enables a SUPERSET of outgoing
    edges), so delta propagation — only nodes whose arrival improved drive
    the next round — remains exact for <= rounds edges. Integer timestamps
    throughout; a DuckDB recursive CTE replays the fixpoint bit-for-bit.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(t).cast("long").alias("t"),
    )
    return _delta_relax(
        e, seeds, rounds, "arrival", F.col("t"), usable=F.col("t") >= F.col("arrival")
    )


def _ppr_step(
    ed: DataFrame,
    r: DataFrame,
    seed_base: DataFrame,
    width: int,
    damping_pct: int,
) -> DataFrame:
    """One personalized-PageRank iteration, pre-checkpoint (split out so
    tests can plan-assert it — the post-checkpoint lineage is flattened).

    The seed restart used to be ``contrib FULL OUTER broadcast(seeds)``;
    a broadcast hint on a full outer join is UNSUPPORTED — Spark logs a
    HintErrorLogger WARN per iteration and silently sort-merges, shuffling
    the frontier-sized contrib relation every round (round-8 verdict item
    4). Restructured as three joins that all keep the KB-sized seed side
    broadcast and contrib where it is:

      reached   = contrib LEFT JOIN broadcast(seed_base)   -- restart mass
                  for seeds that also received walk mass
      unreached = seed_base ANTI broadcast(contrib SEMI broadcast(seeds))
                  -- seeds with zero in-contributions regain base mass
      next r    = reached UNION ALL unreached

    contrib is localCheckpoint-ed eagerly: both branches read it, and the
    checkpoint bounds the cost to one materialization of the (sparse,
    frontier-sized) aggregated vector — the same per-iteration
    materialization the loop already paid on ``r``.
    """
    contrib = (
        ed.join(r.withColumnRenamed("node", "src"), "src")
        .select("dst", F.expr("r div outdeg").alias("c"))
        .repartition(width, "dst")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("c").alias("s"))
        .localCheckpoint(eager=True)
    )
    damped = F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
    reached = contrib.join(F.broadcast(seed_base), "node", "left").select(
        "node",
        (F.coalesce(F.col("b"), F.lit(0)) + damped).cast("long").alias("r"),
    )
    reached_seed_ids = contrib.join(
        F.broadcast(seed_base.select("node")), "node", "left_semi"
    ).select("node")
    unreached = seed_base.join(
        F.broadcast(reached_seed_ids), "node", "left_anti"
    ).select("node", F.col("b").cast("long").alias("r"))
    return reached.unionByName(unreached)


def _ppr_local(
    spark, g: _LocalGraph, seeds: DataFrame, iters: int, damping_pct: int
) -> DataFrame:
    """pagerank_personalized_integer's rounds on the driver (see
    _DRIVER_LOCAL_EDGE_ROWS). ``seeds`` is the one-column seed relation;
    the seeds that are sources start with the mass and take the restart
    mass back every round, reached or not; other nodes hold a rank row
    only in a round some contribution reaches them."""
    import numpy as np

    ids = seeds.toArrow().column(0).drop_null().to_numpy()
    outdeg = np.bincount(g.src, minlength=len(g.nodes))
    is_seed = np.zeros(len(g.nodes), dtype=bool)
    if len(g.nodes):
        pos = np.minimum(np.searchsorted(g.nodes, ids), len(g.nodes) - 1)
        is_seed[pos[g.nodes[pos] == ids]] = True
    is_seed &= outdeg > 0
    n_seeds = int(np.count_nonzero(is_seed))
    if n_seeds == 0:
        raise ValueError("personalized PageRank needs >= 1 seed node")
    base = (100 - damping_pct) * 1_000_000 // (100 * n_seeds)
    restart = np.where(is_seed, base, 0).astype(np.int64)
    has = is_seed
    r = np.full(len(g.nodes), 1_000_000 // n_seeds, dtype=np.int64)
    share_div = np.maximum(outdeg, 1)
    for _ in range(iters):
        s, reached = _rank_round(g, r, has, share_div)
        has = reached | is_seed
        r = restart + damping_pct * s // 100
    return _local_out(
        spark,
        ("node", g.ftype, g.nodes[has]),
        ("rank_micro", T.LongType(), r[has]),
    )


def pagerank_personalized_integer(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized (random-walk-with-restart) integer PageRank: the
    restart mass teleports to the SEED SET instead of uniformly — the
    locality/recommendation scorer ("importance relative to these
    nodes") next to pagerank_integer's global importance.

    Same float-free micro-unit contract as pagerank_integer (positive
    integer div only, every iteration bit-replayable in SQL), with two
    deliberate sparsity semantics: the initial vector puts 1e6 div |S|
    on each seed and nothing anywhere else, and a node only OWNS a rank
    row once walk mass has reached it (the per-iteration contribution
    join is sparse — distant nodes are implicit zeros, which is also
    what keeps early iterations frontier-sized at 100 TB instead of
    node-count-sized). Each iteration: one join of the static annotated
    edge relation against the CURRENT (sparse) rank vector, one grouped
    sum, then the seed-restart union of ``_ppr_step`` (left/semi/anti
    joins, every one with the KB-sized seed side broadcast — seeds must
    regain restart mass even with zero in-contributions, and a broadcast
    full-outer join is not a plan Spark supports).

    ``seeds``: one column ``seed_col`` of node ids (bounded by contract
    — it is collected-size-class like the k-means seed set and
    broadcast).
    """
    sc = edges.sparkSession.sparkContext
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sd = seeds.select(F.col(seed_col).alias("node"))
    # the local arm keeps the node type only when seeds share it (the
    # distributed arm's union would widen it)
    if sd.schema[0].dataType == e.schema[0].dataType:
        g, e, n_edges = _gated_edges(e)
        if g is not None:
            return _ppr_local(edges.sparkSession, g, sd, iters, damping_pct)
    else:
        e, n_edges = _edges_on_disk(e)
    width = _exchange_width(sc, n_edges)
    deg = (
        e.repartition(width, "src")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK_DESER)
    )
    sd = sd.distinct()
    # seeds outside the graph carry restart mass but never emit (no
    # out-degree row) — keep only real nodes so |S| matches the oracle's
    sd = sd.join(
        deg.select(F.col("src").alias("node")), "node", "left_semi"
    ).persist(StorageLevel.MEMORY_AND_DISK_DESER)
    n_seeds = sd.count()  # bounded scalar
    if n_seeds == 0:
        raise ValueError("personalized PageRank needs >= 1 seed node")
    ed, _ = _edges_on_disk(
        e.repartition(width, "src").join(deg, "src"), expected_rows=n_edges
    )
    e.unpersist()
    deg.unpersist()
    base = (100 - damping_pct) * 1_000_000 // (100 * n_seeds)
    seed_base = sd.select(
        "node", F.lit(base).cast("long").alias("b")
    )
    r = sd.select(
        "node", F.lit(1_000_000 // n_seeds).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        r = _ppr_step(ed, r, seed_base, width, damping_pct).localCheckpoint(
            eager=True
        )
    ed.unpersist()
    sd.unpersist()
    return r.select("node", F.col("r").alias("rank_micro"))


def _hits_local(spark, g: _LocalGraph, iters: int) -> DataFrame:
    """hits_integer's rounds on the driver (see _DRIVER_LOCAL_EDGE_ROWS):
    ``g.src`` are the hubs, ``g.dst`` the authorities, and each side's raw
    sums divide by greatest(sum div 1e6, 1)."""
    import numpy as np

    def normalized(raw):
        return raw // max(int(raw.sum()) // 1_000_000, 1)

    h = np.full(len(g.nodes), 1_000_000, dtype=np.int64)
    a = np.zeros(len(g.nodes), dtype=np.int64)
    for _ in range(iters):
        raw = np.zeros(len(g.nodes), dtype=np.int64)
        np.add.at(raw, g.dst, h[g.src])
        a = normalized(raw)
        raw = np.zeros(len(g.nodes), dtype=np.int64)
        np.add.at(raw, g.src, a[g.dst])
        h = normalized(raw)
    hub = np.unique(g.src)
    auth = np.unique(g.dst)
    flag = np.repeat(np.int32([0, 1]), [len(hub), len(auth)])
    ids = g.nodes[np.concatenate([hub, auth])].astype(np.int64)
    return _local_out(
        spark,
        ("is_supplier", T.IntegerType(), flag),
        ("entity_id", T.LongType(), ids),
        ("score_micro", T.LongType(), np.concatenate([h[hub], a[auth]])),
    )


def hits_integer(
    pairs: DataFrame,
    hub_col: str = "c",
    auth_col: str = "s",
    iters: int = 2,
) -> DataFrame:
    """Deterministic integer HITS (Kleinberg 1999) over a bipartite
    hub -> authority pair relation: hubs accumulate the authority scores
    they point at, authorities the hub scores pointing at them, each side
    re-normalized to ~1e6 total mass per round.

    Float-free like pagerank_integer: scores live in integer micro-units;
    the per-round normalization is ``score div greatest(S div 1e6, 1)``
    with S the side's raw sum — dividing by the PRE-scaled scalar instead
    of multiplying by 1e6 first keeps every intermediate below 2^63 even
    at billion-node scale (raw sums reach ~1e15 there; a *1e6 before the
    div would overflow). Positive-int div only, so a SQL oracle replays
    all rounds bit-exactly. Each round is two shuffle joins of the pair
    relation against the node-sized score vectors plus two grouped sums
    and two 1-row scalar aggregates (broadcast crossJoin attach, the
    repo's scalar idiom).

    The pair relation is materialized ONCE via _edges_on_disk before the
    loop: every round references it twice and the normalization scalars
    reference each round's raw sums again — unmaterialized, a derived
    pair source (orders x lineitem + distinct) re-executed ~10x across
    the 2 unrolled rounds (measured 560 s at sf1.0; 13 s after). The
    node-sized raw-sum relations persist in memory per round for the
    same double-consumption (scalar + normalize join) and unpersist as
    the next round lands.

    Returns (is_supplier, entity_id, score_micro): hubs with flag 0 and
    their final hub score, authorities with flag 1 and their final
    authority score.
    """
    g, p, _ = _gated_edges(
        pairs.select(F.col(hub_col).alias("c"), F.col(auth_col).alias("s"))
    )
    if g is not None:
        return _hits_local(pairs.sparkSession, g, iters)
    h = p.select("c").distinct().withColumn(
        "h", F.lit(1_000_000).cast("long")
    )
    a = None
    to_unpersist: list[DataFrame] = []
    for _ in range(iters):
        a_raw = (
            p.join(h, "c")
            .groupBy("s")
            .agg(F.sum("h").alias("raw"))
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        a_div = a_raw.agg(
            F.greatest(
                F.expr("sum(raw) div 1000000"), F.lit(1).cast("long")
            ).alias("d")
        )
        a = a_raw.crossJoin(F.broadcast(a_div)).select(
            "s", F.expr("raw div d").cast("long").alias("a")
        )
        h_raw = (
            p.join(a, "s")
            .groupBy("c")
            .agg(F.sum("a").alias("raw"))
            .persist(StorageLevel.MEMORY_AND_DISK_DESER)
        )
        h_div = h_raw.agg(
            F.greatest(
                F.expr("sum(raw) div 1000000"), F.lit(1).cast("long")
            ).alias("d")
        )
        h = h_raw.crossJoin(F.broadcast(h_div)).select(
            "c", F.expr("raw div d").cast("long").alias("h")
        )
        to_unpersist.extend([a_raw, h_raw])
    # final scores still read the last round's cached raw relations; force
    # them once, then release every intermediate plus the pair relation
    hubs_mat = h.localCheckpoint(eager=True)
    auths_mat = a.localCheckpoint(eager=True)
    for df_ in to_unpersist:
        df_.unpersist()
    p.unpersist()
    h, a = hubs_mat, auths_mat
    hubs = h.select(
        F.lit(0).cast("int").alias("is_supplier"),
        F.col("c").cast("long").alias("entity_id"),
        F.col("h").cast("long").alias("score_micro"),
    )
    auths = a.select(
        F.lit(1).cast("int").alias("is_supplier"),
        F.col("s").cast("long").alias("entity_id"),
        F.col("a").cast("long").alias("score_micro"),
    )
    return hubs.unionByName(auths)
