"""Explicit StructTypes for every table.

The reference infers all schemas via ``pd.read_csv`` (SURVEY §1, reference
optimal_pursuit.py:132-135,149); at 100 TB schema inference is both a
correctness hazard and a full extra scan, so every source here declares its
schema up front. Tracking columns follow reference optimal_pursuit.py usage
(x/y/s/a/dis/o/dir read at :195-196,211-214,274,540-541).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference (NFL Big Data Bowl) data model — FIXTURES.md §A
# ---------------------------------------------------------------------------

GAMES = T.StructType(
    [
        T.StructField("gameId", T.LongType(), False),
        T.StructField("season", T.IntegerType(), True),
        T.StructField("week", T.IntegerType(), False),
    ]
)

PLAYERS = T.StructType(
    [
        T.StructField("nflId", T.LongType(), False),
        T.StructField("displayName", T.StringType(), True),
        T.StructField("position", T.StringType(), True),
    ]
)

PLAYS = T.StructType(
    [
        T.StructField("gameId", T.LongType(), False),
        T.StructField("playId", T.LongType(), False),
        T.StructField("ballCarrierId", T.LongType(), True),
        T.StructField("possessionTeam", T.StringType(), True),
        T.StructField("defensiveTeam", T.StringType(), True),
        T.StructField("yardlineNumber", T.IntegerType(), True),
        T.StructField("yardsToGo", T.IntegerType(), True),
        T.StructField("yardlineSide", T.StringType(), True),
        T.StructField("playResult", T.IntegerType(), True),
        T.StructField("prePenaltyPlayResult", T.IntegerType(), True),
        T.StructField("playNullifiedByPenalty", T.StringType(), True),
    ]
)

TACKLES = T.StructType(
    [
        T.StructField("gameId", T.LongType(), False),
        T.StructField("playId", T.LongType(), False),
        T.StructField("nflId", T.LongType(), False),
    ]
)

# 10 Hz time-series fact table. nflId is NULL on football rows (club='football').
TRACKING = T.StructType(
    [
        T.StructField("gameId", T.LongType(), False),
        T.StructField("playId", T.LongType(), False),
        T.StructField("nflId", T.LongType(), True),
        T.StructField("frameId", T.IntegerType(), False),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("club", T.StringType(), True),
        T.StructField("playDirection", T.StringType(), True),
        T.StructField("event", T.StringType(), True),
        T.StructField("x", T.DoubleType(), True),
        T.StructField("y", T.DoubleType(), True),
        T.StructField("s", T.DoubleType(), True),
        T.StructField("a", T.DoubleType(), True),
        T.StructField("dis", T.DoubleType(), True),
        T.StructField("o", T.DoubleType(), True),
        T.StructField("dir", T.DoubleType(), True),
    ]
)

# Event vocabulary (reference optimal_pursuit.py:113-119).
START_EVENTS = ["handoff", "pass_outcome_caught", "run", "snap_direct"]
FALLBACK_START_EVENT = "ball_snap"
STOP_EVENTS = [
    "tackle",
    "out_of_bounds",
    "fumble",
    "qb_slide",
    "touchdown",
    "safety",
    "fumble_defense_recovered",
]

# Position -> physical-limit lookup (reference optimal_pursuit.py:458-477).
# No default row: unknown positions must surface as error-status rows, matching
# the reference's fail-on-unknown semantics (its if/elif chain has no else).
POSITION_LIMITS = [
    # (position, V_max_med, V_max_max, A_max_med, A_max_max)
    ("CB", 5.6, 10.9, 4.2, 9.1),
    ("FS", 5.6, 10.9, 4.2, 9.1),
    ("SS", 5.6, 10.9, 4.2, 9.1),
    ("DB", 5.6, 10.9, 4.2, 9.1),
    ("DE", 3.7, 9.7, 2.8, 6.2),
    ("MLB", 5.0, 10.7, 3.9, 9.4),
    ("OLB", 5.0, 10.7, 3.9, 9.4),
    ("ILB", 5.0, 10.7, 3.9, 9.4),
    ("DT", 3.2, 8.8, 2.4, 7.1),
    ("NT", 3.2, 8.8, 2.4, 7.1),
]

POSITION_LIMITS_SCHEMA = T.StructType(
    [
        T.StructField("position", T.StringType(), False),
        T.StructField("V_max_med", T.DoubleType(), False),
        T.StructField("V_max_max", T.DoubleType(), False),
        T.StructField("A_max_med", T.DoubleType(), False),
        T.StructField("A_max_max", T.DoubleType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata star schema (TESTDATA.md) — read-only parquet
# ---------------------------------------------------------------------------


def _nullable(**cols: T.DataType) -> T.StructType:
    """A parquet table's schema: every column nullable, as a file scan
    reports it whatever the schema it is given."""
    return T.StructType([T.StructField(n, t, True) for n, t in cols.items()])


_INT, _LONG, _DOUBLE, _STR, _TS = (
    T.IntegerType(),
    T.LongType(),
    T.DoubleType(),
    T.StringType(),
    T.TimestampType(),
)

# Timestamps are declared TimestampType (instant semantics). That reads the
# single-file trees' TIMESTAMP_NTZ columns (pyarrow ``timestamp[us]``
# without a zone) and the LTZ columns of Spark-written copies alike, to the
# same values under the pinned UTC session zone.
TESTDATA_TABLES = {
    "region": _nullable(r_regionkey=_INT, r_name=_STR),
    "nation": _nullable(n_nationkey=_INT, n_name=_STR, n_regionkey=_INT),
    "customer": _nullable(
        c_custkey=_LONG, c_name=_STR, c_nationkey=_INT, c_acctbal=_DOUBLE,
        c_mktsegment=_STR,
    ),
    "supplier": _nullable(
        s_suppkey=_LONG, s_name=_STR, s_nationkey=_INT, s_acctbal=_DOUBLE
    ),
    "part": _nullable(
        p_partkey=_LONG, p_name=_STR, p_brand=_STR, p_type=_STR, p_size=_INT,
        p_retailprice=_DOUBLE,
    ),
    "orders": _nullable(
        o_orderkey=_LONG, o_custkey=_LONG, o_orderstatus=_STR,
        o_totalprice=_DOUBLE, o_orderdate=_TS, o_orderpriority=_STR,
    ),
    "lineitem": _nullable(
        l_orderkey=_LONG, l_partkey=_LONG, l_suppkey=_LONG, l_linenumber=_INT,
        l_quantity=_DOUBLE, l_extendedprice=_DOUBLE, l_discount=_DOUBLE,
        l_tax=_DOUBLE, l_returnflag=_STR, l_linestatus=_STR, l_shipdate=_TS,
    ),
    "events": _nullable(
        event_id=_LONG, ts=_TS, user_id=_LONG, event_type=_STR, value=_DOUBLE,
        props=_STR,
    ),
    "documents": _nullable(
        doc_id=_LONG, text=_STR, lang=_STR, source=_STR, n_chars=_LONG
    ),
    "embeddings": _nullable(
        vec_id=_LONG, embedding=T.ArrayType(T.FloatType(), True), label=_INT
    ),
}
