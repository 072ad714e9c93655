"""Skew handling: salted two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) covers joins, but a
grouped aggregation with a hot key still funnels that key's entire
partition through one reducer. Salting splits each group into
``n_salts`` sub-groups for the partial phase, then combines the partials —
the hot key's work spreads across ``n_salts`` reducers at the cost of one
extra (tiny, one row per group per salt) shuffle.

Only algebraic aggregates decompose this way; the supported set maps each
output column to (partial_expr, combine_fn):

    sum   -> sum   then sum
    count -> count then sum
    max   -> max   then max
    min   -> min   then min
    avg   -> (sum, count) partials then sum/sum — expressed by requesting
             sum + count and dividing in a final select (caller-side)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PARTIAL = {
    "sum": F.sum,
    "count": lambda c: F.count(F.lit(1)) if c == "*" else F.count(c),
    "max": F.max,
    "min": F.min,
}

_COMBINE = {"sum": F.sum, "count": F.sum, "max": F.max, "min": F.min}


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output alias -> (agg_name, input_col), e.g.
    ``{"n": ("count", "*"), "total": ("sum", "value")}``. Results are
    identical to ``df.groupBy(group_cols).agg(...)`` for the supported
    algebraic aggregates (asserted in tests on skewed data).
    """
    for alias, (name, _) in aggs.items():
        if name not in _PARTIAL:
            raise ValueError(f"{alias}: '{name}' is not an algebraic aggregate")

    salted = df.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    partial = salted.groupBy(*group_cols, "_salt").agg(
        *[_PARTIAL[name](col).alias(alias) for alias, (name, col) in aggs.items()]
    )
    return partial.groupBy(*group_cols).agg(
        *[_COMBINE[name](alias).alias(alias) for alias, (name, _) in aggs.items()]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salt-and-replicate equi-join for hot keys.

    When BOTH sides are too large to broadcast and one key dominates (a
    celebrity user, an empty-string URL), a plain shuffle join funnels the
    hot key's rows through one task. Salting splits the big side's rows
    across ``n_salts`` sub-partitions (salt derived from a row id, so the
    SAME key spreads) and replicates each small-side row once per salt via
    an exploded sequence; joining on (key, salt) then spreads the hot key
    over ``n_salts`` tasks. Cost: the small side shuffles n_salts x its
    size — choose the SMALLER input as ``dim``. Results are identical to
    ``fact.join(dim, on, how)`` (oracle-checked); AQE's skew splitting
    (session.py) is the runtime fallback, this is the explicit form for
    when a pipeline KNOWS its skew.
    """
    keys = list(on)
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).cast("int")
    )
    replicated = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(replicated, keys + ["_salt"], how).drop("_salt")
