"""Query registry: name -> (Spark callable, DuckDB oracle SQL).

Every implemented operator from SURVEY.md §2 is exposed here as a named query
over the driver testdata so the driver's correctness gate (Spark vs DuckDB,
row-count + schema + order-insensitive value hash) covers it. Column aliases
are kept IDENTICAL between the Spark plan and the oracle SQL.

Cross-engine determinism rules used throughout:
  - raw values (min/max/count and projected columns) are emitted untouched;
  - derived floating-point values (sums/avgs/corr/cosine) are rounded inside
    BOTH queries so bit-level accumulation-order differences cannot leak into
    the hash;
  - timestamps are emitted as microseconds-since-epoch (unix_micros/epoch_us)
    to avoid engine-specific timestamp rendering;
  - no bare LIMIT on ties — top-k always breaks ties on a unique key.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # None => driver records rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Every registered query, name -> spec, in registration order."""
    # Import side-effect modules that populate the registry.
    from . import relational  # noqa: F401
    from . import pipeline_txt  # noqa: F401
    from . import pipeline_doc  # noqa: F401
    from . import pipeline_evt  # noqa: F401
    from . import pipeline_stats  # noqa: F401
    from . import pipeline_stats2  # noqa: F401
    from . import pipeline_dq  # noqa: F401
    from . import pipeline_graph  # noqa: F401
    from . import pipeline_sim  # noqa: F401
    from . import pipeline_ml  # noqa: F401
    from . import domain  # noqa: F401
    from . import reporting  # noqa: F401
    from . import tpch_suite  # noqa: F401
    from . import format_ops  # noqa: F401

    return dict(_REGISTRY)
