"""Arrow-backed local relations (r14 optimization, guide §4).

``spark.createDataFrame(list_of_tuples, schema)`` parks the rows in a
PICKLED RDD: the physical plan is ``Scan ExistingRDD`` and every action
that touches the relation pays a Python-worker round trip to deserialize
the rows — measured at 0.1-3 s per evaluation on this harness depending
on row count and box load. For driver-built dims and result tables that
is pure fixed cost on EVERY consumer action.

``local_df`` builds a ``pyarrow.Table`` with the field types taken
EXACTLY from the Spark schema and hands that to ``createDataFrame``,
which embeds the values as a ``LocalTableScan`` — pure JVM at evaluation
time, no Python boundary, byte-identical values (longs/doubles/strings
round-trip exactly through Arrow; fidelity asserted against the tuple
path in tests/test_round14_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame(rows, schema)`` with a LocalTableScan plan.

    ``rows`` is a list of tuples (or anything ``zip(*rows)`` transposes);
    ``schema`` is a StructType or DDL string. Supported field types are
    whatever ``pyspark.sql.pandas.types.to_arrow_schema`` maps — all the
    primitive and array types this repo's local relations use."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    cols = [list(c) for c in zip(*rows)] if rows else [[] for _ in schema.fields]
    return local_columns_df(spark, cols, schema)


def local_columns_df(spark: SparkSession, cols, schema: T.StructType) -> DataFrame:
    """``local_df`` from one column per field: each a list or a numpy array
    (numpy columns convert to Arrow without a per-row Python object)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    tbl = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(tbl, schema)
