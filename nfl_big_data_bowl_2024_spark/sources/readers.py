"""Sources (SURVEY §2.1 S1/S2).

The reference re-reads every CSV from scratch on each of ~12k play iterations
(reference optimal_pursuit.py:132-135,149 inside the loops of
calculate_max_params.py:28 / calculate_YAP.py:28) and hand-picks the weekly
tracking file as manual partition pruning. Here every table is read ONCE with
an explicit schema, so a read launches no schema-inference job. The one
exception is the driver testdata's ``events`` table, whose ``ts`` may be
NANOS or µs and so keeps the inferred read (``read_testdata_table``).
Tracking is a Hive-partitioned dataset (``week=N/``) so Catalyst prunes
partitions from ``WHERE week = N`` automatically, and gameId/playId
predicates push down to parquet row groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import schemas

_CSV_SCHEMAS = {
    "games": schemas.GAMES,
    "players": schemas.PLAYERS,
    "plays": schemas.PLAYS,
    "tackles": schemas.TACKLES,
    "tracking": schemas.TRACKING,
}


def read_csv_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    """CSV scan with a declared schema (S1). Never infers: inference is an
    extra full scan and silently drifts types at scale."""
    schema = _CSV_SCHEMAS[name]
    return spark.read.schema(schema).csv(path, header=True)


def read_csv_with_corrupt_capture(
    spark: SparkSession, name: str, path: str
) -> tuple[DataFrame, DataFrame]:
    """S1 + S4 at the read boundary: PERMISSIVE CSV parse where rows that
    fail the declared schema land in a ``_corrupt_record`` column instead of
    killing the scan (the reference's blanket try/except, as data, one stage
    earlier). Returns (clean_rows, corrupt_rows) — two filters over ONE scan;
    at 100 TB a handful of bad rows must never fail a 1000-executor job.
    """
    schema = T.StructType(
        _CSV_SCHEMAS[name].fields
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(path, header=True)
    # cache(): Spark refuses queries over a RAW scan whose referenced columns
    # prune down to only the internal corrupt column
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN — e.g. corrupt.count()); caching the
    # parsed scan is the documented fix and also means the clean/corrupt
    # split reads the file once, not twice.
    df = df.cache()
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.filter(F.col("_corrupt_record").isNotNull())
    return clean, corrupt


def read_parquet_table(spark: SparkSession, name: str, path: str) -> DataFrame:
    """Parquet copy of a reference table with its declared schema: the
    same never-infer rule as ``read_csv_table``."""
    return spark.read.schema(_CSV_SCHEMAS[name]).parquet(path)


def read_testdata_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-testdata parquet table with its declared schema
    (``schemas.TESTDATA_TABLES``), so building a plan over it launches no
    schema-inference job.

    The declared ``TimestampType`` columns read both encodings the trees
    hold: the single-file trees' TIMESTAMP_NTZ columns (e.g.
    ``orders.o_orderdate``) and the LTZ columns of the Spark-written
    ``scripts/gen_scale_data.py`` copies. The session timezone is pinned
    UTC everywhere, so both read as the same instants.

    ``events`` alone keeps the inferred read. Its ``ts`` may be
    TIMESTAMP(NANOS), which Spark 4 refuses by default
    (PARQUET_TYPE_ILLEGAL), and no declared type reads NANOS and µs alike:
    a ``TimestampType`` read fails on NANOS, and a ``LongType`` read gives
    nanoseconds for one and microseconds for the other. So ``events`` is
    read with ``spark.sql.legacy.parquet.nanosAsLong`` (set on the session
    here because the driver runs queries on its OWN SparkSession) and
    normalized by its inferred type: a NANOS long converts exactly with
    integer ``div 1000`` (the generated values are µs-aligned; DuckDB's
    view of the same file is a µs TIMESTAMP, so the two engines agree
    bit-for-bit on epoch_us), and an NTZ ``ts`` casts to TIMESTAMP,
    instant-preserving under UTC (``unix_micros`` rejects NTZ).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.schema(schemas.TESTDATA_TABLES[name]).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    ts = df.schema["ts"].dataType
    if isinstance(ts, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_tracking(spark: SparkSession, path: str, weeks: list[int] | None = None) -> DataFrame:
    """Partitioned tracking scan (S2).

    ``path`` is a directory laid out ``tracking/week=N/*.parquet``. Week
    filtering is expressed as a normal predicate so Catalyst does the
    partition pruning the reference hand-rolled via filename selection
    (reference optimal_pursuit.py:149).
    """
    df = spark.read.schema(
        T.StructType(schemas.TRACKING.fields + [T.StructField("week", T.IntegerType(), True)])
    ).parquet(path)
    if weeks is not None:
        df = df.filter(df["week"].isin(weeks))
    return df


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's star-schema testdata (TESTDATA.md) as DataFrames."""
    return {
        name: read_testdata_table(spark, sf_dir, name)
        for name in schemas.TESTDATA_TABLES
    }


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-Lines scan with a declared schema — the LLM-corpus interchange
    format. Never infers (inference is a full extra pass over 100 TB and
    types drift per file); unlisted keys are simply not parsed, missing keys
    are NULL, and hive-style partition directories (lang=en/...) surface as
    partition columns that prune from WHERE clauses."""
    return spark.read.schema(schema).json(path)


def parquet_footer_stats(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """COUNT(*) + per-column MIN/MAX answered from parquet FOOTER
    statistics — no row data is read.

    At 100 TB this is the difference between a metadata pass (one footer
    read per file) and a full scan for the dataset-profiling queries every
    pipeline runs first ("how many rows, what key range"). Uses the DSv2
    parquet reader's aggregate pushdown (`PushedAggregation` in the plan,
    asserted in tests/test_plan_audit.py), scoped to THIS call via a
    dedicated ``spark.newSession()`` — same SparkContext, ISOLATED
    SQLConf — so the session-wide default stays on the V1 reader (V1 is
    what supports bucketed tables and the plan shapes the audits pin),
    and no concurrently-planned query or streaming micro-batch can ever
    observe the V2 confs. The caller's RUNTIME confs (session timezone,
    parquet rebase modes, ...) are copied onto the scoped session first,
    so the footer scan behaves exactly like a read in the caller's
    session plus the two V2 overrides (mutating the shared session's conf around the
    collect, the previous implementation, was a thread-safety hazard:
    anything planned in that window silently switched readers).  The
    1-row result is re-homed onto the CALLER's session so downstream
    composition behaves normally.

    Caveat (inherent to footer stats, not this helper): columns whose
    row-group stats are absent/invalid (e.g. legacy binary stats) fall
    back to a real scan — Spark decides per file, correctness is
    unaffected.
    """
    scoped = spark.newSession()
    # newSession() seeds a FRESH SQLConf from context defaults, not a copy
    # of the caller's runtime conf — so read-path settings the caller
    # applied at runtime (session timezone, parquet rebase modes, ...)
    # would silently not govern the footer scan. Copy every caller conf
    # that differs from the scoped session's defaults; non-modifiable
    # entries are skipped.
    scoped_conf = scoped.conf.getAll
    for k, v in spark.conf.getAll.items():
        if scoped_conf.get(k) != v:
            try:
                scoped.conf.set(k, v)
            except Exception:
                pass  # static / non-modifiable conf
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    scoped.conf.set("spark.sql.sources.useV1SourceList", "")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    df = scoped.read.parquet(path).agg(*aggs)
    rows = df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    out = spark.createDataFrame(rows, df.schema)
    # carry the evidence so tests can assert pushdown actually fired
    out._footer_stats_plan = plan  # type: ignore[attr-defined]
    return out


def read_parquet_evolved(
    spark: SparkSession, path: str, mergeSchema: bool = True
) -> DataFrame:
    """Read a parquet dataset whose files were written under EVOLVING
    schemas (columns added over time — the normal life of a 100 TB table
    fed for months).

    ``mergeSchema=true`` makes Spark union all file footers' schemas
    instead of trusting one sampled file, so late-added columns surface
    everywhere (NULL for files written before the column existed).
    Deliberately per-read, not session-wide: schema merging reads every
    footer at planning time, which on a million-file table is an O(files)
    planning cost you only pay where evolution actually happens (or
    avoid entirely by giving the table a catalog/metastore schema).
    """
    return spark.read.option("mergeSchema", str(mergeSchema).lower()).parquet(path)


# --- Snapshot-versioned tables (see sources/writers.py:write_snapshot) ------


def read_snapshot_version(spark: SparkSession, path: str) -> int:
    """Resolve the committed version from the ``_LATEST`` pointer file —
    one metadata read, never a directory listing of data files."""
    jvm = spark._jvm
    P = jvm.org.apache.hadoop.fs.Path
    ptr = P(f"{path}/_LATEST")
    fs = ptr.getFileSystem(spark._jsc.hadoopConfiguration())
    inp = fs.open(ptr)
    try:
        raw = bytes(inp.readAllBytes()) if hasattr(inp, "readAllBytes") else None
        if raw is None:  # Hadoop stream without readAllBytes
            buf = bytearray()
            b = inp.read()
            while b >= 0:
                buf.append(b)
                b = inp.read()
            raw = bytes(buf)
    finally:
        inp.close()
    return int(raw.decode("ascii").strip())


def read_snapshot(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """Read a snapshot table as of ``version`` (default: the committed
    latest). The returned scan lists ONLY ``path/v=N`` — other versions'
    files are invisible to planning, so a concurrent writer appending
    ``v=N+1`` never perturbs a running query (snapshot isolation)."""
    v = version if version is not None else read_snapshot_version(spark, path)
    return spark.read.parquet(f"{path}/v={v}")
