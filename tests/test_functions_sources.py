"""Tests for scalar functions (F1-F3) and the CSV/partitioned sources (S1/S2)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from nfl_big_data_bowl_2024_spark.functions.spatial import (
    euclidean_dist,
    heading_wrap_deg,
    velocity_components,
)
from nfl_big_data_bowl_2024_spark.sources.readers import read_csv_table, read_tracking


def test_euclidean_dist_hypot(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, 3.0, 4.0), (1.0, 1.0, 1.0, 1.0)], "x1 double, y1 double, x2 double, y2 double"
    )
    got = [r["d"] for r in df.select(
        euclidean_dist(F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")).alias("d")
    ).collect()]
    assert got == [5.0, 0.0]


def test_heading_wrap(spark):
    df = spark.createDataFrame([(0.0,), (90.0,), (270.0,), (359.0,), (540.0,)], "deg double")
    got = [r["w"] for r in df.select(heading_wrap_deg(F.col("deg")).alias("w")).collect()]
    assert got[0] == pytest.approx(0.0, abs=1e-9)
    assert got[1] == pytest.approx(90.0)
    assert got[2] == pytest.approx(-90.0)   # 270 wraps to -90
    assert got[3] == pytest.approx(-1.0)
    assert got[4] == pytest.approx(180.0)   # 540 -> 180


def test_velocity_components(spark):
    df = spark.createDataFrame([(10.0, 90.0), (8.0, 0.0)], "s double, dir double")
    u, v = velocity_components(F.col("s"), F.col("dir"))
    rows = df.select(u.alias("u"), v.alias("v")).collect()
    # dir=90 (east): all speed in u; dir=0 (north): all in v
    assert rows[0]["u"] == pytest.approx(10.0)
    assert rows[0]["v"] == pytest.approx(0.0, abs=1e-9)
    assert rows[1]["u"] == pytest.approx(0.0, abs=1e-9)
    assert rows[1]["v"] == pytest.approx(8.0)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_csv_scan_explicit_schema_roundtrip(spark, tmpdir):
    """S1: CSV written then re-read with the declared PLAYERS schema — no
    inference, types preserved, NULLs survive."""
    import csv
    import os

    os.makedirs(f"{tmpdir}/players")
    with open(f"{tmpdir}/players/part.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["nflId", "displayName", "position"])
        w.writerow([1001, "Carrier One", "RB"])
        w.writerow([2001, "Tackler Alpha", "CB"])
        w.writerow([2005, "Tackler Echo", ""])  # empty -> NULL
    df = read_csv_table(spark, "players", f"{tmpdir}/players")
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["bigint", "string", "string"]
    rows = {r["nflId"]: (r["displayName"], r["position"]) for r in df.collect()}
    assert rows[1001] == ("Carrier One", "RB")
    assert rows[2005][1] is None


def test_partitioned_tracking_scan_prunes(spark, tmpdir):
    """S2: week=N layout + week predicate -> Catalyst partition pruning
    (PartitionFilters in the scan, only matching files read)."""
    from nfl_big_data_bowl_2024_spark import fixtures

    tr = fixtures.tracking_df(spark).withColumnRenamed("t", "time_s")
    # write two week partitions
    for week, game in [(1, 1), (2, 2)]:
        (
            tr.filter(F.col("gameId") == game)
            .withColumn("week", F.lit(week))
            .write.mode("append")
            .partitionBy("week")
            .parquet(f"{tmpdir}/tracking")
        )
    got = read_tracking_weeks(spark, f"{tmpdir}/tracking", [2])
    assert got.select("gameId").distinct().collect()[0]["gameId"] == 2
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def read_tracking_weeks(spark, path, weeks):
    """Schema-light variant of read_tracking for the fixture layout."""
    df = spark.read.parquet(path)
    return df.filter(df["week"].isin(weeks))


def test_csv_corrupt_record_capture(spark, tmpdir):
    """S1+S4 at the read boundary: malformed CSV rows land in the corrupt
    side of the split instead of failing the scan; clean rows parse with the
    declared types."""
    import csv
    import os

    from nfl_big_data_bowl_2024_spark.sources.readers import (
        read_csv_with_corrupt_capture,
    )

    os.makedirs(f"{tmpdir}/pcsv")
    with open(f"{tmpdir}/pcsv/part.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["nflId", "displayName", "position"])
        w.writerow([1001, "Carrier One", "RB"])
        w.writerow(["not_a_number", "Broken Row", "CB"])  # fails bigint parse
        w.writerow([2001, "Tackler Alpha", "CB"])
    clean, corrupt = read_csv_with_corrupt_capture(spark, "players", f"{tmpdir}/pcsv")
    assert {r["nflId"] for r in clean.collect()} == {1001, 2001}
    bad = corrupt.collect()
    assert len(bad) == 1 and "not_a_number" in bad[0]["_corrupt_record"]


def test_jsonl_roundtrip_and_partition_pruning(spark):
    """documents -> partitioned JSONL -> scan back: values survive, the lang
    filter prunes to one partition directory, and unlisted JSON keys are
    ignored by the declared schema."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from nfl_big_data_bowl_2024_spark.sources.readers import read_jsonl
    from nfl_big_data_bowl_2024_spark.sources.writers import write_jsonl

    d = tempfile.mkdtemp(prefix="jsonl_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        write_jsonl(docs, d, partition_by=["lang"])

        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), True),
                T.StructField("text", T.StringType(), True),
                # n_chars/source intentionally unlisted: schema projection
            ]
        )
        back = read_jsonl(spark, d, schema)
        assert back.count() == docs.count()
        assert set(back.columns) == {"doc_id", "text", "lang"}  # partition col
        en = back.filter(F.col("lang") == "en")
        plan = en._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "lang" in plan.split(
            "PartitionFilters"
        )[1].split("]")[0]
        assert en.count() == docs.filter(F.col("lang") == "en").count()
        a = {(r["doc_id"], r["text"]) for r in en.collect()}
        b = {
            (r["doc_id"], r["text"])
            for r in docs.filter(F.col("lang") == "en").collect()
        }
        assert a == b
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_schema_evolution_merge(spark, tmp_path):
    """Files written before a column existed read back with NULLs there,
    and the late column is visible even when the sampled footer predates
    it — the read-path contract for a long-lived evolving table."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.sources.readers import read_parquet_evolved

    p = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).coalesce(1).write.mode("append").parquet(p)
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, v string, score double"
    ).coalesce(1).write.mode("append").parquet(p)

    got = read_parquet_evolved(spark, p)
    assert set(got.columns) == {"id", "v", "score"}
    rows = {r.id: (r.v, r.score) for r in got.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 9.5)}
    assert got.filter(F.col("score").isNull()).count() == 2


def test_redact_pii_replaces_and_counts_in_order(spark):
    """Email must be consumed before IP/phone so digits in a local-part
    are never double-counted; clean text passes through untouched."""
    from pyspark.sql import functions as F

    from nfl_big_data_bowl_2024_spark.functions.text import count_pii, redact_pii

    rows = [
        ("write 555-1234@mail.example.org today",),  # email eats the phone-shaped local part
        ("server 192.168.1.10 then call 555-0199",),
        ("no pii here at all",),
        ("a@b.io and c@d.io twice",),
    ]
    df = spark.createDataFrame(rows, "t string").select(
        F.col("t"),
        redact_pii(F.col("t")).alias("clean"),
        count_pii(F.col("t")).alias("n"),
    )
    got = {r.t: (r.clean, r.n) for r in df.collect()}
    assert got["write 555-1234@mail.example.org today"] == (
        "write <EMAIL> today",
        1,
    )
    assert got["server 192.168.1.10 then call 555-0199"] == (
        "server <IP> then call <PHONE>",
        2,
    )
    assert got["no pii here at all"] == ("no pii here at all", 0)
    assert got["a@b.io and c@d.io twice"] == ("<EMAIL> and <EMAIL> twice", 2)


def test_pii_redact_query_is_map_only(spark):
    """The registered PII scrub must stay a pure projection over the scan:
    zero exchanges, zero Python workers — the property that lets it
    compose into the curation funnel for free at 100 TB."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    df = all_queries()["txt_pii_redact"].fn(spark, "/root/testdata/sf0.01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_prefix_sum_is_consistent(spark):
    """The distributed band-offset + in-band window stitching must produce
    one contiguous running sum: sorted by cum_tokens, every row's cum is
    the previous cum plus its own n_tokens (checked independently of the
    DuckDB oracle)."""
    from nfl_big_data_bowl_2024_spark.plans import all_queries

    rows = (
        all_queries()["doc_select_token_budget"]
        .fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert rows
    prev = 0
    for r in sorted(rows, key=lambda r: r.cum_tokens):
        assert r.cum_tokens == prev + r.n_tokens
        prev = r.cum_tokens


def test_jsonl_roundtrip_survives_adversarial_strings(spark):
    """The src_jsonl_roundtrip driver query proves fidelity on the (clean)
    documents corpus; this pins the JSON escaping edge cases a real web
    corpus WILL contain — embedded newlines (a raw newline would split one
    JSONL record into two), quotes, backslashes, tabs, NUL-adjacent control
    chars, multi-byte CJK + astral-plane emoji, and empty/null strings —
    byte-identical through write_jsonl (gzip) -> schema-explicit read."""
    import shutil
    import tempfile

    from nfl_big_data_bowl_2024_spark.sources.writers import write_jsonl

    rows = [
        (0, "line one\nline two\r\nthree"),
        (1, 'she said "hi" \\ back\\slash'),
        (2, "tab\there, bell\x07, esc\x1b, unit\x1f"),
        (3, "中文字符 and émojis 🎉🚀 and ﬂigatures"),
        (4, ""),
        (5, None),
        (6, "{\"looks\": \"like json\"}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = tempfile.mkdtemp(prefix="jsonl_adv_")
    try:
        write_jsonl(df, d, compression="gzip")
        back = spark.read.schema(df.schema).json(d)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, rows))
        # _corrupt_record never materialized: every line parsed
        assert back.filter(F.col("text").isNull()).count() == 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_xml_roundtrip_escaping_edge_cases(spark):
    """XML entity escaping: &, <, >, quotes, and multi-byte unicode must
    survive the write->read cycle bit-for-bit."""
    import os
    import tempfile

    from nfl_big_data_bowl_2024_spark.plans.format_ops import src_xml_roundtrip

    rows = [
        (1, "a & b < c > d 'q' \"qq\"", "en", "t", 21),
        (2, "中文 résumé ünïcode", "zh", "t", 17),
        (3, "]]> cdata-breaker & <tag attr=\"x\">", "en", "t", 34),
        (4, "", "en", "t", 0),  # excluded by the n_chars>0 contract
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {r["doc_id"]: r["text"] for r in src_xml_roundtrip(spark, td).collect()}
    assert got == {i: t for i, t, *_ in [r for r in rows if r[4] > 0]}


def test_binaryfile_scan_recovers_ids_and_checksums(spark):
    """Path-based id recovery (multi-digit ids) + md5-of-bytes fidelity."""
    import hashlib
    import os
    import tempfile

    from nfl_big_data_bowl_2024_spark.plans.format_ops import src_binaryfile_scan

    rows = [
        (0, "zero payload", "en", "t", 12),
        (140, "longer payload with spaces", "en", "t", 26),
        (2000, "x", "en", "t", 1),
        (7, "not selected", "en", "t", 12),  # doc_id % 20 != 0
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_bytes"], r["content_md5"])
            for r in src_binaryfile_scan(spark, td).collect()
        }
    expect = {
        i: (len(t) + 1, hashlib.md5((t + "\n").encode()).hexdigest())
        for i, t, *_ in rows
        if i % 20 == 0
    }
    assert got == expect


def test_try_arithmetic_absorbs_all_three_error_classes(spark):
    """try_divide(x,0), try_element_at OOB, try_multiply overflow must all
    yield NULL (never raise, never wrap) — pinned on adversarial rows."""
    import os
    import tempfile

    from nfl_big_data_bowl_2024_spark.plans.relational import dq_try_arithmetic

    rows = [
        (7, "a b c", "en", "t", 5),      # doc_id%7=0 -> ratio NULL
        (1, "x", "en", "t", 1),          # n_chars=1 -> big_mul = Long.MAX
        (61, "only two", "en", "t", 0),  # idx 2 OK; n_chars=0 -> big_mul 0
        (113, "t", "en", "t", 9),        # idx 54 OOB -> tok_at NULL
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(td, "documents.parquet"))
        got = {r["doc_id"]: r for r in dq_try_arithmetic(spark, td).collect()}
    assert got[7]["ratio"] is None
    assert got[1]["big_mul"] == 9223372036854775807
    assert got[1]["ratio"] == 1.0
    assert got[61]["big_mul"] == 0 and got[61]["tok_at"] == "two"
    assert got[113]["tok_at"] is None and got[113]["big_mul"] is None


def test_grouping_sets_single_scan_expand_plan(spark):
    """The asymmetric grouping sets must plan as ONE scan + Expand, not a
    union of three aggregates (which would scan the corpus three times)."""
    from nfl_big_data_bowl_2024_spark.plans.relational import agg_grouping_sets

    plan = (
        agg_grouping_sets(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") >= 1
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Union") == 0


def test_schema_evolution_mergeschema_null_semantics(spark):
    """Additive-column evolution: v1 files lack the column, mergeSchema
    surfaces it as NULL for v1 rows and typed for v2 rows; the partition
    column distinguishes generations and prunes."""
    import os

    tmp = tempfile.mkdtemp(prefix="evo_test_")
    try:
        v1 = spark.createDataFrame([(1, 10), (2, 20)], "id: long, v: long")
        v2 = spark.createDataFrame(
            [(3, 30, 300), (4, 40, 400)], "id: long, v: long, extra: long"
        )
        v1.write.parquet(os.path.join(tmp, "batch=v1"))
        v2.write.parquet(os.path.join(tmp, "batch=v2"))
        ev = (
            spark.read.option("mergeSchema", "true")
            .option("basePath", tmp)
            .parquet(tmp)
        )
        assert set(ev.columns) == {"id", "v", "extra", "batch"}
        rows = {r["id"]: (r["extra"], r["batch"]) for r in ev.collect()}
        assert rows == {1: (None, "v1"), 2: (None, "v1"),
                        3: (300, "v2"), 4: (400, "v2")}
        # Partition pruning: a batch filter must reach PartitionFilters.
        plan = (
            ev.filter(F.col("batch") == "v2")._jdf.queryExecution()
            .executedPlan().toString()
        )
        assert "PartitionFilters: [" in plan and "batch" in plan.split(
            "PartitionFilters:"
        )[1][:120]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_yap_plan_runs_over_read_tracking(spark, tmp_path):
    """E2 over the engine's own tracking reader: read_tracking carries the
    ``time`` timestamp, not the kernel's ``t`` seconds, so the plan derives
    ``t`` itself and must equal the plan over the same rows with ``t``
    derived beforehand."""
    from nfl_big_data_bowl_2024_spark import fixtures, schemas
    from nfl_big_data_bowl_2024_spark.plans.domain import yap_plan

    base_us = 1_700_000_000_000_000
    tr = fixtures.tracking_df(spark).withColumn(
        "time",
        F.timestamp_micros(F.lit(base_us) + F.round(F.col("t") * 1e6).cast("long")),
    )
    tr.select(
        *[
            F.col(f.name).cast(f.dataType) if f.name in tr.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schemas.TRACKING.fields
        ],
        F.lit(1).alias("week"),
    ).write.partitionBy("week").parquet(str(tmp_path / "tracking"))

    scan = read_tracking(spark, str(tmp_path / "tracking"))
    assert "t" not in scan.columns
    dims = (
        fixtures.players_df(spark),
        fixtures.plays_df(spark),
        fixtures.tackles_df(spark),
    )
    got = sorted(tuple(r) for r in yap_plan(scan, *dims).collect())
    want = sorted(
        tuple(r)
        for r in yap_plan(
            scan.withColumn("t", F.unix_micros("time") / 1e6), *dims
        ).collect()
    )
    assert got == want
    assert any(r[-1] == "ok" for r in got)


def _load_script(repo_root, rel):
    """A script of the checkout (``scripts/…`` or ``perfbench/…``) as a
    module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        rel.replace("/", "_").removesuffix(".py"), repo_root / rel
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _inferred_schema(spark, path):
    """A parquet table's inferred schema, normalized as the declared read
    reports it: every column nullable, TIMESTAMP_NTZ as TIMESTAMP."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(
                f.name,
                T.TimestampType()
                if isinstance(f.dataType, T.TimestampNTZType)
                else f.dataType,
                True,
            )
            for f in spark.read.parquet(path).schema.fields
        ]
    )


def test_declared_testdata_schemas_equal_inferred(spark, verify_local, repo_root, tmp_path):
    """Every testdata table's declared schema equals its normalized
    inferred schema, on the single-file sf0.001 tree (TIMESTAMP_NTZ
    columns) and on a Spark-written copy of it from
    ``scripts/gen_scale_data.py --factor 2`` (LTZ columns); the declared
    read gives the inferred read's rows on both."""
    import os
    import sys

    from nfl_big_data_bowl_2024_spark import schemas
    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table

    src = os.path.join(os.path.dirname(verify_local.SF_DIR), "sf0.001")
    gen = _load_script(repo_root, "scripts/gen_scale_data.py")
    argv, width = sys.argv, spark.conf.get("spark.sql.shuffle.partitions")
    sys.argv = ["gen_scale_data.py", f"--src={src}", f"--out={tmp_path}", "--factor=2"]
    try:
        assert gen.main() == 0
    finally:  # the script's builder sets its width on this session
        sys.argv = argv
        spark.conf.set("spark.sql.shuffle.partitions", width)
    for tree in (src, str(tmp_path)):
        for name, declared in schemas.TESTDATA_TABLES.items():
            path = f"{tree}/{name}.parquet"
            got = read_testdata_table(spark, tree, name)
            assert _inferred_schema(spark, path) == declared, (tree, name)
            assert got.schema == declared, (tree, name)
        for name in ("orders", "lineitem"):  # the timestamp columns
            declared = schemas.TESTDATA_TABLES[name]
            inferred = spark.read.parquet(f"{tree}/{name}.parquet").select(
                [F.col(f.name).cast(f.dataType) for f in declared.fields]
            )
            got = read_testdata_table(spark, tree, name)
            assert got.exceptAll(inferred).count() == 0, (tree, name)
            assert inferred.exceptAll(got).count() == 0, (tree, name)


def test_one_table_query_build_launches_no_job(spark, verify_local):
    """With declared schemas, building a plan over a testdata table infers
    nothing: the build of a one-table query launches no Spark job."""
    import os

    from nfl_big_data_bowl_2024_spark.plans import all_queries

    sf = os.path.join(os.path.dirname(verify_local.SF_DIR), "sf0.001")
    sc = spark.sparkContext
    group = "one-table-build"
    sc.setJobGroup(group, group)
    try:
        df = all_queries()["tpch_q6_forecast_revenue"].fn(spark, sf)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.collect()[0]["n_items"] > 0


def test_nanos_events_ts_reads_as_microseconds(spark, verify_local, tmp_path):
    """``events`` keeps the inferred read: a TIMESTAMP(NANOS) ``ts`` (as
    some writers emit it) reads to the same µs instants as the testdata's
    µs file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table

    sf = os.path.join(os.path.dirname(verify_local.SF_DIR), "sf0.001")
    tbl = pq.read_table(f"{sf}/events.parquet")
    i = tbl.schema.get_field_index("ts")
    assert tbl.schema.field(i).type == pa.timestamp("us")
    pq.write_table(
        tbl.set_column(i, "ts", tbl.column(i).cast(pa.timestamp("ns"))),
        str(tmp_path / "events.parquet"),
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == "ns"
    want = read_testdata_table(spark, sf, "events")
    got = read_testdata_table(spark, str(tmp_path), "events")
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_season_dims_carry_their_declared_types(spark, repo_root, tmp_path):
    """The ``season`` workload reads players, plays and tackles with the
    declared reference schemas; the generator writes exactly those types,
    so the declared read returns the inferred read's rows."""
    from pyspark.sql.pandas.types import to_arrow_schema

    import pyarrow.parquet as pq

    from nfl_big_data_bowl_2024_spark.sources.readers import _CSV_SCHEMAS, read_parquet_table

    _load_script(repo_root, "perfbench/gen_season.py").generate(3, str(tmp_path))
    for name in ("players", "plays", "tackles"):
        path = str(tmp_path / f"{name}.parquet")
        assert pq.read_schema(path).types == to_arrow_schema(_CSV_SCHEMAS[name]).types
        got = read_parquet_table(spark, name, path)
        assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())
