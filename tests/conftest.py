from __future__ import annotations

import sys
from pathlib import Path

import pytest

# The checkout under test: tests import the package from THIS clone, never
# from another one installed or checked out elsewhere.
REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))


@pytest.fixture(scope="session")
def repo_root() -> Path:
    return REPO_ROOT


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def verify_local(repo_root):
    """The oracle gate script, ``scripts/verify_local.py``, as a module."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "verify_local", repo_root / "scripts" / "verify_local.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def assert_matches_oracle(spark, verify_local):
    """``check(name)``: the registered query on Spark returns the rows of
    its DuckDB oracle over the gate's sf0.01 testdata, compared as the
    oracle gate compares them."""
    import duckdb

    from nfl_big_data_bowl_2024_spark.plans import all_queries

    con = duckdb.connect()
    verify_local.create_views(con, verify_local.SF_DIR)

    def check(name: str) -> None:
        spec = all_queries()[name]
        got = spec.fn(spark, verify_local.SF_DIR).toPandas()
        want = con.execute(spec.oracle).df()
        assert sorted(got.columns) == sorted(want.columns)
        assert len(got) == len(want) > 0
        assert verify_local.value_hash_pdf(got) == verify_local.value_hash_pdf(want)

    yield check
    con.close()
