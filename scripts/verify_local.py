"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on Spark and, where
an oracle exists, the matching ``oracle_sql()`` on DuckDB over the same
parquet; compares row count + column names + an order-insensitive value hash
(columns sorted by name, rows sorted, floats repr'd). Prints one line per
query, each with the Spark side's value hash (so two runs compare by a diff
of their stdout with the trailing timings cut), and a summary. Usage:

    python scripts/verify_local.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v != v:
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def _canon_pdf(pdf):
    """Driver-realistic canonicalization: the driver converts BOTH sides to
    pandas (Spark ``toPandas()``, DuckDB ``.df()``) and sorts with
    ``sort_values`` before hashing.  Routing the compare through the same
    path reproduces the driver's flake classes locally: DuckDB HUGEINT
    aggregates render as float/object in pandas (``123.0`` != ``123`` — the
    round-3/4 ``doc_mix_weights`` red), and list-valued cells make
    ``sort_values`` raise ``TypeError: unhashable type`` (the round-4
    ``mm_byte_features`` ERR).  A raw ``.collect()`` compare hides both.
    """
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def value_hash_pdf(pdf) -> str:
    pdf = _canon_pdf(pdf)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(_norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def create_views(con, sf_dir: str) -> None:
    """One DuckDB view per table in ``TABLES`` over the parquet of ``sf_dir``."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Scale-study trees (scripts/gen_scale_data.py) are Spark-written
        # directories; the driver tree is single files.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = SF_DIR
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]

    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    if "--vanilla" in sys.argv:
        # Driver-realistic: a plain session with none of our session.py
        # configs (default 200 shuffle partitions, no Arrow tuning).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("verify-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from nfl_big_data_bowl_2024_spark.session import get_spark

        spark = get_spark("verify-local")
    con = duckdb.connect()
    create_views(con, sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args or sorted(qs)
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        t0 = time.time()
        sh = "-"
        try:
            sdf = qs[name](spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            # the hash goes through the driver's pandas canonicalizer, so an
            # unsortable column (list cells) must ERROR here like it does
            # there, rows-only queries included
            sh = value_hash_pdf(spdf)
            if name not in oracles:
                status = f"ROWS-ONLY ({len(spdf)} rows)"
                n_rowsonly += 1
            else:
                opdf = con.execute(oracles[name]).df()
                ocols = list(opdf.columns)
                if sorted(scols) != sorted(ocols):
                    status = f"FAIL cols spark={sorted(scols)} oracle={sorted(ocols)}"
                    n_fail += 1
                elif len(spdf) != len(opdf):
                    status = f"FAIL rows spark={len(spdf)} oracle={len(opdf)}"
                    n_fail += 1
                else:
                    oh = value_hash_pdf(opdf)
                    if sh == oh:
                        status = f"PASS ({len(spdf)} rows)"
                        n_pass += 1
                    else:
                        status = f"FAIL hash ({len(spdf)} rows) {sh} != {oh}"
                        n_fail += 1
        except Exception as e:
            status = f"ERROR {type(e).__name__}: {e}"
            traceback.print_exc()
            n_fail += 1
        print(
            f"{name:35s} {status}  spark={sh}  [{time.time() - t0:.1f}s]",
            flush=True,
        )

    print(f"\npass={n_pass} fail={n_fail} rows_only={n_rowsonly} total={len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
