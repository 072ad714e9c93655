"""Two-point (or N-point) scaling study over the registered queries.

Times a set of queries at several data directories (e.g. the driver's sf0.1
tree and a `gen_scale_data.py`-generated 10x point) in ONE Spark session,
then prints the per-query scaling exponent

    e = log(t_big / t_small) / log(factor)

where ``factor`` is the data-size ratio between the outermost points (e=1 is
linear in input size; e<1 is sublinear — fixed overhead still amortizing;
e>1 is the red flag: some stage does superlinear work, e.g. a fixed-bucket
join whose within-bucket pairs grow quadratically).

Timing is min-of-``--reps`` with the same JVM + Python-worker warm-up as
bench.py, so single-run scheduler jitter on a shared box does not masquerade
as a scale regression.

Usage:
    python scripts/gen_scale_data.py --factor=10 --out=/tmp/scaledata/sf1.0
    python scripts/scaling_study.py --dirs=/root/testdata/sf0.1,/tmp/scaledata/sf1.0 \
        --factor=10 [--reps=3] [query ...]

With no query args, runs the bench.py HEADLINE list.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    dirs = ["/root/testdata/sf0.1", "/tmp/scaledata/sf1.0"]
    factor = 10.0
    reps = 3
    names = []
    for a in sys.argv[1:]:
        if a.startswith("--dirs="):
            dirs = a.split("=", 1)[1].split(",")
        elif a.startswith("--factor="):
            factor = float(a.split("=", 1)[1])
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif not a.startswith("--"):
            names.append(a)

    from bench import HEADLINE
    from nfl_big_data_bowl_2024_spark.plans import all_queries
    from nfl_big_data_bowl_2024_spark.session import get_spark

    if not names:
        names = list(HEADLINE)

    spark = get_spark("scaling-study")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # Same two-part warm-up as bench.py: JVM codegen/JIT via one relational
    # query, then the Python worker fleet via a trivial Arrow UDF.
    registry["tpch_q1_pricing_summary"].fn(spark, dirs[0]).write.format("noop").mode(
        "overwrite"
    ).save()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _warm(v):
        import pandas as pd

        return pd.Series([float(x) for x in v])

    spark.range(0, 320, 1, 32).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    results: dict[str, dict] = {}
    for name in names:
        if name not in registry:
            print(f"{name:32s} UNKNOWN", flush=True)
            continue
        times = []
        for d in dirs:
            best = float("inf")
            for _ in range(reps):
                t0 = time.time()
                registry[name].fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.time() - t0)
            times.append(round(best, 3))
        exp = (
            round(math.log(times[-1] / times[0]) / math.log(factor), 3)
            if times[0] > 0
            else None
        )
        results[name] = {"times": times, "exponent": exp}
        print(f"{name:32s} {times} e={exp}", flush=True)

    worst = max((r["exponent"] for r in results.values() if r["exponent"] is not None), default=None)
    print(
        json.dumps(
            {
                "metric": "scaling_exponent_worst",
                "value": worst,
                "factor": factor,
                "dirs": dirs,
                "queries": results,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
