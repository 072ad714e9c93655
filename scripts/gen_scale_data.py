"""Scale up the driver testdata by key-shifted replication (default 10x).

The driver tree stops at sf0.1; measuring how the engine's plans SCALE needs
a second, larger point. Each fact/dim table is replicated ``factor`` times
with every key column shifted by ``replica * OFFSET`` so referential
integrity (orders->lineitem, customer, part, supplier, events.user_id) holds
within each replica and keys never collide across replicas. Replica 0 is the
original data bit-for-bit.

Content columns that drive the dedup/similarity queries are MUTATED per
replica so their selectivities stay constant instead of exploding:
  - documents.text goes through a replica-specific character rotation
    (translate), so cross-replica near-duplicate rates stay ~0 while
    intra-replica rates match the original corpus;
  - embeddings.embedding gets a replica-specific deterministic sign-flip
    pattern, so cross-replica cosine similarity collapses to ~0.

region/nation are true dimensions and are copied unchanged.

Usage:
    python scripts/gen_scale_data.py [--src=/root/testdata/sf0.1] \
        [--out=/tmp/scaledata/sf1.0] [--factor=10]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OFFSET = 100_000_000  # > any key in the source tree

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_TABLES = ["region", "nation"]
N_FILES = {"lineitem": 16, "orders": 8, "events": 8}

LOWER = "abcdefghijklmnopqrstuvwxyz"
DIGIT = "0123456789"
_ALPHA = LOWER + LOWER.upper() + DIGIT
_IDX = {c: i for i, c in enumerate(_ALPHA)}


def _scramble(seed: int) -> str:
    """Deterministic Fisher-Yates scramble of the 62-char alphabet (LCG)."""
    chars = list(_ALPHA)
    x = seed
    for i in range(len(chars) - 1, 0, -1):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 63)
        j = x % (i + 1)
        chars[i], chars[j] = chars[j], chars[i]
    return "".join(chars)


_S1 = _scramble(0x5EED1)
_S2 = _scramble(0x5EED2)


def _rotations(r: int) -> tuple[str, str]:
    """Replica-specific translate mapping (r=0 -> identity): composition of
    two rotated scrambled-alphabet bijections, pairwise distinct for
    r < 62*62. A v1 of this used Caesar shifts with period 26, which made
    replicas 26 apart near-identical and exploded the near-dup pair count
    ~100x at factor=100 — every mapping here is a full-alphabet derangement,
    so differently-mapped replicas share only letter-free shingles and
    cross-replica Jaccard stays ~0."""
    if r == 0:
        return _ALPHA, _ALPHA
    a, b = r % 62, (r // 62) % 62
    dst = "".join(
        _S2[(_IDX[_S1[(_IDX[c] + a) % 62]] + b) % 62] for c in _ALPHA
    )
    return _ALPHA, dst


def main() -> int:
    src_dir = "/root/testdata/sf0.1"
    out_dir = "/tmp/scaledata/sf1.0"
    factor = 10
    for a in sys.argv[1:]:
        if a.startswith("--src="):
            src_dir = a.split("=", 1)[1]
        elif a.startswith("--out="):
            out_dir = a.split("=", 1)[1]
        elif a.startswith("--factor="):
            factor = int(a.split("=", 1)[1])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, ROOT)
    from nfl_big_data_bowl_2024_spark.sources.readers import read_testdata_table

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    for t in COPY_TABLES:
        read_testdata_table(spark, src_dir, t).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: copied")

    for t, keys in KEY_COLS.items():
        df = read_testdata_table(spark, src_dir, t)
        # Composition guard: replicating an ALREADY-REPLICATED tree collides
        # keys pairwise — replica r2 of a key carrying r1*OFFSET lands on
        # (r1+r2)*OFFSET, so a 10x-of-10x run yields 19 distinct shift sums
        # instead of 100 (measured: the first sf10 tree had 500k document
        # rows over 95k = 5k x 19 distinct doc_ids, and every id-join in the
        # dedup family multiplied ~5x per side on the corrupt data). Always
        # generate every scale point directly from the driver tree.
        max_key = df.select(*[F.max(F.col(k)) for k in keys]).first()
        if any(v is not None and v >= OFFSET for v in max_key):
            raise SystemExit(
                f"{t}: source keys exceed OFFSET={OFFSET} — {src_dir} is "
                "itself a replicated tree; re-run against the original "
                "driver testdata (e.g. --src=/root/testdata/sf0.1) with a "
                "single combined --factor instead of stacking replications."
            )
        # Repartition BEFORE the explode: the shuffle moves the small source
        # rows (n), the factor-x blowup then happens in place per partition
        # and streams straight to the writer — no post-explode shuffle of
        # n*factor rows.
        rep = df.repartition(N_FILES.get(t, 4)).withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
        )
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.col("_r").cast("long") * OFFSET)
        if t == "documents":
            # Chain of whens; r=0 keeps the original text.
            expr = F.col("text")
            for r in range(1, factor):
                s, d = _rotations(r)
                expr = F.when(F.col("_r") == r, F.translate(F.col("text"), s, d)).otherwise(expr)
            rep = rep.withColumn("text", expr)
        if t == "embeddings":
            # Deterministic sign flips per (replica, dimension); replica 0
            # is identity. xxhash64 keeps it cheap and JVM-side.
            flipped = F.zip_with(
                F.col("embedding"),
                F.transform(
                    F.sequence(F.lit(1), F.size("embedding")),
                    lambda i: F.when(F.col("_r") == 0, F.lit(1.0)).otherwise(
                        (F.pmod(F.xxhash64(i, F.col("_r")), F.lit(2)) * 2 - 1).cast("float")
                    ),
                ),
                lambda x, sgn: x * sgn,
            )
            rep = rep.withColumn("embedding", flipped.cast("array<float>"))
        rep.drop("_r").write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        n = spark.read.parquet(f"{out_dir}/{t}.parquet").count()
        print(f"{t}: {n} rows")

    print(f"done -> {out_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
