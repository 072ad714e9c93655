"""Shared helpers, oracle-SQL fragments and constants for the
pipeline_* family modules (split along family seams, round 9).
Every definition moved verbatim; see the family modules for the
registered queries that use them."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# PII_PATTERNS is the single source of truth shared by the Spark side and
# the interpolated oracle SQL (functions/text.py)
from ..functions.text import PII_PATTERNS as _PII_PATTERNS
from ..operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs
from ..sources.readers import read_testdata_table as _t


def _content_fingerprint():
    """Canonical document fingerprint: md5 of the lower-trimmed text.

    Single definition shared by every exact-dedup / incremental-dedup /
    corpus-clean query; the oracle SQL mirrors it literally as
    ``md5(lower(trim(text)))``. Change both together.
    """
    return F.md5(F.lower(F.trim(F.col("text"))).cast("binary"))


def _n_ws_tokens():
    """Whitespace token count via the space-count identity (spaces + 1) —
    the oracle-side form is ``length(text) - length(replace(text,' ','')) +
    1``. Shared by every query that pairs a token count with that SQL
    shape; equals ``size(split(text,' '))`` on this corpus (no
    leading/trailing/double spaces)."""
    return (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )


def _mean_token_len():
    """Per-doc quality score: mean token length — an exact integer ratio,
    so Spark and DuckDB agree bit-for-bit. Shared by the z-score bucketer
    and the classifier's x1 feature."""
    return F.length("text") * 1.0 / F.size(F.split("text", " "))


# ---------------------------------------------------------------------------
# Dedup: n-gram Jaccard (oracle-checked), MinHash+LSH / SimHash (rows-only)
# ---------------------------------------------------------------------------

# The registered query runs at the PRODUCTION operating point of the guard
# (max_df=256), mirrored EXACTLY in the oracle, so both engines compute
# Jaccard over the identical filtered shingle space. Why the guard must be
# on by default: the per-shingle self-join costs sum(df^2) pairs, and at
# the generated sf1 point (50k docs, 130k distinct shingles, avg df 104)
# the UNguarded join generates 2.8e9 candidate pairs (~99 s on local[32]);
# df<=256 keeps near-dup discrimination (true near-dups share RARE
# shingles) while cutting the pair volume ~50x. The unguarded exact form
# stays available via max_df=None and is what the MinHash subset/equality
# tests compare against.
_JACCARD_ORACLE = """
WITH shingles AS (
    SELECT doc_id, unnest(list_distinct([substr(text, g, 8)
           FOR g IN range(1, greatest(length(text) - 6, 2))])) AS sh
    FROM documents
),
freq AS (SELECT sh, count(*) AS d FROM shingles GROUP BY sh),
kept AS (
    SELECT s.doc_id, s.sh FROM shingles s JOIN freq USING (sh)
    WHERE freq.d <= 256
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
pair_overlap AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) AS jaccard
FROM pair_overlap
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= 0.2
"""


_MINHASH_DUP_ORACLE = """
WITH shingles AS (
    SELECT doc_id, unnest(list_distinct([substr(text, g, 8)
           FOR g IN range(1, greatest(length(text) - 6, 2))])) AS sh
    FROM documents
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
pair_overlap AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common), 4) AS jaccard
FROM pair_overlap
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= 0.9
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
    SELECT e.vec_id, e.label,
           round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
)
SELECT vec_id, label, cosine
FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rk FROM scored)
WHERE rk <= 25
"""


# ---------------------------------------------------------------------------
# Round-2 additions: dedup clustering, deterministic sampling, TF-IDF
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = """
WITH RECURSIVE shingles AS (
    SELECT doc_id, unnest(list_distinct([substr(text, g, 12)
           FOR g IN range(1, greatest(length(text) - 10, 2))])) AS sh
    FROM documents
),
freq AS (SELECT sh, count(*) AS d FROM shingles GROUP BY sh),
kept AS (
    SELECT s.doc_id, s.sh FROM shingles s JOIN freq USING (sh)
    WHERE freq.d <= 256
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
pair_overlap AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT doc_a, doc_b
    FROM pair_overlap
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.n_sh + cb.n_sh - n_common) >= 0.2
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lbl) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id
"""


def _cluster_pairs_lsh(d: DataFrame) -> DataFrame:
    """Scale-path near-dup edge source shared by the two clustering
    queries: banded MinHash-LSH candidates + exact verify. 16 bands x 2
    rows => a J>=0.9 pair is missed with prob (1-J^2)^16 <= 3.3e-12."""
    return minhash_lsh_candidates(
        d, "doc_id", "text", n=12, num_perm=32, bands=16, verify_threshold=0.2
    )


def cluster_labels_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component labels (doc_id, component) over the banded-LSH
    near-dup graph, the relation every cluster-dedup decision consumes.
    Runs the LSH candidate generation + exact verify + min-label fixpoint
    and eagerly localCheckpoints the result, so a consumer that reads the
    labels more than once does not recompute them. Each call builds anew:
    a caller that wants the labels shared across queries persists the
    returned DataFrame itself."""
    from ..operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    return (
        connected_components(_cluster_pairs_lsh(d), "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
        .localCheckpoint(eager=True)
    )


def cluster_pairs_exact(d: DataFrame) -> DataFrame:
    """Audit twin of ``_cluster_pairs_lsh``: the exact per-shingle
    self-join pair generator (sum(df^2) fan-out — NOT the 100 TB path).
    Kept callable so tests can assert the two compositions produce
    identical edges and labels on the testdata; mirrors the max_df=256
    hot-shingle operating point of the recursive-CTE oracles."""
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=12, threshold=0.2, max_df=256
    )


_BPE_RE = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
# one sentinel char per merge round; verified absent from the corpus, so a
# sentinel unambiguously denotes that round's merged symbol inside the
# packed string representation
_BPE_SENT = ["\x01", "\x02", "\x03"]


def _bpe_train_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[str, str, int]]:
    """Run the 3 BPE merge rounds and return ``[(packed_pair, sentinel,
    count), ...]`` in train order. The merge table is the driver-held
    bounded model (3 rows) shared by the trainer output query and the
    encoder; packed pairs may contain earlier rounds' sentinel chars."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
            ).alias("s")
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)  # reused by all three rounds
    )
    cur = words
    merges: list[tuple[str, str, int]] = []
    for r in range(1, 4):
        pairs = cur.filter(F.length("s") >= 2).select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(s) - 1),"
                    " i -> substring(s, i, 2))"
                )
            ).alias("pair"),
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()[0]
        )
        sent = _BPE_SENT[r - 1]
        merges.append((top["pair"], sent, int(top["n"])))
        if r < 3:  # the final round's replaced vocab is never read
            cur = cur.select(
                F.replace(
                    F.col("s"), F.lit(top["pair"]), F.lit(sent)
                ).alias("s"),
                "freq",
            ).localCheckpoint(eager=True)
    return merges


_REP_TAIL = """
,
labeled AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
joined AS (
    SELECT l.component, l.doc_id, d.n_chars
    FROM labeled l JOIN documents d USING (doc_id)
),
ranked AS (
    SELECT component, doc_id,
           row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, doc_id) AS rk,
           count(*)    OVER (PARTITION BY component) AS n_members
    FROM joined
)
SELECT component, doc_id AS rep_doc_id, n_members
FROM ranked WHERE rk = 1
"""

# Share the recursive-CTE cluster derivation with dedup_cluster_assign's
# oracle and swap only its final SELECT for the per-cluster argmax.
_CLUSTER_FINAL = "SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id"
assert _CLUSTER_FINAL in _CLUSTER_ORACLE
_REP_ORACLE = _CLUSTER_ORACLE.replace(_CLUSTER_FINAL, "") .rstrip().rstrip(")") + ")" + _REP_TAIL

# Full-corpus label relation (verdict r11 item 5): every document gets a
# component label — min-label of its near-dup cluster, its own id when it
# is a singleton (absent from the edge set). Same shared recursive-CTE
# derivation, final SELECT swapped for the documents left join.
_LABELS_FULL_TAIL = """,
lbl AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id)
SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
FROM documents d LEFT JOIN lbl l USING (doc_id)
"""
_LABELS_FULL_ORACLE = (
    _CLUSTER_ORACLE.replace(_CLUSTER_FINAL, "").rstrip().rstrip(")")
    + ")"
    + _LABELS_FULL_TAIL
)

# Per-source dedup survivorship: the same full label map, each cluster's
# representative chosen by the dedup_cluster_representative rule
# (n_chars DESC, doc_id ASC), docs counted kept/dropped per source.
_SURVIVORSHIP_TAIL = """,
lbl AS (SELECT id AS doc_id, min(lbl) AS component FROM reach GROUP BY id),
full_map AS (
    SELECT d.doc_id, d.source, d.n_chars,
           coalesce(l.component, d.doc_id) AS comp
    FROM documents d LEFT JOIN lbl l USING (doc_id)
),
reps AS (
    SELECT doc_id AS rep_id FROM (
        SELECT comp, doc_id,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM full_map) t WHERE rk = 1
)
SELECT f.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r.rep_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN r.rep_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
       CAST(1000 * (count(*)
            - sum(CASE WHEN r.rep_id IS NOT NULL THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS drop_milli
FROM full_map f LEFT JOIN reps r ON r.rep_id = f.doc_id
GROUP BY f.source
"""
_SURVIVORSHIP_ORACLE = (
    _CLUSTER_ORACLE.replace(_CLUSTER_FINAL, "").rstrip().rstrip(")")
    + ")"
    + _SURVIVORSHIP_TAIL
)


# The k of the scale operating point as a SQL expression over ``n``, the
# number of vectors: the next power of two above n/2048, at least 8.
_AUTOK_SQL = (
    "greatest(8, 1::BIGINT << length(format('{:b}',"
    " greatest((n - 1) // 2048, 1))))"
)


def _kmeans_assign_sql(k: str) -> str:
    """DuckDB replay of ``kmeans_lloyd(k, iters=2)`` seeded with the k
    lowest-id vectors. ``k`` is a SQL expression over ``n``, the number of
    vectors. Yields CTEs ``emb (vec_id, e)``, ``c1 (cid, e)`` (the refined
    centroids) and ``a2 (vec_id, e, cid, d)`` (the final assignment and its
    distance), plus ``kdef``, ``seeds``, ``d1``, ``a1`` and ``d2``."""
    return f"""emb AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    kdef AS (SELECT {k} AS k FROM (SELECT count(*) AS n FROM emb) c),
    seeds AS (
      SELECT cid, e FROM (
        SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid, e
        FROM emb
      ) s, kdef WHERE s.cid < kdef.k
    ),
    d1 AS (
      SELECT emb.vec_id, emb.e, seeds.cid,
             floor(list_distance(emb.e, seeds.e) * 1e9 + 0.5) / 1e9 AS d
      FROM emb CROSS JOIN seeds
    ),
    a1 AS (
      SELECT vec_id, e, cid FROM (
        SELECT vec_id, e, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) t WHERE rn = 1
    ),
    c1 AS (
      SELECT cid, list(cv ORDER BY pos) AS e FROM (
        SELECT cid, pos, floor(avg(v) * 1e6 + 0.5) / 1e6 AS cv FROM (
          SELECT cid, unnest(e) AS v, unnest(generate_series(1, len(e))) AS pos
          FROM a1) u GROUP BY cid, pos) g GROUP BY cid
    ),
    d2 AS (
      SELECT emb.vec_id, emb.e, c1.cid,
             floor(list_distance(emb.e, c1.e) * 1e9 + 0.5) / 1e9 AS d
      FROM emb CROSS JOIN c1
    ),
    a2 AS (
      SELECT vec_id, e, cid, d FROM (
        SELECT vec_id, e, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) t WHERE rn = 1
    )"""

(_PII_EMAIL, _PII_EMAIL_TOK), (_PII_IP, _PII_IP_TOK), (_PII_PHONE, _PII_PHONE_TOK) = (
    _PII_PATTERNS
)


def _dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc DSIR relation ``(doc_id, n_toks, dsir_weight_micro)`` —
    shared by the weights query and the budgeted selection built on it."""
    from ..operators.scalars import checkpoint_observed

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    lm = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("c_t"),
    )
    # r14: the three LM totals arrive as OBSERVED metrics of the
    # checkpoint job (they are three bounded longs — same driver-held
    # class as the k-means seeds), replacing both the broadcast-scalar
    # crossJoin AND the separate vocab count that used to gate the
    # broadcast below. The injected literals are the exact longs the old
    # 1-row relation carried, promoted to double by the same ``long *
    # double`` rule, so the per-term arithmetic is bit-identical.
    cp, lm_m = checkpoint_observed(
        lm,
        F.sum("c_r").alias("n_r"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    # sums over zero rows observe as None: an empty corpus has no counts
    n_r, n_t, v = (int(lm_m[k] or 0) for k in ("n_r", "n_t", "v"))
    ratio = cp.select(
        "term",
        F.floor(
            F.log(
                ((F.col("c_t") + 1.0) * F.lit(n_r + v).cast("long"))
                / ((F.col("c_r") + 1.0) * F.lit(n_t + v).cast("long"))
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("lr_micro"),
    )
    # Count-gated broadcast of the vocab-sized ratio relation (round 10;
    # the k-core <=5M-row rule): an unconditional hint is a 100 TB
    # driver OOM on a raw-token vocabulary, but AQE alone under-
    # broadcast at sf10 (31 s vs 5.0 s measured, same box, same
    # session config). The vocab row count is the observed ``v`` — no
    # counting job at all since r14; production DSIR additionally
    # hash-buckets the vocab to a fixed width, which makes the broadcast
    # branch unconditional again.
    attach = F.broadcast(ratio) if v <= 5_000_000 else ratio
    return (
        toks.join(attach, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_toks"),
            F.sum("lr_micro").cast("long").alias("dsir_weight_micro"),
        )
    )


# The oracle twin of ``_dsir_doc_weights`` up to its per-doc fold: CTEs
# ``toks (doc_id, source, term)`` and ``ratio (term, lr_micro)``, plus the
# ``lm`` and ``consts`` they are built from.
_DSIR_RATIO_SQL = """toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    lm AS (
        SELECT term, count(*) AS c_r,
               CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_t
        FROM toks GROUP BY term
    ),
    consts AS (
        SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
               CAST(sum(c_t) AS BIGINT) AS n_t,
               count(*) AS v
        FROM lm
    ),
    ratio AS (
        SELECT term,
               CAST(floor(ln(((c_t + 1.0) * (n_r + v)) /
                             ((c_r + 1.0) * (n_t + v)))
                          * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
        FROM lm, consts
    )"""


# Benford first-digit expected probabilities log10(1+1/d) in micro-units
# (fixed literals on BOTH engines — no float log at query time).
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


# Adamic-Adar inverse-log-degree weights in integer micro-units, as a
# 64-entry fixed-point table so no float arithmetic reaches either engine:
# position d (1-based) = round(1e6 / log2(d)). Wedge apexes always have
# degree >= 2 (a wedge needs two distinct neighbors), so position 1 is an
# unused 0; the adjacency filter caps degree at 64. Also the NDCG discount
# table of pipeline_ml.
_AA_LOG2_MICRO: list[int] = [0] + [
    round(1_000_000 / math.log2(d)) for d in range(2, 65)
]


# ---------------------------------------------------------------------------
# Portable fixed-point natural log (shared by txt_zipf_fit and
# txt_kl_source_divergence): ln_micro(v) = e*ln(2)*1e6 +
# LN_MANTISSA_MICRO[m] for positive BIGINT v, where e = bit_length(v)-1
# (exact on both engines via the binary-string length) and m indexes a
# 64-cell midpoint table of ln(1 + (m+0.5)/64). No engine libm log is
# ever evaluated, so the value is deterministic everywhere — the
# adamic-adar fixed-point-table technique (pipeline_graph) generalized to
# the full positive-BIGINT range. Error bound (advice r9, verified
# numerically): ~6e-5 RELATIVE per mantissa bucket for large v, but up to
# ~7.8e-3 ABSOLUTE for v < ~64 (worst at v=1, where ln_micro(1)=7782
# micro vs true 0) — small arguments land on bucket midpoints far from
# their true mantissa. Consumers that care about the small-v head
# (txt_zipf_fit's rank-1 point) carry that bias; it is identical on both
# engines so hash gates are unaffected.
# ---------------------------------------------------------------------------

LN2_MICRO = 693147
LN_MANTISSA_MICRO = [
    round(math.log(1.0 + (i + 0.5) / 64.0) * 1_000_000) for i in range(64)
]
_LN_TABLE_SQL = ", ".join(str(v) for v in LN_MANTISSA_MICRO)


def ln_micro_duck(col: str) -> str:
    """DuckDB SQL fragment: ln_micro of a positive BIGINT expression.

    The mantissa bucket is ``v*64 div 2^e``; for e >= 6 that is computed
    as the overflow-free identity ``v div 2^(e-6)`` (shift right first,
    multiply never — advice r9: ``v*64`` alone overflows int64 once
    v >= 2^57, well inside the documented positive-BIGINT domain). The
    ``v*64`` form survives only for v < 64 where it cannot overflow.
    """
    e = f"(length(format('{{:b}}', {col})) - 1)"
    m = (
        f"(CASE WHEN {e} >= 6 THEN {col} // (1::BIGINT << ({e} - 6))"
        f" ELSE ({col} * 64) // (1::BIGINT << {e}) END)"
    )
    return (
        f"({e} * {LN2_MICRO} + [{_LN_TABLE_SQL}]"
        f"[CAST({m} AS INTEGER) - 63])"
    )


def ln_micro_spark(col: str) -> str:
    """Spark SQL fragment: ln_micro of a positive BIGINT expression.

    Same overflow-free mantissa as ln_micro_duck: ``v div 2^(e-6)`` for
    e >= 6 (never multiplies), ``v*64 div 2^e`` only for v < 64.
    """
    e = f"(length(bin({col})) - 1)"
    m = (
        f"(CASE WHEN {e} >= 6 THEN {col} div shiftleft(CAST(1 AS BIGINT),"
        f" CAST({e} - 6 AS INT))"
        f" ELSE ({col} * 64) div shiftleft(CAST(1 AS BIGINT),"
        f" CAST({e} AS INT)) END)"
    )
    return (
        f"CAST(({e} * {LN2_MICRO} + element_at(array({_LN_TABLE_SQL}),"
        f" CAST({m} AS INT) - 63)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Portable fixed-point exp(-x) (round 10; the ln_micro companion):
# exp_neg_micro(x_micro) ~= round(exp(-x) * 1e6) for integer micro-unit
# x >= 0, via exp(-x) = 2^(-x*log2(e)) split into integer and fractional
# binary exponents: the integer part is an exact integer divide by 2^i,
# the fractional part indexes a 64-cell midpoint table of 2^(-(b+0.5)/64).
# No engine libm exp is ever evaluated, so the value is bit-identical on
# Spark and DuckDB. Error: <= ~0.55% relative per mantissa bucket (the
# midpoint half-width of 2^(1/128)), monotone non-increasing in x (the
# bucketed mantissa decreases within each i and across the i boundary:
# table[63]//2^i ~ 0.5031e6/2^i > table[0]//2^(i+1) ~ 0.4973e6/2^i).
# Inputs >= 20e6 micro (x >= 20, exp(-20) ~ 2e-9) return 0 — below micro
# resolution — BEFORE the log2(e) multiply, so the scaled product stays
# under 2.9e13 and never approaches int64.
# ---------------------------------------------------------------------------

LOG2E_MICRO = 1442695
EXP2_FRAC_MICRO = [
    round(2.0 ** (-(b + 0.5) / 64.0) * 1_000_000) for b in range(64)
]
_EXP2_TABLE_SQL = ", ".join(str(v) for v in EXP2_FRAC_MICRO)


def exp_neg_micro_duck(col: str) -> str:
    """DuckDB SQL fragment: exp(-x) in micro units of a non-negative
    BIGINT micro-unit expression ``col``."""
    y = f"(CAST({col} AS BIGINT) * {LOG2E_MICRO} // 1000000)"
    return (
        f"(CASE WHEN {col} >= 20000000 THEN 0 ELSE"
        f" [{_EXP2_TABLE_SQL}]"
        f"[CAST({y} % 1000000 * 64 // 1000000 AS INTEGER) + 1]"
        f" // (1::BIGINT << CAST({y} // 1000000 AS INTEGER)) END)"
    )


def exp_neg_micro_spark(col: str) -> str:
    """Spark SQL fragment: exp(-x) in micro units of a non-negative
    BIGINT micro-unit expression ``col``."""
    y = f"(CAST({col} AS BIGINT) * {LOG2E_MICRO} div 1000000)"
    return (
        f"(CASE WHEN {col} >= 20000000 THEN CAST(0 AS BIGINT) ELSE"
        f" element_at(array({_EXP2_TABLE_SQL}),"
        f" CAST({y} % 1000000 * 64 div 1000000 AS INT) + 1)"
        f" div shiftleft(CAST(1 AS BIGINT),"
        f" CAST({y} div 1000000 AS INT)) END)"
    )
