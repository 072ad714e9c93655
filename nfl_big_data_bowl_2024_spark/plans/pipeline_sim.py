"""Dedup, similarity, embedding and multimodal queries (dedup_*, sim_*, emb_*, mm_*, pipeline_*, arr_*, json_*).

Split along the registry's family seams in round 9 (shared
helpers/oracle fragments live in pipeline_common.py); the ml_*
family moved on to pipeline_ml.py in round 10. Original
docstrings, oracle SQL and reference citations moved verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    prefix_filter_jaccard_pairs,
    simhash_signatures,
)
from ..operators.similarity import brute_force_topk, cosine_col
from ..sources.readers import read_testdata_table as _t
from .pipeline_common import (
    _AUTOK_SQL,
    _CLUSTER_ORACLE,
    _JACCARD_ORACLE,
    _LABELS_FULL_ORACLE,
    _MINHASH_DUP_ORACLE,
    _SURVIVORSHIP_ORACLE,
    _REP_ORACLE,
    _TOPK_ORACLE,
    _content_fingerprint,
    _kmeans_assign_sql,
    cluster_labels_lsh,
)
from .registry import register


@register(
    "json_build_extract",
    """
    SELECT doc_id,
           json_extract_string(to_json(struct_pack(
               doc_id := doc_id, lang := lang, n := n_chars)), '$.lang') AS j_lang,
           CAST(json_extract(to_json(struct_pack(
               doc_id := doc_id, n := n_chars)), '$.n') AS BIGINT)       AS j_n
    FROM documents
    """,
    doc="JSON build + path extraction: serialize a struct column to JSON "
    "(to_json) and pull typed values back out (get_json_object). Compared on "
    "the EXTRACTED values — the serialized text itself differs across "
    "engines (key order/whitespace) and is not a stable contract.",
)
def json_build_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    j3 = F.to_json(F.struct(F.col("doc_id"), F.col("lang"), F.col("n_chars").alias("n")))
    j2 = F.to_json(F.struct(F.col("doc_id"), F.col("n_chars").alias("n")))
    return d.select(
        "doc_id",
        F.get_json_object(j3, "$.lang").alias("j_lang"),
        F.get_json_object(j2, "$.n").cast("long").alias("j_n"),
    )


@register(
    "arr_top_components",
    """
    SELECT vec_id,
           list_sort(CAST(embedding AS DOUBLE[]), 'DESC')[1] AS c1,
           list_sort(CAST(embedding AS DOUBLE[]), 'DESC')[2] AS c2,
           CAST(list_position(CAST(embedding AS DOUBLE[]),
                list_max(CAST(embedding AS DOUBLE[]))) AS BIGINT) AS argmax_pos
    FROM embeddings
    """,
    doc="Array algebra over the embedding column: per-vector top-2 "
    "components (sort_array desc + element_at) and 1-based argmax position "
    "(array_position of array_max) — pure JVM array expressions, no "
    "explode/shuffle, exact float comparisons (no arithmetic).",
)
def arr_top_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    srt = F.sort_array(arr, asc=False)
    return e.select(
        "vec_id",
        F.element_at(srt, 1).alias("c1"),
        F.element_at(srt, 2).alias("c2"),
        F.array_position(arr, F.array_max(arr)).cast("long").alias("argmax_pos"),
    )


@register(
    "emb_dimension_stats",
    """
    SELECT i AS dim_idx,
           round(avg(embedding[i]), 4) + 0.0 AS mean_v,
           round(stddev(embedding[i]), 4)    AS std_v,
           min(embedding[i])                 AS min_v,
           max(embedding[i])                 AS max_v
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY i
    """,
    doc="Dimension-wise embedding statistics (posexplode -> per-dimension "
    "mean/std/min/max): the feature-normalization pass of a training "
    "pipeline. One Expand-style generate + one hash aggregate keyed on the "
    "64 dimension indices — output is O(dim), so the final agg is a "
    "broadcast-sized normalization table no matter the corpus size. "
    "`+ 0.0` on both sides canonicalizes IEEE negative zero: zero-centered "
    "dims round to -0.0 in DuckDB but 0.0 in Spark (repr-level hash "
    "mismatch at sf0.1 even though -0.0 == 0.0 — the round-7 scale find).",
)
def emb_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select(F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy((F.col("pos") + 1).cast("long").alias("dim_idx")).agg(
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("mean_v"),
        F.round(F.stddev("v"), 4).alias("std_v"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@register(
    "dedup_ngram_jaccard",
    _JACCARD_ORACLE,
    doc="Near-dup detection via exact character-8-gram Jaccard: shingle -> explode -> "
    "self-join on shingle -> overlap counts. Runs at the max_df=256 hot-shingle "
    "operating point (oracle applies the identical filter); the guard is what "
    "bounds the self-join's sum(df^2) pair volume at corpus scale.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=8, threshold=0.2, max_df=256)


@register(
    "dedup_minhash_exact_dups",
    _MINHASH_DUP_ORACLE,
    doc="MinHash+LSH at the DEDUP operating point, oracle-checked: at "
    "verify threshold 0.9 with 16 bands x 2 rows the per-pair miss "
    "probability for a J>=0.9 pair is (1-J^2)^16 <= 3.3e-12, so the "
    "LSH output is (statistically) EQUAL to the exact-Jaccard answer and "
    "DuckDB can verify it — the one operating point where a hash-seeded "
    "sketch pipeline admits a deterministic oracle. The estimate column "
    "is excluded from the output (it IS hash-dependent); the exact "
    "verified jaccard is not. The general-threshold variant "
    "(dedup_minhash_lsh, 0.2) stays rows-only: partial recall at low "
    "similarity is the documented LSH tradeoff.",
)
def dedup_minhash_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        d, "doc_id", "text", n=8, num_perm=32, bands=16, verify_threshold=0.9
    ).select("doc_a", "doc_b", "jaccard")


@register(
    "dedup_prefix_filter_jaccard",
    """
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, count(*) AS d FROM toks GROUP BY tok),
    kept AS (
        SELECT t.doc_id, t.tok FROM toks t JOIN freq USING (tok)
        WHERE freq.d <= 256
    ),
    counts AS (SELECT doc_id, count(*) AS n_tok FROM kept GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor(n_common * 1.0 / (ca.n_tok + cb.n_tok - n_common)
                 * 10000 + 0.5) / 10000.0 AS jaccard
    FROM pair_overlap
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE n_common * 1.0 / (ca.n_tok + cb.n_tok - n_common) >= 0.5
    """,
    doc="Exact word-token Jaccard join via PPJoin-style PREFIX FILTERING "
    "(operators/dedup.py:prefix_filter_jaccard_pairs): each document "
    "explodes only its n - ceil(t*n) + 1 RAREST tokens (global "
    "document-frequency order) as join keys — provably lossless for "
    "Jaccard >= t, and the candidate join touches only low-df tokens, so "
    "its fan-out stays bounded where a full inverted index pays "
    "sum(df^2). The third exact-dedup scale path next to the hot-shingle "
    "guard and MinHash+LSH: deterministic (no hashing), so the ORACLE "
    "can check it with a plain inverted-index join — same semantics, "
    "different algorithm, which is exactly what the gate is for.",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        d, "doc_id", "text", threshold=0.5, max_df=256
    )


@register(
    "dedup_containment_pairs",
    """
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, count(*) AS d FROM toks GROUP BY tok),
    kept AS (
        SELECT t.doc_id, t.tok FROM toks t JOIN freq USING (tok)
        WHERE freq.d <= 256
    ),
    counts AS (SELECT doc_id, count(*) AS n_tok FROM kept GROUP BY doc_id),
    pair_overlap AS (
        SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super, count(*) AS n_common
        FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_sub, doc_super,
           CAST((20000 * n_common + ca.n_tok) // (2 * ca.n_tok)
                AS BIGINT) / 10000.0 AS containment
    FROM pair_overlap
    JOIN counts ca ON ca.doc_id = doc_sub
    WHERE 10 * n_common >= 9 * ca.n_tok
    """,
    doc="DIRECTIONAL near-dup detection by set containment |A&B| / |A| >= "
    "0.9 — the asymmetric relation Jaccard misses: a short document "
    "quoted or templated inside a long one scores low symmetric Jaccard "
    "but high containment, the boilerplate/quotation case a training-"
    "corpus curator actually prunes. Same filtered word-token space and "
    "df<=256 hot-token guard as the Jaccard paths (the guard bounds the "
    "inverted-index join's sum(df^2)); the threshold test and 4dp output "
    "are integer cross-multiplication / (2A+B) div (2B) — no float "
    "ratio. Emits (doc_sub, doc_super) ordered pairs, BOTH directions "
    "when two docs mutually contain each other.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    rare = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df_tok"))
        .filter(F.col("df_tok") <= 256)
        .select("tok")
    )
    kept = toks.join(rare, "tok", "left_semi")
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a = kept.select(F.col("doc_id").alias("doc_sub"), "tok")
    b = kept.select(F.col("doc_id").alias("doc_super"), "tok")
    overlap = (
        a.join(b, "tok")
        .filter(F.col("doc_sub") != F.col("doc_super"))
        .groupBy("doc_sub", "doc_super")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_sub"), "n_tok")
    # Count-gated broadcast (round 10; the k-core <=5M-row rule): counts
    # is corpus-sized so an unconditional hint is a 100 TB driver OOM;
    # the gate decides explicitly from one cheap count (1.7 s at sf10)
    # rather than trusting AQE's ~10MB estimate, which sits right at
    # this relation's sf10 size.
    if d.count() <= 5_000_000:
        ca = F.broadcast(ca)
    return (
        overlap.join(ca, "doc_sub")
        .filter(10 * F.col("n_common") >= 9 * F.col("n_tok"))
        .select(
            "doc_sub",
            "doc_super",
            (
                F.expr(
                    "CAST((20000 * n_common + n_tok) div (2 * n_tok) AS BIGINT)"
                )
                / 10000.0
            ).alias("containment"),
        )
    )


@register(
    "dedup_minhash_lsh",
    None,
    doc="MinHash (32 perms) + banded LSH (8 bands x 4 rows) candidate pairs with exact "
    "Jaccard verification. Hash-seeded, so Spark-only; tests cross-check the surviving "
    "pairs against dedup_ngram_jaccard's exact answer.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        d, "doc_id", "text", n=8, num_perm=32, bands=8, verify_threshold=0.2
    )


@register(
    "dedup_simhash",
    None,
    doc="64-bit SimHash signatures + banded near-dup buckets (4 x 16-bit bands). "
    "Spark-only (xxhash64-seeded).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash_signatures(d, "doc_id", "text")


@register(
    "dedup_simhash_identical",
    """
    WITH norm AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split(text, ' '))) AS toks
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM norm a JOIN norm b ON a.toks = b.toks AND a.doc_id < b.doc_id
    """,
    doc="SimHash as the BLOCKING step with exact verification — the "
    "bucket-then-verify shape every sketch dedup path here uses. The "
    "64-bit signature is a pure function of the DISTINCT TOKEN SET, so "
    "every identical-token-set pair shares a signature and the "
    "signature join loses nothing; but simhash bits are majority votes, "
    "so NEAR-identical token sets also collide (measured: 439 of 36045 "
    "sf0.1 candidate pairs differ in a few tokens yet share all 64 "
    "bits — the round-7 scale find). Candidates are therefore verified "
    "on an md5 fingerprint of the sorted distinct token list (32 chars "
    "carried through the join instead of the full token array). DuckDB "
    "computes the identical-token-set pairs directly. The banded "
    "near-dup buckets (dedup_simhash) stay rows-only: Hamming-near "
    "pairs have no engine-independent definition.",
)
def dedup_simhash_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok_fp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(F.split(F.col("text"), " ")))
        ).cast("binary")
    )
    sig = simhash_signatures(d, "doc_id", "text").select("doc_id", "simhash")
    sig = sig.join(d.select("doc_id", tok_fp.alias("tok_fp")), "doc_id")
    a = sig.select(
        F.col("doc_id").alias("doc_a"), "simhash", F.col("tok_fp").alias("fp_a")
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"), "simhash", F.col("tok_fp").alias("fp_b")
    )
    return (
        a.join(b, "simhash")
        .filter((F.col("doc_a") < F.col("doc_b")) & (F.col("fp_a") == F.col("fp_b")))
        .select("doc_a", "doc_b")
    )


@register(
    "pipeline_curation_funnel",
    """
    WITH base AS (
        SELECT doc_id,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
               (length(text) BETWEEN 100 AND 5000
                AND length(text) - length(replace(text, ' ', '')) + 1 >= 10)
                   AS gated,
               md5(lower(trim(text))) AS fp,
               CASE WHEN substr(md5(md5(lower(trim(text)))), 1, 8) < 'cc000000'
                    THEN 'train'
                    WHEN substr(md5(md5(lower(trim(text)))), 1, 8) < 'e6000000'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    canon AS (
        SELECT *,
               (gated AND doc_id = min(CASE WHEN gated THEN doc_id END)
                              OVER (PARTITION BY fp)) AS is_canon
        FROM base
    )
    SELECT 0 AS stage_ord, 'raw' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM canon
    UNION ALL
    SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM canon WHERE gated
    UNION ALL
    SELECT 2, 'dedup', CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT) FROM canon WHERE is_canon
    UNION ALL
    SELECT CASE split WHEN 'train' THEN 3 WHEN 'val' THEN 4 ELSE 5 END,
           'split_' || split, CAST(count(*) AS BIGINT),
           CAST(sum(n_tokens) AS BIGINT)
    FROM canon WHERE is_canon GROUP BY split
    """,
    doc="The whole curation pipeline as ONE plan with a funnel ledger: "
    "quality gate -> exact content dedup -> leakage-safe content-keyed "
    "split, emitting per-stage retention (docs + tokens) the way a "
    "training-data run reports its losses. Spark computes every stage "
    "membership as per-row FLAGS in one projection (gate predicate, "
    "canonical = min gated doc_id per fingerprint via ONE "
    "fingerprint-partitioned window, content-hash split), explodes each "
    "row's contributing-stage list map-side, and aggregates once on "
    "stage — one scan, one fingerprint exchange, one small stage "
    "aggregate; the oracle re-derives the same ledger as stacked "
    "aggregates. Because the split key is the dedup fingerprint itself, "
    "the composition is leakage-free by construction "
    "(dq_split_leakage_audit checks the same invariant corpus-wide).",
)
def pipeline_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    fp = _content_fingerprint()
    bucket = F.substring(F.md5(fp.cast("binary")), 1, 8)
    base = d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (n_chars.between(100, 5000) & (n_tokens >= 10)).alias("gated"),
        fp.alias("fp"),
        F.when(bucket < "cc000000", "train")
        .when(bucket < "e6000000", "val")
        .otherwise("test")
        .alias("split"),
    )
    w = Window.partitionBy("fp")
    canon = base.withColumn(
        "is_canon",
        F.col("gated")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("gated"), F.col("doc_id"))).over(w)
        ),
    )
    stage = lambda o, s: F.struct(  # noqa: E731
        F.lit(o).alias("o") if isinstance(o, int) else o.alias("o"),
        F.lit(s).alias("s") if isinstance(s, str) else s.alias("s"),
    )
    empty = F.slice(F.array(stage(0, "x")), 1, 0)
    stages = F.concat(
        F.array(stage(0, "raw")),
        F.when(F.col("gated"), F.array(stage(1, "quality_gate"))).otherwise(empty),
        F.when(
            F.col("is_canon"),
            F.array(
                stage(2, "dedup"),
                stage(
                    F.when(F.col("split") == "train", 3)
                    .when(F.col("split") == "val", 4)
                    .otherwise(5),
                    F.concat(F.lit("split_"), F.col("split")),
                ),
            ),
        ).otherwise(empty),
    )
    return (
        canon.select("n_tokens", F.explode(stages).alias("st"))
        .groupBy(
            F.col("st.o").cast("int").alias("stage_ord"),
            F.col("st.s").alias("stage"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )



@register(
    "pipeline_corpus_clean",
    """
    WITH gated AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens
        FROM documents
        WHERE length(text) BETWEEN 100 AND 5000
          AND length(text) - length(replace(text, ' ', '')) + 1 >= 10
    ),
    canonical AS (
        SELECT min(doc_id) AS doc_id FROM gated
        GROUP BY md5(lower(trim(text)))
    )
    SELECT g.lang,
           count(*) AS n_docs,
           CAST(sum(g.n_tokens) AS BIGINT) AS total_tokens,
           floor(avg(g.n_chars) * 100 + 0.5) / 100 AS mean_chars
    FROM gated g JOIN canonical c ON g.doc_id = c.doc_id
    GROUP BY g.lang
    """,
    doc="End-to-end corpus-cleaning pipeline as ONE plan: quality gate -> "
    "exact dedup (canonical = min doc_id per fingerprint) -> per-language "
    "stats of the surviving corpus. The full training-data-prep shape, no "
    "materialization between stages.",
)
def pipeline_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    gated = d.filter(n_chars.between(100, 5000) & (n_tokens >= 10)).select(
        "doc_id", "lang", "text",
        n_chars.alias("n_chars"), n_tokens.alias("n_tokens"),
    )
    canonical = (
        gated.groupBy(_content_fingerprint())
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        gated.join(canonical, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.floor(F.avg("n_chars") * 100 + 0.5) / 100).alias("mean_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal binary columns
# ---------------------------------------------------------------------------


@register(
    "mm_binary_stats",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           upper(substring(hex(encode(text)), 1, 8)) AS magic_hex
    FROM documents
    """,
    doc="Multimodal binary-column stats (size / content hash / magic prefix) — "
    "all JVM-side; payload is the UTF-8 byte view of the text column (the "
    "plumbing is identical for real media bytes).",
)
def mm_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import binary_stats, with_binary_payload

    d = with_binary_payload(_t(spark, sf_dir, "documents"))
    return binary_stats(d, "doc_id")


@register(
    "mm_byte_features",
    """
    WITH ch AS (
        SELECT doc_id, ascii(substring(text, CAST(i AS INTEGER) + 1, 1)) AS byte
        FROM (SELECT doc_id, text, unnest(range(len(text))) AS i
              FROM documents)
    ),
    hist AS (
        SELECT doc_id, byte, CAST(count(*) AS BIGINT) AS c
        FROM ch GROUP BY doc_id, byte
    ),
    n AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(byte * c) AS BIGINT) AS sum_bytes
        FROM hist GROUP BY doc_id
    ),
    feat AS (
        SELECT h.doc_id,
               CAST(sum(CAST(floor(-((h.c * 1.0 / n.n) * log2(h.c * 1.0 / n.n))
                                   * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS ent_micro,
               CAST(sum(CASE WHEN h.byte // 32 = 0 THEN h.c ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN h.byte // 32 = 1 THEN h.c ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN h.byte // 32 = 2 THEN h.c ELSE 0 END) AS BIGINT) AS c2,
               CAST(sum(CASE WHEN h.byte // 32 = 3 THEN h.c ELSE 0 END) AS BIGINT) AS c3,
               CAST(sum(CASE WHEN h.byte // 32 = 4 THEN h.c ELSE 0 END) AS BIGINT) AS c4,
               CAST(sum(CASE WHEN h.byte // 32 = 5 THEN h.c ELSE 0 END) AS BIGINT) AS c5,
               CAST(sum(CASE WHEN h.byte // 32 = 6 THEN h.c ELSE 0 END) AS BIGINT) AS c6,
               CAST(sum(CASE WHEN h.byte // 32 = 7 THEN h.c ELSE 0 END) AS BIGINT) AS c7
        FROM hist h JOIN n USING (doc_id) GROUP BY h.doc_id
    )
    SELECT d.doc_id, CAST(coalesce(n.n, 0) AS BIGINT) AS n_bytes,
           floor((n.sum_bytes * 1.0 / n.n) * 1000000 + 0.5) / 1000000 AS mean_byte,
           f.ent_micro / 1000000.0 AS byte_entropy,
           floor(f.c0 * 1000000.0 / n.n + 0.5) / 1000000 AS f0,
           floor(f.c1 * 1000000.0 / n.n + 0.5) / 1000000 AS f1,
           floor(f.c2 * 1000000.0 / n.n + 0.5) / 1000000 AS f2,
           floor(f.c3 * 1000000.0 / n.n + 0.5) / 1000000 AS f3,
           floor(f.c4 * 1000000.0 / n.n + 0.5) / 1000000 AS f4,
           floor(f.c5 * 1000000.0 / n.n + 0.5) / 1000000 AS f5,
           floor(f.c6 * 1000000.0 / n.n + 0.5) / 1000000 AS f6,
           floor(f.c7 * 1000000.0 / n.n + 0.5) / 1000000 AS f7
    FROM documents d
    LEFT JOIN n ON d.doc_id = n.doc_id
    LEFT JOIN feat f ON d.doc_id = f.doc_id
    """,
    doc="mapInPandas feature extraction over binary payloads (Arrow-batched, "
    "zero-copy numpy byte views): mean byte, histogram entropy, 8-bucket "
    "byte-class fractions as SCALAR columns f0..f7 (flat, so the driver's "
    "pandas canonicalizer can sort/hash rows — arrays are unhashable there). "
    "The payload is the deterministic UTF-8 byte view of text (pure-ASCII "
    "corpus, asserted in tests), so the oracle recomputes every feature "
    "from a per-character unnest in SQL; the oracle LEFT JOINs from "
    "documents so an empty payload yields the same (id, 0, NULL...) row "
    "the Spark path emits — parity holds at any scale or generator, not "
    "just corpora with no empty docs. Determinism: all floats derive "
    "from the exact integer histogram with one fixed op order; entropy "
    "rounds each -(p*log2 p) term to integer micros before the integer "
    "sum (order-independent), leaving only the ~1-ulp log2 cross-libm "
    "exposure, margin-tested in tests/test_multimodal.py.",
)
def mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import extract_byte_features, with_binary_payload

    d = with_binary_payload(_t(spark, sf_dir, "documents"))
    return extract_byte_features(d, "doc_id")


@register(
    "mm_decode_features",
    """
    WITH px AS (
        SELECT d.doc_id, x.range AS x, y.range AS y
        FROM documents d, range(16) x, range(8) y
    ),
    m AS (
        SELECT doc_id,
               sum((7 * doc_id + 3 * x + 5 * y) % 256) / 128.0 AS mean_r,
               sum((11 * doc_id + x) % 256) / 128.0 AS mean_g,
               sum((13 * y + doc_id) % 256) / 128.0 AS mean_b
        FROM px GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL
                WHEN d.doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS media_type,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE 16 END AS width,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE 8 END AS height,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL
                ELSE CAST((7 * d.doc_id) % 256 AS INTEGER) END AS px00_r,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE m.mean_r END AS mean_r,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE m.mean_g END AS mean_g,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE m.mean_b END AS mean_b,
           CASE WHEN d.doc_id % 7 = 3 THEN 'error_unknown_format'
                ELSE 'ok' END AS status
    FROM documents d JOIN m ON d.doc_id = m.doc_id
    """,
    doc="REAL image decode through the mapInPandas boundary (replaces the "
    "round-3 NotImplementedError stub): per document a synthetic image "
    "whose pixel (x,y) color is a closed-form function of doc_id is "
    "encoded executor-side as BMP (32 bpp top-down / 24 bpp bottom-up) or "
    "PPM P6 — plus a corrupt-payload stripe — then decoded by the pure-"
    "numpy decoder (operators/multimodal.py): header parse, row padding, "
    "BGR(A) order, vertical flip. Spark round-trips actual bytes; the "
    "oracle computes every decoded feature (dimensions, the orientation-"
    "sensitive (0,0) pixel, exact channel means — 128 px so /128 is an "
    "exact binary division) directly from doc_id in SQL. Corrupt payloads "
    "emit error-status rows (S4 errors-as-data), never stage failures.",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_media, synth_payload_df

    d = synth_payload_df(_t(spark, sf_dir, "documents"))
    return decode_media(d, "doc_id")


@register(
    "mm_video_frame_decode",
    """
    WITH f AS (
        SELECT d.doc_id, g.range AS frame_idx
        FROM documents d, range(0, 7, 2) g
        WHERE g.range < 3 + d.doc_id % 4
    ),
    px AS (
        SELECT f.doc_id, f.frame_idx, x.range AS x, y.range AS y
        FROM f, range(16) x, range(8) y
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
           16 AS width, 8 AS height,
           CAST((7 * doc_id + 11 * frame_idx) % 256 AS INTEGER) AS px00_r,
           sum((7 * doc_id + 3 * x + 5 * y + 11 * frame_idx) % 256) / 128.0
               AS mean_r,
           sum((11 * doc_id + x + 13 * frame_idx) % 256) / 128.0 AS mean_g,
           sum((13 * y + doc_id + 7 * frame_idx) % 256) / 128.0 AS mean_b,
           'ok' AS status
    FROM px GROUP BY doc_id, frame_idx
    """,
    doc="VIDEO path end-to-end: per document a multi-frame payload "
    "(concatenated P6 frames — ffmpeg's image2pipe ppm stream container, "
    "3-6 frames) is generated executor-side; the every-2nd-frame sampling "
    "decision is derived JVM-side (F.sequence over the n_frames metadata "
    "column — never Python); ONE mapInPandas pass walks each stream and "
    "decodes ONLY the sampled frames (skipping others header-by-header), "
    "emitting a row per sampled frame. Frame pixels are a closed-form "
    "function of (doc_id, frame_idx) so the oracle computes every decoded "
    "feature in SQL; 128 px/frame keeps the channel means exact binary "
    "divisions. No shuffle anywhere — scan -> generate -> sample -> "
    "decode is the map-only shape that survives any scale.",
)
def mm_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import synth_video_df, video_frame_features

    v = synth_video_df(_t(spark, sf_dir, "documents"))
    sampled = v.withColumn(
        "sample_idxs",
        F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(2)),
    )
    return video_frame_features(sampled)


@register(
    "mm_resize_features",
    """
    WITH px AS (
        SELECT d.doc_id, x.range AS x, y.range AS y,
               (7 * d.doc_id + 3 * x.range + 5 * y.range) % 256 AS r,
               (13 * y.range + d.doc_id) % 256 AS b
        FROM documents d, range(16) x, range(8) y
        WHERE d.doc_id % 7 <> 3
    ),
    boxes AS (
        SELECT doc_id, x // 2 AS bx, y // 2 AS by,
               sum(r) / 4.0 AS box_r, sum(b) / 4.0 AS box_b
        FROM px GROUP BY doc_id, x // 2, y // 2
    ),
    agg AS (
        SELECT doc_id,
               max(CASE WHEN bx = 0 AND by = 0 THEN box_r END) AS px00_r,
               max(CASE WHEN bx = 7 AND by = 3 THEN box_b END) AS pxlast_b,
               sum(box_r) / 32.0 AS mean_r
        FROM boxes GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE 8 END AS out_w,
           CASE WHEN d.doc_id % 7 = 3 THEN NULL ELSE 4 END AS out_h,
           a.px00_r, a.pxlast_b, a.mean_r,
           CASE WHEN d.doc_id % 7 = 3 THEN 'error_undecodable'
                ELSE 'ok' END AS status
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="Image RESIZE through the decode boundary (the brief's named "
    "multimodal op): decode (BMP or PPM) + exact 2x2 box-mean downsample "
    "in one mapInPandas pass, emitting resized dims, two alignment-"
    "sensitive probe pixels (top-left red / bottom-right blue block "
    "means — wrong block alignment or channel order changes them) and "
    "the resized red mean. Box means over power-of-two blocks are exact "
    "doubles, so the oracle replays them bit-for-bit from the closed-form "
    "pixel model; the corrupt-payload stripe degrades to error rows.",
)
def mm_resize_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_features, synth_payload_df

    d = synth_payload_df(_t(spark, sf_dir, "documents"))
    return resize_features(d, "doc_id", factor=2)


@register(
    "mm_audio_features",
    """
    WITH s AS (
        SELECT d.doc_id, i.range AS i,
               (37 * d.doc_id + 17 * i.range) % 4001 - 2000 AS v
        FROM documents d, range(69) i
        WHERE i.range < 64 + d.doc_id % 5
    ),
    feat AS (
        SELECT doc_id,
               CAST(count(*) AS INTEGER) AS n_samples,
               CAST(max(abs(v)) AS INTEGER) AS peak_abs,
               CAST(sum(v * v) AS BIGINT) AS sum_sq
        FROM s GROUP BY doc_id
    ),
    zc AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN (prev < 0 AND v > 0) OR (prev > 0 AND v < 0)
                             THEN 1 ELSE 0 END) AS INTEGER) AS n_zero_cross
        FROM (SELECT doc_id, v,
                     lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
              FROM s) t
        GROUP BY doc_id
    )
    SELECT f.doc_id, 8000 AS sample_rate, f.n_samples, f.peak_abs, f.sum_sq,
           zc.n_zero_cross, 'ok' AS status
    FROM feat f JOIN zc USING (doc_id)
    """,
    doc="AUDIO path end-to-end: real 16-bit mono PCM WAV payloads "
    "(RIFF/WAVE with proper chunk walking) generated executor-side from a "
    "closed-form int16 waveform, decoded by the pure-struct/numpy parser, "
    "emitting EXACT-INTEGER signal features (peak, energy as sum of "
    "squares, strict sign-change zero crossings) — integer outputs mean "
    "the cross-engine hash needs no float rounding at all. The oracle "
    "replays the waveform from doc_id via generate_series + a lag window.",
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import audio_features, synth_audio_df

    d = synth_audio_df(_t(spark, sf_dir, "documents"))
    return audio_features(d, "doc_id")


@register(
    "sim_topk_bruteforce",
    _TOPK_ORACLE,
    doc="Brute-force cosine top-k against a query vector (vec_id=0). Dot products run "
    "JVM-side via zip_with/aggregate in double precision; ties broken on vec_id. "
    "Scale path is sim_lsh_bucketed.",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, query_vec_id=0, k=25)


@register(
    "sim_ivf_topk",
    None,
    doc="IVF approximate top-k: deterministic-seed coarse quantizer + one "
    "Lloyd refinement, probe the query's 4/16 nearest centroids, exact "
    "cosine within the probed inverted lists. Probe-all equals brute force "
    "exactly (asserted in tests); recall-vs-scan-fraction is the ANN knob.",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_vec_id=0, k=25, n_centroids=16, nprobe=4)


@register(
    "sim_ivf_probeall_topk",
    _TOPK_ORACLE,
    doc="IVF at the oracle-checkable operating point: probing ALL inverted "
    "lists makes the result exactly the brute-force top-k (asserted in "
    "tests as well), so the same DuckDB oracle applies while the query "
    "still exercises the full IVF machinery — deterministic-seed coarse "
    "quantizer, Lloyd refinement, vectorized assignment, per-list "
    "pruning plumbing. The partial-probe variant (sim_ivf_topk, "
    "nprobe=4/16) stays rows-only: its recall-vs-scan-fraction tradeoff "
    "is the ANN knob, not a deterministic answer.",
)
def sim_ivf_probeall_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, query_vec_id=0, k=25, n_centroids=16, nprobe=16)


@register(
    "sim_label_cohesion",
    """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
               WHERE vec_id < 200),
    pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               list_dot_product(a.emb, b.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(b.emb, b.emb))) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT CASE WHEN label_a = label_b THEN 'same_label' ELSE 'cross_label' END AS bucket,
           count(*) AS n_pairs,
           round(avg(cosine), 4) AS mean_cosine
    FROM pairs GROUP BY 1
    """,
    doc="Embedding-space sanity metric: same-label vs cross-label mean cosine over all "
    "pairs of the first 200 vectors. Validates the vector column plumbing end-to-end.",
)
def sim_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("emb"))
    )
    a = e.select(
        F.col("vec_id").alias("vid_a"), F.col("label").alias("label_a"), F.col("emb").alias("emb_a")
    )
    b = e.select(
        F.col("vec_id").alias("vid_b"), F.col("label").alias("label_b"), F.col("emb").alias("emb_b")
    )
    pairs = a.join(b, F.col("vid_a") < F.col("vid_b")).select(
        "label_a", "label_b", cosine_col("emb_a", "emb_b").alias("cosine")
    )
    return (
        pairs.withColumn(
            "bucket",
            F.when(F.col("label_a") == F.col("label_b"), "same_label").otherwise(
                "cross_label"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("cosine"), 4).alias("mean_cosine"),
        )
    )


@register(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < 2000)
    SELECT a.vec_id AS vid_a, b.vec_id AS vid_b,
           round(list_dot_product(a.emb, b.emb)
                 / (sqrt(list_dot_product(a.emb, a.emb))
                    * sqrt(list_dot_product(b.emb, b.emb))), 4) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb)
          / (sqrt(list_dot_product(a.emb, a.emb))
             * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs, EXACT all-pairs baseline (capped to "
    "vec_id<2000 — the quadratic join is the oracle/verify path only; "
    "sim_lsh_bucketed is the scale path). JVM-side sequential double "
    "accumulation matches DuckDB's list_dot_product element order exactly.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import all_pairs_cosine

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2000)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    # Blocked matrix product (see all_pairs_cosine): the join formulations
    # of n^2/2 pairs moved every vector across the Arrow boundary once per
    # PAIR — 65 s as a single-task nested-loop + HOF cosine, ~5 s with
    # repartition + einsum kernel; the blocked form is sub-second compute
    # with one bounded collect of the capped vector set.
    return all_pairs_cosine(e, min_cosine=0.4)


@register(
    "sim_lsh_bucketed",
    None,
    doc="Random-hyperplane (sign) LSH ANN with OR-amplification (16 bands, "
    "AUTO bits-per-band sized to corpus count so per-bucket occupancy stays "
    "~constant): any-band bucket join generates candidates (ids only; "
    "embeddings re-attached post-distinct), exact cosine re-ranks. The "
    "100 TB path: per-band bucket join replaces the quadratic cross join, "
    "and auto band width keeps candidate volume near-linear in n (fixed "
    "64-bucket bands measured scaling exponent 1.08 at sf0.1->sf1 — the "
    "suite's only superlinear query before this). Threshold 0.45 sits "
    "inside the testdata's cosine range so the query is non-vacuous; at "
    "LOW thresholds sign-LSH recall is partial by design (ANN tradeoff; "
    "near-dup thresholds >=0.95 recall ~1.0 across the auto range — "
    "asserted on planted near-duplicates in tests/test_dedup_similarity.py).",
)
def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucketed_pairs

    e = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_pairs(e, bands=16, bits_per_band="auto", min_cosine=0.45)


@register(
    "sim_lsh_recall",
    """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings WHERE vec_id < 2000
    ),
    seed AS (SELECT vec_id, emb FROM base WHERE vec_id < 200),
    planted AS (
        SELECT vec_id, list_concat([emb[1] + 0.1], emb[2:64]) AS emb2
        FROM seed
    ),
    truth AS (
        SELECT s.vec_id FROM seed s JOIN planted p USING (vec_id)
        WHERE list_dot_product(s.emb, p.emb2)
              / (sqrt(list_dot_product(s.emb, s.emb))
                 * sqrt(list_dot_product(p.emb2, p.emb2))) >= 0.95
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ge_90
    FROM truth
    """,
    doc="Recall LEDGER for the sign-LSH ANN path — the driver-attested "
    "quality twin of the rows-only sim_lsh_bucketed (the same idiom that "
    "gave MinHash/SimHash their oracle-backed operating-point twins): "
    "plant one near-duplicate per seed vector DETERMINISTICALLY inside "
    "the query (first component += 0.1, cosine ~0.999 — identical IEEE "
    "double arithmetic on both engines via the same prepend+slice "
    "expression), run the REAL lsh_bucketed_pairs operator (16 bands, "
    "auto bits) over base+planted at the near-dup threshold 0.95 where "
    "the operating point guarantees recall ~1.0, and report (a) the "
    "exact ground-truth pair count — hash-checked against DuckDB "
    "computing the identical construction — and (b) recall >= 90% as a "
    "boolean the oracle emits as literal TRUE. Any pair at cosine >= "
    "0.95 is necessarily a planted pair (the natural corpus maxes out "
    "near 0.6), so the recall denominator is exactly the planted truth "
    "set. The hash-seeded signatures never reach the output — only "
    "their QUALITY does, which is what makes ANN recall driver-visible "
    "instead of pytest-only (tests/test_dedup_similarity.py keeps the "
    "planted-pair recall >= 0.9 assertion).",
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_bucketed_pairs

    base = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2000)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )
    seed = base.filter(F.col("vec_id") < 200)
    # planted twin: first component += 0.1, rest unchanged — the same
    # prepend+slice expression as the oracle (list_concat([emb[1]+0.1],
    # emb[2:64])), so the exact-cosine ground truth matches bit-for-bit
    twin_emb = F.concat(
        F.array(F.element_at(F.col("emb"), 1) + F.lit(0.1)),
        F.slice(F.col("emb"), 2, 63),
    )
    planted = seed.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        twin_emb.alias("emb"),
    )
    from ..operators.similarity import cosine_col

    truth = (
        seed.alias("s")
        .join(
            planted.select(
                (F.col("vec_id") - F.lit(10_000_000)).alias("vec_id"),
                F.col("emb").alias("emb2"),
            ).alias("p"),
            "vec_id",
        )
        .filter(cosine_col("emb", "emb2") >= 0.95)
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    corpus = base.unionByName(planted).select(
        "vec_id", F.col("emb").alias("embedding")
    )
    cand = lsh_bucketed_pairs(
        corpus, bands=16, bits_per_band="auto", min_cosine=0.95
    )
    found = cand.filter(
        F.col("vid_b") == F.col("vid_a") + F.lit(10_000_000)
    ).join(truth.withColumnRenamed("vec_id", "vid_a"), "vid_a", "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .select(
            "n_true",
            (10 * F.col("n_found") >= 9 * F.col("n_true")).alias(
                "recall_ge_90"
            ),
        )
    )


@register(
    "dedup_cluster_assign",
    _CLUSTER_ORACLE,
    doc="Duplicate-CLUSTER assignment: connected components over the "
    "MinHash+LSH near-dup graph (12-gram shingles, 16 bands x 2 rows, "
    "exact-Jaccard verify at 0.2) — the 100 TB composition: candidate "
    "generation is the banded id-only join, never the per-shingle "
    "self-join whose sum(df^2) fan-out is the documented non-scale path "
    "(PERF.md). Pair detection alone can't answer 'keep one doc per "
    "duplicate set' — that needs the transitive closure, which Spark "
    "computes as iterative min-label propagation (operators/graph.py; "
    "one join + grouped min per round, rounds = graph diameter, lineage "
    "truncated per round). The DuckDB oracle stays on the EXACT-pair "
    "recursive CTE (the audit twin): near-dup clusters in this corpus "
    "are tight (J >= ~0.95), so LSH recall is 1.0 and the label sets "
    "coincide — asserted pair-for-pair and label-for-label against the "
    "exact composition at sf0.01 AND sf0.1 in "
    "tests/test_dedup_similarity.py.",
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Labels come from the shared builder (pipeline_common.
    # cluster_labels_lsh), the same one the other cluster-dedup queries use.
    return cluster_labels_lsh(spark, sf_dir)


@register(
    "mm_frame_sample",
    """
    SELECT doc_id,
           unnest(generate_series(0, greatest((n_chars % 100) - 1, 0), 10))
               AS frame_idx
    FROM documents
    """,
    doc="Video frame-sampling plan (operators/multimodal.py): every 10th "
    "frame index per document as exploded (doc, frame_idx) rows, JVM-side "
    "via sequence() — the decode of each sampled frame then crosses the "
    "mapInPandas boundary once per SAMPLED frame, not per frame. Frame "
    "counts derive deterministically from metadata (n_chars % 100 stands "
    "in for the container's frame count). Map-only: generate, no shuffle.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 100).alias("n_frames")
    )
    return frame_sample_plan(d, "doc_id", "n_frames", every_k=10)


@register(
    "emb_label_centroids",
    """
    SELECT label, i AS dim_idx,
           round(avg(embedding[i]), 4) + 0.0 AS centroid_v,
           count(*)                          AS n_members
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    GROUP BY label, i
    """,
    doc="Per-label centroid vectors (the nearest-centroid classifier / "
    "class-balance diagnostic for labeled embedding data): posexplode -> "
    "one hash aggregate keyed on (label, dim). Output is O(labels x dim) "
    "— a broadcast-sized model no matter the corpus size; map-side "
    "partials do the heavy reduction. `+ 0.0` canonicalizes IEEE "
    "negative zero on both sides (see emb_dimension_stats).",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding").alias("pos", "v"))
    return ex.groupBy(
        "label", (F.col("pos") + 1).cast("long").alias("dim_idx")
    ).agg(
        (F.round(F.avg("v"), 4) + F.lit(0.0)).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "emb_int8_quantize",
    """
    WITH scaled AS (
        SELECT vec_id, label,
               list_transform(embedding, y -> CAST(y AS DOUBLE)) AS xd,
               127.0 / list_aggregate(
                   list_transform(embedding, y -> abs(CAST(y AS DOUBLE))),
                   'max') AS scale
        FROM embeddings
    )
    SELECT vec_id, label,
           floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
           floor(list_aggregate(
                     list_transform(
                         xd, y -> abs(y - floor(y * scale + 0.5) / scale)),
                     'max') * 1000000 + 0.5) / 1000000 AS max_err_r,
           CAST(floor(xd[1] * scale + 0.5) AS BIGINT) AS q1,
           CAST(floor(xd[2] * scale + 0.5) AS BIGINT) AS q2,
           CAST(floor(xd[3] * scale + 0.5) AS BIGINT) AS q3,
           CAST(floor(xd[4] * scale + 0.5) AS BIGINT) AS q4
    FROM scaled
    """,
    doc="Symmetric per-vector int8 quantization (the storage/ANN-index "
    "compression step for embedding corpora): scale = 127/max|x|, "
    "q_i = floor(x_i*scale + 0.5) in [-127, 127], plus the max "
    "reconstruction error per vector. All higher-order array functions "
    "(transform/array_max) on the JVM — no UDF, no explode: one row in, "
    "one row out, zero shuffles. Cross-engine determinism: float->double "
    "casts are exact, floor(x+0.5) is the portable round, max (not mean) "
    "keeps the reduction accumulation-order-free.",
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    xd = F.transform(F.col("embedding"), lambda y: y.cast("double"))
    base = e.select(
        "vec_id",
        "label",
        xd.alias("xd"),
        (F.lit(127.0) / F.array_max(F.transform(xd, F.abs))).alias("scale"),
    )
    s = F.col("scale")

    def q(i: int):
        return F.floor(F.element_at("xd", i) * s + F.lit(0.5)).cast("long")

    err = F.array_max(
        F.transform(
            F.col("xd"),
            lambda y: F.abs(y - F.floor(y * s + F.lit(0.5)) / s),
        )
    )
    return base.select(
        "vec_id",
        "label",
        (F.floor(s * 1000000 + F.lit(0.5)) / 1000000).alias("scale_r"),
        (F.floor(err * 1000000 + F.lit(0.5)) / 1000000).alias("max_err_r"),
        q(1).alias("q1"),
        q(2).alias("q2"),
        q(3).alias("q3"),
        q(4).alias("q4"),
    )


@register(
    "dedup_cluster_representative",
    _REP_ORACLE,
    doc="Duplicate-cluster representative selection — the 'which copy do we "
    "KEEP' step that turns cluster assignment into an actual dedup "
    "decision: per connected component, the member with the most content "
    "(n_chars DESC, doc_id as the deterministic tiebreak) plus the "
    "member count. Spark computes it as ONE grouped aggregate over the "
    "labels-x-documents join (max_by on a (n_chars, -doc_id) struct — "
    "no window, no second shuffle); the oracle takes the recursive-CTE + "
    "window route. The labels join is on doc_id, the same key the CC "
    "output is already hashed on. Edges come from the banded-LSH scale "
    "path (_cluster_pairs_lsh) like dedup_cluster_assign; the exact-pair "
    "composition remains the oracle/audit twin.",
)
def dedup_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # Same label builder as dedup_cluster_assign; this query adds only
    # the n_chars join + one grouped max_by.
    labels = cluster_labels_lsh(spark, sf_dir)
    m = labels.join(d.select("doc_id", "n_chars"), "doc_id")
    return m.groupBy("component").agg(
        F.expr(
            "max_by(doc_id, named_struct('a', n_chars, 'b', -doc_id))"
        ).alias("rep_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


@register(
    "dedup_cluster_labels",
    _LABELS_FULL_ORACLE,
    doc="FULL-CORPUS duplicate-cluster label relation (verdict r11 item 5): "
    "every doc_id paired with its component label — the min-label of its "
    "near-dup connected component, or its own id when it is a singleton "
    "(no near-dup edge). This is THE production intermediate at 100 TB: "
    "the relation a curation pipeline materializes exactly once and "
    "every downstream dedup decision (keep/drop, representative pick, "
    "contamination audit) joins against; dedup_cluster_assign exposes "
    "only the edge-connected subset, so this entry is the hash gate and "
    "sf1 Spark-to-Spark parity anchor on the COMPLETE label map. Spark "
    "side: the shared label builder (cluster_labels_lsh — LSH "
    "candidates + exact verify + min-label fixpoint, eagerly "
    "checkpointed) left-joined to the doc_id spine "
    "with coalesce(component, doc_id); one exchange on doc_id, labels "
    "already hashed on that key. Oracle: the shared exact-pair recursive "
    "CTE with the final SELECT swapped for the documents left join "
    "(oracle cost is the CTE's sum(df^2) pair fan-out — excluded at sf1 "
    "like the other recursive-CTE oracles; the sf1 gate runs "
    "Spark-vs-Spark parity instead).",
)
def dedup_cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id")
    labels = cluster_labels_lsh(spark, sf_dir)
    return d.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )


# ---------------------------------------------------------------------------
# Clustering: k-means training (the IVF index build) and k-NN join
# ---------------------------------------------------------------------------


@register(
    "emb_kmeans_lloyd",
    f"""
    WITH {_kmeans_assign_sql("8")}
    SELECT cid AS cluster_id, count(*) AS n_members,
           floor(avg(d) * 1e4 + 0.5) / 1e4 AS avg_dist,
           min(vec_id) AS first_member_id
    FROM a2 GROUP BY cid
    """,
    doc="Distributed k-means trainer (Lloyd, k=8, 2 assignment rounds from "
    "lowest-id seeds) — the 100 TB way to BUILD the centroid table that "
    "ivf_assign searches with. Assignment is map-only (centroids are a "
    "driver-held k x dim model embedded as plan literals, argmin via "
    "array_sort over (dist, cid) structs); the update is posexplode + one "
    "hash aggregate whose exchange carries k x dim partials, never n x dim "
    "rows. Distances round to 9 dp pre-argmin and refined centroids to "
    "6 dp pre-round-2, so a DuckDB oracle replays the whole iteration "
    "bit-identically. Output: per-cluster size, mean distance, lowest "
    "member id (operators/clustering.py:kmeans_lloyd; oracle: "
    "_kmeans_assign_sql with k = 8).",
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import kmeans_lloyd

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    assigned = kmeans_lloyd(e, k=8, iters=2, id_col="vec_id", vec_col="e")
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.floor(F.avg("d") * 1e4 + 0.5) / 1e4).alias("avg_dist"),
        F.min("vec_id").alias("first_member_id"),
    )


# Scale-gated k for the PINNED-k SemDeDup twin (verdict r9 item 5): up to
# the documented bound (n <= 32768 vectors — covers every oracle-gated
# tree: sf0.01 through the generated sf1) k stays the attested constant 8,
# so those hashes are bit-for-bit unchanged; above the bound the pinned
# constant would make cluster size n/8 (quadratic within-cluster pair
# volume — the 410 s sf10 sweep entry), so k switches to the SAME
# next-pow2(n/2048) rule as dedup_semantic_autok on BOTH engines. The
# gate is data-derived (count), not sf-flagged, so Spark and DuckDB
# always agree at any tree.
_SEMANTIC_K_GATE = 32768
_SEMANTIC_K_SQL = f"CASE WHEN n <= {_SEMANTIC_K_GATE} THEN 8 ELSE {_AUTOK_SQL} END"


def _autok(n: int) -> int:
    """The driver-side twin of ``_AUTOK_SQL`` for ``n`` vectors."""
    return max(8, 1 << max((n - 1) // 2048, 1).bit_length())


@register(
    "dedup_semantic",
    f"""
    WITH {_kmeans_assign_sql(_SEMANTIC_K_SQL)},
    p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             floor(list_cosine_similarity(a.e, b.e) * 1e6 + 0.5) / 1e6 AS c
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dropped AS (
      SELECT ib AS vec_id, min(ia) AS dup_of FROM p WHERE c >= 0.45 GROUP BY ib
    )
    SELECT a2.vec_id, a2.cid AS cluster_id,
           CASE WHEN d.vec_id IS NULL THEN 'kept'
                ELSE 'dropped_semantic' END AS verdict,
           d.dup_of
    FROM a2 LEFT JOIN dropped d USING (vec_id)
    """,
    doc="SemDeDup semantic deduplication (Abbas et al. 2023): k-means the "
    "embedding space (the driver-replayable Lloyd trainer, k=8 x 2 "
    "rounds, lowest-id seeds), then near-dup search ONLY within clusters "
    "— all-pairs cosine's n^2/2 collapses to sum(|cluster|^2) (15.6k of "
    "124.7k pairs here, and at corpus scale k grows with n so cluster "
    "size stays bounded and the cluster-keyed self-join parallelizes). "
    "Verdict: dropped iff a lower-id cluster member has cosine >= 0.45 "
    "(the deterministic keep-lowest-id variant of the paper's keep-one "
    "rule); dup_of = that lowest id. Cosine half-up floored to 6 dp on "
    "both engines pre-threshold; 2-ulp accumulation margins asserted in "
    "tests/test_dedup_similarity.py "
    "(operators/clustering.py:semantic_dedup; oracle: the k-means replay "
    "_kmeans_assign_sql with k = _SEMANTIC_K_SQL). Round 10: k is pinned at "
    "8 only up to the 32768-vector gate (every oracle-attested tree); "
    "beyond it both engines switch to the autok next-pow2(n/2048) rule "
    "and the BLAS assignment twin, so this registration no longer costs "
    "quadratic within-cluster pair volume at the sf10 sweep "
    "(410 s pinned -> autok-shaped).",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import semantic_dedup

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    n = e.count()  # bounded scalar: one long to the driver (sizes k)
    if n <= _SEMANTIC_K_GATE:
        # attested operating point: pinned k, HOF assignment twin
        return semantic_dedup(e, tau=0.45, k=8, iters=2)
    return semantic_dedup(e, tau=0.45, k=_autok(n), iters=2, vectorized_assign=True)


@register(
    "sim_knn_join",
    """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e FROM emb WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS neighbor_id, e FROM emb WHERE vec_id % 50 <> 0),
    p AS (
      SELECT q.query_id, c.neighbor_id,
             floor(list_cosine_similarity(q.e, c.e) * 1e6 + 0.5) / 1e6
               AS cosine
      FROM q CROSS JOIN c)
    SELECT query_id, neighbor_id, cosine, rk FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM p) t WHERE rk <= 3
    """,
    doc="k-NN JOIN: top-3 cosine neighbors for EVERY query in a query set "
    "(vs sim_topk_bruteforce's single query). The query side is a "
    "driver-held matrix (bounded by contract); ONE mapInPandas corpus "
    "pass scores each Arrow batch against all queries with a single BLAS "
    "matmul and emits only per-batch top-k candidates — selected by an "
    "integer composite key that reproduces the global (cosine DESC, id) "
    "order exactly — so the final per-query window sees O(partitions x "
    "|Q| x k) rows, never the |Q| x |C| pair table "
    "(operators/clustering.py:knn_join).",
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import knn_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") % 50 == 0).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = emb.filter(F.col("vec_id") % 50 != 0).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    return knn_join(q, c, k=3)


@register(
    "dedup_incremental_batch",
    """
    WITH fp AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS fingerprint
        FROM documents
    ),
    batch AS (
        SELECT doc_id, fingerprint,
               row_number() OVER (
                   PARTITION BY fingerprint ORDER BY doc_id) AS rn
        FROM fp WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    ),
    index_fps AS (
        SELECT DISTINCT fingerprint
        FROM fp WHERE source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')
    )
    SELECT b.doc_id,
           CASE WHEN i.fingerprint IS NOT NULL THEN 'dup_of_index'
                WHEN b.rn > 1 THEN 'dup_in_batch'
                ELSE 'new' END AS verdict
    FROM batch b LEFT JOIN index_fps i USING (fingerprint)
    """,
    doc="Incremental dedup — the production shape for continuous crawl "
    "ingestion: an incoming batch (sources src0-src4 here) dedups "
    "against the EXISTING corpus index without re-deduping the corpus "
    "itself. Per batch doc: 'dup_of_index' (fingerprint already "
    "ingested), 'dup_in_batch' (first occurrence wins within the batch, "
    "by doc_id), else 'new'. One fingerprint-keyed window over the "
    "batch + one left join against the distinct index fingerprints — "
    "window and join share the same shuffle key, so the exchange is "
    "reused. At 100 TB the index side is a persisted fingerprint table "
    "(corpus-sized, so a shuffle hash join — never broadcast) and only "
    "the BATCH is scanned fresh; the pushed source-IN filters mean "
    "neither side reads the other's bytes.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    batch_srcs = ["src0", "src1", "src2", "src3", "src4"]
    fp = _content_fingerprint()
    batch = (
        d.filter(F.col("source").isin(batch_srcs))
        .select("doc_id", fp.alias("fingerprint"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy("doc_id")
            ),
        )
    )
    index_fps = (
        d.filter(~F.col("source").isin(batch_srcs))
        .select(fp.alias("fingerprint"))
        .distinct()
        .withColumn("in_index", F.lit(1))
    )
    return batch.join(index_fps, "fingerprint", "left").select(
        "doc_id",
        F.when(F.col("in_index").isNotNull(), "dup_of_index")
        .when(F.col("rn") > 1, "dup_in_batch")
        .otherwise("new")
        .alias("verdict"),
    )


@register(
    "emb_pca_power_iteration",
    """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cr AS (
        SELECT i, j, floor(sum(e[i] * e[j]) * 1e6 + 0.5) / 1e6 AS c
        FROM emb,
             unnest(generate_series(1, 64)) AS ti(i),
             unnest(generate_series(1, 64)) AS tj(j)
        GROUP BY i, j
    ),
    v1r AS (SELECT i, sum(c) * 0.125 AS w FROM cr GROUP BY i),
    n1 AS (SELECT sqrt(sum(w * w)) AS nrm FROM v1r),
    v1 AS (SELECT i, floor(w / nrm * 1e9 + 0.5) / 1e9 AS v FROM v1r, n1),
    v2r AS (
        SELECT cr.i, sum(cr.c * v1.v) AS w
        FROM cr JOIN v1 ON cr.j = v1.i GROUP BY cr.i
    ),
    n2 AS (SELECT sqrt(sum(w * w)) AS nrm FROM v2r),
    v2 AS (SELECT i, floor(w / nrm * 1e9 + 0.5) / 1e9 AS v FROM v2r, n2),
    proj AS (
        SELECT vec_id, sum(e[t.i] * v2.v) AS p
        FROM emb, unnest(generate_series(1, len(e))) AS t(i)
        JOIN v2 ON v2.i = t.i
        GROUP BY vec_id
    )
    SELECT vec_id, floor(p * 1e6 + 0.5) / 1e6 AS pc1 FROM proj
    """,
    doc="Distributed power iteration toward the corpus Gram matrix's top "
    "direction — the dimensionality-reduction pass of an embedding "
    "pipeline (operators/clustering.py:power_iteration_top_direction). "
    "The Gram matrix is ONE corpus pass: a BLAS X^T.X per Arrow batch "
    "emitting 64x64 partials (the outer-product explode would be 4096 "
    "JVM rows per vector; the matmul is the documented vectorization "
    "exception), summed into a d^2-row relation — bounded at any corpus "
    "size, so it lands driver-side under the same bounded-index contract "
    "as the k-means centroids. Two iteration rounds run on the driver "
    "with 9-dp rounding per round (Gram entries rounded 6 dp first), "
    "which the oracle replays bit-identically in SQL; the projection "
    "back onto the corpus is map-only with the final direction as a "
    "literal. Start vector 1/sqrt(64) = 0.125 is exactly representable, "
    "so round 1 is pure rational arithmetic. Convergence is the "
    "standard (lambda2/lambda1)^k rate and needs a spectral gap: the "
    "driver's synthetic embeddings are isotropic by construction "
    "(lambda1/lambda2 ~ 1.07), so THIS registered operating point "
    "exercises the distributed machinery and its cross-engine replay; "
    "the planted-spike test (test_clustering.py) demonstrates the "
    "convergent regime the operator exists for.",
)
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import power_iteration_top_direction

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    v = power_iteration_top_direction(e, "e", iters=2)
    varr = F.array(*[F.lit(float(x)) for x in v])
    proj = F.aggregate(
        F.zip_with("e", varr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id", (F.floor(proj * 1e6 + 0.5) / 1e6).alias("pc1")
    )


@register(
    "dedup_multi_signal_clusters",
    """
    WITH RECURSIVE fp AS (
        SELECT doc_id, md5(lower(trim(text))) AS f FROM documents
    ),
    fstar AS (
        SELECT f, min(doc_id) AS root FROM fp GROUP BY f HAVING count(*) > 1
    ),
    text_pairs AS (
        SELECT s.root AS doc_a, p.doc_id AS doc_b
        FROM fstar s JOIN fp p USING (f) WHERE p.doc_id > s.root
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
          FROM embeddings WHERE vec_id < 2000),
    emb_pairs AS (
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))) >= 0.4
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM text_pairs
        UNION
        SELECT doc_a, doc_b FROM emb_pairs
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
    """,
    doc="Multi-signal duplicate clustering — the production dedup shape: "
    "UNION the edge sets from two independent signals (exact content "
    "fingerprint star-pairs; embedding-cosine >= 0.4 from the bounded "
    "exact all-pairs path shared with dedup_embedding_cosine) and run "
    "ONE connected-components pass over the combined graph, so a "
    "document caught by either signal lands in the same cluster as its "
    "transitive duplicates across BOTH signals. Scale: the text edges "
    "are one fingerprint aggregate (star edges to the min doc, never "
    "the within-group quadratic); the embedding edges ride the "
    "documented bounded/exact audit path (sim_lsh_bucketed is the scale "
    "generator to swap in at 100 TB); CC is the same pointer-doubling "
    "operator as dedup_cluster_assign. Oracle: recursive-CTE closure "
    "over the identical SQL edge union.",
)
def dedup_multi_signal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components
    from ..operators.similarity import all_pairs_cosine

    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", _content_fingerprint().alias("f"))
    stars = (
        fp.groupBy("f")
        .agg(F.min("doc_id").alias("root"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )
    text_pairs = (
        fp.join(stars, "f")
        .filter(F.col("doc_id") > F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 2000)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    emb_pairs = all_pairs_cosine(e, min_cosine=0.4).select(
        F.col("vid_a").alias("doc_a"), F.col("vid_b").alias("doc_b")
    )
    edges = text_pairs.unionByName(emb_pairs).distinct()
    return connected_components(edges, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )


@register(
    "emb_arrow_norm_audit",
    """
    WITH q AS (
        SELECT label,
               CAST(list_sum(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                      * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               )) AS BIGINT) AS sum_sq
        FROM embeddings
    )
    SELECT label,
           count(*)                          AS n,
           min(sum_sq)                       AS min_sq,
           max(sum_sq)                       AS max_sq,
           CAST(sum(sum_sq) AS BIGINT)       AS total_sq
    FROM q GROUP BY label
    """,
    doc="Per-label embedding-norm audit via mapInArrow "
    "(operators/similarity.py:arrow_sq_norms) — the RecordBatch-level "
    "custom-compute modality: zero-copy Arrow list buffers straight into "
    "one vectorized numpy pass per batch (quantize to int64 micro-units, "
    "offset-difference over a flat cumulative sum), no pandas "
    "conversion and no per-row Python. Exact integer arithmetic makes a "
    "kernel over FLOAT vectors hash-checkable cross-engine — the audit a "
    "pipeline runs to catch un-normalized or corrupted embedding shards "
    "before they poison ANN indexes. Map-only below the final per-label "
    "aggregate.",
)
def emb_arrow_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import arrow_sq_norms

    e = _t(spark, sf_dir, "embeddings")
    norms = arrow_sq_norms(e, "vec_id", "embedding", keep=["label"])
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("sum_sq").alias("min_sq"),
        F.max("sum_sq").alias("max_sq"),
        F.sum("sum_sq").cast("long").alias("total_sq"),
    )


@register(
    "dedup_sorted_neighborhood",
    """
    WITH ranked AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY text, doc_id) AS g
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.g - a.g AS INTEGER) AS gap,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
    FROM ranked a JOIN ranked b ON b.g > a.g AND b.g <= a.g + 4
    WHERE levenshtein(a.text, b.text) <= 60
    """,
    doc="Sorted-neighborhood dedup (Hernandez & Stolfo 1995 merge/purge) — "
    "the third near-dup METHOD family next to MinHash-LSH and SimHash: "
    "sort by a blocking key (here the text itself + id tiebreak, a total "
    "order identical under Spark's and DuckDB's binary string collation), "
    "compare each record with only its 4 sort-successors, keep pairs "
    "within Levenshtein 60. O(n log n + 4n) comparisons, no signature "
    "state. The distributed global rank comes from global_sort_rank "
    "(operators/dedup.py): ONE range exchange + per-partition row_number "
    "+ broadcast partition-count offsets (the only driver state, one long "
    "per partition) — never a single-partition global window; neighbor "
    "pairing is then a keyed EQUI-join on rank (rank_b = rank_a + j, j "
    "exploded 1..4), balanced at any scale. The edit-distance filter uses "
    "Spark's bounded levenshtein(a, b, threshold) which abandons a pair "
    "early once the bound is exceeded.",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import sorted_neighborhood_pairs

    d = _t(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(
        d, "doc_id", "text", window=4, max_distance=60
    )


@register(
    "sim_hard_negatives",
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
    ),
    a AS (SELECT * FROM v WHERE vec_id < 100),
    scored AS (
        SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
               round(list_dot_product(a.emb, c.emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(c.emb, c.emb))), 4) AS cosine
        FROM a JOIN v c ON c.label <> a.label
    )
    SELECT anchor_id, cand_id AS negative_id, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cosine DESC, cand_id) AS rk
          FROM scored) t
    WHERE rk <= 1
    """,
    doc="Hard-negative mining for contrastive training: for each anchor "
    "(vec_id < 100) the single most-similar vector with a DIFFERENT "
    "label — the negatives that actually move a contrastive loss. "
    "Exact top-1 by rounded cosine with vec_id tiebreak (ties broken on "
    "the 4-dp ROUNDED value so both engines break the same ties). Plan: "
    "anchors broadcast against the corpus (BroadcastNestedLoopJoin on "
    "the label inequality — the anchor batch is the bounded side by "
    "contract), cosine JVM-side via zip_with/aggregate, then ONE "
    "partial-aggregated max_by struct per anchor, so only |anchors| "
    "rows reach the exchange. At corpus scale the same contract as "
    "sim_topk_bruteforce applies: this is the exact baseline; the ANN "
    "path for unbounded anchor sets is label-filtered sim_knn_join / "
    "IVF probing.",
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    anchors = e.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("a_label"),
        F.col("emb").alias("a_emb"),
    )
    cos4 = F.round(cosine_col("a_emb", "emb"), 4)
    scored = (
        F.broadcast(anchors)
        .join(e, F.col("label") != F.col("a_label"))
        .select(
            "anchor_id",
            F.col("vec_id").alias("cand_id"),
            cos4.alias("cosine"),
        )
    )
    best = scored.groupBy("anchor_id").agg(
        F.max(
            F.struct(
                F.col("cosine").alias("c"),
                (-F.col("cand_id")).alias("neg_vid"),
            )
        ).alias("b")
    )
    return best.select(
        "anchor_id",
        (-F.col("b.neg_vid")).cast("long").alias("negative_id"),
        F.col("b.c").alias("cosine"),
    )


@register(
    "sim_pq_adc_topk",
    """
    WITH v AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))
                   AS a
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, s.sub,
               v.a[s.sub * 4 + 1 : s.sub * 4 + 4] AS sv
        FROM v CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS sub) s
    ),
    ranked AS (
        SELECT vec_id, sub, sv,
               row_number() OVER (
                   PARTITION BY sub
                   ORDER BY list_dot_product(sv, sv), vec_id) AS rk,
               count(*) OVER (PARTITION BY sub) AS n
        FROM sub
    ),
    cent0 AS (
        SELECT r.sub, c.cid, r.sv AS cv
        FROM ranked r
        JOIN (SELECT unnest(generate_series(0, 15)) AS cid) c
          ON r.rk = ((c.cid + 1) * r.n) // 17
    ),
    asg1 AS (
        SELECT vec_id, sub, sv, cid FROM (
            SELECT s.vec_id, s.sub, s.sv, c.cid,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv),
                                c.cid) AS rn
            FROM sub s JOIN cent0 c USING (sub)) t
        WHERE rn = 1
    ),
    cent1 AS (
        SELECT sub, cid,
               [CAST(floor(sum(sv[1]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[2]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[3]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[4]) * 1.0 / count(*)) AS BIGINT)] AS cv
        FROM asg1 GROUP BY sub, cid
    ),
    asg2 AS (
        SELECT vec_id, sub, sv, cid FROM (
            SELECT s.vec_id, s.sub, s.sv, c.cid,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv),
                                c.cid) AS rn
            FROM sub s JOIN cent1 c USING (sub)) t
        WHERE rn = 1
    ),
    cent2 AS (
        SELECT sub, cid,
               [CAST(floor(sum(sv[1]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[2]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[3]) * 1.0 / count(*)) AS BIGINT),
               CAST(floor(sum(sv[4]) * 1.0 / count(*)) AS BIGINT)] AS cv
        FROM asg2 GROUP BY sub, cid
    ),
    codes AS (
        SELECT vec_id, sub, cid FROM (
            SELECT s.vec_id, s.sub, s.sv, c.cid,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub
                       ORDER BY list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv) + list_dot_product(c.cv, c.cv),
                                c.cid) AS rn
            FROM sub s JOIN cent2 c USING (sub)) t
        WHERE rn = 1
    ),
    qsub AS (SELECT sub, sv AS qv FROM sub WHERE vec_id = 0),
    dt AS (
        SELECT c.sub, c.cid,
               CAST(list_dot_product(q.qv, q.qv) - 2 * list_dot_product(q.qv, c.cv) + list_dot_product(c.cv, c.cv) AS BIGINT) AS qd
        FROM cent2 c JOIN qsub q USING (sub)
    )
    SELECT k.vec_id, CAST(sum(d.qd) AS BIGINT) AS adc_dist2
    FROM codes k JOIN dt d ON k.sub = d.sub AND k.cid = d.cid
    WHERE k.vec_id <> 0
    GROUP BY k.vec_id
    ORDER BY adc_dist2, vec_id
    LIMIT 25
    """,
    doc="Product-quantization ANN with asymmetric distance computation "
    "(Jegou et al. 2011) at the oracle-checkable operating point — the "
    "memory-compression ANN path that completes the similarity family "
    "(brute force / IVF / sign-LSH / kNN-join / PQ): 64-dim vectors "
    "fixed-pointed to 1e6-scaled integers, split into 16 subspaces of 4 (a 16x16 codebook, 64-bit codes; measured recall@25 of the exact-L2 top-10 = 0.8 on the sf0.01 corpus), "
    "codebooks TRAINED by two unrolled integer-Lloyd rounds from "
    "order-statistic seeds — re-centering on floor(sum/count), a floor "
    "that is provably exact in double because a non-integer quotient's "
    "fraction (>= 1/count) dwarfs the division's ~2e-16 error — so the "
    "SQL oracle replays seeds, refinement, codes and ADC CTE-for-CTE "
    "(the PQ analog of IVF's probe-all twin). Codes = integer-exact "
    "squared-L2 argmin with lowest-id ties, ADC = broadcast (8x8 "
    "integer table per subspace) lookups + exact integer sum. Every dot product of 1e6-scaled ints stays below 2^53, so "
    "DuckDB's double-typed list_dot_product computes them EXACTLY — no "
    "float ever reaches an ordering. Vectors shuffle once per subspace "
    "rank (partitioned by subspace, never a single-partition window); "
    "code rows are the only other exchange (partial-agg argmin); top-k "
    "is TakeOrderedAndProject.",
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import pq_adc_topk

    e = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(e, "vec_id", "embedding", query_vec_id=0, k=25)


@register(
    "sim_mmr_diversified_topk",
    """
    WITH v AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))
                   AS a
        FROM embeddings
    ),
    q AS (SELECT a FROM v WHERE vec_id = 0),
    rel AS (
        SELECT v.vec_id, CAST(list_dot_product(v.a, q.a) AS BIGINT) AS rel, v.a
        FROM v, q WHERE v.vec_id <> 0
    ),
    pool AS (SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT 25),
    s1 AS (
        SELECT vec_id, a, CAST(7 * rel AS BIGINT) AS score
        FROM pool ORDER BY rel DESC, vec_id LIMIT 1
    ),
    c2 AS (
        SELECT p.vec_id, p.a, p.rel,
               max(CAST(list_dot_product(p.a, s.a) AS BIGINT)) AS ms
        FROM pool p, s1 s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM s1)
        GROUP BY p.vec_id, p.a, p.rel
    ),
    s2 AS (
        SELECT vec_id, a, CAST(7 * rel - 3 * ms AS BIGINT) AS score
        FROM c2 ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel2 AS (SELECT vec_id, a FROM s1 UNION ALL SELECT vec_id, a FROM s2),
    c3 AS (
        SELECT p.vec_id, p.a, p.rel,
               max(CAST(list_dot_product(p.a, s.a) AS BIGINT)) AS ms
        FROM pool p, sel2 s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel2)
        GROUP BY p.vec_id, p.a, p.rel
    ),
    s3 AS (
        SELECT vec_id, a, CAST(7 * rel - 3 * ms AS BIGINT) AS score
        FROM c3 ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel3 AS (SELECT vec_id, a FROM sel2 UNION ALL SELECT vec_id, a FROM s3),
    c4 AS (
        SELECT p.vec_id, p.a, p.rel,
               max(CAST(list_dot_product(p.a, s.a) AS BIGINT)) AS ms
        FROM pool p, sel3 s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel3)
        GROUP BY p.vec_id, p.a, p.rel
    ),
    s4 AS (
        SELECT vec_id, a, CAST(7 * rel - 3 * ms AS BIGINT) AS score
        FROM c4 ORDER BY score DESC, vec_id LIMIT 1
    ),
    sel4 AS (SELECT vec_id, a FROM sel3 UNION ALL SELECT vec_id, a FROM s4),
    c5 AS (
        SELECT p.vec_id, p.a, p.rel,
               max(CAST(list_dot_product(p.a, s.a) AS BIGINT)) AS ms
        FROM pool p, sel4 s
        WHERE p.vec_id NOT IN (SELECT vec_id FROM sel4)
        GROUP BY p.vec_id, p.a, p.rel
    ),
    s5 AS (
        SELECT vec_id, a, CAST(7 * rel - 3 * ms AS BIGINT) AS score
        FROM c5 ORDER BY score DESC, vec_id LIMIT 1
    )
    SELECT CAST(1 AS INTEGER) AS pick, vec_id, score AS mmr_score FROM s1
    UNION ALL SELECT 2, vec_id, score FROM s2
    UNION ALL SELECT 3, vec_id, score FROM s3
    UNION ALL SELECT 4, vec_id, score FROM s4
    UNION ALL SELECT 5, vec_id, score FROM s5
    """,
    doc="Maximal Marginal Relevance diversified retrieval (Carbonell & "
    "Goldstein 1998): greedy top-5 from the relevance top-25 pool "
    "maximizing 7*rel - 3*max_sim_to_selected (lambda=0.7 as an exact "
    "integer split) — the dedup-aware retrieval a training pipeline uses "
    "to keep near-identical passages out of one context window. "
    "Integer-exact: 1e6-scaled fixed-point vectors, integer dot products "
    "below 2^53 (DuckDB's double list_dot_product replays them exactly), "
    "ties to the lowest vec_id; the oracle unrolls all five greedy steps "
    "as CTEs. Distributed stage = relevance scoring + TakeOrdered pool "
    "over the corpus; the greedy re-rank is five limit-1 driver steps "
    "over the KB-sized checkpointed pool (the BPE bounded-driver-state "
    "class) because MMR is sequential in k by definition "
    "(operators/similarity.py:mmr_diversified_topk).",
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import mmr_diversified_topk

    e = _t(spark, sf_dir, "embeddings")
    return mmr_diversified_topk(e, "vec_id", "embedding", query_vec_id=0, k=5)


@register(
    "dedup_semantic_autok",
    f"""
    WITH {_kmeans_assign_sql(_AUTOK_SQL)},
    p AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             floor(list_cosine_similarity(a.e, b.e) * 1e6 + 0.5) / 1e6 AS c
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dropped AS (
      SELECT ib AS vec_id, min(ia) AS dup_of FROM p WHERE c >= 0.45 GROUP BY ib
    )
    SELECT a2.vec_id, a2.cid AS cluster_id,
           CASE WHEN d.vec_id IS NULL THEN 'kept'
                ELSE 'dropped_semantic' END AS verdict,
           d.dup_of
    FROM a2 LEFT JOIN dropped d USING (vec_id)
    """,
    doc="SemDeDup at the SCALE operating point: k is no longer a pinned "
    "constant but GROWS with the corpus — k = max(8, next power of two "
    "above n/2048), computed from the exact bounded count identically "
    "on both engines (binary-bit-length arithmetic, no libm log2; the "
    "driver-side Python and the oracle's format('{:b}') agree for "
    "every n). This enforces in code what dedup_semantic's doc only "
    "promised: cluster size stays ~2048 regardless of n, so the "
    "within-cluster pair volume is ~n x 2048 (linear, parallel across "
    "k keys) instead of n^2/k — at the generated sf10 (200k vectors) "
    "k=128 cuts the pair table 16x vs the pinned-k form's 410 s sweep "
    "entry. Assignment uses the BLAS mapInPandas twin "
    "(vectorized_assign=True — the HOF argmin interprets k struct "
    "lambdas per row and stops being viable past k~16), which is "
    "bit-equal to the HOF form by the same integer-grid argument as "
    "sim_pq_adc_topk's Arrow kernel. Fixed-k dedup_semantic stays "
    "registered as the driver-attested operating-point twin. Oracle: the "
    "k-means replay _kmeans_assign_sql with k = _AUTOK_SQL.",
)
def dedup_semantic_autok(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import semantic_dedup

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    n = e.count()  # bounded scalar: one long to the driver (sizes k)
    return semantic_dedup(e, tau=0.45, k=_autok(n), iters=2, vectorized_assign=True)


@register(
    "sim_matryoshka_prefix_eval",
    """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    m AS (SELECT greatest(100, CAST(ceil(count(*) / 8000.0) AS BIGINT))
              AS modulus FROM emb),
    q AS (SELECT vec_id AS query_id, e, e[1:16] AS e16
          FROM emb, m WHERE vec_id % m.modulus = 7),
    c AS (SELECT vec_id AS neighbor_id, e, e[1:16] AS e16
          FROM emb, m WHERE vec_id % m.modulus <> 7),
    pf AS (
      SELECT q.query_id, c.neighbor_id,
             floor(list_cosine_similarity(q.e, c.e) * 1e6 + 0.5) / 1e6
               AS cosine
      FROM q CROSS JOIN c),
    pp AS (
      SELECT q.query_id, c.neighbor_id,
             floor(list_cosine_similarity(q.e16, c.e16) * 1e6 + 0.5) / 1e6
               AS cosine
      FROM q CROSS JOIN c),
    f1 AS (SELECT query_id, neighbor_id AS full_neighbor_id,
                  cosine AS full_cosine
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rk FROM pf)
           WHERE rk = 1),
    p1 AS (SELECT query_id, neighbor_id AS prefix_neighbor_id,
                  cosine AS prefix_cosine
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rk FROM pp)
           WHERE rk = 1)
    SELECT f1.query_id, full_neighbor_id, full_cosine,
           prefix_neighbor_id, prefix_cosine,
           CAST(CASE WHEN full_neighbor_id = prefix_neighbor_id
                THEN 1 ELSE 0 END AS BIGINT) AS top1_agree
    FROM f1 JOIN p1 USING (query_id)
    """,
    doc="Matryoshka / prefix-truncation retrieval evaluation (Kusupati et "
    "al. 2022, public): for every query vector (vec_id % m = 7 with "
    "m = max(100, ceil(n/8000)) computed from the exact corpus count "
    "identically on both engines — scale-gated so the driver-held query "
    "set stays <= 8000 rows under knn_join's 10k bounded-query contract "
    "at ANY corpus size, r11 advice), the top-1 neighbor "
    "under FULL 64-dim cosine next to the top-1 under the first-16-dims "
    "prefix cosine, with the agreement bit — the diagnostic that tells "
    "an embedding pipeline whether cheap truncated vectors can serve "
    "first-stage retrieval (the production pattern: prefix ANN, "
    "full-dim re-rank). Both scorings are the sim_knn_join shape: the "
    "query side is a bounded driver-held matrix, ONE mapInPandas corpus "
    "pass per representation scores each Arrow batch with a single BLAS "
    "matmul and emits only per-batch top-1 candidates via the integer "
    "composite key (round(cos*1e6), id) that reproduces the global "
    "order exactly — never a |Q| x |C| pair table; the oracle states "
    "the same semantics as the plain cross join. Query/candidate sets "
    "are disjoint so self-matches cannot mask disagreement.",
)
def sim_matryoshka_prefix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import knn_join

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # scale-gated query modulus (r11 advice, low): a fixed 1% fraction
    # outgrows knn_join's driver-holdable 10k query bound past 1M
    # vectors; m grows with the corpus so |Q| <= 8000 at any sf. One
    # bounded long to the driver, same integer on both engines.
    n = emb.count()
    m = max(100, -(-n // 8000))
    q = emb.filter(F.col("vec_id") % m == 7).withColumnRenamed(
        "vec_id", "query_id"
    )
    c = emb.filter(F.col("vec_id") % m != 7).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    full = knn_join(q, c, k=1).select(
        "query_id",
        F.col("neighbor_id").alias("full_neighbor_id"),
        F.col("cosine").alias("full_cosine"),
    )
    q16 = q.select("query_id", F.slice("e", 1, 16).alias("e"))
    c16 = c.select("neighbor_id", F.slice("e", 1, 16).alias("e"))
    pre = knn_join(q16, c16, k=1).select(
        "query_id",
        F.col("neighbor_id").alias("prefix_neighbor_id"),
        F.col("cosine").alias("prefix_cosine"),
    )
    return full.join(pre, "query_id").select(
        "query_id",
        "full_neighbor_id",
        "full_cosine",
        "prefix_neighbor_id",
        "prefix_cosine",
        F.when(
            F.col("full_neighbor_id") == F.col("prefix_neighbor_id"), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("top1_agree"),
    )


@register(
    "dedup_survivorship_by_source",
    _SURVIVORSHIP_ORACLE,
    doc="Per-source dedup SURVIVORSHIP: how many of each source's "
    "documents survive near-dup deduplication when one representative "
    "is kept per duplicate cluster (the dedup_cluster_representative "
    "rule: n_chars DESC, doc_id as tiebreak; singletons keep "
    "themselves) — the data-valuation readout a curation pipeline "
    "reports per ingest source ('source X loses 31% of its docs to "
    "dedup'), complementing txt_ngram_novelty's additive-content view "
    "with the subtractive one. Consumer of the shared label builder "
    "(pipeline_common.cluster_labels_lsh — LSH + CC fixpoint, as in "
    "dedup_cluster_assign/_representative; this query adds one "
    "doc-spine left join, one grouped max_by per component, one "
    "left-semi-shaped flag join and a per-source fold). Oracle: the "
    "shared exact-pair recursive CTE with the survivorship tail "
    "(sf0.01 gate; recursive-CTE oracle cost excluded at sf1 like "
    "its siblings).",
)
def dedup_survivorship_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    labels = cluster_labels_lsh(spark, sf_dir)
    full = d.join(labels, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_chars",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("comp"),
    )
    reps = full.groupBy("comp").agg(
        F.expr(
            "max_by(doc_id, named_struct('a', n_chars, 'b', -doc_id))"
        ).alias("rep_id")
    )
    flagged = full.join(
        reps.select(F.col("rep_id").alias("doc_id"), F.lit(1).alias("is_rep")),
        "doc_id",
        "left",
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.coalesce(F.col("is_rep"), F.lit(0))).cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.coalesce(F.col("is_rep"), F.lit(0))))
        .cast("long")
        .alias("n_dropped"),
        F.expr(
            "CAST(1000 * (count(*) - sum(coalesce(is_rep, 0)))"
            " div count(*) AS BIGINT)"
        ).alias("drop_milli"),
    )
