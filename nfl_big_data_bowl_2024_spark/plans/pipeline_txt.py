"""Text-analysis queries (txt_*): language ID, quality scoring, tokenization/BPE, fingerprinting, ranking, corpus statistics.

Split along the registry's family seams in round 9 (shared
helpers/oracle fragments live in pipeline_common.py); the doc_*
curation family moved on to pipeline_doc.py in round 10. Original
docstrings, oracle SQL and reference citations moved verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.readers import read_testdata_table as _t
from ..localrel import local_df as _local
from .pipeline_common import (
    _BPE_RE,
    _BPE_SENT,
    _PII_EMAIL,
    _PII_EMAIL_TOK,
    _PII_IP,
    _PII_IP_TOK,
    _PII_PHONE,
    _PII_PHONE_TOK,
    _bpe_train_merges,
    _content_fingerprint,
    _n_ws_tokens,
)
from .registry import register


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "txt_token_quality",
    """
    SELECT doc_id, lang,
           length(text) AS n_chars_actual,
           length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
           round((length(text) - length(replace(text, ' ', '')) + 1) * 1.0
                 / (length(text) + 1), 4) AS token_density,
           CAST(length(text) - length(replace(text, 'the', ''))
                AS BIGINT) // 3 AS stopword_hits,
           CASE WHEN length(text) BETWEEN 100 AND 5000
                 AND length(text) - length(replace(text, ' ', '')) + 1 >= 10
                THEN 'keep' ELSE 'drop' END AS quality_gate
    FROM documents
    """,
    doc="Token counting + quality scoring (length/stopword heuristics) — pure JVM "
    "string expressions, no UDF; the keep/drop gate is the standard corpus filter shape.",
)
def txt_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    n_chars = F.length("text")
    n_tokens = n_chars - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) + 1
    stop_hits = (
        (n_chars - F.length(F.replace(F.col("text"), F.lit("the"), F.lit("")))) / 3
    ).cast("long")
    return d.select(
        "doc_id",
        "lang",
        n_chars.cast("long").alias("n_chars_actual"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(n_tokens * 1.0 / (n_chars + 1), 4).alias("token_density"),
        stop_hits.alias("stopword_hits"),
        F.when(n_chars.between(100, 5000) & (n_tokens >= 10), "keep")
        .otherwise("drop")
        .alias("quality_gate"),
    )


@register(
    "txt_lang_id",
    """
    WITH scores AS (
        SELECT doc_id, lang,
               (length(text) - length(replace(text, ' the ', ''))) // 5 AS en_score,
               (length(text) - length(replace(text, ' data ', ''))) // 6 AS data_score,
               (length(text) - length(replace(text, ' spark ', ''))) // 7 AS spark_score
        FROM documents
    )
    SELECT doc_id, lang, en_score, data_score, spark_score,
           CASE WHEN en_score >= data_score AND en_score >= spark_score THEN 'marker_the'
                WHEN data_score >= spark_score THEN 'marker_data'
                ELSE 'marker_spark' END AS dominant_marker
    FROM scores
    """,
    doc="Language-ID-style n-gram marker scoring with argmax classification "
    "(deterministic tie-break) — the distributed lang-ID shape; real marker tables "
    "drop in as a broadcast dim.",
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")

    def marker(m: str):
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m), F.lit(""))))
            / len(m)
        ).cast("long")

    scored = d.select(
        "doc_id",
        "lang",
        marker(" the ").alias("en_score"),
        marker(" data ").alias("data_score"),
        marker(" spark ").alias("spark_score"),
    )
    dominant = (
        F.when(
            (F.col("en_score") >= F.col("data_score"))
            & (F.col("en_score") >= F.col("spark_score")),
            "marker_the",
        )
        .when(F.col("data_score") >= F.col("spark_score"), "marker_data")
        .otherwise("marker_spark")
    )
    return scored.withColumn("dominant_marker", dominant)


@register(
    "txt_fingerprint_exact_dedup",
    """
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id) AS canonical_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
    doc="Document fingerprinting + exact dedup: hash-groupBy keeping the smallest id "
    "as canonical. At 100 TB this is one shuffle on the fingerprint.",
)
def txt_fingerprint_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No pre-repartition here: md5 is cheaper than a shuffle of the raw text,
    # and the testdata parquet is single-row-group (serial scan either way).
    # At 100 TB the scan itself arrives in thousands of splits.
    d = _t(spark, sf_dir, "documents")
    return d.groupBy(
        _content_fingerprint().alias("fingerprint")
    ).agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))


@register(
    "txt_regex_extract",
    """
    SELECT doc_id,
           regexp_extract(text, 's[a-z]*k')                 AS first_sk_word,
           len(regexp_extract_all(text, '\\bthe\\b'))       AS n_the,
           len(regexp_extract_all(text, '[a-z]+'))          AS n_words,
           CAST(regexp_matches(text, 'spark') AS INT)       AS has_spark
    FROM documents
    """,
    doc="Regex extraction/counting over documents (first-match extract, "
    "word-boundary count, token count, predicate) — JVM-side regexp_* "
    "expressions; patterns stay in the RE2-compatible subset so the same "
    "query text runs on either engine.",
)
def txt_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", "s[a-z]*k", 0).alias("first_sk_word"),
        F.regexp_count("text", F.lit(r"\bthe\b")).cast("long").alias("n_the"),
        F.regexp_count("text", F.lit("[a-z]+")).cast("long").alias("n_words"),
        F.regexp_like("text", F.lit("spark")).cast("int").alias("has_spark"),
    )


@register(
    "txt_winnow_fingerprint",
    """
    WITH h AS (
        SELECT doc_id,
               [md5(substr(text, i, 8))
                FOR i IN range(1, greatest(length(text) - 6, 2))] AS hashes
        FROM documents
    ), w AS (
        SELECT doc_id, hashes,
               [list_min(hashes[j:j+3])
                FOR j IN range(1, greatest(len(hashes) - 2, 2))] AS fps
        FROM h
    )
    SELECT doc_id,
           len(hashes) AS n_kgrams,
           len(list_distinct(fps)) AS n_fingerprints,
           list_min(fps) AS min_fp
    FROM w
    """,
    doc="Document fingerprinting by winnowing (Schleimer et al. 2003): rolling "
    "k-gram hashes (k=8), min-hash per sliding window (w=4), distinct minima are "
    "the document's fingerprints. All JVM-side higher-order array functions — no "
    "UDF; the only exchange is the _spread raw-text repartition that buys "
    "full-cluster parallelism for the CPU-heavy hashing (on a real 100 TB scan "
    "the splits already arrive spread, and the pass is map-only). Fingerprints "
    "feed the same inverted-index bucket join as MinHash (operators/dedup.py). "
    "The reference has no fingerprinting; training-data-pipeline extension.",
)
def txt_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    K, W = 8, 4
    from ..operators.dedup import _spread

    # ~len(text) md5 calls per document: CPU-heavy enough that the raw-text
    # shuffle in _spread pays for itself (unlike the single-md5 exact-dedup
    # path). Measured 2.9s -> 0.4s at sf0.1 on local[32].
    d = _spread(_t(spark, sf_dir, "documents"), "doc_id")
    n = F.length("text")
    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (K - 1), F.lit(1))),
        lambda i: F.md5(F.substr(F.col("text"), i, F.lit(K)).cast("binary")),
    )
    with_h = d.select("doc_id", hashes.alias("hashes"))
    # least(element_at...) instead of array_min(slice(...)): no per-window
    # array allocation — measured 2x on the window stage. Indices clamp to
    # the array end so short documents (< W hashes) read duplicated elements
    # — same minimum as the truncated-slice semantics.
    m = F.size("hashes")
    fps = F.transform(
        F.sequence(F.lit(1), F.greatest(m - (W - 1), F.lit(1))),
        lambda j: F.least(
            *[F.element_at(F.col("hashes"), F.least(j + k, m)) for k in range(W)]
        ),
    )
    return with_h.select(
        "doc_id",
        F.size("hashes").cast("long").alias("n_kgrams"),
        F.size(F.array_distinct(fps)).cast("long").alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
    )


@register(
    "txt_tfidf_topterms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(*) AS dfq FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id, t.term,
               t.tf * (SELECT count(*) FROM documents) * 1.0 / d.dfq AS score
        FROM tf t JOIN dfreq d ON t.term = d.term
    )
    SELECT doc_id, term, floor(score * 10000 + 0.5) / 10000 AS score, rk
    FROM (SELECT doc_id, term, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    doc="TF-IDF characteristic terms: top-3 terms per document by "
    "tf * N/df (ratio idf — ln() differs in last-ULP between libm "
    "implementations, so the portable score keeps to exactly-rounded "
    "IEEE ops: int multiply, one double divide). Tokenize -> per-doc "
    "term counts (ONE shuffle on doc_id+term) -> doc-frequency as "
    "count() OVER (PARTITION BY term) on the tf relation: a join against "
    "a separate dfreq aggregate would make Catalyst compute the whole "
    "explode+aggregate tf subtree TWICE (DataFrame subtree reuse is not "
    "CSE'd — same finding as the Q21 rewrite; measured 27 s -> 6 s at "
    "the generated sf10) -> per-doc window top-3 (partitioned by doc_id "
    "— no global window). N arrives as a broadcast one-row join, not a "
    "collected literal.",
)
def txt_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    dfq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = (
        tf.withColumn("dfq", dfq)
        .join(F.broadcast(ndocs))
        .withColumn(
            "score", F.col("tf") * F.col("n_docs") * F.lit(1.0) / F.col("dfq")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", "term",
            (F.floor(F.col("score") * 10000 + 0.5) / 10000).alias("score"),
            "rk",
        )
    )


@register(
    "txt_bpe_train",
    rf"""
    WITH words AS (
        SELECT tok AS s0, count(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(text, '{_BPE_RE}')) AS tok
            FROM documents) GROUP BY tok
    ),
    p1 AS (
        SELECT s0[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM words, unnest(generate_series(1, length(s0) - 1)) AS t(i)
        GROUP BY pair
    ),
    m1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
    w1 AS (SELECT replace(s0, (SELECT pair FROM m1), chr(1)) AS s1, freq
           FROM words),
    p2 AS (
        SELECT s1[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM w1, unnest(generate_series(1, length(s1) - 1)) AS t(i)
        GROUP BY pair
    ),
    m2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
    w2 AS (SELECT replace(s1, (SELECT pair FROM m2), chr(2)) AS s2, freq
           FROM w1),
    p3 AS (
        SELECT s2[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM w2, unnest(generate_series(1, length(s2) - 1)) AS t(i)
        GROUP BY pair
    ),
    m3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1),
    raw AS (
        SELECT 1 AS round, pair, n FROM m1
        UNION ALL SELECT 2, pair, n FROM m2
        UNION ALL SELECT 3, pair, n FROM m3
    )
    -- sentinels only ever reference EARLIER rounds, so expanding round-3's
    -- marker first, then round-2's, then round-1's resolves every symbol
    SELECT round,
           replace(replace(replace(pair[1:1],
               chr(3), replace(replace((SELECT pair FROM m3),
                   chr(2), (SELECT pair FROM m2)),
                   chr(1), (SELECT pair FROM m1))),
               chr(2), replace((SELECT pair FROM m2),
                   chr(1), (SELECT pair FROM m1))),
               chr(1), (SELECT pair FROM m1)) AS sym_a,
           replace(replace(replace(pair[2:2],
               chr(3), replace(replace((SELECT pair FROM m3),
                   chr(2), (SELECT pair FROM m2)),
                   chr(1), (SELECT pair FROM m1))),
               chr(2), replace((SELECT pair FROM m2),
                   chr(1), (SELECT pair FROM m1))),
               chr(1), (SELECT pair FROM m1)) AS sym_b,
           n
    FROM raw
    """,
    doc="Distributed BPE TRAINER (3 merge rounds) — the tokenizer-build "
    "loop itself, not just one pair count. Per round: adjacent-pair "
    "counts over the word-frequency table (classic BPE trains on "
    "distinct words x freq — vocab-sized, not corpus-sized), argmax with "
    "a deterministic (count DESC, pair ASC) tiebreak collected as ONE "
    "driver row (the bounded-model pattern of kmeans/logreg), then the "
    "merge applied via replace(word, a||b, sentinel) — string replace is "
    "leftmost-non-overlapping on both engines, which IS the greedy BPE "
    "merge order, and one reserved sentinel char per round keeps merged "
    "symbols atomic inside the packed string. The oracle replays all "
    "three rounds in SQL (same counts, same argmax, same replace "
    "semantics) and expands sentinels back to concrete symbol strings. "
    "Scale: the words table is built once (one corpus shuffle) and each "
    "round adds one vocab-sized aggregate + a map-only replace.",
)

def txt_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_train_merges(spark, sf_dir)
    sent_to_pair = {sent: pair for pair, sent, _ in merges}
    out_rows = []
    for r, (pair, _sent, n) in enumerate(merges, start=1):

        def expand(sym: str) -> str:
            # sentinels reference earlier rounds only -> expand newest first
            for s_ch in reversed(_BPE_SENT[:r]):
                if s_ch in sent_to_pair:
                    sym = sym.replace(s_ch, sent_to_pair[s_ch])
            return sym

        out_rows.append((r, expand(pair[0]), expand(pair[1]), n))
    return _local(
        spark, out_rows, "round int, sym_a string, sym_b string, n long"
    )



@register(
    "txt_bpe_pretokenize",
    r"""
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')
                   AS bpe_toks,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_ws_tokens
        FROM documents
    )
    SELECT doc_id, lang,
           len(bpe_toks)                 AS n_bpe_tokens,
           len(list_distinct(bpe_toks))  AS n_distinct_tokens,
           n_ws_tokens,
           floor(len(bpe_toks) * 1.0 / n_ws_tokens * 10000 + 0.5) / 10000
               AS bpe_per_ws
    FROM toks
    """,
    doc="BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape: "
    "space-prefixed letter runs | digit runs | punctuation runs) via "
    "regexp_extract_all — the token-budget estimator that runs BEFORE a "
    "real BPE merge table. Pure JVM regex (the pattern stays in the "
    "RE2-and-Java-compatible subset so the DuckDB oracle matches "
    "byte-for-byte); map-only, no shuffle. A real tokenizer's merge "
    "step would consume these pre-tokens through a Pandas UDF.",
)
def txt_bpe_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(
        F.col("text"), F.lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), F.lit(0)
    )
    n_ws = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + 1
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(bpe).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("long").alias("n_distinct_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        (
            F.floor(F.size(bpe) * 1.0 / n_ws * 10000 + 0.5) / 10000
        ).alias("bpe_per_ws"),
    )


# ---------------------------------------------------------------------------
# Train/test hygiene, quantization, output sharding
# ---------------------------------------------------------------------------


@register(
    "txt_vocab_topk",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    )
    SELECT term, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM toks
    GROUP BY term
    ORDER BY n DESC, term
    LIMIT 50
    """,
    doc="Corpus vocabulary head: global top-50 terms by frequency (the "
    "wordcount that seeds tokenizer training / stopword lists). "
    "Explode -> one hash aggregate on term (map-side partials collapse "
    "the per-partition duplicates before the shuffle) -> distributed "
    "top-k via TakeOrderedAndProject: each partition keeps its local 50, "
    "the driver merges O(partitions x 50) rows — no global sort, no "
    "single-partition window, ties broken on the term itself so LIMIT "
    "is deterministic.",
)
def txt_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n"), "term")
        .limit(50)
    )


@register(
    "txt_bpe_pair_counts",
    r"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
               AS tok
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(generate_series(1, length(tok) - 1),
                                     i -> tok[i:i+1])) AS pair
        FROM toks
        WHERE length(tok) >= 2
    )
    SELECT pair, count(*) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
    doc="The first BPE merge iteration at corpus scale: count every "
    "adjacent symbol pair inside the pre-tokens (same GPT-2-style "
    "pre-tokenizer as txt_bpe_pretokenize) and take the most frequent "
    "pairs — the argmax of this table IS the next merge rule a BPE "
    "trainer would add. Pre-tokenize and pair-expand are JVM regex + "
    "higher-order functions (no UDF); the pair counts collapse map-side "
    "before the single shuffle, and the top-k is the distributed "
    "TakeOrdered merge with ties broken on the pair itself. Re-running "
    "per merge round gives full distributed BPE training.",
)
def txt_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), F.lit(0)
            )
        ).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Round-3 additions: repetition quality, contamination, mixing, cluster reps
# ---------------------------------------------------------------------------


@register(
    "txt_repetition_filter",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    uni AS (
        SELECT doc_id, len(w) AS n_words,
               len(list_distinct(w)) AS n_distinct
        FROM w
    ),
    bg AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg
        FROM w, unnest(range(1, len(w))) AS t(i)
    ),
    c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
    t AS (SELECT doc_id, max(c) AS top_bg FROM c GROUP BY doc_id)
    SELECT u.doc_id, u.n_words,
           round(u.n_distinct * 1.0 / u.n_words, 4) AS distinct_ratio,
           round(t.top_bg * 1.0 / (u.n_words - 1), 4) AS top_bigram_frac,
           CASE WHEN round(u.n_distinct * 1.0 / u.n_words, 4) >= 0.4
                 AND round(t.top_bg * 1.0 / (u.n_words - 1), 4) <= 0.05
                THEN 'keep' ELSE 'drop' END AS gate
    FROM uni u JOIN t USING (doc_id)
    """,
    doc="Gopher-style repetition quality filter (type-token ratio + "
    "most-repeated-bigram fraction + keep/drop gate). The Spark side is "
    "MAP-ONLY: the per-doc top-bigram count is a max-run-length fold over "
    "the SORTED bigram array (array_sort + aggregate HOF) — equal "
    "elements group under any total order, so no collation sensitivity — "
    "meaning the whole corpus filter is scan -> project with ZERO "
    "shuffles at 100 TB (plan-asserted). The oracle takes the "
    "explode + group-by route, which computes the same max bigram "
    "multiplicity. Gates compare the ROUNDED metrics in both engines so "
    "the keep/drop boundary cannot flip on last-ULP division noise.",
)
def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    bga = F.array_sort(
        F.expr(
            "transform(sequence(1, size(w) - 1),"
            " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"
        )
    )
    # Max run length of equal adjacent elements in the sorted bigram array
    # == max multiplicity of any bigram. Guard the size<2 sequence()
    # descending-range footgun explicitly.
    top_bg = F.expr(
        "if(size(bga) < 2, size(bga), aggregate("
        "  sequence(2, size(bga)),"
        "  named_struct('run', 1, 'best', 1),"
        "  (acc, i) -> if(element_at(bga, i) = element_at(bga, i - 1),"
        "    named_struct('run', acc.run + 1,"
        "                 'best', greatest(acc.best, acc.run + 1)),"
        "    named_struct('run', 1, 'best', acc.best)),"
        "  acc -> acc.best))"
    )
    m = base.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("n_distinct"),
        bga.alias("bga"),
    ).select(
        "doc_id",
        "n_words",
        F.round(F.col("n_distinct") / F.col("n_words"), 4).alias(
            "distinct_ratio"
        ),
        F.round(top_bg / (F.col("n_words") - 1), 4).alias("top_bigram_frac"),
    )
    gate = F.when(
        (F.col("distinct_ratio") >= 0.4) & (F.col("top_bigram_frac") <= 0.05),
        "keep",
    ).otherwise("drop")
    return m.withColumn("gate", gate)


@register(
    "txt_contamination_check",
    """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 4
    ),
    e AS (
        SELECT doc_id,
               unnest(list_distinct([list_aggregate(w[i:i+3], 'string_agg', ' ')
                                     FOR i IN range(1, len(w) - 2)])) AS sh
        FROM w
    ),
    bench AS (SELECT doc_id AS bid, sh FROM e WHERE doc_id % 23 = 0),
    corpus AS (SELECT doc_id, sh FROM e WHERE doc_id % 23 <> 0)
    SELECT c.doc_id,
           count(DISTINCT c.sh)  AS n_hit_shingles,
           count(DISTINCT b.bid) AS n_bench_docs
    FROM corpus c JOIN bench b USING (sh)
    GROUP BY c.doc_id
    """,
    doc="Benchmark-contamination check: word-4-gram overlap between the "
    "training corpus and a held-out benchmark set (deterministically "
    "keyed here as doc_id %% 23 == 0 so both engines agree). The "
    "decontamination pass every serious training pipeline runs before "
    "training. Scale shape: the benchmark side is a SMALL fixed suite -> "
    "its shingle set broadcasts; the corpus side is shingled map-side "
    "and never shuffles before the per-doc aggregate of HIT rows only — "
    "at 100 TB the join is a broadcast-hash probe at scan speed, and "
    "only contaminated (doc, shingle, bench) rows enter the exchange. "
    "(Here both sides derive from one table, so the plan shows two "
    "scans; in production the benchmark suite is its own tiny table and "
    "the corpus is scanned exactly once.)",
)
def txt_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(w) - 3),"
                        " i -> concat_ws(' ', slice(w, i, 4)))"
                    )
                )
            ).alias("sh"),
        )
    )
    bench = sh.filter(F.col("doc_id") % 23 == 0).select(
        F.col("doc_id").alias("bid"), "sh"
    )
    corpus = sh.filter(F.col("doc_id") % 23 != 0)
    return (
        corpus.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_hit_shingles"),
            F.countDistinct("bid").alias("n_bench_docs"),
        )
    )


@register(
    "txt_unigram_surprisal",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    model AS (
        SELECT term, count(*) AS n FROM toks GROUP BY term
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM model),
    model_p AS (
        SELECT term,
               CAST(floor(-log2(n * 1.0 / tot) * 1000000 + 0.5) AS BIGINT)
                   AS surprisal_micro
        FROM model, tot
    )
    SELECT t.doc_id, count(*) AS n_toks,
           floor(CAST(sum(m.surprisal_micro) AS BIGINT)
                 / (count(*) * 100.0) + 0.5) / 10000 AS mean_surprisal,
           floor(max(m.surprisal_micro) / 100.0 + 0.5) / 10000
               AS max_surprisal
    FROM toks t JOIN model_p m USING (term)
    GROUP BY t.doc_id
    """,
    doc="Perplexity-proxy quality score: train a corpus unigram LM (one "
    "token aggregate, materialized once via eager localCheckpoint; the "
    "normalizer is a distributed scalar aggregate over the checkpointed "
    "vocab — never a single-partition window sort, which would break "
    "when web-scale token vocab reaches billions of rows), broadcast "
    "it, and score every document's mean/max token surprisal in a "
    "second pass. The classic two-pass train-then-score shape: the "
    "model is O(vocab), so scoring is a broadcast hash join + one "
    "doc-keyed aggregate (past broadcast size, drop the hint and AQE "
    "keeps it a shuffle join on term). Gibberish and boilerplate land "
    "in the distribution tails, which is how CCNet-style pipelines "
    "bucket quality.",
)
def txt_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    from ..operators.scalars import checkpoint_with_scalar

    model, total = checkpoint_with_scalar(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")),
        F.sum("n").alias("tot"),
    )
    # Per-term surprisal is rounded to BIGINT micro-units BEFORE the
    # per-doc aggregation, so the mean comes from an order-independent
    # integer sum (the r3 doc_mix_weights lesson: a float avg's
    # accumulation order differs across partitionings and engines, and a
    # floor at the 1e-4 boundary can flip on a ~ulp difference).
    model_p = model.crossJoin(total).select(
        "term",
        F.floor(-F.log2(F.col("n") * 1.0 / F.col("tot")) * 1000000 + 0.5)
        .cast("long")
        .alias("surprisal_micro"),
    )
    return (
        toks.join(F.broadcast(model_p), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("surprisal_micro").alias("sum_micro"),
            F.max("surprisal_micro").alias("max_micro"),
        )
        .select(
            "doc_id",
            "n_toks",
            (
                F.floor(
                    F.col("sum_micro") / (F.col("n_toks") * 100.0) + 0.5
                )
                / 10000
            ).alias("mean_surprisal"),
            (F.floor(F.col("max_micro") / 100.0 + 0.5) / 10000).alias(
                "max_surprisal"
            ),
        )
    )


@register(
    "txt_bigram_lm_surprisal",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT unnest(t) AS term FROM toks
    ),
    uc AS (SELECT term, count(*) AS n FROM uni GROUP BY term),
    vocab AS (SELECT count(*) AS v FROM uc),
    pairs AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    bc AS (SELECT w1, w2, count(*) AS nb FROM pairs GROUP BY w1, w2),
    model AS (
        SELECT bc.w1, bc.w2,
               CAST(floor(-log2((bc.nb + 1.0) / (uc.n + vocab.v))
                          * 1000000 + 0.5) AS BIGINT) AS s_micro
        FROM bc JOIN uc ON bc.w1 = uc.term CROSS JOIN vocab
    )
    SELECT p.doc_id, count(*) AS n_bigrams,
           floor(CAST(sum(m.s_micro) AS BIGINT)
                 / (count(*) * 100.0) + 0.5) / 10000 AS mean_surprisal,
           floor(max(m.s_micro) / 100.0 + 0.5) / 10000 AS max_surprisal
    FROM pairs p JOIN model m ON p.w1 = m.w1 AND p.w2 = m.w2
    GROUP BY p.doc_id
    """,
    doc="Bigram-LM perplexity proxy with add-one smoothing — the stronger "
    "sibling of txt_unigram_surprisal (a unigram LM scores word CHOICE; "
    "the bigram model scores word ORDER, so shuffled/boilerplate text "
    "that fools unigram stats lands in this tail). p(w2|w1) = "
    "(c(w1,w2)+1)/(c(w1)+V). Bigram extraction is MAP-ONLY: the token "
    "array is sliced and zipped per row (no posexplode self-join, no "
    "lead() window — a window would shuffle the whole corpus on doc_id "
    "just to pair adjacent tokens). Model build is two hash aggregates "
    "(term; (w1,w2) pair); V is a distributed scalar over the "
    "checkpointed vocab (never a single-partition window). Scoring "
    "re-joins pairs to the model on (w1,w2) — the model side is already "
    "hashed on that key from its own aggregate, so the exchange is "
    "reused; at web scale the bigram model outgrows broadcast, and the "
    "shuffle join is the right default (AQE flips small models back to "
    "broadcast at runtime). Per-pair surprisal is rounded to integer "
    "micros in the MODEL (once per distinct bigram), so per-doc sums are "
    "order-independent integer sums; only the ~1-ulp cross-libm log2 "
    "exposure remains, same accepted class as txt_unigram_surprisal. "
    "Docs under 2 tokens have no bigrams and emit no row on either "
    "engine (inner-join semantics).",
)
def txt_bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scalars import checkpoint_with_scalar

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    uc_base = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    uc, vocab = checkpoint_with_scalar(uc_base, F.count(F.lit(1)).alias("v"))
    # map-only adjacent-pair extraction: zip the array against itself
    # shifted by one — no join, no window
    pairs = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    bc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nb"))
    model = (
        bc.join(F.broadcast(uc.withColumnRenamed("term", "w1")), "w1")
        .crossJoin(vocab)
        .select(
            "w1",
            "w2",
            F.floor(
                -F.log2((F.col("nb") + 1.0) / (F.col("n") + F.col("v")))
                * 1000000
                + 0.5
            )
            .cast("long")
            .alias("s_micro"),
        )
    )
    return (
        pairs.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("s_micro").alias("sum_micro"),
            F.max("s_micro").alias("max_micro"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.floor(F.col("sum_micro") / (F.col("n_bigrams") * 100.0) + 0.5)
                / 10000
            ).alias("mean_surprisal"),
            (F.floor(F.col("max_micro") / 100.0 + 0.5) / 10000).alias(
                "max_surprisal"
            ),
        )
    )


@register(
    "txt_span_dedup",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    idx AS (
        SELECT doc_id, toks,
               unnest(range(CAST(ceil(len(toks) / 5.0) AS BIGINT))) AS span_idx
        FROM toks
    ),
    spans AS (
        SELECT doc_id, span_idx,
               array_to_string(toks[span_idx * 5 + 1 : span_idx * 5 + 5], ' ')
                   AS span
        FROM idx
    ),
    ranked AS (
        SELECT doc_id, span_idx,
               row_number() OVER (
                   PARTITION BY span ORDER BY doc_id, span_idx) AS rn
        FROM spans
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY doc_id
    """,
    doc="Sub-document (span-level) exact dedup, the C4/CCNet line-dedup "
    "shape: chunk every document into consecutive 5-token spans, keep "
    "each distinct span's FIRST occurrence corpus-wide (ordered by "
    "doc_id, then position), and report kept/dropped span counts per "
    "document. Chunking is map-only (one transform+posexplode, no UDF); "
    "first-occurrence selection is one window keyed on the span itself — "
    "partitioned by span, so boilerplate-heavy corpora shard across the "
    "cluster by span hash rather than funneling anywhere. At 100 TB the "
    "span relation is corpus-sized but the shuffle carries (hash, doc_id, "
    "idx) only; swap the span string for xxhash64(span) to shrink the "
    "exchange further (kept as text here so the oracle is "
    "engine-portable).",
)
def txt_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    spans = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(toks) / 5.0) as int) - 1), "
                "i -> array_join(slice(toks, i * 5 + 1, 5), ' '))"
            )
        ).alias("span_idx", "span"),
    )
    w = Window.partitionBy("span").orderBy("doc_id", "span_idx")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
    )


@register(
    "txt_vocab_coverage",
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, count(*) AS n FROM toks GROUP BY term
            ORDER BY n DESC, term LIMIT 20
        )
    )
    SELECT t.doc_id,
           count(*) AS n_toks,
           CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           floor(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000 + 0.5) / 10000 AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
    doc="Tokenizer-fit metric: apply a trained vocabulary (here the "
    "corpus top-20 terms — deterministic ties-on-term top-k, the "
    "txt_vocab_topk machinery) to every document and report its "
    "out-of-vocabulary rate — the number that tells you a tokenizer or "
    "stopword list does not fit a new corpus before you pay for "
    "training on it. The vocab is bounded (top-k), so the apply step is "
    "a broadcast left join onto the token stream + one doc-keyed "
    "aggregate; two corpus passes total (vocab build, vocab apply) — "
    "the same train-then-score shape as the unigram LM.",
)
def txt_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(20)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.when(F.col("in_vocab").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_in_vocab"),
            (
                F.floor(
                    F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                    * 1.0
                    / F.count(F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("oov_rate"),
        )
    )


@register(
    "txt_pii_redact",
    f"""
    WITH aug AS (
        SELECT doc_id, text,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.org or call 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST(doc_id % 200 AS VARCHAR) AS pii_text
        FROM documents
    ),
    steps AS (
        SELECT doc_id, text, pii_text,
               regexp_replace(pii_text,
                   '{_PII_EMAIL}', '{_PII_EMAIL_TOK}', 'g') AS r1
        FROM aug
    ),
    steps2 AS (
        SELECT doc_id, text, pii_text, r1,
               regexp_replace(r1,
                   '{_PII_IP}', '{_PII_IP_TOK}', 'g') AS r2
        FROM steps
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text,
                    '{_PII_EMAIL}'))
              + len(regexp_extract_all(r1,
                    '{_PII_IP}'))
              + len(regexp_extract_all(r2, '{_PII_PHONE}')) AS BIGINT) AS n_pii,
           substr(regexp_replace(r2, '{_PII_PHONE}', '{_PII_PHONE_TOK}', 'g'),
                  length(text) + 2) AS redacted_tail
    FROM steps2
    """,
    doc="PII scrub as a map-only column expression (functions/text.py "
    "redact_pii/count_pii): email -> IPv4 -> phone regexp_replace chain, "
    "counts taken against the same sequential order so a digit-bearing "
    "email local-part is never double-counted. The synthetic corpus has "
    "no organic PII, so the query plants a deterministic doc_id-derived "
    "email/IP/phone per document and proves all three are found and "
    "replaced. Patterns stay in the RE2<->Java-regex common subset so the "
    "oracle interpolates functions/text.py PII_PATTERNS directly — one "
    "source of truth, no hand-copied regex to drift. Zero exchanges, zero Python: whole-stage codegen "
    "keeps the scrub inside the scan projection at 100 TB.",
)
def txt_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import count_pii, redact_pii

    d = _t(spark, sf_dir, "documents")
    s = lambda c: c.cast("string")  # noqa: E731
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"), s(F.col("doc_id")),
        F.lit("@ex"), s(F.col("doc_id") % 10), F.lit(".org or call 555-"),
        F.lpad(s(F.col("doc_id") % 10000), 4, "0"),
        F.lit(" from 10.0."), s(F.col("doc_id") % 256),
        F.lit("."), s(F.col("doc_id") % 200),
    )
    return d.select(
        "doc_id",
        count_pii(pii_text).alias("n_pii"),
        F.substring(
            redact_pii(pii_text), F.length("text") + 2, 1 << 30
        ).alias("redacted_tail"),
    )


@register(
    "txt_heavy_hitters",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tot AS (SELECT count(*) AS n_total FROM toks)
    SELECT term, count(*) AS n
    FROM toks, tot
    GROUP BY term, n_total
    HAVING count(*) * 50 >= n_total
    """,
    doc="Exact heavy hitters (terms holding >= 2% of all tokens) via the "
    "2-pass Misra-Gries pattern (operators/sketches.py): per-partition "
    "k=256-counter MG summaries produce a bounded candidate relation "
    "(any term above N/256 globally is guaranteed in it, and the 2% "
    "threshold is far above that), then the candidates broadcast back "
    "onto the token stream for an EXACT count + integer threshold "
    "(n * 50 >= N, no floats anywhere). The oracle is a plain GROUP "
    "BY/HAVING: the sketch only bounds the candidate set, never the "
    "answer. At 100 TB the full vocabulary (billions of rare terms) "
    "never enters an exchange — only candidate tokens shuffle; the "
    "total-token scalar comes from a doc-level length aggregate on a "
    "separate cheap scan, not from the exploded stream.",
)
def txt_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import misra_gries_candidates

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term"))
    cands = (
        misra_gries_candidates(toks, "term", k=256)
        .select("term")
        .distinct()
    )
    n_tokens = _n_ws_tokens().cast("long")
    total = F.broadcast(d.agg(F.sum(n_tokens).alias("n_total")))
    return (
        toks.join(F.broadcast(cands), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(total)
        .filter(F.col("n") * 50 >= F.col("n_total"))
        .select("term", "n")
    )


@register(
    "txt_bpe_encode",
    rf"""
    WITH words AS (
        SELECT tok AS s0, count(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(text, '{_BPE_RE}')) AS tok
            FROM documents) GROUP BY tok
    ),
    p1 AS (
        SELECT s0[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM words, unnest(generate_series(1, length(s0) - 1)) AS t(i)
        GROUP BY pair
    ),
    m1 AS (SELECT pair FROM p1 ORDER BY n DESC, pair LIMIT 1),
    w1 AS (SELECT replace(s0, (SELECT pair FROM m1), chr(1)) AS s1, freq
           FROM words),
    p2 AS (
        SELECT s1[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM w1, unnest(generate_series(1, length(s1) - 1)) AS t(i)
        GROUP BY pair
    ),
    m2 AS (SELECT pair FROM p2 ORDER BY n DESC, pair LIMIT 1),
    w2 AS (SELECT replace(s1, (SELECT pair FROM m2), chr(2)) AS s2, freq
           FROM w1),
    p3 AS (
        SELECT s2[i:i+1] AS pair, CAST(sum(freq) AS BIGINT) AS n
        FROM w2, unnest(generate_series(1, length(s2) - 1)) AS t(i)
        GROUP BY pair
    ),
    m3 AS (SELECT pair FROM p3 ORDER BY n DESC, pair LIMIT 1),
    doc_toks AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{_BPE_RE}')) AS tok
        FROM documents
    ),
    enc AS (
        SELECT doc_id, tok,
               replace(replace(replace(tok,
                   (SELECT pair FROM m1), chr(1)),
                   (SELECT pair FROM m2), chr(2)),
                   (SELECT pair FROM m3), chr(3)) AS e
        FROM doc_toks
    )
    SELECT doc_id,
           count(*) AS n_bpe_tokens,
           CAST(sum(length(e)) AS BIGINT) AS n_syms,
           floor(CAST(sum(length(e)) AS BIGINT) * 1.0
                 / CAST(sum(length(tok)) AS BIGINT) * 10000 + 0.5) / 10000
               AS compression
    FROM enc GROUP BY doc_id
    """,
    doc="BPE ENCODER — apply the trained merge table to every document "
    "(the tokenize-the-corpus pass that follows txt_bpe_train): the 3 "
    "merges are re-derived by the shared _bpe_train_merges driver-held "
    "bounded model (3 rows), then encoding is a map-only chain of "
    "replace(tok, pair_r, sentinel_r) in train order — leftmost-non-"
    "overlapping replace IS greedy BPE application, identical on both "
    "engines. Emits per-doc symbol counts and the compression ratio "
    "(symbols per input char, single float division over exact integer "
    "sums). Scale: training cost is vocab-sized (see txt_bpe_train); "
    "encoding is one corpus scan with literal merge strings baked into "
    "the projection — zero Python, zero joins, one doc_id aggregate.",
)
def txt_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_train_merges(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0))
        ).alias("tok"),
    )
    enc = F.col("tok")
    for pair, sent, _n in merges:
        enc = F.replace(enc, F.lit(pair), F.lit(sent))
    return (
        toks.withColumn("e", enc)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bpe_tokens"),
            F.sum(F.length("e")).cast("long").alias("n_syms"),
            (
                F.floor(
                    F.sum(F.length("e")).cast("long")
                    * 1.0
                    / F.sum(F.length("tok")).cast("long")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("compression"),
        )
    )


@register(
    "txt_chunk_udtf",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id % 5 = 0
    ),
    c AS (
        SELECT doc_id, t,
               unnest(generate_series(0, len(t) - 1, 48)) AS start
        FROM toks
    )
    SELECT doc_id,
           CAST(start / 48 AS INTEGER)                   AS chunk_idx,
           CAST(least(len(t) - start, 64) AS INTEGER)    AS n_toks,
           t[start + 1]                                  AS first_tok,
           t[least(start + 64, len(t))]                  AS last_tok
    FROM c
    """,
    doc="Overlapping token-window chunking (size 64 / stride 48) via a "
    "Spark 4 Python UDTF in a LATERAL join — the table-function extension "
    "point: one document row yields a variable number of chunk rows whose "
    "columns (chunk content endpoints) only the chunker can derive. "
    "Arrow-batched (ArrowEvalPythonUDTF, allowlisted as a documented "
    "vectorized kernel — never row-at-a-time pickling) and map-only: the "
    "explode shuffles nothing, and the doc_id filter is pushed below the "
    "lateral to the parquet scan. The DuckDB oracle mirrors the chunk rule "
    "with generate_series over the same empty-preserving space-split, so "
    "the UDTF's emission logic is hash-checked end to end.",
)
def txt_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.chunking import register_token_chunks

    fn = register_token_chunks(spark)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    d.select("doc_id", "text").createOrReplaceTempView("_chunk_udtf_docs")
    return spark.sql(
        f"""
        SELECT doc_id, c.chunk_idx, c.n_toks, c.first_tok, c.last_tok
        FROM _chunk_udtf_docs, LATERAL {fn}(text) AS c
        """
    )


@register(
    "txt_fuzzy_blocked_levenshtein",
    """
    WITH d AS (
        SELECT doc_id, substr(text, 1, 16) AS blk, substr(text, 1, 120) AS p
        FROM documents
        WHERE length(text) = strlen(text)  -- ASCII guard: see doc
    ),
    ok_blk AS (
        SELECT blk FROM d GROUP BY blk
        HAVING count(*) BETWEEN 2 AND 64
    ),
    b AS (SELECT d.* FROM d JOIN ok_blk USING (blk))
    SELECT x.doc_id AS doc_a,
           y.doc_id AS doc_b,
           CAST(levenshtein(x.p, y.p) AS INTEGER) AS edit_dist,
           CAST(100 - (100 * levenshtein(x.p, y.p))
                      // greatest(length(x.p), length(y.p)) AS INTEGER)
               AS sim_pct
    FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
    WHERE levenshtein(x.p, y.p) <= 10
    """,
    doc="Blocked fuzzy matching by edit distance — the dedup family's "
    "character-level member (exact/MinHash/SimHash/Jaccard/cosine see "
    "token or vector space; OCR noise, typo variants and boilerplate "
    "drift need true Levenshtein). Prefix-16 blocking turns the "
    "quadratic all-pairs into per-block candidate sets; a 2..64 "
    "block-size band is the hot-block guard (same discipline as the "
    "n-gram Jaccard hot-shingle cap) so one boilerplate prefix cannot "
    "explode the self-join at 100 TB; the distance itself runs on a "
    "120-char prefix, capping per-pair cost at O(120^2) inside "
    "whole-stage codegen (JVM levenshtein, no UDF). Spark's levenshtein "
    "counts codepoints while DuckDB's counts bytes, so candidates are "
    "restricted to byte-pure strings via length=octet_length — a "
    "predicate both engines evaluate identically (on this corpus it "
    "keeps everything).",
)
def txt_fuzzy_blocked_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text") == F.octet_length("text"))
        .select(
            "doc_id",
            F.substring("text", 1, 16).alias("blk"),
            F.substring("text", 1, 120).alias("p"),
        )
    )
    ok_blk = (
        d.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= 64))
        .select("blk")
    )
    b = d.join(F.broadcast(ok_blk), "blk")
    x = b.alias("x")
    y = b.alias("y")
    dist = F.levenshtein(F.col("x.p"), F.col("y.p"))
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(dist <= 10)
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
            (
                F.lit(100)
                - F.expr(
                    "(100 * levenshtein(x.p, y.p))"
                    " div greatest(length(x.p), length(y.p))"
                )
            )
            .cast("int")
            .alias("sim_pct"),
        )
    )


@register(
    "txt_token_lift_pairs",
    """
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ) WHERE length(tok) >= 4
    ),
    kept AS (
        SELECT doc_id FROM toks GROUP BY doc_id HAVING count(*) <= 64
    ),
    t AS (SELECT toks.* FROM toks JOIN kept USING (doc_id)),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM t),
    df AS (SELECT tok, count(*) AS n FROM t GROUP BY tok),
    pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
        FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
        HAVING count(*) >= 5
    )
    SELECT p.tok_a, p.tok_b,
           CAST(p.n_ab AS BIGINT)  AS n_ab,
           CAST(da.n AS BIGINT)    AS n_a,
           CAST(db.n AS BIGINT)    AS n_b,
           CAST((p.n_ab * n.n_docs * 1000) // (da.n * db.n) AS BIGINT)
                                   AS lift_milli
    FROM pairs p
    JOIN df da ON da.tok = p.tok_a
    JOIN df db ON db.tok = p.tok_b
    CROSS JOIN n
    """,
    doc="Association mining (market-basket lift) over token co-occurrence: "
    "each document is a basket of its distinct >=4-char tokens; pairs "
    "co-occurring in >= 5 baskets are scored by lift = P(ab)/(P(a)P(b)) "
    "in exact integer milli-units (n_ab*N*1000 div (n_a*n_b)) — the "
    "A-priori association statistic, log-free so both engines agree "
    "bit-for-bit (PMI is this with a log around it). Scale guards: the "
    "per-doc basket is capped at 64 distinct tokens (the quadratic "
    "fan-out driver — same discipline as the hot-shingle guard), the "
    "pair join is keyed on doc_id with BOTH sides sharing one "
    "partitioning, and the document-frequency relation re-enters "
    "broadcast. The basket-universe count N is derived from the SAME "
    "guarded relation the frequencies come from, so the lift "
    "denominator is consistent at any scale.",
)
def txt_token_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.length("tok") >= 4)
        .distinct()
    )
    kept = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz")).filter(
        F.col("sz") <= 64
    )
    t = toks.join(kept.select("doc_id"), "doc_id").localCheckpoint(eager=True)
    n_docs = t.select("doc_id").distinct().count()  # bounded scalar
    df_rel = t.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    a = t.select("doc_id", F.col("tok").alias("tok_a"))
    b = t.select("doc_id", F.col("tok").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 5)
    )
    da = df_rel.select(F.col("tok").alias("tok_a"), F.col("n").alias("n_a"))
    db = df_rel.select(F.col("tok").alias("tok_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(f"(n_ab * {n_docs} * 1000) div (n_a * n_b)")
            .cast("long")
            .alias("lift_milli"),
        )
    )


@register(
    "txt_simpson_diversity",
    """
    WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT source, tok, count(*) AS n FROM t
        WHERE tok <> '' GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(n) AS BIGINT)                           AS n_tokens,
           CAST(count(*) AS BIGINT)                         AS n_vocab,
           CAST(sum(n * (n - 1)) * 1000
                // (sum(n) * (sum(n) - 1)) AS BIGINT)       AS simpson_conc_milli
    FROM c GROUP BY source
    """,
    doc="Simpson concentration index per source (the log-free diversity "
    "statistic): sum n_i(n_i-1) / (N(N-1)) — the probability two tokens "
    "drawn without replacement coincide; 1 - it is Simpson diversity, "
    "and its reciprocal the effective vocabulary size. Purely rational, "
    "so milli-unit integer floor division replays exactly cross-engine "
    "where Shannon entropy would drag float logs into the hash. Plan: "
    "one (source, tok) aggregate (map-side partials absorb the token "
    "stream) then one per-source fold of the count relation — the "
    "vocabulary shuffles once, raw tokens never do. Milli-scaling keeps "
    "sum(n^2) * 1000 inside int64 through ~10^15 tokens per source.",
)
def txt_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("source", "text")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.expr("sum(n * (n - 1)) * 1000 div (sum(n) * (sum(n) - 1))")
        .cast("long")
        .alias("simpson_conc_milli"),
    )


@register(
    "txt_bm25_topk",
    """
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM d
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents) t
        WHERE term IN ('hash', 'join', 'scan')
        GROUP BY doc_id, term
    ),
    per AS (
        SELECT f.doc_id,
               CAST(floor(
                   (s.n * 1.0 / count(*) OVER (PARTITION BY f.term))
                   * (f.tf * 2.2)
                   / (f.tf + 1.2 * (0.25 + 0.75 * (d.dl * 1.0 / s.avgdl)))
                   * 10000 + 0.5) AS BIGINT) AS s4
        FROM tf f JOIN d USING (doc_id) CROSS JOIN stats s
    )
    SELECT doc_id, CAST(sum(s4) AS BIGINT) AS score_1e4,
           CAST(count(*) AS INTEGER) AS n_terms
    FROM per GROUP BY doc_id
    ORDER BY score_1e4 DESC, doc_id
    LIMIT 25
    """,
    doc="BM25 relevance scoring (Robertson-Sparck Jones, k1=1.2 b=0.75) "
    "for a fixed query — the retrieval-grade ranker behind "
    "query-relevance data curation, one step past txt_tfidf_topterms: "
    "tf saturation via k1 and length normalization via b*dl/avgdl. "
    "Ratio idf (N/df) keeps the whole score inside exactly-rounded IEEE "
    "ops — no ln(), no libm divergence — and each (doc, term) score is "
    "fixed-pointed to 1e-4 BEFORE the per-doc sum, so the cross-row "
    "aggregation is an order-free exact INTEGER sum (a float sum's "
    "addend order is partitioning-dependent). Scale shape: document "
    "length is size(split(...)) map-side (the corpus never explodes for "
    "it); only query-term tokens survive the explode into the ONE "
    "(doc, term) shuffle; df comes from count() OVER (PARTITION BY "
    "term) on that tf relation so the tf subtree is computed once (the "
    "tfidf CSE finding); N/avgdl arrive as a broadcast one-row join; "
    "the final top-25 is TakeOrderedAndProject (distributed top-k, "
    "never a global sort).",
)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    TERMS = ["hash", "join", "scan"]
    # constants written EXACTLY as the oracle writes them (2.2, not
    # k1 + 1.0: the python fold happens to round to the same double, but
    # the equality is a literal-for-literal contract, not an accident)
    K1, K1P1, B = 1.2, 2.2, 0.75
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    d = docs.select("doc_id", F.size("toks").alias("dl"))
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl") * 1.0 / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    per = (
        tf.withColumn("df", dfq)
        .join(d, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                (F.col("n") * 1.0 / F.col("df"))
                * (F.col("tf") * K1P1)
                / (
                    F.col("tf")
                    + K1
                    * (
                        (1.0 - B)
                        + B * (F.col("dl") * 1.0 / F.col("avgdl"))
                    )
                )
                * 10000
                + 0.5
            )
            .cast("long")
            .alias("s4"),
        )
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("s4").cast("long").alias("score_1e4"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
        .orderBy(F.col("score_1e4").desc(), "doc_id")
        .limit(25)
    )
from .pipeline_common import ln_micro_duck as _lnd, ln_micro_spark as _lns


@register(
    "txt_zipf_fit",
    f"""
    WITH freq AS (
        SELECT term, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY term
    ),
    top AS (
        SELECT f, CAST(row_number() OVER (ORDER BY f DESC, term) AS BIGINT)
                      AS i
        FROM freq
        ORDER BY f DESC, term LIMIT 100
    ),
    ln AS (
        SELECT {_lnd('i')} AS x, {_lnd('f')} AS y
        FROM top
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,   CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM ln
    )
    SELECT n AS n_ranks,
           CAST(floor((n * sxy - sx * sy) * 1000000.0
                      / (n * sxx - sx * sx) + 0.5) AS BIGINT)
               AS zipf_slope_micro,
           CAST(floor((sy * 1.0 / n
                       - ((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx))
                         * sx / n) + 0.5) AS BIGINT)
               AS intercept_micro
    FROM s
    """,
    doc="Zipf's-law diagnostic for the corpus token distribution: OLS "
    "slope of ln(frequency) on ln(rank) over the top-100 terms (a "
    "healthy natural-language corpus fits slope ~ -1; a slope collapsing "
    "toward 0 flags boilerplate/duplication, a core curation signal "
    "alongside txt_repetition_filter). Engine-exact WITHOUT evaluating "
    "any libm log: the shared portable fixed-point ln "
    "(pipeline_common.ln_micro_*, exact exponent from binary bit length "
    "+ a 64-cell midpoint mantissa table emitted into BOTH engines from "
    "the same Python constants). The regression reduces to five integer "
    "sums over 100 rows; the closing floor-division runs on int64 sums "
    "cast to double identically on both engines. The rank comes from "
    "array_sort(collect_list) + posexplode over the bounded top-k "
    "(TakeOrderedAndProject feeds a 100-element aggregate row), so the "
    "registry-wide no-global-window sweep stays at zero exceptions. "
    "Plan shape at 100 TB: one exchange for term counts (map-side "
    "partial), TakeOrderedAndProject for the top-100, scalar fold.",
)
def txt_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    arr = (
        freq.orderBy(F.desc("f"), "term")
        .limit(100)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("f")).alias("nf"),
                        F.col("term").alias("term"),
                        F.col("f").alias("f"),
                    )
                )
            ).alias("a")
        )
    )
    top = arr.select(F.posexplode("a").alias("pos", "s")).select(
        (F.col("pos") + 1).cast("long").alias("i"), F.col("s.f").alias("f")
    )
    ln = top.select(
        F.expr(_lns("i")).alias("x"),
        F.expr(_lns("f")).alias("y"),
    )
    s = ln.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("n").alias("n_ranks"),
        F.floor(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * 1000000.0
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            + 0.5
        )
        .cast("long")
        .alias("zipf_slope_micro"),
        F.floor(
            F.col("sy") * 1.0 / F.col("n")
            - (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * 1.0
                / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            )
            * F.col("sx")
            / F.col("n")
            + 0.5
        )
        .cast("long")
        .alias("intercept_micro"),
    )


@register(
    "txt_kl_source_divergence",
    f"""
    WITH toks AS (
        SELECT lang, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE lang IN ('en', 'de')
    ),
    counts AS (
        SELECT term,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_p,
               CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_q
        FROM toks GROUP BY term
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS v,
               CAST(sum(c_p) AS BIGINT) AS t_p,
               CAST(sum(c_q) AS BIGINT) AS t_q
        FROM counts
    ),
    terms AS (
        SELECT c.c_p + 1 AS pn, c.c_q + 1 AS qn,
               t.t_p + t.v AS pd, t.t_q + t.v AS qd,
               t.v, t.t_p, t.t_q
        FROM counts c, tot t
    ),
    contrib AS (
        SELECT v, t_p, t_q, pd, qd,
               pn * ({_lnd('pn')} - {_lnd('pd')}
                     - {_lnd('qn')} + {_lnd('qd')}) AS c_pq,
               qn * ({_lnd('qn')} - {_lnd('qd')}
                     - {_lnd('pn')} + {_lnd('pd')}) AS c_qp
        FROM terms
    )
    SELECT any_value(v)   AS n_vocab,
           any_value(t_p) AS tokens_en,
           any_value(t_q) AS tokens_de,
           CAST(floor(CAST(sum(c_pq) AS DOUBLE) / any_value(pd) + 0.5)
                AS BIGINT) AS kl_en_de_micro,
           CAST(floor(CAST(sum(c_qp) AS DOUBLE) / any_value(qd) + 0.5)
                AS BIGINT) AS kl_de_en_micro
    FROM contrib
    """,
    doc="Domain-shift measurement between two language slices of the "
    "corpus: add-one-smoothed KL divergence of the en vs de unigram "
    "distributions, in BOTH directions (KL is asymmetric; the pair is "
    "the standard drift report a mixture-reweighting pipeline consumes "
    "— doc_dsir_importance's n-gram importance ratios are the per-doc "
    "version of the same quantity). Deterministic cross-engine via the "
    "shared portable fixed-point ln (pipeline_common.ln_micro_*): each "
    "term contributes the INTEGER (c+1) * (ln_micro p - ln_micro q) "
    "product, summed wide (DECIMAL/HUGEINT) and floor-divided by the "
    "smoothed denominator once at the end — no libm log, no float until "
    "the final scalar division, which both engines evaluate on the same "
    "doubles. Plan: one exchange for per-term conditional counts "
    "(map-side partials over the exploded token stream), a broadcast "
    "1-row totals attach, one fold. The 100 TB shape is identical to "
    "any grouped count; vocabulary size only widens the single "
    "histogram exchange.",
)
def txt_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "de"))
    toks = d.select("lang", F.explode(F.split("text", " ")).alias("term"))
    counts = toks.groupBy("term").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("c_p"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0))
        .cast("long")
        .alias("c_q"),
    )
    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("c_p").cast("long").alias("t_p"),
        F.sum("c_q").cast("long").alias("t_q"),
    )
    terms = counts.crossJoin(F.broadcast(tot)).select(
        (F.col("c_p") + 1).alias("pn"),
        (F.col("c_q") + 1).alias("qn"),
        (F.col("t_p") + F.col("v")).alias("pd"),
        (F.col("t_q") + F.col("v")).alias("qd"),
        "v",
        "t_p",
        "t_q",
    )
    contrib = terms.select(
        "v",
        "t_p",
        "t_q",
        "pd",
        "qd",
        F.expr(
            f"pn * ({_lns('pn')} - {_lns('pd')}"
            f" - {_lns('qn')} + {_lns('qd')})"
        ).alias("c_pq"),
        F.expr(
            f"qn * ({_lns('qn')} - {_lns('qd')}"
            f" - {_lns('pn')} + {_lns('pd')})"
        ).alias("c_qp"),
    )
    return contrib.agg(
        F.any_value("v").alias("n_vocab"),
        F.any_value("t_p").alias("tokens_en"),
        F.any_value("t_q").alias("tokens_de"),
        # Widen before aggregating (advice r9): accumulate the per-term
        # contributions in decimal(38,0) so the fold itself never runs in
        # int64 — matching the oracle's HUGEINT sum, not just its result.
        F.floor(
            F.sum(F.col("c_pq").cast("decimal(38,0)")).cast("double")
            / F.any_value("pd")
            + 0.5
        )
        .cast("long")
        .alias("kl_en_de_micro"),
        F.floor(
            F.sum(F.col("c_qp").cast("decimal(38,0)")).cast("double")
            / F.any_value("qd")
            + 0.5
        )
        .cast("long")
        .alias("kl_de_en_micro"),
    )


@register(
    "txt_ngram_novelty",
    """
    WITH sh AS (
        SELECT doc_id, source,
               unnest(list_distinct([substr(text, g, 8)
               FOR g IN range(1, greatest(length(text) - 6, 2))])) AS sh
        FROM documents
    ),
    first_seen AS (
        SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
    ),
    novel AS (
        SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        FROM first_seen GROUP BY first_doc
    ),
    totals AS (
        SELECT doc_id, source,
               CAST(len(list_distinct([substr(text, g, 8)
                    FOR g IN range(1, greatest(length(text) - 6, 2))]))
                    AS BIGINT) AS n_shingles
        FROM documents
    ),
    per_doc AS (
        SELECT t.doc_id, t.source, t.n_shingles,
               coalesce(n.n_novel, 0) AS n_novel
        FROM totals t LEFT JOIN novel n USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(n_shingles) AS BIGINT)   AS total_shingles,
           CAST(sum(n_novel) AS BIGINT)      AS novel_shingles,
           CAST(sum(n_novel) * 1000 // sum(n_shingles) AS BIGINT)
               AS novelty_milli
    FROM per_doc GROUP BY source
    """,
    doc="Corpus novelty curve by source: the fraction of each document's "
    "distinct 8-gram shingles whose FIRST appearance (min doc_id over "
    "the whole corpus) is that document — the additive-content metric "
    "behind dedup-aware data valuation ('how much genuinely new text "
    "does this source contribute?'), complementing pairwise dedup "
    "(dedup_ngram_jaccard) with a corpus-global attribution. Shingles "
    "reuse the exact operator/oracle definition of the Jaccard family "
    "(operators/dedup.py:shingle_array == the list-comprehension "
    "fragment here, short texts contributing themselves). Spark keys "
    "the one corpus-wide exchange on xxhash64 of the shingle (r11 "
    "verdict item 4: 8-byte keys instead of n-gram strings — cheaper "
    "map-side partial min, 2.5x less shuffle payload, no string "
    "comparisons in the reduce-side hash agg); the oracle keys on the "
    "string itself. The two coincide exactly whenever xxhash64 is "
    "collision-free over the corpus's distinct shingles — asserted "
    "DETERMINISTICALLY (count distinct strings == count distinct "
    "hashes) at sf0.01 and sf1 by tests/test_round12_ops.py, not just "
    "birthday-bounded (~2e-7 at 50M shingles). A collision would only "
    "merge two shingles' first-seen attribution in a 500M-count "
    "corpus-level ratio. Plan: one exchange on the hashed shingle "
    "builds the min-doc table (map-side partial min), novelty is a "
    "grouped count over it, and the totals side is a map-side size() "
    "on the documents scan — linear in total shingles, no self-join, "
    "no quadratic term anywhere; integer floor-division milli at the "
    "end.",
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import hashed_shingle_array

    d = _t(spark, sf_dir, "documents")
    # Round 12 (verdict item 4) restructure — the previous shape built
    # the per-doc shingle arrays TWICE (a totals scan computing
    # size(shingle_array) and a novel scan exploding it), and the array
    # build (substr + array_distinct over ~500 strings/doc) is the
    # dominant cost, not the exchange. Now ONE heavy scan explodes
    # hashed shingles (xxhash64 computed inside the array transform —
    # strings die in the scan stage; 8-byte keys through everything
    # downstream; md5-prefix-to-int was A/B-rejected: hex render + conv
    # parse cost more than the string exchange saved, PERF.md), ONE
    # partial-aggregated exchange keyed (shl, source) produces the
    # vocabulary relation g1 = (shl, source, n_inst, min_doc) — size
    # O(distinct shingles x sources), the materialize-once intermediate
    # at any corpus size — which is checkpointed and consumed by both
    # derivations: per-source totals (sum of instance counts) and
    # per-source novelty (min-doc-of-min-struct attribution, no doc
    # join: the winning source rides the min struct). n_docs comes from
    # a text-free column scan. The oracle stays string-keyed; the two
    # coincide exactly whenever xxhash64 is collision-free over the
    # corpus's distinct shingles — asserted DETERMINISTICALLY (distinct
    # strings == distinct hashes) at sf0.01 (tests/test_round12_ops.py)
    # and sf1 (PERF.md), not just birthday-bounded.
    # NO explicit repartition before the groupBy: an eager repartition
    # on the key would exchange the FULL exploded relation raw,
    # defeating the map-side partial agg that collapses each task's
    # output to its distinct (shl, source) pairs (A/B at sf10: +13 s).
    sh = d.select(
        "doc_id",
        "source",
        F.explode(hashed_shingle_array("text", 8)).alias("shl"),
    )
    # Eagerly checkpointed (the stat_mad_outliers grid discipline, and
    # the documented eager-plan-builder contract): WITHOUT the
    # checkpoint, column pruning specializes each consumer's partial
    # aggregate (totals drops mind, novelty drops n_inst), the two
    # exchanges stop being canonically identical, ReuseExchange cannot
    # fire, and the corpus-wide scan+explode runs TWICE (verified in
    # the physical plan; tests assert the single-Generate property).
    g1 = (
        sh.groupBy("shl", "source")
        .agg(
            F.count(F.lit(1)).alias("n_inst"),
            F.min("doc_id").alias("mind"),
        )
        .localCheckpoint(eager=True)
    )
    totals_src = g1.groupBy("source").agg(
        F.sum("n_inst").cast("long").alias("total_shingles")
    )
    novel_src = (
        g1.groupBy("shl")
        .agg(
            F.min(
                F.struct(F.col("mind").alias("d"), F.col("source").alias("s"))
            ).alias("f")
        )
        .groupBy(F.col("f.s").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("novel_shingles"))
    )
    ndocs = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        ndocs.join(totals_src, "source")
        .join(novel_src, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_shingles",
            F.coalesce("novel_shingles", F.lit(0))
            .cast("long")
            .alias("novel_shingles"),
            F.expr(
                "CAST(coalesce(novel_shingles, 0) * 1000"
                " div total_shingles AS BIGINT)"
            ).alias("novelty_milli"),
        )
    )


@register(
    "txt_cross_source_contamination",
    """
    WITH fp AS (
        SELECT source, md5(lower(trim(text))) AS fingerprint
        FROM documents
    ),
    per AS (
        SELECT fingerprint, source, CAST(count(*) AS BIGINT) AS n_s
        FROM fp GROUP BY fingerprint, source
    ),
    per_fp AS (
        SELECT fingerprint,
               CAST(sum(n_s) AS BIGINT) AS n,
               CAST(sum(n_s * (n_s - 1) / 2) AS BIGINT) AS within_pairs
        FROM per GROUP BY fingerprint
    )
    SELECT CAST(count(*) AS BIGINT) AS n_fingerprints,
           CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_fingerprints,
           CAST(sum(n * (n - 1) / 2) AS BIGINT)          AS pairs_total,
           CAST(sum(within_pairs) AS BIGINT)             AS pairs_within_source,
           CAST(sum(n * (n - 1) / 2 - within_pairs) AS BIGINT)
               AS pairs_cross_source
    FROM per_fp
    """,
    doc="Contamination DIRECTION accounting: exact-duplicate pairs split "
    "into within-source vs cross-source — the one-row report that tells "
    "a curation pipeline whether duplication is benign re-crawl noise "
    "(within one source) or cross-source leakage (the benchmark-"
    "contamination shape txt_contamination_check tests point-wise, here "
    "measured corpus-wide). Pure combinatorics on the canonical "
    "fingerprint (pipeline_common._content_fingerprint semantics): per-"
    "(fingerprint, source) counts in one exchange, per-fingerprint "
    "C(n,2) totals in a second node-sized fold, cross = total - "
    "sum(C(n_s,2)) — NO pair enumeration anywhere, so the cost is "
    "linear in distinct fingerprints regardless of how pathological "
    "the duplicate clusters are (a 1M-copy document contributes one "
    "integer, not 5e11 pairs). n*(n-1)/2 stays exact: n is even or "
    "n-1 is, so the /2 divides exactly on both engines.",
)
def txt_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_common import _content_fingerprint

    d = _t(spark, sf_dir, "documents")
    per = (
        d.select("source", _content_fingerprint().alias("fingerprint"))
        .groupBy("fingerprint", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    )
    per_fp = per.groupBy("fingerprint").agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum(F.expr("n_s * (n_s - 1) / 2").cast("long"))
        .cast("long")
        .alias("within_pairs"),
    )
    return per_fp.agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_fingerprints"),
        F.sum(F.expr("n * (n - 1) / 2").cast("long"))
        .cast("long")
        .alias("pairs_total"),
        F.sum("within_pairs").cast("long").alias("pairs_within_source"),
        (
            F.sum(F.expr("n * (n - 1) / 2").cast("long"))
            - F.sum("within_pairs")
        )
        .cast("long")
        .alias("pairs_cross_source"),
    )


# The txt_shannon_entropy oracle interpolates the portable fixed-point
# ln fragments (pipeline_common.ln_micro_duck) into plain SQL at import
# time; built with str.replace rather than an f-string because the
# fragments themselves contain format braces.
_ENTROPY_ORACLE = """
    WITH t AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT source, tok, count(*) AS n FROM t
        WHERE tok <> '' GROUP BY source, tok
    ),
    s AS (
        SELECT source,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_vocab,
               CAST(sum(CAST(n * ((length(format('{:b}', n)) - 1) * 693147 + [7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233][CAST((CASE WHEN (length(format('{:b}', n)) - 1) >= 6 THEN n // (1::BIGINT << ((length(format('{:b}', n)) - 1) - 6)) ELSE (n * 64) // (1::BIGINT << (length(format('{:b}', n)) - 1)) END) AS INTEGER) - 63]) AS HUGEINT)) AS HUGEINT)
                   AS wsum
        FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_vocab,
           CAST(((length(format('{:b}', n_tokens)) - 1) * 693147 + [7782, 23167, 38319, 53245, 67951, 82444, 96730, 110814, 124703, 138402, 151916, 165250, 178408, 191395, 204216, 216874, 229374, 241720, 253915, 265964, 277868, 289633, 301261, 312756, 324119, 335356, 346467, 357456, 368326, 379078, 389717, 400243, 410660, 420969, 431173, 441275, 451275, 461176, 470980, 480689, 490304, 499828, 509262, 518608, 527867, 537041, 546132, 555142, 564070, 572920, 581692, 590387, 599008, 607555, 616030, 624433, 632767, 641031, 649228, 657358, 665423, 673423, 681359, 689233][CAST((CASE WHEN (length(format('{:b}', n_tokens)) - 1) >= 6 THEN n_tokens // (1::BIGINT << ((length(format('{:b}', n_tokens)) - 1) - 6)) ELSE (n_tokens * 64) // (1::BIGINT << (length(format('{:b}', n_tokens)) - 1)) END) AS INTEGER) - 63]) - wsum // n_tokens AS BIGINT) AS entropy_micro
    FROM s
    """


@register(
    "txt_shannon_entropy",
    _ENTROPY_ORACLE,
    doc="Shannon vocabulary entropy per source in micro-nats — the "
    "log-based companion of txt_simpson_diversity (Simpson answers "
    "'collision probability', entropy answers 'effective information "
    "per token'; exp(H) is the perplexity-style effective vocabulary): "
    "H = ln(T) - (1/T) * sum_i c_i * ln(c_i), computed entirely on the "
    "portable fixed-point ln (pipeline_common.ln_micro_*: binary-bit-"
    "length exponent + 64-cell mantissa midpoint table, no engine libm, "
    "bit-identical across engines) so the hash gate covers a LOG-based "
    "statistic exactly. The per-token weight c*ln_micro(c) is widened "
    "to HUGEINT/decimal BEFORE summing (c*ln(c) products pass int64 at "
    "corpus scale — the round-10 widen-before-aggregate discipline). "
    "Plan identical to the Simpson twin: one (source, tok) aggregate "
    "with map-side partials, then one per-source fold of the count "
    "relation; the vocabulary shuffles once, raw tokens never do.",
)
def txt_shannon_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline_common import ln_micro_spark

    d = _t(spark, sf_dir, "documents").select("source", "text")
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum(
            F.expr(f"CAST(n * {ln_micro_spark('n')} AS DECIMAL(38,0))")
        ).alias("wsum"),
    )
    return s.select(
        "source",
        "n_tokens",
        "n_vocab",
        F.expr(
            f"CAST({ln_micro_spark('n_tokens')}"
            " - CAST((wsum - wsum % n_tokens) / n_tokens AS DECIMAL(38,0))"
            " AS BIGINT)"
        ).alias("entropy_micro"),
    )


@register(
    "txt_hapax_legomena",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tc AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT)  AS vocab,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax,
           CAST(sum(cnt) AS BIGINT)  AS total_tokens,
           CAST((2000 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS hapax_ratio_milli
    FROM tc GROUP BY source
    """,
    doc="Hapax legomena profile per source: vocabulary size, the count of "
    "tokens occurring exactly ONCE in the source's whole corpus slice, "
    "and their ratio — the classical vocabulary-richness / "
    "crawl-contamination signal (a boilerplate-heavy or deduplicated "
    "source shows an anomalously LOW hapax ratio; ~40-60% is natural "
    "text's Zipf-consistent range, the regime txt_zipf_fit measures "
    "from the other end). All-integer: token counts collapse in one "
    "partial-aggregated exchange on (source, token), the per-source "
    "fold reduces those bounded vocab rows, and the ratio is the "
    "(2h+v) div (2v) round-half-up identity. Unlike "
    "txt_vocab_coverage's per-doc distinct tokens, the count here is "
    "corpus-global per source — frequency 1 must survive aggregation "
    "across ALL of a source's documents, which is exactly why it "
    "needs the two-level aggregate and cannot be a map-only profile.",
)
def txt_hapax_legomena(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    tc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax"),
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.expr(
            "CAST((2000 * sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)"
            " + count(*)) div (2 * count(*)) AS BIGINT)"
        ).alias("hapax_ratio_milli"),
    )


@register(
    "txt_ttr_guiraud",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tc AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT)  AS n_types,
           CAST(sum(cnt) AS BIGINT)  AS n_tokens,
           CAST((2000 * count(*) + sum(cnt)) // (2 * sum(cnt)) AS BIGINT)
               AS ttr_milli,
           CAST(floor(count(*) / sqrt(CAST(sum(cnt) AS DOUBLE)) * 1000000
                + 0.5) AS BIGINT) AS guiraud_micro
    FROM tc GROUP BY source
    """,
    doc="Type-token ratio and Guiraud's root-TTR index per source "
    "(Guiraud 1954, public): vocabulary size over token count, plus "
    "types/sqrt(tokens) — the length-corrected vocabulary-richness "
    "member completing the txt diversity family (raw TTR shrinks "
    "mechanically with corpus length; Guiraud's R is the classical "
    "correction, complementing txt_hapax_legomena's frequency-1 lens "
    "and txt_simpson_diversity's concentration lens). Same tokenizer "
    "and (source, token) partial-aggregated exchange as hapax — the "
    "raw token stream collapses map-side, the per-source fold reduces "
    "bounded vocab rows. TTR uses the (2a+b) div (2b) half-up integer "
    "identity; Guiraud divides two exactly-represented integers "
    "through IEEE-exact sqrt (correctly rounded on both engines, "
    "unlike ln) and micro-floors half-up once — engine-exact at any "
    "scale.",
)
def txt_ttr_guiraud(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((2000 * count(*) + sum(cnt)) div (2 * sum(cnt)) AS BIGINT)"
        ).alias("ttr_milli"),
        F.floor(
            F.count(F.lit(1))
            / F.sqrt(F.sum("cnt").cast("double"))
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("guiraud_micro"),
    )


@register(
    "txt_yule_k",
    """
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tc AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM toks GROUP BY source, tok
    ),
    s AS (
        SELECT source,
               CAST(sum(cnt) AS BIGINT) AS s1,
               CAST(sum(CAST(cnt AS HUGEINT) * cnt) AS HUGEINT) AS s2
        FROM tc GROUP BY source
    )
    SELECT source, s1 AS n_tokens, CAST(s2 AS BIGINT) AS sum_cnt_sq,
           CAST(CAST(1000000 AS HUGEINT) * (s2 - s1)
                // (CAST(s1 AS HUGEINT) * s1) AS BIGINT) AS yule_k_centi
    FROM s
    """,
    doc="Yule's characteristic K per source (Yule 1944, public): "
    "K = 10^4 * (sum f^2 - N) / N^2 over the token frequency spectrum "
    "— the repeat-rate / vocabulary-concentration constant that is "
    "(unlike raw TTR) length-invariant by construction, completing "
    "the lexical-diversity family from the opposite end of "
    "txt_ttr_guiraud (richness) and txt_hapax_legomena (frequency-1 "
    "mass): K RISES when a source leans on few repeated tokens — the "
    "boilerplate/template signature. Emitted in centi-K units "
    "(10^6 = 10^4 scale x 100), all-integer: the same (source, token) "
    "partial-aggregated exchange as hapax/ttr, frequency squares "
    "summed in 128-bit intermediates (HUGEINT/DECIMAL(38) — sum f^2 "
    "passes int64 once one token repeats ~3e9 times), one floor "
    "division at the end, engine-exact at any scale.",
)
def txt_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    s = tc.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("s1"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(28,0)) * cnt"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    return s.select(
        "source",
        F.col("s1").alias("n_tokens"),
        F.col("s2").cast("long").alias("sum_cnt_sq"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * (s2 - s1)"
            " div (CAST(s1 AS DECIMAL(19,0)) * s1) AS BIGINT)"
        ).alias("yule_k_centi"),
    )
