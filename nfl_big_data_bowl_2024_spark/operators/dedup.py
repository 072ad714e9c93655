"""Distributed document deduplication operators.

All shingling/hashing runs JVM-side (higher-order array functions + murmur3/
xxhash64) — no Python in the hot path. Shapes:

  exact         one shuffle on the text fingerprint (see plans.pipeline_txt)
  n-gram Jaccard  shingle -> explode -> self-join on shingle -> overlap counts
  MinHash+LSH   shingle -> 32 permuted min-hashes -> banded bucket join ->
                exact-Jaccard verification of candidates only
  SimHash       token hashes -> 64 signed bit-sums -> packed 64-bit signature
                + 16-bit bands for bucketed near-dup search

Scale notes: the Jaccard self-join is quadratic per shared shingle — safe only
after stopword-shingle removal or as the *verify* stage on LSH candidates; the
MinHash path is the 100 TB default (band buckets bound the join fan-out, AQE
skew-join splits hot buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localrel import local_df as _local_rel
from .scalars import checkpoint_counted, checkpoint_observed

# Hard cap on what this module will explicitly broadcast, in REAL bytes
# (estimated from row counts x true widths, not Catalyst stats): a
# broadcast is collected to the driver and counts against
# spark.driver.maxResultSize (1 GiB default), so 256 MiB leaves 4x
# headroom while still letting the signature/embedding dimension tables
# broadcast at the measured sf10 operating points.
_BROADCAST_BYTES_CAP = 256 * 1024 * 1024


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition on the id before CPU-heavy shingling/hashing.

    Parquet splits are SIZE-based (maxPartitionBytes), which wildly
    underestimates the compute cost of text: a few MB of compressed documents
    arrive as one partition and the per-shingle hashing runs on one core.
    The partition count is pinned to the cluster's core count because AQE's
    size-based coalescing would otherwise merge the (byte-tiny, CPU-huge)
    shuffle straight back to one partition. The shuffle itself is raw text —
    cheap — and buys full-cluster parallelism for the expensive stage.
    """
    sc = df.sparkSession.sparkContext
    return df.repartition(sc.defaultParallelism, F.col(id_col))


def shingle_array(text_col: str, n: int = 8) -> Column:
    """Distinct character n-gram shingles as an ARRAY column (map-only, no
    explode). Short texts (< n chars) contribute their whole text as a single
    shingle."""
    upper = F.greatest(F.length(text_col) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), upper), lambda g: F.col(text_col).substr(g, F.lit(n))
        )
    )


def hashed_shingle_array(text_col: str, n: int = 8) -> Column:
    """Distinct xxhash64 values of the character n-gram shingles, as an
    ARRAY<BIGINT> column. Semantics match ``transform(shingle_array(...),
    xxhash64)`` exactly whenever xxhash64 is collision-free over the text's
    shingles (dedup-by-hash == dedup-by-string-then-hash), but the string
    shingles die inside the transform: array_distinct dedups 8-byte longs
    instead of allocating and hashing 8-char UTF8Strings — the cheaper form
    for consumers that never need the string back (txt_ngram_novelty's
    corpus-wide first-seen exchange)."""
    upper = F.greatest(F.length(text_col) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), upper),
            lambda g: F.xxhash64(F.col(text_col).substr(g, F.lit(n))),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    threshold: float = 0.2,
    max_df: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and jaccard >= threshold.

    ``max_df`` is the hot-shingle guard: the per-shingle self-join is
    O(doc_frequency^2), so one stopword-like shingle shared by millions of
    documents turns the join cartesian. Shingles whose document frequency
    exceeds ``max_df`` are dropped from BOTH the overlap and the per-doc
    counts (jaccard is then computed over the filtered shingle space — a
    documented approximation that only activates on corpus-scale data; any
    oracle must apply the identical filter). None disables the guard.

    NOTE: building this plan runs eager Spark jobs — not a pure
    plan-builder: one ``df.count()`` (broadcast gate), and with a guard
    the filtered shingle relation is eagerly localCheckpointed so the
    candidate-pair exchange can be sized from its ACTUAL pair count
    (see below). On a non-Parquet upstream the count is a full scan;
    pass an already-materialized relation if that matters at the call
    site.
    """
    # Shingles travel as xxhash64 LONGS from the explode on (r13, guide
    # §2.3 "narrower types": the same move the LSH verify stage and
    # txt_ngram_novelty already made): every downstream exchange — the
    # df-guard aggregate, the semi-join, the per-shingle doc lists and
    # the per-doc counts — carries 8-byte longs instead of 8-char
    # UTF8Strings (~20-28 B each), and the hot-shingle groupBys compare
    # longs. Per-doc/per-pair counts are preserved exactly whenever
    # xxhash64 is collision-free over the corpus shingles (P[any
    # collision] ~ (distinct shingles)^2 / 2^65 — the argument already
    # shipped for the minhash verify twin); the oracle's string-space
    # Jaccard is unchanged.
    sh = _spread(df, id_col).select(
        F.col(id_col), F.explode(hashed_shingle_array(text_col, n)).alias("sh")
    )
    if max_df is not None:
        # r13: the kept-shingle frequency relation is checkpointed WITH its
        # df column; r14: the pair-count sizing aggregate now rides the
        # checkpoint job itself as an OBSERVED metric (checkpoint_observed)
        # — r13 replaced a 135M-row re-aggregation with a 23.5M-row scan
        # of the checkpointed relation at sf10; the observation removes
        # even that scan (and one scheduler round-trip at sf0.1).
        #
        # Size the candidate-pair exchange from the DATA (commit 102db5f's
        # rule, verdict r10 item 4): the pair stream is sum d(d-1)/2 rows
        # (sf10: 888M collapsing to 392M distinct pairs — multiplicity
        # only 2.26, so map-side combine barely helps), and the conf-fixed
        # 64-partition agg put ~6M distinct (a,b) keys in every reducer's
        # hash map — the GC-bound stage of the old plan. ~4M pair rows
        # per task keeps the maps small at any scale; partitioning by
        # doc_a alone satisfies the (doc_a, doc_b) clustering, so the
        # grouped count runs partial+final in the SAME stage with no
        # second exchange. Measured at the generated sf10, same box and
        # session configs: 273.7 -> 130.2 s end-to-end.
        rare, rare_metrics = checkpoint_observed(
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_sh"))
            .filter(F.col("df_sh") <= max_df),
            F.sum(F.col("df_sh") * (F.col("df_sh") - 1) / 2).alias("p"),
        )
        pair_rows = rare_metrics["p"] or 0
        pair_width = max(
            df.sparkSession.sparkContext.defaultParallelism,
            int(pair_rows // 4_000_000) + 1,
        )
        # Materialize the guarded shingle relation ONCE (round 11): the
        # per-doc counts and the per-shingle doc lists both read it, and
        # Catalyst would otherwise re-run the explode + shingle exchange
        # per consumer. The checkpointed relation is the post-guard
        # minority of the corpus (sf10: 23.5M of 135M rows).
        sh = sh.join(rare.select("sh"), "sh", "left_semi").localCheckpoint(
            eager=True
        )
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    # The in-memory array expansion below materializes up to d(d-1)/2
    # structs in ONE array per shingle before explode; at the function's
    # old default max_df=100k that is ~5e9 elements — past the JVM array
    # limit. Route to it only when the cap keeps the worst-case array
    # small (4096 -> ~8.4M structs, same bound class as the 64-cap
    # adamic-adar wedge); larger caps fall back to the pair self-join,
    # which is still bounded per-shingle by the semi-join above.
    if max_df is not None and max_df <= 4096:
        # Guarded path (round 10 — the adamic-adar wedge idiom): the
        # per-shingle doc list is BOUNDED by max_df after the hot-shingle
        # semi-join, so the d(d-1)/2 ordered pairs expand map-side from
        # one sorted array instead of a d^2-row self-join filtered in
        # half after a second exchange of the shingle relation.
        ids = sh.groupBy("sh").agg(
            F.array_sort(F.collect_list(F.col(id_col))).alias("ids")
        )
        pairs = (
            ids.select(
                F.explode(
                    F.expr(
                        "flatten(transform(ids, (a, i) -> transform("
                        f"slice(ids, i + 2, {int(max_df)}),"
                        " b -> struct(a AS doc_a, b AS doc_b))))"
                    )
                ).alias("p")
            )
            .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        )
        overlap = (
            pairs.repartition(pair_width, "doc_a")
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        # Self-join path: either unguarded (max_df=None — a hot shingle
        # would OOM a collect_list task) or guarded with a cap too large
        # for a safe in-memory array. The per-shingle fan-out is still
        # bounded by max_df^2 when the semi-join above ran.
        a = sh.select(F.col(id_col).alias("doc_a"), "sh")
        b = sh.select(F.col(id_col).alias("doc_b"), "sh")
        pairs = a.join(b, ["sh"]).filter(F.col("doc_a") < F.col("doc_b"))
        if max_df is not None:
            pairs = pairs.repartition(pair_width, "doc_a")
        overlap = pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("n_common")
        )
    ca = counts.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    # Count-gated broadcast of the per-doc count attach (round 10; the
    # k-core <=5M-row rule): counts is CORPUS-sized, so an unconditional
    # hint is a driver OOM at the 100 TB design point — but leaving the
    # decision to AQE regressed the sf10 point (its ~10MB estimate sits
    # right at this relation's size and a sort-merge join drags the huge
    # overlap relation through an extra sort). One metadata-cheap count
    # of the input picks the branch explicitly.
    if df.count() <= 5_000_000:
        ca, cb = F.broadcast(ca), F.broadcast(cb)
    return (
        overlap.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    max_df: int | None = 256,
) -> DataFrame:
    """Exact word-token Jaccard join via PPJoin-style prefix filtering
    (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 — public algorithms).

    The prefix-filtering principle: order every document's token set by ONE
    global total order (here: ascending document frequency, ties on the
    token string — rarest first) and keep only the first
    ``n - ceil(threshold * n) + 1`` tokens as join keys. Any pair with
    Jaccard >= threshold MUST share a token inside these prefixes, so
    joining on prefix tokens alone loses no pairs — while the candidate
    volume drops from the inverted index's sum(df^2) over ALL tokens to a
    sum over only the RAREST slice of each document (which is tiny by
    construction: rare tokens have small df, and common tokens never enter
    a prefix). Candidates are then verified exactly on the full token sets
    (array_intersect on candidate pairs only — the MinHash verify shape).

    ``max_df`` mirrors ngram_jaccard_pairs' hot-token guard: tokens above
    the document-frequency cap are dropped from the token space on both
    the join and the counts (stopword removal, in effect), which is what
    keeps the VERIFY stage's set arrays bounded too. Jaccard is computed
    over the filtered space; an oracle must apply the identical filter.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold,
    jaccard floor-parity-rounded to 4dp (engine-agnostic: integer overlap
    counts -> one double division -> floor).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df_tok"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df_tok") <= max_df)
    kept = toks.join(dfreq, "tok")

    w_ord = Window.partitionBy(id_col).orderBy("df_tok", "tok")
    w_all = Window.partitionBy(id_col)
    ranked = kept.select(
        id_col,
        "tok",
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_tok"),
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_tok") - F.ceil(F.lit(threshold) * F.col("n_tok")) + 1
    )

    cands = (
        prefix.select(F.col(id_col).alias("doc_a"), "tok")
        .join(prefix.select(F.col(id_col).alias("doc_b"), "tok"), "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    toksets = kept.groupBy(id_col).agg(
        F.sort_array(F.collect_set("tok")).alias("toks"),
        F.count(F.lit(1)).alias("n_tok"),
    )
    a = toksets.select(
        F.col(id_col).alias("doc_a"),
        F.col("toks").alias("toks_a"),
        F.col("n_tok").alias("n_a"),
    )
    b = toksets.select(
        F.col(id_col).alias("doc_b"),
        F.col("toks").alias("toks_b"),
        F.col("n_tok").alias("n_b"),
    )
    n_common = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = n_common * 1.0 / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(jac * 10000 + F.lit(0.5)) / 10000.0).alias("jaccard"),
        )
    )


_MH_SENTINEL = (1 << 63) - 1  # "empty set" signature value (max int64)


def _mh_coeffs(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) pairs for the multiply-shift permutation family
    h_p(x) = ((a_p * x + b_p) mod 2^64) >> 1 — a_p odd (Dietzfelbinger
    multiply-shift universality; the wrap IS the mod, no division).
    LCG-derived, no RNG state."""
    a, b, x = [], [], 88172645463325252
    for _ in range(num_perm):
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 64)
        a.append(x | 1)  # odd multiplier
        x = (6364136223846793005 * x + 1442695040888963407) % (1 << 64)
        b.append(x)
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    num_perm: int = 32,
    with_shingle_len: bool = False,
) -> DataFrame:
    """MinHash signature per document as ONE array column ``mh`` of length
    ``num_perm``: each shingle is hashed ONCE JVM-side (xxhash64), then the
    ``num_perm`` permutations are the multiply-shift universal hash family
    ((a*h + b) mod 2^64) >> 1 with odd a — int64 wraparound IS the modulus,
    so the inner loop is mul+add+shift with no integer division — evaluated
    for ALL permutations in one numpy broadcast inside an Arrow-batched UDF.

    Why not pure JVM expressions: higher-order-function lambdas are
    INTERPRETED per element, so the previous ``aggregate`` fold with
    num_perm hashes per shingle cost ~shingles x num_perm interpreted
    evals — measured 9.3 s for 50k docs (sf1.0); this split (hash JVM-side
    once: ~1 s; permute vectorized: (num_perm x shingles) matrix op per
    doc) runs the same signatures in ~2.5 s. Same shape as the LSH plane
    projections (similarity.py) — the documented vectorized-UDF exception.
    Still map-side end-to-end: one repartition for CPU spread, no
    aggregation shuffle, zero row blowup; at 100 TB signatures stream
    straight out of the scan.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a_co, b_co = _mh_coeffs(num_perm)
    a_arr = np.array(a_co, dtype=np.uint64)[:, None]
    b_arr = np.array(b_co, dtype=np.uint64)[:, None]

    @pandas_udf("array<long>")
    def mh_from_hashes(hs):  # series of int64 arrays (one per doc)
        # Vectorized across the WHOLE batch, not per document: a per-doc
        # numpy call costs ~60 us of Python dispatch, which dominates at
        # corpus scale (measured 33 s for 500k docs; this reduceat form
        # runs the same batch in ~4 s). Shingle hash arrays are ragged, so
        # they are concatenated once and the per-document minima come from
        # np.minimum.reduceat over segment starts; documents are processed
        # in slices so the (num_perm x total_shingles) product matrix stays
        # ~50 MB regardless of batch size.
        arrs = [
            np.asarray(h, dtype=np.int64)
            if h is not None and len(h) > 0
            else np.full(1, _MH_SENTINEL, dtype=np.int64)
            for h in hs
        ]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        out: list[np.ndarray] = []
        max_cells = 2_000_000  # x num_perm x 8 B ~= 50 MB working set
        i = 0
        while i < len(arrs):
            j, cells = i, 0
            while j < len(arrs) and cells + lens[j] <= max_cells:
                cells += lens[j]
                j += 1
            j = max(j, i + 1)
            # uint64 view: two's-complement bits preserved; the multiply
            # and add WRAP mod 2^64 (that wrap is the hash's modulus), and
            # >> 1 keeps values inside signed-long range for the output.
            flat = np.concatenate(arrs[i:j]).view(np.uint64)
            starts = np.zeros(j - i, dtype=np.int64)
            np.cumsum(lens[i : j - 1], out=starts[1:])
            # Per-permutation 1D pass, NOT a (num_perm x cells) 2D
            # broadcast: the 2D product materializes three ~512 MB
            # uint64 temporaries per slice whose allocation/page traffic
            # runs ~60x slower than the same arithmetic over one
            # cache-resident 16 MB row at a time (measured 8.45 s vs
            # 0.14 s per 64M cells on this box — the round-11 sf10 LSH
            # regression). In-place += and >>= keep it one temporary.
            mins = np.empty((a_arr.shape[0], j - i), dtype=np.uint64)
            for k in range(a_arr.shape[0]):
                pk = flat * a_arr[k, 0]
                pk += b_arr[k, 0]
                pk >>= np.uint64(1)
                mins[k] = np.minimum.reduceat(pk, starts)
            out.extend(mins.astype(np.int64).T)
            i = j
        return pd.Series(out)

    shingle_hashes = F.transform(
        shingle_array(text_col, n), lambda s: F.xxhash64(s)
    )
    cols = [F.col(id_col), mh_from_hashes(shingle_hashes).alias("mh")]
    if with_shingle_len:
        # Shingle-count upper bound rides along (one int per row) so the
        # cache-warming pass can double as the verify stage's broadcast
        # byte-sizing job — no separate corpus length scan.
        cols.append(
            F.greatest(F.length(text_col) - (n - 1), F.lit(1)).alias("shl")
        )
    return _spread(df, id_col).select(*cols)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    num_perm: int = 32,
    bands: int = 8,
    verify_threshold: float = 0.2,
) -> DataFrame:
    """Banded-LSH candidate pairs + exact-Jaccard verification.

    bands x rows_per_band = num_perm; two docs are candidates if any band of
    their signatures matches exactly. Candidates (a tiny fraction of all
    pairs) are then verified with exact Jaccard — computed only over
    candidate documents' shingles, which is what keeps this linear-ish at
    100 TB.
    Returns (doc_a, doc_b, est_jaccard, jaccard).

    NOTE: building this plan runs eager Spark jobs (signature cache warm,
    candidate checkpoint, pair count for verify-stage sizing) — not a pure
    plan-builder; the input is scanned when the function is CALLED.
    """
    rows_per_band = num_perm // bands
    # Signature lifecycle: persist the signature index while the pair table
    # is derived (it feeds the band explode AND both sides of the estimate
    # join), eagerly checkpoint the small pair table, then RELEASE the
    # cache before the verify plan is even built — the operator's only
    # surviving storage is its own output, and nothing accumulates across
    # composed sessions (asserted in tests/test_dedup_similarity.py).
    from pyspark.storagelevel import StorageLevel

    sig = minhash_signatures(
        df, id_col, text_col, n, num_perm, with_shingle_len=True
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Warm the cache with ONE pass before the pair job: sig sits below
    # THREE independent shuffle stages (band explode + both estimate join
    # sides), which Spark schedules concurrently — without this, each
    # stage races the cold cache and the signature computation runs up to
    # 3x (measured: band+est 38 s -> ~12 s at the generated sf10). The
    # same pass returns the corpus shingle count, so the verify stage's
    # broadcast byte-sizing needs no separate scan (a per-call extra job
    # measured as the round-8 dedup bench regression).
    warm = sig.agg(
        F.count(F.lit(1)).alias("c"), F.sum("shl").alias("t")
    ).first()
    n_docs, tot_shingles = warm["c"], warm["t"] or 0

    # Band hashes from array slices — the signature array is referenced once
    # inside the generator expression, so it is computed once per row.
    band_gen = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band_id"),
                F.hash(F.slice("mh", b * rows_per_band + 1, rows_per_band)).alias(
                    "band_hash"
                ),
            ),
        )
    )
    # The banded shuffle carries IDS ONLY (~36 B per banded row). Carrying
    # the num_perm-long signature through the self-join measured slightly
    # faster at sf0.1 (small exchange either way) but catastrophically
    # worse at the generated sf10 (4M banded rows x 256 B x both join
    # sides ~ 2.2 GB exchange; band+est went 4 s -> 60 s) — the id-only
    # band join plus two hash joins against the CACHED signature table is
    # the shape that survives scale-up.
    banded = sig.select(F.col(id_col), band_gen.alias("bb")).select(
        id_col,
        F.col("bb.band_id").alias("band_id"),
        F.col("bb.band_hash").alias("band_hash"),
    )
    left = banded.select(F.col(id_col).alias("doc_a"), "band_id", "band_hash")
    right = banded.select(F.col(id_col).alias("doc_b"), "band_id", "band_hash")
    candidates = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )

    # Estimated Jaccard = fraction of agreeing permutations, via two joins
    # of the id pairs against the cached signature index. While the
    # signature table is genuinely small it is the SMALL side — broadcast
    # it so the pair rows never shuffle for the attach (same finding as
    # the LSH re-rank in similarity.py). The bound is in BYTES, not docs:
    # a broadcast is collected to the driver and counts against
    # spark.driver.maxResultSize (1 GiB default), so the real size
    # n_docs x (num_perm longs + row overhead) must stay comfortably
    # under it. When the table is too big to broadcast, the join is
    # HINTED to sort-merge: Catalyst's size estimate for a projected
    # array column is ~one element per row (ArrayType.defaultSize), so
    # without the hint the static planner "discovers" a tiny build side
    # and broadcasts the full array table anyway — the measured 1.03 GiB
    # driver collect that killed the generated-sf10 run.
    sig_bytes = n_docs * (num_perm * 8 + 48)
    if sig_bytes <= _BROADCAST_BYTES_CAP:
        sig_side = F.broadcast(sig)
    else:
        sig_side = sig.hint("merge")
    sa = sig_side.select(F.col(id_col).alias("doc_a"), F.col("mh").alias("mh_a"))
    sb = sig_side.select(F.col(id_col).alias("doc_b"), F.col("mh").alias("mh_b"))
    agree = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    )
    # Eager: one job materializes signatures -> bands -> pairs ->
    # estimate; everything downstream (including the two cand_docs
    # scans of the verify pruning) reads these checkpoint blocks,
    # never sig — which is released immediately below. The surviving
    # pair count (which sizes the verify exchange at the end) rides
    # this job as an observed metric (r14, checkpoint_counted) instead
    # of a separate count pass over the checkpoint.
    est, n_pairs = checkpoint_counted(
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", (agree / F.lit(float(num_perm))).alias("est_jaccard")
        )
        # Pre-filter for the exact-verify stage: with num_perm permutations
        # the estimate's std-dev is sqrt(J(1-J)/num_perm) <= 0.5/sqrt(num_perm);
        # dropping candidates more than ~3 sigma BELOW the verify threshold
        # cannot drop a pair the threshold would keep (verified output stays
        # an exact subset; strong-pair recall asserted in tests), and it cuts
        # the expensive shingle-intersection volume.
        .filter(
            F.col("est_jaccard")
            >= max(0.0, verify_threshold - 1.5 / float(num_perm) ** 0.5)
        )
    )

    # Exact verification on the candidate PAIRS via array_intersect — LSH has
    # already pruned to ~O(n x dup-rate) pairs, so attaching each side's
    # shingle array and intersecting JVM-side beats re-running the
    # explode/self-join machinery (measured 6.4s -> sub-second at sf0.1; the
    # standalone exact path in ngram_jaccard_pairs keeps the join shape for
    # corpus-wide use where no candidate pruning exists).
    cand_docs = (
        est.select(F.col("doc_a").alias(id_col))
        .union(est.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # Shingle sets are carried as xxhash64 LONGS, not strings: the
    # intersection compares 8-byte values instead of variable-length UTF8
    # (~2x smaller attach rows, faster array_intersect). Set cardinalities
    # are preserved up to 64-bit hash collisions (P[any collision] ~
    # (distinct shingles)^2 / 2^65 — immaterial next to the 4-dp rounding).
    # Spread the semi-joined candidate docs BEFORE shingling: the semi join
    # preserves the scan's partitioning (size-based — a few MB of text is
    # ONE partition), so without this the CPU-heavy shingle/hash of every
    # candidate doc runs on a single task (measured 1.3 s of a 3.9 s run
    # at sf0.1; the skew grows with the duplicate rate at scale).
    sh_arr = _spread(
        df.join(F.broadcast(cand_docs), id_col, "left_semi"), id_col
    ).select(
        F.col(id_col),
        F.transform(shingle_array(text_col, n), lambda s: F.xxhash64(s)).alias("sh"),
    )
    # Candidate-doc count is bounded by 2x the pair count, and the pair
    # table is already materialized — but the broadcast decision must be
    # made in BYTES, not docs: each row carries the doc's WHOLE shingle
    # set (8 B x (len(text)-n+1)), so a doc-count bound was a ~1 GiB
    # driver collect that tripped spark.driver.maxResultSize at the
    # generated sf10 point. One cheap length scan of the pruned docs
    # estimates the shingle bytes; a small table broadcasts, anything
    # else falls back to HINTED sort-merge attach joins — hinted because
    # Catalyst's ArrayType size estimate (~one element/row) would
    # otherwise let the static planner broadcast the full array table on
    # its own (see sig_side above), which is the same 1 GiB failure with
    # nobody asking for it.
    # Two-tier sizing, both tiers free of any extra table scan: the WHOLE
    # corpus's shingle bytes (returned by the cache-warm pass above) are
    # an upper bound on the candidate subset's — when even the bound fits
    # the cap (every local/sf0.1-class corpus), decide with no extra job
    # at all; only a corpus too big for the bound pays an exact semi-join
    # length sum, and that reads the still-cached signature table (shl
    # rides in it for exactly this), where the cost is amortized by the
    # verify volume it sizes.
    sh_bytes = tot_shingles * 8 + n_docs * 48
    if sh_bytes > _BROADCAST_BYTES_CAP:
        tot_sh = (
            sig.join(F.broadcast(cand_docs), id_col, "left_semi")
            .agg(F.sum("shl").alias("t"), F.count(F.lit(1)).alias("c"))
            .first()
        )
        sh_bytes = (tot_sh["t"] or 0) * 8 + (tot_sh["c"] or 0) * 48
    sig.unpersist()
    if sh_bytes <= _BROADCAST_BYTES_CAP:
        sh_arr = F.broadcast(sh_arr)
    else:
        sh_arr = sh_arr.hint("merge")
    pa = sh_arr.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    pb = sh_arr.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common * 1.0 / (F.size("sh_a") + F.size("sh_b") - n_common)
    # Size the verify stage by the DATA, not the conf default (round 10;
    # the graph ops' _exchange_width discipline): each surviving pair
    # costs an array_intersect over two full shingle sets — the
    # operator's dominant CPU — and a conf-fixed width both under-splits
    # that map at scale and over-splits it on small corpora. The pair
    # count arrived as an observed metric of est's checkpoint job (r14);
    # ~100k intersections per task keeps tasks in the seconds range at
    # any scale. (sf10 A/Bs of this stage on the shared box swung
    # 176-448 s under host steal — the data-sized width is kept on
    # design grounds, matching every other data-sized exchange in the
    # repo, not on a single-box timing claim.)
    sc = df.sparkSession.sparkContext
    verify_width = max(sc.defaultParallelism, int(n_pairs // 100_000) + 1)
    return (
        est.repartition(verify_width, "doc_a")
        .join(pa, "doc_a")
        .join(pb, "doc_b")
        .filter(jac >= verify_threshold)  # threshold on the unrounded value,
        .withColumn("jaccard", F.round(jac, 4))  # as in ngram_jaccard_pairs
        .select(
            "doc_a", "doc_b", F.round("est_jaccard", 4).alias("est_jaccard"), "jaccard"
        )
    )


def global_sort_rank(
    df: DataFrame, sort_cols: list[str], rank_col: str = "_g"
) -> DataFrame:
    """Distributed dense global row_number over ``sort_cols`` — the
    scale-correct form of ``row_number() OVER (ORDER BY ...)``, which in
    Spark would otherwise collapse the whole relation into ONE window
    partition.

    Range-partition + local sort puts partition i strictly before
    partition i+1 in key order (RangePartitioner assigns ascending key
    ranges to ascending partition ids), local row_number ranks within
    each partition, and the per-partition row counts — ONE long per
    partition, the only driver-side state — turn local ranks into global
    ones via broadcast offsets. Callers must make ``sort_cols`` a total
    order (append the id column); equal keys could otherwise straddle a
    range boundary and the within-partition rank would split them
    arbitrarily.
    """
    from pyspark.sql import Window

    sc = df.sparkSession.sparkContext
    parts = sc.defaultParallelism
    s = (
        df.repartitionByRange(parts, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("_pid", F.spark_partition_id())
        # The pid->offset map must come from the SAME materialization the
        # ranks are computed on: spark_partition_id is only stable within
        # one evaluation of the range exchange (its sampled boundaries are
        # not re-derived identically across jobs).
        .localCheckpoint(eager=True)
    )
    counts = s.groupBy("_pid").count().collect()
    offs, acc = {}, 0
    for pid, c in sorted((r["_pid"], r["count"]) for r in counts):
        offs[pid] = acc
        acc += c
    off_df = _local_rel(
        df.sparkSession,
        [(int(p), int(o)) for p, o in offs.items()],
        "_pid int, _off long",
    )
    w_loc = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        s.withColumn("_rn", F.row_number().over(w_loc))
        .join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_rn")).cast("long"))
        .drop("_pid", "_rn", "_off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sort_cols: list[str] | None = None,
    window: int = 4,
    max_distance: int = 60,
) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez & Stolfo 1995 merge/purge):
    sort the corpus by a blocking key, compare each record only with its
    ``window`` successors in sort order, keep pairs within edit distance
    ``max_distance``. Returns (doc_a, doc_b, gap, lev) with doc_a/doc_b
    the sort-adjacent ids, gap the rank distance (1..window).

    Complexity is O(n log n + n*window) comparisons instead of the
    all-pairs O(n^2) — the classic record-linkage alternative to LSH
    when near-duplicates agree on a sortable prefix. Scale shape: one
    range exchange for the global sort (global_sort_rank), then the
    neighbor pairing is an EQUI-join on the rank (rank_b = rank_a + j,
    j exploded 1..window) — every shuffle is keyed and balanced; no
    global window, no driver data paths beyond the partition-count
    offsets. The edit-distance filter uses the bounded variant
    (levenshtein(a, b, threshold)), which abandons a pair early once the
    distance provably exceeds the bound.
    """
    cols = sort_cols if sort_cols is not None else [text_col, id_col]
    ranked = global_sort_rank(
        df.select(id_col, text_col), cols, rank_col="_g"
    ).select(
        F.col(id_col).alias("doc_a"),
        F.col(text_col).alias("_ta"),
        "_g",
    )
    right = ranked.select(
        F.col("doc_a").alias("doc_b"),
        F.col("_ta").alias("_tb"),
        F.col("_g").alias("_gb"),
    )
    probes = ranked.select(
        "doc_a",
        "_ta",
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("gap"),
        "_g",
    ).withColumn("_gb", F.col("_g") + F.col("gap"))
    lev = F.levenshtein("_ta", "_tb", max_distance)
    return (
        probes.join(right, "_gb")
        .withColumn("lev", lev)
        .filter((F.col("lev") >= 0) & (F.col("lev") <= max_distance))
        .select("doc_a", "doc_b", F.col("gap").cast("int").alias("gap"),
                F.col("lev").cast("long").alias("lev"))
    )


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document over whitespace tokens (xxhash64), plus four
    16-bit band columns for bucketed near-dup joins (two docs within Hamming
    distance 3 share >=1 identical band by pigeonhole at 4 bands)."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit{j}")
        for j in range(64)
    ]
    sums = toks.groupBy(id_col).agg(*bit_sums)
    simhash = None
    for j in range(64):
        term = F.when(
            F.col(f"bit{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    sig = sums.select(F.col(id_col), simhash.alias("simhash"))
    for b in range(4):
        sig = sig.withColumn(
            f"band{b}",
            F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)),
        )
    return sig
