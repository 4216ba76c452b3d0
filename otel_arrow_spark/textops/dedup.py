"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the part that matters at 10^9 documents):

* exact dedup is one hash-shuffle on a fingerprint column — never on the
  raw text (shuffling full bodies at 100 TB is the classic mistake);
* MinHash/LSH candidate generation self-joins on (band_idx, band_hash) —
  a co-partitioned equi-join whose fan-out is bounded by bucket size, not
  corpus size; verification (exact Jaccard) runs only on candidates;
* candidate generation and verification are higher-order array functions
  (transform / array_min / array_intersect); the 64-hash MinHash signature
  is an Arrow-batched numpy UDF (HOF expressions evaluate interpreted —
  measured 3x slower). SimHash uses one explode + 64 conditional sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otel_arrow_spark.session import small_state_conf


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ONLY when the input's scan parallelism is below core count.

    Compute-heavy per-row operators (shingling, 64-hash signatures) are
    CPU-bound: a corpus arriving as one small file / one row group would
    otherwise run on a single task. At real scale inputs already have
    thousands of splits and this is a no-op; the condition (not a blind
    repartition) is what keeps it from adding a full-corpus shuffle there.

    The probe is metadata-only (no plan-to-RDD conversion, no job):
    ``scanmeta.estimated_scan_tasks`` replays Spark's own split sizing
    (maxSplitBytes + FilePartition packing) capped by parquet row-group
    counts — a parquet scan yields at most one non-empty task per row
    group regardless of byte splits. In-memory relations are left alone
    (they already parallelize).
    """
    from otel_arrow_spark.scanmeta import estimated_scan_tasks

    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    est = estimated_scan_tasks(df, target)
    if est is None or est >= target:
        return df
    return df.repartition(target)


# --- exact ------------------------------------------------------------------


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative of each exact-duplicate group.

    The groupBy key is md5(text) (a fixed-width fingerprint), so the
    shuffle moves 16-byte keys + ids, not document bodies; survivors are
    recovered with a left-semi join (no body ever shuffles twice).
    """
    fp = F.md5(F.col(text_col))
    keep = (
        df.select(F.col(id_col), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def text_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct md5 fingerprints of a corpus — the persisted dedup index
    row format (one 32-hex ``fp`` column; 16 bytes of entropy, same key
    :func:`dedup_exact` groups on)."""
    return df.select(F.md5(F.col(text_col)).alias("fp")).distinct()


def dedup_against_index(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental cross-batch exact dedup: keep rows of ``df`` whose
    text was seen neither in the historical ``index`` (a
    :func:`text_fingerprints` frame, usually read back from parquet) nor
    earlier in this batch (lowest-``id_col`` representative wins, the
    :func:`dedup_exact` rule).

    This is the daily-crawl shape: yesterday's corpus is represented
    only by fingerprints, so the history side of the join carries
    16-byte keys — never old documents. Both joins are fingerprint-keyed
    (within-batch min-id keep, then a left_anti against the index) and
    the bodies shuffle at most once, in the final left_semi recovery.
    After a run, append ``text_fingerprints(survivors)`` to the index
    (parquet append is sufficient: the left_anti is insensitive to
    duplicate index rows, so no rewrite/compaction is ever required for
    correctness).
    """
    fp = F.md5(F.col(text_col))
    keep = (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .join(index.select("fp"), on="fp", how="left_anti")
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# --- shingling / MinHash ------------------------------------------------------


def char_shingles(text: Column, k: int = 5) -> Column:
    """Distinct character k-shingles as an array column — pure expression:
    transform(sequence(1, len-k+1), i -> substring(text, i, k))."""
    n = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(text, i, F.lit(k)))
    )


def token_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) as an array column."""
    toks = F.split(F.trim(text), r"\s+")
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), cnt - 1, F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


# largest prime < 2^53: keeps every intermediate of the rolling-hash fold
# (acc*128 + x < 2^60 + 2^53) inside exact int64 range in BOTH engines —
# Spark longs would silently wrap on a wider modulus, DuckDB BIGINT would
# raise; 2^53 space makes gram collisions negligible (~1e-4 expected
# collisions at 2M grams)
_GRAM_MOD = 9_007_199_254_740_881


def token_ngram_hashes(text: Column, n: int = 8) -> Column:
    """Distinct word-n-gram ROLLING HASHES (int64) — the allocation-free
    sibling of :func:`token_ngrams` for joins that only test equality.

    Materializing 8-word gram strings costs ~50 bytes each (measured 2.9 s
    for 1.9M grams at sf0.1 — the whole decontamination stage's budget).
    Split of work here follows the simhash recipe (simhash_col): one
    md5-derived long per TOKEN computed JVM-side, then ONE numpy pandas
    UDF folds the n-windows with ``acc*128 + x mod 2^53-prime``. The
    window fold must NOT be a nested JVM higher-order expression
    (``transform(…, i -> aggregate(slice(th, i, n), …))``): Spark inlines
    the whole token-hash transform into every per-gram lambda invocation
    — O(tokens × grams) md5 evaluations, measured 5x SLOWER than the
    string grams it was meant to beat. The UDF argument is referenced
    once, so the hashes materialize once per row.

    Bit-equal DuckDB replay: ``list_reduce(list_slice(th, i, i+n-1),
    (acc, x) -> (acc*128 + x) % 9007199254740881)`` — list_reduce seeds
    with the first element, which equals our fold because
    ``0*128 + x1 == x1``; every intermediate stays under 2^60 (exact in
    int64 for Spark/numpy and BIGINT for DuckDB)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from otel_arrow_spark.functions.scalar import md5_long60

    toks = F.split(F.trim(text), r"\s+")
    th = F.transform(toks, lambda t: md5_long60(t) % _GRAM_MOD)

    def _grams(hs):
        def one(h):
            if h is None or len(h) < n:
                return []
            t = np.asarray(h, dtype=np.int64)
            window = t[: len(t) - n + 1].copy()
            for j in range(1, n):
                window = (window * 128 + t[j : j + len(window)]) % _GRAM_MOD
            return np.unique(window).tolist()

        return hs.map(one)

    _grams.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(_grams)(th)


def minhash_signature_fast(shingle_hashes: Column, n_hashes: int = 64, seed: int = 42) -> Column:
    """Vectorized MinHash: numpy universal hashing over pre-hashed shingles.

    Each shingle is hashed ONCE JVM-side (xxhash64); the n_hashes minima
    come from the multiply-shift family h_i(x) = a_i·x + b_i over Z/2^64
    (odd a_i; uint64 wraparound is the modulus), one numpy broadcast per
    row inside an Arrow-batched pandas UDF. Higher-order Spark expressions
    don't participate in whole-stage codegen (interpreted eval), so a
    pure-expression form (a nested ``F.transform`` of ``F.hash`` per
    seed) costs ~3-10x this at 64 hashes — the same
    Arrow-barrier/vectorization trade as the parse UDF (operators/parse.py).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(seed)
    # odd multipliers + additive constants over Z/2^64 (multiply-shift
    # family): uint64 wraparound is the modulus, fully numpy-vectorized
    a = (rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 1 << 62, size=n_hashes).astype(np.uint64)

    def _sig(hashes):
        def one(hs):
            if hs is None or len(hs) == 0:
                return [0] * n_hashes
            x = np.asarray(hs, dtype=np.int64).view(np.uint64)[:, None]
            with np.errstate(over="ignore"):
                m = (a[None, :] * x + b[None, :]).min(axis=0)
            return [int(v) for v in m.view(np.int64)]

        return hashes.map(one)

    _sig.__annotations__ = {"hashes": pd.Series, "return": pd.Series}
    udf = pandas_udf(T.ArrayType(T.LongType()))(_sig)
    return udf(shingle_hashes)


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.6,
) -> DataFrame:
    """MinHash + banded LSH near-duplicate pairs, verified by exact Jaccard.

    Pipeline: shingle → signature → explode into ``bands`` band keys →
    self-join on (band, band_hash) **moving (id, band, band_hash) rows
    only** → distinct candidate (id_a, id_b) pairs → shingle arrays joined
    back for exact Jaccard → filter ≥ threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b. Scale shape (the same
    inverted-index pattern as :func:`ngram_jaccard_pairs`): the band
    self-join — the only shuffle whose row count grows ``bands``× with the
    corpus — carries three longs per row, never shingle payloads (a
    shingle set is larger than the document itself; shuffling it ×bands
    is the classic 100-TB killer). Shingle arrays cross the wire at most
    once per side, keyed by id, and only for documents that appear in a
    candidate pair; when the candidate set is small AQE converts those
    verification joins to broadcasts at runtime (no hard-coded
    ``F.broadcast`` — candidate volume is unknown at plan time).

    Banding default is 8 bands × 8 rows: on template-generated corpora
    with high background similarity, 16×4 banding admits ~2% of ALL pairs
    as candidates (measured 110k candidates from 5k docs on the synthetic
    documents table; 8×8 admits 271 with identical final recall — every
    verified pair ≥ 0.8 was still found). Collision probability
    1-(1-j^r)^b at j=0.9 is 98.9% for 8×8; tune ``bands`` up for lower
    thresholds.
    """
    rows_per_band = n_hashes // bands
    df = ensure_parallelism(df)
    # shingle sets once (pure expression over the scan — recomputing this
    # projection for the verification join is a column-pruned re-scan, far
    # cheaper than persisting shingle payloads through a shuffle)
    shingled = df.select(
        F.col(id_col), char_shingles(F.col(text_col), shingle_k).alias("_sh")
    )
    # each shingle hashed once JVM-side; 64 minhashes via the numpy
    # universal-hash UDF (see minhash_signature_fast docstring)
    sig = shingled.select(
        id_col,
        minhash_signature_fast(
            F.transform(F.col("_sh"), lambda s: F.xxhash64(s)), n_hashes
        ).alias("_sig"),
    )

    # band keys as one nested expression (posexplode keeps the band index).
    # Not persisted: the pairs are returned lazily, so no action in here
    # could release a cache. Once the self-join shuffles both sides, they
    # are one reused exchange and the signature UDF runs once; below the
    # broadcast threshold it runs once per side over a small table.
    band_arr = _band_keys(F.col("_sig"), bands, rows_per_band)
    banded = sig.select(id_col, F.posexplode(band_arr).alias("band", "bhash"))

    left = banded.select(F.col(id_col).alias("id_a"), "band", "bhash")
    right = banded.select(F.col(id_col).alias("id_b"), "band", "bhash")
    cands = (
        left.join(right, on=["band", "bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # shingles joined back post-candidate for exact-Jaccard verification
    sh_a = shingled.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sh_a"))
    sh_b = shingled.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys from a MinHash signature: murmur3 of each contiguous
    signature slice — ONE definition, shared by the self-join pipeline
    and the cross-batch index, because a persisted index is only usable
    if probe-side banding matches build-side bit-for-bit."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(F.slice(sig, b * rows_per_band + 1, rows_per_band)),
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_k: int = 5,
    keep_shingles: bool = True,
) -> DataFrame:
    """The persisted NEAR-dup index row: ``(doc_id, sig, [sh])`` — the
    MinHash signature for banded candidate generation, and (by default)
    the xxhash64 shingle-hash array for EXACT Jaccard verification
    against future batches. ``keep_shingles=False`` stores signatures
    only (64 longs/doc — the Gopher/FineWeb cross-dump configuration);
    verification then falls back to the signature estimate.

    Size per doc: 64 longs for the signature plus ~|text| longs for the
    shingle hashes — comparable to the text itself. What the index
    BUYS is that history never re-shingles and never re-reads bodies:
    each new batch joins bands against precomputed state."""
    shingled = df.select(
        F.col(id_col),
        F.transform(
            char_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
        ).alias("sh"),
    )
    out = shingled.select(
        id_col, minhash_signature_fast(F.col("sh"), n_hashes).alias("sig"), "sh"
    )
    return out if keep_shingles else out.drop("sh")


def near_dups_against_index(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Cross-batch near-duplicate pairs: (id_new, id_hist, jaccard) for
    every batch document whose Jaccard similarity to an INDEXED document
    reaches the threshold — the near-dup analog of
    :func:`dedup_against_index` (today's crawl vs all prior crawls).

    Candidates come from a banded equi-join of the batch's band keys
    against the index's (ids + 3 longs per band cross the wire, never
    payloads). Verification is exact Jaccard when the index stores
    shingle hashes (``minhash_index(keep_shingles=True)``), else the
    signature estimate ``|sig_a == sig_b| / n_hashes`` (unbiased
    estimator of Jaccard, ±1/sqrt(n_hashes)); the output is the same
    shape either way. Drop survivors with a left_anti on id_new.
    """
    rows_per_band = n_hashes // bands

    def banded(sig_frame: DataFrame, name: str) -> DataFrame:
        return sig_frame.select(
            F.col(id_col).alias(name),
            F.posexplode(
                _band_keys(F.col("sig"), bands, rows_per_band)
            ).alias("band", "bhash"),
        )

    # the batch side IS a (transient) index — one construction path, so
    # probe and build banding can never drift. Not persisted, as in
    # minhash_near_dup_pairs: exact verification reads only the shingle
    # hashes, so the signature UDF is pruned from that branch and runs
    # once, in the banding; signature-only verification runs it twice.
    new_sig = minhash_index(
        ensure_parallelism(batch), text_col, id_col, n_hashes, shingle_k
    )
    cands = (
        banded(new_sig, "id_new")
        .join(banded(index, "id_hist"), on=["band", "bhash"])
        .select("id_new", "id_hist")
        .dropDuplicates(["id_new", "id_hist"])
    )
    exact = "sh" in index.columns
    if exact:
        a = new_sig.select(F.col(id_col).alias("id_new"),
                           F.array_distinct("sh").alias("sh_a"))
        b = index.select(F.col(id_col).alias("id_hist"),
                         F.array_distinct("sh").alias("sh_b"))
        jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
            F.array_union("sh_a", "sh_b")
        )
    else:
        a = new_sig.select(F.col(id_col).alias("id_new"),
                           F.col("sig").alias("sig_a"))
        b = index.select(F.col(id_col).alias("id_hist"),
                         F.col("sig").alias("sig_b"))
        jac = F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(float(n_hashes))
    return (
        cands.join(a, "id_new")
        .join(b, "id_hist")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_new", "id_hist", "jaccard")
    )


# --- n-gram Jaccard (exact, for small candidate sets / verification) ----------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs token-n-gram Jaccard ≥ threshold via an inverted index.

    Instead of a cross join, explode n-grams and self-join on the n-gram
    (the standard inverted-index trick): pairs sharing ≥1 n-gram are the
    only candidates. Exact Jaccard then filters. Quadratic only within
    posting lists, never across the corpus.

    ``max_df``: candidate-generation document-frequency cut. The posting
    self-join costs Σ df(g)² — on natural-language corpora a stop-gram
    like "of the X" with df≈10⁸ makes that term quadratic in corpus size,
    so at scale grams appearing in more than ``max_df`` documents are
    dropped from CANDIDATE GENERATION only (verification still uses the
    full gram sets, so reported jaccard values are exact). A pair whose
    every shared gram is ultra-common can be missed — the standard,
    documented trade; leave ``None`` for the exact mode at small scale.
    """
    # grams are ROLLING HASHES (token_ngram_hashes), not strings: the
    # posting shuffle and the gram-equality self-join ship 8-byte longs
    # instead of ~n*6-byte gram strings; Jaccard over the hashed distinct
    # sets equals the string-gram Jaccard up to ~2^-53 collisions
    grams = ensure_parallelism(df).select(
        F.col(id_col), token_ngram_hashes(F.col(text_col), n).alias("_g")
    )
    posting = grams.select(id_col, F.explode("_g").alias("gram"))
    if max_df is not None:
        keep = (
            posting.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("gram")
        )
        posting = posting.join(keep, "gram")
    pairs = (
        posting.alias("l")
        .join(posting.alias("r"), on="gram")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .dropDuplicates()
    )
    ga = grams.select(F.col(id_col).alias("id_a"), F.col("_g").alias("g_a"))
    gb = grams.select(F.col(id_col).alias("id_b"), F.col("_g").alias("g_b"))
    jac = F.size(F.array_intersect("g_a", "g_b")) / F.size(F.array_union("g_a", "g_b"))
    return (
        pairs.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- SimHash ------------------------------------------------------------------


def simhash_col(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    token_hash: str = "xxh64",
) -> DataFrame:
    """SimHash per document — ZERO-shuffle: tokens are hashed JVM-side
    inside one ``transform()`` over the split array (no explode), then a
    single Arrow-batched numpy UDF computes the per-bit signed sums and
    packs the signature. Replaces the earlier explode → ``bits``-column
    conditional-sum groupBy, which shuffled one row per token: measured
    8× faster at sf0.1 and scan-local at any scale.

    ``token_hash``: ``"xxh64"`` (default, fastest, Spark kernel) or
    ``"md5"`` — the top 60 bits of md5 as an int64 (``bits`` must be ≤ 60),
    chosen because DuckDB reproduces it exactly
    (``CAST('0x' || substring(md5(tok), 1, 15) AS BIGINT)``), giving the
    driver's independent oracle a bit-identical simhash."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    if token_hash == "xxh64":
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    elif token_hash == "md5":
        assert bits <= 60, "md5 token hash provides 60 usable bits"
        from otel_arrow_spark.functions.scalar import md5_long60

        hashes = F.transform(toks, lambda t: md5_long60(t))
    else:
        raise ValueError(f"unknown token_hash: {token_hash!r}")

    shifts = np.arange(bits, dtype=np.uint64)
    weights = np.uint64(1) << shifts  # uint64 so bit 63 wraps like Java <<

    def _sim(hs):
        def one(h):
            if h is None or len(h) == 0:
                return 0
            x = np.asarray(h, dtype=np.int64).view(np.uint64)[:, None]
            b = ((x >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            s = (2 * b - 1).sum(axis=0)
            packed = ((s > 0).astype(np.uint64) * weights).sum(dtype=np.uint64)
            return int(packed.astype(np.int64))

        return hs.map(one)

    _sim.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    udf = pandas_udf("long")(_sim)
    return ensure_parallelism(df).select(F.col(id_col), udf(hashes).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit longs: bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_chunks: int = 4,
    bits: int = 64,
    token_hash: str = "xxh64",
) -> DataFrame:
    """SimHash near-dups: band the ``bits``-bit hash into ``n_chunks``
    chunks; by pigeonhole, any pair within ``max_hamming < n_chunks`` bits
    shares at least one exact chunk → chunk-equality join finds ALL of
    them (an exact guarantee, so the output equals an all-pairs hamming
    scan — which is what the driver's DuckDB oracle computes when
    ``token_hash="md5"``). Verification = exact hamming ≤ max_hamming."""
    # not persisted: the pairs are returned lazily, so no action in here
    # could release a cache. Once the self-join shuffles both sides, they
    # are one reused exchange and the signature UDF runs once; below the
    # broadcast threshold it runs once per side over a small table.
    sims = simhash_col(df, text_col, id_col, bits=bits, token_hash=token_hash)
    chunk_bits = bits // n_chunks
    mask = (1 << chunk_bits) - 1
    chunks = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("ckey"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_c"),
    ).select(id_col, "simhash", F.col("_c.chunk").alias("chunk"), F.col("_c.ckey").alias("ckey"))
    l = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "chunk", "ckey")
    r = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "chunk", "ckey")
    return (
        l.join(r, on=["chunk", "ckey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("h_a"), F.col("h_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- embedding cosine near-dup -------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate embedding pairs (cosine ≥ threshold) via
    random-hyperplane LSH bucketing + exact cosine verification.

    Hyperplanes are generated with a seeded numpy RNG on the driver and
    embedded as literal arrays (dictionary-sized — the broadcast analog).
    High thresholds → high bucket-collision probability; the sign
    signature is split into two half-signatures (pigeonhole banding) so
    one flipped bit cannot hide a pair.
    """
    import numpy as np

    first = df.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    df = ensure_parallelism(df)

    def dot_plane(vec: Column, p) -> Column:
        # One aggregate() fold per plane, NOT an unrolled vec[0]*p0 + … chain:
        # the unrolled form generated O(n_planes · dim) expression nodes and
        # blew janino's 64 KB method limit at dim=64 (ERROR CodeGenerator →
        # silent interpreted fallback — correct but off the codegen fast
        # path). The fold is left-associated exactly like the chain it
        # replaces, and the leading 0.0 + t0 is exact in IEEE doubles, so
        # every partial sum — and therefore every sign bit and the DuckDB
        # oracle's replayed signature — is bit-identical.
        p_lit = F.array(*[F.lit(float(x)) for x in p])
        return F.aggregate(
            F.zip_with(vec, p_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig_bits = [
        F.when(dot_plane(F.col(vec_col), planes[i]) >= 0, F.lit(1)).otherwise(F.lit(0))
        for i in range(n_planes)
    ]
    half = n_planes // 2
    sig_lo = F.concat_ws("", *[b.cast("string") for b in sig_bits[:half]])
    sig_hi = F.concat_ws("", *[b.cast("string") for b in sig_bits[half:]])
    base = df.select(F.col(id_col), F.col(vec_col), sig_lo.alias("s0"), sig_hi.alias("s1"))

    # ids-only band self-join (the ngram_jaccard_pairs pattern): vectors
    # never ride the banded shuffle — they're joined back by id only for
    # documents that appear in a candidate pair
    banded = base.select(
        id_col,
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.col("s0").alias("bkey")),
                F.struct(F.lit(1).alias("band"), F.col("s1").alias("bkey")),
            )
        ).alias("_b"),
    ).select(id_col, F.col("_b.band").alias("band"), F.col("_b.bkey").alias("bkey"))

    l = banded.select(F.col(id_col).alias("id_a"), "band", "bkey")
    r = banded.select(F.col(id_col).alias("id_b"), "band", "bkey")
    cands = (
        l.join(r, on=["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    v_a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    v_b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    cos = cosine_expr(F.col("v_a"), F.col("v_b"))
    return (
        cands.join(v_a, "id_a")
        .join(v_b, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns — zip_with dot product
    + aggregate norms, all JVM-side."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def semantic_dedup(
    corpus: DataFrame,
    centroids,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    k-means clustering bounds the pairwise search, then within each
    cluster any document whose cosine similarity to a LOWER-id clustermate
    meets ``threshold`` is dropped (keep-first) — semantic near-duplicates
    that shingle/MinHash methods miss (paraphrases, translations of
    boilerplate) collapse to one representative.

    Returns survivors as (``id_col``, ``cluster_id``).

    Scale shape: cluster assignment is the IVF single scan
    (textops/ivf.py assign_clusters — BLAS matmul per Arrow batch); the
    pairwise stage is an equi-join ON cluster_id, so each pair is scored
    exactly once inside its own cluster — never a corpus×corpus cross
    join. Cost is Σ|cluster|² — the SemDeDup design point: k scales with
    corpus size to keep clusters bounded (the paper uses k=50k for LAION;
    here k is the caller's centroid count). Losers are an ids-only
    distinct + one left-anti join.

    The threshold compares ROUNDED cosine (6 dp) so boundary pairs land
    on the same side in any engine replaying the plan (the DuckDB oracle
    uses the identical round-then-compare).

    The plan references the assignment three times (both join sides +
    the survivor base) and does not cache it, because the survivors are
    returned lazily and nothing here could release a cache: once the
    join shuffles, its two sides share one exchange and the survivor
    base scans again. At corpus scale write the assignment ONCE with
    ``ivf.write_ivf_index`` and dedup the read-back with
    :func:`semantic_dedup_on_index`.
    """
    from otel_arrow_spark.textops.ivf import assign_clusters

    return _semantic_dedup_on(
        assign_clusters(corpus, centroids, vec_col, id_col),
        threshold, vec_col, id_col,
    )


def semantic_dedup_on_index(
    assigned: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``semantic_dedup`` over a pre-built IVF index frame
    (id, vec, cluster_id) — the scale path: the assignment scan ran once
    at index-build time (ivf.write_ivf_index), this plan only joins."""
    return _semantic_dedup_on(assigned, threshold, vec_col, id_col)


def _semantic_dedup_on(
    assigned: DataFrame, threshold: float, vec_col: str, id_col: str
) -> DataFrame:
    a = assigned.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).cast("array<double>").alias("_va"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).cast("array<double>").alias("_vb"),
        "cluster_id",
    )
    losers = (
        a.join(b, "cluster_id")
        .where(F.col("_ida") > F.col("_idb"))
        .where(
            F.round(cosine_expr(F.col("_va"), F.col("_vb")), 6)
            >= F.lit(threshold)
        )
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )
    return assigned.select(id_col, "cluster_id").join(losers, id_col, "left_anti")


# --- near-dup clustering (connected components) ---------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over candidate near-dup pairs by iterative
    min-label propagation: ``comp(v)`` converges to the minimum id
    reachable from ``v``, giving each duplicate cluster its canonical
    (lowest-id) representative — the step a dedup pipeline runs after pair
    generation to collapse A~B, B~C into one {A,B,C} cluster.

    Scale shape: each round is one shuffle join of the (long, long) edge
    list against the label table plus two hash aggregates; labels are
    ``localCheckpoint``-ed per round so the plan never grows with the
    iteration count; convergence is a bounded count per round. Simple
    propagation needs O(component diameter) rounds — near-dup clusters
    are small and dense (template families), so 3-5 rounds in practice;
    for graphs with long chains swap in alternating large-star/small-star
    (Kiveris et al.), which is the same join skeleton applied twice per
    round.

    Returns (id, comp) for every vertex that appears in ``pairs``;
    vertices with no pairs are their own singleton components and are not
    emitted (callers union them back if they need total coverage).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # Near-dup graphs are usually tiny relative to the corpus (template
    # families): when the materialized edge list is small, the per-round
    # joins/aggregates are pure scheduler overhead under the session's
    # data-scale shuffle config — run the loop single-partition with
    # AQE's per-stage re-planning off (same reasoning as the pagerank
    # loop; min-label propagation is integer min/least, so the result is
    # partitioning-invariant by construction). Large graphs keep the
    # session config. Conf is restored afterwards; the loop's outputs
    # are checkpointed inside it, so nothing lazy escapes the override.
    try:
        if edges.count() <= 1_000_000:
            with small_state_conf(edges.sparkSession):
                return _cc_loop(edges, max_iter)
        return _cc_loop(edges, max_iter)
    finally:
        _release(edges)


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``ed frame, which stay
    registered with the SparkContext for the session's life otherwise.
    Nothing may read the frame afterwards."""
    checkpointed._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _cc_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("comp")
    )
    def propagate(lbl: DataFrame) -> DataFrame:
        """One min-label step; carries the incoming label as ``old`` so
        the convergence check below is a join-free filter over the
        checkpointed output (labels only ever decrease)."""
        nbr = (
            edges.join(lbl, edges.src == lbl.id)
            .groupBy("dst")
            .agg(F.min("comp").alias("nmin"))
        )
        return lbl.join(nbr, lbl.id == nbr.dst, "left").select(
            lbl.id.alias("id"),
            F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
            lbl.comp.alias("old"),
        )

    # one propagation per round, convergence checked every round: the
    # check costs one tiny job over the just-checkpointed labels (no
    # shuffle, no join — the old label rides along) and short-circuits on
    # the FIRST changed row (isEmpty scans partitions incrementally;
    # a full count() per round was the prior version's overhead), so for
    # the common fast-converging template-family graphs total work is the
    # minimum diameter+1 propagations (batching two steps per check was
    # measured 1.7x slower here: it always pays 2x propagations per check)
    # each round's labels are released once the next round's are
    # checkpointed; the last round's are the result
    converged = False
    new = None
    for _ in range(max_iter):
        prev, new = new, propagate(labels).localCheckpoint()
        if prev is not None:
            _release(prev)
        converged = new.where(F.col("comp") < F.col("old")).isEmpty()
        labels = new.select("id", "comp")
        if converged:
            break
    if not converged:
        if new is not None:
            _release(new)
        # returning silently-partial labels would let duplicates survive
        # dedup_cluster_representatives as fake "representatives"
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "propagation steps (component diameter exceeds the budget); "
            "raise max_iter or use an alternating large-star/small-star "
            "variant for long-chain graphs"
        )
    return labels


def dedup_cluster_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (the minimum id) per near-dup cluster:
    documents absent from ``pairs`` survive as their own representatives;
    clustered documents survive only if they ARE the cluster minimum."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
