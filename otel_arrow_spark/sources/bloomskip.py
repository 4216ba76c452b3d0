"""Bloom-filter data skipping: per-file membership sketches over plain
parquet, and a point/IN-predicate scan planner that prunes files before
Spark ever opens them.

The zone map (sources/zonemap.py) carries per-file min/max bounds — the
right sidecar for RANGE predicates over a clustered layout. It is
useless for point lookups over a HASH-clustered or unclustered layout,
where every file's [min, max] spans the whole domain: `user_id = 97`
overlaps all bounds, nothing prunes. That is exactly the case Iceberg
covers with optional per-file bloom filters (puffin / parquet
bloom_filter_enabled) and the reference reaches through its Iceberg
exporter's file statistics (SURVEY §7.0). This module re-expresses it
over plain parquet: a sidecar manifest of per-file k-hash bloom bitmaps,
consulted at planning time.

Scale design:

* building the manifest is ONE distributed scan grouped by the
  ``_metadata.file_path`` hidden column — no driver-side footer walking;
  the explode fan-out is k rows per input row, aggregated map-side into
  at most ``m_bits/64`` words per file before the shuffle;
* the manifest is long-format ``(file, word, bits)`` — at most
  ``files x m_bits/64`` rows of three fixed-width columns (~64 KB per
  1000 files at the default m=4096), the same bounded planning metadata
  an Iceberg driver holds;
* probe positions for a literal are computed BY SPARK on a one-row
  frame, so the probe hash equals the build hash by construction —
  never a Python reimplementation of xxhash64 that could drift;
* blooms have no false negatives, so pruning can never lose rows; the
  residual predicate is always re-applied, so false positives (extra
  files read) cost I/O only, never correctness.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otel_arrow_spark.session import local_frame, small_state_conf

BLOOM_DIR = "_bloomskip"


def _positions(col: F.Column, m_bits: int, k: int) -> F.Column:
    """k bit positions in [0, m_bits) — seeded xxhash64 per hash."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda s: F.pmod(F.xxhash64(col, s), F.lit(m_bits)),
    )


def build_bloom_manifest(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """Per-file bloom bitmap in long format: one row per (file, word)
    with the OR of all set bits in that 64-bit word. One distributed
    scan; ``bit_or`` is algebraic (partial+final), so the shuffle moves
    at most ``m_bits/64`` words per file, not k rows per data row.

    m_bits/k defaults size for ~500 distinct values per file at ~3% false
    positives; both are recorded in the manifest rows so the prober never
    needs out-of-band parameters.
    """
    df = spark.read.parquet(path)
    pos = F.explode(_positions(F.col(col), m_bits, k)).alias("pos")
    return (
        df.select(F.col("_metadata.file_path").alias("file"), F.col(col))
        # NULLs carry no membership information but DO hash (Spark's
        # xxhash64 folds only the seed for a NULL input, the same value
        # for every NULL row) — left in, they would set k fixed bits in
        # every NULL-bearing file and admit those files to any probe
        # that collides; an IN-predicate can never select NULL anyway
        .where(F.col(col).isNotNull())
        .select("file", pos)
        .groupBy("file", (F.col("pos") / 64).cast("long").alias("word"))
        .agg(F.bit_or(F.expr("shiftleft(1L, int(pos % 64))")).alias("bits"))
        .withColumn("m_bits", F.lit(m_bits))
        .withColumn("k", F.lit(k))
        # the sketched column, recorded so maintenance jobs (compaction
        # sidecar refresh) can rebuild the manifest without out-of-band
        # knowledge
        .withColumn("col", F.lit(col))
    )


def write_bloom_manifest(
    spark: SparkSession, path: str, col: str, m_bits: int = 4096, k: int = 5
) -> str:
    """Materialize the manifest beside the data (underscore-prefixed so
    data scans ignore it). Rebuild after appending files."""
    out = os.path.join(path, BLOOM_DIR)
    build_bloom_manifest(spark, path, col, m_bits, k).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def _probe_rows(
    spark: SparkSession, dtype, values: Sequence, m_bits: int, k: int
) -> DataFrame:
    """(value_idx, word, mask) probe rows — positions computed by Spark
    itself on a values-sized local frame, so the hash matches the build
    side bit-for-bit (xxhash64 of the same type, same seed)."""
    vals = local_frame(
        spark,
        [(i,) for i in range(len(values))],
        T.StructType([T.StructField("value_idx", T.IntegerType())]),
    ).withColumn(
        "v",
        F.element_at(
            F.array(*[F.lit(v).cast(dtype) for v in values]),
            F.col("value_idx") + 1,
        ),
    )
    return (
        vals.select(
            "value_idx", F.explode(_positions(F.col("v"), m_bits, k)).alias("pos")
        )
        .select(
            "value_idx",
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, int(pos % 64))").alias("mask"),
        )
        # two hashes may land in one word: OR the masks so the per-file
        # match count compares against the DISTINCT word count
        .groupBy("value_idx", "word")
        .agg(F.bit_or("mask").alias("mask"))
    )


def bloom_pruned_scan(
    spark: SparkSession,
    path: str,
    col: str,
    values: Sequence,
    manifest: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Scan ``path`` for rows with ``col`` IN ``values``, reading only
    files whose bloom admits at least one probe value. Returns
    (frame, stats) with files_total/files_read. The IN predicate is
    re-applied to surviving files, so the result is row-identical to a
    full-scan filter (bloom false positives only widen the file list).

    A file admits value v iff EVERY probe word of v is present with all
    mask bits set — counted per (file, value) against the file's words.
    NULL probe values are meaningless for an IN predicate (it can never
    select NULL rows); since NULL build rows are excluded from the
    manifest, a NULL probe's fixed bit pattern matches only by chance
    and the residual filter drops whatever survives.
    """
    zm = manifest
    if zm is None:
        mpath = os.path.join(path, BLOOM_DIR)
        zm = (
            spark.read.parquet(mpath)
            if os.path.isdir(mpath)
            else build_bloom_manifest(spark, path, col)
        )
    # the manifest frame is consulted twice (parameter head + the probe
    # join): materialize it once — it is bounded planning metadata
    # (≤ files × m_bits/64 rows), and when the caller passed the LAZY
    # build_bloom_manifest frame the build scan would otherwise execute
    # once per reference (guide §1.2)
    zm = zm.localCheckpoint()
    # ONE aggregate job yields the sketch parameters, the row-count gate
    # and files_total — replacing three separate driver actions (head +
    # count + distinct-count); at planning sizes the per-job round-trip
    # IS the cost (guide §1.2)
    head = zm.agg(
        F.first("m_bits").alias("m_bits"),
        F.first("k").alias("k"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("file").alias("n_files"),
    ).head()
    if head.n_rows == 0:  # empty dataset → empty manifest → nothing to read
        schema = spark.read.parquet(path).schema
        return spark.createDataFrame([], schema).filter(
            F.col(col).isin(list(values))
        ), {"files_total": 0, "files_read": 0}
    m_bits, k = head.m_bits, head.k
    dtype = spark.read.parquet(path).schema[col].dataType
    probe = _probe_rows(spark, dtype, list(values), m_bits, k)
    n_words = probe.groupBy("value_idx").agg(
        F.count(F.lit(1)).alias("need")
    )
    keep = (
        zm.join(probe, "word")
        .where(F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
        .groupBy("file", "value_idx")
        .agg(F.count(F.lit(1)).alias("got"))
        .join(n_words, "value_idx")
        .where(F.col("got") == F.col("need"))
        .select("file")
        .distinct()
    )
    # the admit computation runs over PLANNING METADATA (files × words
    # rows + k·|values| probe rows) — under the session's data-scale
    # shuffle config its three tiny stages are pure scheduler overhead
    # (measured ~1 s of a 2 s query); run it single-partition with AQE
    # off when the manifest is metadata-sized, like the pagerank/CC
    # loops (integer counts — partitioning-invariant by construction)
    small = head.n_rows <= 1_000_000
    with small_state_conf(spark) if small else nullcontext():
        files = [r.file for r in keep.collect()]
    stats = {"files_total": head.n_files, "files_read": len(files)}
    if not files:
        schema = spark.read.parquet(path).schema
        return spark.createDataFrame([], schema).filter(
            F.col(col).isin(list(values))
        ), stats
    out = spark.read.parquet(*files).filter(F.col(col).isin(list(values)))
    return out, stats
