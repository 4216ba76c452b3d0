"""Metric data-point operators: histogram / exp-histogram temporal
reaggregation.

Reference: the temporal reaggregation processor aggregates cumulative
monotonic sums, cumulative histograms, cumulative exponential histograms,
gauges and summaries per stream identity (README.md "Supported metrics";
identity.rs:28-60), with **latest-timestamp-wins** semantics — an existing
stream's data point is *replaced* when a newer point arrives
(mod.rs:1167-1205 process_histogram_dp: ``if time > s.time_unix_nano →
replace_histogram_dp``; pinned by test_cumulative_histogram_correlation
"the later timestamp wins"). That is correct for cumulative temporality:
each point already contains the running total.

For DELTA temporality the Metrics Data Model's reaggregation is additive:
counts/sums add, bucket counts merge element-wise, exp-histogram buckets
align scales first. The reference passes non-cumulative types through
unchanged; this module provides the delta merge as well because a
reaggregating engine over delta streams needs it.

Spark realization:
* cumulative → ``max_by(point-struct, ts)`` per (window, stream) — one
  hash aggregate, partial+final, no UDF;
* delta histogram → count/sum/min/max algebraic aggregates + an
  element-wise fold of bucket-count arrays (``aggregate ∘ collect_list``
  with ``zip_with`` addition) — one shuffle, JVM-side;
* delta exp-histogram → scale alignment as index arithmetic (bucket i at
  scale s covers bucket ``(offset+i) >> (s - target)`` at the coarser
  target scale): ``posexplode`` + ``shiftright`` + partial/final hash
  aggregates, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# histogram data point (docs/data_model.md HISTOGRAM_DP analog, denormalized)
HISTOGRAM_FIELDS = (
    "h_count", "h_sum", "h_min", "h_max", "bounds", "bucket_counts",
)

EXP_HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("e_count", T.LongType()),
        T.StructField("e_sum", T.DoubleType()),
        T.StructField("scale", T.IntegerType()),
        T.StructField("zero_count", T.LongType()),
        T.StructField("pos_offset", T.IntegerType()),
        T.StructField("pos_counts", T.ArrayType(T.LongType())),
    ]
)


def temporal_latest(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
) -> DataFrame:
    """Cumulative-temporality reaggregation: keep the LATEST data point per
    (stream identity, window) — the reference's replace-if-newer semantics
    (mod.rs:1167-1205) expressed as one ``max_by`` hash aggregate.

    Applies to cumulative sums/histograms/exp-histograms, gauges and
    summaries alike: whatever non-key columns exist ride along inside the
    point struct. Partial+final decomposition is native (max_by is an
    algebraic aggregate), so a hot stream leaves each map task as one row.
    """
    w = F.window(F.col(ts_col), period)
    payload = [c for c in df.columns if c not in keys and c != ts_col]
    point = F.struct(F.col(ts_col).alias(ts_col), *[F.col(c) for c in payload])
    latest = df.groupBy(w.alias("w"), *keys).agg(
        F.max_by(point, F.col(ts_col)).alias("_pt")
    )
    return latest.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        F.col(f"_pt.{ts_col}").alias(ts_col),
        *[F.col(f"_pt.{c}").alias(c) for c in payload],
    )


def histogram_delta_merge(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
    extra_aggs: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Delta-temporality histogram reaggregation: per (stream, window) the
    counts/sums add, min/max combine, and bucket_counts merge element-wise
    (Metrics Data Model delta reaggregation).

    Bucket bounds must be constant per stream (the OTel requirement for a
    single stream); the element-wise sum is a JVM-side fold:
    ``aggregate(collect_list(bucket_counts), zeros, zip_with(+))``. One
    shuffle; the scalar aggregates are partial+final.

    ``extra_aggs``: additional aggregate expressions (name → Column) that
    ride the SAME groupBy — callers needing sibling rollups (e.g. error
    counts next to latency buckets) get them in the one aggregate instead
    of a second aggregation joined back, which also keeps the operator
    usable on streaming frames (stream aggregate-join is unsupported).
    """
    extra_aggs = extra_aggs or {}
    w = F.window(F.col(ts_col), period)
    g = df.groupBy(w.alias("w"), *keys).agg(
        F.sum("h_count").alias("h_count"),
        F.sum("h_sum").alias("h_sum"),
        F.min("h_min").alias("h_min"),
        F.max("h_max").alias("h_max"),
        F.first("bounds").alias("bounds"),
        F.collect_list("bucket_counts").alias("_bcs"),
        *[c.alias(n) for n, c in extra_aggs.items()],
    )
    zeros = F.transform(
        F.element_at("_bcs", 1), lambda _: F.lit(0).cast("long")
    )
    merged = F.aggregate(
        "_bcs", zeros, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    return g.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        "h_count",
        "h_sum",
        "h_min",
        "h_max",
        "bounds",
        merged.alias("bucket_counts"),
        *extra_aggs.keys(),
    )


def histogram_mixed_reaggregate(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
    type_col: str = "temporality",
) -> DataFrame:
    """Single-pass reaggregation of a frame carrying BOTH delta and
    cumulative histogram streams (``type_col`` ∈ {'delta','cumulative'}):
    one scan and one shuffle compute both merge forms per (window, stream)
    group, and the temporality picks the right one — delta groups get the
    additive bucket fold, cumulative groups get latest-wins
    (replace-if-newer, mod.rs:1167-1205).

    Feeding ``histogram_delta_merge`` and ``temporal_latest`` separately
    from the same data-point table scans it twice; at scale the point
    table dominates IO, so the mixed form halves the read. Costs are kept
    per-temporality: the bucket ``collect_list`` wraps rows in
    ``when(is_delta, …)`` so cumulative groups collect nothing (collect_list
    skips nulls) and pay only the ``max_by``; delta groups pay one extra
    tiny ``max_by``. All aggregates remain algebraic → partial+final.
    """
    w = F.window(F.col(ts_col), period)
    is_delta_row = F.col(type_col) == "delta"
    # bounds ride in the latest-wins struct: a cumulative stream that
    # re-registers with different bounds mid-window must emit the LATEST
    # point's bounds next to its bucket_counts (first() could pair old
    # bounds with new counts); delta streams require constant bounds per
    # stream (OTel data model), so first() is exact there
    point = F.struct(
        F.col(ts_col).alias("ts"),
        F.col("h_count").alias("h_count"),
        F.col("h_sum").alias("h_sum"),
        F.col("h_min").alias("h_min"),
        F.col("h_max").alias("h_max"),
        F.col("bounds").alias("bounds"),
        F.col("bucket_counts").alias("bucket_counts"),
    )
    g = df.groupBy(w.alias("w"), *keys, type_col).agg(
        F.sum("h_count").alias("_dc"),
        F.sum("h_sum").alias("_ds"),
        F.min("h_min").alias("_dmin"),
        F.max("h_max").alias("_dmax"),
        F.first("bounds").alias("_dbounds"),
        F.collect_list(F.when(is_delta_row, F.col("bucket_counts"))).alias("_bcs"),
        F.max_by(point, F.col(ts_col)).alias("_pt"),
    )
    zeros = F.transform(F.element_at("_bcs", 1), lambda _: F.lit(0).cast("long"))
    folded = F.aggregate(
        "_bcs", zeros, lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b)
    )
    is_delta = F.col(type_col) == "delta"
    return g.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        type_col,
        F.when(is_delta, F.col("_dc")).otherwise(F.col("_pt.h_count")).alias("h_count"),
        F.when(is_delta, F.col("_ds")).otherwise(F.col("_pt.h_sum")).alias("h_sum"),
        F.when(is_delta, F.col("_dmin")).otherwise(F.col("_pt.h_min")).alias("h_min"),
        F.when(is_delta, F.col("_dmax")).otherwise(F.col("_pt.h_max")).alias("h_max"),
        F.when(is_delta, F.col("_dbounds")).otherwise(F.col("_pt.bounds")).alias("bounds"),
        F.when(is_delta, folded).otherwise(F.col("_pt.bucket_counts")).alias("bucket_counts"),
    )


def points_to_histogram(
    df: DataFrame,
    value_col: str,
    bounds: list[float],
) -> DataFrame:
    """Turn raw measurements into single-observation delta histogram points
    (the ingest side of a histogram stream): one-hot bucket_counts with the
    OTel bucket rule — bucket i counts values ≤ bounds[i], the final
    overflow bucket counts values > bounds[-1]."""
    v = F.col(value_col).cast("double")
    conds = []
    lo = None
    for b in bounds:
        c = v <= F.lit(float(b)) if lo is None else (v > F.lit(float(lo))) & (v <= F.lit(float(b)))
        conds.append(c)
        lo = b
    conds.append(v > F.lit(float(bounds[-1])))
    one_hot = F.array(*[F.when(c, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) for c in conds])
    return (
        df.withColumn("h_count", F.lit(1).cast("long"))
        .withColumn("h_sum", v)
        .withColumn("h_min", v)
        .withColumn("h_max", v)
        .withColumn("bounds", F.array(*[F.lit(float(b)) for b in bounds]))
        .withColumn("bucket_counts", one_hot)
    )


def exp_histogram_delta_merge(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
) -> DataFrame:
    """Delta exponential-histogram reaggregation with scale alignment,
    positive AND negative bucket sides (builder.rs:79-128 merges all
    supported point types; the negative side mirrors the positive one).

    Merging exp-histograms of different scales requires downscaling every
    point to the group's minimum scale first: halving the scale merges
    adjacent bucket pairs, so bucket index i (with base offset o) at scale
    s maps to index ``(o + i) >> (s - target)`` at the coarser target
    scale (OTel data model, exponential histograms).

    Pure JVM expressions, whole-stage codegen'd, every aggregate
    partial+final — the group count can be millions without per-group
    Python overhead (a per-group ``applyInPandas`` merge took 103 s at
    sf0.1's ~40k groups; this takes ~1 s). Plan shape: groupBy #1
    (scalars + target scale) → points⋈scalars equi-join on the group key
    for the shift → ``posexplode`` + ``shiftright`` land every bucket at
    its target index → groupBy #2 on (group, target idx) → groupBy #3
    assembles the dense array with
    ``transform(sequence(lo, hi), try_element_at(map, ·))``. Per-group
    bucket spans are bounded (OTel exp histograms are ≤320 buckets/side),
    so the sequence/map steps are O(span) JVM work.

    ``neg_offset``/``neg_counts`` columns are optional; inputs without
    them merge the positive side only and emit empty negatives.
    """
    has_neg = "neg_counts" in df.columns

    w = F.window(F.col(ts_col), period)
    # The whole group key travels as ONE struct: struct equality treats
    # null fields as equal, so the points⋈scalars equi-joins below are
    # null-safe (a NULL key column keeps its group, as a plain groupBy
    # does) while Catalyst still extracts a hash-joinable key.
    keyed = df.withColumn("_w", w).withColumn(
        "_gkey", F.struct(F.col("_w"), *[F.col(k) for k in keys])
    )
    gk = ["_gkey"]

    scalars = keyed.groupBy(*gk).agg(
        F.sum("e_count").alias("e_count"),
        F.sum("e_sum").alias("e_sum"),
        F.min("scale").alias("tscale"),
        F.sum("zero_count").alias("zero_count"),
    )

    pts = keyed.join(scalars.select(*gk, "tscale"), gk).withColumn(
        "_shift", F.col("scale") - F.col("tscale")
    )

    def side(off_col: str, counts_col: str, out_off: str, out_counts: str) -> DataFrame:
        e = pts.select(
            *gk, "_shift", F.col(off_col).alias("_off"),
            F.posexplode(counts_col).alias("_pos", "_c"),
        ).withColumn("_idx", F.expr("shiftright(_off + _pos, _shift)"))
        per_idx = e.groupBy(*gk, "_idx").agg(F.sum("_c").alias("_c"))
        dense = per_idx.groupBy(*gk).agg(
            F.min("_idx").alias("_lo"),
            F.max("_idx").alias("_hi"),
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_c")))
            ).alias("_m"),
        )
        return dense.select(
            *gk,
            F.col("_lo").cast("int").alias(out_off),
            F.transform(
                F.sequence("_lo", "_hi"),
                lambda g: F.coalesce(F.try_element_at("_m", g), F.lit(0).cast("long")),
            ).alias(out_counts),
        )

    out = scalars.join(side("pos_offset", "pos_counts", "_po", "_pc"), gk, "left")
    if has_neg:
        out = out.join(side("neg_offset", "neg_counts", "_no", "_nc"), gk, "left")
    else:
        out = out.withColumn("_no", F.lit(None).cast("int")).withColumn(
            "_nc", F.lit(None).cast("array<long>")
        )
    empty = F.array().cast("array<long>")
    return out.select(
        F.col("_gkey._w.start").cast("timestamp_ntz").alias("window_start"),
        F.col("_gkey._w.end").cast("timestamp_ntz").alias("window_end"),
        *[F.col(f"_gkey.{k}").alias(k) for k in keys],
        F.col("e_count").cast("long").alias("e_count"),
        F.col("e_sum").cast("double").alias("e_sum"),
        F.col("tscale").cast("int").alias("scale"),
        F.col("zero_count").cast("long").alias("zero_count"),
        F.coalesce("_po", F.lit(0)).cast("int").alias("pos_offset"),
        F.coalesce("_pc", empty).alias("pos_counts"),
        F.coalesce("_no", F.lit(0)).cast("int").alias("neg_offset"),
        F.coalesce("_nc", empty).alias("neg_counts"),
    )


def summary_merge(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
) -> DataFrame:
    """Summary data-point reaggregation (builder.rs:79-128 handles
    summaries alongside sums/histograms): ``count``/``sum`` accumulate
    additively while the quantile snapshot — quantiles cannot be merged
    without the underlying data — is taken from the LATEST point per
    (stream, window), the reference's replace-if-newer rule applied to the
    non-additive part.

    Pure expressions: two sums + one ``max_by`` over the quantile struct —
    algebraic aggregates, partial+final, no UDF.
    """
    w = F.window(F.col(ts_col), period)
    snap = F.struct(
        F.col("quantiles").alias("quantiles"), F.col("values").alias("values")
    )
    g = df.groupBy(w.alias("w"), *keys).agg(
        F.sum("s_count").alias("s_count"),
        F.sum("s_sum").alias("s_sum"),
        F.max_by(snap, F.col(ts_col)).alias("_q"),
    )
    return g.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        "s_count",
        "s_sum",
        F.col("_q.quantiles").alias("quantiles"),
        F.col("_q.values").alias("values"),
    )


def histogram_quantile(
    df: DataFrame,
    q: float,
    bounds_col: str = "bounds",
    counts_col: str = "bucket_counts",
    out_col: str = "quantile",
) -> DataFrame:
    """Estimate the q-quantile from explicit histogram buckets
    (Prometheus ``histogram_quantile`` semantics: linear interpolation
    inside the bucket containing the target rank; the overflow bucket
    clamps to the last finite bound) — THE downstream query a histogram
    pipeline exists to answer (p99 latency per stream from the merged
    buckets histogram_delta_merge produces).

    Pure expressions, no shuffle: for k+1 buckets the rank search is a
    ``filter(sequence(...))`` whose predicate re-sums a prefix slice —
    O(k²) arithmetic per row, bounded (OTel explicit histograms carry at
    most a few hundred buckets), all JVM-side (higher-order lambdas
    evaluate as interpreted expressions outside whole-stage codegen); a
    running-sum formulation would need a second array pass anyway.

    Returns ``df`` with ``out_col`` added (NULL where total count is 0).
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0,1], got {q}")
    counts = F.col(counts_col).cast("array<double>")
    bounds = F.col(bounds_col).cast("array<double>")
    total = F.aggregate(counts, F.lit(0.0), lambda a, x: a + x)
    rank = F.lit(q) * total
    k = F.size(counts)

    def cum(i):  # inclusive prefix sum of buckets[0..i]
        return F.aggregate(
            F.slice(counts, 1, i + 1), F.lit(0.0), lambda a, x: a + x
        )

    # first bucket index whose cumulative count reaches the rank
    idx = F.filter(
        F.sequence(F.lit(0), k - 1), lambda i: cum(i) >= rank
    ).getItem(0)
    lo = F.when(idx == 0, F.lit(0.0)).otherwise(
        F.try_element_at(bounds, idx)  # 1-based: bounds[idx-1+1]
    )
    hi = F.try_element_at(bounds, idx + 1)
    prev_cum = F.when(idx == 0, F.lit(0.0)).otherwise(cum(idx - 1))
    in_bucket = F.try_element_at(counts, idx + 1)
    interp = lo + (hi - lo) * (rank - prev_cum) / in_bucket
    est = (
        F.when(total == 0, F.lit(None).cast("double"))
        # overflow bucket has no upper bound → clamp to last finite bound
        .when(idx >= F.size(bounds), F.element_at(bounds, -1))
        .when(in_bucket == 0, hi)
        .otherwise(interp)
    )
    return df.withColumn(out_col, est)


def histogram_fraction(
    df: DataFrame,
    lower: float,
    upper: float,
    bounds_col: str = "bounds",
    counts_col: str = "bucket_counts",
    out_col: str = "fraction",
) -> DataFrame:
    """Estimated fraction of observations in ``[lower, upper]`` from
    explicit histogram buckets (Prometheus ``histogram_fraction``
    semantics, the inverse query of :func:`histogram_quantile`): linear
    interpolation inside the bucket containing each boundary, so
    ``histogram_fraction(0, q_x, h) ≈ x`` when ``q_x`` is the x-quantile.

    Conventions match histogram_quantile: bucket i counts observations in
    ``(bounds[i-1], bounds[i]]`` with bucket 0 starting at 0 (non-negative
    observations assumed, Prometheus's classic-histogram convention), and
    the overflow bucket (beyond the last finite bound) contributes fully
    once the boundary passes the last bound — the same clamp the quantile
    applies. NULL where total count is 0.

    Pure expressions, zero shuffle, same O(k²) bounded prefix-slice
    arithmetic as the quantile — one ``cum_at`` evaluation per boundary.
    """
    if upper < lower:
        raise ValueError(f"upper {upper} < lower {lower}")
    counts = F.col(counts_col).cast("array<double>")
    bounds = F.col(bounds_col).cast("array<double>")
    total = F.aggregate(counts, F.lit(0.0), lambda a, x: a + x)
    k = F.size(counts)

    def cum(i):  # inclusive prefix sum of buckets[0..i]
        return F.aggregate(
            F.slice(counts, 1, i + 1), F.lit(0.0), lambda a, x: a + x
        )

    def cum_at(x: float):
        # cumulative estimated count of observations <= x
        xl = F.lit(float(x))
        # first bucket whose upper bound reaches x (NULL → overflow zone)
        # NULL (not an error) when x is beyond every finite bound — F.get
        # tolerates the empty match that ANSI getItem(0) rejects
        idx = F.get(
            F.filter(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.try_element_at(bounds, i + 1) >= xl,
            ),
            F.lit(0),
        )
        lo = F.when(idx == 0, F.lit(0.0)).otherwise(
            F.try_element_at(bounds, idx)
        )
        hi = F.try_element_at(bounds, idx + 1)
        prev_cum = F.when(idx == 0, F.lit(0.0)).otherwise(cum(idx - 1))
        in_bucket = F.try_element_at(counts, idx + 1)
        frac_in = F.greatest(
            F.lit(0.0), F.least(F.lit(1.0), (xl - lo) / (hi - lo))
        )
        return (
            F.when(xl <= 0, F.lit(0.0))
            # x beyond every finite bound → everything, incl. overflow
            .when(idx.isNull() | (idx >= F.size(bounds)), total)
            .when(hi == lo, prev_cum + in_bucket)  # degenerate bucket
            .otherwise(prev_cum + in_bucket * frac_in)
        )

    est = F.when(total == 0, F.lit(None).cast("double")).otherwise(
        F.greatest(
            F.lit(0.0), (cum_at(upper) - cum_at(lower)) / total
        )
    )
    return df.withColumn(out_col, est)


def counter_rate(
    df: DataFrame,
    period: str = "60 seconds",
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
    value_col: str = "double_value",
) -> DataFrame:
    """Per-stream per-window rate of a CUMULATIVE counter with
    counter-reset handling (PromQL ``increase``/``rate`` semantics): the
    increase is the sum of positive adjacent deltas, and a drop in the
    raw value is a reset — the post-reset value IS its own contribution
    (the counter restarted from zero).

    Plan: ONE shuffle total — the lag window partitions by (keys) and the
    groupBy re-uses that partitioning (window keys ⊇ lag keys would need
    no second Exchange; Spark still folds these into adjacent stages with
    AQE). Per window: rate = increase / window_seconds.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col)
    prev = F.lag(value_col).over(w)
    delta = F.col(value_col) - prev
    contrib = (
        F.when(prev.isNull(), F.lit(0.0))  # first point: no interval
        .when(delta >= 0, delta)
        .otherwise(F.col(value_col))  # reset: counter restarted from ~0
    )
    win = F.window(F.col(ts_col), period)
    # parquet timestamps arrive as TIMESTAMP_NTZ, which won't cast to
    # double — go through unix_micros on a TZ-cast copy
    period_sec = (
        F.unix_micros(F.col("w.end").cast("timestamp"))
        - F.unix_micros(F.col("w.start").cast("timestamp"))
    ) / F.lit(1_000_000.0)
    return (
        df.withColumn("_contrib", contrib)
        .groupBy(win.alias("w"), *keys)
        .agg(
            F.sum("_contrib").alias("increase"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            *keys,
            F.round("increase", 6).alias("increase"),
            F.round(F.col("increase") / period_sec, 6).alias("rate_per_sec"),
            "n_points",
        )
    )


def cumulative_to_delta(
    df: DataFrame,
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
    value_col: str = "double_value",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Convert CUMULATIVE sum streams to DELTA temporality (the OTel
    collector's cumulativetodelta processor, public contrib module):
    per stream ordered by (ts, tiebreak), each emitted point is the
    difference from the previous point with ``start_ts`` = the previous
    point's timestamp (the interval the delta covers). The first point
    of a stream only anchors state and is DROPPED — there is no interval
    to attribute it to. A raw-value drop is a counter reset: the
    post-reset value is its own delta (counter restarted from ~0), the
    same reset rule counter_rate applies.

    Plan: ONE Window node over the stream keys (single Exchange); pure
    lag/filter expressions, codegen'd, no Python. Scale: partitions by
    stream identity — the cardinality that grows with the fleet — never
    by time, so a 100× longer retention widens partitions, not the
    shuffle key space.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    out = (
        df.withColumn("_prev", F.lag(value_col).over(w))
        .withColumn("_prev_ts", F.lag(ts_col).over(w))
        .filter(F.col("_prev").isNotNull())
    )
    delta = F.when(
        F.col(value_col) >= F.col("_prev"), F.col(value_col) - F.col("_prev")
    ).otherwise(F.col(value_col))
    return out.select(
        *keys,
        F.col("_prev_ts").alias("start_ts"),
        F.col(ts_col).alias(ts_col),
        delta.alias(value_col),
    )


def delta_to_cumulative(
    df: DataFrame,
    keys: tuple[str, ...] = ("metric_name",),
    ts_col: str = "ts",
    value_col: str = "double_value",
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Convert DELTA sum streams to CUMULATIVE temporality (the OTel
    collector's deltatocumulative processor): per stream ordered by
    (ts, tiebreak), each point carries the running sum of all deltas so
    far, and every emitted point's ``start_ts`` is pinned to the
    stream's FIRST observed start (the fixed cumulative anchor the data
    model requires). Inverse of cumulative_to_delta up to the unobserved
    baseline: d2c(c2d(s)) = s - s.first_value.

    Plan: ONE Window node (running frame + first-value share the same
    partitioning/ordering → one Exchange, one Sort); left-associated
    fold in a deterministic total order, so the IEEE sum sequence is
    engine-reproducible.
    """
    w = Window.partitionBy(*keys).orderBy(ts_col, *tiebreak)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    anchor = "start_ts" if "start_ts" in df.columns else ts_col
    return df.select(
        *keys,
        F.first(anchor).over(run).alias("start_ts"),
        F.col(ts_col).alias(ts_col),
        F.sum(value_col).over(run).alias(value_col),
    )


def exp_histogram_quantile(
    df: DataFrame,
    q: float,
    out_col: str = "quantile",
) -> DataFrame:
    """Estimate the q-quantile from OTel EXPONENTIAL histogram state
    (scale / zero_count / pos+neg bucket sides): bucket ``i`` at scale
    ``s`` covers ``(base^(offset+i), base^(offset+i+1)]`` with
    ``base = 2^(2^-s)``; values ascend through the negative side in
    REVERSED bucket order, the zero bucket, then the positive side —
    the rank walks that concatenation and interpolates linearly between
    the found bucket's edges (zero bucket → 0.0).

    Expressions only (concat + prefix-sum filter + pow), the same O(k²)
    bounded rank search as histogram_quantile; composable directly with
    exp_histogram_delta_merge's output.
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0,1], got {q}")
    neg = F.coalesce(F.col("neg_counts").cast("array<double>"),
                     F.array().cast("array<double>"))
    pos = F.coalesce(F.col("pos_counts").cast("array<double>"),
                     F.array().cast("array<double>"))
    zero = F.coalesce(F.col("zero_count").cast("double"), F.lit(0.0))
    cat = F.concat(F.reverse(neg), F.array(zero), pos)
    total = F.aggregate(cat, F.lit(0.0), lambda a, x: a + x)
    rank = F.lit(q) * total
    k = F.size(cat)

    def cum(i):
        return F.aggregate(F.slice(cat, 1, i + 1), F.lit(0.0), lambda a, x: a + x)

    idx = F.filter(F.sequence(F.lit(0), k - 1), lambda i: cum(i) >= rank).getItem(0)
    prev_cum = F.when(idx == 0, F.lit(0.0)).otherwise(cum(idx - 1))
    in_bucket = F.try_element_at(cat, idx + 1)
    frac = F.when(in_bucket > 0, (rank - prev_cum) / in_bucket).otherwise(F.lit(0.0))
    base = F.pow(F.lit(2.0), F.pow(F.lit(2.0), -F.col("scale").cast("double")))
    n_neg = F.size(neg)
    # negative side (ascending value = descending bucket index j)
    j = n_neg - 1 - idx
    neg_lo = -F.pow(base, (F.col("neg_offset") + j + 1).cast("double"))
    neg_hi = -F.pow(base, (F.col("neg_offset") + j).cast("double"))
    # positive side
    i_pos = idx - n_neg - 1
    pos_lo = F.pow(base, (F.col("pos_offset") + i_pos).cast("double"))
    pos_hi = F.pow(base, (F.col("pos_offset") + i_pos + 1).cast("double"))
    est = (
        F.when(total == 0, F.lit(None).cast("double"))
        .when(idx < n_neg, neg_lo + (neg_hi - neg_lo) * frac)
        .when(idx == n_neg, F.lit(0.0))
        .otherwise(pos_lo + (pos_hi - pos_lo) * frac)
    )
    return df.withColumn(out_col, est)
