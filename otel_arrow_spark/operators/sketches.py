"""Mergeable sketch sidecars: KLL quantiles and theta set operations.

Together with the HLL cardinality sketches (operators/profile.py
distinct_sketches) these make the standard "sketch sidecar" trio a
100 TB telemetry store keeps next to each ingested partition:

* HLL — how many distinct keys (union-mergeable);
* KLL — what is p50/p95/p99 of a value (union-mergeable, so percentile
  questions across any set of days never rescan or re-sort the data —
  the thing an exact percentile fundamentally cannot do, since exact
  quantiles don't decompose);
* theta — set ALGEBRA on distinct keys: union, intersection,
  difference. "How many users appear on BOTH days" (retention) or
  "new today vs yesterday" (churn) from kilobyte sidecars.

All three are Apache DataSketches aggregates built into Spark
(partial+final, constant state per group, one Exchange), and all three
survive a parquet round trip as plain binary columns. Estimates carry
published error bounds; every driver query that uses a sketch path
guards the estimate against the exact answer in-query.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --- KLL quantile sketches ---------------------------------------------------


def quantile_sketches(
    df: DataFrame,
    value_col: str,
    by: tuple[str, ...] = (),
    k: int = 200,
) -> DataFrame:
    """One mergeable KLL(bigint) sketch per ``by`` group: ``(*by,
    n_rows, qsketch)``. k=200 ⇒ ~1.3% one-sided rank error at 99%
    confidence, a few KB per sketch. The value column is cast to
    bigint — quantize floats to a fixed grid first (cents, micros),
    which is also what keeps any exact comparison engine-stable."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.kll_sketch_agg_bigint(
            F.col(value_col).cast("bigint"), F.lit(k)
        ).alias("qsketch"),
    ]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


def merge_quantile_sketches(
    sketches: DataFrame,
    quantiles: Sequence[float] = (0.5, 0.95, 0.99),
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Roll stored KLL sketches up to ``by`` (empty = one global row):
    ``(*by, n_rows, q_<q> ...)`` — percentiles across any partition set
    reading only the sketch column."""
    merged = F.kll_merge_agg_bigint(F.col("qsketch"))
    aggs = [F.sum("n_rows").alias("n_rows")] + [
        F.kll_sketch_get_quantile_bigint(merged, F.lit(float(q))).alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in quantiles
    ]
    return sketches.groupBy(*by).agg(*aggs) if by else sketches.agg(*aggs)


# --- theta sketches: set algebra over distinct keys --------------------------


def theta_sketches(
    df: DataFrame,
    key_col: str,
    by: tuple[str, ...] = (),
    lg_k: int = 12,
) -> DataFrame:
    """One theta sketch of the distinct ``key_col`` values per ``by``
    group: ``(*by, n_rows, tsketch)`` — the sidecar that admits
    union/intersection/difference, not just union (HLL's limit)."""
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.theta_sketch_agg(key_col, F.lit(lg_k)).alias("tsketch"),
    ]
    return df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)


def retention_estimates(
    day_sketches: DataFrame, day_col: str = "day"
) -> DataFrame:
    """Day-over-day retention from stored theta sketches: for each day
    after the first, ``(day, est_users, est_retained, est_new)`` where
    retained = |today ∩ yesterday| and new = |today \\ yesterday| —
    scalar sketch expressions over a self-join of the (tiny) sketch
    table on consecutive days; the event data is never touched."""
    cur = day_sketches.select(
        F.col(day_col), F.col("tsketch").alias("t_cur")
    )
    prev = day_sketches.select(
        (F.col(day_col) + F.lit(1)).alias(day_col),
        F.col("tsketch").alias("t_prev"),
    )
    j = cur.join(prev, day_col)
    return j.select(
        day_col,
        F.round(F.theta_sketch_estimate(F.col("t_cur"))).cast("long").alias(
            "est_users"
        ),
        F.round(
            F.theta_sketch_estimate(
                F.theta_intersection(F.col("t_cur"), F.col("t_prev"))
            )
        ).cast("long").alias("est_retained"),
        F.round(
            F.theta_sketch_estimate(
                F.theta_difference(F.col("t_cur"), F.col("t_prev"))
            )
        ).cast("long").alias("est_new"),
    )


# --- count-min frequency sketches --------------------------------------------


def _cm_hash(key: F.Column, j: int, w: int) -> F.Column:
    """Row-``j`` bucket for ``key``: md5-derived 60-bit integer mod ``w``.
    md5 of the canonical string is computed identically by Spark and
    DuckDB, so a sketch built here is bit-identical to a SQL replay
    (`CAST('0x' || substr(md5(key || '#' || j), 1, 15) AS BIGINT) % w`)."""
    from otel_arrow_spark.functions.scalar import md5_long60

    return md5_long60(
        F.concat(key.cast("string"), F.lit(f"#{j}"))
    ) % F.lit(w)


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    w: int = 64,
    d: int = 4,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005) in
    long form: one ``(*by, j, bucket, c)`` row per non-empty counter,
    ``d`` hash rows × ``w`` buckets. The fourth member of the sketch-
    sidecar family (HLL "how many distinct", KLL "what quantile",
    theta "set algebra") — count-min answers "how OFTEN is key x" from
    kilobytes, with the one-sided guarantee est ≥ true and
    est ≤ true + εN (ε = e/w) with probability 1-δ (δ = e^-d).

    Long form on purpose: counters merge across partitions/days by
    ``groupBy(j, bucket).sum(c)`` — plain SQL, no binary blob, same
    pattern as the bloom manifest's (file, word, bits) rows. Build is
    a d-way explode (map-side, constant factor) into ONE partial+final
    aggregate whose output cardinality is capped at d·w per group —
    the 10^12-row input reduces to ≤ d·w counters regardless of skew.
    """
    key = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cm_hash(key, j, w).alias("bucket")
            )
            for j in range(d)
        ]
    )
    return (
        df.where(key.isNotNull())
        .select(*by, F.explode(pairs).alias("p"))
        .groupBy(*by, F.col("p.j").alias("j"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    w: int = 64,
    d: int = 4,
) -> DataFrame:
    """Point-estimate the frequency of each row of ``keys``: the MIN
    counter across the ``d`` hash rows (absent counter = 0). The SKETCH
    side broadcasts — it is ≤ d·w rows by construction, so an arbitrarily
    large key universe probes it without shuffling (broadcasting the keys
    instead would both ship the big side and be ignored by Spark: a
    broadcast hint on the preserved side of an outer join cannot be
    honored)."""
    key = F.col(key_col)
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cm_hash(key, j, w).alias("bucket"),
                    )
                    for j in range(d)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.j", "p.bucket")
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count"))
    )
