"""SLO burn-rate analytics: multi-window error-budget burn over an event
stream — the alerting math a telemetry pipeline's aggregate sinks feed
(reference analog: the per-sink severity/error aggregates the dataflow
engine publishes for exactly this downstream use; the burn-rate form is
the public multiwindow/multi-burn-rate method from the Google SRE
workbook, ch. 5).

``burn = error_ratio / (1 - slo)``: burn 1.0 consumes the error budget
exactly at the sustainable rate; a fast-burn alert requires BOTH a short
window (reacts quickly) and a long window (filters blips) above the
threshold.

Plan shape: one partial+final aggregate over the raw events to the short
buckets, then the long window re-aggregates the SHORT BUCKET COUNTS via
an unordered window on the long bucket — the second pass touches rows
``(span of data) / short_window`` in number, orders of magnitude smaller
than the input, so the raw table is scanned exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bucket widths in microseconds. Buckets are fixed-width and epoch-aligned,
# so they do not depend on the session time zone (a ``date_trunc`` would
# truncate in it).
_UNIT_MICROS = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}


def burn_rate(
    events: DataFrame,
    error_pred,
    slo: float = 0.75,
    short: str = "hour",
    long: str = "day",
    threshold: float = 2.0,
    ts_col: str = "ts",
) -> DataFrame:
    """One row per short bucket: counts, short/long burn, alert flag.

    ``short``/``long`` are fixed-width units (``second``, ``minute``,
    ``hour``, ``day``; ``hour`` into ``day`` by default) — short buckets
    tile long ones exactly, so the long ratio is an exact re-sum of
    short-bucket counts. Buckets are cut on epoch microseconds: a
    ``timestamp_ntz`` column is read as UTC wall-clock time and
    ``bucket_start`` stays ``timestamp_ntz``; a ``timestamp`` column is
    cut on its instant. The rows are the same under any session time
    zone. Burn values are single IEEE divisions of exact integer counts —
    bit-identical in any engine, so replay needs no rounding convention.
    """
    for unit in (short, long):
        if unit not in _UNIT_MICROS:
            raise ValueError(f"unit must be one of {sorted(_UNIT_MICROS)}, got {unit!r}")
    short_us, long_us = _UNIT_MICROS[short], _UNIT_MICROS[long]
    if long_us % short_us:
        raise ValueError(f"{short!r} buckets must tile {long!r} buckets")
    budget = 1.0 - slo
    ts, bucket_us = F.col(ts_col), F.col("bucket_us")
    if isinstance(events.schema[ts_col].dataType, T.TimestampNTZType):
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        micros = F.timestamp_diff("MICROSECOND", epoch, ts)
        bucket_start = F.timestamp_add("MICROSECOND", bucket_us, epoch)
    else:
        micros = F.unix_micros(ts)
        bucket_start = F.timestamp_micros(bucket_us)
    bucketed = events.groupBy(
        (micros - F.pmod(micros, F.lit(short_us))).alias("bucket_us")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(error_pred.cast("long")).alias("n_errors"),
    )
    wl = Window.partitionBy(bucket_us - F.pmod(bucket_us, F.lit(long_us)))
    long_events = F.sum("n_events").over(wl)
    long_errors = F.sum("n_errors").over(wl)
    short_burn = F.col("n_errors") / F.col("n_events") / F.lit(budget)
    long_burn = long_errors / long_events / F.lit(budget)
    return bucketed.select(
        bucket_start.alias("bucket_start"),
        "n_events",
        "n_errors",
        short_burn.alias("short_burn"),
        long_burn.alias("long_burn"),
        ((short_burn > threshold) & (long_burn > F.lit(1.0))).alias("alert"),
    )
