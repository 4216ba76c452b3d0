"""Aggregate stage: per-sink grouped aggregation, temporal windows.

Reference analogs:

* KQL ``summarize ... by ...`` with avg/count/max/min/sum
  (kql-parser/src/tabular_expressions.rs:350-420) executed as a hash
  aggregate with partial+final decomposition
  (engine-recordset/src/summary/summaries.rs:12-135 — avg kept as
  {count,sum}); Spark's hash aggregate does exactly this natively
  (map-side partial → shuffle → final).
* temporal reaggregation processor — regrouping into coarser fixed periods
  keyed by stream identity (temporal_reaggregation_processor/mod.rs:1,
  identity.rs:28-60) → ``F.window(ts, window, slide)`` group.
* hot keys (skewed conversations, FIXTURES.md §6) need no special path:
  the partial aggregate runs before the shuffle, so a hot key leaves each
  map task as one partial row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sink_aggregate(
    df: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "tool", "severity_text"),
) -> DataFrame:
    """The per-sink aggregate of the north rule (FIXTURES.md §4):
    groupBy(conv_id, tool, severity_text) → count, min(ts), max(ts)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


def hopping_aggregate(
    df: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    keys: tuple[str, ...] = (),
    ts_col: str = "ts",
    aggs: tuple = (),
) -> DataFrame:
    """HOPPING (sliding) window reaggregation — overlapping windows of
    ``window`` length starting every ``slide``: the moving-average /
    moving-rate shape dashboards ask for, generalizing the tumbling
    reagg (the reference's temporal_reaggregation_processor does only
    tumbling periods; hopping is the same groupBy with ``F.window``'s
    slideDuration).

    Each row lands in ``window/slide`` windows — Spark's window expression
    expands them BEFORE the hash aggregate (a Generate of window structs),
    so the plan stays one partial+final aggregate; the row multiplication
    is the algorithm's inherent cost, bounded by the ratio (2× for the
    defaults), never a self-join per offset.

    ``aggs``: aggregate Columns (default: count + duration sum/avg).
    With ``slide == window`` the windows tumble (the reference's
    temporal reaggregation).
    """
    if not aggs:
        aggs = (
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("duration_ms").alias("sum_duration_ms"),
            F.avg("duration_ms").alias("avg_duration_ms"),
        )
    w = F.window(F.col(ts_col), window, slide)
    out = df.groupBy(w.alias("w"), *keys).agg(*aggs)
    agg_cols = [c for c in out.columns if c != "w" and c not in keys]
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys,
        *agg_cols,
    )


def capped_reaggregate(
    df: DataFrame,
    keys: tuple[str, ...],
    value_col: str,
    max_streams: int = 16384,
) -> DataFrame:
    """Bounded-memory aggregation with cardinality-cap EARLY FLUSH — the
    ``max_stream_cardinality`` analog (temporal_reaggregation_processor/
    README.md:56-60: "Maximum number of individual metric streams tracked
    while aggregating a single batch... When this limit is hit, data is
    flushed early"; mod.rs AggregationError::StreamCardinalityExceeded).

    Each partition tracks at most ``max_streams`` distinct key tuples in
    its in-memory map; when a new stream would exceed the cap, the current
    partials are emitted (one flush generation) and the map resets. The
    output may therefore contain MULTIPLE partial rows per stream — the
    same contract as the reference, whose early-flushed aggregates stand
    as separate output points. ``flush_seq`` records the generation; a
    downstream ``groupBy(keys).sum()`` merges partials exactly (asserted
    in tests against the uncapped aggregate).

    Implementation: one ``mapInPandas`` pass — per Arrow batch a pandas
    groupby (vectorized) merges into the bounded dict; no shuffle at all,
    which is the point: this is the operator for when even a shuffle's
    map-side hash table must stay bounded.
    """
    import pandas as pd

    key_list = list(keys)
    out_schema = ", ".join(
        [*(f"{k} string" for k in key_list), "n_rows long",
         f"sum_{value_col} double", "flush_seq int"]
    )

    def run(batches):
        state: dict[tuple, list] = {}
        flush_seq = 0

        def emit():
            nonlocal state, flush_seq
            if not state:
                return None
            rows = [
                [*k, v[0], v[1], flush_seq] for k, v in state.items()
            ]
            out = pd.DataFrame(
                rows, columns=[*key_list, "n_rows", f"sum_{value_col}", "flush_seq"]
            )
            state = {}
            flush_seq += 1
            return out

        for pdf in batches:
            g = pdf.groupby(key_list, dropna=False, sort=False)[value_col].agg(
                ["count", "sum"]
            )
            for k, row in g.iterrows():
                kt = k if isinstance(k, tuple) else (k,)
                if kt in state:
                    state[kt][0] += int(row["count"])
                    state[kt][1] += float(row["sum"])
                else:
                    if len(state) >= max_streams:
                        out = emit()
                        if out is not None:
                            yield out
                    state[kt] = [int(row["count"]), float(row["sum"])]
        out = emit()
        if out is not None:
            yield out

    return df.select(*key_list, value_col).mapInPandas(run, schema=out_schema)


def rollup_aggregate(
    df: DataFrame,
    keys: tuple[str, ...],
    values: dict[str, str] | None = None,
) -> DataFrame:
    """Multi-granularity rollup: one pass producing the aggregate at every
    prefix of ``keys`` — (k1..kn), (k1..kn-1), …, grand total — with a
    ``gid`` column (Spark's ``grouping_id``: bit per key, leftmost key =
    most significant, standard SQL GROUPING semantics, so DuckDB/Postgres
    GROUPING(...) agrees bit-for-bit).

    This is the hierarchy query of every telemetry dashboard (service →
    operation → status drill-down): the reference answers it with one KQL
    summarize per level; ROLLUP computes all levels in one Expand+hash-agg
    — the input is scanned ONCE and Spark's Expand node replicates each
    row per grouping set *after* the scan, map-side, so the shuffle is
    (levels × distinct-groups), not (levels × rows).

    ``values``: {column: "sum"|"avg"} extra measures beside the count.
    """
    aggs = [F.count(F.lit(1)).alias("n")]
    for col, how in (values or {}).items():
        fn = {"sum": F.sum, "avg": F.avg, "min": F.min, "max": F.max}[how]
        aggs.append(fn(col).alias(f"{how}_{col}"))
    return (
        df.rollup(*keys)
        .agg(F.grouping_id().alias("gid"), *aggs)
    )
