"""LOGS star-schema encode/decode: flat log rows ↔ the reference's
normalized Arrow layout (LOGS + LOG_ATTRS + RESOURCE_ATTRS + SCOPE_ATTRS,
docs/data_model.md:245-307).

This is the row-to-columnar encode at the heart of the reference (the
OTLP→OTAP encoder, go/pkg/otel/logs/arrow/logs.go; decode is
otlp/logs.go) re-expressed as DataFrame transforms:

* **ids without a global ordering funnel**: the reference assigns dense
  u16 ids sequentially per batch — a per-batch counter. The distributed
  analog is a STABLE HASH of the row's natural key: no shuffle, no
  row_number-over-everything single task, deterministic across runs and
  engines. The log surrogate id is **128 bits wide** — two independent
  ``xxhash64`` values (the second prefixed) as ``(id_hi, id_lo)`` column
  pairs: at the 10^12-row target a single 64-bit id expects ~2.7×10^7
  colliding pairs by the birthday bound (n²/2^65), silently merging
  unrelated rows' attributes on decode; at 128 bits the expectation is
  ~10^-15 pairs. Resource/scope ids hash their defining attribute values
  — the dictionary-encoding analog (equal dicts share an id, so the dims
  stay tiny and broadcastable); those dims stay 64-bit because their
  cardinality is the distinct-value count, not the row count.
* **sparse attrs**: LOG_ATTRS holds one (parent_id_hi, parent_id_lo,
  key, type, str, int) row per NON-NULL attribute — null attributes
  produce no row, exactly like the reference's optional columns
  (attributes_16.go accumulator skips absent keys).
* **AnyValue body**: body_type + body_str columns (type 1 = str), the
  flattened AnyValue convention of functions/anyvalue.py.

Scale shape: encode is narrow (projections + one explode for attrs; the
dims are a distinct over their few columns — tiny, map-side combinable).
Decode's default strategy folds the logs⋈pivoted-attrs join INTO the
pivot: logs rows and sparse attr rows union into ONE hash aggregate
keyed on the id pair (conditional first per attr key; the log payload
columns ride as first(ignorenulls) since exactly one logs row exists per
id) — one shuffle TOTAL for the fact side, plus two broadcast dim joins.
The ``join`` strategy keeps the pivot and the equi-join separate so
bucketed star tables (sinks.write_bucketed on the id pair) can run both
the pivot's groupBy and the join with ZERO Exchange.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# salt making id_lo an independent second 64-bit hash of the same key
_ID_LO_SALT = "otel-arrow-spark/logs-star/id-lo"


@dataclass
class LogsStarSpec:
    """Column mapping from a flat log frame into the star layout."""

    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    ts_col: str = "ts"
    body_col: str = "text"
    severity_text_col: str | None = "severity_text"
    severity_number_col: str | None = "severity_number"
    trace_id_col: str | None = "trace_id"
    span_id_col: str | None = "span_id"
    attr_cols: tuple[str, ...] = ("tool", "component", "tool_called", "call_status")
    resource_cols: tuple[str, ...] = ("owner",)
    scope_cols: tuple[str, ...] = ("role_class",)
    int_attr_cols: tuple[str, ...] = field(default=(), repr=False)


def _id128(cols: tuple[str, ...], hi: str, lo: str) -> list[F.Column]:
    """The 128-bit surrogate id as two independent 64-bit hash columns."""
    cs = [F.col(c) for c in cols]
    return [
        F.xxhash64(*cs).alias(hi),
        F.xxhash64(F.lit(_ID_LO_SALT), *cs).alias(lo),
    ]


def _attr_rows(df: DataFrame, parents: list[F.Column], cols: tuple[str, ...],
               int_cols: tuple[str, ...]) -> DataFrame:
    """Explode selected columns into sparse (parent id cols…, key, type,
    str, int) rows, dropping nulls (the optional-column analog)."""
    entries = []
    for c in cols:
        is_int = c in int_cols or isinstance(
            df.schema[c].dataType, (T.IntegerType, T.LongType, T.ShortType)
        )
        entries.append(
            F.struct(
                F.lit(c).alias("key"),
                F.lit(2 if is_int else 1).cast("int").alias("type"),
                (F.lit(None).cast("string") if is_int
                 else F.col(c).cast("string")).alias("str"),
                (F.col(c).cast("long") if is_int
                 else F.lit(None).cast("long")).alias("int"),
            )
        )
    return (
        df.select(*parents, F.inline(F.array(*entries)))
        .where(F.col("str").isNotNull() | F.col("int").isNotNull())
    )


def encode_logs_star(df: DataFrame, spec: LogsStarSpec | None = None
                     ) -> dict[str, DataFrame]:
    """Flat rows → {logs, log_attrs, resource_attrs, scope_attrs}."""
    spec = spec or LogsStarSpec()
    resource_id = F.xxhash64(*[F.col(c) for c in spec.resource_cols])
    scope_id = F.xxhash64(*[F.col(c) for c in spec.scope_cols])

    def opt(col_name: str | None, out: str, typ: str) -> F.Column:
        c = F.col(col_name) if col_name else F.lit(None)
        return c.cast(typ).alias(out)

    logs = df.select(
        *_id128(spec.key_cols, "id_hi", "id_lo"),
        resource_id.alias("resource_id"),
        scope_id.alias("scope_id"),
        F.col(spec.ts_col).alias("ts"),
        opt(spec.severity_number_col, "severity_number", "int"),
        opt(spec.severity_text_col, "severity_text", "string"),
        opt(spec.trace_id_col, "trace_id", "string"),
        opt(spec.span_id_col, "span_id", "string"),
        F.lit(1).cast("int").alias("body_type"),  # 1 = str (anyvalue.py)
        F.col(spec.body_col).cast("string").alias("body_str"),
    )
    log_attrs = _attr_rows(
        df, _id128(spec.key_cols, "parent_id_hi", "parent_id_lo"),
        spec.attr_cols, spec.int_attr_cols,
    )
    resource_attrs = _attr_rows(
        df.select(*spec.resource_cols).distinct(),
        [F.xxhash64(*[F.col(c) for c in spec.resource_cols]).alias("parent_id")],
        spec.resource_cols, spec.int_attr_cols,
    )
    scope_attrs = _attr_rows(
        df.select(*spec.scope_cols).distinct(),
        [F.xxhash64(*[F.col(c) for c in spec.scope_cols]).alias("parent_id")],
        spec.scope_cols, spec.int_attr_cols,
    )
    return {
        "logs": logs,
        "log_attrs": log_attrs,
        "resource_attrs": resource_attrs,
        "scope_attrs": scope_attrs,
    }


def _attr_val(c: str) -> F.Column:
    """The typed attr value rendered back to string (type 2 = int)."""
    return F.when(
        F.col("key") == c,
        F.when(F.col("type") == 2, F.col("int").cast("string")).otherwise(
            F.col("str")
        ),
    )


def _pivot_attrs(attrs: DataFrame, cols: tuple[str, ...],
                 parent_map: dict[str, str]) -> DataFrame:
    """(parent id cols…, key, type, str, int) rows → one row per parent
    with a typed column per key: ONE hash aggregate (conditional first
    per key), never a join per key. ``parent_map`` renames the parent id
    columns to the join-side names."""
    aggs = [F.first(_attr_val(c), ignorenulls=True).alias(c) for c in cols]
    keys = [F.col(src).alias(dst) for src, dst in parent_map.items()]
    return attrs.groupBy(*keys).agg(*aggs)


def decode_logs_star(tables: dict[str, DataFrame],
                     spec: LogsStarSpec | None = None,
                     strategy: str = "union-agg") -> DataFrame:
    """{logs, log_attrs, resource_attrs, scope_attrs} → flat rows (the
    OTAP→OTLP decode analog). Attribute values come back as strings
    (type info preserved in the star, callers re-cast as needed); the
    natural key columns are not recoverable from the hash id — decode
    returns the star id pair alongside the payload columns.

    ``strategy``:

    * ``"union-agg"`` (default): logs rows and sparse attr rows union
      into ONE hash aggregate on (id_hi, id_lo) — the pivot and the
      logs⋈attrs join collapse into a single shuffle. Attr rows whose
      parent log is absent (malformed star) are dropped, preserving the
      left-join semantics (a decoded row always has ``body_type`` set by
      the encoder; attr-only groups don't).
    * ``"join"``: pivot LOG_ATTRS separately, then equi-join on the id
      pair — two shuffles from raw parquet, but ZERO Exchange when both
      tables were written with sinks.write_bucketed on the id pair
      (bucketed scans pre-partition the groupBy AND the join).

    Either way the decode is COLUMN-PRUNABLE: a consumer selecting k
    columns pays k conditional-first aggregates, not the full width —
    Catalyst eliminates the unused ones through the union/pivot
    (plan-pinned in tests), so "decode then project" costs the same as
    a hand-written partial decode at any scale.
    """
    spec = spec or LogsStarSpec()
    logs = tables["logs"]
    id_cols = ["id_hi", "id_lo"]
    payload_cols = [c for c in logs.columns if c not in id_cols]

    if strategy == "join":
        flat = logs.join(
            _pivot_attrs(tables["log_attrs"], spec.attr_cols,
                         {"parent_id_hi": "id_hi", "parent_id_lo": "id_lo"}),
            id_cols, "left",
        )
    elif strategy == "union-agg":
        attr_meta = [("_k", "string"), ("_t", "int"), ("_s", "string"),
                     ("_i", "long")]
        logs_side = logs.select(
            *id_cols, *payload_cols,
            *[F.lit(None).cast(t).alias(n) for n, t in attr_meta],
        )
        attrs_side = tables["log_attrs"].select(
            F.col("parent_id_hi").alias("id_hi"),
            F.col("parent_id_lo").alias("id_lo"),
            *[F.lit(None).cast(logs.schema[c].dataType).alias(c)
              for c in payload_cols],
            F.col("key").alias("_k"), F.col("type").alias("_t"),
            F.col("str").alias("_s"), F.col("int").alias("_i"),
        )
        attr_val = lambda c: F.when(  # noqa: E731
            F.col("_k") == c,
            F.when(F.col("_t") == 2, F.col("_i").cast("string")).otherwise(
                F.col("_s")
            ),
        )
        flat = (
            logs_side.unionByName(attrs_side)
            .groupBy(*id_cols)
            .agg(
                *[F.first(c, ignorenulls=True).alias(c) for c in payload_cols],
                *[F.first(attr_val(c), ignorenulls=True).alias(c)
                  for c in spec.attr_cols],
            )
            # attr rows without a parent log row never saw the encoder's
            # constant body_type — drop them (left-join semantics)
            .where(F.col("body_type").isNotNull())
        )
    else:
        raise ValueError(f"unknown decode strategy {strategy!r}")

    flat = flat.join(
        F.broadcast(
            _pivot_attrs(tables["resource_attrs"], spec.resource_cols,
                         {"parent_id": "resource_id"})
        ),
        "resource_id", "left",
    )
    flat = flat.join(
        F.broadcast(
            _pivot_attrs(tables["scope_attrs"], spec.scope_cols,
                         {"parent_id": "scope_id"})
        ),
        "scope_id", "left",
    )
    return flat.drop("resource_id", "scope_id", "body_type").withColumnRenamed(
        "body_str", spec.body_col
    )


def write_logs_star_bucketed(tables: dict[str, DataFrame],
                             prefix: str = "logs_star",
                             n_buckets: int = 64) -> dict[str, str]:
    """Persist the star as catalog tables with the fact tables BUCKETED
    on the id pair (logs on (id_hi, id_lo), log_attrs on the matching
    parent pair, same bucket count): decode's ``join`` strategy then runs
    its pivot groupBy AND the logs⋈attrs equi-join with ZERO Exchange —
    the write-once / decode-many layout for a 10^12-row store. The tiny
    dims are plain tables (they broadcast anyway). Returns the table
    names keyed like the input dict."""
    from otel_arrow_spark.sinks import write_bucketed

    names = {k: f"{prefix}_{k}" for k in tables}
    write_bucketed(tables["logs"], names["logs"], ("id_hi", "id_lo"),
                   n_buckets)
    write_bucketed(tables["log_attrs"], names["log_attrs"],
                   ("parent_id_hi", "parent_id_lo"), n_buckets)
    for dim in ("resource_attrs", "scope_attrs"):
        tables[dim].write.mode("overwrite").saveAsTable(
            names[dim], format="parquet"
        )
    return names


def read_logs_star_tables(spark, names: dict[str, str]) -> dict[str, DataFrame]:
    """Load star tables written by :func:`write_logs_star_bucketed`."""
    return {k: spark.table(v) for k, v in names.items()}
