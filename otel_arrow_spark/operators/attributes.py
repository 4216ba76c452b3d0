"""Attributes processor: ordered actions over map-typed attribute columns.

Reference: processors/attributes_processor/mod.rs:77 (Action enum —
insert / update / upsert / rename / delete / hash) with the columnar
kernels in pdata/src/otap/transform.rs:734-905, plus OPL's
``apply attributes { ... }`` nested pipeline over individual attributes
(attr_operators.md:107-253; query-engine/src/pipeline/apply_attrs.rs:27).

The reference stores attributes as exploded child tables; our denormalized
layout stores them as a ``MapType(string, string)`` column, so every action
is a single higher-order-function expression (map_filter / map_concat /
transform_values / map_from_entries) — JVM-side, no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _coerce(value: Column) -> Column:
    """Denormalized attribute maps are map<string,string>; non-string
    values (set attributes['x'] = true / 5) stringify on write — the
    string-map analog of AnyValue's tagged union (the typed alternative is
    functions/anyvalue.py). Without this, inserting a boolean makes Spark
    try to cast every EXISTING value to boolean (ANSI cast error)."""
    return value.cast("string")


def attrs_insert(df: DataFrame, attrs_col: str, key: str, value: Column) -> DataFrame:
    """insert: set only if the key is absent (mod.rs Action::Insert)."""
    value = _coerce(value)
    m = F.col(attrs_col)
    inserted = F.map_concat(m, F.create_map(F.lit(key), value))
    return df.withColumn(
        attrs_col,
        F.when(m.isNull(), F.create_map(F.lit(key), value))
        .when(F.array_contains(F.map_keys(m), key), m)
        .otherwise(inserted),
    )


def attrs_update(df: DataFrame, attrs_col: str, key: str, value: Column) -> DataFrame:
    """update: set only if the key exists (Action::Update)."""
    value = _coerce(value)
    m = F.col(attrs_col)
    return df.withColumn(
        attrs_col,
        F.when(
            m.isNotNull() & F.array_contains(F.map_keys(m), key),
            F.transform_values(m, lambda k, v: F.when(k == key, value).otherwise(v)),
        ).otherwise(m),
    )


def attrs_upsert(df: DataFrame, attrs_col: str, key: str, value: Column) -> DataFrame:
    """upsert: insert-or-replace (Action::Upsert; upsert_attributes.rs).

    map_concat with duplicate-key LAST_WIN requires
    spark.sql.mapKeyDedupPolicy=LAST_WIN; to stay config-independent we
    filter the old key out first.
    """
    value = _coerce(value)
    m = F.col(attrs_col)
    without = F.map_filter(m, lambda k, _: k != F.lit(key))
    return df.withColumn(
        attrs_col,
        F.when(m.isNull(), F.create_map(F.lit(key), value)).otherwise(
            F.map_concat(without, F.create_map(F.lit(key), value))
        ),
    )


def attrs_delete(df: DataFrame, attrs_col: str, key: str) -> DataFrame:
    """delete (Action::Delete) → map_filter."""
    return df.withColumn(
        attrs_col, F.map_filter(F.col(attrs_col), lambda k, _: k != F.lit(key))
    )


def rename_expr(m: Column, old: str, new: str) -> Column:
    """Key-rename as a pure expression (for nested struct-field targets)."""
    entries = F.transform(
        F.map_entries(m),
        lambda e: F.struct(
            F.when(e["key"] == old, F.lit(new)).otherwise(e["key"]).alias("key"),
            e["value"].alias("value"),
        ),
    )
    return F.when(m.isNull(), m).otherwise(F.map_from_entries(entries))


def attrs_rename(df: DataFrame, attrs_col: str, old: str, new: str) -> DataFrame:
    """rename key (Action::Rename): keeps the value, swaps the key."""
    return df.withColumn(attrs_col, rename_expr(F.col(attrs_col), old, new))


def attrs_hash(df: DataFrame, attrs_col: str, key: str, salt: str = "") -> DataFrame:
    """hash action (Action::Hash): SHA-256 of salt+value, replacing the
    value in place — the reference's PII-scrubbing primitive."""
    m = F.col(attrs_col)
    return df.withColumn(
        attrs_col,
        F.when(m.isNull(), m).otherwise(
            F.transform_values(
                m,
                lambda k, v: F.when(
                    k == key, F.sha2(F.concat(F.lit(salt), v), 256)
                ).otherwise(v),
            )
        ),
    )


def apply_actions(
    df: DataFrame, attrs_col: str, actions: list[tuple]
) -> DataFrame:
    """Config-driven ORDERED action list (attributes_processor/mod.rs:77:
    the processor applies its ``Action`` vec in declaration order, so
    rename-then-hash hashes under the NEW key while hash-then-rename hashes
    under the old one — order is semantics, not style).

    ``actions``: tuples of (kind, *args) where kind ∈ insert / update /
    upsert / delete / rename / hash with the same args as the per-action
    functions; scalar values are lifted to literal Columns.
    """
    dispatch = {
        "insert": attrs_insert,
        "update": attrs_update,
        "upsert": attrs_upsert,
        "delete": attrs_delete,
        "rename": attrs_rename,
        "hash": attrs_hash,
    }
    for action in actions:
        kind, *args = action
        fn = dispatch.get(kind)
        if fn is None:
            raise ValueError(f"unknown attributes action: {kind!r}")
        if kind in ("insert", "update", "upsert"):
            key, value = args
            if not isinstance(value, Column):
                value = F.lit(value)
            df = fn(df, attrs_col, key, value)
        else:
            df = fn(df, attrs_col, *args)
    return df


def apply_attributes_filter(df: DataFrame, attrs_col: str, predicate) -> DataFrame:
    """OPL ``apply attributes { where <predicate(key, value)> }``:
    keep only entries passing the predicate (apply_attrs.rs:27 over the
    key/value stream → here one map_filter)."""
    return df.withColumn(attrs_col, F.map_filter(F.col(attrs_col), predicate))


def explode_attrs(df: DataFrame, attrs_col: str, id_cols: tuple[str, ...]) -> DataFrame:
    """Map column → exploded long-format table (parent_id, key, value) —
    the reference's native attrs layout (docs/data_model.md:290-306), for
    when per-key filtering is the hot path."""
    return df.select(*id_cols, F.explode(F.col(attrs_col)).alias("key", "value"))


def collect_attrs(
    df: DataFrame, id_cols: tuple[str, ...], attrs_col: str = "attributes"
) -> DataFrame:
    """Inverse of :func:`explode_attrs`: long format → map column
    (map_from_entries ∘ collect_list)."""
    return df.groupBy(*id_cols).agg(
        F.map_from_entries(F.collect_list(F.struct("key", "value"))).alias(attrs_col)
    )
