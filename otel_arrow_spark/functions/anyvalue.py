"""AnyValue: OTLP's dynamically-typed value as a type-tagged sparse struct.

Reference: the ``body`` column layout — Struct{type:u8, str, int, double,
bool, bytes, ser} with exactly one populated branch per row
(go/pkg/otel/logs/arrow/logs.go:40-48; docs/data_model.md), and the
query engine's typed projection of it
(query-engine/src/pipeline/project/anyval.rs:1).

Type tags follow the reference's AnyValue variant order:
0=empty 1=str 2=int 3=double 4=bool 5=bytes 6=ser(json).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

ANYVALUE_SCHEMA = T.StructType(
    [
        T.StructField("type", T.IntegerType()),
        T.StructField("str", T.StringType()),
        T.StructField("int", T.LongType()),
        T.StructField("double", T.DoubleType()),
        T.StructField("bool", T.BooleanType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("ser", T.StringType()),
    ]
)

TYPE_EMPTY, TYPE_STR, TYPE_INT, TYPE_DOUBLE, TYPE_BOOL, TYPE_BYTES, TYPE_SER = range(7)

def _mk(tag: int, s=None, i=None, b=None, by=None) -> Column:
    # built lazily — Column construction needs an active SparkContext
    _N = F.lit(None)
    return F.struct(
        F.lit(tag).alias("type"),
        (s if s is not None else _N.cast("string")).alias("str"),
        (i if i is not None else _N.cast("long")).alias("int"),
        _N.cast("double").alias("double"),
        (b if b is not None else _N.cast("boolean")).alias("bool"),
        (by if by is not None else _N.cast("binary")).alias("bytes"),
        _N.cast("string").alias("ser"),
    )


def any_str(c: Column) -> Column:
    return _mk(TYPE_STR, s=c)


def any_int(c: Column) -> Column:
    return _mk(TYPE_INT, i=c.cast("long"))


def any_bool(c: Column) -> Column:
    return _mk(TYPE_BOOL, b=c)


def any_bytes(c: Column) -> Column:
    return _mk(TYPE_BYTES, by=c)


def any_value_as_string(v: Column) -> Column:
    """Typed projection → string rendering, the anyval.rs projection
    analog: picks the populated branch by tag."""
    return (
        F.when(v["type"] == TYPE_STR, v["str"])
        .when(v["type"] == TYPE_INT, v["int"].cast("string"))
        .when(v["type"] == TYPE_DOUBLE, v["double"].cast("string"))
        .when(v["type"] == TYPE_BOOL, v["bool"].cast("string"))
        .when(v["type"] == TYPE_BYTES, F.lower(F.hex(v["bytes"])))
        .when(v["type"] == TYPE_SER, v["ser"])
    )


def any_value_is(v: Column, type_name: str) -> Column:
    """OPL ``value is String`` runtime type check (functions/is_type.rs)."""
    tags = {"string": TYPE_STR, "integer": TYPE_INT, "double": TYPE_DOUBLE,
            "boolean": TYPE_BOOL, "bytes": TYPE_BYTES, "map": TYPE_SER,
            "array": TYPE_SER, "null": TYPE_EMPTY}
    return v["type"] == tags[type_name.lower()]
