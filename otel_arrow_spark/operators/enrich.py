"""Enrich stage: broadcast-hash dictionary lookups.

Reference analog: otel-arrow's dictionary encoding of attribute columns
(go/pkg/otel/common/arrow/attributes_16.go:64 — small keyed value tables
attached to columns) and the attributes processor's insert/upsert actions
(processors/attributes_processor/mod.rs:77). A dictionary is a small keyed
lookup table; the Spark-native realization is a broadcast hash join — the
dictionary ships to every executor once, the probe stays narrow (no
shuffle), and the join is whole-stage-codegen'd. The dictionaries are
built on the driver as ``LocalRelation``s (``session.local_frame``), so
no RDD of parallelized rows is scanned for them. Each broadcast still
runs one small Spark job per execution: ``BroadcastExchange`` collects
its child through a job, also over a ``LocalTableScan``.

Unknown keys enrich to NULL via left join; rows are never dropped
(FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otel_arrow_spark.session import local_frame
from otel_arrow_spark.sources.transcripts import role_dict_rows, tool_dict_rows

ROLE_DICT_SCHEMA = T.StructType(
    [
        T.StructField("role", T.StringType()),
        T.StructField("role_class", T.StringType()),
        T.StructField("is_human", T.BooleanType()),
    ]
)

TOOL_DICT_SCHEMA = T.StructType(
    [
        T.StructField("tool", T.StringType()),
        T.StructField("tool_family", T.StringType()),
        T.StructField("risk_tier", T.StringType()),
        T.StructField("owner", T.StringType()),
    ]
)


def role_dict_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, role_dict_rows(), ROLE_DICT_SCHEMA)


def tool_dict_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, tool_dict_rows(), TOOL_DICT_SCHEMA)


def enrich_with_dict(df: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Left broadcast-join ``df`` against a dictionary table on ``key``.

    ``F.broadcast`` is an explicit hint: dictionary tables must never be
    the shuffled side of a join at 10^12-row scale.
    """
    return df.join(F.broadcast(dim), on=key, how="left")


def scd2_intervals(
    changelog: DataFrame, key: str, valid_from: str = "valid_from"
) -> DataFrame:
    """Turn a dimension CHANGELOG (one row per version, ``valid_from``
    only) into closed-open validity intervals: ``valid_to`` = the next
    version's ``valid_from`` within the key, NULL for the current
    version. Intervals per key are disjoint by construction, so a
    point-in-time probe matches at most one version.

    One window over the dimension — dimensions are small by contract
    (they broadcast), so this is driver-negligible at any fact scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(valid_from)
    return changelog.withColumn("valid_to", F.lead(valid_from).over(w))


def enrich_scd2(
    df: DataFrame,
    dim: DataFrame,
    key: str,
    on: str = "ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time (SCD type-2) dimension enrich: left-join each fact
    row to the dimension VERSION valid at the fact's event time —
    ``dim.valid_from <= fact.ts < dim.valid_to`` (NULL ``valid_to`` =
    still current). The temporal generalization of
    :func:`enrich_with_dict` for dimensions that change over time
    (user tiers, tool ownership, routing policies): replaying history
    must enrich each event with the dictionary AS OF that event, not
    today's.

    Plan shape: a BroadcastHashJoin on ``key`` equality with the two
    interval bounds as join filters — the dimension (all versions) ships
    once to every executor, the 10^12-row fact side is never shuffled.
    Facts before their key's first version (or with no key match) keep
    NULL payload columns; rows are never dropped or duplicated
    (disjoint-interval contract — use :func:`scd2_intervals` to derive
    intervals from a changelog, which guarantees it).
    """
    payload = [
        c for c in dim.columns if c not in (key, valid_from, valid_to)
    ]
    f, d = df.alias("_f"), dim.alias("_d")
    ts = F.col(f"_f.{on}")
    cond = (
        (F.col(f"_f.{key}") == F.col(f"_d.{key}"))
        & (ts >= F.col(f"_d.{valid_from}"))
        & (F.col(f"_d.{valid_to}").isNull() | (ts < F.col(f"_d.{valid_to}")))
    )
    return f.join(F.broadcast(d), cond, "left").select(
        "_f.*", *[F.col(f"_d.{c}") for c in payload]
    )


def enrich(df: DataFrame, spark: SparkSession | None = None) -> DataFrame:
    """Standard transcript enrichment: role dictionary + tool dictionary.

    The tool join keys on the *parsed* tool name (``tool_called``) coalesced
    with the raw ``tool`` column, mirroring the attributes processor's
    upsert-over-existing semantics (attributes_processor/mod.rs:77).
    """
    spark = spark or df.sparkSession
    out = enrich_with_dict(df, role_dict_df(spark), "role")
    dim = tool_dict_df(spark)
    key = out["tool"]
    if "tool_called" in df.columns:
        key = F.coalesce(out["tool_called"], key)
    return out.join(F.broadcast(dim), key == dim["tool"], "left").drop(dim["tool"])
