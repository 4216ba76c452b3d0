"""Partition processor: split a stream by an arbitrary expression into
hive partitions keyed by the expression's value.

Reference: processors/partition_processor/mod.rs:1 (README:13-31 — splits
one batch into per-value partitions by any OPL expression, e.g.
``resource.attributes["k8s.namespace.name"]`` or ``sha256(concat(...))``)
and the engine-side Partitioner (query-engine/src/pipeline/partition.rs:
39-58).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def write_partitioned_by_expr(
    df: DataFrame, path: str, expr: Column, name: str = "part_key"
) -> str:
    """Materialized form: hive-partitioned write keyed by the expression
    value (the parquet-exporter _part_id layout, partition.rs:34)."""
    df.withColumn(name, expr).write.mode("overwrite").partitionBy(name).parquet(path)
    return path
