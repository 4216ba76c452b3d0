"""SparkSession factory with the engine's standard configuration profile.

The reference engine is thread-per-core shared-nothing with explicit batch
sizing (rust/otap-dataflow/README.md:52-58; batching.rs:12-33). The Spark
analog is: AQE on (runtime re-planning ≈ the reference's lazy replanning,
query-engine/src/pipeline.rs:44-63), shuffle partitions sized to cores,
Arrow-batched Python I/O for the vectorized UDF path, and broadcast joins
for dictionary-sized lookups.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Tuned for the sandbox (local[32], 128 GiB). On a real cluster these are
# overridden by spark-submit conf; the session-level defaults below are the
# ones that matter for plan shape (AQE, broadcast threshold, Arrow batching),
# not sizing. The code's side of plan shape: each layer builds its output
# with one ``select``, not a ``withColumn`` loop, because every
# ``withColumn`` re-analyses the whole plan built so far.
_PLAN_SHAPE_CONF = {
    # AQE: runtime partition coalescing + skew-join splitting. This is the
    # Spark-native answer to the reference's batch split/concatenate kernels
    # (pdata/src/otap/transform/{split,concatenate}.rs) and its hot-key
    # partition processor (processors/partition_processor/mod.rs:1).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Dictionary-sized enrich tables must broadcast, never shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow transfer for pandas UDFs (the vectorized parse path).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # Python workers fork from otel_arrow_spark/pyworker.py, PySpark's
    # daemon minus the per-task re-read of every zip archive on the
    # worker's path (150-280 ms per UDF task); get_spark puts the package
    # root on the workers' PYTHONPATH so the daemon can import it.
    "spark.python.daemon.module": "otel_arrow_spark.pyworker",
}

# The directory that holds the ``otel_arrow_spark`` package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "otel-arrow-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; on a cluster pass ``None`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    if master.startswith("local"):
        # In local mode the driver JVM is the executor. The 1g default heap
        # thrashes GC at bench scale — but oversizing is far worse: a 48g
        # G1 heap spent 60-70% of the machine in kernel time (lazy
        # first-touch page faults + region management), tripling wall time
        # versus 8g on identical runs. Size to the working set.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g")
        )

    if shuffle_partitions is None:
        # local[N] → N shuffle partitions: one reducer per core, mirroring
        # the reference's one-runtime-per-core layout (engine/README.md:10-18).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else int(n)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    for k, v in _PLAN_SHAPE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Conf for loops over metadata- or node-sized state (a service graph, a
# near-dup edge list, a bloom/zonemap manifest): under the session's
# data-scale shuffle config their tiny joins/aggregates are pure scheduler
# overhead, so they run single-partition with AQE's per-stage re-planning
# off. Callers must only use it where results are partitioning-invariant.
_SMALL_STATE_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


@contextmanager
def small_state_conf(spark: SparkSession) -> Iterator[None]:
    """Run the body under ``_SMALL_STATE_CONF``; the session's own values
    are restored on exit, also when the body raises. Anything lazy built
    inside must be materialized (collected or checkpointed) inside, or it
    would execute later under the restored conf."""
    saved = {k: spark.conf.get(k) for k in _SMALL_STATE_CONF}
    try:
        for k, v in _SMALL_STATE_CONF.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def local_frame(spark: SparkSession, rows: list, schema: T.StructType) -> DataFrame:
    """A small driver-built table as a ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into an
    RDD (``Scan ExistingRDD``) that every plan reading them scans. Built
    from an Arrow table instead, the same rows plan as ``LocalTableScan``
    (up to ``spark.sql.execution.arrow.localRelationThreshold``, also with
    Arrow conversion off), a leaf that holds them on the driver. A
    broadcast of either still runs one small Spark job per execution:
    ``BroadcastExchange`` collects its child through a job, one task per
    core, also over a ``LocalTableScan``.

    ``rows`` are tuples in field order. Not for timestamp columns: Arrow
    reads a naive ``datetime`` as UTC where the RDD path reads it as local
    time, so the values would differ whenever the process's time zone is
    not UTC.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, r)) for r in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema)
