"""Sinks: table-format-aware writers, fan-out, retry policy, maintenance.

Reference analogs:

* parquet exporter (exporters/parquet_exporter/mod.rs:1) — partitioned
  object-store writes with flush-by-size (writer.rs:112 WriterManager,
  partition.rs:34): here ``write_table`` with partition columns, stable
  write ordering (sort-for-compression, optimizer.go:109), and a target
  file size expressed as a row-count hint per partition;
* noop / error exporters → ``noop_sink`` / ``error_sink``;
* retry processor (processors/retry_processor/README.md:13-46) —
  exponential backoff with initial/max interval, multiplier, max elapsed →
  ``retry_with_backoff`` for driver-side actions (task-level retries are
  Spark's own ``spark.task.maxFailures``).

Iceberg: when the session has an Iceberg catalog configured (the
``spark.sql.catalog.<name>`` conf, requires the iceberg-spark-runtime jar),
``write_table`` uses ``writeTo(...).append()`` against it — partition spec
and write ordering belong on the table DDL there. In this sandbox no
Iceberg jar is baked in, so the default path is hive-style partitioned
parquet, which preserves the same layout semantics (partition pruning,
dictionary+RLE encodings — docs/otap-spec.md encodings come free from the
parquet writer).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Writer options of every parquet sink the plans and streaming jobs write.
# Set on each writer, never as a session conf. zstd at its default level
# with v2 data pages (DELTA_BINARY_PACKED ints and timestamps,
# DELTA_BYTE_ARRAY for non-dictionary strings); on transcripts_etl's
# routed + aggregate output, B/turn (100k turns, seed 11):
#   snappy, v1 pages 74.63 | zstd 47.79 | zstd + v2 pages 44.33 (-40.6%)
# for 0-7% more write time (BASELINE.md). Measured to lose: zstd level 1
# (50.46) and level 9 (46.09, slower routed write), gzip (46.69), lz4
# (83.30). Spark's streaming file sink takes the codec from these options
# but not the page version, so its files are zstd with v1 pages.
SINK_PARQUET_OPTIONS = {"compression": "zstd", "parquet.writer.version": "v2"}


def iceberg_catalog(df: DataFrame) -> str | None:
    """Name of a configured Iceberg catalog, or None."""
    conf = df.sparkSession.conf
    for key in ("spark.sql.catalog.local", "spark.sql.catalog.spark_catalog"):
        try:
            val = conf.get(key)
        except Exception:  # noqa: BLE001 — unset conf raises
            continue
        if val and "iceberg" in val.lower():
            return key.rsplit(".", 1)[-1]
    return None


def iceberg_write_plan(
    catalog: str, target: str, mode: str = "overwrite"
) -> dict:
    """Marshal an Iceberg v2 write into its invocation plan (the
    contract-testable half, split from the jar-gated call): the
    fully-qualified table name and the DataFrameWriterV2 method to
    invoke. Partition spec and write
    ordering belong on the table DDL in Iceberg, not the writer — the
    writer's job is only name + mode.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"iceberg write mode must be overwrite|append, got {mode!r}")
    qualified = target if target.startswith(f"{catalog}.") else f"{catalog}.{target}"
    return {
        "table": qualified,
        "method": "createOrReplace" if mode == "overwrite" else "append",
    }


def _is_missing_package(ex: BaseException) -> bool:
    """True only for classpath/data-source-resolution failures — the
    Iceberg write rebrands ONLY those, never SQL/runtime errors."""
    msg = str(ex)
    return any(
        marker in msg
        for marker in (
            "Failed to find data source",
            "Failed to find the data source",
            "ClassNotFoundException",
            "NoClassDefFoundError",
            "DATA_SOURCE_NOT_FOUND",
        )
    )


def write_table(
    df: DataFrame,
    target: str,
    partition_by: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    mode: str = "overwrite",
) -> str:
    """Write a table with stable ordering and partition layout.

    ``target`` is an Iceberg table name when a catalog is configured, else
    a filesystem path for partitioned parquet. Rows are sorted within
    partitions by (partition_by..., sort_cols...) so (a) the file writer
    keeps a single open writer per task (no per-partition writer fanout)
    and (b) parquet gets sorted runs to dictionary/RLE-encode — the
    sort-for-compression invariant. Parquet is written with
    ``SINK_PARQUET_OPTIONS``.
    """
    order = [c for c in (*partition_by, *sort_cols) if c in df.columns]
    out = df.sortWithinPartitions(*order) if order else df
    catalog = iceberg_catalog(df)
    if catalog:
        plan = iceberg_write_plan(catalog, target, mode)
        writer = out.writeTo(plan["table"])
        try:
            getattr(writer, plan["method"])()
        except Exception as ex:
            if _is_missing_package(ex):
                raise RuntimeError(
                    f"Iceberg catalog '{catalog}' is configured but the "
                    "iceberg-spark-runtime jar is not on the classpath — "
                    "add it via spark.jars.packages, or unset the catalog "
                    "conf to fall back to partitioned parquet"
                ) from ex
            raise
        return plan["table"]
    w = out.write.mode(mode).options(**SINK_PARQUET_OPTIONS)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)
    return target


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 64,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> str:
    """Write a catalog table hash-bucketed on ``bucket_cols`` — the
    co-located-join layout: two tables bucketed on the same key with the
    same bucket count join WITHOUT a shuffle (each bucket pairs with its
    counterpart; Catalyst drops both Exchanges), and a groupBy on the
    bucket key skips its shuffle the same way.

    This is the layout to write once and join many times at 100 TB —
    e.g. the routed turns table and a conversation-metadata table both
    bucketed by conv_id: every downstream conv-grain join/agg saves its
    full-corpus shuffle. Pick ``n_buckets`` ≈ cluster cores × a small
    factor; within-bucket ``sort_cols`` presorts for merge joins.

    Requires a table name (bucketing metadata lives in the catalog, not
    parquet files — plain-path writes cannot record it).
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table, format="parquet")
    return table


def noop_sink(df: DataFrame) -> None:
    """Always-succeed terminal (noop_exporter analog): materializes the
    plan without writing — the perf-measurement sink."""
    df.write.mode("overwrite").format("noop").save()


def retry_with_backoff(
    fn: Callable[[], object],
    max_attempts: int = 5,
    initial_interval: float = 0.5,
    max_interval: float = 30.0,
    multiplier: float = 2.0,
    max_elapsed: float = 300.0,
    retryable: type[BaseException] | tuple = Exception,
    sleep: Callable[[float], None] = time.sleep,
) -> object:
    """Exponential-backoff retry for driver-side actions (writes, commits).

    Parameter names mirror the retry processor config
    (retry_processor/README.md:13-46: initial_interval, max_interval,
    multiplier, max_elapsed_time). Re-raises the last error when attempts
    or the elapsed budget run out — the NACK path.
    """
    start = time.monotonic()
    interval = initial_interval
    last: BaseException | None = None
    for attempt in range(max_attempts):
        try:
            return fn()
        except retryable as ex:  # noqa: PERF203
            last = ex
            if time.monotonic() - start + interval > max_elapsed:
                break
            if attempt < max_attempts - 1:
                sleep(interval)
                interval = min(interval * multiplier, max_interval)
    assert last is not None
    raise last


@dataclass
class FanoutPort:
    """One fan-out destination (fanout_processor README:22-62): a named
    port whose sink is any callable(df); optional fallback routing and a
    per-port retry budget (retry-then-fallback)."""

    name: str
    sink: Callable[[DataFrame], object]
    primary: bool = False
    fallback_for: str | None = None
    max_attempts: int = 1


class FanoutDeliveryError(IOError):
    """Raised when the ack policy is unsatisfied; carries the per-port
    lineage so the caller can see which ports did deliver."""

    def __init__(self, msg: str, lineage: dict):
        super().__init__(msg)
        self.lineage = lineage


def fanout_with_policy(
    df: DataFrame,
    ports: list[FanoutPort],
    await_ack: str = "primary",
    persist: bool = True,
    initial_interval: float = 0.01,
) -> dict:
    """Fan-out with ack policies and per-port failover (fanout_processor
    README:12-40,70-120): the SAME frame goes to every non-fallback port
    (clone-to-N; content routing is the router's job, not fan-out's);
    a port that fails after its retry budget falls back to the port
    declared ``fallback_for`` it; the ack policy decides what the caller
    sees — ``all``: every port must deliver (directly or via fallback),
    ``primary``: only the primary port's delivery gates success,
    ``none``: fire-and-forget, outcomes recorded but never raised.

    Returns the lineage: per-port status (``ok`` / ``fell_back`` /
    ``failed``), the port that actually received each batch
    (``delivered_via``), attempts, and the final error text — the
    which-port-got-it record the README's inflight tracking keeps.

    Spark mapping: each delivery is a driver-side action on a persisted
    frame (scan+parse run once); per-task retries stay Spark's own
    spark.task.maxFailures, this layer owns sink-level (driver) failures
    exactly like retry_with_backoff.
    """
    if await_ack not in ("all", "primary", "none"):
        raise ValueError(f"await_ack must be all|primary|none, got {await_ack!r}")
    fallbacks = {p.fallback_for: p for p in ports if p.fallback_for}
    unknown = [f for f in fallbacks if f not in {p.name for p in ports}]
    if unknown:
        raise ValueError(f"fallback_for references unknown port(s): {unknown}")
    targets = [p for p in ports if p.fallback_for is None]

    if persist:
        df = df.persist()
    lineage: dict = {"ports": {}, "await_ack": await_ack}
    try:
        for port in targets:
            record = {"status": "ok", "delivered_via": port.name,
                      "attempts": 0, "fallback_attempts": 0, "error": None}

            def _deliver(p: FanoutPort) -> tuple[BaseException | None, int]:
                # count the attempts actually made (a sink succeeding on
                # try 2 of 3 is 2, not 1 and not max_attempts) — the
                # inflight-tracking record must state what happened
                made = 0

                def _run():
                    nonlocal made
                    made += 1
                    return p.sink(df)

                try:
                    retry_with_backoff(
                        _run,
                        max_attempts=p.max_attempts,
                        initial_interval=initial_interval,
                    )
                    return None, made
                except Exception as ex:  # noqa: BLE001 — sink errors are data
                    return ex, made

            err, record["attempts"] = _deliver(port)
            if err is not None and port.name in fallbacks:
                fb = fallbacks[port.name]
                fb_err, record["fallback_attempts"] = _deliver(fb)
                if fb_err is None:
                    record.update(status="fell_back", delivered_via=fb.name,
                                  error=str(err))
                else:
                    record.update(status="failed", delivered_via=None,
                                  error=f"{err}; fallback {fb.name}: {fb_err}")
            elif err is not None:
                record.update(status="failed", delivered_via=None, error=str(err))
            lineage["ports"][port.name] = record
    finally:
        if persist:
            df.unpersist()

    failed = [n for n, r in lineage["ports"].items() if r["status"] == "failed"]
    primary = next((p.name for p in targets if p.primary), None)
    if await_ack == "all" and failed:
        raise FanoutDeliveryError(f"undelivered port(s): {failed}", lineage)
    if await_ack == "primary" and primary in failed:
        raise FanoutDeliveryError(f"primary port {primary} undelivered", lineage)
    return lineage


def error_sink(df: DataFrame) -> None:
    """Always-fail terminal (error_exporter analog, exporters/
    error_exporter/mod.rs:1): for exercising retry/failover paths."""
    raise IOError("error_sink: configured to always fail")


def compact_parquet_dir(
    spark,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    partition_by: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = (),
    refresh_sidecars: bool = True,
) -> dict:
    """Small-file compaction for a parquet sink directory — the
    maintenance half of every continuously-ingesting table (streaming
    micro-batches and per-sink fan-out both produce files sized by
    trigger interval, not by optimal scan granularity; at 10^12 rows an
    uncompacted sink becomes a listing/open-cost bottleneck long before
    a byte of data is read). Iceberg calls this rewrite_data_files; for
    plain-parquet sinks this is the equivalent rewrite.

    Strategy: size the rewrite from the CURRENT bytes on disk
    (ceil(bytes/target) output files), repartition — by the hive
    partition columns when given, so each partition keeps one writer —
    rewrite into a sibling temp dir, verify the row count survived, then
    atomically swap directories. A crash before the swap leaves the
    original untouched; after it, the temp name never collides (rewrite
    is idempotent).

    Data-skipping sidecars (`_zonemap`, `_bloomskip`) describe the OLD
    file layout; the rewrite invalidates them, so their specs (stat
    columns, bloom geometry) are read before the swap and the manifests
    rebuilt over the new files afterwards (``refresh_sidecars=False``
    skips the rebuild; the scanners fall back to building on the fly,
    correct but unindexed). Iceberg gets this for free from its own
    metadata rewrite — for plain parquet it must be explicit.

    Returns {files_before, files_after, bytes_before, bytes_after, rows,
    sidecars_refreshed}.
    """
    import glob as _glob
    import math
    import os
    import shutil

    def _stats(p: str) -> tuple[int, int]:
        fs = [
            f
            for f in _glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
            # sidecar manifests (_zonemap/_bloomskip) are planning
            # metadata, not data files — exclude them like Spark does;
            # only components BELOW p count (an underscore-named
            # ancestor of the table dir must not zero the stats)
            if not any(
                part.startswith("_")
                for part in os.path.relpath(f, p).split(os.sep)
            )
        ]
        return len(fs), sum(os.path.getsize(f) for f in fs)

    files_before, bytes_before = _stats(path)
    zonemap_cols: list[str] = []
    bloom_spec: tuple[str, int, int] | None = None
    if refresh_sidecars:
        zm_dir = os.path.join(path, "_zonemap")
        if os.path.isdir(zm_dir):
            zonemap_cols = [
                f.name[4:]
                for f in spark.read.parquet(zm_dir).schema
                if f.name.startswith("min_")
            ]
        bl_dir = os.path.join(path, "_bloomskip")
        if os.path.isdir(bl_dir):
            h = spark.read.parquet(bl_dir).select("col", "m_bits", "k").head()
            if h is not None:
                bloom_spec = (h.col, h.m_bits, h.k)
    df = spark.read.parquet(path)
    rows = df.count()
    n_out = max(1, math.ceil(bytes_before / target_file_bytes))

    if partition_by:
        out = df.repartition(*[F.col(c) for c in partition_by])
    else:
        out = df.repartition(n_out)
    order = [c for c in (*partition_by, *sort_cols) if c in df.columns]
    if order:
        out = out.sortWithinPartitions(*order)

    tmp = path.rstrip("/") + ".__compact_tmp"
    old = path.rstrip("/") + ".__compact_old"
    shutil.rmtree(tmp, ignore_errors=True)
    w = out.write.mode("overwrite").options(**SINK_PARQUET_OPTIONS)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)

    got = spark.read.parquet(tmp).count()
    if got != rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch at {path}: {rows} -> {got}; "
            "original left untouched"
        )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    refreshed = []
    if zonemap_cols:
        from otel_arrow_spark.sources.zonemap import write_zonemap

        write_zonemap(spark, path, zonemap_cols)
        refreshed.append("zonemap")
    if bloom_spec is not None:
        from otel_arrow_spark.sources.bloomskip import write_bloom_manifest

        write_bloom_manifest(spark, path, *bloom_spec)
        refreshed.append("bloomskip")
    files_after, bytes_after = _stats(path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "rows": rows,
        "sidecars_refreshed": refreshed,
    }


def expire_partitions(
    spark,
    path: str,
    partition_col: str,
    keep_from: str,
    dry_run: bool = False,
) -> dict:
    """Retention enforcement for a hive-partitioned parquet sink: drop
    every ``partition_col=<value>`` directory whose value sorts strictly
    below ``keep_from`` — the plain-parquet analog of Iceberg's
    expire_snapshots + a retention DELETE, and the operational sibling of
    :func:`compact_parquet_dir` (a continuously-ingesting table needs
    both: compaction bounds file count, retention bounds history).

    Deleting whole partition directories is the ONLY scale-safe shape for
    retention: it is pure metadata work (no row rewrite, no scan), which
    is exactly why telemetry sinks partition by day/hour in the first
    place. Values compare as strings — zero-padded date/hour partition
    values (the layout route_to_sinks/partitioned writers produce) sort
    correctly; the guard refuses non-hive directories rather than
    guessing.

    Returns {dropped: [values...], kept: [values...], freed_bytes}.
    """
    import glob as _glob
    import os
    import shutil

    prefix = f"{partition_col}="
    parts = sorted(
        d for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and d.startswith(prefix)
    )
    if not parts:
        raise ValueError(
            f"{path} has no {prefix}* partition directories — refusing to "
            "expire from an unpartitioned or differently-partitioned sink"
        )
    stray = [
        d for d in os.listdir(path)
        if os.path.isdir(os.path.join(path, d)) and not d.startswith(prefix)
    ]
    if stray:
        raise ValueError(
            f"{path} mixes partition layouts ({stray[:3]}…) — refusing"
        )
    dropped, kept, freed = [], [], 0
    for d in parts:
        val = d[len(prefix):]
        if val < keep_from:
            freed += sum(
                os.path.getsize(f)
                for f in _glob.glob(
                    os.path.join(path, d, "**", "*"), recursive=True
                )
                if os.path.isfile(f)
            )
            dropped.append(val)
            if not dry_run:
                shutil.rmtree(os.path.join(path, d))
        else:
            kept.append(val)
    return {"dropped": dropped, "kept": kept, "freed_bytes": freed}
