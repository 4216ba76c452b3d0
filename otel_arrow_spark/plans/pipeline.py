"""The flagship job: scan → parse → enrich → route → aggregate → sinks,
with per-run lineage manifests and checkpoint-resume.

Reference analogs:

* the deployment path (df_engine main → Controller → RuntimePipeline,
  src/main.rs:247-295) — here: one function building a DataFrame DAG;
* perf exporter metrics (exporters/perf_exporter/mod.rs:4-15) — here:
  ``df.observe`` counters collected in the same pass as the write (no
  extra scan);
* durable buffer / WAL resume (processors/durable_buffer_processor/
  README.md:12-70; crates/quiver WAL + per-subscriber progress) — here:
  atomic per-step commit markers; a rerun skips committed steps, and sink
  writes are idempotent (mode=overwrite of a step-owned directory).

Scale notes (the part that must survive 100 TB):
* parse/enrich/route are narrow (scan → projections → broadcast joins →
  derived column): zero shuffles before the sinks;
* the routed-rows sink is a single-pass ``partitionBy(signal_class)``
  write — one job, one scan, no per-sink rescan;
* aggregates re-read the routed parquet and shuffle once on the group
  keys — Spark's partial (map-side) + final hash aggregate already
  reduces a hot conversation to one partial row per map task;
* everything downstream of the scan is column-pruned automatically: the
  sink projection lists columns explicitly;
* both sinks are zstd parquet with v2 data pages
  (``sinks.SINK_PARQUET_OPTIONS``), set on each writer.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from otel_arrow_spark.operators.aggregate import sink_aggregate
from otel_arrow_spark.operators.enrich import enrich
from otel_arrow_spark.operators.parse import parse_transcripts
from otel_arrow_spark.operators.route import SIGNAL_CLASSES, signal_class_col
from otel_arrow_spark.sinks import SINK_PARQUET_OPTIONS

SINK_COLUMNS = [
    "conv_id",
    "turn_idx",
    "role",
    "text",
    "tool",
    "ts",
    "severity_text",
    "severity_number",
    "component",
    "tool_called",
    "args_len",
    "call_status",
    "duration_ms",
    "trace_id",
    "span_id",
    "event_name",
    "is_parsed",
    "role_class",
    "is_human",
    "tool_family",
    "risk_tier",
    "owner",
    "signal_class",
]


@dataclass
class PipelineConfig:
    input_path: str
    output_dir: str
    agg_keys: tuple[str, ...] = ("conv_id", "tool", "severity_text")
    repartition: int | None = None  # test hook for batching-invariance checks


@dataclass
class PipelineResult:
    manifest: dict = field(default_factory=dict)

    @property
    def routed_path(self) -> str:
        return self.manifest["sinks"]["routed"]

    def agg_path(self, cls: str) -> str:
        return self.manifest["sinks"][f"agg_{cls}"]


def build_routed(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The logical plan up to (and including) the route key — no actions."""
    df = spark.read.parquet(cfg.input_path)
    if cfg.repartition is not None:
        df = df.repartition(cfg.repartition)
    enriched = enrich(parse_transcripts(df), spark)
    return enriched.select(*SINK_COLUMNS[:-1], signal_class_col().alias("signal_class"))


def _marker(path: str) -> str:
    return os.path.join(path, "_COMMITTED")


def _committed(path: str) -> bool:
    return os.path.exists(_marker(path))


def _commit(path: str) -> None:
    with open(_marker(path), "w") as f:
        f.write("ok")


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, resume: bool = False
) -> PipelineResult:
    """Run the flagship pipeline; return lineage manifest.

    Steps (each independently committed, resumable):
      1. routed rows  → {out}/routed/signal_class=<cls>/   (single pass)
      2. per-class aggregate → {out}/agg_<cls>/
    The manifest records rows in/parsed/unparsed/routed per class plus
    wall-clock per step — the rows parsed/routed/dropped lineage of the
    north rule.
    """
    os.makedirs(cfg.output_dir, exist_ok=True)
    manifest_path = os.path.join(cfg.output_dir, "MANIFEST.json")
    manifest: dict = {"config": {"input": cfg.input_path}}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    manifest.setdefault("sinks", {})
    manifest.setdefault("metrics", {})
    manifest.setdefault("timings_sec", {})

    routed_path = os.path.join(cfg.output_dir, "routed")
    routed = build_routed(spark, cfg)

    # Step 1: routed-rows sink, one pass, observe() counters ride along.
    if not (resume and _committed(routed_path)):
        t0 = time.monotonic()
        obs = Observation("lineage")
        class_counters = [
            F.sum(F.when(F.col("signal_class") == c, 1).otherwise(0)).alias(f"routed_{c}")
            for c in SIGNAL_CLASSES
        ]
        observed = routed.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("is_parsed").cast("long")).alias("rows_parsed"),
            *class_counters,
        )
        (
            observed.sortWithinPartitions("signal_class", "conv_id", "turn_idx")
            .write.mode("overwrite")
            .options(**SINK_PARQUET_OPTIONS)
            .partitionBy("signal_class")
            .parquet(routed_path)
        )
        m = dict(obs.get)
        m["rows_unparsed"] = m["rows_in"] - m["rows_parsed"]
        manifest["metrics"].update(m)
        manifest["timings_sec"]["routed_write"] = round(time.monotonic() - t0, 3)
        _commit(routed_path)
    manifest["sinks"]["routed"] = routed_path

    # Step 2: per-sink aggregates in ONE job — groupBy includes the route
    # key, output is partitioned by it, so "agg table per sink" is a
    # partition directory. One scan + one shuffle instead of one job per
    # class (the per-class variant costs 5 scans and 5 scheduling rounds;
    # at 10^12 rows the difference is hours).
    agg_root = os.path.join(cfg.output_dir, "agg")
    if not (resume and _committed(agg_root)):
        t0 = time.monotonic()
        # the routed files hold the routed frame's own schema: no
        # inference job over their footers
        routed_df = spark.read.schema(routed.schema).parquet(routed_path)
        agg = sink_aggregate(routed_df, ("signal_class", *cfg.agg_keys))
        (
            agg.write.mode("overwrite")
            .options(**SINK_PARQUET_OPTIONS)
            .partitionBy("signal_class")
            .parquet(agg_root)
        )
        manifest["timings_sec"]["agg_write"] = round(time.monotonic() - t0, 3)
        _commit(agg_root)
    for cls in SIGNAL_CLASSES:
        manifest["sinks"][f"agg_{cls}"] = os.path.join(agg_root, f"signal_class={cls}")

    # Per-partition lineage detail: file count + bytes per sink partition
    # (the durable-buffer progress-tracking analog — enough to audit a
    # resume or a partial failure per sink without scanning data).
    detail: dict = {}
    for cls in SIGNAL_CLASSES:
        part_dir = os.path.join(routed_path, f"signal_class={cls}")
        if os.path.isdir(part_dir):
            files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            detail[cls] = {
                "n_files": len(files),
                "bytes": sum(os.path.getsize(os.path.join(part_dir, f)) for f in files),
                "rows": manifest["metrics"].get(f"routed_{cls}"),
            }
    manifest["sinks_detail"] = detail

    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    manifest["manifest_path"] = manifest_path
    return PipelineResult(manifest=manifest)
