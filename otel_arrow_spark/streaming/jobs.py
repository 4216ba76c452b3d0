"""Streaming jobs: the pipeline as a Structured Streaming DAG.

Reference analogs:

* micro-batching with size/age flush triggers (processors/batch_processor/
  mod.rs:145-157; pdata/src/otap/batching.rs:12-33) → trigger intervals /
  ``availableNow`` + ``maxFilesPerTrigger``;
* temporal reaggregation (processors/temporal_reaggregation_processor/
  mod.rs:1; period default 60s, stream-identity group keys, timer flush)
  → ``window(ts, period)`` groupBy + watermark (late-data handling the
  reference lacks — it flushes on wall-clock);
* durable buffer / WAL resume (durable_buffer_processor/README.md:12-70;
  crates/quiver) → ``checkpointLocation``: offsets + state survive
  restarts, exactly-once file sinks;
* multi-sink fan-out (fanout_processor) → ``foreachBatch`` writing each
  signal class per micro-batch (one pass per batch, like the batch job).

The same parse/enrich/route operators run unmodified on streaming frames —
one definition of the transform, two execution modes (the property the
reference gets from sharing PipelineStage between batch and stream paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from otel_arrow_spark.operators.enrich import enrich
from otel_arrow_spark.operators.parse import parse_transcripts
from otel_arrow_spark.operators.route import with_signal_class
from otel_arrow_spark.sinks import SINK_PARQUET_OPTIONS
from otel_arrow_spark.sources.transcripts import transcripts_schema


def stream_transcripts_source(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a transcript directory (new files = new
    micro-batches; maxFilesPerTrigger is the batch_processor max_size
    analog)."""
    reader = spark.readStream.schema(transcripts_schema())
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def build_stream_routed(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """parse → enrich → route on a streaming frame (operators unchanged)."""
    return with_signal_class(enrich(parse_transcripts(stream), spark))


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming fan-out: routed rows appended per micro-batch to
    ``{output_dir}/routed`` partitioned by signal_class.

    ``available_now=True`` drains everything currently in the source then
    stops — the mode used by tests and by catch-up/backfill runs; pass
    False for a continuous micro-batch query. The checkpoint directory is
    the WAL: killing and restarting the query never re-writes a committed
    micro-batch (exactly-once file sink).
    """
    routed = build_stream_routed(spark, stream_transcripts_source(spark, input_dir))
    writer = (
        routed.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/routed")
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("signal_class")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_syslog_parse(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming syslog/CEF ingestion: a text file-stream of raw lines
    (the sandbox stand-in for the reference's live TCP/UDP listener —
    receivers/syslog_cef_receiver/mod.rs — a log shipper tailing into a
    directory is the same contract: lines arrive continuously, each
    micro-batch parses the new ones) → parse_syslog → parquet sink.

    The batch parser runs UNMODIFIED on the stream (the shared
    PipelineStage property): one Arrow-batched pandas UDF per micro-batch,
    no per-line Python. Unparseable lines degrade to format='unknown' and
    are KEPT (parser/mod.rs:41-43) — a receiver never drops data on a
    parse failure. Checkpoint = WAL: restart never re-parses a committed
    batch (exactly-once file sink).
    """
    from otel_arrow_spark.sources.syslog import parse_syslog

    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(input_dir).withColumnRenamed("value", "line")
    parsed = parse_syslog(lines)
    writer = (
        parsed.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/syslog")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_logs_star_encode(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming LOGS-star encoder: each micro-batch of raw transcripts
    parses, enriches, and normalizes into the four star tables
    (operators/logs_star.py) — the reference's receiver→OTAP encode IS a
    streaming path (go/pkg/otel/logs/arrow/logs.go runs per batch), so
    the encode must run per micro-batch here too.

    ``foreachBatch`` is the sanctioned multi-table streaming sink, but
    foreachBatch alone is only at-least-once: a crash after some of the
    four writes but before the checkpoint commits re-runs the batch on
    restart. The writes are therefore made IDEMPOTENT — each table is
    partitioned by ``batch_id`` and written with dynamic partition
    overwrite, so a replayed micro-batch overwrites exactly its own
    partition instead of appending duplicate fact rows (the standard
    foreachBatch exactly-once recipe). Dimension rows are additionally
    VALUE-DETERMINED (hash ids over attr values), so even cross-batch
    repeats are byte-identical — readers still dedupe dims with a
    distinct() that collapses map-side (the dictionary-merge semantics of
    the reference's per-batch dictionary deltas). Readers drop the
    ``batch_id`` partition column to recover the star schema.
    """
    from otel_arrow_spark.operators.logs_star import encode_logs_star
    from otel_arrow_spark.operators.enrich import enrich as _enrich
    from otel_arrow_spark.operators.parse import parse_transcripts as _parse

    stream = stream_transcripts_source(spark, input_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        flat = _enrich(_parse(batch_df), spark).localCheckpoint()
        for name, frame in encode_logs_star(flat).items():
            (
                frame.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("overwrite")
                .options(**SINK_PARQUET_OPTIONS)
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(f"{output_dir}/{name}")
            )

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_histogram_reaggregation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    period: str = "60 seconds",
    watermark: str = "10 minutes",
    temporality: str = "delta",
    keys: tuple[str, ...] = ("metric_name",),
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming temporal reaggregation of HISTOGRAM data points — the
    reference's temporal reaggregation is a streaming processor with
    checkpointable state (temporal_reaggregation_processor/builder.rs:58).
    The same batch operators run unmodified on the stream: delta streams
    merge bucket-wise (histogram_delta_merge), cumulative streams keep the
    latest point per stream identity (temporal_latest, replace-if-newer).
    Watermarked tumbling windows bound the state store; the checkpoint is
    the WAL (restart-safe, exactly-once sink).
    """
    from otel_arrow_spark.operators.metrics import (
        histogram_delta_merge,
        temporal_latest,
    )

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    op = histogram_delta_merge if temporality == "delta" else temporal_latest
    merged = op(stream, period, keys=keys)
    writer = (
        merged.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/hist")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_temporal_reaggregation(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    period: str = "60 seconds",
    watermark: str = "10 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Stateful tumbling-window reaggregation over the stream.

    Group key = (window(ts, period), signal_class, severity_text) — the
    stream-identity analog of temporal_reaggregation's resource×scope×
    metric×attrs key (identity.rs:28-60). The watermark bounds state (the
    role the reference's max_stream_cardinality cap plays: its in-memory
    stream map flushes early at 16384 streams; Spark's state store evicts
    by event-time instead — unbounded cardinality spills to disk rather
    than flushing partial results).
    """
    stream = stream_transcripts_source(spark, input_dir)
    routed = build_stream_routed(spark, stream)
    # watermarks require TIMESTAMP (with zone); session tz is UTC so the
    # NTZ→TZ cast is value-preserving
    routed = routed.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", period).alias("w"), "signal_class", "severity_text")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("duration_ms").alias("sum_duration_ms"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "signal_class",
            "severity_text",
            "n_rows",
            "sum_duration_ms",
        )
    )
    writer = (
        agg.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/temporal")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-stream temporal correlation: tool calls landing within
    ``window`` after an error in the same conversation, as a watermarked
    event-time range join.

    The batch counterpart is operators/temporal_join.py interval_join
    (parity-tested); in streaming, Spark's stream-stream join keeps both
    sides' state bounded by the watermark + the range condition — the
    state-retention story the reference's windowed processors get from
    wall-clock flushes. Both sides derive from ONE source stream
    (self-join), so a single scan feeds the correlation.
    """
    stream = stream_transcripts_source(spark, input_dir)
    routed = build_stream_routed(spark, stream).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    errors = (
        routed.where(F.col("signal_class") == "error")
        .select(
            F.col("conv_id").alias("err_conv"),
            F.col("ts").alias("err_ts"),
            F.col("turn_idx").alias("err_turn"),
        )
        .withWatermark("err_ts", watermark)
    )
    calls = (
        routed.where(F.col("signal_class") == "tool_call")
        .select(
            F.col("conv_id").alias("call_conv"),
            F.col("ts").alias("call_ts"),
            F.col("turn_idx").alias("call_turn"),
            "tool_called",
        )
        .withWatermark("call_ts", watermark)
    )
    joined = errors.join(
        calls,
        F.expr(
            f"err_conv = call_conv AND call_ts >= err_ts "
            f"AND call_ts <= err_ts + interval {window}"
        ),
        "inner",
    ).select(
        F.col("err_conv").alias("conv_id"),
        "err_turn", "call_turn", "tool_called", "err_ts", "call_ts",
    )
    writer = (
        joined.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/correlated")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sessionize(
    stream: DataFrame,
    by: tuple[str, ...] = ("user_id",),
    on: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based sessionization as a STREAMING aggregate — Spark's native
    ``session_window`` (dynamic-gap session state in the state store), the
    streaming twin of operators/sessionize.py (parity-tested stream ==
    batch on the events fixture).

    Why session_window and not the applyInPandasWithState sessionizer
    (streaming/stateful.py): session_window splits on gaps WITHIN a
    micro-batch too, so the session set is independent of how the input
    happened to be batched — the batch-equivalence property this repo
    holds everywhere. The custom-state sessionizer keys state per
    conversation and merges a whole batch into the open session (right
    for its per-conversation rollup contract, wrong for gap-exact
    sessions from coarse replays). A session emits in append mode once
    the watermark passes its close (last event + gap).

    Output per closed session: key cols, session_start / session_end
    (observed event bounds — ``session_window.end`` is last + gap, so the
    last observed event is ``end - gap``; we aggregate max directly),
    n_events, duration_us (integer microseconds, the cross-engine-safe
    representation per operators/sessionize.py).
    """
    s = stream.withColumn(on, F.col(on).cast("timestamp")).withWatermark(
        on, watermark
    )
    return (
        s.groupBy(F.session_window(F.col(on), gap).alias("_w"), *by)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(on).alias("session_start"),
            F.max(on).alias("session_end"),
            (F.unix_micros(F.max(on)) - F.unix_micros(F.min(on))).alias(
                "duration_us"
            ),
        )
        .drop("_w")
    )


def stream_dedup(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    on: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exactly-once event dedup: drop repeated deliveries of the
    same key within the watermark horizon — the at-least-once→exactly-once
    repair stage in front of any receiver that may redeliver (the durable
    buffer replays, Kafka at-least-once, the foreachBatch retry caveat).

    ``dropDuplicatesWithinWatermark`` keys the state store on ``keys`` and
    EVICTS each entry once the watermark passes its event time — bounded
    state, unlike a plain streaming dropDuplicates whose state grows
    forever. The guarantee: duplicates arriving within the watermark delay
    of each other are dropped; a duplicate arriving later than the
    watermark horizon is by definition late data the watermark already
    discards. Batch counterpart: ``df.dropDuplicates(keys)``
    (parity-tested).
    """
    s = stream.withColumn(on, F.col(on).cast("timestamp")).withWatermark(
        on, watermark
    )
    return s.dropDuplicatesWithinWatermark(list(keys))


def stream_dedup_against_index(
    spark: SparkSession,
    input_dir: str,
    index_path: str,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming incremental dedup: the continuous form of the
    daily-crawl loop (textops/dedup.py dedup_against_index). Each
    micro-batch of arriving documents is deduped within itself AND
    against the persisted fingerprint index, survivors append to the
    output, and their fingerprints append to the index — so batch N+1
    automatically dedupes against everything batch N kept.

    Delivery is at-least-once, not exactly-once: survivors write BEFORE
    their fingerprints (a crash between the two replays the batch and
    may duplicate its output rows — reader-side dedup on ``id_col`` is
    the standard repair; the reverse order would silently LOSE the
    batch, since a replay would find its own fingerprints in the index).
    Duplicate index rows from replays are harmless — the anti join is
    insensitive to them, the same idempotence the batch loop relies on.

    The index re-read per micro-batch is a fingerprints-only scan (16
    bytes/row); at fleet scale keep the index bucketed on ``fp`` so the
    anti join co-locates.
    """
    import os as _os

    from otel_arrow_spark.textops.dedup import (
        dedup_against_index,
        text_fingerprints,
    )

    schema = spark.read.parquet(input_dir).schema

    def _sink(batch: DataFrame, _bid: int) -> None:
        s = batch.sparkSession
        if _os.path.isdir(index_path):
            # schema-supplied read: a zero-survivor batch leaves an
            # empty parquet dir (just _SUCCESS), which schema inference
            # would reject and kill the stream
            idx = s.read.schema("fp string").parquet(index_path)
        else:
            idx = s.createDataFrame([], "fp string")
        surv = dedup_against_index(batch, idx, text_col, id_col)
        surv.persist()
        try:
            surv.write.mode("append").options(**SINK_PARQUET_OPTIONS).parquet(output_dir)
            text_fingerprints(surv, text_col).write.mode("append").parquet(
                index_path
            )
        finally:
            surv.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_snapshot_sink(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream into a snapshot-versioned table (sources/snapshots.py):
    every micro-batch is one ATOMIC commit — readers either see the
    whole batch or none of it, and the table's version history IS the
    micro-batch history (time travel per trigger).

    Visibility is exactly-once, not just at-least-once: each manifest
    records its micro-batch id, a replayed batch whose POINTER-REACHED
    manifest already exists is skipped, and a replay of a crashed
    attempt retries — whether the crash left data files without a
    manifest (orphan batch dir, overwritten) or a manifest without the
    pointer swap (orphan manifest, never pointer-reachable, ignored by
    the ledger and left inert). The commit protocol makes the
    blind-append duplication foreachBatch normally suffers
    (streaming/jobs.py stream_logs_star_encode caveat) structurally
    impossible for this sink.
    """
    from otel_arrow_spark.sources.snapshots import (
        committed_meta,
        snapshot_append,
    )

    def _sink(batch: DataFrame, bid: int) -> None:
        from otel_arrow_spark.sources.snapshots import current_version

        # a batch is committed only if the POINTER reached its manifest —
        # a manifest alone is a crashed attempt (crash between manifest
        # write and pointer swap) and must be retried, not skipped; the
        # retry commits under a fresh version number, the orphan manifest
        # stays inert (never pointer-reachable)
        cur = current_version(table_dir)
        done = {
            m.get("batch_id")
            for m in committed_meta(table_dir)
            if m["version"] <= cur
        }
        if bid in done:
            return
        snapshot_append(batch.sparkSession, batch, table_dir,
                        meta={"batch_id": bid})

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_otlp_decode(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    signal: str = "logs",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming OTLP/JSON decode: a parquet file-stream of request
    payloads (the stand-in for the reference's OTLP HTTP receiver; a
    collector writing request bodies into a landing directory is the same
    contract) → flat rows. ``signal`` picks the
    logs / traces / metrics parser; the rest is identical because every
    decoder is a stateless narrow expression chain — the batch plan IS
    the micro-batch plan for all three (the reference's per-signal
    receivers share one pipeline runtime the same way,
    receivers/otlp_receiver/mod.rs)."""
    from otel_arrow_spark.sources.otlp_json import (
        parse_otlp_json,
        parse_otlp_metrics_json,
        parse_otlp_traces_json,
    )

    parsers = {
        "logs": parse_otlp_json,
        "traces": parse_otlp_traces_json,
        "metrics": parse_otlp_metrics_json,
    }
    if signal not in parsers:
        raise ValueError(f"signal must be one of {sorted(parsers)}, got {signal!r}")
    batch_like = spark.read.parquet(input_dir)
    stream = (
        spark.readStream.schema(batch_like.schema).parquet(input_dir)
    )
    flat = parsers[signal](stream)
    writer = (
        flat.writeStream.format("parquet")
        .options(**SINK_PARQUET_OPTIONS)
        .option("path", f"{output_dir}/otlp_{signal}")
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
