"""Streaming tests: stream-batch parity and checkpoint-resume exactly-once.

The stream-batch parity assertion is the strongest correctness statement
available: the same operators, executed incrementally over micro-batches,
must produce byte-identical routed rows to the one-shot batch plan — the
reference's batching-invariance property (batching_tests.rs:256-300) taken
to its streaming limit.
"""

import os

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.plans.pipeline import PipelineConfig, run_pipeline
from otel_arrow_spark.streaming.jobs import (
    stream_pipeline,
    stream_temporal_reaggregation,
)
from tests.conftest import assert_df_equal


@pytest.fixture(scope="module")
def stream_workdir(workdir, tiny_transcripts):
    return workdir


def test_stream_matches_batch(spark, tiny_transcripts, workdir):
    out = f"{workdir}/stream_out"
    q = stream_pipeline(
        spark, tiny_transcripts, out, f"{workdir}/stream_ckpt", available_now=True
    )
    q.awaitTermination(300)
    stream_routed = spark.read.parquet(f"{out}/routed")

    batch = run_pipeline(
        spark,
        PipelineConfig(input_path=tiny_transcripts, output_dir=f"{workdir}/batch_for_stream"),
    )
    batch_routed = spark.read.parquet(batch.routed_path)
    cols = sorted(set(stream_routed.columns) & set(batch_routed.columns))
    assert_df_equal(
        stream_routed.select(*cols).orderBy("conv_id", "turn_idx"),
        batch_routed.select(*cols).orderBy("conv_id", "turn_idx"),
        "stream vs batch routed rows",
    )


def test_stream_restart_is_exactly_once(spark, tiny_transcripts, workdir):
    """Restarting a finished availableNow query with the same checkpoint
    must not duplicate output (WAL/durable-buffer resume analog)."""
    out = f"{workdir}/stream_once"
    ckpt = f"{workdir}/stream_once_ckpt"
    q = stream_pipeline(spark, tiny_transcripts, out, ckpt, available_now=True)
    q.awaitTermination(300)
    n1 = spark.read.parquet(f"{out}/routed").count()
    q2 = stream_pipeline(spark, tiny_transcripts, out, ckpt, available_now=True)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(f"{out}/routed").count()
    assert n1 == n2 > 0



def test_stream_routed_files_are_zstd(spark, tiny_transcripts, workdir):
    """The streaming file sink writes with SINK_PARQUET_OPTIONS too (its
    codec; the file sink does not take the page version)."""
    from tests.conftest import parquet_column_chunks

    out = f"{workdir}/stream_zstd"
    q = stream_pipeline(
        spark, tiny_transcripts, out, f"{workdir}/stream_zstd_ckpt", available_now=True
    )
    q.awaitTermination(300)
    chunks = parquet_column_chunks(f"{out}/routed")
    assert {comp for cs in chunks.values() for comp, _ in cs} == {"ZSTD"}

def test_stream_temporal_reaggregation(spark, tiny_transcripts, workdir):
    out = f"{workdir}/stream_temporal"
    q = stream_temporal_reaggregation(
        spark,
        tiny_transcripts,
        out,
        f"{workdir}/stream_temporal_ckpt",
        period="1 hour",
        available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/temporal")
    # oracle: batch re-derivation of the same windows over the same rows
    from otel_arrow_spark.plans.pipeline import build_routed

    routed = build_routed(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir="/unused")
    )
    want = (
        routed.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(
            F.window("ts", "1 hour").alias("w"), "signal_class", "severity_text"
        )
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
    # append mode emits a window only once the watermark passes its end:
    # final watermark = max(event time) - 10min, so the trailing open
    # windows are (correctly) unemitted in a finite run. The oracle models
    # exactly that closure rule.
    max_ts = routed.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    want_closed = want.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )
    assert_df_equal(
        got.orderBy("window_start", "signal_class", "severity_text"),
        want_closed.orderBy("window_start", "signal_class", "severity_text"),
        "stream temporal vs batch oracle (closed windows)",
    )
    assert got.count() > 0


def test_sessionize_conversations(spark, tiny_transcripts, workdir):
    """Stateful sessionizer: sessions whose idle gap passed the final
    watermark must emit, with counts matching a batch oracle."""
    from otel_arrow_spark.streaming.jobs import build_stream_routed, stream_transcripts_source
    from otel_arrow_spark.streaming.stateful import sessionize_conversations

    stream = build_stream_routed(
        spark, stream_transcripts_source(spark, tiny_transcripts)
    )
    sessions = sessionize_conversations(stream, gap="30 minutes", watermark="1 minute")
    out = f"{workdir}/sessions"
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/sessions_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    assert got.count() > 0
    # batch oracle for the sessions that did emit: per-conv totals.
    # (conversations in the tiny corpus never pause >30min mid-conv, so a
    # session == a whole conversation)
    from otel_arrow_spark.plans.pipeline import PipelineConfig, build_routed

    routed = build_routed(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir="/unused")
    )
    want = routed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("signal_class") == "error").cast("long")).alias("n_errors"),
        F.sum((F.col("signal_class") == "tool_call").cast("long")).alias("n_tool_calls"),
    )
    g = {r.conv_id: (r.n_turns, r.n_errors, r.n_tool_calls) for r in got.collect()}
    w = {r.conv_id: (r.n_turns, r.n_errors, r.n_tool_calls) for r in want.collect()}
    for conv, vals in g.items():
        assert w[conv] == vals, f"session mismatch for {conv}: {vals} vs {w[conv]}"
    # the vast majority of conversations close before the final watermark
    assert len(g) >= 0.8 * len(w)


def test_stream_interval_join_matches_batch(spark, tiny_transcripts, workdir):
    """Watermarked stream-stream range self-join == the batch
    interval_join over the same corpus (tool calls within 10 min after an
    error in the same conversation)."""
    from otel_arrow_spark.operators.enrich import enrich
    from otel_arrow_spark.operators.parse import parse_transcripts
    from otel_arrow_spark.operators.route import with_signal_class
    from otel_arrow_spark.operators.temporal_join import interval_join
    from otel_arrow_spark.streaming.jobs import stream_interval_join

    out = f"{workdir}/sij_out"
    q = stream_interval_join(
        spark, tiny_transcripts, out, f"{workdir}/sij_ckpt", available_now=True
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/correlated")
    got_pairs = {(r["conv_id"], r["err_turn"], r["call_turn"])
                 for r in got.collect()}

    routed = with_signal_class(
        enrich(parse_transcripts(spark.read.parquet(tiny_transcripts)), spark)
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    intervals = routed.where(F.col("signal_class") == "error").select(
        "conv_id", F.col("turn_idx").alias("err_turn"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end_ts"))
    points = routed.where(F.col("signal_class") == "tool_call").select(
        "conv_id", "ts", F.col("turn_idx").alias("call_turn"))
    exp = interval_join(points, intervals, by=["conv_id"], bucket_seconds=600)
    exp_pairs = {(r["conv_id"], r["err_turn"], r["call_turn"])
                 for r in exp.collect()}
    assert got_pairs == exp_pairs
    assert len(got_pairs) > 0


def test_stream_syslog_matches_batch(spark, workdir):
    """Streaming syslog ingestion == batch parse_syslog on the same lines
    (the receiver's live-listener path vs the batch path), including
    format='unknown' rows kept, across two micro-batch files."""
    import os

    from otel_arrow_spark.sources.syslog import generate_syslog_lines, parse_syslog
    from otel_arrow_spark.streaming.jobs import stream_syslog_parse

    indir = f"{workdir}/syslog_in"
    os.makedirs(indir, exist_ok=True)
    lines = generate_syslog_lines(600)
    # two files → at least two source splits; maxFilesPerTrigger=1 forces
    # two distinct micro-batches through the checkpoint
    with open(f"{indir}/a.log", "w") as f:
        f.write("\n".join(lines[:300]) + "\n")
    with open(f"{indir}/b.log", "w") as f:
        f.write("\n".join(lines[300:]) + "\n")

    out = f"{workdir}/syslog_stream_out"
    q = stream_syslog_parse(
        spark, indir, out, f"{workdir}/syslog_ckpt",
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/syslog")

    batch = parse_syslog(spark.createDataFrame([(l,) for l in lines], "line string"))

    def canon(df):
        # MAP columns break exceptAll (Spark set-op limit) → serialize to
        # a key-sorted json string before the order-insensitive compare
        return df.withColumn(
            "cef_extensions",
            F.to_json(F.sort_array(F.map_entries("cef_extensions"))),
        )

    assert_df_equal(
        canon(got).orderBy("line"),
        canon(batch.select(*got.columns)).orderBy("line"),
        "stream vs batch syslog parse",
    )
    fmts = {r.format for r in got.select("format").distinct().collect()}
    assert fmts == {"rfc5424", "rfc3164", "cef", "unknown"}


def test_stream_logs_star_encode_matches_batch(spark, tiny_transcripts, workdir):
    """Streaming star encode == batch encode on the same corpus: logs and
    log_attrs row-identical; dims identical after the documented
    distinct() (value-determined hash ids make cross-batch duplicates
    byte-identical)."""
    from otel_arrow_spark.operators.enrich import enrich
    from otel_arrow_spark.operators.logs_star import encode_logs_star
    from otel_arrow_spark.operators.parse import parse_transcripts
    from otel_arrow_spark.streaming.jobs import stream_logs_star_encode

    out = f"{workdir}/stream_star_out"
    q = stream_logs_star_encode(
        spark, tiny_transcripts, out, f"{workdir}/stream_star_ckpt",
        available_now=True,
    )
    q.awaitTermination(300)

    flat = enrich(
        parse_transcripts(spark.read.parquet(tiny_transcripts)), spark
    ).localCheckpoint()
    want = encode_logs_star(flat)
    for name in ("logs", "log_attrs"):
        got = spark.read.parquet(f"{out}/{name}").drop("batch_id")
        assert got.exceptAll(want[name]).count() == 0
        assert want[name].exceptAll(got).count() == 0
    for name in ("resource_attrs", "scope_attrs"):
        got = spark.read.parquet(f"{out}/{name}").drop("batch_id").distinct()
        assert got.exceptAll(want[name]).count() == 0
        assert want[name].exceptAll(got).count() == 0

    # idempotent replay (the at-least-once hazard): re-running the SAME
    # input with a fresh checkpoint replays batch 0 — the dynamic
    # partition overwrite must land it on its own batch_id partition, not
    # append duplicate fact rows
    before = spark.read.parquet(f"{out}/logs").count()
    q2 = stream_logs_star_encode(
        spark, tiny_transcripts, out, f"{workdir}/stream_star_ckpt2",
        available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(f"{out}/logs").count() == before
    got = spark.read.parquet(f"{out}/log_attrs").drop("batch_id")
    assert got.exceptAll(want["log_attrs"]).count() == 0
    assert want["log_attrs"].exceptAll(got).count() == 0


def test_stream_span_red_metrics_matches_batch(spark, workdir):
    """Streaming RED == batch RED for windows the watermark closed — the
    spanmetrics connector run continuously (legal in append mode only
    because the error rollup rides the merge's own aggregate)."""
    from otel_arrow_spark.operators.span_metrics import (
        span_red_metrics,
        stream_span_red_metrics,
    )
    from otel_arrow_spark.sources.spans import write_spans_parquet

    p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    # file streams need a DIRECTORY source; stage the spans table alone
    spans_dir = f"{workdir}/spans_stream_src"
    os.makedirs(spans_dir, exist_ok=True)
    import shutil

    shutil.copy(f"{p}/spans.parquet", f"{spans_dir}/part-0.parquet")
    out = f"{workdir}/stream_red_out"
    q = stream_span_red_metrics(
        spark, spans_dir, out, f"{workdir}/stream_red_ckpt",
        period="15 minutes", watermark="10 minutes", available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/red")
    assert got.count() > 0

    spans = spark.read.parquet(spans_dir).withColumn(
        "start_ts", F.col("start_ts").cast("timestamp")
    )
    want = span_red_metrics(spans, period="15 minutes")
    # append emits only watermark-closed windows; model the closure rule
    max_ts = spans.agg(F.max("start_ts")).first()[0]
    want_closed = want.filter(
        F.col("window_start") + F.expr("INTERVAL 15 MINUTES")
        <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
    )

    def canon(df):
        return df.select(
            "name", "window_start", "n_calls", "n_errors", "error_ratio",
            "total_ms",
            F.array_join(
                F.transform("bucket_counts", lambda c: c.cast("string")), ","
            ).alias("bc"),
        )

    a, b = canon(got), canon(want_closed)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stream_sessionize_matches_batch(spark, workdir):
    """session_window streaming sessionization == the batch sessionize
    operator on the events fixture (real mid-key gaps): every session the
    watermark closed matches its batch twin exactly — n_events, bounds,
    integer duration — and most sessions do close."""
    import shutil

    from otel_arrow_spark.operators.sessionize import session_summaries
    from otel_arrow_spark.streaming.jobs import stream_sessionize

    src = f"{workdir}/events_stream_src"
    os.makedirs(src, exist_ok=True)
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                f"{src}/part-0.parquet")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    sessions = stream_sessionize(
        stream, by=("user_id",), gap="30 minutes", watermark="1 minute"
    )
    out = f"{workdir}/stream_sessions"
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/stream_sessions_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)

    batch = session_summaries(ev, ["user_id"], gap_seconds=1800)
    want = {
        (r.user_id, str(r.session_start)): (
            r.n_events, str(r.session_end), r.duration_us
        )
        for r in batch.collect()
    }
    emitted = got.collect()
    assert len(emitted) > 0.5 * len(want) > 0
    for r in emitted:
        key = (r.user_id, str(r.session_start))
        assert key in want, key
        assert want[key] == (r.n_events, str(r.session_end), r.duration_us), key


def test_stream_dedup_matches_batch_distinct(spark, tiny_transcripts, workdir):
    """Redelivered micro-batches collapse: streaming dedup over a source
    containing every file TWICE equals the batch dropDuplicates of one
    copy (exactly-once repair in front of an at-least-once source)."""
    import shutil

    from otel_arrow_spark.streaming.jobs import stream_dedup, stream_transcripts_source

    src = f"{workdir}/dup_stream_src"
    os.makedirs(src, exist_ok=True)
    for f in os.listdir(tiny_transcripts):
        if f.endswith(".parquet"):
            shutil.copy(f"{tiny_transcripts}/{f}", f"{src}/a_{f}")
            shutil.copy(f"{tiny_transcripts}/{f}", f"{src}/b_{f}")
    deduped = stream_dedup(stream_transcripts_source(spark, src))
    out = f"{workdir}/dedup_stream_out"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/dedup_stream_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    batch = spark.read.parquet(tiny_transcripts).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    assert got.count() == batch.count()
    assert got.select("conv_id", "turn_idx").exceptAll(
        batch.select("conv_id", "turn_idx")
    ).count() == 0


def test_stream_otlp_json_matches_batch(spark, workdir):
    """Streaming OTLP/JSON ingestion == batch decode over the same
    request payloads (split across two files → two micro-batches)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_arrow_spark.sources.otlp_json import (
        generate_otlp_json_requests,
        parse_otlp_json,
    )
    from otel_arrow_spark.streaming.jobs import stream_otlp_decode
    from tests.conftest import assert_df_equal

    reqs = generate_otlp_json_requests(400)
    indir = f"{workdir}/otlp_in"
    os.makedirs(indir, exist_ok=True)
    half = len(reqs) // 2
    for i, chunk in enumerate([reqs[:half], reqs[half:]]):
        pq.write_table(pa.table({"payload": chunk}), f"{indir}/part-{i}.parquet")

    out = f"{workdir}/otlp_stream_out"
    q = stream_otlp_decode(
        spark, indir, out, f"{workdir}/otlp_ckpt", signal="logs",
        available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{out}/otlp_logs")

    batch = parse_otlp_json(
        spark.createDataFrame([(p,) for p in reqs], "payload string")
    )

    def canon(df):
        return df.withColumn(
            "attributes", F.to_json(F.sort_array(F.map_entries("attributes")))
        )

    assert_df_equal(
        canon(got).orderBy("event_index"),
        canon(batch.select(*got.columns)).orderBy("event_index"),
        "stream vs batch OTLP/JSON decode",
    )
    assert got.count() == 400


def test_stream_otlp_metrics_matches_batch(spark, workdir):
    """Streaming metrics decode == batch decode: the five-branch oneof
    normalization is stateless, so the stream shares the batch plan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from otel_arrow_spark.sources.otlp_json import (
        generate_otlp_json_metric_requests,
        parse_otlp_metrics_json,
    )
    from otel_arrow_spark.streaming.jobs import stream_otlp_decode
    from tests.conftest import assert_df_equal

    reqs = generate_otlp_json_metric_requests(400)
    indir = f"{workdir}/otlpm_in"
    os.makedirs(indir, exist_ok=True)
    half = len(reqs) // 2
    for i, chunk in enumerate([reqs[:half], reqs[half:]]):
        pq.write_table(pa.table({"payload": chunk}), f"{indir}/part-{i}.parquet")

    q = stream_otlp_decode(
        spark, indir, f"{workdir}/otlpm_out", f"{workdir}/otlpm_ckpt",
        signal="metrics", available_now=True,
    )
    q.awaitTermination(300)
    got = spark.read.parquet(f"{workdir}/otlpm_out/otlp_metrics")

    batch = parse_otlp_metrics_json(
        spark.createDataFrame([(p,) for p in reqs], "payload string")
    )

    def canon(df):
        return df.withColumn("quantiles", F.to_json("quantiles"))

    assert_df_equal(
        canon(got).orderBy("point_seq", "metric_type"),
        canon(batch.select(*got.columns)).orderBy("point_seq", "metric_type"),
        "stream vs batch OTLP metrics decode",
    )
    assert got.count() == 400


def test_stream_otlp_decode_rejects_unknown_signal(spark, workdir):
    import pytest

    from otel_arrow_spark.streaming.jobs import stream_otlp_decode

    with pytest.raises(ValueError, match="signal must be one of"):
        stream_otlp_decode(spark, workdir, workdir, workdir, signal="profiles")


def test_tail_sample_stream_matches_batch(spark, workdir):
    """Streaming tail sampler == batch tail_sample per emitted trace:
    same policy, same whole-trace span set, each trace decided once.
    Traces are temporally compact (spans within 10 s), as real traces
    are, so the 60 s decision_wait never splits one trace's decision."""
    import numpy as np
    import pandas as pd

    from otel_arrow_spark.operators.sample import tail_sample
    from otel_arrow_spark.streaming.stateful import tail_sample_stream

    rng = np.random.RandomState(11)
    n_traces = 200
    rows = []
    sid = 0
    base = pd.Timestamp("2024-01-01")
    for t in range(n_traces):
        t0 = base + pd.Timedelta(seconds=int(rng.randint(0, 1800)))
        for _ in range(int(rng.randint(3, 7))):
            rows.append(
                {
                    "id": sid,
                    "trace_id": f"{t:032x}",
                    "status_code": int(2 if rng.random_sample() < 0.05 else 0),
                    "start_ts": t0 + pd.Timedelta(milliseconds=int(rng.randint(0, 10_000))),
                    "duration_ms": int(rng.randint(1, 800)),
                }
            )
            sid += 1
    pdf = pd.DataFrame(rows).sort_values("start_ts")
    pdf["start_ts"] = pdf["start_ts"].astype("datetime64[us]")
    d = f"{workdir}/tail_spans"
    import os

    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        pdf.iloc[rows].to_parquet(f"{d}/part-{i:02d}.parquet", index=False)

    batch_df = spark.read.parquet(d)
    want = tail_sample(batch_df, latency_ms=500, keep_prefix="10")
    want_rows = {
        r.trace_id: r for r in
        want.groupBy("trace_id", "sample_policy")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
        .collect()
    }

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = f"{workdir}/tail_out"
    q = (
        tail_sample_stream(
            stream, latency_ms=500, keep_prefix="10",
            decision_wait="60 seconds", watermark="1 second",
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/tail_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out)
    got_rows = {
        r.trace_id: r for r in
        got.groupBy("trace_id", "sample_policy")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("sum_id"))
        .collect()
    }
    # each emitted trace: decided once, whole, same policy as batch
    assert got.groupBy("trace_id").count().count() == len(got_rows)
    for tid, r in got_rows.items():
        w = want_rows[tid]
        assert (r.sample_policy, r.n, r.sum_id) == (w.sample_policy, w.n, w.sum_id), tid
    # traces idle past the final watermark all emitted (only the tail
    # ~minute of event time may stay open)
    assert len(got_rows) >= 0.8 * len(want_rows)


def test_d2c_stream_matches_batch(spark, workdir):
    """Streaming deltatocumulative == batch delta_to_cumulative
    bit-for-bit: same left-associated IEEE fold per stream, same anchor.
    Input files are split along time so per-stream arrival is in order
    across micro-batches (the processor's own in-order contract)."""
    import os

    import numpy as np
    import pandas as pd

    from otel_arrow_spark.operators.metrics import delta_to_cumulative
    from otel_arrow_spark.streaming.stateful import delta_to_cumulative_stream

    rng = np.random.RandomState(7)
    rows = []
    base = pd.Timestamp("2024-01-01")
    for name in ["m.a", "m.b"]:
        for stream in range(3):
            t = 0
            for _ in range(40):
                t += int(rng.randint(1, 30))
                rows.append(
                    {
                        "name": name,
                        "stream": stream,
                        "ts": base + pd.Timedelta(seconds=t),
                        "double_value": round(float(rng.exponential(5.0)), 3),
                    }
                )
    pdf = pd.DataFrame(rows).sort_values("ts")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf["stream"] = pdf["stream"].astype("int32")
    d = f"{workdir}/d2c_in"
    os.makedirs(d, exist_ok=True)
    # time-split → in order
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), 4)):
        pdf.iloc[rows].to_parquet(f"{d}/part-{i:02d}.parquet", index=False)

    batch_df = spark.read.parquet(d)
    want = {
        (r.name, r.stream, str(r.ts)): (r.double_value, str(r.start_ts))
        for r in delta_to_cumulative(
            batch_df, keys=("name", "stream")
        ).collect()
    }

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = f"{workdir}/d2c_out"
    q = (
        delta_to_cumulative_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{workdir}/d2c_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.name, r.stream, str(r.ts)): (r.double_value, str(r.start_ts))
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) == len(want) == len(pdf)
    assert got == want  # bit-for-bit: same fold, same anchor


def test_stream_dedup_against_index_matches_sequential_batch(spark, workdir):
    """Streaming incremental dedup == the batch daily-crawl loop run
    micro-batch by micro-batch: survivors, final index contents, and the
    cross-batch property (batch 2 drops docs batch 1 kept) all match."""
    from otel_arrow_spark.streaming.jobs import stream_dedup_against_index
    from otel_arrow_spark.textops.dedup import (
        dedup_against_index,
        text_fingerprints,
    )

    rows1 = [(1, "alpha body"), (2, "alpha body"), (3, "beta body")]
    rows2 = [(10, "alpha body"),          # dup of batch-1 survivor
             (11, "gamma fresh"), (12, "gamma fresh"), (13, "delta")]
    src = f"{workdir}/inc_stream_src"
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(
        1).write.parquet(f"{src}/b1")
    spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
        1).write.parquet(f"{src}/b2")
    # flatten: file stream wants files in one dir, ordered names = order
    import shutil
    for i, sub in enumerate(("b1", "b2")):
        for f in os.listdir(f"{src}/{sub}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{sub}/{f}", f"{src}/{i}_{f}")
        shutil.rmtree(f"{src}/{sub}")

    idx = f"{workdir}/inc_stream_idx"
    out = f"{workdir}/inc_stream_out"
    q = stream_dedup_against_index(
        spark, src, idx, out, f"{workdir}/inc_stream_ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got_ids = sorted(r.doc_id for r in spark.read.parquet(out).collect())

    # batch replay of the same two-day loop
    b1 = spark.createDataFrame(rows1, "doc_id long, text string")
    b2 = spark.createDataFrame(rows2, "doc_id long, text string")
    empty = spark.createDataFrame([], "fp string")
    d1 = dedup_against_index(b1, empty)
    d2 = dedup_against_index(b2, text_fingerprints(d1))
    want_ids = sorted(r.doc_id for r in d1.union(d2).collect())
    assert got_ids == want_ids == [1, 3, 11, 13]
    # final index holds exactly the survivors' fingerprints
    idx_fps = {r.fp for r in spark.read.parquet(idx).collect()}
    want_fps = {r.fp for r in
                text_fingerprints(d1.union(d2)).collect()}
    assert idx_fps == want_fps


def test_stream_snapshot_sink_atomic_versions(spark, workdir):
    """Streaming into the snapshot table: one atomic version per
    micro-batch (history == trigger history), content equals the batch
    union, and a replayed batch id commits nothing twice."""
    from otel_arrow_spark.sources.snapshots import (
        committed_meta,
        current_version,
        read_snapshot,
    )
    from otel_arrow_spark.streaming.jobs import stream_snapshot_sink

    src = f"{workdir}/snapsink_src"
    os.makedirs(src, exist_ok=True)
    spark.range(0, 40).coalesce(1).write.parquet(f"{src}/f0")
    spark.range(40, 100).coalesce(1).write.parquet(f"{src}/f1")
    import shutil
    for i, sub in enumerate(("f0", "f1")):
        for f in os.listdir(f"{src}/{sub}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/{sub}/{f}", f"{src}/{i}_{f}")
        shutil.rmtree(f"{src}/{sub}")

    t = f"{workdir}/snapsink_table"
    stream = spark.readStream.schema("id long").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_snapshot_sink(
        stream, t, f"{workdir}/snapsink_ckpt"
    )
    q.awaitTermination(300)

    assert current_version(t) == 2
    assert read_snapshot(spark, t).count() == 100
    assert read_snapshot(spark, t, version=1).count() in (40, 60)
    metas = committed_meta(t)
    assert [m["batch_id"] for m in metas] == [0, 1]

    # full replay: a FRESH checkpoint re-delivers every file as batch
    # ids 0/1 again — the batch-id ledger must commit nothing twice
    q2 = stream_snapshot_sink(
        spark.readStream.schema("id long").option(
            "maxFilesPerTrigger", 1
        ).parquet(src),
        t,
        f"{workdir}/snapsink_ckpt_replay",
    )
    q2.awaitTermination(300)
    assert current_version(t) == 2
    assert read_snapshot(spark, t).count() == 100


def test_stream_snapshot_sink_replays_crashed_commit(spark, workdir):
    """A crash between manifest write and pointer swap leaves an orphan
    manifest; the ledger must treat that batch as UNcommitted and the
    replay must land its rows (the manifest-existence ledger would
    silently drop them)."""
    import json

    from otel_arrow_spark.sources.snapshots import (
        current_version,
        read_snapshot,
        snapshot_append,
    )
    from otel_arrow_spark.streaming.jobs import stream_snapshot_sink

    t = f"{workdir}/snapcrash_table"
    # simulate a crashed FIRST commit for batch id 0: the manifest was
    # written but the pointer swap never happened — the batch is not
    # committed, and a manifest-existence ledger would wrongly skip it
    os.makedirs(f"{t}/manifests", exist_ok=True)
    orphan = {"files": [], "parent": 0, "mode": "append", "batch_id": 0}
    with open(f"{t}/manifests/v1.json", "w") as f:
        json.dump(orphan, f)
    assert current_version(t) == 0

    src = f"{workdir}/snapcrash_src"
    spark.range(10, 30).coalesce(1).write.parquet(src)
    q = stream_snapshot_sink(
        spark.readStream.schema("id long").parquet(src),
        t,
        f"{workdir}/snapcrash_ckpt",
    )
    q.awaitTermination(300)
    # the replayed batch id 0 committed (branching past the orphan v1)
    assert read_snapshot(spark, t).count() == 20
    assert current_version(t) == 2
    assert snapshot_append is not None  # silence unused-import lint
