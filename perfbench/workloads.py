"""The benchmark workloads.

Each workload owns its load generator (run before the Spark session
starts, seeded from the command line), one repeatable timed operation,
a traced variant of that operation, and the checks on its outputs. The
program under test is reached only through the public API of
``otel_arrow_spark``.

* ``transcripts_etl``: one operation = one ``run_pipeline`` pass over the
  transcript corpus with its real routed and aggregate parquet writes.
* ``otlp_codec``: one operation = decode → encode → decode of the logs,
  traces and metrics OTLP/JSON corpora, materialized to the noop sink.
"""

from __future__ import annotations

import os
import time

from tracing import StatusStore, Tracer, duration

SIGNALS = ("logs", "traces", "metrics")
# transcripts_etl corpus files: the layout the library's chunked writer
# gives its 2M-turn corpus (four chunks, each with its own hot conversation).
INPUT_FILES = 4


def noop(df) -> None:
    """Materialize every row of ``df`` without keeping it (no count(), so
    Catalyst cannot prune the plan)."""
    df.write.format("noop").mode("overwrite").save()


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet data files under ``path``."""
    total = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names if n.endswith(".parquet"))
    return total


def median(xs) -> float:
    import statistics

    return statistics.median(xs) if xs else 0.0


class Workload:
    """One named workload. ``op`` runs one operation and returns its wall
    time plus a list of check failures (empty when the output is right).
    With ``check=True`` the operation checks its outputs in full and sets
    ``bytes_per_item``, the bytes written or encoded per input item."""

    name = ""

    def __init__(self, work: str, seed: int, size: dict, expect_offset: int):
        self.work = work
        self.seed = seed
        self.size = size
        # Added to every expected count; non-zero only when testing that
        # the checks catch a wrong output.
        self.expect_offset = expect_offset
        self.ops = 0
        self.bytes_per_item = 0.0

    def generate(self) -> None:
        raise NotImplementedError

    def op(
        self, spark, tracer: Tracer, store: StatusStore | None, check: bool = False
    ) -> tuple[float, list[str]]:
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer) -> dict:
        raise NotImplementedError


def _spans(tracer: Tracer, name: str, **attrs) -> list[dict]:
    return [
        s for s in tracer.spans
        if s["name"] == name and s["end"] is not None
        and all(s.get(k) == v for k, v in attrs.items())
    ]


def _med(tracer: Tracer, name: str, key: str | None = None) -> float:
    return median([s[key] if key else duration(s) for s in _spans(tracer, name)])


# --- transcripts_etl ----------------------------------------------------------


class TranscriptsEtl(Workload):
    name = "transcripts_etl"

    def generate(self) -> None:
        from otel_arrow_spark.sources.transcripts import write_transcripts_parquet

        n = self.size["turns"]
        self.input = write_transcripts_parquet(
            f"{self.work}/in", n, seed=self.seed, chunk=-(-n // INPUT_FILES)
        )
        self.out = f"{self.work}/out"

    def _config(self):
        from otel_arrow_spark.plans import PipelineConfig

        return PipelineConfig(input_path=self.input, output_dir=self.out)

    def _check_manifest(self, m: dict) -> list[str]:
        from otel_arrow_spark.operators.route import SIGNAL_CLASSES

        want = self.size["turns"] + self.expect_offset
        bad = []
        if m["rows_in"] != want:
            bad.append(f"rows_in {m['rows_in']} != generated {want}")
        if m["rows_parsed"] + m["rows_unparsed"] != m["rows_in"]:
            bad.append("rows_parsed + rows_unparsed != rows_in")
        routed = sum(m[f"routed_{c}"] for c in SIGNAL_CLASSES)
        if routed != m["rows_in"]:
            bad.append(f"sum routed_<class> {routed} != rows_in {m['rows_in']}")
        return bad

    def op(self, spark, tracer, store, check=False):
        from otel_arrow_spark.plans import run_pipeline

        self.ops += 1
        if tracer.enabled:
            return self._traced_op(spark, tracer, store)
        t0 = time.monotonic()
        res = run_pipeline(spark, self._config())
        dt = time.monotonic() - t0
        bad = self._check_manifest(res.manifest["metrics"])
        if check:
            bad += self._check_files(res.manifest["metrics"])
        return dt, bad

    def _traced_op(self, spark, tracer, store):
        """Materialize each layer's prefix to the noop sink, then run the
        real pipeline. Self time of layer k = prefix(k) - prefix(k-1);
        the routed sink's self time is the pipeline's routed write minus
        the route prefix, so the spans add up to the traced run. Last,
        the same corpus is drained once by the streaming job, which runs
        the same parse/enrich/route layers as a micro-batch."""
        from otel_arrow_spark.operators.enrich import enrich
        from otel_arrow_spark.operators.parse import parse_transcripts
        from otel_arrow_spark.operators.route import with_signal_class
        from otel_arrow_spark.plans import run_pipeline
        from otel_arrow_spark.plans.pipeline import SINK_COLUMNS

        with tracer.span("pass", op=self.ops):
            scan = spark.read.parquet(self.input)
            with tracer.span("sources.scan"):
                noop(scan)
            with tracer.span("operators.parse"):
                parsed = parse_transcripts(scan)
                noop(parsed)
            with tracer.span("operators.enrich"):
                enriched = enrich(parsed, spark)
                noop(enriched)
            with tracer.span("operators.route"):
                noop(with_signal_class(enriched).select(*SINK_COLUMNS))
            # Status-store reads stay outside the spans they describe.
            mark = store.mark()
            with tracer.span("plans.pipeline.run_pipeline") as run:
                res = run_pipeline(spark, self._config())
            run.update(store.since(mark))
            m = res.manifest["metrics"]
            detail = res.manifest["sinks_detail"].values()
            run.update(
                routed_write_s=res.manifest["timings_sec"]["routed_write"],
                agg_write_s=res.manifest["timings_sec"]["agg_write"],
                parsed_ratio=m["rows_parsed"] / m["rows_in"],
                routed_bytes=sum(d["bytes"] for d in detail),
                routed_files=sum(d["n_files"] for d in detail),
            )
            bad = self._check_manifest(m) + self._stream_drain(spark, tracer)
        return duration(run), bad

    def _stream_drain(self, spark, tracer) -> list[str]:
        from otel_arrow_spark.streaming.jobs import stream_pipeline

        base = f"{self.work}/stream-{self.ops}"
        with tracer.span("stream.drain") as drain:
            with tracer.span("stream.start"):
                q = stream_pipeline(spark, self.input, f"{base}/out", f"{base}/ckpt", available_now=True)
            with tracer.span("stream.await"):
                q.awaitTermination()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        drain["rows"] = sum(p["numInputRows"] for p in progress)
        for key in ("queryPlanning", "walCommit", "addBatch", "commitOffsets"):
            drain[key] = sum(p["durationMs"].get(key, 0) for p in progress)
        want = self.size["turns"] + self.expect_offset
        return [] if drain["rows"] == want else [f"stream drained {drain['rows']} rows != {want}"]

    def layer_metrics(self, tracer):
        scan = _med(tracer, "sources.scan")
        parse = _med(tracer, "operators.parse")
        enrich = _med(tracer, "operators.enrich")
        route = _med(tracer, "operators.route")
        run, drain = "plans.pipeline.run_pipeline", "stream.drain"
        return {
            "sources.scan_s": scan,
            "operators.parse.self_s": parse - scan,
            "operators.parse.python_worker_s": _med(tracer, run, "python_worker_s"),
            "operators.parse.parsed_ratio": _med(tracer, run, "parsed_ratio"),
            "operators.enrich.self_s": enrich - parse,
            "operators.route.self_s": route - enrich,
            "sink.routed_write_self_s": _med(tracer, run, "routed_write_s") - route,
            "sink.routed_bytes": _med(tracer, run, "routed_bytes"),
            "sink.routed_files": _med(tracer, run, "routed_files"),
            "operators.aggregate.write_s": _med(tracer, run, "agg_write_s"),
            "operators.aggregate.shuffle_write_bytes": _med(tracer, run, "shuffle_write_bytes"),
            "operators.aggregate.shuffle_fetch_wait_s": _med(tracer, run, "shuffle_fetch_wait_s"),
            "stream.start_s": _med(tracer, "stream.start"),
            "stream.query_planning_ms": _med(tracer, drain, "queryPlanning"),
            "stream.wal_commit_ms": _med(tracer, drain, "walCommit"),
            "stream.add_batch_ms": _med(tracer, drain, "addBatch"),
            "stream.commit_offsets_ms": _med(tracer, drain, "commitOffsets"),
            "stream.rows_per_batch": _med(tracer, drain, "rows"),
        }

    def _check_files(self, m: dict) -> list[str]:
        """Routed files hold the manifest's per-class counts, an
        independent DuckDB recount of the input agrees with both, and the
        aggregates cover every routed row."""
        import pyarrow.dataset as ds

        from otel_arrow_spark.operators.route import SIGNAL_CLASSES

        bad = []
        routed = ds.dataset(f"{self.out}/routed", format="parquet", partitioning="hive")
        recount = recount_classes(f"{self.input}/*.parquet")
        for c in SIGNAL_CLASSES:
            on_disk = routed.count_rows(filter=ds.field("signal_class") == c)
            if not (m[f"routed_{c}"] == on_disk == recount.get(c, 0)):
                bad.append(
                    f"class {c}: manifest {m[f'routed_{c}']}, files {on_disk}, "
                    f"recount {recount.get(c, 0)}"
                )
        agg = ds.dataset(f"{self.out}/agg", format="parquet", partitioning="hive")
        agg_turns = sum(agg.to_table(columns=["n_turns"]).column("n_turns").to_pylist())
        if agg_turns != m["rows_in"]:
            bad.append(f"aggregate n_turns sum {agg_turns} != rows_in {m['rows_in']}")
        written = parquet_bytes(f"{self.out}/routed") + parquet_bytes(f"{self.out}/agg")
        self.bytes_per_item = written / self.size["turns"]
        return bad


def recount_classes(glob: str) -> dict[str, int]:
    """Signal class per turn, recomputed in DuckDB straight from the raw
    text with the documented template grammar (FIXTURES.md §4 routing:
    error > warn > tool_call > span > chat)."""
    import duckdb

    sev = r"^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[[a-z]+\] [\s\S]*$"
    call = r"^CALL tool=\w+ args_len=\d+ status=\w+ dur_ms=\d+\n?$"
    span = r"^span trace=[0-9a-f]{32} span=[0-9a-f]{16} event=\w+\.\w+\n?$"
    q = f"""
        WITH t AS (
            SELECT coalesce(text, '') AS x,
                   regexp_extract(coalesce(text, ''), '{sev}', 1) AS lvl
            FROM read_parquet('{glob}')
        )
        SELECT CASE
                 WHEN lvl IN ('ERROR', 'FATAL') THEN 'error'
                 WHEN lvl = 'WARN' THEN 'warn'
                 WHEN regexp_matches(x, '{call}') THEN 'tool_call'
                 WHEN regexp_matches(x, '{span}') THEN 'span'
                 ELSE 'chat'
               END AS cls,
               count(*) AS n
        FROM t GROUP BY cls
    """
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        return dict(con.execute(q).fetchall())
    finally:
        con.close()


# --- otlp_codec ---------------------------------------------------------------


def _codec(sig: str):
    """(generator, decoder, encoder) of one OTLP signal."""
    from otel_arrow_spark.sources import otlp_json as o

    return {
        "logs": (o.generate_otlp_json_requests, o.parse_otlp_json, o.encode_otlp_json),
        "traces": (
            o.generate_otlp_json_trace_requests,
            o.parse_otlp_traces_json,
            o.encode_otlp_traces_json,
        ),
        "metrics": (
            o.generate_otlp_json_metric_requests,
            o.parse_otlp_metrics_json,
            o.encode_otlp_metrics_json,
        ),
    }[sig]


def _comparable(df):
    """``df`` with every map column replaced by its entries sorted by key,
    a value that grouping (unlike a map) can compare."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    return df.select(*[
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ])


class OtlpCodec(Workload):
    name = "otlp_codec"

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = self.size["otlp_items"]
        self.paths = {}
        for k, sig in enumerate(SIGNALS):
            reqs = _codec(sig)[0](n, seed=self.seed + k)
            path = f"{self.work}/otlp_{sig}.parquet"
            # One file, one row group: the shape ensure_parallelism exists for.
            pq.write_table(pa.table({"req_no": list(range(len(reqs))), "payload": reqs}), path)
            self.paths[sig] = path

    def _decoded(self, spark, sig: str):
        from otel_arrow_spark.textops.dedup import ensure_parallelism

        return _codec(sig)[1](ensure_parallelism(spark.read.parquet(self.paths[sig])))

    def op(self, spark, tracer, store, check=False):
        self.ops += 1
        if tracer.enabled:
            return self._traced_op(spark, tracer, store)
        if check:
            return self._check(spark)
        t0 = time.monotonic()
        for sig in SIGNALS:
            _, parse, encode = _codec(sig)
            noop(parse(encode(self._decoded(spark, sig))))
        return time.monotonic() - t0, []

    def _traced_op(self, spark, tracer, store):
        """Per signal, each layer's prefix is built from the scan and
        materialized to the noop sink: scan, probe (ensure_parallelism
        alone), decode, encode, re-decode. Self time of a layer is its
        prefix minus the previous one, so the spans add up to the last
        prefix, which is the untraced operation's work for that signal."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from otel_arrow_spark.textops.dedup import ensure_parallelism

        run_s = 0.0
        with tracer.span("pass", op=self.ops):
            for sig in SIGNALS:
                _, parse, encode = _codec(sig)
                with tracer.span("sources.scan", signal=sig):
                    noop(spark.read.parquet(self.paths[sig]))
                with tracer.span("scanmeta.probe", signal=sig):
                    ensure_parallelism(spark.read.parquet(self.paths[sig]))
                # Status-store reads stay outside the spans they describe,
                # so every span times only its prefix's materialization.
                mark = store.mark()
                with tracer.span("otlp.decode", signal=sig) as dec:
                    noop(self._decoded(spark, sig))
                dec.update(store.since(mark))
                obs = Observation(f"encoded_{sig}_{self.ops}")
                mark = store.mark()
                with tracer.span("otlp.encode", signal=sig) as enc:
                    encoded = encode(self._decoded(spark, sig))
                    noop(encoded.observe(obs, F.sum(F.octet_length("payload")).alias("b")))
                enc.update(store.since(mark))
                with tracer.span("otlp.redecode", signal=sig) as rt:
                    obs_rows = Observation(f"rows_{sig}_{self.ops}")
                    decoded = parse(encode(self._decoded(spark, sig)))
                    noop(decoded.observe(obs_rows, F.count(F.lit(1)).alias("n")))
                enc["encoded_bytes"] = obs.get["b"]
                rt["rows"] = obs_rows.get["n"]
                run_s += duration(rt)
        return run_s, []

    def layer_metrics(self, tracer):
        def per_pass(name):
            return median([
                sum(duration(s) for s in _spans(tracer, name) if s["parent"] == p["id"])
                for p in _spans(tracer, "pass")
            ])

        out = {"sources.scan_s": per_pass("sources.scan"), "scanmeta.probe_s": per_pass("scanmeta.probe")}
        n = self.size["otlp_items"]
        for sig in SIGNALS:
            scan, probe, dec, enc, rt = (
                _spans(tracer, name, signal=sig)
                for name in ("sources.scan", "scanmeta.probe", "otlp.decode", "otlp.encode", "otlp.redecode")
            )
            out.update({
                f"otlp.{sig}.decode_s": median(
                    [duration(d) - duration(s) - duration(p) for s, p, d in zip(scan, probe, dec)]
                ),
                f"otlp.{sig}.encode_s": median([duration(e) - duration(d) for d, e in zip(dec, enc)]),
                f"otlp.{sig}.redecode_s": median([duration(r) - duration(e) for e, r in zip(enc, rt)]),
                f"otlp.{sig}.rows": median([r["rows"] for r in rt]),
                f"otlp.{sig}.encode.shuffle_write_bytes": median(
                    [e["shuffle_write_bytes"] - d["shuffle_write_bytes"] for d, e in zip(dec, enc)]
                ),
                f"otlp.{sig}.encoded_bytes_per_item": median([e["encoded_bytes"] for e in enc]) / n,
            })
        return out

    def _check(self, spark) -> tuple[float, list[str]]:
        """A round trip that checks itself: round-trip rows equal the
        single decode as multisets, over every column (the same test as
        exceptAll being empty both ways, in one job), and the single decode
        yields one row per generated item. The three signals are checked
        concurrently: the check jobs are small and mostly plan compilation."""
        from concurrent.futures import ThreadPoolExecutor

        t0 = time.monotonic()
        with ThreadPoolExecutor(len(SIGNALS)) as pool:
            results = list(pool.map(lambda sig: self._check_signal(spark, sig), SIGNALS))
        dt = time.monotonic() - t0
        encoded = sum(nbytes for _, nbytes in results)
        self.bytes_per_item = encoded / (len(SIGNALS) * self.size["otlp_items"])
        return dt, [b for bad, _ in results for b in bad]

    def _check_signal(self, spark, sig: str) -> tuple[list[str], int]:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        want = self.size["otlp_items"] + self.expect_offset
        _, parse, encode = _codec(sig)
        obs = Observation(f"check_{sig}")
        encoded = encode(self._decoded(spark, sig)).observe(
            obs, F.sum(F.octet_length("payload")).alias("b")
        )
        decoded = _comparable(self._decoded(spark, sig))
        cols = decoded.columns
        both = decoded.withColumn("_side", F.lit(1)).unionByName(
            _comparable(parse(encoded)).withColumn("_side", F.lit(-1))
        )
        n, differ = (
            both.groupBy(*cols)
            .agg(F.sum("_side").alias("d"), F.count_if(F.col("_side") == 1).alias("n"))
            .agg(F.sum("n"), F.count_if(F.col("d") != 0))
            .first()
        )
        bad = []
        if n != want:
            bad.append(f"{sig}: decoded rows {n} != generated items {want}")
        if differ:
            bad.append(f"{sig}: round trip differs from the single decode in {differ} distinct rows")
        return bad, obs.get["b"]


WORKLOADS = {w.name: w for w in (TranscriptsEtl, OtlpCodec)}
