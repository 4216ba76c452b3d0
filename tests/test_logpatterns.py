"""Tests for OTLP/JSON ingestion, template mining, gap detection,
tool-transition mining, and the multi-granularity rollup."""

import json

from pyspark.sql import functions as F

from otel_arrow_spark.operators.aggregate import rollup_aggregate
from otel_arrow_spark.operators.logpatterns import gap_report, mine_templates
from otel_arrow_spark.operators.trajectory import tool_transitions
from otel_arrow_spark.sources.otlp_json import (
    generate_otlp_json_requests,
    parse_otlp_json,
)


class TestOtlpJson:
    def test_known_payload_decodes_field_for_field(self, spark):
        req = {
            "resourceLogs": [
                {
                    "resource": {
                        "attributes": [
                            {"key": "service.name", "value": {"stringValue": "svc"}},
                            {"key": "deployment.environment", "value": {"stringValue": "prod"}},
                        ]
                    },
                    "scopeLogs": [
                        {
                            "scope": {"name": "app", "version": "1.2.3"},
                            "logRecords": [
                                {
                                    "timeUnixNano": "1767225600000000001",
                                    "severityNumber": 17,
                                    "severityText": "ERROR",
                                    "body": {"stringValue": "boom"},
                                    "attributes": [
                                        {"key": "event.domain", "value": {"stringValue": "d"}},
                                        {"key": "event.index", "value": {"intValue": "41"}},
                                    ],
                                    "traceId": "ab" * 16,
                                    "spanId": "cd" * 8,
                                    "droppedAttributesCount": 3,
                                },
                                # minimal record: proto3 JSON omits empties
                                {
                                    "timeUnixNano": "1767225600000000002",
                                    "severityNumber": 9,
                                    "severityText": "INFO",
                                    "body": {"stringValue": "ok"},
                                    "attributes": [
                                        {"key": "event.index", "value": {"intValue": "42"}}
                                    ],
                                },
                            ],
                        }
                    ],
                }
            ]
        }
        df = spark.createDataFrame([(json.dumps(req),)], "payload string")
        rows = {r.event_index: r for r in parse_otlp_json(df).collect()}
        assert set(rows) == {41, 42}
        r = rows[41]
        assert r.service_name == "svc" and r.environment == "prod"
        assert r.scope_name == "app" and r.scope_version == "1.2.3"
        assert r.time_unix_nano == 1767225600000000001
        assert r.severity_number == 17 and r.severity_text == "ERROR"
        assert r.body == "boom"
        assert r.trace_id == "ab" * 16 and r.span_id == "cd" * 8
        assert r.dropped_attributes_count == 3
        assert r.attributes["event.domain"] == "d"
        # int64 AnyValue arrives as a JSON string and stays string-typed
        # in the raw attributes map (the typed column casts it)
        assert r.attributes["event.index"] == "41"
        m = rows[42]
        assert m.trace_id is None and m.span_id is None
        assert m.dropped_attributes_count == 0

    def test_generator_record_count_and_decode_round_trip(self, spark):
        reqs = generate_otlp_json_requests(333)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_json(df)
        assert flat.count() == 333
        # event.index is a dense 0..n-1 enumeration: decode lost nothing
        assert (
            flat.agg(F.countDistinct("event_index")).collect()[0][0] == 333
        )

    def test_parse_plan_is_pure_jvm(self, spark):
        reqs = generate_otlp_json_requests(50)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        plan = parse_otlp_json(df)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, "OTLP decode must not touch Python"
        assert plan.count("Generate") == 3, "expected exactly 3 explode stages"
        assert "Exchange" not in plan, "scan-side decode must not shuffle"


class TestMineTemplates:
    def test_masking_and_support(self, spark):
        rows = (
            [("c1", f"CALL tool=tool_{i:02d} dur_ms={i * 7}") for i in range(10)]
            + [("c2", f"CALL tool=tool_{i:02d} dur_ms={i}") for i in range(5)]
            + [("c3", "span trace=0123456789abcdef0123456789abcdef done")] * 3
            + [("c3", "unique free text")]
        )
        df = spark.createDataFrame(rows, "conv_id string, text string")
        out = {
            r.template: r
            for r in mine_templates(df, min_count=3).collect()
        }
        call = out["CALL tool=tool_<N> dur_ms=<N>"]
        assert call.n == 15 and call.n_groups == 2
        assert call.example == "CALL tool=tool_00 dur_ms=0"
        span = out["span trace=<ID> done"]
        assert span.n == 3 and span.n_groups == 1
        assert "unique free text" not in out, "support threshold must drop singletons"

    def test_short_hex_words_survive(self, spark):
        # 'deadbeef' (8 hex chars) is below the 16-char id threshold
        df = spark.createDataFrame(
            [("c", "deadbeef cafe")] * 3, "conv_id string, text string"
        )
        [r] = mine_templates(df, min_count=1).collect()
        assert r.template == "deadbeef cafe"


class TestGapReport:
    def test_gaps_strictly_greater_and_integer_us(self, spark):
        df = spark.createDataFrame(
            [
                (1, 0, "2026-01-01 00:00:00"),
                (1, 1, "2026-01-01 01:00:00"),   # exactly 3600s: excluded
                (1, 2, "2026-01-01 02:00:01"),   # 3601s: reported
                (2, 3, "2026-01-01 00:00:00"),   # single row: no gap
            ],
            "user_id int, event_id int, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = gap_report(
            df, by=["user_id"], min_gap_seconds=3600, tiebreak=["event_id"]
        ).collect()
        assert len(out) == 1
        [g] = out
        assert g.user_id == 1 and g.gap_us == 3_601_000_000
        assert str(g.gap_start).startswith("2026-01-01 01:00:00")

    def test_one_shuffle_plan(self, spark):
        df = spark.createDataFrame(
            [(1, 1, "2026-01-01 00:00:00")], "user_id int, event_id int, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        plan = (
            gap_report(df, by=["user_id"], tiebreak=["event_id"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1


class TestToolTransitions:
    def test_edges_and_error_attribution(self, spark):
        rows = [
            ("c1", 0, "a", "CALL tool=a args_len=1 status=ok dur_ms=1"),
            ("c1", 1, None, "INFO [x] chatter"),          # ignored
            ("c1", 2, "b", "CALL tool=b args_len=1 status=error dur_ms=1"),
            ("c1", 3, "a", "CALL tool=a args_len=1 status=ok dur_ms=1"),
            ("c2", 0, "b", "CALL tool=b args_len=1 status=ok dur_ms=1"),
            ("c2", 1, "b", "CALL tool=b args_len=1 status=ok dur_ms=1"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, tool string, text string"
        )
        out = {(r.prev_tool, r.tool): r for r in tool_transitions(df).collect()}
        # first call of each conversation emits no edge
        assert set(out) == {("a", "b"), ("b", "a"), ("b", "b")}
        assert out[("a", "b")].n == 1 and out[("a", "b")].n_error == 1
        assert out[("b", "a")].n == 1 and out[("b", "a")].n_error == 0
        assert out[("b", "b")].n == 1 and out[("b", "b")].n_error == 0


class TestRollup:
    def test_levels_match_manual_aggregates(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 1, 5.0), ("a", 2, 1.0), ("b", 1, 2.0)],
            "k string, h int, v double",
        )
        out = rollup_aggregate(df, ("k", "h"), {"v": "sum"})
        rows = {(r.k, r.h, r.gid): (r.n, r.sum_v) for r in out.collect()}
        assert rows[("a", 1, 0)] == (2, 15.0)
        assert rows[("a", None, 1)] == (3, 16.0)
        assert rows[(None, None, 3)] == (4, 18.0)
        # ROLLUP = prefixes only: no (None, h) level
        assert not any(k[0] is None and k[1] is not None for k in rows)

    def test_single_scan_expand_plan(self, spark):
        df = spark.createDataFrame([("a", 1, 1.0)], "k string, h int, v double")
        plan = (
            rollup_aggregate(df, ("k", "h"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Expand" in plan, "rollup must use one Expand, not a union of scans"
        assert plan.count("HashAggregate") >= 2, "partial+final expected"


class TestOtlpTracesJson:
    def test_decode_tree_semantics(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            generate_otlp_json_trace_requests,
            parse_otlp_traces_json,
        )

        reqs = generate_otlp_json_trace_requests(200)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_traces_json(df)
        rows = flat.collect()
        assert len(rows) == 200
        by_trace = {}
        for r in rows:
            by_trace.setdefault(r.trace_id, []).append(r)
        for trace_id, spans in by_trace.items():
            roots = [s for s in spans if s.parent_span_id is None]
            assert len(roots) == 1, "each request is one tree with one root"
            ids = {s.span_id for s in spans}
            for s in spans:
                if s.parent_span_id is not None:
                    assert s.parent_span_id in ids, "parents stay in-trace"
                assert s.duration_ns > 0
                assert s.end_unix_nano - s.start_unix_nano == s.duration_ns
        # proto3 default: status.code omitted → 0 never happens here (we
        # always set code), but error fraction must survive the decode
        n_err = sum(1 for r in rows if r.status_code == 2)
        assert 0 < n_err < len(rows)

    def test_status_code_defaults_to_unset(self, spark):
        import json as _json

        from otel_arrow_spark.sources.otlp_json import parse_otlp_traces_json

        req = {
            "resourceSpans": [{
                "resource": {"attributes": [
                    {"key": "service.name", "value": {"stringValue": "s"}}]},
                "scopeSpans": [{
                    "scope": {"name": "app", "version": "1"},
                    "spans": [{
                        "traceId": "ab" * 16, "spanId": "cd" * 8,
                        "name": "x", "kind": 1,
                        "startTimeUnixNano": "100", "endTimeUnixNano": "250",
                        "attributes": [],
                    }],
                }],
            }]
        }
        df = spark.createDataFrame([(_json.dumps(req),)], "payload string")
        [r] = parse_otlp_traces_json(df).collect()
        assert r.status_code == 0 and r.status_message is None
        assert r.duration_ns == 150 and r.peer_service is None


class TestOtlpMetricsJson:
    def test_branch_restricted_decode_equals_filtered_full_decode(self, spark):
        """branches=("histogram",) must equal the full decode filtered to
        metric_type == histogram, row-for-row and column-for-column —
        the contract that lets otlp_hist_p95 skip four oneof subtrees."""
        from otel_arrow_spark.sources.otlp_json import (
            generate_otlp_json_metric_requests,
            parse_otlp_metrics_json,
        )
        from pyspark.sql import functions as F

        reqs = generate_otlp_json_metric_requests(500)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        full = (
            parse_otlp_metrics_json(df)
            .where(F.col("metric_type") == "histogram")
        )
        restricted = parse_otlp_metrics_json(df, branches=("histogram",))
        assert restricted.columns == full.columns
        key = ["metric_name", "point_seq"]
        a = sorted(map(tuple, full.collect()))
        b = sorted(map(tuple, restricted.collect()))
        assert len(a) > 0 and a == b, (len(a), len(b), key)

    def test_decode_oneof_branches(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            generate_otlp_json_metric_requests,
            parse_otlp_metrics_json,
        )

        reqs = generate_otlp_json_metric_requests(500)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        rows = parse_otlp_metrics_json(df).collect()
        assert len(rows) == 500
        kinds = {r.metric_type for r in rows}
        assert kinds == {"gauge", "sum", "histogram", "exp_histogram", "summary"}
        for r in rows:
            assert r.service_name.startswith("service_")
            assert r.time_unix_nano > 0 and r.point_seq is not None
            if r.metric_type == "histogram":
                # count is the sum of its own bucketCounts; bounds = k+1 buckets
                counts = list(r.bucket_counts)
                bounds = list(r.explicit_bounds)
                assert r["count"] == sum(counts)
                assert len(counts) == len(bounds) + 1
                assert r.value is None and r.sum_value is not None
                assert r.temporality in (1, 2) and r.is_monotonic is None
            elif r.metric_type == "exp_histogram":
                # count = zeroCount + positive-side buckets; negative side
                # was the empty message, omitted from the wire
                pos = list(r.pos_bucket_counts)
                assert r["count"] == r.zero_count + sum(pos)
                assert 0 <= r.scale <= 4 and 0 <= r.pos_offset <= 9
                assert r.temporality in (1, 2)
                assert r.value is None and r.bucket_counts is None
            elif r.metric_type == "summary":
                # quantile snapshot: 50/90/99 in order, values scale with q
                qs = [(x["quantile"], x["value"]) for x in r.quantiles]
                assert [q for q, _ in qs] == [0.5, 0.9, 0.99]
                assert qs[0][1] <= qs[1][1] <= qs[2][1]
                assert r["count"] is not None and r.sum_value is not None
                assert r.temporality is None and r.is_monotonic is None
            else:
                assert r.value is not None and r["count"] is None
                assert r.bucket_counts is None
                if r.metric_type == "gauge":
                    assert r.temporality is None and r.is_monotonic is None
                else:
                    assert r.temporality in (1, 2)
                    assert r.is_monotonic is not None

    def test_uint64_string_fields_roundtrip(self, spark):
        # asInt / count / bucketCounts arrive as proto3-JSON strings and
        # must cast losslessly past 2^32
        import json as _json

        from otel_arrow_spark.sources.otlp_json import parse_otlp_metrics_json

        big = (1 << 53) + 111
        req = {
            "resourceMetrics": [{
                "resource": {"attributes": [
                    {"key": "service.name", "value": {"stringValue": "s"}}]},
                "scopeMetrics": [{
                    "scope": {"name": "app", "version": "1"},
                    "metrics": [{
                        "name": "m", "unit": "1",
                        "sum": {
                            "dataPoints": [{
                                "timeUnixNano": "100",
                                "asInt": str(big),
                                "attributes": [],
                            }],
                            "aggregationTemporality": 2,
                            "isMonotonic": True,
                        },
                    }],
                }],
            }]
        }
        df = spark.createDataFrame([(_json.dumps(req),)], "payload string")
        [r] = parse_otlp_metrics_json(df).collect()
        assert r.metric_type == "sum" and r.is_monotonic is True
        assert r.value == float(big)
        assert r.host_name is None and r.bucket_counts is None

    def test_plan_is_scan_side(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            generate_otlp_json_metric_requests,
            parse_otlp_metrics_json,
        )

        reqs = generate_otlp_json_metric_requests(60)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        plan = (
            parse_otlp_metrics_json(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Generate") == 4, "rm, sm, metrics, points"
        assert "Exchange" not in plan
        assert "EvalPython" not in plan


class TestOtlpEncode:
    def test_roundtrip_identity(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_json,
            generate_otlp_json_requests,
            parse_otlp_json,
        )

        reqs = generate_otlp_json_requests(400)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_json(df)
        rt = parse_otlp_json(encode_otlp_json(flat))
        key = lambda r: r.event_index  # noqa: E731
        a = sorted(flat.collect(), key=key)
        b = sorted(rt.collect(), key=key)
        assert a == b, "parse∘encode∘parse must be row-identity"

    def test_null_fields_omitted_on_wire(self, spark):
        # proto3 JSON: NULL trace ids / zero dropped counts must vanish
        # from the payload, not serialize as null/0
        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_json,
            generate_otlp_json_requests,
            parse_otlp_json,
        )

        reqs = generate_otlp_json_requests(200)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_json(df)
        payloads = [r.payload for r in encode_otlp_json(flat).collect()]
        assert not any('"traceId":null' in p for p in payloads)
        assert not any('"droppedAttributesCount":0' in p for p in payloads)
        assert any('"intValue":"' in p for p in payloads), (
            "AnyValue int branch must be rebuilt as a quoted string"
        )

    def test_one_shuffle_plan(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_json,
            generate_otlp_json_requests,
            parse_otlp_json,
        )

        reqs = generate_otlp_json_requests(100)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        plan = (
            encode_otlp_json(parse_otlp_json(df))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1, (
            "encode is the exporter's batching shuffle and nothing else"
        )
        assert "EvalPython" not in plan


class TestOtlpTracesEncode:
    def test_roundtrip_and_trace_coherence(self, spark):
        import json as _json

        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_traces_json,
            generate_otlp_json_trace_requests,
            parse_otlp_traces_json,
        )

        reqs = generate_otlp_json_trace_requests(300)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_traces_json(df)
        payloads = encode_otlp_traces_json(flat).collect()
        rt = parse_otlp_traces_json(
            spark.createDataFrame(payloads, "payload string")
        )
        key = lambda r: (r.trace_id, r.span_id)  # noqa: E731
        assert sorted(flat.collect(), key=key) == sorted(rt.collect(), key=key)
        # trace coherence: all spans of a trace in ONE payload
        owner = {}
        for i, r in enumerate(payloads):
            for rs in _json.loads(r.payload)["resourceSpans"]:
                for ss in rs["scopeSpans"]:
                    for sp in ss["spans"]:
                        owner.setdefault(sp["traceId"], set()).add(i)
        assert all(len(v) == 1 for v in owner.values())
        # proto3 omission: roots carry no parentSpanId, UNSET no code
        assert not any(
            '"parentSpanId":null' in r.payload for r in payloads
        )
        assert not any('"code":0' in r.payload for r in payloads)


class TestOtlpMetricsEncode:
    def test_roundtrip_all_branches(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_metrics_json,
            generate_otlp_json_metric_requests,
            parse_otlp_metrics_json,
        )

        reqs = generate_otlp_json_metric_requests(400)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        flat = parse_otlp_metrics_json(df)
        rt = parse_otlp_metrics_json(encode_otlp_metrics_json(flat))
        key = lambda r: (r.point_seq, r.metric_type)  # noqa: E731
        a = sorted(flat.collect(), key=key)
        b = sorted(rt.collect(), key=key)
        assert a == b
        assert {r.metric_type for r in b} == {
            "gauge", "sum", "histogram", "exp_histogram", "summary"
        }

    def test_absent_oneof_branches_omitted(self, spark):
        from otel_arrow_spark.sources.otlp_json import (
            encode_otlp_metrics_json,
            generate_otlp_json_metric_requests,
            parse_otlp_metrics_json,
        )

        reqs = generate_otlp_json_metric_requests(200)
        df = spark.createDataFrame([(p,) for p in reqs], "payload string")
        payloads = [
            r.payload
            for r in encode_otlp_metrics_json(
                parse_otlp_metrics_json(df)
            ).collect()
        ]
        import json as _json

        for p in payloads:
            for rm in _json.loads(p)["resourceMetrics"]:
                for sm in rm["scopeMetrics"]:
                    for m in sm["metrics"]:
                        branches = [
                            k for k in (
                                "gauge", "sum", "histogram",
                                "exponentialHistogram", "summary",
                            ) if k in m
                        ]
                        assert len(branches) == 1, (
                            f"exactly one oneof branch on the wire, got {branches}"
                        )


class TestStitchMultiline:
    """Multiline event reassembly (logpatterns.py stitch_multiline):
    stitch semantics, orphan-prefix retention, partitioning invariance,
    and the window+groupby plan bound."""

    def test_stitches_stack_trace_shape(self, spark):
        from otel_arrow_spark.operators.logpatterns import stitch_multiline

        rows = [
            ("a", 0, "ERROR boom"),
            ("a", 1, "    at f1"),
            ("a", 2, "\tat f2"),
            ("a", 3, "INFO ok"),
            ("b", 0, "WARN solo"),
        ]
        df = spark.createDataFrame(rows, "src string, line_no long, line string")
        got = {(r["src"], r["event_idx"]): (r["n_lines"], r["text"])
               for r in stitch_multiline(df, "line_no", by=["src"]).collect()}
        assert got == {
            ("a", 0): (3, "ERROR boom\n    at f1\n\tat f2"),
            ("a", 1): (1, "INFO ok"),
            ("b", 0): (1, "WARN solo"),
        }

    def test_orphan_continuation_prefix_kept(self, spark):
        from otel_arrow_spark.operators.logpatterns import stitch_multiline

        rows = [("a", 0, "    at orphan"), ("a", 1, "ERROR real")]
        df = spark.createDataFrame(rows, "src string, line_no long, line string")
        got = {r["event_idx"]: r["text"]
               for r in stitch_multiline(df, "line_no", by=["src"]).collect()}
        assert got == {-1: "    at orphan", 0: "ERROR real"}

    def test_partitioning_invariance(self, spark):
        from otel_arrow_spark.operators.logpatterns import stitch_multiline
        from otel_arrow_spark.sources.syslog import generate_multiline_lines

        rows = generate_multiline_lines(500)
        df = spark.createDataFrame(rows, "src string, line_no long, line string")
        a = sorted((r["src"], r["event_idx"], r["text"]) for r in
                   stitch_multiline(df, "line_no", by=["src"]).collect())
        b = sorted((r["src"], r["event_idx"], r["text"]) for r in
                   stitch_multiline(df.repartition(13), "line_no",
                                    by=["src"]).collect())
        assert a == b
        assert len(a) == 500  # one logical event per generated event

    def test_plan_no_python_no_join(self, spark):
        from otel_arrow_spark.operators.logpatterns import stitch_multiline
        from otel_arrow_spark.sources.syslog import generate_multiline_lines

        df = spark.createDataFrame(
            generate_multiline_lines(100),
            "src string, line_no long, line string")
        plan = stitch_multiline(df, "line_no", by=["src"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert "Join" not in plan
