"""Wire pins of the OTLP/JSON codec (sources/otlp_json.py): the read
schemas, exact encoder payloads, generator digests, and the decoders'
output schemas and row digests, so any field reorder or rename fails
here; plus the py4j budget of building a round trip. The decode, encode
and round-trip tests of the three signals are in tests/test_logpatterns.py
(TestOtlp*)."""

import hashlib
import json
import threading

import pytest
from pyspark.sql import types as T

from otel_arrow_spark.sources import otlp_json

_SCHEMAS = {
    "logs": (
        "struct<resourceLogs:array<struct<resource:struct<attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>,"
        "scopeLogs:array<struct<scope:struct<name:string,version:string>,"
        "logRecords:array<struct<timeUnixNano:string,severityNumber:int,"
        "severityText:string,body:struct<stringValue:string,intValue:string>,"
        "attributes:array<struct<key:string,value:struct<stringValue:string,"
        "intValue:string>>>,traceId:string,spanId:string,"
        "droppedAttributesCount:int>>>>>>>"
    ),
    "traces": (
        "struct<resourceSpans:array<struct<resource:struct<attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>,"
        "scopeSpans:array<struct<scope:struct<name:string,version:string>,"
        "spans:array<struct<traceId:string,spanId:string,parentSpanId:string,"
        "name:string,kind:int,startTimeUnixNano:string,"
        "endTimeUnixNano:string,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>,"
        "status:struct<code:int,message:string>>>>>>>>"
    ),
    "metrics": (
        "struct<resourceMetrics:array<struct<resource:struct<attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>,"
        "scopeMetrics:array<struct<scope:struct<name:string,version:string>,"
        "metrics:array<struct<name:string,unit:string,"
        "gauge:struct<dataPoints:array<struct<timeUnixNano:string,"
        "asDouble:double,asInt:string,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>>>,"
        "sum:struct<dataPoints:array<struct<timeUnixNano:string,"
        "asDouble:double,asInt:string,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>>,"
        "aggregationTemporality:int,isMonotonic:boolean>,"
        "histogram:struct<dataPoints:array<struct<timeUnixNano:string,"
        "count:string,sum:double,bucketCounts:array<string>,"
        "explicitBounds:array<double>,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>>,"
        "aggregationTemporality:int>,"
        "exponentialHistogram:struct<dataPoints:array<struct<timeUnixNano:string,"
        "count:string,sum:double,scale:int,zeroCount:string,"
        "positive:struct<offset:int,bucketCounts:array<string>>,"
        "attributes:array<struct<key:string,value:struct<stringValue:string,"
        "intValue:string>>>>>,aggregationTemporality:int>,"
        "summary:struct<dataPoints:array<struct<timeUnixNano:string,"
        "count:string,sum:double,quantileValues:array<struct<quantile:double,"
        "value:double>>,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>>>>>>>>>>"
    ),
    "histogram": (
        "struct<resourceMetrics:array<struct<resource:struct<attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>,"
        "scopeMetrics:array<struct<scope:struct<name:string,version:string>,"
        "metrics:array<struct<name:string,unit:string,"
        "histogram:struct<dataPoints:array<struct<timeUnixNano:string,"
        "count:string,sum:double,bucketCounts:array<string>,"
        "explicitBounds:array<double>,attributes:array<struct<key:string,"
        "value:struct<stringValue:string,intValue:string>>>>>,"
        "aggregationTemporality:int>>>>>>>>"
    ),
}
_PAYLOADS = {
    "logs": [
        (
            "{\"resourceLogs\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc-a\"}},"
            "{\"key\":\"deployment.environment\","
            "\"value\":{\"stringValue\":\"prod\"}}]},"
            "\"scopeLogs\":[{\"scope\":{\"name\":\"app\",\"version\":\"1.0.0\"},"
            "\"logRecords\":[{\"timeUnixNano\":\"1767225600000000001\","
            "\"severityNumber\":9,\"severityText\":\"INFO\","
            "\"body\":{\"stringValue\":\"ok\"},"
            "\"attributes\":[{\"key\":\"event.domain\","
            "\"value\":{\"stringValue\":\"pipeline\"}},{\"key\":\"event.index\","
            "\"value\":{\"intValue\":\"7\"}}]}]}]}]}"
        ),
        (
            "{\"resourceLogs\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc-b\"}},"
            "{\"key\":\"deployment.environment\","
            "\"value\":{\"stringValue\":\"staging\"}}]},"
            "\"scopeLogs\":[{\"scope\":{\"name\":\"db\",\"version\":\"2.3.1\"},"
            "\"logRecords\":[{\"timeUnixNano\":\"1767225600000000002\","
            "\"severityNumber\":17,\"severityText\":\"ERROR\","
            "\"body\":{\"stringValue\":\"boom\"},"
            "\"attributes\":[{\"key\":\"event.index\","
            "\"value\":{\"intValue\":\"8\"}}],"
            "\"traceId\":\"abababababababababababababababab\","
            "\"spanId\":\"cdcdcdcdcdcdcdcd\",\"droppedAttributesCount\":3}]}]}]}"
        ),
    ],
    "traces": [
        (
            "{\"resourceSpans\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeSpans\":[{\"scope\":{\"name\":\"app\",\"version\":\"1.0.0\"},"
            "\"spans\":[{\"traceId\":\"abababababababababababababababab\","
            "\"spanId\":\"cdcdcdcdcdcdcdcd\",\"name\":\"GET /api\",\"kind\":2,"
            "\"startTimeUnixNano\":\"100\",\"endTimeUnixNano\":\"250\","
            "\"attributes\":[{\"key\":\"peer.service\","
            "\"value\":{\"stringValue\":\"svc-b\"}},{\"key\":\"span.seq\","
            "\"value\":{\"intValue\":\"5\"}}],\"status\":{}}]}]}]}"
        ),
        (
            "{\"resourceSpans\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeSpans\":[{\"scope\":{\"name\":\"db\",\"version\":\"2.3.1\"},"
            "\"spans\":[{\"traceId\":\"abababababababababababababababab\","
            "\"spanId\":\"efefefefefefefef\","
            "\"parentSpanId\":\"cdcdcdcdcdcdcdcd\",\"name\":\"db.query\","
            "\"kind\":3,\"startTimeUnixNano\":\"120\","
            "\"endTimeUnixNano\":\"200\","
            "\"attributes\":[{\"key\":\"peer.service\","
            "\"value\":{\"stringValue\":\"svc-c\"}},{\"key\":\"span.seq\","
            "\"value\":{\"intValue\":\"6\"}}],\"status\":{\"code\":2,"
            "\"message\":\"error\"}}]}]}]}"
        ),
    ],
    "metrics": [
        (
            "{\"resourceMetrics\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeMetrics\":[{\"scope\":{\"name\":\"app\","
            "\"version\":\"1.0.0\"},\"metrics\":[{\"name\":\"m.exp\","
            "\"unit\":\"ms\","
            "\"exponentialHistogram\":{\"dataPoints\":[{\"timeUnixNano\":\"400\","
            "\"count\":\"5\",\"sum\":2.25,\"scale\":3,\"zeroCount\":\"1\","
            "\"positive\":{\"offset\":2,\"bucketCounts\":[\"1\",\"3\"]},"
            "\"attributes\":[{\"key\":\"host.name\","
            "\"value\":{\"stringValue\":\"host-04\"}},{\"key\":\"point.seq\","
            "\"value\":{\"intValue\":\"4\"}}]}],"
            "\"aggregationTemporality\":2}}]}]}]}"
        ),
        (
            "{\"resourceMetrics\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeMetrics\":[{\"scope\":{\"name\":\"app\","
            "\"version\":\"1.0.0\"},\"metrics\":[{\"name\":\"m.gauge\","
            "\"unit\":\"By\","
            "\"gauge\":{\"dataPoints\":[{\"timeUnixNano\":\"100\","
            "\"asDouble\":1.5,\"attributes\":[{\"key\":\"host.name\","
            "\"value\":{\"stringValue\":\"host-01\"}},{\"key\":\"point.seq\","
            "\"value\":{\"intValue\":\"1\"}}]}]}}]}]}]}"
        ),
        (
            "{\"resourceMetrics\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeMetrics\":[{\"scope\":{\"name\":\"app\","
            "\"version\":\"1.0.0\"},\"metrics\":[{\"name\":\"m.hist\","
            "\"unit\":\"ms\","
            "\"histogram\":{\"dataPoints\":[{\"timeUnixNano\":\"300\","
            "\"count\":\"6\",\"sum\":12.5,\"bucketCounts\":[\"1\",\"2\",\"3\"],"
            "\"explicitBounds\":[5.0,10.0],"
            "\"attributes\":[{\"key\":\"host.name\","
            "\"value\":{\"stringValue\":\"host-03\"}},{\"key\":\"point.seq\","
            "\"value\":{\"intValue\":\"3\"}}]}],"
            "\"aggregationTemporality\":1}}]}]}]}"
        ),
        (
            "{\"resourceMetrics\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeMetrics\":[{\"scope\":{\"name\":\"app\","
            "\"version\":\"1.0.0\"},\"metrics\":[{\"name\":\"m.sum\","
            "\"unit\":\"1\",\"sum\":{\"dataPoints\":[{\"timeUnixNano\":\"200\","
            "\"asDouble\":3.0,\"attributes\":[{\"key\":\"host.name\","
            "\"value\":{\"stringValue\":\"host-02\"}},{\"key\":\"point.seq\","
            "\"value\":{\"intValue\":\"2\"}}]}],\"aggregationTemporality\":2,"
            "\"isMonotonic\":true}}]}]}]}"
        ),
        (
            "{\"resourceMetrics\":[{\"resource\":{\"attributes\":[{\"key\":\"service.name\","
            "\"value\":{\"stringValue\":\"svc\"}}]},"
            "\"scopeMetrics\":[{\"scope\":{\"name\":\"app\","
            "\"version\":\"1.0.0\"},\"metrics\":[{\"name\":\"m.summary\","
            "\"unit\":\"By\","
            "\"summary\":{\"dataPoints\":[{\"timeUnixNano\":\"500\","
            "\"count\":\"4\",\"sum\":8.0,\"quantileValues\":[{\"quantile\":0.5,"
            "\"value\":1.0},{\"quantile\":0.99,\"value\":2.5}],"
            "\"attributes\":[{\"key\":\"host.name\","
            "\"value\":{\"stringValue\":\"host-05\"}},{\"key\":\"point.seq\","
            "\"value\":{\"intValue\":\"5\"}}]}]}}]}]}]}"
        ),
    ],
}
_GENERATOR_SHA256 = {
    "logs": "d7ab1b70491fa3beab0a318ecfcdb29b976ca4debbeeab74ec7c82a79651ac94",
    "traces": "33cb7f14a6a6099d85491eacf7b2a68646066052abac2b575f0f056b69badd88",
    "metrics": "a7b0def26f63576096d313ff364843bdc737cf91be0d144069f401178a36429b",
}

_LOG_ROWS = [
    ("svc-a", "prod", "app", "1.0.0", 1767225600000000001, 9, "INFO", "ok",
     None, None, 0, 7, {"event.domain": "pipeline", "event.index": "7"}),
    ("svc-b", "staging", "db", "2.3.1", 1767225600000000002, 17, "ERROR",
     "boom", "ab" * 16, "cd" * 8, 3, 8, {"event.index": "8"}),
]
_LOG_DDL = (
    "service_name string, environment string, scope_name string, "
    "scope_version string, time_unix_nano bigint, severity_number int, "
    "severity_text string, body string, trace_id string, span_id string, "
    "dropped_attributes_count int, event_index bigint, "
    "attributes map<string,string>"
)
_SPAN_ROWS = [
    ("svc", "app", "1.0.0", "ab" * 16, "cd" * 8, None, "GET /api", 2, 100,
     250, 150, 0, None, "svc-b", 5),
    ("svc", "db", "2.3.1", "ab" * 16, "ef" * 8, "cd" * 8, "db.query", 3, 120,
     200, 80, 2, "error", "svc-c", 6),
]
_SPAN_DDL = (
    "service_name string, scope_name string, scope_version string, "
    "trace_id string, span_id string, parent_span_id string, name string, "
    "kind int, start_unix_nano bigint, end_unix_nano bigint, "
    "duration_ns bigint, status_code int, status_message string, "
    "peer_service string, span_seq bigint"
)
_Q = [(0.5, 1.0), (0.99, 2.5)]
_METRIC_ROWS = [
    ("svc", "app", "1.0.0", "m.gauge", "By", "gauge", None, None, 100, 1.5,
     None, None, None, None, None, None, None, None, None, "host-01", 1),
    ("svc", "app", "1.0.0", "m.sum", "1", "sum", 2, True, 200, 3.0,
     None, None, None, None, None, None, None, None, None, "host-02", 2),
    ("svc", "app", "1.0.0", "m.hist", "ms", "histogram", 1, None, 300, None,
     6, 12.5, [1, 2, 3], [5.0, 10.0], None, None, None, None, None,
     "host-03", 3),
    ("svc", "app", "1.0.0", "m.exp", "ms", "exp_histogram", 2, None, 400,
     None, 5, 2.25, None, None, 3, 1, 2, [1, 3], None, "host-04", 4),
    ("svc", "app", "1.0.0", "m.summary", "By", "summary", None, None, 500,
     None, 4, 8.0, None, None, None, None, None, None, _Q, "host-05", 5),
]
_METRIC_DDL = (
    "service_name string, scope_name string, scope_version string, "
    "metric_name string, metric_unit string, metric_type string, "
    "temporality int, is_monotonic boolean, time_unix_nano bigint, "
    "value double, count bigint, sum_value double, "
    "bucket_counts array<bigint>, explicit_bounds array<double>, scale int, "
    "zero_count bigint, pos_offset int, pos_bucket_counts array<bigint>, "
    "quantiles array<struct<quantile:double,value:double>>, "
    "host_name string, point_seq bigint"
)


class TestWirePins:
    def test_read_schemas(self):
        assert otlp_json.OTLP_EXPORT_LOGS_SCHEMA.simpleString() == _SCHEMAS["logs"]
        assert otlp_json.OTLP_EXPORT_TRACES_SCHEMA.simpleString() == _SCHEMAS["traces"]
        assert (
            otlp_json.OTLP_EXPORT_METRICS_SCHEMA.simpleString() == _SCHEMAS["metrics"]
        )
        assert (
            otlp_json._metrics_schema(("histogram",)).simpleString()
            == _SCHEMAS["histogram"]
        )

    @pytest.mark.parametrize(
        "signal, encode, rows, ddl",
        [
            ("logs", otlp_json.encode_otlp_json, _LOG_ROWS, _LOG_DDL),
            ("traces", otlp_json.encode_otlp_traces_json, _SPAN_ROWS, _SPAN_DDL),
            ("metrics", otlp_json.encode_otlp_metrics_json, _METRIC_ROWS, _METRIC_DDL),
        ],
    )
    def test_encoder_payloads(self, spark, signal, encode, rows, ddl):
        """One row per request group, so each payload is deterministic:
        logs with a NULL trace id and 0 dropped, a root span with status
        0, one metric per oneof branch."""
        df = spark.createDataFrame(rows, ddl)
        got = sorted(r.payload for r in encode(df).collect())
        assert got == _PAYLOADS[signal]

    @pytest.mark.parametrize(
        "signal, generate",
        [
            ("logs", otlp_json.generate_otlp_json_requests),
            ("traces", otlp_json.generate_otlp_json_trace_requests),
            ("metrics", otlp_json.generate_otlp_json_metric_requests),
        ],
    )
    def test_generator_digest(self, signal, generate):
        """The cached oracle corpora are these bytes."""
        digest = hashlib.sha256("\n".join(generate(500)).encode()).hexdigest()
        assert digest == _GENERATOR_SHA256[signal]


def _shape(dt) -> str:
    """``dt`` as a type string that also marks non-nullable fields,
    elements and map values with ``!``."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{f.name}:{_shape(f.dataType)}{'' if f.nullable else '!'}"
            for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{_shape(dt.elementType)}{'' if dt.containsNull else '!'}>"
    if isinstance(dt, T.MapType):
        return (
            f"map<{_shape(dt.keyType)},"
            f"{_shape(dt.valueType)}{'' if dt.valueContainsNull else '!'}>"
        )
    return dt.simpleString()


def _histogram_only(df):
    return otlp_json.parse_otlp_metrics_json(df, ("histogram",))


_DECODERS = {
    "logs": (otlp_json.generate_otlp_json_requests, otlp_json.parse_otlp_json),
    "traces": (
        otlp_json.generate_otlp_json_trace_requests,
        otlp_json.parse_otlp_traces_json,
    ),
    "metrics": (
        otlp_json.generate_otlp_json_metric_requests,
        otlp_json.parse_otlp_metrics_json,
    ),
    "histogram": (otlp_json.generate_otlp_json_metric_requests, _histogram_only),
}
_ENCODERS = {
    "logs": otlp_json.encode_otlp_json,
    "traces": otlp_json.encode_otlp_traces_json,
    "metrics": otlp_json.encode_otlp_metrics_json,
    "histogram": otlp_json.encode_otlp_metrics_json,
}
_METRIC_SHAPE = (
    "struct<service_name:string,scope_name:string,scope_version:string,"
    "metric_name:string,metric_unit:string,metric_type:string,"
    "temporality:int,is_monotonic:boolean,time_unix_nano:bigint,"
    "value:double,count:bigint,sum_value:double,bucket_counts:array<bigint>,"
    "explicit_bounds:array<double>,scale:int,zero_count:bigint,"
    "pos_offset:int,pos_bucket_counts:array<bigint>,"
    "quantiles:array<struct<quantile:double,value:double>>,"
    "host_name:string,point_seq:bigint>"
)
_DECODED_SHAPES = {
    "logs": (
        "struct<service_name:string,environment:string,scope_name:string,"
        "scope_version:string,time_unix_nano:bigint,severity_number:int,"
        "severity_text:string,body:string,trace_id:string,span_id:string,"
        "dropped_attributes_count:int!,event_index:bigint,"
        "attributes:map<string,string>>"
    ),
    "traces": (
        "struct<service_name:string,scope_name:string,scope_version:string,"
        "trace_id:string,span_id:string,parent_span_id:string,name:string,"
        "kind:int,start_unix_nano:bigint,end_unix_nano:bigint,"
        "duration_ns:bigint,status_code:int!,status_message:string,"
        "peer_service:string,span_seq:bigint>"
    ),
    "metrics": _METRIC_SHAPE,
    "histogram": _METRIC_SHAPE,
}
# (rows, sha256 of the rows as sorted key-sorted JSON lines) at n=500
_DECODED_ROWS = {
    "logs": (500, "9d6f135fa6d080a67fd0f06aeea9ab439dc29980fcd1abd38a9911b64c5f3ac8"),
    "traces": (500, "a71b95a78e738dfdfdc989981dd893e273384e67904413760fb2c3018e2f21b5"),
    "metrics": (500, "f29a57a878d6da8e673626c6c0f3623a155c0225d69379517aec531cba6e87b1"),
    "histogram": (137, "5240234615b4301af2dcf280b35c9b2dc7a44f4c06fca22bab0e816864ba618b"),
}


def _payloads(spark, signal, n=500):
    reqs = _DECODERS[signal][0](n)
    return spark.createDataFrame([(p,) for p in reqs], "payload string")


class TestDecodedPins:
    @pytest.mark.parametrize("signal", list(_DECODERS))
    def test_output_schema(self, spark, signal):
        """Names, order, types and nullability of each decoder's rows."""
        decode = _DECODERS[signal][1]
        assert _shape(decode(_payloads(spark, signal, 0)).schema) == (
            _DECODED_SHAPES[signal]
        )

    @pytest.mark.parametrize("signal", list(_DECODERS))
    def test_rows_digest(self, spark, signal):
        decode = _DECODERS[signal][1]
        rows = sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True)
            for r in decode(_payloads(spark, signal)).collect()
        )
        digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
        assert (len(rows), digest) == _DECODED_ROWS[signal]


class TestPlanBudget:
    @pytest.mark.parametrize("signal", list(_DECODERS))
    def test_round_trip_builds_in_few_jvm_calls(self, spark, signal):
        """Building decode → encode → decode (no job runs) crosses into
        the JVM a bounded number of times, whatever the expression size:
        each codec layer is one SQL-text projection or aggregate, not a
        py4j call per expression node."""
        from py4j.clientserver import JavaClient

        decode, encode = _DECODERS[signal][1], _ENCODERS[signal]
        df = _payloads(spark, signal, 0)
        calls = 0
        send = JavaClient.send_command
        builder = threading.get_ident()

        def counting(self, *args, **kwargs):
            # py4j's finalizer thread also sends here, to release the JVM
            # objects that earlier tests dropped: not this build's calls
            nonlocal calls
            calls += threading.get_ident() == builder
            return send(self, *args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(JavaClient, "send_command", counting)
            decode(encode(decode(df)))
        assert calls <= 300, f"{calls} py4j calls to build one round trip"


class TestDecodePlan:
    @pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
    def test_attribute_lookups(self, spark, signal):
        """Each of the three attribute lookups runs one filter per row,
        and the resource attributes are resolved below the items
        explode, not once per item."""
        decoded = _DECODERS[signal][1](_payloads(spark, signal, 0))
        plan = decoded._jdf.queryExecution().executedPlan().toString()
        assert plan.count("filter(") == 3
        assert plan.index(" AS service_name") > plan.index("Generate explode(_scope")


def _ddl_columns(ddl: str, **exprs: str) -> list[str]:
    """A ``selectExpr`` list of ``ddl``'s columns in order: ``exprs[name]``
    where given, else a typed NULL."""
    cols = []
    for field in ddl.split(", "):
        name, dtype = field.split(" ", 1)
        cols.append(f"{exprs.get(name, f'CAST(NULL AS {dtype})')} AS {name}")
    return cols


def _sorted_maps(df):
    """``df`` with map columns as key-sorted entry arrays, which
    ``exceptAll`` can compare."""
    from pyspark.sql import functions as F

    return df.select(*[
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, T.MapType) else F.col(f.name)
        for f in df.schema.fields
    ])


_ONE_GROUP = {
    "logs": (
        _LOG_DDL,
        dict(
            service_name="'svc'", environment="'prod'", scope_name="'app'",
            scope_version="'1.0.0'", time_unix_nano="1767225600000000000 + id",
            severity_number="9", severity_text="'INFO'", body="concat('m', id)",
            dropped_attributes_count="0", event_index="id",
            attributes="map('event.index', CAST(id AS STRING))",
        ),
        lambda req: req["resourceLogs"][0]["scopeLogs"][0]["logRecords"],
    ),
    "metrics": (
        _METRIC_DDL,
        dict(
            service_name="'svc'", scope_name="'app'", scope_version="'1.0.0'",
            metric_name="'m.gauge'", metric_unit="'By'", metric_type="'gauge'",
            time_unix_nano="id", value="CAST(id AS DOUBLE)",
            host_name="'host-01'", point_seq="id",
        ),
        lambda req: (
            req["resourceMetrics"][0]["scopeMetrics"][0]["metrics"][0]["gauge"]["dataPoints"]
        ),
    ),
}


class TestEncodeBatching:
    @pytest.mark.parametrize("signal", list(_ONE_GROUP))
    def test_requests_hold_at_most_batch_items(self, spark, signal):
        """20,000 rows of one (resource, scope[, metric]) group in one
        partition become three requests of at most ENCODE_BATCH_ITEMS
        items each, whatever the group's size, and decode back to the
        same rows."""
        ddl, exprs, items = _ONE_GROUP[signal]
        flat = spark.range(0, 20_000, 1, numPartitions=1).selectExpr(
            *_ddl_columns(ddl, **exprs)
        )
        payloads = _ENCODERS[signal](flat).collect()
        sizes = sorted(len(items(json.loads(r.payload))) for r in payloads)
        assert sizes == [20_000 - 2 * 8192, 8192, 8192]
        decoded = _DECODERS[signal][1](spark.createDataFrame(payloads))
        got, want = _sorted_maps(decoded), _sorted_maps(flat)
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    @pytest.mark.parametrize("signal", ["logs", "traces", "metrics"])
    def test_reduce_stage_uses_every_core(self, spark, signal):
        """The encode's one exchange keeps its reducer count,
        max(defaultParallelism, shuffle partitions), in the final AQE
        plan: AQE does not coalesce it into one reducer."""
        import re

        encoded = _ENCODERS[signal](_DECODERS[signal][1](_payloads(spark, signal)))
        encoded.collect()
        adaptive = encoded._jdf.queryExecution().executedPlan()
        assert adaptive.isFinalPlan()
        plan = adaptive.executedPlan().toString()
        reducers = max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        assert re.findall(r"Exchange hashpartitioning\(.*, (\d+)\),", plan) == [
            str(reducers)
        ]
        assert "AQEShuffleRead" not in plan
