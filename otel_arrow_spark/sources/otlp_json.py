"""OTLP/JSON codec for logs, traces and metrics: ExportLogs/Trace/Metrics
ServiceRequest payloads ⇄ flat rows, plus deterministic request corpora.

The reference's entire input side is OTLP — its receivers decode
resource → scope → item batches into columns
(rust/otap-dataflow/crates/pdata/src/views/otlp/proto/logs.rs:154-220,
trace.rs:203, metrics.rs:10-110), and go/pkg/otel/{logs,traces,metrics}/otlp
is the Arrow→OTLP inverse. This module is the Spark-native equivalent for
the protocol's public JSON encoding (OTLP/JSON, the collector's HTTP
encoding), in both directions:

* decode: one `from_json` with a typed schema plus one `explode` per
  nesting level — pure JVM expression work inside whole-stage codegen,
  zero Python, zero shuffle;
* encode: rows → `collect_list` per (resource, scope, hash bucket) →
  `to_json`, the exporter's batching shuffle and nothing else.

Resource and scope are one layer shared by every signal, as in the
reference: `_ENVELOPE` names each signal's `resourceX → scopeX → items`
keys, and the read schema, the decode, the encode and the generators
all build that envelope through it. The five-branch Metric `data` oneof
is likewise one table, `_BRANCHES`, over one data-point field table,
`_POINT_FIELDS`.

Proto3 JSON mapping notes baked into the schemas (public protobuf spec):
* field names are lowerCamelCase (`resourceLogs`, `timeUnixNano`);
* int64/uint64 (`timeUnixNano`, AnyValue `intValue`, `count`, …) arrive
  as JSON *strings* — declared STRING here and cast to BIGINT after parse;
* absent fields (empty trace/span ids, zero dropped counts, unused oneof
  branches) are omitted from the wire entirely and surface as NULL; the
  encoders omit them again because `to_json` drops NULL fields.

Generation is the same deterministic-corpus pattern as sources/syslog.py:
a seeded numpy builder whose parquet output both the Spark path and the
DuckDB oracle read, so cross-engine comparison sees identical bytes.
"""

from __future__ import annotations

import json
from typing import Callable, NamedTuple

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SERVICES = [f"service_{k}" for k in range(8)]
ENVIRONMENTS = ["prod", "staging"]
SCOPES = [("app", "1.0.0"), ("db", "2.3.1"), ("net", "0.9.7")]
SEVERITIES = [(9, "INFO"), (13, "WARN"), (17, "ERROR"), (5, "DEBUG"), (21, "FATAL")]
BODY_WORDS = (
    "accepted rejected retried flushed routed enriched parsed dropped "
    "buffered acked committed replayed"
).split()

# epoch 2026-01-01T00:00:00Z in nanoseconds
_EPOCH_NANOS = 1_767_225_600_000_000_000

# The column every decoder reads the request bodies from and every encoder
# writes them to.
PAYLOAD_COL = "payload"
# Hash buckets per (resource, scope) in the encoders: bounds request size.
ENCODE_BUCKETS = 64
# Log attribute keys whose AnyValue is the int64 branch (the rest are strings).
LOG_INT_ATTR_KEYS = ("event.index",)

# signal → (resource list key, scope list key, item list key)
_ENVELOPE = {
    "logs": ("resourceLogs", "scopeLogs", "logRecords"),
    "traces": ("resourceSpans", "scopeSpans", "spans"),
    "metrics": ("resourceMetrics", "scopeMetrics", "metrics"),
}
# signal → the resource attributes carried as flat columns: (key, column)
_RESOURCE_ATTRS = {
    "logs": (
        ("service.name", "service_name"),
        ("deployment.environment", "environment"),
    ),
    "traces": (("service.name", "service_name"),),
    "metrics": (("service.name", "service_name"),),
}


# --- generate -----------------------------------------------------------------


def _kv_str(key: str, val: str) -> dict:
    return {"key": key, "value": {"stringValue": val}}


def _kv_int(key: str, val: int) -> dict:
    # proto3 JSON: int64 AnyValue serializes as a quoted string
    return {"key": key, "value": {"intValue": str(val)}}


def _request(signal: str, resource_attrs: list, scopes: list) -> str:
    """One Export*ServiceRequest with a single resource; ``scopes`` is a
    list of ((name, version), items)."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    req = {
        res_key: [
            {
                "resource": {"attributes": resource_attrs},
                scope_key: [
                    {"scope": {"name": name, "version": ver}, items_key: items}
                    for (name, ver), items in scopes
                ],
            }
        ]
    }
    return json.dumps(req, separators=(",", ":"))


def _batch_sizes(rng: np.random.RandomState, n: int, lo: int, hi: int) -> list[int]:
    """Request sizes drawn from [lo, hi) that total exactly ``n``."""
    sizes: list[int] = []
    left = n
    while left > 0:
        s = min(int(rng.randint(lo, hi)), left)
        sizes.append(s)
        left -= s
    return sizes


def generate_otlp_json_requests(n_records: int, seed: int = 42) -> list[str]:
    """Deterministic ExportLogsServiceRequest JSON payloads totalling
    exactly ``n_records`` LogRecords, batched 4-24 records per request
    (the reference's traffic_generator produces the same shape on the
    wire, core-nodes/src/receivers/traffic_generator/producer.rs)."""
    rng = np.random.RandomState(seed)
    sizes = _batch_sizes(rng, n_records, 4, 25)

    n = n_records
    svc = rng.randint(0, len(SERVICES), size=len(sizes))
    env = rng.randint(0, 2, size=len(sizes))
    scope_pick = rng.randint(0, len(SCOPES), size=n)
    sev_pick = rng.randint(0, len(SEVERITIES), size=n)
    body_pick = rng.randint(0, len(BODY_WORDS), size=(n, 3))
    t_off = np.cumsum(rng.randint(1_000, 5_000_000, size=n).astype(np.int64))
    has_trace = rng.random_sample(n) < 0.7
    has_dropped = rng.random_sample(n) < 0.1
    dropped = rng.randint(1, 9, size=n)
    hexd = np.array(list("0123456789abcdef"))
    tr = rng.randint(0, 16, size=(n, 32))
    sp = rng.randint(0, 16, size=(n, 16))

    out: list[str] = []
    rec_i = 0
    for req_i, size in enumerate(sizes):
        records = []
        for _ in range(size):
            i = rec_i
            sev_no, sev_txt = SEVERITIES[sev_pick[i]]
            rec = {
                "timeUnixNano": str(_EPOCH_NANOS + int(t_off[i])),
                "severityNumber": sev_no,
                "severityText": sev_txt,
                "body": {
                    "stringValue": " ".join(
                        BODY_WORDS[w] for w in body_pick[i]
                    )
                },
                "attributes": [
                    _kv_str("event.domain", "pipeline"),
                    _kv_int("event.index", i),
                ],
            }
            if has_trace[i]:
                rec["traceId"] = "".join(hexd[tr[i]])
                rec["spanId"] = "".join(hexd[sp[i]])
            if has_dropped[i]:
                rec["droppedAttributesCount"] = int(dropped[i])
            records.append(rec)
            rec_i += 1
        # split each request's records across 1-2 scopes deterministically
        n_scopes = 1 + (req_i % 2)
        cut = len(records) // 2 if n_scopes == 2 else len(records)
        scopes = [
            (SCOPES[(scope_pick[rec_i - 1] + s_i) % len(SCOPES)], chunk)
            for s_i, chunk in enumerate([records[:cut], records[cut:]][:n_scopes])
            if chunk
        ]
        resource = [
            _kv_str("service.name", SERVICES[svc[req_i]]),
            _kv_str("deployment.environment", ENVIRONMENTS[env[req_i]]),
        ]
        out.append(_request("logs", resource, scopes))
    return out


SPAN_NAMES = ["GET /api", "POST /ingest", "db.query", "cache.get", "publish"]
# proto SpanKind: INTERNAL=1 SERVER=2 CLIENT=3 PRODUCER=4 CONSUMER=5
SPAN_KINDS = [1, 2, 3, 4, 5]


def generate_otlp_json_trace_requests(n_spans: int, seed: int = 43) -> list[str]:
    """Deterministic ExportTraceServiceRequest payloads totalling exactly
    ``n_spans`` spans (views/otlp/proto/trace.rs:203: the span field set).
    Each request is one trace: a root span plus children whose parent is a
    uniformly chosen earlier span in the same request — small trees, the
    shape the trace-assembly operators consume."""
    rng = np.random.RandomState(seed)
    sizes = _batch_sizes(rng, n_spans, 2, 13)

    n = n_spans
    svc = rng.randint(0, len(SERVICES), size=len(sizes))
    scope_pick = rng.randint(0, len(SCOPES), size=len(sizes))
    name_pick = rng.randint(0, len(SPAN_NAMES), size=n)
    kind_pick = rng.randint(0, len(SPAN_KINDS), size=n)
    start_off = np.cumsum(rng.randint(1_000, 2_000_000, size=n).astype(np.int64))
    dur = rng.randint(10_000, 500_000_000, size=n).astype(np.int64)
    is_error = rng.random_sample(n) < 0.08
    hexd = np.array(list("0123456789abcdef"))
    tr = rng.randint(0, 16, size=(len(sizes), 32))
    sp = rng.randint(0, 16, size=(n, 16))
    parent_pick = rng.randint(0, 1 << 30, size=n)

    out: list[str] = []
    span_i = 0
    for req_i, size in enumerate(sizes):
        trace_id = "".join(hexd[tr[req_i]])
        span_ids = ["".join(hexd[sp[span_i + k]]) for k in range(size)]
        spans = []
        for k in range(size):
            i = span_i + k
            span = {
                "traceId": trace_id,
                "spanId": span_ids[k],
                "name": SPAN_NAMES[name_pick[i]],
                "kind": SPAN_KINDS[kind_pick[i]],
                "startTimeUnixNano": str(_EPOCH_NANOS + int(start_off[i])),
                "endTimeUnixNano": str(_EPOCH_NANOS + int(start_off[i]) + int(dur[i])),
                "attributes": [
                    _kv_str("peer.service", SERVICES[(svc[req_i] + 1) % len(SERVICES)]),
                    _kv_int("span.seq", i),
                ],
                "status": (
                    {"code": 2, "message": "error"} if is_error[i] else {"code": 1}
                ),
            }
            if k > 0:  # root omits parentSpanId (proto3 omits empties)
                span["parentSpanId"] = span_ids[parent_pick[i] % k]
            spans.append(span)
        resource = [_kv_str("service.name", SERVICES[svc[req_i]])]
        out.append(
            _request("traces", resource, [(SCOPES[scope_pick[req_i]], spans)])
        )
        span_i += size
    return out


# (name, unit, kind); kind picks the Metric `data` oneof branch
METRIC_DEFS = [
    ("system.cpu.time", "s", "sum"),
    ("http.server.request.count", "1", "sum"),
    ("process.memory.usage", "By", "gauge"),
    ("system.disk.io_ratio", "1", "gauge"),
    ("http.server.duration", "ms", "histogram"),
    ("db.client.latency", "ms", "histogram"),
    ("rpc.server.duration", "ms", "exp_histogram"),
    ("http.client.request.size", "By", "summary"),
]
HIST_BOUNDS = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0]
# proto AggregationTemporality: DELTA=1 CUMULATIVE=2
TEMPORALITIES = [1, 2]


def generate_otlp_json_metric_requests(n_points: int, seed: int = 44) -> list[str]:
    """Deterministic ExportMetricsServiceRequest payloads totalling exactly
    ``n_points`` data points across all five Metric `data` oneof branches —
    gauge / sum / histogram / exponentialHistogram / summary
    (views/otlp/proto/metrics.rs:10-110: the NumberDataPoint /
    HistogramDataPoint / ExponentialHistogramDataPoint / SummaryDataPoint
    view field sets). Per the OTLP/JSON spec: uint64 fields
    (`timeUnixNano`, `asInt`, `count`, `bucketCounts`, `zeroCount`)
    serialize as JSON strings, enums (`aggregationTemporality`) as
    integers, and absent oneof branches / empty sub-messages (a
    zero-bucket `negative` side) are omitted entirely."""
    rng = np.random.RandomState(seed)
    sizes = _batch_sizes(rng, n_points, 3, 13)

    n = n_points
    svc = rng.randint(0, len(SERVICES), size=len(sizes))
    scope_pick = rng.randint(0, len(SCOPES), size=len(sizes))
    mdef_pick = rng.randint(0, len(METRIC_DEFS), size=len(sizes))
    temp_pick = rng.randint(0, 2, size=len(sizes))
    # ~0.5 s mean step: 20k points span ~3 h, so minute-windowed
    # downstream reaggregation sees hundreds of windows, not one
    t_off = np.cumsum(rng.randint(1_000, 1_000_000_000, size=n).astype(np.int64))
    dval = np.round(rng.random_sample(n) * 1000.0, 3)
    ival = rng.randint(0, 1 << 40, size=n)
    use_int = rng.random_sample(n) < 0.4
    bkt = rng.randint(0, 500, size=(n, len(HIST_BOUNDS) + 1))
    exp_scale = rng.randint(0, 5, size=len(sizes))

    out: list[str] = []
    pt_i = 0
    for req_i, size in enumerate(sizes):
        name, unit, kind = METRIC_DEFS[mdef_pick[req_i]]
        pts = []
        for k in range(size):
            i = pt_i + k
            pt: dict = {
                "timeUnixNano": str(_EPOCH_NANOS + int(t_off[i])),
                "attributes": [
                    _kv_str("host.name", f"host-{i % 17:02d}"),
                    _kv_int("point.seq", i),
                ],
            }
            if kind == "histogram":
                counts = bkt[i]
                pt["count"] = str(int(counts.sum()))
                pt["sum"] = float(np.round(counts.sum() * dval[i] / 100.0, 3))
                pt["bucketCounts"] = [str(int(c)) for c in counts]
                pt["explicitBounds"] = HIST_BOUNDS
            elif kind == "exp_histogram":
                counts = bkt[i][:6]
                zero = int(bkt[i][6] % 50)
                pt["count"] = str(int(counts.sum()) + zero)
                pt["sum"] = float(np.round(counts.sum() * dval[i] / 100.0, 3))
                pt["scale"] = int(exp_scale[req_i])
                pt["zeroCount"] = str(zero)
                # durations are positive: the negative side is the empty
                # message, omitted from the wire per proto3 JSON
                pt["positive"] = {
                    "offset": int(ival[i] % 10),
                    "bucketCounts": [str(int(c)) for c in counts],
                }
            elif kind == "summary":
                pt["count"] = str(int(bkt[i].sum()))
                pt["sum"] = float(np.round(bkt[i].sum() * dval[i] / 100.0, 3))
                pt["quantileValues"] = [
                    {"quantile": 0.5, "value": float(np.round(dval[i] * 0.5, 3))},
                    {"quantile": 0.9, "value": float(np.round(dval[i] * 0.9, 3))},
                    {"quantile": 0.99, "value": float(np.round(dval[i] * 0.99, 3))},
                ]
            elif use_int[i]:
                pt["asInt"] = str(int(ival[i]))
            else:
                pt["asDouble"] = float(dval[i])
            pts.append(pt)
        pt_i += size

        branch = _BRANCH[kind]
        data: dict = {_DATA_POINTS: pts}
        if branch.temporality:
            data[_TEMPORALITY] = TEMPORALITIES[temp_pick[req_i]]
        if branch.monotonic:
            data[_MONOTONIC] = name.endswith(("count", "time"))
        metric = {"name": name, "unit": unit, branch.field: data}
        resource = [_kv_str("service.name", SERVICES[svc[req_i]])]
        out.append(
            _request("metrics", resource, [(SCOPES[scope_pick[req_i]], [metric])])
        )
    return out


# --- read schemas ---------------------------------------------------------------


def _struct(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, t) for k, t in fields.items()])


_STR, _INT, _LONG, _DBL = T.StringType(), T.IntegerType(), T.LongType(), T.DoubleType()
# the AnyValue oneof's sparse-union analog: one nullable field per branch
# the corpus uses (from_json leaves absent ones NULL)
_ANYVALUE = _struct(stringValue=_STR, intValue=_STR)  # int64 → JSON string
_KV_LIST = T.ArrayType(_struct(key=_STR, value=_ANYVALUE))


def _envelope_schema(signal: str, item: T.StructType) -> T.StructType:
    """The Export*ServiceRequest read schema: resource → scope → ``item``."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    scope = _struct(
        scope=_struct(name=_STR, version=_STR),
        **{items_key: T.ArrayType(item)},
    )
    resource = _struct(
        resource=_struct(attributes=_KV_LIST),
        **{scope_key: T.ArrayType(scope)},
    )
    return _struct(**{res_key: T.ArrayType(resource)})


OTLP_EXPORT_LOGS_SCHEMA = _envelope_schema(
    "logs",
    _struct(
        timeUnixNano=_STR,
        severityNumber=_INT,
        severityText=_STR,
        body=_ANYVALUE,
        attributes=_KV_LIST,
        traceId=_STR,
        spanId=_STR,
        droppedAttributesCount=_INT,
    ),
)

OTLP_EXPORT_TRACES_SCHEMA = _envelope_schema(
    "traces",
    _struct(
        traceId=_STR,
        spanId=_STR,
        parentSpanId=_STR,
        name=_STR,
        kind=_INT,
        startTimeUnixNano=_STR,
        endTimeUnixNano=_STR,
        attributes=_KV_LIST,
        status=_struct(code=_INT, message=_STR),
    ),
)


def _as_long(c: Column) -> Column:
    return c.cast("long")


def _as_string(c: Column) -> Column:
    return c.cast("string")


class _PointField(NamedTuple):
    """One data-point wire field, between ``timeUnixNano`` and
    ``attributes``: its JSON key and read type, the common point fields
    it decodes to — (name, type, wire point → value) — and its encoding
    from the flat row (None: decode-only)."""

    key: str
    wire_type: T.DataType
    decode: tuple[tuple[str, T.DataType, Callable[[Column], Column]], ...]
    encode: Callable[[], Column] | None


_QUANTILES = T.ArrayType(_struct(quantile=_DBL, value=_DBL))
# Every data-point wire field of the five branches, in read-schema order.
_POINT_FIELDS = (
    _PointField(
        "asDouble", _DBL,
        (("value", _DBL,
          lambda p: F.coalesce(p["asDouble"], p["asInt"].cast("double"))),),
        lambda: F.col("value"),
    ),
    # the parse folds asInt into `value`; encoders write asDouble only
    _PointField("asInt", _STR, (), None),  # uint64 → JSON string
    _PointField(
        "count", _STR,
        (("count", _LONG, lambda p: p["count"].cast("long")),),
        lambda: F.col("count").cast("string"),
    ),
    _PointField(
        "sum", _DBL,
        (("sum", _DBL, lambda p: p["sum"]),),
        lambda: F.col("sum_value"),
    ),
    _PointField(
        "bucketCounts", T.ArrayType(_STR),
        (("bucket_counts", T.ArrayType(_LONG),
          lambda p: F.transform(p["bucketCounts"], _as_long)),),
        lambda: F.transform(F.col("bucket_counts"), _as_string),
    ),
    _PointField(
        "explicitBounds", T.ArrayType(_DBL),
        (("explicit_bounds", T.ArrayType(_DBL), lambda p: p["explicitBounds"]),),
        lambda: F.col("explicit_bounds"),
    ),
    _PointField(
        "scale", _INT,
        (("scale", _INT, lambda p: p["scale"]),),
        lambda: F.col("scale"),
    ),
    _PointField(
        "zeroCount", _STR,
        (("zero_count", _LONG, lambda p: p["zeroCount"].cast("long")),),
        lambda: F.col("zero_count").cast("string"),
    ),
    _PointField(
        "positive", _struct(offset=_INT, bucketCounts=T.ArrayType(_STR)),
        (
            ("pos_offset", _INT, lambda p: p["positive"]["offset"]),
            ("pos_bucket_counts", T.ArrayType(_LONG),
             lambda p: F.transform(p["positive"]["bucketCounts"], _as_long)),
        ),
        lambda: F.struct(
            F.col("pos_offset").alias("offset"),
            F.transform(F.col("pos_bucket_counts"), _as_string).alias("bucketCounts"),
        ),
    ),
    _PointField(
        "quantileValues", _QUANTILES,
        (("quantiles", _QUANTILES, lambda p: p["quantileValues"]),),
        lambda: F.col("quantiles"),
    ),
)


class _Branch(NamedTuple):
    """One Metric `data` oneof branch: its ``metric_type`` tag, JSON
    field, data-point wire fields, and whether it carries
    aggregationTemporality / isMonotonic."""

    name: str
    field: str
    points: tuple[str, ...]
    temporality: bool
    monotonic: bool


_NUMBER = ("asDouble", "asInt")
_BRANCHES = (
    _Branch("gauge", "gauge", _NUMBER, False, False),
    _Branch("sum", "sum", _NUMBER, True, True),
    _Branch(
        "histogram", "histogram",
        ("count", "sum", "bucketCounts", "explicitBounds"), True, False,
    ),
    _Branch(
        "exp_histogram", "exponentialHistogram",
        ("count", "sum", "scale", "zeroCount", "positive"), True, False,
    ),
    _Branch("summary", "summary", ("count", "sum", "quantileValues"), False, False),
)
_BRANCH = {b.name: b for b in _BRANCHES}
# metric_type's when-chain tests the other decoded branches in table order
# and tags whatever is left with this one
_OTHERWISE = "histogram"
_DATA_POINTS = "dataPoints"
_TEMPORALITY = "aggregationTemporality"
_MONOTONIC = "isMonotonic"
METRIC_BRANCHES = tuple(_BRANCH)

# The common point struct every branch's dataPoints normalize to.
_POINT = _struct(
    t=_STR,
    **{name: t for f in _POINT_FIELDS for name, t, _ in f.decode},
    attrs=_KV_LIST,
)


def _metrics_schema(branches: tuple[str, ...]) -> T.StructType:
    """The ExportMetricsServiceRequest read schema restricted to the
    requested Metric-oneof ``branches``. from_json skips JSON subtrees
    absent from the schema without materializing them, so a
    single-branch consumer (e.g. a histogram pipeline) decodes ~3x
    faster than through the full five-branch schema — the from_json
    analog of parquet column pruning (guide §6: pruning must reach the
    scan; Catalyst's JSON schema pruning cannot see through the
    generator chain, so the caller states its branches)."""
    fields = {}
    for b in _BRANCHES:
        if b.name not in branches:
            continue
        point = _struct(
            timeUnixNano=_STR,
            **{f.key: f.wire_type for f in _POINT_FIELDS if f.key in b.points},
            attributes=_KV_LIST,
        )
        data = {_DATA_POINTS: T.ArrayType(point)}
        if b.temporality:
            data[_TEMPORALITY] = _INT
        if b.monotonic:
            data[_MONOTONIC] = T.BooleanType()
        fields[b.field] = _struct(**data)
    return _envelope_schema("metrics", _struct(name=_STR, unit=_STR, **fields))


OTLP_EXPORT_METRICS_SCHEMA = _metrics_schema(METRIC_BRANCHES)


# --- decode (receiver side) -------------------------------------------------------


def _attr(entries, key: str):
    """First value for ``key`` in a KeyValue list — string branch first,
    int branch as fallback (the corpus never uses both on one key).
    ``F.get`` (not ``[0]``) so an absent key or empty attribute list is
    NULL instead of an ANSI INVALID_ARRAY_INDEX error."""
    hit = F.get(F.filter(entries, lambda a: a["key"] == F.lit(key)), 0)["value"]
    return F.coalesce(hit["stringValue"], hit["intValue"])


def _resource(signal: str) -> list[Column]:
    """The flat resource-attribute columns of an ``_unnest``ed frame."""
    return [
        _attr(F.col("_res_attrs"), key).alias(col)
        for key, col in _RESOURCE_ATTRS[signal]
    ]


def _unnest(df: DataFrame, schema: T.StructType, signal: str) -> DataFrame:
    """``from_json`` + explode resources, scopes, items: one row per item
    with ``_res_attrs``, ``scope_name``, ``scope_version`` and ``_item``.
    The explode fan-out is bounded by the request batch size, never the
    corpus, and nothing here shuffles."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    req = F.from_json(F.col(PAYLOAD_COL), schema)
    res = df.withColumn("_res", F.explode(req[res_key]))
    scopes = res.select(
        F.col("_res")["resource"]["attributes"].alias("_res_attrs"),
        F.explode(F.col("_res")[scope_key]).alias("_scope"),
    )
    return scopes.select(
        "_res_attrs",
        F.col("_scope")["scope"]["name"].alias("scope_name"),
        F.col("_scope")["scope"]["version"].alias("scope_version"),
        F.explode(F.col("_scope")[items_key]).alias("_item"),
    )


def parse_otlp_json(df: DataFrame) -> DataFrame:
    """Decode a ``payload`` column of OTLP/JSON ExportLogsServiceRequest
    payloads into one flat row per LogRecord.

    Plan shape: `from_json` → 3 nested `explode`s (Generate nodes) → one
    projection; everything stays in whole-stage codegen. At 100 TB this
    is a scan-side decode with no shuffle at all — the exact role of the
    reference's OTLP receiver (views/otlp/proto/logs.rs).
    """
    r = F.col("_item")
    return _unnest(df, OTLP_EXPORT_LOGS_SCHEMA, "logs").select(
        *_resource("logs"),
        "scope_name",
        "scope_version",
        r["timeUnixNano"].cast("long").alias("time_unix_nano"),
        r["severityNumber"].alias("severity_number"),
        r["severityText"].alias("severity_text"),
        r["body"]["stringValue"].alias("body"),
        r["traceId"].alias("trace_id"),
        r["spanId"].alias("span_id"),
        F.coalesce(r["droppedAttributesCount"], F.lit(0)).alias(
            "dropped_attributes_count"
        ),
        _attr(r["attributes"], "event.index").cast("long").alias(
            "event_index"
        ),
        F.map_from_entries(
            F.transform(
                r["attributes"],
                lambda a: F.struct(
                    a["key"].alias("key"),
                    F.coalesce(
                        a["value"]["stringValue"], a["value"]["intValue"]
                    ).alias("value"),
                ),
            )
        ).alias("attributes"),
    )


def parse_otlp_traces_json(df: DataFrame) -> DataFrame:
    """Decode OTLP/JSON ExportTraceServiceRequest payloads into one flat
    row per span — the traces twin of :func:`parse_otlp_json`, same
    zero-Python zero-shuffle scan-side plan. ``status.code`` defaults to
    0 (UNSET) when omitted, per the proto3 default; a missing
    ``parentSpanId`` stays NULL (root span)."""
    s = F.col("_item")
    start = s["startTimeUnixNano"].cast("long")
    end = s["endTimeUnixNano"].cast("long")
    return _unnest(df, OTLP_EXPORT_TRACES_SCHEMA, "traces").select(
        *_resource("traces"),
        "scope_name",
        "scope_version",
        s["traceId"].alias("trace_id"),
        s["spanId"].alias("span_id"),
        s["parentSpanId"].alias("parent_span_id"),
        s["name"].alias("name"),
        s["kind"].alias("kind"),
        start.alias("start_unix_nano"),
        end.alias("end_unix_nano"),
        (end - start).alias("duration_ns"),
        F.coalesce(s["status"]["code"], F.lit(0)).alias("status_code"),
        s["status"]["message"].alias("status_message"),
        _attr(s["attributes"], "peer.service").alias("peer_service"),
        _attr(s["attributes"], "span.seq").cast("long").alias("span_seq"),
    )


def _point(branch: _Branch) -> Callable[[Column], Column]:
    """``branch``'s wire data point → the common point struct; fields the
    branch lacks are typed NULLs."""

    def point(p: Column) -> Column:
        decoded = {
            name: fn(p)
            for f in _POINT_FIELDS if f.key in branch.points
            for name, _, fn in f.decode
        }
        return F.struct(
            p["timeUnixNano"].alias("t"),
            *[
                decoded.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
                for f in _POINT.fields[1:-1]
            ],
            p["attributes"].alias("attrs"),
        )

    return point


def parse_otlp_metrics_json(
    df: DataFrame,
    branches: tuple[str, ...] = METRIC_BRANCHES,
) -> DataFrame:
    """Decode OTLP/JSON ExportMetricsServiceRequest payloads into one flat
    row per data point, across all five Metric `data` oneof branches
    (gauge / sum / histogram / exponentialHistogram / summary).

    The oneof is normalized scan-side: each branch's dataPoints array is
    `transform`ed into ONE common point struct (number branches fill the
    value field, histogram fills count/sum/buckets, exp-histogram fills
    scale/zero/positive-side, summary fills the quantile snapshot) and
    the five are `concat`ed, so a single `explode` handles every metric
    kind — still from_json + 4 Generates, zero shuffle, zero Python,
    exactly like the logs/traces decoders. Branch tags: metric_type from
    whichever oneof field is non-NULL; temporality/monotonic NULL where
    the proto lacks them (gauge, summary).

    ``branches`` restricts BOTH the from_json read schema and the point
    normalization to the named oneof branches: a consumer that only needs
    one metric kind (a histogram-percentile pipeline, say) skips decoding
    the other four subtrees entirely — measured ~3x on the decode.
    Points of excluded branches simply never materialize (their
    dataPoints are absent from the schema), so filtering on
    ``metric_type`` after a restricted decode equals filtering after the
    full decode. Output schema is identical for every branch choice."""
    unknown = set(branches) - set(METRIC_BRANCHES)
    if unknown:
        raise ValueError(f"unknown metric branches: {sorted(unknown)}")
    if not branches:
        raise ValueError("at least one metric branch is required")
    decoded = [b for b in _BRANCHES if b.name in branches]
    mc = F.col("_item")
    # expressions over the DECODED branches only (they must not name
    # absent fields); the when-chain order (gauge, sum, exp_histogram,
    # summary, `otherwise` histogram) matches the all-branch form exactly
    # when every branch is requested
    metric_type = F.when(F.lit(False), F.lit(None).cast("string"))
    for b in decoded:
        if b.name != _OTHERWISE:
            metric_type = metric_type.when(mc[b.field].isNotNull(), F.lit(b.name))
    if _OTHERWISE in branches:
        metric_type = metric_type.otherwise(F.lit(_OTHERWISE))
    temporality = [mc[b.field][_TEMPORALITY] for b in decoded if b.temporality]
    monotonic = [mc[b.field][_MONOTONIC] for b in decoded if b.monotonic]
    empty = F.array().cast(T.ArrayType(_POINT))
    point_arrays = [
        F.coalesce(F.transform(mc[b.field][_DATA_POINTS], _point(b)), empty)
        for b in decoded
    ]
    pts = _unnest(df, _metrics_schema(branches), "metrics").select(
        "_res_attrs",
        "scope_name",
        "scope_version",
        mc["name"].alias("metric_name"),
        mc["unit"].alias("metric_unit"),
        metric_type.alias("metric_type"),
        (
            F.coalesce(*temporality) if temporality else F.lit(None).cast("int")
        ).alias("temporality"),
        (
            F.coalesce(*monotonic) if monotonic else F.lit(None).cast("boolean")
        ).alias("is_monotonic"),
        F.explode(
            F.concat(*point_arrays) if len(point_arrays) > 1 else point_arrays[0]
        ).alias("_p"),
    )
    p = F.col("_p")
    return pts.select(
        *_resource("metrics"),
        "scope_name",
        "scope_version",
        "metric_name",
        "metric_unit",
        "metric_type",
        "temporality",
        "is_monotonic",
        p["t"].cast("long").alias("time_unix_nano"),
        *[
            p[f.name].alias("sum_value" if f.name == "sum" else f.name)
            for f in _POINT.fields[1:-1]
        ],
        _attr(p["attrs"], "host.name").alias("host_name"),
        _attr(p["attrs"], "point.seq").cast("long").alias("point_seq"),
    )


# --- encode (exporter side) ---------------------------------------------------


def _kv(key, string: Column | None = None, int: Column | None = None) -> Column:
    """A KeyValue struct; the AnyValue branch left None is NULL, which
    ``to_json`` omits from the wire."""
    null = F.lit(None).cast("string")
    return F.struct(
        (F.lit(key) if isinstance(key, str) else key).alias("key"),
        F.struct(
            (null if string is None else string).alias("stringValue"),
            (null if int is None else int).alias("intValue"),
        ).alias("value"),
    )


def _encode(
    df: DataFrame,
    signal: str,
    item: Column,
    bucket_of: str,
    group: tuple[str, ...] = (),
    items=lambda collected: collected,
) -> DataFrame:
    """Flat rows → one ``payload`` per (resource, scope, ``group``,
    bucket): ``item`` is built per row, ``collect_list``ed per request,
    mapped by ``items`` and nested under the scope and the resource by
    ``to_json``. The bucket — a stable hash of ``bucket_of`` —
    bounds request size; the groupBy is the exporter's batching shuffle,
    the ONE shuffle an encode needs at any scale."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    resource = _RESOURCE_ATTRS[signal]
    grouped = (
        df.withColumn("_item", item)
        .withColumn(
            "_bucket", F.pmod(F.xxhash64(bucket_of), F.lit(ENCODE_BUCKETS))
        )
        .groupBy(
            *[c for _, c in resource], "scope_name", "scope_version", *group,
            "_bucket",
        )
        .agg(F.collect_list("_item").alias("_items"))
    )
    scope = F.struct(
        F.struct(
            F.col("scope_name").alias("name"),
            F.col("scope_version").alias("version"),
        ).alias("scope"),
        items(F.col("_items")).alias(items_key),
    )
    request = F.struct(
        F.array(
            F.struct(
                F.struct(
                    F.array(*[_kv(k, string=F.col(c)) for k, c in resource]).alias(
                        "attributes"
                    )
                ).alias("resource"),
                F.array(scope).alias(scope_key),
            )
        ).alias(res_key)
    )
    return grouped.select(F.to_json(request).alias(PAYLOAD_COL))


def encode_otlp_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_json`: flat log rows back to OTLP/JSON
    ExportLogsServiceRequest payloads — the exporter half of the protocol
    (go/pkg/otel/logs/otlp/logs.go is the reference's columnar→OTLP
    inverse; this is the same re-nesting with Catalyst building the
    batches). One request per (resource attributes, scope, bucket): rows
    sharing a resource+scope re-batch together, the bucket (a stable hash
    of the timestamp) bounding request size.

    Proto3 JSON fidelity: int64s re-serialize as strings (`timeUnixNano`
    stays the string form of the BIGINT), AnyValue branches are rebuilt
    from the flat map (``LOG_INT_ATTR_KEYS`` go back to ``intValue``, the
    rest to ``stringValue``), and absent-on-the-wire fields (NULL trace
    ids, zero droppedAttributesCount) are omitted again because
    ``to_json`` drops NULL fields — so parse∘encode∘parse is
    row-identical even though record order inside a payload is
    nondeterministic (collect_list order).

    Returns a DataFrame with a single ``payload`` string column.
    """

    def attr(e):
        is_int = e["key"].isin(*LOG_INT_ATTR_KEYS)
        return _kv(
            e["key"],
            string=F.when(~is_int, e["value"]),
            int=F.when(is_int, e["value"]),
        )

    record = F.struct(
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        F.col("severity_number").alias("severityNumber"),
        F.col("severity_text").alias("severityText"),
        F.struct(F.col("body").alias("stringValue")).alias("body"),
        F.transform(F.map_entries(F.col("attributes")), attr).alias("attributes"),
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
        F.when(
            F.col("dropped_attributes_count") > 0,
            F.col("dropped_attributes_count"),
        ).alias("droppedAttributesCount"),
    )
    return _encode(df, "logs", record, "time_unix_nano")


def encode_otlp_traces_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_traces_json`: flat span rows back to
    OTLP/JSON ExportTraceServiceRequest payloads — the traces twin of
    :func:`encode_otlp_json` (go/pkg/otel/traces/otlp is the reference's
    inverse direction). Batching: one request per (resource, scope,
    trace-id hash bucket) — spans of one trace always land in ONE request
    (trace-coherent batching, what a tail-sampling exporter needs), with
    the bucket bounding request size. Same single batching shuffle.

    Proto3 fidelity: NULL fields are omitted from the wire, so a root
    span has no parentSpanId. Status is re-nested as ``{"code", "message"}``
    with code 0 (UNSET) and a NULL message omitted, which leaves
    ``"status":{}`` on a span with neither; an empty-string message is
    written as ``""``. The span attributes are rebuilt from the typed
    flat columns.
    """
    record = F.struct(
        F.col("trace_id").alias("traceId"),
        F.col("span_id").alias("spanId"),
        F.col("parent_span_id").alias("parentSpanId"),
        F.col("name").alias("name"),
        F.col("kind").alias("kind"),
        F.col("start_unix_nano").cast("string").alias("startTimeUnixNano"),
        F.col("end_unix_nano").cast("string").alias("endTimeUnixNano"),
        F.array(
            _kv("peer.service", string=F.col("peer_service")),
            _kv("span.seq", int=F.col("span_seq").cast("string")),
        ).alias("attributes"),
        F.struct(
            F.when(F.col("status_code") != 0, F.col("status_code")).alias(
                "code"
            ),
            F.col("status_message").alias("message"),
        ).alias("status"),
    )
    return _encode(df, "traces", record, "trace_id")


def encode_otlp_metrics_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_metrics_json`: flat data-point rows
    back to OTLP/JSON ExportMetricsServiceRequest payloads across all
    five Metric oneof branches — completing the bidirectional OTLP
    surface for the third signal (go/pkg/otel/metrics is the reference's
    inverse direction). One request per (resource, scope, metric,
    branch metadata, time-hash bucket); the branch struct is rebuilt
    conditionally and ``to_json`` drops the four absent oneof fields.

    Number points re-serialize as ``asDouble`` regardless of the
    original wire branch: the parse coalesces asInt/asDouble into one
    double, so the int-vs-double distinction is wire-level only — the
    FLAT rows round-trip exactly (doubles are lossless for |v| < 2^53,
    and OTLP consumers treat the two branches as the same number).
    """
    t = F.col("metric_type")
    point = F.struct(
        F.col("time_unix_nano").cast("string").alias("timeUnixNano"),
        *[
            F.when(
                t.isin(*[b.name for b in _BRANCHES if f.key in b.points]),
                f.encode(),
            ).alias(f.key)
            for f in _POINT_FIELDS
            if f.encode is not None
        ],
        F.array(
            _kv("host.name", string=F.col("host_name")),
            _kv("point.seq", int=F.col("point_seq").cast("string")),
        ).alias("attributes"),
    )

    def metric(pts: Column) -> Column:
        def branch(b: _Branch) -> Column:
            data = [pts.alias(_DATA_POINTS)]
            if b.temporality:
                data.append(F.col("temporality").alias(_TEMPORALITY))
            if b.monotonic:
                data.append(F.col("is_monotonic").alias(_MONOTONIC))
            return F.when(t == b.name, F.struct(*data)).alias(b.field)

        return F.array(
            F.struct(
                F.col("metric_name").alias("name"),
                F.col("metric_unit").alias("unit"),
                *[branch(b) for b in _BRANCHES],
            )
        )

    return _encode(
        df, "metrics", point, "time_unix_nano",
        group=("metric_name", "metric_unit", "metric_type", "temporality",
               "is_monotonic"),
        items=metric,
    )
