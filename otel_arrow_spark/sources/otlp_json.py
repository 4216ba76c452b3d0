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
* encode: rows → `collect_list` per (resource, scope, bucket) →
  `to_json`, the exporter's batching shuffle and nothing else. Logs and
  metrics requests hold at most `ENCODE_BATCH_ITEMS` items, as the
  reference's batch processor flushes by item count; a traces request
  holds whole traces. The shuffle has a fixed reducer count, one per core
  at least, so the reduce stage runs on every core.

Resource and scope are one layer shared by every signal, as in the
reference: `_ENVELOPE` names each signal's `resourceX → scopeX → items`
keys, and the read schema, the decode, the encode and the generators
all build that envelope through it. The five-branch Metric `data` oneof
is likewise one table, `_BRANCHES`, over one data-point field table,
`_POINT_FIELDS`.

Every decode and encode expression is SQL text, built once at import
from those tables (the metrics decode once per ``branches`` choice). A
decode is one `selectExpr` per nesting level and an encode one
`selectExpr`, one groupBy/agg and one `selectExpr`, so building a plan
costs a few py4j calls per layer, not one per expression node.

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

import functools
import json
from typing import NamedTuple

import numpy as np

from pyspark.sql import DataFrame
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
# Items per logs or metrics request at most: the OpenTelemetry Collector
# batch processor's default send size. A power of two no larger than 2^33,
# so that ``monotonically_increasing_id() DIV ENCODE_BATCH_ITEMS`` (the id
# is partition index << 33 | row index) never puts two map partitions'
# rows in one bucket.
ENCODE_BATCH_ITEMS = 8192
# Trace-id hash buckets per (resource, scope) in the traces encoder. They
# keep every trace in one request (coherence); they bound no size.
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


# --- SQL text -------------------------------------------------------------------
# The builders of the codec's SQL text (module docstring: why text).


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _lit(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _named_struct(*fields: tuple[str, str]) -> str:
    """``named_struct`` of (name, SQL expression) pairs, in order."""
    return "named_struct(" + ", ".join(f"{_lit(k)}, {v}" for k, v in fields) + ")"


# The value of a KeyValue ``a``: string branch first, int branch as fallback
# (the corpus never uses both on one key).
_ANY = "coalesce(a.value.stringValue, a.value.intValue)"


def _attr(entries: str, key: str) -> str:
    """First value for ``key`` in the KeyValue list ``entries``; the
    filter runs once per row, and ``get`` (not ``[0]``) makes an absent
    key or an empty list NULL instead of an ANSI INVALID_ARRAY_INDEX
    error."""
    return f"get(transform(filter({entries}, a -> a.key = {_lit(key)}), a -> {_ANY}), 0)"


def _cast_each(arr: str, to: str) -> str:
    return f"transform({arr}, x -> CAST(x AS {to}))"


class _PointField(NamedTuple):
    """One data-point wire field, between ``timeUnixNano`` and
    ``attributes``: its JSON key and read type, the common point fields
    it decodes to — (name, type, SQL over the wire point ``p``) — and its
    SQL encoding from the flat row (None: decode-only)."""

    key: str
    wire_type: T.DataType
    decode: tuple[tuple[str, T.DataType, str], ...]
    encode: str | None


_QUANTILES = T.ArrayType(_struct(quantile=_DBL, value=_DBL))
# Every data-point wire field of the five branches, in read-schema order.
_POINT_FIELDS = (
    _PointField(
        "asDouble", _DBL,
        (("value", _DBL, "coalesce(p.asDouble, CAST(p.asInt AS DOUBLE))"),),
        "`value`",
    ),
    # the parse folds asInt into `value`; encoders write asDouble only
    _PointField("asInt", _STR, (), None),  # uint64 → JSON string
    _PointField(
        "count", _STR,
        (("count", _LONG, "CAST(p.`count` AS BIGINT)"),),
        "CAST(`count` AS STRING)",
    ),
    _PointField("sum", _DBL, (("sum", _DBL, "p.`sum`"),), "sum_value"),
    _PointField(
        "bucketCounts", T.ArrayType(_STR),
        (("bucket_counts", T.ArrayType(_LONG), _cast_each("p.bucketCounts", "BIGINT")),),
        _cast_each("bucket_counts", "STRING"),
    ),
    _PointField(
        "explicitBounds", T.ArrayType(_DBL),
        (("explicit_bounds", T.ArrayType(_DBL), "p.explicitBounds"),),
        "explicit_bounds",
    ),
    _PointField("scale", _INT, (("scale", _INT, "p.scale"),), "scale"),
    _PointField(
        "zeroCount", _STR,
        (("zero_count", _LONG, "CAST(p.zeroCount AS BIGINT)"),),
        "CAST(zero_count AS STRING)",
    ),
    _PointField(
        "positive", _struct(offset=_INT, bucketCounts=T.ArrayType(_STR)),
        (
            ("pos_offset", _INT, "p.positive.`offset`"),
            ("pos_bucket_counts", T.ArrayType(_LONG),
             _cast_each("p.positive.bucketCounts", "BIGINT")),
        ),
        _named_struct(
            ("offset", "pos_offset"),
            ("bucketCounts", _cast_each("pos_bucket_counts", "STRING")),
        ),
    ),
    _PointField(
        "quantileValues", _QUANTILES,
        (("quantiles", _QUANTILES, "p.quantileValues"),),
        "quantiles",
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


def _decode(df: DataFrame, layers: tuple[tuple[str, ...], ...]) -> DataFrame:
    """``df`` through each layer's SQL projection in turn."""
    for exprs in layers:
        df = df.selectExpr(*exprs)
    return df


def _head(signal: str) -> tuple[str, ...]:
    """The leading columns of every decoded row: the flat resource
    attributes, then the scope."""
    return (*[c for _, c in _RESOURCE_ATTRS[signal]], "scope_name", "scope_version")


def _unnest(schema: T.StructType, signal: str) -> tuple[tuple[str, ...], ...]:
    """The layers of ``from_json`` + explode resources, scopes, items: one
    row per item with the ``_head`` columns and ``_item``. The resource
    attributes are resolved above the scopes explode, the scope name and
    version above the items explode, so once per resource and once per
    scope rather than once per item. Each explode's array is its own
    column that nothing above it reads, so an exploded row never carries
    its parent: a row that kept the whole ``_scope`` would copy the
    request's entire item list once per item, quadratic in the request
    size (a 2,000-record logs request ran a 2 GB heap out of memory).
    The explode fan-out is bounded by the request batch size, never the
    corpus, and nothing here shuffles."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    attrs = _RESOURCE_ATTRS[signal]
    resource = tuple(c for _, c in attrs)
    request = f"from_json({_q(PAYLOAD_COL)}, {_lit(schema.simpleString())})"
    return (
        (f"explode({request}.{_q(res_key)}) AS _res",),
        (
            *[f"{_attr('_res.resource.attributes', k)} AS {c}" for k, c in attrs],
            f"_res.{_q(scope_key)} AS _scopes",
        ),
        (*resource, "explode(_scopes) AS _scope"),
        (
            *resource,
            "_scope.scope.name AS scope_name",
            "_scope.scope.version AS scope_version",
            f"_scope.{_q(items_key)} AS _scope_items",
        ),
        (*_head(signal), "explode(_scope_items) AS _item"),
    )


_LOGS_DECODE = (
    *_unnest(OTLP_EXPORT_LOGS_SCHEMA, "logs"),
    (
        *_head("logs"),
        "CAST(_item.timeUnixNano AS BIGINT) AS time_unix_nano",
        "_item.severityNumber AS severity_number",
        "_item.severityText AS severity_text",
        "_item.body.stringValue AS body",
        "_item.traceId AS trace_id",
        "_item.spanId AS span_id",
        "coalesce(_item.droppedAttributesCount, 0) AS dropped_attributes_count",
        f"CAST({_attr('_item.attributes', 'event.index')} AS BIGINT) AS event_index",
        "map_from_entries(transform(_item.attributes, a -> "
        f"{_named_struct(('key', 'a.key'), ('value', _ANY))})) AS attributes",
    ),
)


def parse_otlp_json(df: DataFrame) -> DataFrame:
    """Decode a ``payload`` column of OTLP/JSON ExportLogsServiceRequest
    payloads into one flat row per LogRecord.

    Plan shape: `from_json` → 3 nested `explode`s (Generate nodes), the
    resource attributes resolved between the scope and item explodes →
    one projection; no Python, no shuffle. At 100 TB this
    is a scan-side decode with no shuffle at all — the exact role of the
    reference's OTLP receiver (views/otlp/proto/logs.rs).
    """
    return _decode(df, _LOGS_DECODE)


_START = "CAST(_item.startTimeUnixNano AS BIGINT)"
_END = "CAST(_item.endTimeUnixNano AS BIGINT)"
_TRACES_DECODE = (
    *_unnest(OTLP_EXPORT_TRACES_SCHEMA, "traces"),
    (
        *_head("traces"),
        "_item.traceId AS trace_id",
        "_item.spanId AS span_id",
        "_item.parentSpanId AS parent_span_id",
        "_item.name AS name",
        "_item.kind AS kind",
        f"{_START} AS start_unix_nano",
        f"{_END} AS end_unix_nano",
        f"{_END} - {_START} AS duration_ns",
        "coalesce(_item.status.code, 0) AS status_code",
        "_item.status.message AS status_message",
        f"{_attr('_item.attributes', 'peer.service')} AS peer_service",
        f"CAST({_attr('_item.attributes', 'span.seq')} AS BIGINT) AS span_seq",
    ),
)


def parse_otlp_traces_json(df: DataFrame) -> DataFrame:
    """Decode OTLP/JSON ExportTraceServiceRequest payloads into one flat
    row per span — the traces twin of :func:`parse_otlp_json`, same
    zero-Python zero-shuffle scan-side plan. ``status.code`` defaults to
    0 (UNSET) when omitted, per the proto3 default; a missing
    ``parentSpanId`` stays NULL (root span)."""
    return _decode(df, _TRACES_DECODE)


def _point(branch: _Branch) -> str:
    """``branch``'s wire data point ``p`` → the common point struct;
    fields the branch lacks are typed NULLs."""
    decoded = {
        name: sql
        for f in _POINT_FIELDS if f.key in branch.points
        for name, _, sql in f.decode
    }
    return _named_struct(
        ("t", "p.timeUnixNano"),
        *[
            (f.name, decoded.get(f.name, f"CAST(NULL AS {f.dataType.simpleString()})"))
            for f in _POINT.fields[1:-1]
        ],
        ("attrs", "p.attributes"),
    )


def _coalesce(exprs: list[str], null_type: str) -> str:
    return f"coalesce({', '.join(exprs)})" if exprs else f"CAST(NULL AS {null_type})"


@functools.cache
def _metrics_sql(branches: tuple[str, ...]) -> tuple[tuple[str, ...], ...]:
    """The decode layers of :func:`parse_otlp_metrics_json` for the Metric
    oneof ``branches``: plain strings, so nothing cached here outlives a
    session."""
    decoded = [b for b in _BRANCHES if b.name in branches]
    # expressions over the DECODED branches only (they must not name
    # absent fields); the when-chain order (gauge, sum, exp_histogram,
    # summary, ELSE histogram) matches the all-branch form exactly when
    # every branch is requested
    metric_type = "CASE WHEN false THEN CAST(NULL AS STRING)"
    for b in decoded:
        if b.name != _OTHERWISE:
            metric_type += f" WHEN _item.{_q(b.field)} IS NOT NULL THEN {_lit(b.name)}"
    if _OTHERWISE in branches:
        metric_type += f" ELSE {_lit(_OTHERWISE)}"
    metric_type += " END"
    temporality = [f"_item.{_q(b.field)}.{_TEMPORALITY}" for b in decoded if b.temporality]
    monotonic = [f"_item.{_q(b.field)}.{_MONOTONIC}" for b in decoded if b.monotonic]
    empty = f"CAST(array() AS array<{_POINT.simpleString()}>)"
    points = ", ".join(
        f"coalesce(transform(_item.{_q(b.field)}.{_DATA_POINTS}, p -> {_point(b)}), {empty})"
        for b in decoded
    )
    return (
        *_unnest(_metrics_schema(branches), "metrics"),
        (
            *_head("metrics"),
            "_item.name AS metric_name",
            "_item.unit AS metric_unit",
            f"{metric_type} AS metric_type",
            f"{_coalesce(temporality, 'INT')} AS temporality",
            f"{_coalesce(monotonic, 'BOOLEAN')} AS is_monotonic",
            f"explode({points if len(decoded) == 1 else f'concat({points})'}) AS _p",
        ),
        (
            *_head("metrics"),
            "metric_name",
            "metric_unit",
            "metric_type",
            "temporality",
            "is_monotonic",
            "CAST(_p.t AS BIGINT) AS time_unix_nano",
            *[
                f"_p.{_q(f.name)} AS {'sum_value' if f.name == 'sum' else _q(f.name)}"
                for f in _POINT.fields[1:-1]
            ],
            f"{_attr('_p.attrs', 'host.name')} AS host_name",
            f"CAST({_attr('_p.attrs', 'point.seq')} AS BIGINT) AS point_seq",
        ),
    )


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
    return _decode(df, _metrics_sql(tuple(branches)))


# --- encode (exporter side) ---------------------------------------------------


_NULL = "CAST(NULL AS STRING)"


def _kv(key: str, string: str = _NULL, int: str = _NULL) -> str:
    """A KeyValue struct from SQL expressions; the AnyValue branch left
    NULL is omitted from the wire by ``to_json``."""
    return _named_struct(
        ("key", key),
        ("value", _named_struct(("stringValue", string), ("intValue", int))),
    )


class _Encoder(NamedTuple):
    """One signal's encode as SQL text: the request keys, ``_bucket``
    included, the per-row projection (keys, ``_item``) and the
    ``to_json`` of the nested request."""

    keys: tuple[str, ...]
    rows: tuple[str, ...]
    request: str


# A logs or metrics request: one group's rows among at most
# ENCODE_BATCH_ITEMS consecutive rows of one map partition.
_BATCH_BUCKET = f"monotonically_increasing_id() DIV {ENCODE_BATCH_ITEMS}"


def _encoder(
    signal: str,
    item: str,
    bucket: str,
    group: tuple[str, ...] = (),
    items: str = "_items",
) -> _Encoder:
    """Flat rows → one ``payload`` per (resource, scope, ``group``,
    ``bucket``): ``item`` is built per row, ``collect_list``ed per
    request into ``_items``, mapped by ``items`` and nested under the
    scope and the resource by ``to_json``. ``bucket`` is a SQL
    expression over the row that splits a group into requests; the
    groupBy is the exporter's batching shuffle, the ONE shuffle an encode
    needs at any scale."""
    res_key, scope_key, items_key = _ENVELOPE[signal]
    resource = _RESOURCE_ATTRS[signal]
    keys = (*_head(signal), *group)
    scope = _named_struct(
        ("scope", _named_struct(("name", "scope_name"), ("version", "scope_version"))),
        (items_key, items),
    )
    attributes = ", ".join(_kv(_lit(k), string=c) for k, c in resource)
    request = _named_struct((res_key, "array(" + _named_struct(
        ("resource", _named_struct(("attributes", f"array({attributes})"))),
        (scope_key, f"array({scope})"),
    ) + ")"))
    return _Encoder(
        (*keys, "_bucket"),
        (*keys, f"{item} AS _item", f"{bucket} AS _bucket"),
        f"to_json({request}) AS {_q(PAYLOAD_COL)}",
    )


def _encode(df: DataFrame, enc: _Encoder) -> DataFrame:
    """``enc`` over ``df``. The rows are hash-partitioned on the request
    keys into a fixed number of reducers, at least one per core: AQE
    leaves such an exchange as it is (it would merge a small encode's
    shuffle into one reducer), and the aggregate reuses its partitioning,
    so the encode keeps one ``Exchange``."""
    spark = df.sparkSession
    reducers = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return (
        df.selectExpr(*enc.rows)
        .repartition(reducers, *enc.keys)
        .groupBy(*enc.keys)
        .agg(F.collect_list("_item").alias("_items"))
        .selectExpr(enc.request)
    )


_LOG_INT_KEY = f"e.key IN ({', '.join(map(_lit, LOG_INT_ATTR_KEYS))})"
_LOGS_ENCODE = _encoder(
    "logs",
    _named_struct(
        ("timeUnixNano", "CAST(time_unix_nano AS STRING)"),
        ("severityNumber", "severity_number"),
        ("severityText", "severity_text"),
        ("body", _named_struct(("stringValue", "body"))),
        ("attributes", "transform(map_entries(attributes), e -> " + _kv(
            "e.key",
            string=f"CASE WHEN NOT ({_LOG_INT_KEY}) THEN e.value END",
            int=f"CASE WHEN {_LOG_INT_KEY} THEN e.value END",
        ) + ")"),
        ("traceId", "trace_id"),
        ("spanId", "span_id"),
        ("droppedAttributesCount",
         "CASE WHEN dropped_attributes_count > 0 THEN dropped_attributes_count END"),
    ),
    _BATCH_BUCKET,
)


def encode_otlp_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_json`: flat log rows back to OTLP/JSON
    ExportLogsServiceRequest payloads — the exporter half of the protocol
    (go/pkg/otel/logs/otlp/logs.go is the reference's columnar→OTLP
    inverse; this is the same re-nesting with Catalyst building the
    batches). Rows sharing a resource+scope re-batch together, into
    requests of at most ``ENCODE_BATCH_ITEMS`` records: one request per
    (resource attributes, scope, run of ``ENCODE_BATCH_ITEMS``
    consecutive rows of one input partition).

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
    return _encode(df, _LOGS_ENCODE)


_TRACES_ENCODE = _encoder(
    "traces",
    _named_struct(
        ("traceId", "trace_id"),
        ("spanId", "span_id"),
        ("parentSpanId", "parent_span_id"),
        ("name", "name"),
        ("kind", "kind"),
        ("startTimeUnixNano", "CAST(start_unix_nano AS STRING)"),
        ("endTimeUnixNano", "CAST(end_unix_nano AS STRING)"),
        ("attributes", "array(" + ", ".join([
            _kv(_lit("peer.service"), string="peer_service"),
            _kv(_lit("span.seq"), int="CAST(span_seq AS STRING)"),
        ]) + ")"),
        ("status", _named_struct(
            ("code", "CASE WHEN status_code != 0 THEN status_code END"),
            ("message", "status_message"),
        )),
    ),
    # for coherence, not size: a trace's spans share one bucket
    f"pmod(xxhash64(trace_id), {ENCODE_BUCKETS})",
)


def encode_otlp_traces_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_traces_json`: flat span rows back to
    OTLP/JSON ExportTraceServiceRequest payloads — the traces twin of
    :func:`encode_otlp_json` (go/pkg/otel/traces/otlp is the reference's
    inverse direction). Batching: one request per (resource, scope,
    trace-id hash bucket) — spans of one trace always land in ONE request
    (trace-coherent batching, what a tail-sampling exporter needs). The
    ``ENCODE_BUCKETS`` buckets split a (resource, scope) group for that
    coherence; they do not bound request size. Same single batching
    shuffle.

    Proto3 fidelity: NULL fields are omitted from the wire, so a root
    span has no parentSpanId. Status is re-nested as ``{"code", "message"}``
    with code 0 (UNSET) and a NULL message omitted, which leaves
    ``"status":{}`` on a span with neither; an empty-string message is
    written as ``""``. The span attributes are rebuilt from the typed
    flat columns.
    """
    return _encode(df, _TRACES_ENCODE)


def _metric_data(b: _Branch) -> tuple[str, str]:
    """``b``'s oneof field of a re-nested Metric: its data struct on rows
    of that ``metric_type``, NULL (omitted) on the others."""
    data = [(_DATA_POINTS, "_items")]
    if b.temporality:
        data.append((_TEMPORALITY, "temporality"))
    if b.monotonic:
        data.append((_MONOTONIC, "is_monotonic"))
    return b.field, f"CASE WHEN metric_type = {_lit(b.name)} THEN {_named_struct(*data)} END"


_METRICS_ENCODE = _encoder(
    "metrics",
    _named_struct(
        ("timeUnixNano", "CAST(time_unix_nano AS STRING)"),
        *[
            (f.key, "CASE WHEN metric_type IN ("
             + ", ".join(_lit(b.name) for b in _BRANCHES if f.key in b.points)
             + f") THEN {f.encode} END")
            for f in _POINT_FIELDS
            if f.encode is not None
        ],
        ("attributes", "array(" + ", ".join([
            _kv(_lit("host.name"), string="host_name"),
            _kv(_lit("point.seq"), int="CAST(point_seq AS STRING)"),
        ]) + ")"),
    ),
    _BATCH_BUCKET,
    group=("metric_name", "metric_unit", "metric_type", "temporality", "is_monotonic"),
    items="array(" + _named_struct(
        ("name", "metric_name"),
        ("unit", "metric_unit"),
        *[_metric_data(b) for b in _BRANCHES],
    ) + ")",
)


def encode_otlp_metrics_json(df: DataFrame) -> DataFrame:
    """Inverse of :func:`parse_otlp_metrics_json`: flat data-point rows
    back to OTLP/JSON ExportMetricsServiceRequest payloads across all
    five Metric oneof branches — completing the bidirectional OTLP
    surface for the third signal (go/pkg/otel/metrics is the reference's
    inverse direction). One request per (resource, scope, metric,
    branch metadata, run of ``ENCODE_BATCH_ITEMS`` consecutive rows of
    one input partition), so at most ``ENCODE_BATCH_ITEMS`` points; the
    branch struct is rebuilt conditionally and ``to_json`` drops the
    four absent oneof fields.

    Number points re-serialize as ``asDouble`` regardless of the
    original wire branch: the parse coalesces asInt/asDouble into one
    double, so the int-vs-double distinction is wire-level only — the
    FLAT rows round-trip exactly (doubles are lossless for |v| < 2^53,
    and OTLP consumers treat the two branches as the same number).
    """
    return _encode(df, _METRICS_ENCODE)
