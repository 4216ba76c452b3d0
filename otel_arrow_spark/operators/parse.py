"""Parse stage: structured extraction from the raw ``text`` column.

Reference analog: the syslog/CEF receiver's structural parser — format
auto-detection (parser/mod.rs:46-104), severity mapping
(parser/parsed_message.rs:426-436), CEF key=value extension parsing
(parser/cef.rs:226-260) — which turns raw bytes directly into typed,
dictionary-encoded Arrow columns (arrow_records_encoder.rs:18-81).

One Arrow-batched ``pandas_udf`` runs the three anchored template-family
regexes with Arrow's RE2 ``extract_regex`` over the whole batch, so all ten
fields come out of one structural pass (vectorized, never per-row Python).
The Arrow eval node is a materialization barrier: each regex runs exactly
once per row, however many downstream references the parsed fields have.

Unparseable rows (the ~5% chaos fraction) yield all-null parsed fields and
``is_parsed = false`` — the analog of UnknownFormat handling
(parser/mod.rs:41-43); they are *kept* and routed to the default sink,
and counted as ``rows_unparsed`` in the lineage manifest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Template-family regexes in the Python ``re`` dialect — the readable
# grammar, and what the tests' independent oracle matches with
# ``re.match(..., re.ASCII)``.
SEVERITY_RE = r"^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[([a-z]+)\] ([\s\S]*)$"
CALL_RE = r"^CALL tool=(\w+) args_len=(\d+) status=(\w+) dur_ms=(\d+)$"
SPAN_RE = r"^span trace=([0-9a-f]{32}) span=([0-9a-f]{16}) event=(\w+\.\w+)$"

# RE2 twins of the three family regexes for the parse UDF
# (pyarrow.compute.extract_regex needs named groups). Two dialect notes,
# both keeping the twins equal to the Python-``re`` grammar above:
# * RE2's `$` matches only at end-of-text, while Python `$` also matches
#   before ONE trailing newline — `\n?$` restores that; the severity
#   family needs nothing because `([\s\S]*)$` already swallows any
#   trailing newline into the capture in every dialect.
# * RE2's \w/\d are ASCII — the same as Python's under re.ASCII (and
#   DuckDB's RE2 in the oracles).
_SEVERITY_RE2 = (
    r"^(?P<severity_text>TRACE|DEBUG|INFO|WARN|ERROR|FATAL)"
    r" \[(?P<component>[a-z]+)\] (?P<message>[\s\S]*)$"
)
_CALL_RE2 = (
    r"^CALL tool=(?P<tool_called>\w+) args_len=(?P<args_len>\d+)"
    r" status=(?P<call_status>\w+) dur_ms=(?P<duration_ms>\d+)\n?$"
)
_SPAN_RE2 = (
    r"^span trace=(?P<trace_id>[0-9a-f]{32}) span=(?P<span_id>[0-9a-f]{16})"
    r" event=(?P<event_name>\w+\.\w+)\n?$"
)

# OTel Appendix-B severity numbers, as used by the reference's severity map
# (parser/parsed_message.rs:426-436).
SEVERITY_NUMBER = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}

PARSED_FIELDS: list[tuple[str, T.DataType]] = [
    ("severity_text", T.StringType()),
    ("component", T.StringType()),
    ("message", T.StringType()),
    ("tool_called", T.StringType()),
    ("args_len", T.IntegerType()),
    ("call_status", T.StringType()),
    ("duration_ms", T.IntegerType()),
    ("trace_id", T.StringType()),
    ("span_id", T.StringType()),
    ("event_name", T.StringType()),
]

_PARSED_STRUCT = T.StructType([T.StructField(n, t) for n, t in PARSED_FIELDS])


def severity_number_col(severity_text: Column) -> Column:
    """Severity text → OTel number via a literal-map lookup (JVM-side).

    Mirrors parsed_message.rs:426-436. Uses element_at on a map literal so
    the mapping stays a single expression (no UDF, no join).
    """
    pairs: list[Column] = []
    for k, v in SEVERITY_NUMBER.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.element_at(F.create_map(*pairs), severity_text)


def parse_transcripts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Extract structured signal fields from ``text``.

    Adds PARSED_FIELDS plus ``severity_number`` and ``is_parsed``. The input
    ``text`` column is retained untouched — the per-turn text-equality
    round-trip invariant (pdata/src/testing/round_trip.rs:112 analog) is
    checked against it downstream.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import pandas_udf

    # NOTE: hints must be real classes (not `from __future__ import
    # annotations` strings) for pandas_udf eval-type inference, so the
    # wrapped function is defined via exec-free local binding here.
    # The whole batch is handed to Arrow's RE2 kernels (guide §4.2: do
    # the heavy lifting in native code inside the UDF): one anchored
    # extract_regex per template family over the full batch — RE2 rejects
    # non-candidates at the anchored literal prefix in O(1), so no
    # pre-gating pass is needed, and matching runs vectorized in C++
    # instead of Python's re object-per-row loop (measured ~3x on the
    # parse stage at 2M rows). Null/absent fields come back as null
    # struct slots → all-null parsed fields.

    def _int32_or_null(digits):
        # a digit capture past INT32_MAX becomes NULL instead of failing the
        # batch; the row still matched its grammar, so its other fields and
        # is_parsed stay set
        trimmed = pc.utf8_ltrim(digits, "0")
        n = pc.utf8_length(trimmed)
        fits = pc.or_(
            pc.less(n, 10),
            pc.and_(pc.equal(n, 10), pc.less_equal(trimmed, "2147483647")),
        )
        return pc.cast(pc.if_else(fits, digits, None), pa.int32())

    def _parse_batch(text):
        # type= pins string for all-null batches (from_pandas would infer
        # the null type and fill_null("") could not cast)
        arr = pc.fill_null(pa.Array.from_pandas(text, type=pa.string()), "")
        sev = pc.extract_regex(arr, _SEVERITY_RE2)
        call = pc.extract_regex(arr, _CALL_RE2)
        span = pc.extract_regex(arr, _SPAN_RE2)
        out = pa.table(
            {
                "severity_text": pc.struct_field(sev, "severity_text"),
                "component": pc.struct_field(sev, "component"),
                "message": pc.struct_field(sev, "message"),
                "tool_called": pc.struct_field(call, "tool_called"),
                "args_len": _int32_or_null(pc.struct_field(call, "args_len")),
                "call_status": pc.struct_field(call, "call_status"),
                "duration_ms": _int32_or_null(pc.struct_field(call, "duration_ms")),
                "trace_id": pc.struct_field(span, "trace_id"),
                "span_id": pc.struct_field(span, "span_id"),
                "event_name": pc.struct_field(span, "event_name"),
            }
        ).to_pandas()
        for c in ("args_len", "duration_ms"):
            out[c] = out[c].astype("Int32")
        return out

    _parse_batch.__annotations__ = {"text": pd.Series, "return": pd.DataFrame}
    parse_udf = pandas_udf(_PARSED_STRUCT)(_parse_batch)

    # Two selects: the UDF's struct, then every output column from it
    # (a withColumn per field would re-analyse the plan thirteen times).
    out = df.select("*", parse_udf(F.col(text_col)).alias("_parsed"))
    field = {name: F.col(f"_parsed.{name}") for name, _ in PARSED_FIELDS}
    return out.select(
        *df.columns,
        *[c.alias(name) for name, c in field.items()],
        severity_number_col(field["severity_text"]).alias("severity_number"),
        (
            field["severity_text"].isNotNull()
            | field["tool_called"].isNotNull()
            | field["trace_id"].isNotNull()
        ).alias("is_parsed"),
    )
