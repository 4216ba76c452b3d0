"""Parse-stage tests: Python-`re` oracle, severity mapping, chaos handling.

Mirrors the reference's parser unit suites (syslog_cef_receiver/parser/
rfc5424.rs tests) and its UnknownFormat tolerance (parser/mod.rs:41-43).
"""

import re

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from otel_arrow_spark.operators.parse import (
    CALL_RE,
    PARSED_FIELDS,
    SEVERITY_RE,
    SPAN_RE,
    parse_transcripts,
)
from tests.conftest import assert_df_equal

OUT_COLS = [n for n, _ in PARSED_FIELDS] + ["severity_number", "is_parsed"]
# OTel Appendix B, written out here so the oracle shares no table with
# the code under test
_OTEL_SEVERITY = {"TRACE": 1, "DEBUG": 5, "INFO": 9, "WARN": 13, "ERROR": 17, "FATAL": 21}
_INT32_MAX = 2**31 - 1

SPAN_NL = "span trace=" + "a" * 32 + " span=" + "b" * 16 + " event=a.b\n"
CALL_NL = "CALL tool=x args_len=1 status=ok dur_ms=5\n"
ARGS_OVERFLOW = "CALL tool=x args_len=99999999999 status=ok dur_ms=5"
DUR_OVERFLOW = "CALL tool=x args_len=1 status=ok dur_ms=2147483648"


def re_oracle(text):
    """Independent Python-``re`` parse of one text into all OUT_COLS.

    ``re.ASCII`` and Python's ``$`` (which accepts ONE trailing newline)
    are the dialect the parse UDF's RE2 twins document. A digit field past
    INT32_MAX is NULL; the row still matched its grammar, so it stays
    parsed."""
    t = text or ""
    sev = re.match(SEVERITY_RE, t, re.ASCII)
    call = re.match(CALL_RE, t, re.ASCII)
    span = re.match(SPAN_RE, t, re.ASCII)
    s = sev.groups() if sev else (None,) * 3
    c = call.groups() if call else (None,) * 4
    p = span.groups() if span else (None,) * 3

    def i32(digits):
        return int(digits) if digits is not None and int(digits) <= _INT32_MAX else None

    return {
        "severity_text": s[0],
        "component": s[1],
        "message": s[2],
        "tool_called": c[0],
        "args_len": i32(c[1]),
        "call_status": c[2],
        "duration_ms": i32(c[3]),
        "trace_id": p[0],
        "span_id": p[1],
        "event_name": p[2],
        "severity_number": _OTEL_SEVERITY.get(s[0]),
        "is_parsed": bool(sev or call or span),
    }


def _assert_matches_oracle(rows):
    for r in rows:
        got = {c: r[c] for c in OUT_COLS}
        assert got == re_oracle(r.text), repr(r.text)


def test_parse_against_python_re_oracle(spark, tiny_transcripts):
    """Every output column of every corpus row equals the oracle's."""
    df = spark.read.parquet(tiny_transcripts)
    rows = parse_transcripts(df).select("text", *OUT_COLS).collect()
    assert len(rows) == df.count()
    assert any(r.is_parsed for r in rows) and not all(r.is_parsed for r in rows)
    _assert_matches_oracle(rows)


def test_edge_inputs_match_python_re_oracle(spark):
    """Trailing newlines and out-of-range integers, pinned explicitly."""
    texts = [
        SPAN_NL,
        CALL_NL,
        ARGS_OVERFLOW,
        DUR_OVERFLOW,
        "CALL tool=x args_len=2147483647 status=ok dur_ms=0002147483647",
        "CALL tool=x args_len=1 status=ok dur_ms=5\n\n",
        "ERROR [io] disk full\n",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = {r.text: r for r in parse_transcripts(df).collect()}
    _assert_matches_oracle(rows.values())
    assert rows[SPAN_NL].event_name == "a.b"
    assert rows[CALL_NL].duration_ms == 5
    for text, field in ((ARGS_OVERFLOW, "args_len"), (DUR_OVERFLOW, "duration_ms")):
        r = rows[text]
        assert r[field] is None, text
        assert (r.tool_called, r.call_status, r.is_parsed) == ("x", "ok", True), text


def test_severity_numbers_follow_otel_appendix_b(spark):
    data = [(f"{lvl} [io] x",) for lvl in _OTEL_SEVERITY]
    df = spark.createDataFrame(data, "text string")
    got = {
        r.severity_text: r.severity_number
        for r in parse_transcripts(df).select("severity_text", "severity_number").collect()
    }
    assert got == _OTEL_SEVERITY


def test_chaos_rows_parse_to_nulls_not_errors(spark):
    """Unparseable input must yield null fields, never raise — the
    chaos-decoding analog (docs/validation_process.md:37-45). An integer
    field too large for int32 nulls only that field."""
    chaos = ["", None, "free\nform\ntext", "ERRORX [bad] nope", "CALL tool="]
    data = [(t,) for t in chaos + [ARGS_OVERFLOW, DUR_OVERFLOW]]
    out = parse_transcripts(spark.createDataFrame(data, "text string"))
    rows = out.collect()
    assert len(rows) == 7
    for r in rows:
        if r.text in (ARGS_OVERFLOW, DUR_OVERFLOW):
            assert r.is_parsed and r.tool_called == "x"
        else:
            assert not r.is_parsed
            assert all(r[n] is None for n, _ in PARSED_FIELDS)
    assert out.filter(F.col("args_len").isNull()).count() == 6
    assert out.filter(F.col("duration_ms").isNull()).count() == 6


def test_text_column_untouched(spark, tiny_transcripts):
    df = spark.read.parquet(tiny_transcripts)
    out = parse_transcripts(df).select("conv_id", "turn_idx", "text")
    assert_df_equal(df.select("conv_id", "turn_idx", "text"), out, "text round-trip")


# chaos fuzz: arbitrary text (including adversarial near-matches of the
# three grammars) must never raise and must match the oracle.
_adversarial = st.one_of(
    st.text(max_size=60),
    st.from_regex(r"(CALL tool=|span trace=|ERROR \[)?[a-z0-9 =\[\]._-]{0,40}", fullmatch=True),
    st.from_regex(
        r"CALL tool=\w{1,3} args_len=[0-9]{1,12} status=\w{1,3} dur_ms=[0-9]{1,12}\n?",
        fullmatch=True,
    ),
    st.sampled_from([
        "", " ", "\n", "CALL tool=", "CALL tool=x args_len=y status=z dur_ms=0",
        "ERROR [x] ", "ERROR [X] msg", "span trace=deadbeef span=beef event=a.b",
        "INFO [ok] fine", "FATAL [io] down",
        SPAN_NL, CALL_NL, ARGS_OVERFLOW, DUR_OVERFLOW,
    ]),
)


@settings(max_examples=20, deadline=None)
@given(texts=st.lists(_adversarial, min_size=1, max_size=30))
def test_parse_chaos_never_raises_and_matches_re_oracle(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    _assert_matches_oracle(parse_transcripts(df).collect())
