"""Syslog/CEF parser tests — RFC unit cases (the parser/rfc5424.rs and
parser/cef.rs test-suite analog) plus corpus-level invariants."""

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.sources.syslog import generate_syslog_lines, parse_syslog


@pytest.fixture(scope="module")
def parsed_cases(spark):
    cases = [
        ("r54", "<165>1 2026-01-02T03:04:05Z web01 nginx 812 ID7 - GET /index"),
        ("r54sd", '<34>1 2026-01-02T03:04:05Z db01 pg 1 ID8 [ex@32473 k="v"] started'),
        ("r54nomsg", "<165>1 2026-01-02T03:04:05Z web01 nginx 812 ID7 -"),
        ("r31", "<13>Feb  5 10:11:12 mail01 postfix[4242]: queue active"),
        ("cef", "CEF:0|SecCorp|IDS|1.0|SIG9|Port scan|7|src=10.0.0.5 dst=10.0.1.9 act=blocked"),
        ("cef_sys", "<13>Feb  5 10:11:12 gw01 CEF:0|V|P|1|S|N|3|src=1.2.3.4"),
        ("junk", "completely unstructured line"),
        ("empty", ""),
    ]
    df = spark.createDataFrame(cases, "case string, line string")
    return {r.case: r for r in parse_syslog(df).collect()}


def test_rfc5424(parsed_cases):
    r = parsed_cases["r54"]
    assert r.format == "rfc5424"
    # pri 165 → facility 20, severity 5 (Notice→INFO2, severity_number 10)
    assert (r.facility, r.severity) == (20, 5)
    assert r.severity_text == "INFO2" and r.severity_number == 10
    assert (r.hostname, r.app_name, r.proc_id, r.msg_id) == ("web01", "nginx", "812", "ID7")
    assert r.message == "GET /index"
    assert r.structured_data is None


def test_rfc5424_structured_data(parsed_cases):
    r = parsed_cases["r54sd"]
    assert r.structured_data == '[ex@32473 k="v"]'
    assert r.message == "started"


def test_rfc5424_without_message_is_empty_string(parsed_cases):
    """The optional MSG part is absent: ``message`` is '' (what Arrow's
    extract_regex reports for a group that did not participate), not
    NULL — the same value the DuckDB oracle's regexp_extract gives."""
    r = parsed_cases["r54nomsg"]
    assert r.format == "rfc5424"
    assert (r.hostname, r.msg_id, r.structured_data) == ("web01", "ID7", None)
    assert r.message == ""


def test_rfc3164(parsed_cases):
    r = parsed_cases["r31"]
    assert r.format == "rfc3164"
    # pri 13 → facility 1, severity 5
    assert (r.facility, r.severity) == (1, 5)
    assert (r.hostname, r.app_name, r.proc_id) == ("mail01", "postfix", "4242")
    assert r.message == "queue active"


def test_cef(parsed_cases):
    r = parsed_cases["cef"]
    assert r.format == "cef"
    assert (r.cef_vendor, r.cef_product, r.cef_signature_id) == ("SecCorp", "IDS", "SIG9")
    assert r.cef_name == "Port scan" and r.cef_severity == "7"
    assert r.cef_extensions == {"src": "10.0.0.5", "dst": "10.0.1.9", "act": "blocked"}


def test_cef_with_syslog_header(parsed_cases):
    r = parsed_cases["cef_sys"]
    assert r.format == "cef"
    assert r.hostname == "gw01"
    assert (r.facility, r.severity) == (1, 5)
    assert r.cef_extensions == {"src": "1.2.3.4"}


def test_unknown_never_errors(parsed_cases):
    for case in ("junk", "empty"):
        r = parsed_cases[case]
        assert r.format == "unknown"
        assert r.severity_number is None and r.hostname is None


def test_corpus_detection_rates(spark):
    lines = generate_syslog_lines(2000)
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    counts = {
        r.format: r["count"]
        for r in parse_syslog(df).groupBy("format").count().collect()
    }
    assert counts["rfc5424"] + counts["rfc3164"] + counts["cef"] + counts["unknown"] == 2000
    # detection rates must match generation weights (±5 pp)
    assert abs(counts["rfc5424"] / 2000 - 0.35) < 0.05
    assert abs(counts["cef"] / 2000 - 0.25) < 0.05
    assert abs(counts["unknown"] / 2000 - 0.10) < 0.05


def test_severity_mapping_full_table(spark):
    """All 8 syslog severities map per parsed_message.rs:426-436."""
    df = spark.createDataFrame(
        [(f"<{s}>1 2026-01-01T00:00:00Z h a 1 ID - m",) for s in range(8)],
        "line string",
    )
    rows = parse_syslog(df).orderBy("severity").collect()
    assert [r.severity_number for r in rows] == [21, 19, 18, 17, 13, 10, 9, 5]
    assert [r.severity_text for r in rows] == [
        "FATAL", "ERROR3", "ERROR2", "ERROR", "WARN", "INFO2", "INFO", "DEBUG",
    ]
