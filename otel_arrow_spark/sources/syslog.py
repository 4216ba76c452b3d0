"""Syslog / CEF structural parser: RFC5424, RFC3164, and CEF lines → typed
columns, with format auto-detection.

Reference: the syslog_cef_receiver's parser stack —
* format dispatch (parser/mod.rs:46-104): try RFC5424 (leading ``<PRI>1 ``),
  then CEF (``CEF:`` prefix, possibly after a syslog header), then RFC3164;
  unparseable input degrades to UnknownFormat, never an error
  (parser/mod.rs:41-43);
* PRI split (parse_priority, parser/mod.rs:136): facility = pri / 8,
  severity = pri % 8;
* syslog severity → OTel severity_number mapping
  (parser/parsed_message.rs:426-436): Emergency..Debug → 21,19,18,17,13,9,
  9,5 (FATAL4/ERROR3/ERROR2/ERROR/WARN/INFO2/INFO/DEBUG);
* CEF header ``CEF:ver|vendor|product|dev_ver|sig_id|name|cef_sev|ext``
  with key=value extensions (parser/cef.rs:226-260).

Implementation: one Arrow-batched pandas UDF (compiled regexes, one pass,
all fields from a single ``str.extract`` per format) — the same vectorized
architecture as the transcript parser, because the per-reference-of-parsed-
field duplication issue applies equally here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Header regexes are RE2-compatible by construction (no backreferences or
# lookaround) so the batch parser can run them through Arrow's vectorized
# RE2 kernels; `\n?$` restores Python/Java's before-trailing-newline `$`
# (see operators/parse.py for the dialect notes). The CEF *extension*
# grammar below needs a lookahead, so that one stays a per-row Python re.
RFC5424_RE = (
    r"^<(?P<pri>\d{1,3})>1 (?P<ts>\S+) (?P<host>\S+) (?P<app>\S+) "
    r"(?P<procid>\S+) (?P<msgid>\S+) (?P<sd>-|\[.*?\])(?: (?P<msg>.*))?\n?$"
)
RFC3164_RE = (
    r"^<(?P<pri>\d{1,3})>(?P<ts>[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(?P<host>\S+) (?P<tag>[\w./-]+)(?:\[(?P<procid>\d+)\])?: ?(?P<msg>.*)\n?$"
)
CEF_RE = (
    r"^(?:<(?P<pri>\d{1,3})>)?(?:(?P<ts>[A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) )?"
    r"(?:(?P<host>\S+) )?CEF:(?P<ver>\d+)\|(?P<vendor>[^|]*)\|(?P<product>[^|]*)\|"
    r"(?P<dev_ver>[^|]*)\|(?P<sig_id>[^|]*)\|(?P<name>[^|]*)\|(?P<cef_sev>[^|]*)\|"
    r"(?P<ext>.*)\n?$"
)

# syslog severity (0-7) → OTel severity number (parsed_message.rs:426-436)
SYSLOG_TO_OTEL = [21, 19, 18, 17, 13, 10, 9, 5]
SYSLOG_SEVERITY_TEXT = [
    "FATAL", "ERROR3", "ERROR2", "ERROR", "WARN", "INFO2", "INFO", "DEBUG",
]

SYSLOG_SCHEMA = T.StructType(
    [
        T.StructField("format", T.StringType()),  # rfc5424|rfc3164|cef|unknown
        T.StructField("facility", T.IntegerType()),
        T.StructField("severity", T.IntegerType()),
        T.StructField("severity_text", T.StringType()),
        T.StructField("severity_number", T.IntegerType()),
        T.StructField("hostname", T.StringType()),
        T.StructField("app_name", T.StringType()),
        T.StructField("proc_id", T.StringType()),
        T.StructField("msg_id", T.StringType()),
        T.StructField("structured_data", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("cef_vendor", T.StringType()),
        T.StructField("cef_product", T.StringType()),
        T.StructField("cef_signature_id", T.StringType()),
        T.StructField("cef_name", T.StringType()),
        T.StructField("cef_severity", T.StringType()),
        T.StructField("cef_extensions", T.MapType(T.StringType(), T.StringType())),
    ]
)

_CEF_EXT_RE = r"(\w+)=((?:[^=\\]|\\.)*?)(?= \w+=|$)"


def _parse_cef_extensions(ext: str) -> dict | None:
    """CEF extension k=v parsing with escaped-char handling
    (parser/cef.rs:226-260 next_extension analog)."""
    import re as _re

    if not ext:
        return None
    out = {}
    for m in _re.finditer(_CEF_EXT_RE, ext):
        out[m.group(1)] = m.group(2).replace(r"\=", "=").replace(r"\\", "\\")
    return out or None


def parse_syslog(df: DataFrame, text_col: str = "line") -> DataFrame:
    """Parse a column of raw syslog/CEF lines into SYSLOG_SCHEMA fields.

    Detection order mirrors parser/mod.rs:46-104: RFC5424 → CEF → RFC3164 →
    unknown (all-null fields, format='unknown', row kept). An RFC5424 line
    without the optional MSG part gets ``message`` '' rather than NULL,
    because ``msg`` can legitimately match empty and so is kept as Arrow
    reports the absent group.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import pandas_udf

    def _extract(arr, pattern, empty_is_null=()):
        # vectorized RE2 extraction (guide §4.2) — one struct column per
        # named group; non-matching rows surface as all-None, exactly
        # like Series.str.extract's all-NaN rows for the logic below.
        # Arrow reports a NON-PARTICIPATING optional group as '' rather
        # than null; for groups whose grammar cannot match empty
        # (\\d+, \\S+, ...) that '' unambiguously means "absent" and is
        # mapped back to null to preserve the Python-re semantics the
        # oracles replay with NULLIF(..., '').
        s = pc.extract_regex(arr, pattern)
        cols = {}
        for f in s.type:
            c = pc.struct_field(s, f.name)
            if f.name in empty_is_null:
                c = pc.if_else(pc.equal(c, ""), pa.scalar(None, pa.string()), c)
            cols[f.name] = c
        return pa.table(cols).to_pandas()

    def _batch(lines):
        arr = pc.fill_null(
            pa.Array.from_pandas(lines, type=pa.string()), ""
        )
        r54 = _extract(
            arr, RFC5424_RE,
            ("pri", "ts", "host", "app", "procid", "msgid", "sd"),
        )
        cef = _extract(arr, CEF_RE, ("pri", "ts", "host", "ver"))
        r31 = _extract(arr, RFC3164_RE, ("pri", "ts", "host", "tag", "procid"))
        lines = lines.fillna("")

        is54 = r54["pri"].notna()
        iscef = cef["ver"].notna() & ~is54
        is31 = r31["pri"].notna() & ~is54 & ~iscef

        fmt = pd.Series("unknown", index=lines.index)
        fmt[is54] = "rfc5424"
        fmt[iscef] = "cef"
        fmt[is31] = "rfc3164"

        pri = pd.to_numeric(
            r54["pri"].where(is54).fillna(cef["pri"].where(iscef)).fillna(
                r31["pri"].where(is31)
            ),
            errors="coerce",
        )
        facility = (pri // 8).astype("Int32")
        severity = (pri % 8).astype("Int32")
        sev_text = severity.map(
            lambda s: SYSLOG_SEVERITY_TEXT[int(s)] if pd.notna(s) else None
        )
        sev_num = severity.map(
            lambda s: SYSLOG_TO_OTEL[int(s)] if pd.notna(s) else None
        ).astype("Int32")

        host = r54["host"].where(is54).fillna(cef["host"].where(iscef)).fillna(
            r31["host"].where(is31)
        )
        app = r54["app"].where(is54).fillna(r31["tag"].where(is31))
        procid = r54["procid"].where(is54).replace("-", None).fillna(
            r31["procid"].where(is31)
        )
        msg = r54["msg"].where(is54).fillna(r31["msg"].where(is31))

        return pd.DataFrame(
            {
                "format": fmt,
                "facility": facility,
                "severity": severity,
                "severity_text": sev_text,
                "severity_number": sev_num,
                "hostname": host,
                "app_name": app,
                "proc_id": procid,
                "msg_id": r54["msgid"].where(is54).replace("-", None),
                "structured_data": r54["sd"].where(is54).replace("-", None),
                "message": msg,
                "cef_vendor": cef["vendor"].where(iscef),
                "cef_product": cef["product"].where(iscef),
                "cef_signature_id": cef["sig_id"].where(iscef),
                "cef_name": cef["name"].where(iscef),
                "cef_severity": cef["cef_sev"].where(iscef),
                "cef_extensions": cef["ext"].where(iscef).map(
                    lambda e: _parse_cef_extensions(e) if isinstance(e, str) else None
                ),
            }
        )

    _batch.__annotations__ = {"lines": __import__("pandas").Series,
                              "return": __import__("pandas").DataFrame}
    udf = pandas_udf(SYSLOG_SCHEMA)(_batch)
    out = df.withColumn("_sys", udf(F.col(text_col)))
    for f in SYSLOG_SCHEMA.fieldNames():
        out = out.withColumn(f, F.col(f"_sys.{f}"))
    return out.drop("_sys")


def generate_syslog_lines(n: int, seed: int = 42):
    """Deterministic synthetic syslog/CEF corpus (traffic-generator analog):
    ~35% RFC5424, ~30% RFC3164, ~25% CEF, ~10% junk."""
    import numpy as np

    rng = np.random.RandomState(seed)
    hosts = [f"host{i:02d}" for i in range(8)]
    apps = ["sshd", "nginx", "kernel", "cron", "app"]
    months = ["Jan", "Feb", "Mar"]
    lines = []
    for i in range(n):
        kind = rng.choice(["rfc5424", "rfc3164", "cef", "junk"], p=[0.35, 0.30, 0.25, 0.10])
        pri = int(rng.randint(0, 192))
        host = hosts[rng.randint(0, len(hosts))]
        app = apps[rng.randint(0, len(apps))]
        day = int(rng.randint(1, 29))
        hms = f"{rng.randint(0,24):02d}:{rng.randint(0,60):02d}:{rng.randint(0,60):02d}"
        msg = f"event {i} value={int(rng.randint(0, 1000))}"
        if kind == "rfc5424":
            sd = '[ex@32473 k="v"]' if rng.rand() < 0.5 else "-"
            lines.append(
                f"<{pri}>1 2026-01-{day:02d}T{hms}Z {host} {app} {int(rng.randint(1,9999))} ID{i} {sd} {msg}"
            )
        elif kind == "rfc3164":
            mon = months[rng.randint(0, 3)]
            lines.append(f"<{pri}>{mon} {day:2d} {hms} {host} {app}[{int(rng.randint(1,9999))}]: {msg}")
        elif kind == "cef":
            lines.append(
                f"CEF:0|SecCorp|IDS|1.0|SIG{int(rng.randint(0,50))}|Port scan|{int(rng.randint(0,10))}|"
                f"src=10.0.0.{int(rng.randint(1,255))} dst=10.0.1.{int(rng.randint(1,255))} act=blocked"
            )
        else:
            lines.append(msg if rng.rand() < 0.5 else "")
    return lines


def generate_multiline_lines(n_events: int):
    """Deterministic multi-line log corpus for the stitch_multiline
    operator: ``n_events`` logical events across 8 host streams, event
    ``i`` carrying ``i % 4`` indented continuation lines (a stack-trace
    shape). Returns (src, line_no, line) triples; ``line_no`` orders
    lines within a stream (gaps are fine — only the order matters)."""
    sevs = ["ERROR", "WARN", "INFO"]
    rows = []
    for i in range(n_events):
        src = f"host{i % 8}"
        sev = sevs[i % 3]
        rows.append((src, i * 4, f"{sev} svc{i % 5} request {i} failed code={i % 7}"))
        for pos in range(1, i % 4 + 1):
            rows.append((src, i * 4 + pos, f"    at frame_{pos} (job {i})"))
    return rows
