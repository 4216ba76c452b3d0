"""Operators: the processor inventory of SURVEY.md §2 as DataFrame transforms.

Each module reproduces the *behavior* of a reference processor
(rust/otap-dataflow/crates/core-nodes/src/processors/...) using stock
DataFrame primitives — no ports, no custom Catalyst rules.
"""

from otel_arrow_spark.operators.parse import parse_transcripts  # noqa: F401
from otel_arrow_spark.operators.enrich import enrich  # noqa: F401
from otel_arrow_spark.operators.route import with_signal_class  # noqa: F401
from otel_arrow_spark.operators.aggregate import sink_aggregate  # noqa: F401
from otel_arrow_spark.operators.temporal_join import asof_join, interval_join  # noqa: F401
from otel_arrow_spark.operators.sessionize import sessionize, session_summaries  # noqa: F401
