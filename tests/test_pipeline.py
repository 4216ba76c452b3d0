"""End-to-end pipeline tests: golden counts, invariance, resume, skew.

Mirrors the reference's batch-equivalence tests
(pdata/src/otap/batching_tests.rs:256-300: outputs equal regardless of
batching) and round-trip helpers (pdata/src/testing/round_trip.rs:112),
plus an independent DuckDB oracle for routing + aggregation.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.plans.pipeline import PipelineConfig, run_pipeline
from tests.conftest import TINY_TURNS, assert_df_equal


@pytest.fixture(scope="module")
def result(spark, tiny_transcripts, workdir):
    return run_pipeline(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir=f"{workdir}/out")
    )


# Output schemas of the pipeline's layers: names, order and types, which
# the __spark_entry__ queries and the routed sink's readers rely on.
_TRANSCRIPT = [
    ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
    ("text", "string"), ("tool", "string"), ("ts", "timestamp_ntz"),
]
_PARSED = [
    ("severity_text", "string"), ("component", "string"), ("message", "string"),
    ("tool_called", "string"), ("args_len", "int"), ("call_status", "string"),
    ("duration_ms", "int"), ("trace_id", "string"), ("span_id", "string"),
    ("event_name", "string"), ("severity_number", "int"), ("is_parsed", "boolean"),
]
_DICT = [
    ("role_class", "string"), ("is_human", "boolean"), ("tool_family", "string"),
    ("risk_tier", "string"), ("owner", "string"),
]
LAYER_SCHEMAS = {
    "parse": _TRANSCRIPT + _PARSED,
    # the role join is a using-join, so its key leads
    "enrich": [("role", "string")] + [c for c in _TRANSCRIPT if c[0] != "role"]
    + _PARSED + _DICT,
    "routed": _TRANSCRIPT + [
        ("severity_text", "string"), ("severity_number", "int"),
        ("component", "string"), ("tool_called", "string"), ("args_len", "int"),
        ("call_status", "string"), ("duration_ms", "int"), ("trace_id", "string"),
        ("span_id", "string"), ("event_name", "string"), ("is_parsed", "boolean"),
    ] + _DICT + [("signal_class", "string")],
}


def test_layer_output_schemas_are_pinned(spark, tiny_transcripts, workdir):
    from otel_arrow_spark.operators.enrich import enrich
    from otel_arrow_spark.operators.parse import parse_transcripts
    from otel_arrow_spark.plans.pipeline import build_routed

    df = spark.read.parquet(tiny_transcripts)
    frames = {
        "parse": parse_transcripts(df),
        "enrich": enrich(parse_transcripts(df), spark),
        "routed": build_routed(
            spark, PipelineConfig(input_path=tiny_transcripts, output_dir=f"{workdir}/unused")
        ),
    }
    for layer, frame in frames.items():
        got = [(f.name, f.dataType.simpleString()) for f in frame.schema.fields]
        assert got == LAYER_SCHEMAS[layer], layer


def test_lineage_accounts_for_every_row(result):
    m = result.manifest["metrics"]
    assert m["rows_in"] == TINY_TURNS
    assert m["rows_parsed"] + m["rows_unparsed"] == m["rows_in"]
    routed_total = sum(v for k, v in m.items() if k.startswith("routed_"))
    assert routed_total == m["rows_in"], "routing must never drop rows"


def test_routing_against_duckdb_oracle(spark, tiny_transcripts, result):
    """Independent re-derivation of signal_class counts in DuckDB SQL."""
    oracle = duckdb.sql(
        f"""
        SELECT CASE
            WHEN regexp_extract(text, '^(ERROR|FATAL) \\[', 1) <> '' THEN 'error'
            WHEN regexp_extract(text, '^(WARN) \\[', 1) <> '' THEN 'warn'
            WHEN regexp_matches(text, '^CALL tool=\\w+ args_len=\\d+ status=\\w+ dur_ms=\\d+$') THEN 'tool_call'
            WHEN regexp_matches(text, '^span trace=[0-9a-f]{{32}} span=[0-9a-f]{{16}} event=\\w+\\.\\w+$') THEN 'span'
            ELSE 'chat' END AS signal_class,
            count(*) AS n
        FROM read_parquet('{tiny_transcripts}/*.parquet')
        GROUP BY 1
        """
    ).fetchall()
    expected = dict(oracle)
    m = result.manifest["metrics"]
    got = {k.removeprefix("routed_"): v for k, v in m.items() if k.startswith("routed_")}
    assert got == expected


def test_aggregate_against_duckdb_oracle(spark, tiny_transcripts, result):
    routed = result.routed_path
    agg = spark.read.parquet(result.agg_path("tool_call"))
    oracle = duckdb.sql(
        f"""
        SELECT conv_id, tool, count(*) AS n_turns
        FROM read_parquet('{routed}/signal_class=tool_call/*.parquet')
        GROUP BY conv_id, tool
        """
    ).df()
    got = {(r.conv_id, r.tool): r.n_turns for r in agg.collect()}
    exp = {
        (row.conv_id, row.tool if row.tool == row.tool else None): int(row.n_turns)
        for row in oracle.itertuples()
    }
    # severity_text is all-null in the tool_call sink, so keys collapse to (conv, tool)
    assert got == exp


def test_repartition_invariance(spark, tiny_transcripts, workdir, result):
    """Batch-equivalence analog: same results at 1, 7, 64 input partitions."""
    base = spark.read.parquet(result.routed_path).drop("signal_class")
    for n in (1, 7, 64):
        r = run_pipeline(
            spark,
            PipelineConfig(
                input_path=tiny_transcripts,
                output_dir=f"{workdir}/out_rp{n}",
                repartition=n,
            ),
        )
        other = spark.read.parquet(r.routed_path).drop("signal_class")
        assert_df_equal(base, other, f"repartition({n})")


def test_text_round_trip(spark, tiny_transcripts, result):
    raw = spark.read.parquet(tiny_transcripts).select("conv_id", "turn_idx", "text")
    out = spark.read.parquet(result.routed_path).select("conv_id", "turn_idx", "text")
    assert_df_equal(raw, out, "per-turn text equality")


def test_resume_skips_committed_steps(spark, tiny_transcripts, workdir):
    out = f"{workdir}/out_resume"
    r0 = run_pipeline(spark, PipelineConfig(input_path=tiny_transcripts, output_dir=out))
    before = spark.read.parquet(r0.agg_path("error")).count()
    # Simulate a failure after the routed write but before the agg commit.
    os.remove(os.path.join(out, "agg", "_COMMITTED"))
    r = run_pipeline(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir=out), resume=True
    )
    after_err = spark.read.parquet(r.agg_path("error")).count()
    after_span = spark.read.parquet(r.agg_path("span")).count()
    assert after_err == before
    assert after_span > 0


def test_aggregate_exact_on_skewed_data(spark, result):
    """The hot conversation's aggregate rows == a DuckDB GROUP BY over the
    routed parquet: Spark's partial + final aggregate needs no salting to
    stay exact on a skewed key."""
    routed = spark.read.parquet(result.routed_path)
    # skew fixture: the hot conversation must dominate (FIXTURES.md §6)
    hot = routed.filter(F.col("conv_id") == "conv-00000000").count()
    assert hot >= 0.08 * TINY_TURNS
    got = {}
    for cls in ("error", "warn", "tool_call", "span", "chat"):
        agg = spark.read.parquet(result.agg_path(cls))
        for r in agg.where(F.col("conv_id") == "conv-00000000").collect():
            got[(cls, r.tool, r.severity_text)] = (r.n_turns, r.ts_min, r.ts_max)
    oracle = duckdb.sql(
        f"""
        SELECT signal_class, tool, severity_text,
               count(*) AS n_turns, min(ts) AS ts_min, max(ts) AS ts_max
        FROM read_parquet('{result.routed_path}/*/*.parquet',
                          hive_partitioning = true)
        WHERE conv_id = 'conv-00000000'
        GROUP BY signal_class, tool, severity_text
        """
    ).fetchall()
    exp = {(c, t, s): (n, lo, hi) for c, t, s, n, lo, hi in oracle}
    assert sum(n for n, _, _ in exp.values()) == hot
    assert got == exp


def test_stable_order_within_sink_files(spark, result):
    """Sink files are written sorted by (conv_id, turn_idx) — the
    sort-for-compression invariant (logs/arrow/optimizer.go:109)."""
    import pyarrow.parquet as pq

    sink = os.path.join(result.routed_path, "signal_class=tool_call")
    files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
    t = pq.read_table(os.path.join(sink, files[0]), columns=["conv_id", "turn_idx"])
    pdf = t.to_pandas()
    assert (
        pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True).equals(
            pdf.reset_index(drop=True)
        )
    )



def test_sinks_are_zstd_with_delta_timestamps(result):
    """Both sinks are written with SINK_PARQUET_OPTIONS: every column
    chunk is zstd, and v2 pages delta-encode the routed ``ts``."""
    from tests.conftest import parquet_column_chunks

    routed = parquet_column_chunks(result.routed_path)
    agg = parquet_column_chunks(os.path.dirname(result.agg_path("chat")))
    for chunks in (routed, agg):
        assert {comp for cs in chunks.values() for comp, _ in cs} == {"ZSTD"}
    assert all("DELTA_BINARY_PACKED" in enc for _, enc in routed["ts"])


def test_sinks_read_back_outside_spark(result):
    """DuckDB and pyarrow both read the zstd/v2 sinks: per-class row
    counts match the lineage counters, and the aggregate accounts for
    every input row."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    m = result.manifest["metrics"]
    expected = {k.removeprefix("routed_"): v for k, v in m.items() if k.startswith("routed_")}
    routed = result.routed_path
    duck = dict(
        duckdb.sql(
            f"""
            SELECT signal_class, count(*)
            FROM read_parquet('{routed}/*/*.parquet', hive_partitioning=true)
            GROUP BY 1
            """
        ).fetchall()
    )
    assert duck == expected
    classes = ds.dataset(routed, format="parquet", partitioning="hive").to_table(
        columns=["signal_class"]
    )["signal_class"]
    arrow = {d["values"]: d["counts"] for d in pc.value_counts(classes).to_pylist()}
    assert arrow == expected
    agg_root = os.path.dirname(result.agg_path("chat"))
    n_turns = duckdb.sql(
        f"SELECT sum(n_turns) FROM read_parquet('{agg_root}/*/*.parquet')"
    ).fetchone()[0]
    assert n_turns == m["rows_in"]

class TestCorpusClean:
    """Composed corpus-cleaning pipeline (plans/corpus.py): single-pass
    lineage, sink consistency, resume."""

    @pytest.fixture(scope="class")
    def clean_run(self, spark, tmp_path_factory):
        from otel_arrow_spark.plans.corpus import CorpusConfig, run_corpus_clean

        out = str(tmp_path_factory.mktemp("clean"))
        cfg = CorpusConfig(
            input_path="/root/testdata/sf0.001/documents.parquet", output_dir=out
        )
        return cfg, run_corpus_clean(spark, cfg)

    def test_lineage_funnel_monotone(self, clean_run):
        _, m = clean_run
        x = m["metrics"]
        assert (x["rows_in"] >= x["after_dedup"] >= x["after_quality"]
                >= x["after_decontaminate"] > 0)

    def test_sink_rows_match_lineage(self, spark, clean_run):
        cfg, m = clean_run
        packed = spark.read.parquet(m["sinks"]["packed"])
        assert packed.count() == m["metrics"]["after_decontaminate"]
        # bin offsets stay inside the budget
        assert packed.where(F.col("bin_offset") >= cfg.seq_len).count() == 0

    def test_matches_driver_query_frame(self, spark, clean_run):
        from otel_arrow_spark.plans.corpus import clean_corpus_frame

        cfg, m = clean_run
        frame = clean_corpus_frame(spark, cfg)
        packed = spark.read.parquet(m["sinks"]["packed"]).select(*frame.columns)
        assert frame.exceptAll(packed).count() == 0
        assert packed.exceptAll(frame).count() == 0

    def test_resume_returns_committed_manifest(self, spark, clean_run):
        from otel_arrow_spark.plans.corpus import run_corpus_clean

        cfg, m = clean_run
        again = run_corpus_clean(spark, cfg, resume=True)
        assert again["metrics"] == m["metrics"]
