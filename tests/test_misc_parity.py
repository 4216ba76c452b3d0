"""Tests for topics, AnyValue and the transcript readers."""

from pyspark.sql import functions as F

from otel_arrow_spark.functions.anyvalue import (
    any_bool,
    any_bytes,
    any_int,
    any_str,
    any_value_as_string,
    any_value_is,
)
from otel_arrow_spark.sources.topics import list_topics, publish_topic, subscribe_topic


class TestTopics:
    def test_publish_subscribe_composes(self, spark):
        df = spark.range(100).toDF("x")
        publish_topic(df.filter("x >= 50"), "hot")
        sub = subscribe_topic(spark, "hot").filter("x < 60")
        assert sub.count() == 10
        assert "hot" in list_topics(spark)


class TestAnyValue:
    def test_round_trip_typed_branches(self, spark):
        df = spark.createDataFrame(
            [(1, "s", 7, True, b"\xca\xfe")], "id int, s string, i int, b boolean, by binary"
        )
        out = df.select(
            any_value_as_string(any_str(F.col("s"))).alias("vs"),
            any_value_as_string(any_int(F.col("i"))).alias("vi"),
            any_value_as_string(any_bool(F.col("b"))).alias("vb"),
            any_value_as_string(any_bytes(F.col("by"))).alias("vby"),
            any_value_is(any_int(F.col("i")), "integer").alias("is_int"),
            any_value_is(any_int(F.col("i")), "string").alias("is_str"),
        ).collect()[0]
        assert (out.vs, out.vi, out.vb, out.vby) == ("s", "7", "true", "cafe")
        assert out.is_int is True and out.is_str is False


class TestReaders:
    def test_json_csv_parquet_agree(self, spark, tiny_transcripts, workdir):
        from otel_arrow_spark.sources.readers import (
            conform_transcripts,
            read_transcripts,
            validation_report,
        )

        base = read_transcripts(spark, tiny_transcripts, "parquet")
        # round-trip the same corpus through json and csv encodings
        base.write.mode("overwrite").json(f"{workdir}/tj")
        jdf = read_transcripts(spark, f"{workdir}/tj", "json")
        assert jdf.count() == base.count()
        a = base.select("conv_id", "turn_idx", "text").exceptAll(
            jdf.select("conv_id", "turn_idx", "text")
        )
        assert a.count() == 0

        rep = validation_report(base)
        assert rep["rows"] == base.count() and rep["null_conv_id"] == 0
        assert rep["n_conversations"] > 0

    def test_conform_rejects_missing_required(self, spark):
        from otel_arrow_spark.sources.readers import conform_transcripts

        df = spark.createDataFrame([(1,)], "x int")
        import pytest as _pt

        with _pt.raises(ValueError, match="missing required"):
            conform_transcripts(df)

    def test_conform_nulls_bad_casts_and_adds_tool(self, spark):
        from otel_arrow_spark.sources.readers import conform_transcripts

        df = spark.createDataFrame(
            [("c1", "not_an_int", "user", "hi", "2026-01-01 00:00:00")],
            "conv_id string, turn_idx string, role string, text string, ts string",
        )
        row = conform_transcripts(df).collect()[0]
        assert row.turn_idx is None  # failed cast → null, never raises
        assert row.tool is None  # optional column synthesized
        assert row.ts is not None
