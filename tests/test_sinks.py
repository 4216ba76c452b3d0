"""Sink + retry tests (parquet exporter / retry processor analogs)."""

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.sinks import noop_sink, retry_with_backoff, write_table


def test_write_table_partitioned_and_ordered(spark, tiny_transcripts, workdir):
    from otel_arrow_spark.plans.pipeline import PipelineConfig, build_routed

    routed = build_routed(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir="/unused")
    )
    out = write_table(routed, f"{workdir}/wt", partition_by=("signal_class",))
    back = spark.read.parquet(out)
    assert back.count() == routed.count()
    assert set(r.signal_class for r in back.select("signal_class").distinct().collect()) \
        == {"error", "warn", "tool_call", "span", "chat"}


def test_noop_sink(spark):
    noop_sink(spark.range(10).toDF("x"))


class TestRetry:
    def test_succeeds_after_failures(self):
        calls = {"n": 0}
        sleeps = []

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise OSError("transient")
            return "ok"

        out = retry_with_backoff(flaky, initial_interval=1.0, sleep=sleeps.append)
        assert out == "ok" and calls["n"] == 3
        assert sleeps == [1.0, 2.0]  # exponential

    def test_exhausts_and_reraises(self):
        def always():
            raise OSError("permanent")

        with pytest.raises(OSError):
            retry_with_backoff(always, max_attempts=3, sleep=lambda s: None)

    def test_respects_max_elapsed(self):
        def always():
            raise OSError("x")

        with pytest.raises(OSError):
            retry_with_backoff(
                always, max_attempts=100, initial_interval=1000.0,
                max_elapsed=0.1, sleep=lambda s: None,
            )


def test_write_table_zstd_roundtrip(spark, tiny_transcripts, workdir):
    """write_table writes zstd parquet that reads back whole and is
    smaller than Spark's default parquet of the same frame."""
    import os

    from otel_arrow_spark.sinks import write_table
    from tests.conftest import parquet_column_chunks

    df = spark.read.parquet(tiny_transcripts)
    plain = f"{workdir}/comp_default"
    df.write.mode("overwrite").parquet(plain)
    out = write_table(df, f"{workdir}/comp_sink", sort_cols=("conv_id", "turn_idx"))
    assert spark.read.parquet(out).count() == df.count()
    codecs = {comp for chunks in parquet_column_chunks(out).values() for comp, _ in chunks}
    assert codecs == {"ZSTD"}

    def size(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(p) for f in fs if f.endswith(".parquet")
        )

    assert size(out) < size(plain)


class TestFanoutPolicy:
    """Fan-out ack policies + per-port failover (fanout_processor
    README:12-40): retry-then-fallback, lineage records the port that
    actually received each batch, ack policy decides what raises."""

    @staticmethod
    def _df(spark):
        return spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")

    def test_all_ports_deliver(self, spark, workdir):
        from otel_arrow_spark.sinks import FanoutPort, fanout_with_policy, noop_sink

        dest = f"{workdir}/fanout_ok"
        lineage = fanout_with_policy(
            self._df(spark),
            [
                FanoutPort("primary_export", primary=True,
                           sink=lambda d: d.write.mode("overwrite").parquet(dest)),
                FanoutPort("analytics_export", sink=noop_sink),
            ],
            await_ack="all",
        )
        assert {r["status"] for r in lineage["ports"].values()} == {"ok"}
        assert lineage["ports"]["primary_export"]["delivered_via"] == "primary_export"
        assert spark.read.parquet(dest).count() == 2

    def test_fallback_receives_after_primary_nack(self, spark, workdir):
        from otel_arrow_spark.sinks import FanoutPort, error_sink, fanout_with_policy

        dest = f"{workdir}/fanout_fb"
        lineage = fanout_with_policy(
            self._df(spark),
            [
                FanoutPort("primary_export", primary=True, sink=error_sink,
                           max_attempts=2),
                FanoutPort("backup_export", fallback_for="primary_export",
                           sink=lambda d: d.write.mode("overwrite").parquet(dest)),
            ],
            await_ack="primary",
        )
        rec = lineage["ports"]["primary_export"]
        assert rec["status"] == "fell_back"
        assert rec["delivered_via"] == "backup_export"
        assert "error_sink" in rec["error"]
        # real attempt counts: primary exhausted its budget of 2, the
        # fallback delivered on its 1st try — both recorded
        assert rec["attempts"] == 2
        assert rec["fallback_attempts"] == 1
        assert spark.read.parquet(dest).count() == 2  # the batch DID land

    def test_primary_nack_without_fallback_fails_request(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.sinks import (
            FanoutDeliveryError, FanoutPort, error_sink, fanout_with_policy,
            noop_sink,
        )

        with _pytest.raises(FanoutDeliveryError) as ei:
            fanout_with_policy(
                self._df(spark),
                [
                    FanoutPort("primary_export", primary=True, sink=error_sink),
                    FanoutPort("analytics_export", sink=noop_sink),
                ],
                await_ack="primary",
            )
        assert ei.value.lineage["ports"]["primary_export"]["status"] == "failed"
        assert ei.value.lineage["ports"]["analytics_export"]["status"] == "ok"

    def test_secondary_nack_ignored_under_primary_policy(self, spark):
        from otel_arrow_spark.sinks import (
            FanoutPort, error_sink, fanout_with_policy, noop_sink,
        )

        lineage = fanout_with_policy(
            self._df(spark),
            [
                FanoutPort("primary_export", primary=True, sink=noop_sink),
                FanoutPort("flaky_export", sink=error_sink),
            ],
            await_ack="primary",
        )
        assert lineage["ports"]["flaky_export"]["status"] == "failed"
        assert lineage["ports"]["primary_export"]["status"] == "ok"

    def test_none_policy_never_raises(self, spark):
        from otel_arrow_spark.sinks import FanoutPort, error_sink, fanout_with_policy

        lineage = fanout_with_policy(
            self._df(spark),
            [FanoutPort("primary_export", primary=True, sink=error_sink)],
            await_ack="none",
        )
        assert lineage["ports"]["primary_export"]["status"] == "failed"

    def test_all_policy_raises_on_any_failure(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.sinks import (
            FanoutDeliveryError, FanoutPort, error_sink, fanout_with_policy,
            noop_sink,
        )

        with _pytest.raises(FanoutDeliveryError, match="flaky_export"):
            fanout_with_policy(
                self._df(spark),
                [
                    FanoutPort("primary_export", primary=True, sink=noop_sink),
                    FanoutPort("flaky_export", sink=error_sink),
                ],
                await_ack="all",
            )

    def test_unknown_fallback_rejected(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.sinks import FanoutPort, fanout_with_policy, noop_sink

        with _pytest.raises(ValueError, match="unknown port"):
            fanout_with_policy(
                self._df(spark),
                [FanoutPort("backup", fallback_for="nope", sink=noop_sink)],
            )

    def test_retry_then_success_counts_attempts(self, spark):
        from otel_arrow_spark.sinks import FanoutPort, fanout_with_policy

        calls = {"n": 0}

        def flaky(d):
            calls["n"] += 1
            if calls["n"] < 3:
                raise IOError("transient")

        lineage = fanout_with_policy(
            self._df(spark),
            [FanoutPort("primary_export", primary=True, sink=flaky,
                        max_attempts=5)],
            await_ack="primary",
        )
        assert calls["n"] == 3
        rec = lineage["ports"]["primary_export"]
        assert rec["status"] == "ok"
        # the lineage must state what actually happened: success on try 3
        # of 5 is attempts=3 (not 1, not max_attempts)
        assert rec["attempts"] == 3
        assert rec["fallback_attempts"] == 0


class TestIcebergGating:
    """Iceberg option wiring, contract-tested without the jar."""

    def test_write_plan_marshaling(self):
        from otel_arrow_spark.sinks import iceberg_write_plan

        p = iceberg_write_plan("local", "db.routed", "overwrite")
        assert p == {"table": "local.db.routed", "method": "createOrReplace"}
        p2 = iceberg_write_plan("local", "local.db.routed", "append")
        assert p2 == {"table": "local.db.routed", "method": "append"}
        with pytest.raises(ValueError, match="overwrite|append"):
            iceberg_write_plan("local", "db.t", "merge")

    def test_catalog_detection(self, spark):
        from otel_arrow_spark.sinks import iceberg_catalog

        df = spark.range(1)
        assert iceberg_catalog(df) is None  # no catalog conf in the sandbox
        spark.conf.set(
            "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
        )
        try:
            assert iceberg_catalog(df) == "local"
        finally:
            spark.conf.unset("spark.sql.catalog.local")
        assert iceberg_catalog(df) is None

    def test_write_table_gated_with_clear_error(self, spark, workdir):
        """With the catalog conf set but no jar, write_table fails with an
        actionable error naming the missing runtime — never a silent
        parquet fallback that would hide a misconfigured cluster."""
        from otel_arrow_spark.sinks import write_table

        df = spark.createDataFrame([(1, "a")], "conv_id long, text string")
        spark.conf.set(
            "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
        )
        try:
            with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
                write_table(df, "db.routed")
        finally:
            spark.conf.unset("spark.sql.catalog.local")

    def test_parquet_fallback_without_catalog(self, spark, workdir):
        from otel_arrow_spark.sinks import write_table

        df = spark.createDataFrame([(1, "a"), (2, "b")], "conv_id long, text string")
        out = write_table(df, f"{workdir}/iceberg_fallback")
        assert spark.read.parquet(out).count() == 2


class TestBucketedCoLocation:
    """write_bucketed produces the co-located layout: same-key same-count
    bucketed tables join AND aggregate with zero Exchange."""

    def test_bucketed_join_and_agg_shuffle_free(self, spark, tiny_transcripts):
        from otel_arrow_spark.sinks import write_bucketed

        df = spark.read.parquet(tiny_transcripts)
        write_bucketed(
            df.select("conv_id", "turn_idx", "role"),
            "bkt_turns", ("conv_id",), 8, sort_cols=("conv_id",),
        )
        write_bucketed(
            df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns")),
            "bkt_convs", ("conv_id",), 8, sort_cols=("conv_id",),
        )
        a = spark.table("bkt_turns")
        b = spark.table("bkt_convs")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "conv_id")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan  # co-located: no shuffle either side
            agg = a.groupBy("conv_id").count()
            agg_plan = agg._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in agg_plan  # bucket key pre-partitions the agg
            # and the join is still correct
            assert joined.count() == a.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS bkt_turns")
            spark.sql("DROP TABLE IF EXISTS bkt_convs")

    def test_mismatched_bucket_counts_shuffle_one_side_only(self, spark, tiny_transcripts):
        """Documented degradation: joining n vs 4n buckets re-shuffles only
        the mismatched side (Spark coalesces/reshuffles one side), never
        both — still half the cost of unbucketed."""
        from otel_arrow_spark.sinks import write_bucketed

        df = spark.read.parquet(tiny_transcripts)
        write_bucketed(df.select("conv_id", "turn_idx"), "bkt8", ("conv_id",), 8)
        write_bucketed(df.select("conv_id", "role"), "bkt16", ("conv_id",), 16)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        try:
            plan = (
                spark.table("bkt8").join(spark.table("bkt16"), "conv_id")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert plan.count("Exchange hashpartitioning") <= 1
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset("spark.sql.bucketing.coalesceBucketsInJoin.enabled")
            spark.sql("DROP TABLE IF EXISTS bkt8")
            spark.sql("DROP TABLE IF EXISTS bkt16")


class TestCompaction:
    def test_compacts_preserving_data_and_partitions(self, spark, workdir):
        import glob
        import os

        from otel_arrow_spark.sinks import compact_parquet_dir
        from tests.conftest import assert_df_equal

        path = f"{workdir}/compact_me"
        src = spark.range(5000).select(
            F.col("id"),
            (F.col("id") % 3).cast("string").alias("part"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        # simulate a micro-batch-fragmented sink: many tiny files per partition
        src.repartition(40).write.partitionBy("part").parquet(path)
        before = src.orderBy("id")
        n_files0 = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        assert n_files0 >= 100, "fixture must start fragmented"

        stats = compact_parquet_dir(
            spark, path, target_file_bytes=1 << 30,
            partition_by=("part",), sort_cols=("id",),
        )
        assert stats["rows"] == 5000
        assert stats["files_before"] == n_files0
        assert stats["files_after"] <= 3, "one writer per hive partition"
        # data survived byte-for-byte, partition layout intact
        after = spark.read.parquet(path)
        assert sorted(d for d in os.listdir(path) if d.startswith("part=")) == [
            "part=0", "part=1", "part=2",
        ]
        assert_df_equal(
            before.select("id", "payload", "part"),
            after.select("id", "payload", F.col("part").cast("string").alias("part")).orderBy("id"),
            "compaction must not change data",
        )
        # no leftover temp/old dirs
        assert not os.path.exists(path + ".__compact_tmp")
        assert not os.path.exists(path + ".__compact_old")

    def test_unpartitioned_sizing(self, spark, workdir):
        from otel_arrow_spark.sinks import compact_parquet_dir

        path = f"{workdir}/compact_flat"
        spark.range(2000).repartition(25).write.parquet(path)
        stats = compact_parquet_dir(spark, path, target_file_bytes=1 << 30)
        assert stats["files_after"] == 1 and stats["rows"] == 2000
        assert stats["sidecars_refreshed"] == []

    def test_sidecars_rebuilt_over_new_layout(self, spark, workdir):
        """Compaction invalidates the data-skipping sidecars (they
        describe the pre-rewrite files); the rewrite must leave manifests
        that prune correctly over the NEW layout."""
        from otel_arrow_spark.sinks import compact_parquet_dir
        from otel_arrow_spark.sources.bloomskip import (
            bloom_pruned_scan,
            write_bloom_manifest,
        )
        from otel_arrow_spark.sources.zonemap import pruned_scan, write_zonemap

        path = f"{workdir}/compact_sidecars"
        df = spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        df.repartitionByRange(20, "k").write.parquet(path)
        write_zonemap(spark, path, ["k"])
        write_bloom_manifest(spark, path, "k", m_bits=2048, k=4)

        stats = compact_parquet_dir(spark, path, target_file_bytes=40_000)
        assert stats["sidecars_refreshed"] == ["zonemap", "bloomskip"]
        assert stats["files_after"] < 20

        # both sidecars now describe the compacted files: stats add up
        # and pruning stays row-identical
        out, s_zm = pruned_scan(spark, path, "k", lo=100, hi=200)
        assert s_zm["files_total"] == stats["files_after"]
        assert sorted(r.k for r in out.collect()) == list(range(100, 201))
        out, s_bl = bloom_pruned_scan(spark, path, "k", [1234])
        assert s_bl["files_total"] == stats["files_after"]
        assert [r.k for r in out.collect()] == [1234]

    def test_sidecar_refresh_opt_out(self, spark, workdir):
        import os

        from otel_arrow_spark.sinks import compact_parquet_dir
        from otel_arrow_spark.sources.zonemap import write_zonemap

        path = f"{workdir}/compact_noref"
        spark.range(1000).selectExpr("id as k").repartition(10).write.parquet(path)
        write_zonemap(spark, path, ["k"])
        stats = compact_parquet_dir(
            spark, path, target_file_bytes=1 << 30, refresh_sidecars=False
        )
        assert stats["sidecars_refreshed"] == []
        # the stale manifest went with the old directory; scanners fall
        # back to on-the-fly builds
        assert not os.path.isdir(os.path.join(path, "_zonemap"))


class TestRetention:
    def test_expires_below_watermark_only(self, spark, workdir):
        import os

        from otel_arrow_spark.sinks import expire_partitions

        path = f"{workdir}/retained"
        spark.range(300).select(
            F.col("id"),
            F.concat(
                F.lit("2026-01-0"), ((F.col("id") % 5) + 1).cast("string")
            ).alias("day"),
        ).write.partitionBy("day").parquet(path)

        # dry run reports but deletes nothing
        stats = expire_partitions(
            spark, path, "day", keep_from="2026-01-03", dry_run=True
        )
        assert stats["dropped"] == ["2026-01-01", "2026-01-02"]
        assert len([d for d in os.listdir(path) if d.startswith("day=")]) == 5

        stats = expire_partitions(spark, path, "day", keep_from="2026-01-03")
        assert stats["dropped"] == ["2026-01-01", "2026-01-02"]
        assert stats["kept"] == ["2026-01-03", "2026-01-04", "2026-01-05"]
        assert stats["freed_bytes"] > 0
        left = spark.read.parquet(path)
        assert left.select("day").distinct().count() == 3
        assert left.count() == 180  # 3 of 5 uniform day groups survive

    def test_refuses_unpartitioned_and_mixed(self, spark, workdir):
        import pytest

        from otel_arrow_spark.sinks import expire_partitions

        flat = f"{workdir}/flat_sink"
        spark.range(10).write.parquet(flat)
        with pytest.raises(ValueError, match="refusing"):
            expire_partitions(spark, flat, "day", keep_from="x")
