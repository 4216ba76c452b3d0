"""Unit tests for the processor-style operators (filter, attributes,
sampling, flow control) — the analog of the reference's per-module
#[cfg(test)] suites (e.g. transform_processor/mod.rs:1311)."""

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.operators.attributes import (
    attrs_delete,
    attrs_hash,
    attrs_insert,
    attrs_rename,
    attrs_update,
    attrs_upsert,
    apply_attributes_filter,
    collect_attrs,
    explode_attrs,
)
from otel_arrow_spark.operators.filter import MatchRules, cascade_filter, filter_processor
from otel_arrow_spark.operators.flow import conditional_branches
from otel_arrow_spark.operators.route import route_by_value
from otel_arrow_spark.operators.sample import ratio_sample, zip_sample


@pytest.fixture(scope="module")
def attrs_df(spark):
    return spark.createDataFrame(
        [(1, {"env": "prod", "user": "alice"}), (2, {"env": "dev"}), (3, None)],
        "id int, attributes map<string,string>",
    )


def _attrs(df, rid):
    row = df.filter(F.col("id") == rid).collect()[0]
    return row.attributes


class TestAttributes:
    def test_insert_only_when_absent(self, attrs_df):
        out = attrs_insert(attrs_df, "attributes", "env", F.lit("X"))
        assert _attrs(out, 1)["env"] == "prod"  # present → untouched
        out2 = attrs_insert(attrs_df, "attributes", "region", F.lit("eu"))
        assert _attrs(out2, 1)["region"] == "eu"
        assert _attrs(out2, 3) == {"region": "eu"}  # null map → created

    def test_update_only_when_present(self, attrs_df):
        out = attrs_update(attrs_df, "attributes", "env", F.lit("stage"))
        assert _attrs(out, 1)["env"] == "stage"
        out2 = attrs_update(attrs_df, "attributes", "missing", F.lit("x"))
        assert "missing" not in (_attrs(out2, 1) or {})
        assert _attrs(out2, 3) is None

    def test_upsert(self, attrs_df):
        out = attrs_upsert(attrs_df, "attributes", "env", F.lit("stage"))
        assert _attrs(out, 1)["env"] == "stage"
        assert _attrs(out, 3) == {"env": "stage"}

    def test_delete(self, attrs_df):
        out = attrs_delete(attrs_df, "attributes", "env")
        assert "env" not in _attrs(out, 1)
        assert _attrs(out, 1)["user"] == "alice"

    def test_apply_actions_order_sensitivity(self, attrs_df):
        """Ordered Action list (attributes_processor/mod.rs:77):
        rename-then-hash hashes the value under the NEW key;
        hash-then-rename leaves the same bytes but proves order matters
        when the hash key refers to the renamed name."""
        import hashlib

        from otel_arrow_spark.operators.attributes import apply_actions

        a = apply_actions(
            attrs_df, "attributes",
            [("rename", "env", "env2"), ("hash", "env2", "s!")],
        )
        b = apply_actions(
            attrs_df, "attributes",
            [("hash", "env2", "s!"), ("rename", "env", "env2")],
        )
        want = hashlib.sha256(b"s!prod").hexdigest()
        assert _attrs(a, 1)["env2"] == want         # rename first → hashed
        assert _attrs(b, 1)["env2"] == "prod"       # hash saw no env2 → raw
        # insert/upsert/delete compose in order too
        c = apply_actions(
            attrs_df, "attributes",
            [("insert", "k", "v1"), ("upsert", "k", "v2"), ("delete", "k")],
        )
        assert "k" not in _attrs(c, 1)

    def test_rename(self, attrs_df):
        out = attrs_rename(attrs_df, "attributes", "env", "environment")
        assert _attrs(out, 1)["environment"] == "prod"
        assert "env" not in _attrs(out, 1)
        assert _attrs(out, 3) is None

    def test_hash_matches_sha256(self, attrs_df):
        import hashlib

        out = attrs_hash(attrs_df, "attributes", "user", salt="s!")
        expected = hashlib.sha256(b"s!alice").hexdigest()
        assert _attrs(out, 1)["user"] == expected
        assert _attrs(out, 1)["env"] == "prod"  # other keys untouched

    def test_apply_attributes_filter(self, attrs_df):
        out = apply_attributes_filter(
            attrs_df, "attributes", lambda k, v: k != F.lit("user")
        )
        assert _attrs(out, 1) == {"env": "prod"}

    def test_explode_collect_round_trip(self, attrs_df, spark):
        long = explode_attrs(attrs_df.filter("id < 3"), "attributes", ("id",))
        back = collect_attrs(long, ("id",))
        got = {r.id: r.attributes for r in back.collect()}
        assert got == {1: {"env": "prod", "user": "alice"}, 2: {"env": "dev"}}


class TestFilter:
    def test_strict_include_exclude(self, spark):
        df = spark.createDataFrame(
            [("ERROR",), ("WARN",), ("INFO",), (None,)], "sev string"
        )
        out = filter_processor(
            df,
            "sev",
            include=MatchRules("strict", ["ERROR", "WARN", "INFO"]),
            exclude=MatchRules("strict", ["INFO"]),
        )
        assert {r.sev for r in out.collect()} == {"ERROR", "WARN"}

    def test_regexp_match(self, spark):
        df = spark.createDataFrame([("abc-1",), ("xyz-2",), ("abc-9",)], "name string")
        out = filter_processor(df, "name", include=MatchRules("regexp", [r"^abc-\d$"]))
        assert out.count() == 2

    def test_cascade_filter(self, spark):
        root = spark.createDataFrame([(1, "keep"), (2, "drop")], "id int, v string")
        child = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "parent_id int, k string"
        )
        kept_root, kept_child = cascade_filter(root, child, F.col("v") == "keep")
        assert kept_root.count() == 1
        assert {r.k for r in kept_child.collect()} == {"a", "b"}


class TestRouting:
    def test_route_by_value_with_default(self, spark):
        df = spark.createDataFrame([("a",), ("b",), ("zz",)], "k string")
        out = route_by_value(df, "k", {"a": "s1", "b": "s2"}, default_route="fallback")
        got = {r.k: r.route for r in out.collect()}
        assert got == {"a": "s1", "b": "s2", "zz": "fallback"}

    def test_route_no_default_drops(self, spark):
        df = spark.createDataFrame([("a",), ("zz",)], "k string")
        out = route_by_value(df, "k", {"a": "s1"})
        assert out.count() == 1

    def test_case_insensitive(self, spark):
        df = spark.createDataFrame([("Prod",)], "k string")
        out = route_by_value(df, "k", {"prod": "s1"}, case_sensitive=False)
        assert out.collect()[0].route == "s1"


class TestSampling:
    def test_zip_caps_per_window(self, spark, tiny_transcripts):
        from otel_arrow_spark.operators.parse import parse_transcripts

        df = spark.read.parquet(tiny_transcripts)
        out = zip_sample(df, n_per_window=2, window_duration="1 hour")
        counts = (
            out.groupBy(F.window("ts", "1 hour")).count().agg(F.max("count")).collect()
        )
        assert counts[0][0] <= 2

    def test_ratio_sample_deterministic_and_partition_invariant(
        self, spark, tiny_transcripts
    ):
        df = spark.read.parquet(tiny_transcripts)
        a = ratio_sample(df, 1, 10, ("conv_id", "turn_idx"))
        b = ratio_sample(df.repartition(13), 1, 10, ("conv_id", "turn_idx"))
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        frac = a.count() / df.count()
        assert 0.05 < frac < 0.15


class TestTailSample:
    @pytest.fixture(scope="class")
    def spans_df(self, spark):
        # trace A: has an error span; trace B: slow (wall 2000ms);
        # trace C: fast, clean — kept only if its md5 falls under the
        # probabilistic prefix (per-trace deterministic, asserted below)
        rows = [
            (1, "a" * 32, 0, "2024-01-01 00:00:00", 10),
            (2, "a" * 32, 2, "2024-01-01 00:00:00.005", 10),
            (3, "b" * 32, 0, "2024-01-01 00:00:00", 2000),
            (4, "b" * 32, 0, "2024-01-01 00:00:01", 50),
            (5, "c" * 32, 0, "2024-01-01 00:00:00", 5),
        ]
        return spark.createDataFrame(
            rows, "id long, trace_id string, status_code int, start_ts string, duration_ms long"
        ).withColumn("start_ts", F.col("start_ts").cast("timestamp_ntz"))

    def test_policies_and_whole_trace(self, spans_df):
        from otel_arrow_spark.operators.sample import tail_sample

        out = tail_sample(spans_df, latency_ms=500, keep_prefix="10").collect()
        by_id = {r.id: r.sample_policy for r in out}
        # error policy wins for the WHOLE trace, including its ok spans
        assert by_id[1] == "error" and by_id[2] == "error"
        # latency policy: trace wall = max end - min start = 2000ms > 500
        assert by_id[3] == "latency" and by_id[4] == "latency"
        # trace c: md5('ccc…') prefix decides; either absent or 'prob'
        assert by_id.get(5) in (None, "prob")

    def test_latency_is_trace_wall_not_span_sum(self, spark):
        from otel_arrow_spark.operators.sample import tail_sample

        # two 300ms spans overlapping: wall 400ms < 500 → dropped even
        # though summed durations (600ms) exceed the threshold
        df = spark.createDataFrame(
            [
                (1, "d" * 32, 0, "2024-01-01 00:00:00", 300),
                (2, "d" * 32, 0, "2024-01-01 00:00:00.1", 300),
            ],
            "id long, trace_id string, status_code int, start_ts string, duration_ms long",
        ).withColumn("start_ts", F.col("start_ts").cast("timestamp_ntz"))
        out = tail_sample(df, latency_ms=500, keep_prefix="00")
        assert out.filter(F.col("sample_policy") == "latency").count() == 0

    def test_single_exchange(self, spans_df):
        from otel_arrow_spark.operators.sample import tail_sample

        plan = tail_sample(spans_df)._jdf.queryExecution().executedPlan().toString()
        # every policy rides ONE unordered window on trace_id: exactly one
        # hash Exchange, no join operators
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Join" not in plan


class TestThrottle:
    def test_caps_per_key_and_window_earliest(self, spark):
        from otel_arrow_spark.operators.sample import throttle

        rows = [
            (i, "u1", f"2024-01-01 00:{i:02d}:00") for i in range(5)
        ] + [(10, "u2", "2024-01-01 00:30:00")]
        df = spark.createDataFrame(rows, "event_id long, user_id string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        out = throttle(
            df, keys=("user_id",), max_per_window=2, window_duration="1 hour",
            tiebreak=("event_id",),
        )
        kept = sorted(r.event_id for r in out.collect())
        # u1 keeps its EARLIEST two of five; u2 under quota keeps its one
        assert kept == [0, 1, 10]

    def test_window_boundary_resets_quota(self, spark):
        from otel_arrow_spark.operators.sample import throttle

        df = spark.createDataFrame(
            [(1, "u", "2024-01-01 00:59:00"), (2, "u", "2024-01-01 01:00:00")],
            "event_id long, user_id string, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        out = throttle(df, keys=("user_id",), max_per_window=1,
                       window_duration="1 hour", tiebreak=("event_id",))
        assert out.count() == 2


class TestBurnRate:
    def test_short_and_long_burn_math(self, spark):
        from otel_arrow_spark.operators.slo import burn_rate

        # hour 0: 3/4 errors (short burn 3.0 @ slo .75); hour 1: 0/4;
        # day ratio 3/8 → long burn 1.5 → hour-0 alert fires, hour-1 not
        rows = [(i, "error" if i < 3 else "ok", f"2024-01-01 00:0{i}:00") for i in range(4)]
        rows += [(i + 4, "ok", f"2024-01-01 01:0{i}:00") for i in range(4)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        out = {
            r.bucket_start.hour: r
            for r in burn_rate(df, F.col("event_type") == "error", slo=0.75).collect()
        }
        assert out[0].short_burn == 3.0 and out[1].short_burn == 0.0
        assert out[0].long_burn == 1.5 and out[1].long_burn == 1.5
        assert out[0].alert is True and out[1].alert is False

    def test_long_window_partitions_by_day(self, spark):
        from otel_arrow_spark.operators.slo import burn_rate

        # identical hours on two days must not share a long window
        rows = [(1, "error", "2024-01-01 05:00:00"), (2, "ok", "2024-01-02 05:00:00")]
        df = spark.createDataFrame(rows, "event_id long, event_type string, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        out = sorted(
            burn_rate(df, F.col("event_type") == "error", slo=0.75).collect(),
            key=lambda r: r.bucket_start,
        )
        assert out[0].long_burn == 4.0 and out[1].long_burn == 0.0


    @pytest.mark.parametrize("ts_type", ["timestamp_ntz", "timestamp"])
    def test_same_rows_under_any_session_time_zone(self, spark, ts_type):
        """Buckets are cut on epoch time, not in the session time zone:
        half-hour (Asia/Kolkata) and negative (America/New_York) offsets
        leave the hour and day buckets where UTC puts them."""
        import datetime as dt

        from otel_arrow_spark.operators.slo import burn_rate

        rows = [
            ("error", "2024-01-01 23:40:00"),
            ("ok", "2024-01-02 00:10:00"),
            ("ok", "2024-01-02 04:50:00"),
        ]
        df = spark.createDataFrame(rows, "event_type string, ts string")
        # a zone in the string pins the instant whatever the session zone;
        # without one, timestamp_ntz keeps the wall-clock time
        ts = F.concat("ts", F.lit("Z")) if ts_type == "timestamp" else F.col("ts")
        df = df.withColumn("ts", ts.cast(ts_type))
        key = "spark.sql.session.timeZone"
        saved = spark.conf.get(key)
        got = {}
        try:
            for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
                spark.conf.set(key, tz)
                got[tz] = sorted(
                    tuple(r) for r in
                    burn_rate(df, F.col("event_type") == "error", slo=0.75).collect()
                )
        finally:
            spark.conf.set(key, saved)
        assert spark.conf.get(key) == saved
        assert got["America/New_York"] == got["UTC"] == got["Asia/Kolkata"]
        hours = [r[0] for r in got["UTC"]]
        if ts_type == "timestamp_ntz":
            assert hours == [
                dt.datetime(2024, 1, 1, 23), dt.datetime(2024, 1, 2, 0),
                dt.datetime(2024, 1, 2, 4),
            ]
        # 23:00 is alone in its day (burn 4.0); the next day has no errors
        assert [r[4] for r in got["UTC"]] == [4.0, 0.0, 0.0]


class TestFlow:
    def test_conditional_branches_exclusive_first_match(self, spark):
        df = spark.createDataFrame([(i,) for i in range(10)], "x int")
        out = conditional_branches(
            df,
            [
                (F.col("x") < 3, lambda d: d.withColumn("b", F.lit("lo"))),
                (F.col("x") < 6, lambda d: d.withColumn("b", F.lit("mid"))),
            ],
            otherwise=lambda d: d.withColumn("b", F.lit("hi")),
        )
        got = {r.x: r.b for r in out.collect()}
        assert got == {0: "lo", 1: "lo", 2: "lo", 3: "mid", 4: "mid", 5: "mid",
                       6: "hi", 7: "hi", 8: "hi", 9: "hi"}
        assert out.count() == 10  # no row lost or duplicated


class TestTemporalJoin:
    """As-of + interval joins (operators/temporal_join.py) vs DuckDB
    ASOF JOIN / brute-force containment oracles."""

    @pytest.fixture(scope="class")
    def ev(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def test_asof_matches_duckdb(self, spark, ev):
        import duckdb

        from otel_arrow_spark.operators.temporal_join import asof_join

        left = ev.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts")
        right = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("vid"),
            F.col("value").alias("vval"))
        got = asof_join(left, right, by=["user_id"], on="ts")  # default cols
        got2 = asof_join(left, right, by=["user_id"], on="ts",
                         right_cols=["vid", "vval"])
        rows = {r["event_id"]: (r["asof_vid"], r["asof_vval"])
                for r in got2.collect()}
        con = duckdb.connect()
        exp = con.execute("""
            WITH e AS (SELECT * FROM read_parquet(
                '/root/testdata/sf0.001/events.parquet')),
            l AS (SELECT event_id, user_id, ts FROM e WHERE event_type='error'),
            r AS (SELECT user_id, ts, event_id AS vid, value AS vval
                  FROM e WHERE event_type='view')
            SELECT l.event_id, r.vid, r.vval
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """).fetchall()
        assert len(exp) == len(rows) > 0
        for eid, vid, vval in exp:
            assert rows[eid] == (vid, vval), eid
        assert got.columns == got2.columns  # default right_cols == explicit

    def test_asof_strict_excludes_equal_ts(self, spark):
        from otel_arrow_spark.operators.temporal_join import asof_join

        left = spark.createDataFrame(
            [("k", 10, "l1")], "k string, ts long, lv string")
        right = spark.createDataFrame(
            [("k", 10, "r10"), ("k", 5, "r5")], "k string, ts long, rv string")
        incl = asof_join(left, right, by=["k"], on="ts").collect()[0]
        strict = asof_join(left, right, by=["k"], on="ts", strict=True).collect()[0]
        assert incl["asof_rv"] == "r10"
        assert strict["asof_rv"] == "r5"

    def test_asof_null_right_column_not_backfilled(self, spark):
        """A matched right row with a legitimate NULL in one column must
        keep that NULL — per-column last(ignorenulls) would wrongly mix in
        the value from an OLDER right row (DuckDB ASOF never does)."""
        from otel_arrow_spark.operators.temporal_join import asof_join

        left = spark.createDataFrame(
            [("k", 20, "l1")], "k string, ts long, lv string")
        right = spark.createDataFrame(
            [("k", 5, "old_a", "old_b"), ("k", 10, None, "new_b")],
            "k string, ts long, a string, b string")
        row = asof_join(left, right, by=["k"], on="ts").collect()[0]
        assert row["asof_b"] == "new_b"
        assert row["asof_a"] is None  # NOT "old_a"

    def test_asof_empty_right_cols_returns_left(self, spark):
        from otel_arrow_spark.operators.temporal_join import asof_join

        left = spark.createDataFrame([("k", 1, "x")], "k string, ts long, v string")
        right = spark.createDataFrame([("k", 1)], "k string, ts long")
        assert asof_join(left, right, by=["k"], on="ts").collect() == left.collect()

    def test_interval_join_matches_bruteforce(self, spark, ev):
        from otel_arrow_spark.operators.temporal_join import interval_join

        intervals = (
            ev.where(F.col("event_type") == "error")
            .select(F.col("event_id").alias("ivl_id"), "user_id",
                    F.col("ts").alias("start_ts"),
                    (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"))
        )
        points = ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("pt_id"))
        got = interval_join(points, intervals, by=["user_id"],
                            bucket_seconds=613)  # non-divisor width
        got_pairs = {(r["ivl_id"], r["pt_id"]) for r in got.collect()}
        exp = points.alias("p").join(
            intervals.alias("i"),
            (F.col("p.user_id") == F.col("i.user_id"))
            & (F.col("p.ts") >= F.col("i.start_ts"))
            & (F.col("p.ts") <= F.col("i.end_ts")),
        ).select("ivl_id", "pt_id").collect()
        assert got_pairs == {(r["ivl_id"], r["pt_id"]) for r in exp}
        assert len(got_pairs) > 0

    def test_interval_join_plan_has_no_nested_loop(self, spark, ev):
        from otel_arrow_spark.operators.temporal_join import interval_join

        intervals = ev.limit(100).select(
            F.col("event_id").alias("ivl_id"), "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("end_ts"))
        points = ev.select("user_id", "ts", F.col("event_id").alias("pt_id"))
        plan = interval_join(points, intervals, by=["user_id"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan

    def test_asof_plan_single_shuffle_no_join(self, spark, ev):
        from otel_arrow_spark.operators.temporal_join import asof_join

        left = ev.select("event_id", "user_id", "ts")
        right = ev.select("user_id", "ts", F.col("value").alias("rv"))
        plan = asof_join(left, right, by=["user_id"], right_cols=["rv"])._jdf \
            .queryExecution().executedPlan().toString()
        assert "Join" not in plan  # union-window formulation: no join operator
        assert plan.count("Exchange hashpartitioning") == 1


class TestSessionize:
    """Batch gap sessionization (operators/sessionize.py) vs a DuckDB
    window-replay oracle."""

    def test_session_boundaries(self, spark):
        from otel_arrow_spark.operators.sessionize import sessionize

        rows = [("u", 0), ("u", 100), ("u", 2000), ("u", 2100), ("v", 50)]
        df = spark.createDataFrame(
            [(k, s) for k, s in rows], "k string, secs long"
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
        got = {(r["k"], r["secs"]): r["session_idx"]
               for r in sessionize(df, ["k"], gap_seconds=600).collect()}
        assert got == {("u", 0): 0, ("u", 100): 0, ("u", 2000): 1,
                       ("u", 2100): 1, ("v", 50): 0}

    def test_summaries_match_duckdb(self, spark):
        import duckdb

        from otel_arrow_spark.operators.sessionize import session_summaries

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        got = session_summaries(
            ev, ["user_id"], gap_seconds=1800, tiebreak=["event_id"]
        ).select("user_id", "session_idx", "n_events", "duration_us")
        res = {(r["user_id"], r["session_idx"]): (r["n_events"], r["duration_us"])
               for r in got.collect()}
        con = duckdb.connect()
        exp = con.execute("""
            WITH e AS (SELECT user_id, ts, event_id FROM read_parquet(
                '/root/testdata/sf0.001/events.parquet')),
            f AS (SELECT user_id, ts, event_id,
                         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                              THEN 0 ELSE 1 END AS new_s
                  FROM e WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts, event_id)),
            s AS (SELECT user_id, ts,
                         sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
                  FROM f)
            SELECT user_id, session_idx, count(*) AS n,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur
            FROM s GROUP BY 1, 2
        """).fetchall()
        assert len(exp) == len(res) > 100
        for uid, sidx, n, dur in exp:
            assert res[(uid, sidx)] == (n, dur), (uid, sidx)

    def test_single_exchange(self, spark):
        from otel_arrow_spark.operators.sessionize import sessionize

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = sessionize(ev, ["user_id"])._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1


class TestTemporalJoinProperties:
    """Hypothesis property fuzz: asof_join == python brute force on random
    inputs (the chaos-decoding analog for the temporal-join semantics)."""

    def test_asof_matches_bruteforce_random(self, spark):
        from hypothesis import given, settings, strategies as st

        from otel_arrow_spark.operators.temporal_join import asof_join

        key = st.integers(min_value=0, max_value=2)
        ts = st.integers(min_value=0, max_value=40)

        @settings(max_examples=8, deadline=None)
        @given(
            lefts=st.lists(st.tuples(key, ts), min_size=1, max_size=12),
            rights=st.dictionaries(st.tuples(key, ts),
                                   st.integers(min_value=0, max_value=99),
                                   min_size=0, max_size=12),
        )
        def run(lefts, rights):
            ldf = spark.createDataFrame(
                [(k, t, i) for i, (k, t) in enumerate(lefts)],
                "k long, ts long, lid long")
            if rights:
                rdf = spark.createDataFrame(
                    [(k, t, v) for (k, t), v in rights.items()],
                    "k long, ts long, rv long")
            else:
                rdf = spark.createDataFrame([], "k long, ts long, rv long")
            got = {r["lid"]: r["asof_rv"]
                   for r in asof_join(ldf, rdf, by=["k"], on="ts").collect()}
            for i, (k, t) in enumerate(lefts):
                cands = [(rt, v) for (rk, rt), v in rights.items()
                         if rk == k and rt <= t]
                want = max(cands)[1] if cands else None
                assert got[i] == want, (i, k, t)

        run()


class TestIntervalJoinProperties:
    """Hypothesis fuzz: interval_join == brute-force containment on random
    inputs, across bucket widths that do and don't divide the data range."""

    def test_interval_join_matches_bruteforce_random(self, spark):
        from hypothesis import given, settings, strategies as st

        from otel_arrow_spark.operators.temporal_join import interval_join

        key = st.integers(min_value=0, max_value=2)
        sec = st.integers(min_value=0, max_value=5000)

        @settings(max_examples=8, deadline=None)
        @given(
            points=st.lists(st.tuples(key, sec), min_size=1, max_size=10),
            ivls=st.lists(st.tuples(key, sec, st.integers(min_value=0, max_value=2000)),
                          min_size=1, max_size=8),
            width=st.sampled_from([1, 7, 600, 4096]),
        )
        def run(points, ivls, width):
            p = spark.createDataFrame(
                [(k, s, i) for i, (k, s) in enumerate(points)],
                "k long, secs long, pid long",
            ).selectExpr("k", "timestamp_seconds(secs) AS ts", "pid")
            iv = spark.createDataFrame(
                [(k, s, s + d, j) for j, (k, s, d) in enumerate(ivls)],
                "k long, s long, e long, iid long",
            ).selectExpr("k", "timestamp_seconds(s) AS start_ts",
                         "timestamp_seconds(e) AS end_ts", "iid")
            got = {(r["iid"], r["pid"]) for r in interval_join(
                p, iv, by=["k"], bucket_seconds=width).collect()}
            want = {(j, i)
                    for j, (ik, s, d) in enumerate(ivls)
                    for i, (pk, ps) in enumerate(points)
                    if pk == ik and s <= ps <= s + d}
            assert got == want

        run()


def test_forked_context_manager_unpersists(spark):
    """forked owns the persist lifecycle: persisted inside the block,
    unpersisted on exit — no caller-side unpersist needed."""
    from otel_arrow_spark.operators.flow import forked

    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    with forked(df, [lambda d: d.filter("x=1"), lambda d: d.filter("x>=2")]) as (a, b):
        assert df.storageLevel.useMemory  # persisted inside the block
        assert a.count() == 1 and b.count() == 2
    assert not df.storageLevel.useMemory  # released on exit


class TestAsofForward:
    def test_forward_inclusive_and_strict(self, spark):
        from otel_arrow_spark.operators.temporal_join import asof_join

        left = spark.createDataFrame([("k", 10, "l")], "k string, ts long, lv string")
        right = spark.createDataFrame(
            [("k", 10, "r10"), ("k", 15, "r15"), ("k", 5, "r5")],
            "k string, ts long, rv string")
        incl = asof_join(left, right, by=["k"], on="ts",
                         direction="forward").collect()[0]
        strict = asof_join(left, right, by=["k"], on="ts",
                           direction="forward", strict=True).collect()[0]
        assert incl["asof_rv"] == "r10"   # >= : same-ts right visible
        assert strict["asof_rv"] == "r15"  # > : next-later right

    def test_forward_matches_duckdb_asof(self, spark):
        import duckdb

        from otel_arrow_spark.operators.temporal_join import asof_join

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        left = ev.where(F.col("event_type") == "error").select(
            "event_id", "user_id", "ts")
        right = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts", F.col("event_id").alias("vid"))
        got = {r["event_id"]: r["asof_vid"]
               for r in asof_join(left, right, by=["user_id"], on="ts",
                                  direction="forward").collect()}
        exp = duckdb.connect().execute("""
            WITH e AS (SELECT * FROM read_parquet(
                '/root/testdata/sf0.001/events.parquet')),
            l AS (SELECT event_id, user_id, ts FROM e WHERE event_type='error'),
            r AS (SELECT user_id, ts, event_id AS vid FROM e WHERE event_type='view')
            SELECT l.event_id, r.vid
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts <= r.ts
        """).fetchall()
        assert len(exp) == len(got) > 0
        for eid, vid in exp:
            assert got[eid] == vid, eid

    def test_bad_direction_rejected(self, spark):
        from otel_arrow_spark.operators.temporal_join import asof_join

        df = spark.createDataFrame([("k", 1)], "k string, ts long")
        with pytest.raises(ValueError, match="backward|forward"):
            asof_join(df, df, by=["k"], direction="sideways")

    def test_forward_matches_bruteforce_random(self, spark):
        from hypothesis import given, settings, strategies as st

        from otel_arrow_spark.operators.temporal_join import asof_join

        key = st.integers(min_value=0, max_value=2)
        ts = st.integers(min_value=0, max_value=40)

        @settings(max_examples=6, deadline=None)
        @given(
            lefts=st.lists(st.tuples(key, ts), min_size=1, max_size=12),
            rights=st.dictionaries(st.tuples(key, ts),
                                   st.integers(0, 99), max_size=12),
        )
        def run(lefts, rights):
            ldf = spark.createDataFrame(
                [(k, t, i) for i, (k, t) in enumerate(lefts)],
                "k long, ts long, lid long")
            if rights:
                rdf = spark.createDataFrame(
                    [(k, t, v) for (k, t), v in rights.items()],
                    "k long, ts long, rv long")
            else:
                rdf = spark.createDataFrame([], "k long, ts long, rv long")
            got = {r["lid"]: r["asof_rv"]
                   for r in asof_join(ldf, rdf, by=["k"], on="ts",
                                      direction="forward").collect()}
            for i, (k, t) in enumerate(lefts):
                cands = [(rt, v) for (rk, rt), v in rights.items()
                         if rk == k and rt >= t]
                want = min(cands)[1] if cands else None
                assert got[i] == want, (i, k, t)

        run()


class TestHoppingAggregate:
    def test_each_row_lands_in_window_over_slide_windows(self, spark):
        from otel_arrow_spark.operators.aggregate import hopping_aggregate

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = hopping_aggregate(
            ev, "30 minutes", "10 minutes", keys=("event_type",),
            aggs=(F.count(F.lit(1)).alias("n"),),
        )
        total = out.agg(F.sum("n")).collect()[0][0]
        assert total == ev.count() * 3  # window/slide = 3 copies per row
        # window bounds really contain their rows: spot-check via join
        j = ev.join(
            out.select("window_start", "window_end", "event_type"),
            on=[ev.event_type == out.event_type,
                ev.ts >= out.window_start, ev.ts < out.window_end],
        )
        assert j.count() >= ev.count() * 3

    def test_single_aggregate_no_self_join(self, spark):
        from otel_arrow_spark.operators.aggregate import hopping_aggregate

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = hopping_aggregate(
            ev, "30 minutes", "15 minutes",
            aggs=(F.count(F.lit(1)).alias("n"),),
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert plan.count("Exchange hashpartitioning") == 1  # partial+final


class TestFunnel:
    """Ordered-conversion funnel (operators/funnel.py): state-machine
    semantics, strictly-after edge cases, DuckDB chained-CTE parity,
    and the one-shuffle/no-join plan contract."""

    def _df(self, spark, rows):
        # rows: (key, secs, step_type)
        return spark.createDataFrame(
            rows, "k string, secs long, event_type string"
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))

    def test_state_machine_semantics(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_progress

        rows = [
            # a: full funnel in order
            ("a", 0, "view"), ("a", 10, "click"), ("a", 20, "purchase"),
            # b: click before view — only the view counts
            ("b", 0, "click"), ("b", 10, "view"),
            # c: purchase skips click — stuck at step 1
            ("c", 0, "view"), ("c", 10, "purchase"),
            # d: equal-ts click is NOT strictly after the view
            ("d", 0, "view"), ("d", 0, "click"),
            # e: no view at all — no row
            ("e", 0, "click"), ("e", 10, "purchase"),
            # f: repeated views don't advance; late click does
            ("f", 0, "view"), ("f", 5, "view"), ("f", 9, "click"),
        ]
        out = funnel_progress(
            self._df(spark, rows), ["view", "click", "purchase"], ["k"]
        )
        got = {r["k"]: (r["steps_completed"], r["funnel_us"])
               for r in out.collect()}
        assert got == {
            "a": (3, 20_000_000),
            "b": (1, 0),
            "c": (1, 0),
            "d": (1, 0),
            "f": (2, 9_000_000),
        }

    def test_matches_duckdb_chained_ctes(self, spark):
        import duckdb

        from otel_arrow_spark.operators.funnel import funnel_progress

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        got = sorted(
            (r["user_id"], str(r["day"]), r["steps_completed"], r["funnel_us"])
            for r in funnel_progress(
                ev, ["view", "click", "purchase"],
                ["user_id", F.to_date("ts").alias("day")],
                tiebreak="event_id",
            ).collect()
        )
        con = duckdb.connect()
        exp = sorted(
            (u, str(d), n, dur)
            for u, d, n, dur in con.execute("""
            WITH e AS (SELECT * FROM read_parquet(
                '/root/testdata/sf0.001/events.parquet')),
            s1 AS (SELECT user_id, CAST(ts AS DATE) AS day, min(ts) AS t1
                   FROM e WHERE event_type = 'view' GROUP BY 1, 2),
            s2 AS (SELECT e.user_id, CAST(e.ts AS DATE) AS day,
                          min(e.ts) AS t2
                   FROM e JOIN s1 ON e.user_id = s1.user_id
                    AND CAST(e.ts AS DATE) = s1.day
                   WHERE e.event_type = 'click' AND e.ts > s1.t1
                   GROUP BY 1, 2),
            s3 AS (SELECT e.user_id, CAST(e.ts AS DATE) AS day,
                          min(e.ts) AS t3
                   FROM e JOIN s2 ON e.user_id = s2.user_id
                    AND CAST(e.ts AS DATE) = s2.day
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                   GROUP BY 1, 2)
            SELECT s1.user_id, s1.day,
                   CASE WHEN t3 IS NOT NULL THEN 3
                        WHEN t2 IS NOT NULL THEN 2 ELSE 1 END,
                   CAST(epoch_us(coalesce(t3, t2, t1)) - epoch_us(t1)
                        AS BIGINT)
            FROM s1
            LEFT JOIN s2 ON s1.user_id = s2.user_id AND s1.day = s2.day
            LEFT JOIN s3 ON s1.user_id = s3.user_id AND s1.day = s3.day
            """).fetchall()
        )
        assert len(got) > 50
        assert got == exp

    def test_summary_conversion_chart(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_summary

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = funnel_summary(
            ev, ["view", "click", "purchase"],
            ["user_id", F.to_date("ts").alias("day")], tiebreak="event_id",
        ).collect()
        assert [r["step"] for r in rows] == ["view", "click", "purchase"]
        n = [r["n_reached"] for r in rows]
        assert n[0] >= n[1] >= n[2] > 0  # monotone funnel
        assert rows[0]["conversion"] == 1.0
        assert all(0 < r["conversion"] <= 1.0 for r in rows)

    def test_plan_one_shuffle_no_join_no_python(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_progress

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = funnel_progress(
            ev, ["view", "click", "purchase"],
            ["user_id", F.to_date("ts").alias("day")], tiebreak="event_id",
        )._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan  # no k-way self-join
        assert plan.count("Exchange hashpartitioning") == 1
        assert "EvalPython" not in plan  # pure JVM state machine
        # the step-type filter reaches the parquet scan
        assert "PushedFilters" in plan
        pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
        assert "event_type" in pushed

    def test_rejects_bad_steps(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.operators.funnel import funnel_progress

        df = self._df(spark, [("a", 0, "view")])
        with _pytest.raises(ValueError):
            funnel_progress(df, ["view"], ["k"])
        with _pytest.raises(ValueError):
            funnel_progress(df, ["view", "view"], ["k"])


class TestScd2Enrich:
    """Point-in-time SCD2 dimension enrich (operators/enrich.py
    enrich_scd2 + scd2_intervals): version-boundary semantics, no row
    loss/duplication, and the broadcast no-shuffle plan contract."""

    def _dim(self, spark):
        from otel_arrow_spark.operators.enrich import scd2_intervals

        changelog = spark.createDataFrame(
            [("u", 100, "v1"), ("u", 200, "v2"), ("u", 300, "v3"),
             ("w", 150, "w1")],
            "user_id string, vf long, tier string",
        ).select(
            "user_id",
            F.timestamp_seconds(F.col("vf")).alias("valid_from"),
            "tier",
        )
        return scd2_intervals(changelog, "user_id")

    def test_point_in_time_semantics(self, spark):
        from otel_arrow_spark.operators.enrich import enrich_scd2

        facts = spark.createDataFrame(
            [(1, "u", 50),    # before first version -> NULL
             (2, "u", 100),   # exactly at v1 start -> v1 (closed lower)
             (3, "u", 199),   # just before v2 -> v1
             (4, "u", 200),   # v2 start (open upper on v1) -> v2
             (5, "u", 999),   # open current version -> v3
             (6, "w", 200),   # other key -> w1
             (7, "x", 200)],  # unknown key -> NULL
            "event_id long, user_id string, secs long",
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
        out = enrich_scd2(facts, self._dim(spark), "user_id")
        got = {r["event_id"]: r["tier"] for r in out.collect()}
        assert got == {1: None, 2: "v1", 3: "v1", 4: "v2", 5: "v3",
                       6: "w1", 7: None}

    def test_no_row_loss_or_duplication(self, spark):
        from otel_arrow_spark.operators.enrich import enrich_scd2

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        dim = self._dim(spark)  # keys don't even match — all NULL enrich
        out = enrich_scd2(ev.withColumn(
            "user_id", F.col("user_id").cast("string")), dim, "user_id")
        assert out.count() == ev.count()

    def test_broadcast_no_fact_shuffle(self, spark):
        from otel_arrow_spark.operators.enrich import enrich_scd2

        ev = spark.read.parquet(
            "/root/testdata/sf0.001/events.parquet"
        ).withColumn("user_id", F.col("user_id").cast("string"))
        plan = enrich_scd2(ev, self._dim(spark), "user_id")._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        # the only Exchange is the tiny dimension's own window shuffle —
        # the fact side reaches the join straight from the scan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_intervals_disjoint_and_open_ended(self, spark):
        rows = self._dim(spark).where(F.col("user_id") == "u") \
            .orderBy("valid_from").collect()
        assert [r["tier"] for r in rows] == ["v1", "v2", "v3"]
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert rows[-1]["valid_to"] is None


class TestFunnelHorizon:
    """Conversion-horizon variant of funnel_progress: steps only count
    within horizon_seconds of the step-0 event."""

    def test_horizon_cuts_late_steps(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_progress

        rows = [
            ("a", 0, "view"), ("a", 50, "click"), ("a", 200, "purchase"),
            ("b", 0, "view"), ("b", 150, "click"),
        ]
        df = spark.createDataFrame(
            rows, "k string, secs long, event_type string"
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
        got = {r["k"]: r["steps_completed"] for r in funnel_progress(
            df, ["view", "click", "purchase"], ["k"], horizon_seconds=100
        ).collect()}
        # a: click@50 in horizon, purchase@200 out -> 2; b: click@150 out -> 1
        assert got == {"a": 2, "b": 1}

    def test_horizon_boundary_inclusive_and_late_step_recoverable(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_progress

        rows = [
            ("a", 0, "view"), ("a", 100, "click"),        # exactly at bound
            ("b", 0, "view"), ("b", 150, "click"), ("b", 90, "click"),
        ]
        df = spark.createDataFrame(
            rows, "k string, secs long, event_type string"
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
        got = {r["k"]: r["steps_completed"] for r in funnel_progress(
            df, ["view", "click", "purchase"], ["k"], horizon_seconds=100
        ).collect()}
        # a: <= bound counts; b: the out-of-horizon click@150 does not
        # close the funnel — the in-horizon click@90 advances it
        assert got == {"a": 2, "b": 2}

    def test_unbounded_default_unchanged(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_progress

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        args = (["view", "click", "purchase"],
                ["user_id", F.to_date("ts").alias("day")])
        a = sorted(tuple(r) for r in funnel_progress(
            ev, *args, tiebreak="event_id").collect())
        b = sorted(tuple(r) for r in funnel_progress(
            ev, *args, tiebreak="event_id", horizon_seconds=None).collect())
        assert a == b


class TestCohortRetention:
    """Exact cohort-retention matrix (operators/funnel.py
    cohort_retention): hand fixture, DuckDB parity, calendar-bounded
    state, and the no-self-join plan contract."""

    def test_hand_fixture(self, spark):
        from otel_arrow_spark.operators.funnel import cohort_retention

        # u first seen day 0, active days 0,1,3; v first seen day 1,
        # active days 1,2; w only day 3
        rows = [("u", 0), ("u", 1), ("u", 3), ("u", 3),
                ("v", 1), ("v", 2), ("w", 3)]
        df = spark.createDataFrame(rows, "user_id string, d long") \
            .withColumn("ts", F.timestamp_seconds(F.col("d") * 86400))
        got = {(str(r["cohort"]), r["period_offset"]): r["n_active"]
               for r in cohort_retention(df, period="day").collect()}
        assert got == {
            ("1970-01-01", 0): 1, ("1970-01-01", 1): 1, ("1970-01-01", 3): 1,
            ("1970-01-02", 0): 1, ("1970-01-02", 1): 1,
            ("1970-01-04", 0): 1,
        }

    def test_matches_duckdb(self, spark):
        import duckdb

        from otel_arrow_spark.operators.funnel import cohort_retention

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        got = sorted(
            (str(r["cohort"]), r["period_offset"], r["n_active"])
            for r in cohort_retention(ev, period="week").collect()
        )
        exp = sorted(
            (str(c), o, n) for c, o, n in duckdb.connect().execute("""
            WITH a AS (SELECT user_id,
                              CAST(date_trunc('week', ts) AS DATE) AS p
                       FROM read_parquet(
                           '/root/testdata/sf0.001/events.parquet')),
            k AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY 1),
            d AS (SELECT DISTINCT a.user_id, k.cohort, a.p
                  FROM a JOIN k ON a.user_id = k.user_id)
            SELECT cohort, CAST(datediff('day', cohort, p) / 7 AS INT),
                   count(*) FROM d GROUP BY 1, 2
            """).fetchall()
        )
        assert len(got) > 3
        assert got == exp

    def test_offset_zero_is_cohort_size_and_monotone(self, spark):
        from otel_arrow_spark.operators.funnel import cohort_retention

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        rows = cohort_retention(ev, period="week").collect()
        by_cohort = {}
        for r in rows:
            by_cohort.setdefault(str(r["cohort"]), {})[r["period_offset"]] = \
                r["n_active"]
        for offsets in by_cohort.values():
            assert all(offsets[0] >= n for o, n in offsets.items() if o > 0)

    def test_plan_no_self_join(self, spark):
        from otel_arrow_spark.operators.funnel import cohort_retention

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = cohort_retention(ev)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Join" not in plan
        assert "EvalPython" not in plan

    def test_rejects_bad_period(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.operators.funnel import cohort_retention

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        with _pytest.raises(ValueError):
            cohort_retention(ev, period="fortnight")


class TestAbConversion:
    """One-vs-rest two-proportion z over funnel progress (operators/
    funnel.py ab_conversion): textbook z on a hand fixture, symmetry at
    two variants, three-variant one-vs-rest, and no-collect plan."""

    def _prog(self, spark, rows):
        return spark.createDataFrame(
            rows, "variant string, steps_completed int"
        )

    def test_two_variant_textbook_z(self, spark):
        import math

        from otel_arrow_spark.operators.funnel import ab_conversion

        # A: 30/100 convert; B: 20/100
        rows = ([("A", 2)] * 30 + [("A", 1)] * 70
                + [("B", 2)] * 20 + [("B", 1)] * 80)
        out = {r["variant"]: r for r in ab_conversion(
            self._prog(spark, rows), target_step=2).collect()}
        p_pool = 50 / 200
        se = math.sqrt(p_pool * (1 - p_pool) * (1 / 100 + 1 / 100))
        z = (0.30 - 0.20) / se
        assert out["A"]["n_entered"] == 100
        assert out["A"]["n_converted"] == 30
        assert abs(out["A"]["conv_rate"] - 0.30) < 1e-12
        assert abs(out["A"]["z_vs_rest"] - z) < 1e-9
        assert abs(out["B"]["z_vs_rest"] + z) < 1e-9  # opposite sign

    def test_three_variants_one_vs_rest(self, spark):
        from otel_arrow_spark.operators.funnel import ab_conversion

        rows = ([("A", 2)] * 10 + [("A", 1)] * 10
                + [("B", 2)] * 5 + [("B", 1)] * 15
                + [("C", 2)] * 5 + [("C", 1)] * 15)
        out = {r["variant"]: r for r in ab_conversion(
            self._prog(spark, rows), target_step=2).collect()}
        assert len(out) == 3
        # A (50%) beats rest (25%): positive z; B == C: identical negative z
        assert out["A"]["z_vs_rest"] > 0
        assert out["B"]["z_vs_rest"] == out["C"]["z_vs_rest"] < 0

    def test_null_experiment_small_z(self, spark):
        from otel_arrow_spark.operators.funnel import (
            ab_conversion, funnel_progress)
        from otel_arrow_spark.textops.analysis import hash_split

        ev = hash_split(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet"),
            {"A": 0.5, "B": 0.5}, id_col="user_id", salt="ab-v1",
            out_col="variant")
        prog = funnel_progress(
            ev, ["view", "click", "purchase"],
            ["user_id", F.to_date("ts").alias("day"), "variant"],
            tiebreak="event_id")
        rows = ab_conversion(prog, target_step=2).collect()
        assert len(rows) == 2
        assert all(abs(r["z_vs_rest"]) < 3.0 for r in rows)

    def test_no_collect_no_python(self, spark):
        from otel_arrow_spark.operators.funnel import ab_conversion

        rows = [("A", 2), ("B", 1)]
        plan = ab_conversion(self._prog(spark, rows), target_step=2)._jdf \
            .queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan


class TestFunnelProperties:
    """Hypothesis property fuzz: funnel_progress == a Python brute-force
    state machine on random event streams (the chaos analog for the
    strictly-after/horizon semantics)."""

    def test_funnel_matches_bruteforce_random(self, spark):
        from hypothesis import given, settings, strategies as st

        from otel_arrow_spark.operators.funnel import funnel_progress

        STEPS = ["s0", "s1", "s2"]
        key = st.integers(min_value=0, max_value=2)
        ts = st.integers(min_value=0, max_value=30)
        typ = st.sampled_from(STEPS + ["noise"])

        def brute(events, horizon=None):
            # events: [(key, ts, type, uid)] — replay per key in
            # (ts, uid) order with the operator's exact advance rule
            out = {}
            bykey = {}
            for k, t, y, uid in events:
                bykey.setdefault(k, []).append((t, uid, y))
            for k, evs in bykey.items():
                n, first, last = 0, None, None
                for t, _, y in sorted(evs):
                    if y not in STEPS or STEPS.index(y) != n:
                        continue
                    if last is not None and not t > last:
                        continue
                    if (horizon is not None and first is not None
                            and t > first + horizon):
                        continue
                    n += 1
                    first = t if first is None else first
                    last = t
                if n >= 1:
                    out[k] = (n, (last - first) * 1_000_000)
            return out

        @settings(max_examples=6, deadline=None)
        @given(
            events=st.lists(st.tuples(key, ts, typ), min_size=1,
                            max_size=20),
            horizon=st.sampled_from([None, 5, 12]),
        )
        def run(events, horizon):
            rows = [(k, t, y, i) for i, (k, t, y) in enumerate(events)]
            df = spark.createDataFrame(
                rows, "k long, secs long, event_type string, uid long"
            ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
            got = {r["k"]: (r["steps_completed"], r["funnel_us"])
                   for r in funnel_progress(
                       df, STEPS, ["k"], tiebreak="uid",
                       horizon_seconds=horizon).collect()}
            assert got == brute(rows, horizon), (events, horizon)

        run()


class TestReviewRegressionFixes:
    """Regression pins for the round-5 final-block review findings."""

    def test_funnel_summary_emits_zero_rows_for_unreached_steps(self, spark):
        from otel_arrow_spark.operators.funnel import funnel_summary

        rows = [("a", 0, "view"), ("b", 5, "view")]  # nobody clicks
        df = spark.createDataFrame(
            rows, "k string, secs long, event_type string"
        ).withColumn("ts", F.timestamp_seconds(F.col("secs")))
        out = funnel_summary(df, ["view", "click", "purchase"], ["k"]).collect()
        assert [(r["step"], r["n_reached"]) for r in out] == [
            ("view", 2), ("click", 0), ("purchase", 0)]
        assert [r["conversion"] for r in out] == [1.0, 0.0, 0.0]

    def test_stitch_null_line_opens_empty_event(self, spark):
        from otel_arrow_spark.operators.logpatterns import stitch_multiline

        rows = [("a", 0, "ERROR boom"), ("a", 1, None), ("a", 2, "    at f")]
        df = spark.createDataFrame(
            rows, "src string, line_no long, line string")
        got = {r["event_idx"]: (r["n_lines"], r["text"]) for r in
               stitch_multiline(df, "line_no", by=["src"]).collect()}
        # the NULL line starts a new event (as '' — no continuation
        # match); the following continuation attaches to IT, not to
        # the ERROR event
        assert got == {0: (1, "ERROR boom"), 1: (2, "\n    at f")}

    def test_ewma_excludes_null_values_and_timestamps(self, spark):
        from otel_arrow_spark.operators.anomaly import ewma_smooth

        rows = [("k", 0, 4.0), ("k", 1, None), ("k", 2, 8.0),
                ("k", None, 100.0)]
        df = spark.createDataFrame(
            rows, "k string, secs long, value double"
        ).withColumn(
            "ts", F.timestamp_seconds(F.col("secs"))).drop("secs")
        out = ewma_smooth(df, ("k",), alpha=0.5).collect()
        # NULL-value and NULL-ts rows are gone; survivors smooth over
        # the remaining series only (4 then (8+.5*4)/1.5)
        got = sorted(r["ewma"] for r in out)
        assert len(got) == 2
        assert got[0] == 4.0 and abs(got[1] - 10 / 1.5) < 1e-12
