"""Temporal reaggregation of metric data points: cumulative latest-wins
(the reference's replace-if-newer, mod.rs:1167-1205 +
test_cumulative_histogram_correlation), delta histogram bucket merge, and
exp-histogram scale alignment — each against independent Python oracles."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.operators.metrics import (
    exp_histogram_delta_merge,
    histogram_delta_merge,
    points_to_histogram,
    temporal_latest,
)

T0 = dt.datetime(2026, 1, 1, 0, 0, 0)


def ts(sec):
    return T0 + dt.timedelta(seconds=sec)


@pytest.fixture(scope="module")
def hist_points(spark):
    # cumulative histogram stream "m1": totals grow; later point supersedes
    rows = [
        ("m1", ts(5), 10, 100.0, [1.0, 5.0], [2, 3, 5]),
        ("m1", ts(20), 25, 260.0, [1.0, 5.0], [5, 8, 12]),   # later → wins
        ("m1", ts(10), 15, 150.0, [1.0, 5.0], [3, 5, 7]),    # out of order
        ("m1", ts(70), 30, 300.0, [1.0, 5.0], [6, 10, 14]),  # next window
        ("m2", ts(8), 4, 40.0, [1.0, 5.0], [1, 1, 2]),
    ]
    return spark.createDataFrame(
        rows,
        "metric_name string, ts timestamp, h_count long, h_sum double, "
        "bounds array<double>, bucket_counts array<long>",
    )


class TestCumulativeLatest:
    def test_later_timestamp_wins(self, spark, hist_points):
        """Mirror of test_cumulative_histogram_correlation: within a window
        the highest-ts point replaces earlier ones, regardless of arrival
        order."""
        out = temporal_latest(hist_points, "60 seconds", keys=("metric_name",))
        got = {
            (r.metric_name, r.window_start.minute): (r.h_count, r.bucket_counts)
            for r in out.collect()
        }
        assert got[("m1", 0)] == (25, [5, 8, 12])   # ts=20 wins over 5 and 10
        assert got[("m1", 1)] == (30, [6, 10, 14])
        assert got[("m2", 0)] == (4, [1, 1, 2])
        assert out.count() == 3

    def test_gauge_shaped_payload(self, spark):
        """temporal_latest is payload-agnostic: works for gauges/summaries
        (any column set rides in the point struct)."""
        g = spark.createDataFrame(
            [("g1", ts(1), 5.0), ("g1", ts(50), 9.0), ("g1", ts(30), 7.0)],
            "metric_name string, ts timestamp, value double",
        )
        out = temporal_latest(g, "60 seconds", keys=("metric_name",))
        assert out.collect()[0].value == 9.0


class TestDeltaHistogram:
    def test_merge_vs_python_oracle(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = []
        for i in range(200):
            sec = int(rng.randint(0, 180))
            counts = [int(c) for c in rng.randint(0, 5, size=4)]
            vals = float(rng.uniform(0, 20))
            rows.append(
                ("m", ts(sec), sum(counts), vals, [1.0, 5.0, 10.0],
                 counts, vals, vals)
            )
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, h_count long, h_sum double, "
            "bounds array<double>, bucket_counts array<long>, h_min double, "
            "h_max double",
        )
        out = histogram_delta_merge(df, "60 seconds", keys=("metric_name",))
        got = {r.window_start.minute: r for r in out.collect()}
        # independent oracle
        import collections

        exp = collections.defaultdict(lambda: [0, 0.0, [0, 0, 0, 0]])
        mins, maxs = {}, {}
        for name, t, c, s, b, bc, mn, mx in rows:
            m = (t - T0).seconds // 60
            exp[m][0] += c
            exp[m][1] += s
            exp[m][2] = [a + x for a, x in zip(exp[m][2], bc)]
            mins[m] = min(mins.get(m, mn), mn)
            maxs[m] = max(maxs.get(m, mx), mx)
        for m, (c, s, bc) in exp.items():
            assert got[m].h_count == c
            assert got[m].bucket_counts == bc
            assert abs(got[m].h_sum - s) < 1e-9
            assert got[m].h_min == mins[m] and got[m].h_max == maxs[m]

    def test_mixed_reaggregate_matches_single_temporality_ops(self, spark, hist_points):
        """histogram_mixed_reaggregate == histogram_delta_merge on delta
        streams AND == temporal_latest on cumulative streams, in ONE pass
        (the point-table-scanned-once form used by the star-schema query)."""
        import numpy as np

        from otel_arrow_spark.operators.metrics import histogram_mixed_reaggregate

        rng = np.random.RandomState(17)
        rows = []
        for i in range(200):
            sec = int(rng.randint(0, 180))
            counts = [int(c) for c in rng.randint(0, 5, size=3)]
            v = float(np.round(rng.uniform(0, 20), 6))
            temp = "delta" if i % 2 == 0 else "cumulative"
            rows.append((f"m_{temp}", temp, ts(sec), sum(counts), v, v, v,
                         [1.0, 5.0], counts))
        df = spark.createDataFrame(
            rows,
            "metric_name string, temporality string, ts timestamp, "
            "h_count long, h_sum double, h_min double, h_max double, "
            "bounds array<double>, bucket_counts array<long>",
        )
        mixed = histogram_mixed_reaggregate(df, "60 seconds", keys=("metric_name",))

        def canon(frame):
            return {
                (r.metric_name, r.window_start): (
                    r.h_count, round(r.h_sum, 9), r.h_min, r.h_max,
                    tuple(r.bucket_counts),
                )
                for r in frame.collect()
            }

        got_delta = canon(mixed.filter(F.col("temporality") == "delta"))
        want_delta = canon(histogram_delta_merge(
            df.filter(F.col("temporality") == "delta").drop("temporality"),
            "60 seconds", keys=("metric_name",)))
        assert got_delta == want_delta and len(got_delta) > 0
        got_cum = canon(mixed.filter(F.col("temporality") == "cumulative"))
        want_cum = canon(temporal_latest(
            df.filter(F.col("temporality") == "cumulative").drop("temporality"),
            "60 seconds", keys=("metric_name",)))
        assert got_cum == want_cum and len(got_cum) > 0
        # partial+final and JVM-only
        plan = mixed._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2

    def test_mixed_reaggregate_bounds_follow_latest_point(self, spark):
        """A cumulative stream that re-registers with different bounds
        mid-window must emit the LATEST point's bounds with its counts —
        first() could pair stale bounds with new bucket arrays."""
        from otel_arrow_spark.operators.metrics import histogram_mixed_reaggregate

        rows = [
            ("m", "cumulative", ts(5), 10, 10.0, 1.0, 9.0, [5.0, 25.0], [4, 4, 2]),
            ("m", "cumulative", ts(40), 20, 30.0, 1.0, 9.0,
             [5.0, 25.0, 125.0], [8, 6, 4, 2]),
        ]
        df = spark.createDataFrame(
            rows,
            "metric_name string, temporality string, ts timestamp, "
            "h_count long, h_sum double, h_min double, h_max double, "
            "bounds array<double>, bucket_counts array<long>",
        )
        out = histogram_mixed_reaggregate(df, "60 seconds", keys=("metric_name",)).collect()[0]
        assert out.bounds == [5.0, 25.0, 125.0]
        assert out.bucket_counts == [8, 6, 4, 2] and out.h_count == 20

    def test_points_to_histogram_bucket_rule(self, spark):
        df = spark.createDataFrame(
            [(0.5,), (1.0,), (3.0,), (5.0,), (7.0,)], "v double"
        )
        out = points_to_histogram(df, "v", bounds=[1.0, 5.0])
        got = [tuple(r.bucket_counts) for r in out.orderBy("v").collect()]
        # OTel rule: bucket i counts v <= bounds[i]; overflow counts v > last
        assert got == [(1, 0, 0), (1, 0, 0), (0, 1, 0), (0, 1, 0), (0, 0, 1)]


def _exp_bucket_side_merge(offsets, shifts, lists):
    """Scatter-add one bucket side (positive or negative) of a whole group
    at once: every bucket of every point maps to ``(offset + i) >> shift``
    at the target scale. Ragged per-point count lists concatenate into one
    array, per-element source indices derive from repeated offsets/shifts,
    and one ``np.add.at`` lands the merge."""
    import numpy as np

    lens = np.fromiter((len(c) for c in lists), dtype=np.int64, count=len(lists))
    total = int(lens.sum())
    if total == 0:
        return 0, np.zeros(0, dtype=np.int64)
    counts = np.concatenate(
        [np.asarray(c, dtype=np.int64) for c in lists if len(c)]
    )
    starts = np.repeat(np.asarray(offsets, dtype=np.int64), lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    idx = (starts + within) >> np.repeat(np.asarray(shifts, dtype=np.int64), lens)
    lo = int(idx.min())
    out = np.zeros(int(idx.max()) - lo + 1, dtype=np.int64)
    np.add.at(out, idx - lo, counts)
    return lo, out


def exp_merge_oracle(df, period="60 seconds", keys=("metric_name",)):
    """Driver-side numpy oracle for exp_histogram_delta_merge:
    ``expected = df.toPandas().groupby(window, *keys).apply(merge)``.
    Windows are epoch-aligned tumbling periods, as ``F.window`` makes them
    (the test session's time zone is UTC)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Row

    pdf = df.toPandas()
    has_neg = "neg_counts" in pdf.columns
    width = pd.Timedelta(period)
    pdf["window_start"] = pdf["ts"].dt.floor(width)

    def merge(g):
        scales = g["scale"].to_numpy(dtype=np.int64)
        target = int(scales.min())
        shifts = scales - target
        pos_lo, pos = _exp_bucket_side_merge(
            g["pos_offset"].to_numpy(dtype=np.int64), shifts, g["pos_counts"].tolist()
        )
        neg_lo, neg = 0, np.zeros(0, dtype=np.int64)
        if has_neg:
            neg_lo, neg = _exp_bucket_side_merge(
                g["neg_offset"].to_numpy(dtype=np.int64), shifts, g["neg_counts"].tolist()
            )
        start = g["window_start"].iloc[0]
        return Row(
            window_start=start.to_pydatetime(),
            window_end=(start + width).to_pydatetime(),
            **{k: (None if pd.isna(g[k].iloc[0]) else g[k].iloc[0]) for k in keys},
            e_count=int(g["e_count"].sum()),
            e_sum=float(g["e_sum"].sum()),
            scale=target,
            zero_count=int(g["zero_count"].sum()),
            pos_offset=pos_lo,
            pos_counts=pos.tolist(),
            neg_offset=neg_lo,
            neg_counts=neg.tolist(),
        )

    return [merge(g) for _, g in pdf.groupby(["window_start", *keys], dropna=False)]


def exp_merge(df, impl, period="60 seconds", keys=("metric_name",)):
    """Run one implementation of the merge: ``native`` is the production
    operator, ``pandas`` the driver-side oracle. Hand-computed cases check
    both, so the oracle the randomized test trusts is itself pinned."""
    if impl == "native":
        return exp_histogram_delta_merge(df, period, keys=keys).collect()
    return exp_merge_oracle(df, period, keys)


IMPLS = ["native", "pandas"]


class TestExpHistogram:
    @pytest.mark.parametrize("impl", IMPLS)
    def test_same_scale_merge(self, spark, impl):
        rows = [
            ("e", ts(1), 6, 10.0, 2, 1, 3, [1, 2, 3]),
            ("e", ts(2), 9, 15.0, 2, 2, 5, [4, 5]),
        ]
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>",
        )
        out = exp_merge(df, impl)[0]
        assert out.e_count == 15 and out.zero_count == 3 and out.scale == 2
        # offsets 3..5 and 5..6 → merged span 3..6 = [1,2,3+4,5]
        assert out.pos_offset == 3
        assert out.pos_counts == [1, 2, 7, 5]

    @pytest.mark.parametrize("impl", IMPLS)
    def test_scale_alignment(self, spark, impl):
        """scale 2 point downscaled to scale 0: indices collapse 4→1
        (idx >> 2); verified against an independent brute-force oracle."""
        rows = [
            ("e", ts(1), 10, 10.0, 2, 0, 4, [1, 1, 1, 1, 1, 1]),  # idx 4..9
            ("e", ts(2), 5, 5.0, 0, 0, 1, [2, 2]),                # idx 1..2
        ]
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>",
        )
        out = exp_merge(df, impl)[0]
        # oracle
        import collections

        acc = collections.Counter()
        for _, _, _, _, scale, _, off, cs in rows:
            for i, c in enumerate(cs):
                acc[(off + i) >> (scale - 0)] += c
        lo = min(acc)
        want = [acc.get(i, 0) for i in range(lo, max(acc) + 1)]
        assert out.scale == 0
        assert out.pos_offset == lo
        assert out.pos_counts == want
        assert out.e_count == 15


    @pytest.mark.parametrize("impl", IMPLS)
    def test_negative_buckets_merge(self, spark, impl):
        """Negative bucket side mirrors the positive path (builder.rs:79-128
        merges both); verified against a brute-force oracle on both sides
        with mixed scales."""
        rows = [
            ("e", ts(1), 10, -3.0, 2, 1, 4, [1, 2], 2, [3, 4, 5]),   # scale 2
            ("e", ts(2), 12, -5.0, 1, 0, 1, [6], 0, [7, 8]),          # scale 1
        ]
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>, "
            "neg_offset int, neg_counts array<long>",
        )
        out = exp_merge(df, impl)[0]
        import collections

        for side, off_i, cnt_i in (("pos", 6, 7), ("neg", 8, 9)):
            acc = collections.Counter()
            for r in rows:
                for i, c in enumerate(r[cnt_i]):
                    acc[(r[off_i] + i) >> (r[4] - 1)] += c
            lo = min(acc)
            want = [acc.get(i, 0) for i in range(lo, max(acc) + 1)]
            assert getattr(out, f"{side}_offset") == lo, side
            assert getattr(out, f"{side}_counts") == want, side
        assert out.scale == 1 and out.e_count == 22 and out.zero_count == 1
        assert abs(out.e_sum + 8.0) < 1e-12

    @pytest.mark.parametrize("impl", IMPLS)
    def test_empty_sides_and_posonly_inputs(self, spark, impl):
        """Inputs without neg columns still merge (empty negatives out);
        all-empty bucket lists produce empty arrays, not errors."""
        df = spark.createDataFrame(
            [("e", ts(1), 1, 1.0, 0, 1, 0, [])],
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>",
        )
        out = exp_merge(df, impl)[0]
        assert out.pos_counts == [] and out.neg_counts == []

    def test_engine_parity_randomized(self, spark):
        """The production merge equals the driver-side numpy oracle on a
        randomized mixed-scale corpus."""
        import numpy as np

        rng = np.random.RandomState(23)
        rows = []
        for i in range(300):
            n_pos = int(rng.randint(0, 5))
            n_neg = int(rng.randint(0, 4))
            rows.append((
                f"m{int(rng.randint(0, 3))}",
                ts(int(rng.randint(0, 600))),
                int(rng.randint(1, 20)),
                float(np.round(rng.uniform(-5, 20), 6)),
                int(rng.randint(0, 4)),
                int(rng.randint(0, 3)),
                int(rng.randint(-6, 12)),
                [int(c) for c in rng.randint(0, 7, size=n_pos)],
                int(rng.randint(-6, 12)),
                [int(c) for c in rng.randint(0, 7, size=n_neg)],
            ))
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>, "
            "neg_offset int, neg_counts array<long>",
        )
        def canon(rows):
            return {
                (r.metric_name, r.window_start): (
                    r.e_count, round(r.e_sum, 9), r.scale, r.zero_count,
                    r.pos_offset if r.pos_counts else None, tuple(r.pos_counts),
                    r.neg_offset if r.neg_counts else None, tuple(r.neg_counts),
                )
                for r in rows
            }
        nat = canon(exp_merge(df, "native"))
        pan = canon(exp_merge(df, "pandas"))
        assert nat == pan and len(nat) > 5

    def test_null_group_key_kept_both_engines(self, spark):
        """A NULL key column must keep its group (the merge joins points
        back to scalars — that join must be null-safe, matching the
        oracle's groupBy which retains null keys)."""
        df = spark.createDataFrame(
            [
                (None, ts(1), 2, 1.0, 1, 0, 0, [1, 1]),
                (None, ts(2), 3, 2.0, 0, 1, 0, [2]),
                ("m", ts(3), 1, 1.0, 0, 0, 0, [5]),
            ],
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>",
        )
        for impl in IMPLS:
            rows = {r.metric_name: r for r in exp_merge(df, impl, "600 seconds")}
            assert set(rows) == {None, "m"}, impl
            nul = rows[None]
            assert nul.e_count == 5 and nul.scale == 0, impl
            # scale-1 [1,1] at offset 0 folds to idx {0} sum 2 → plus the
            # scale-0 [2] at idx 0 → [4]
            assert nul.pos_counts == [4], (impl, nul)

    def test_native_plan_is_jvm_only_partial_final(self, spark):
        """The merge must stay whole-stage JVM: no Python eval nodes, and
        every aggregate partial+final."""
        df = spark.createDataFrame(
            [("e", ts(1), 1, 1.0, 0, 0, 0, [1])],
            "metric_name string, ts timestamp, e_count long, e_sum double, "
            "scale int, zero_count long, pos_offset int, pos_counts array<long>",
        )
        plan = exp_histogram_delta_merge(
            df, keys=("metric_name",)
        )._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan
        assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 4


class TestSummaryMerge:
    def test_count_sum_add_quantiles_latest(self, spark):
        """Summary reaggregation: count/sum accumulate, the quantile
        snapshot comes from the latest-ts point (quantiles are not
        mergeable; the reference's replace-if-newer applies)."""
        from otel_arrow_spark.operators.metrics import summary_merge

        rows = [
            ("s1", ts(5), 10, 100.0, [0.5, 0.99], [10.0, 90.0]),
            ("s1", ts(40), 20, 300.0, [0.5, 0.99], [12.0, 95.0]),  # latest in w0
            ("s1", ts(20), 15, 200.0, [0.5, 0.99], [11.0, 92.0]),
            ("s1", ts(70), 5, 50.0, [0.5, 0.99], [9.0, 80.0]),     # next window
        ]
        df = spark.createDataFrame(
            rows,
            "metric_name string, ts timestamp, s_count long, s_sum double, "
            "quantiles array<double>, values array<double>",
        )
        out = {r.window_start.minute: r
               for r in summary_merge(df, "60 seconds", keys=("metric_name",)).collect()}
        assert out[0].s_count == 45 and abs(out[0].s_sum - 600.0) < 1e-12
        assert out[0].values == [12.0, 95.0]  # ts=40 snapshot wins
        assert out[1].s_count == 5 and out[1].values == [9.0, 80.0]

    def test_summary_merge_partial_final(self, spark):
        """sum+max_by are algebraic: plan must show two-phase aggregation."""
        from otel_arrow_spark.operators.metrics import summary_merge

        df = spark.createDataFrame(
            [("s", ts(1), 1, 1.0, [0.5], [1.0])],
            "metric_name string, ts timestamp, s_count long, s_sum double, "
            "quantiles array<double>, values array<double>",
        )
        plan = summary_merge(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


class TestMetricsStarSchema:
    def test_integrity_and_latest_wins(self, spark, workdir):
        """METRICS star generator: parent_id ancestry resolves at every
        level; cumulative streams are monotone so latest-wins picks the
        maximum value per stream."""
        from otel_arrow_spark.operators.metrics import temporal_latest
        from otel_arrow_spark.sources.metrics_star import write_metrics_parquet

        p = write_metrics_parquet(f"{workdir}/metrics_fixture", 2000)
        metrics = spark.read.parquet(f"{p}/metrics.parquet")
        dps = spark.read.parquet(f"{p}/number_data_points.parquet")
        attrs = spark.read.parquet(f"{p}/number_dp_attrs.parquet")
        mids = {r.id for r in metrics.collect()}
        assert {r.parent_id for r in dps.select("parent_id").distinct().collect()} <= mids
        dpids = {r.id for r in dps.select("id").collect()}
        assert {
            r.parent_id for r in attrs.select("parent_id").distinct().collect()
        } <= dpids
        # cumulative sum stream: latest point == max value (monotone)
        cum = dps.join(
            metrics.filter(F.col("metric_type") == 1).select(
                F.col("id").alias("parent_id"), "name"
            ),
            "parent_id",
        )
        latest = temporal_latest(
            cum.select("name", "stream", "ts", "double_value"),
            "1 hour",
            keys=("name", "stream"),
        )
        mx = cum.groupBy("name", "stream").agg(F.max("double_value").alias("mv"))
        j = latest.join(mx, ["name", "stream"])
        assert j.filter(F.col("double_value") != F.col("mv")).count() == 0


    def test_exemplar_attrs_leaf_tables(self, spark, workdir):
        """v5 leaf tables (NUMBER/HISTOGRAM/EXP_HISTOGRAM_DP_EXEMPLAR_ATTRS,
        data_model.md:30,37,41): every attr row's parent exists in its
        exemplar table, every table is non-empty, and the shape is the
        standard exploded attrs layout."""
        from otel_arrow_spark.sources.metrics_star import write_metrics_parquet

        p = write_metrics_parquet(f"{workdir}/metrics_fixture", 2000)
        for ex_name, at_name in (
            ("number_dp_exemplars", "number_dp_exemplar_attrs"),
            ("histogram_dp_exemplars", "histogram_dp_exemplar_attrs"),
            ("exp_histogram_dp_exemplars", "exp_histogram_dp_exemplar_attrs"),
        ):
            ex = spark.read.parquet(f"{p}/{ex_name}.parquet")
            at = spark.read.parquet(f"{p}/{at_name}.parquet")
            assert at.count() > 0, at_name
            assert at.columns == ["parent_id", "key", "type", "str"], at_name
            orphans = at.join(
                ex.select(F.col("id").alias("parent_id")), "parent_id",
                "left_anti",
            )
            assert orphans.count() == 0, at_name

    def test_histogram_and_summary_star_tables(self, spark, workdir):
        """v2 star tables (HISTOGRAM_DP / HISTOGRAM_DP_ATTRS / SUMMARY_DP):
        ancestry resolves, temporality split is by metric_type, and the
        cumulative histogram streams are monotone so latest-wins == max."""
        from otel_arrow_spark.sources.metrics_star import write_metrics_parquet

        p = write_metrics_parquet(f"{workdir}/metrics_fixture", 2000)
        metrics = spark.read.parquet(f"{p}/metrics.parquet")
        hdp = spark.read.parquet(f"{p}/histogram_dp.parquet")
        hattrs = spark.read.parquet(f"{p}/histogram_dp_attrs.parquet")
        sdp = spark.read.parquet(f"{p}/summary_dp.parquet")

        types = {r.id: r.metric_type for r in metrics.collect()}
        h_parents = {r.parent_id for r in hdp.select("parent_id").distinct().collect()}
        assert h_parents and all(types[i] in (2, 3) for i in h_parents)
        s_parents = {r.parent_id for r in sdp.select("parent_id").distinct().collect()}
        assert s_parents and all(types[i] == 4 for i in s_parents)
        hdp_ids = {r.id for r in hdp.select("id").collect()}
        assert {
            r.parent_id for r in hattrs.select("parent_id").distinct().collect()
        } <= hdp_ids
        # cumulative histogram streams monotone → latest h_count == max
        cum = hdp.join(
            metrics.filter(F.col("metric_type") == 3).select(
                F.col("id").alias("parent_id")
            ),
            "parent_id",
        )
        latest = temporal_latest(
            cum.select("stream", "ts", "h_count"), "24 hours", keys=("stream",)
        )
        mx = cum.groupBy("stream").agg(F.max("h_count").alias("m"))
        assert latest.join(mx, "stream").filter(
            F.col("h_count") != F.col("m")
        ).count() == 0

    def test_exp_histogram_star_table(self, spark, workdir):
        """v3 table (EXP_HISTOGRAM_DATA_POINTS analog): ancestry resolves
        to exp-histogram metrics, bucket lists are ragged at mixed scales,
        and e_count is internally consistent with buckets + zero bucket."""
        from otel_arrow_spark.sources.metrics_star import write_metrics_parquet

        p = write_metrics_parquet(f"{workdir}/metrics_fixture", 2000)
        metrics = spark.read.parquet(f"{p}/metrics.parquet")
        edp = spark.read.parquet(f"{p}/exp_histogram_dp.parquet")
        types = {r.id: r.metric_type for r in metrics.collect()}
        assert all(
            types[r.parent_id] == 5
            for r in edp.select("parent_id").distinct().collect()
        )
        bad = edp.filter(
            F.col("e_count")
            != F.aggregate("pos_counts", F.lit(0).cast("long"), lambda a, x: a + x)
            + F.aggregate("neg_counts", F.lit(0).cast("long"), lambda a, x: a + x)
            + F.col("zero_count")
        )
        assert bad.count() == 0
        scales = {r.scale for r in edp.select("scale").distinct().collect()}
        assert len(scales) > 1, "mixed scales required to exercise alignment"

    def test_exemplar_and_summary_attr_tables(self, spark, workdir):
        """v4 instances (HISTOGRAM_DP_EXEMPLARS / EXP_HISTOGRAM_DP_EXEMPLARS
        / SUMMARY_DP_ATTRS): ancestry resolves to their own point tables,
        exemplar trace/span ids are well-formed hex."""
        from otel_arrow_spark.sources.metrics_star import write_metrics_parquet

        p = write_metrics_parquet(f"{workdir}/metrics_fixture", 2000)
        for dp_name, child_name in [
            ("histogram_dp", "histogram_dp_exemplars"),
            ("exp_histogram_dp", "exp_histogram_dp_exemplars"),
            ("summary_dp", "summary_dp_attrs"),
        ]:
            dp = spark.read.parquet(f"{p}/{dp_name}.parquet")
            child = spark.read.parquet(f"{p}/{child_name}.parquet")
            assert child.count() > 0, child_name
            dp_ids = {r.id for r in dp.select("id").collect()}
            pids = {r.parent_id
                    for r in child.select("parent_id").distinct().collect()}
            assert pids <= dp_ids, child_name
        ex = spark.read.parquet(f"{p}/histogram_dp_exemplars.parquet")
        bad = ex.filter(
            ~F.col("trace_id").rlike("^[0-9a-f]{32}$")
            | ~F.col("span_id_hex").rlike("^[0-9a-f]{16}$")
        )
        assert bad.count() == 0


class TestCardinalityCap:
    def test_early_flush_and_exact_merge(self, spark):
        """max_stream_cardinality analog (README.md:56-60): exceeding the
        cap emits partial aggregates early; merged partials equal the
        uncapped aggregate exactly; flush generations actually advance."""
        from otel_arrow_spark.operators.aggregate import capped_reaggregate

        # small Arrow batches so every stream recurs after its generation
        # was flushed (local relations otherwise arrive as ONE batch)
        rows = [(f"s{i % 50:02d}", float(i % 7)) for i in range(25000)]
        df = spark.createDataFrame(rows, "stream string, v double").coalesce(1)

        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        try:
            capped = capped_reaggregate(df, ("stream",), "v", max_streams=8)
            out = capped.collect()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        # 50 streams through an 8-slot map → many flush generations
        assert max(r.flush_seq for r in out) >= 5
        assert len(out) > 50  # multiple partials per stream
        merged = {
            r.stream: (r.n, r.s)
            for r in capped.groupBy("stream")
            .agg(
                F.sum("n_rows").alias("n"), F.round(F.sum("sum_v"), 6).alias("s")
            )
            .collect()
        }
        want = {
            r.stream: (r.n, r.s)
            for r in df.groupBy("stream")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("s"))
            .collect()
        }
        assert merged == want

    def test_under_cap_single_flush(self, spark):
        from otel_arrow_spark.operators.aggregate import capped_reaggregate

        df = spark.createDataFrame(
            [(f"s{i % 5}", 1.0) for i in range(100)], "stream string, v double"
        ).coalesce(1)
        out = capped_reaggregate(df, ("stream",), "v", max_streams=100).collect()
        assert len(out) == 5
        assert all(r.flush_seq == 0 for r in out)


class TestStreamingHistogram:
    def test_stream_merge_matches_batch(self, spark, workdir):
        """Streaming tumbling-window histogram merge == batch merge on the
        same points (the stream-batch parity bar, applied to the new
        operator)."""
        import numpy as np

        rng = np.random.RandomState(11)
        rows = [
            ("m", ts(int(rng.randint(0, 7200))), float(rng.uniform(0, 20)))
            for _ in range(500)
        ]
        src = f"{workdir}/hist_src"
        base = spark.createDataFrame(rows, "metric_name string, ts timestamp, v double")
        pts = points_to_histogram(base, "v", bounds=[1.0, 5.0, 10.0])
        pts.write.mode("overwrite").parquet(src)

        from otel_arrow_spark.streaming.jobs import stream_histogram_reaggregation

        q = stream_histogram_reaggregation(
            spark, src, f"{workdir}/hist_stream_out", f"{workdir}/hist_stream_ckpt",
            temporality="delta",
        )
        q.awaitTermination(300)
        got = spark.read.parquet(f"{workdir}/hist_stream_out/hist")
        batch = histogram_delta_merge(
            spark.read.parquet(src), "60 seconds", keys=("metric_name",)
        )
        # append mode emits only watermark-closed windows
        max_ts = base.agg(F.max("ts")).first()[0]
        closed = batch.filter(
            F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
        )
        g = {r.window_start: (r.h_count, tuple(r.bucket_counts)) for r in got.collect()}
        w = {r.window_start: (r.h_count, tuple(r.bucket_counts)) for r in closed.collect()}
        assert g == w and len(g) > 0

    def test_stream_latest_matches_batch(self, spark, workdir):
        """Streaming CUMULATIVE reaggregation (temporal_latest on the
        stream) == batch temporal_latest over the same points — the
        replace-if-newer rule survives micro-batching because max_by is
        algebraic across state updates."""
        import numpy as np

        rng = np.random.RandomState(13)
        rows = []
        for i in range(400):
            stream_id = f"s{int(rng.randint(0, 3))}"
            sec = int(rng.randint(0, 5400))
            # cumulative: value derives from ts so later point supersedes
            rows.append(("m", stream_id, ts(sec), 10, float(sec),
                         [1.0, 5.0], [sec, sec * 2, sec * 3]))
        src = f"{workdir}/cum_src"
        df = spark.createDataFrame(
            rows,
            "metric_name string, stream string, ts timestamp, h_count long, "
            "h_sum double, bounds array<double>, bucket_counts array<long>",
        )
        df.write.mode("overwrite").parquet(src)

        from otel_arrow_spark.streaming.jobs import stream_histogram_reaggregation

        q = stream_histogram_reaggregation(
            spark, src, f"{workdir}/cum_out", f"{workdir}/cum_ckpt",
            temporality="cumulative", keys=("metric_name", "stream"),
        )
        q.awaitTermination(300)
        got = spark.read.parquet(f"{workdir}/cum_out/hist")
        batch = temporal_latest(
            spark.read.parquet(src), "60 seconds", keys=("metric_name", "stream")
        )
        max_ts = df.agg(F.max("ts")).first()[0]
        closed = batch.filter(
            F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES")
        )
        key = lambda r: (r.stream, r.window_start)  # noqa: E731
        g = {key(r): (r.h_sum, tuple(r.bucket_counts)) for r in got.collect()}
        w = {key(r): (r.h_sum, tuple(r.bucket_counts)) for r in closed.collect()}
        assert g == w and len(g) > 0


class TestHistogramQuantile:
    def test_interpolation_hand_cases(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_quantile

        df = spark.createDataFrame(
            [([5.0, 25.0, 125.0], [2, 2, 4, 2])],
            "bounds array<double>, bucket_counts array<long>",
        )
        assert histogram_quantile(df, 0.5).collect()[0].quantile == 50.0
        # rank 9.5 lands in the overflow bucket → clamp to last bound
        assert histogram_quantile(df, 0.95).collect()[0].quantile == 125.0
        # rank 0 → first bucket, interpolates from 0
        assert histogram_quantile(df, 0.0).collect()[0].quantile == 0.0
        # rank exactly at a bucket edge: cum(0)=2 == rank → inside bucket 0
        r = histogram_quantile(df, 0.2).collect()[0].quantile
        assert r == 5.0  # 0 + 5*(2-0)/2

    def test_zero_total_is_null_and_empty_bucket_takes_hi(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_quantile

        df = spark.createDataFrame(
            [([5.0, 25.0], [0, 0, 0])],
            "bounds array<double>, bucket_counts array<long>",
        )
        assert histogram_quantile(df, 0.5).collect()[0].quantile is None

    def test_matches_numpy_on_dense_histogram(self, spark):
        """With many narrow buckets the estimate converges to the true
        percentile of the underlying sample."""
        import numpy as np

        from otel_arrow_spark.operators.metrics import histogram_quantile

        rng = np.random.RandomState(7)
        sample = rng.exponential(50.0, size=20000)
        bounds = [float(b) for b in np.linspace(1, 400, 200)]
        counts, _ = np.histogram(sample, bins=[0.0] + bounds + [np.inf])
        # histogram bins: [0,b0),[b0,b1)... matches le-style closely enough
        df = spark.createDataFrame(
            [(bounds, [int(c) for c in counts])],
            "bounds array<double>, bucket_counts array<long>",
        )
        for q in (0.5, 0.9, 0.99):
            est = histogram_quantile(df, q).collect()[0].quantile
            true = float(np.percentile(sample, q * 100))
            assert abs(est - true) / true < 0.05, (q, est, true)

    def test_plan_pure_jvm(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_quantile

        df = spark.createDataFrame(
            [([5.0], [1, 1])], "bounds array<double>, bucket_counts array<long>"
        )
        plan = histogram_quantile(df, 0.9)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "Exchange" not in plan


class TestHistogramFraction:
    def _df(self, spark):
        return spark.createDataFrame(
            [([5.0, 25.0, 125.0], [2, 2, 4, 2])],
            "bounds array<double>, bucket_counts array<long>",
        )

    def test_hand_cases(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_fraction

        df = self._df(spark)
        # exact bucket edges: [0,25] covers buckets 0+1 → 4/10
        assert histogram_fraction(df, 0.0, 25.0).collect()[0].fraction == 0.4
        # interpolated: cum(10) = 2 + 2*(10-5)/20 = 2.5; cum(100) =
        # 4 + 4*(100-25)/100 = 7 → (7-2.5)/10
        got = histogram_fraction(df, 10.0, 100.0).collect()[0].fraction
        assert abs(got - 0.45) < 1e-9
        # beyond the last bound → includes the overflow bucket: everything
        assert histogram_fraction(df, 0.0, 1e9).collect()[0].fraction == 1.0
        # degenerate range
        assert histogram_fraction(df, 25.0, 25.0).collect()[0].fraction == 0.0

    def test_zero_total_is_null(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_fraction

        df = spark.createDataFrame(
            [([5.0, 25.0], [0, 0, 0])],
            "bounds array<double>, bucket_counts array<long>",
        )
        assert histogram_fraction(df, 0.0, 10.0).collect()[0].fraction is None

    def test_inverse_of_quantile(self, spark):
        """histogram_fraction(0, q_x) recovers x — the two estimators share
        one interpolation rule, so the round-trip is exact wherever the
        quantile lands inside a finite bucket."""
        from otel_arrow_spark.operators.metrics import (
            histogram_fraction,
            histogram_quantile,
        )

        df = self._df(spark)
        for x in (0.2, 0.4, 0.5, 0.75):
            qx = histogram_quantile(df, x).collect()[0].quantile
            back = histogram_fraction(df, 0.0, qx).collect()[0].fraction
            assert abs(back - x) < 1e-9, (x, qx, back)

    def test_rejects_inverted_range(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.operators.metrics import histogram_fraction

        with _pytest.raises(ValueError):
            histogram_fraction(self._df(spark), 10.0, 5.0)

    def test_plan_pure_jvm(self, spark):
        from otel_arrow_spark.operators.metrics import histogram_fraction

        df = self._df(spark)
        plan = histogram_fraction(df, 1.0, 30.0)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "Exchange" not in plan


class TestCounterRate:
    def test_increase_with_reset(self, spark):
        from otel_arrow_spark.operators.metrics import counter_rate

        rows = [("m", "s0", ts(i * 10), v)
                for i, v in enumerate([0.0, 5.0, 7.0, 2.0, 9.0])]
        df = spark.createDataFrame(
            rows, "metric_name string, stream string, ts timestamp, double_value double"
        )
        out = counter_rate(df, "60 seconds", keys=("metric_name", "stream")).collect()
        assert len(out) == 1
        r = out[0]
        # deltas: +5 +2 reset(→2) +7 = 16
        assert r.increase == 16.0
        assert r.rate_per_sec == round(16.0 / 60, 6)
        assert r.n_points == 5

    def test_streams_independent_and_windowed(self, spark):
        from otel_arrow_spark.operators.metrics import counter_rate

        rows = [("m", "a", ts(5), 0.0), ("m", "a", ts(55), 10.0),
                ("m", "a", ts(65), 25.0),   # second window; delta vs t=55
                ("m", "b", ts(10), 100.0)]  # lone point: no interval
        df = spark.createDataFrame(
            rows, "metric_name string, stream string, ts timestamp, double_value double"
        )
        got = {(r.stream, str(r.window_start)): r.increase
               for r in counter_rate(df, "60 seconds",
                                     keys=("metric_name", "stream")).collect()}
        assert got[("a", "2026-01-01 00:00:00")] == 10.0
        assert got[("a", "2026-01-01 00:01:00")] == 15.0  # lag crosses windows
        assert got[("b", "2026-01-01 00:00:00")] == 0.0


class TestExpHistogramQuantile:
    def test_hand_cases(self, spark):
        from otel_arrow_spark.operators.metrics import exp_histogram_quantile

        # scale 0 → base 2; pos buckets at offset 1: (2,4],(4,8],(8,16]
        df = spark.createDataFrame(
            [(0, 0, 1, [4, 2, 2], 0, [])],
            "scale int, zero_count long, pos_offset int, pos_counts array<long>, "
            "neg_offset int, neg_counts array<long>",
        )
        # total 8; q=0.5 → rank 4 → first pos bucket (cum 4 ≥ 4):
        # lo=2 hi=4 frac=(4-0)/4 → 4.0
        got = exp_histogram_quantile(df, 0.5).collect()[0].quantile
        assert abs(got - 4.0) < 1e-9
        # q=0.75 → rank 6 → second bucket: lo=4 hi=8 frac=(6-4)/2 → 8.0
        got = exp_histogram_quantile(df, 0.75).collect()[0].quantile
        assert abs(got - 8.0) < 1e-9

    def test_zero_and_negative_sides(self, spark):
        from otel_arrow_spark.operators.metrics import exp_histogram_quantile

        # neg offset 0: buckets (1,2],(2,4] magnitudes → values in
        # [-2,-1),[-4,-2); ascending: [-4,-2) then [-2,-1)
        df = spark.createDataFrame(
            [(0, 2, 0, [2], 0, [1, 1])],
            "scale int, zero_count long, pos_offset int, pos_counts array<long>, "
            "neg_offset int, neg_counts array<long>",
        )
        # total 6: ascending counts [1 (neg j=1), 1 (neg j=0), 2 (zero), 2 (pos)]
        # q=0 → rank 0 → first neg bucket lo=-4: est = -4
        assert exp_histogram_quantile(df, 0.0).collect()[0].quantile == -4.0
        # q=0.5 → rank 3 → zero bucket → 0.0
        assert exp_histogram_quantile(df, 0.5).collect()[0].quantile == 0.0
        # q=1.0 → rank 6 → pos bucket (1,2], frac 1 → 2.0
        assert exp_histogram_quantile(df, 1.0).collect()[0].quantile == 2.0

    def test_converges_to_true_percentile(self, spark):
        """At a fine scale the estimate approaches the sample percentile."""
        import numpy as np

        from otel_arrow_spark.operators.metrics import exp_histogram_quantile

        rng = np.random.RandomState(11)
        sample = rng.lognormal(3.0, 1.0, size=30000)
        scale = 4
        base = 2 ** (2 ** -scale)
        idxs = np.ceil(np.log(sample) / np.log(base)).astype(int) - 1  # (b^i, b^(i+1)]
        off = idxs.min()
        counts = np.bincount(idxs - off)
        df = spark.createDataFrame(
            [(scale, 0, int(off), [int(c) for c in counts], 0, [])],
            "scale int, zero_count long, pos_offset int, pos_counts array<long>, "
            "neg_offset int, neg_counts array<long>",
        )
        for q in (0.5, 0.9, 0.99):
            est = exp_histogram_quantile(df, q).collect()[0].quantile
            true = float(np.percentile(sample, q * 100))
            assert abs(est - true) / true < 0.05, (q, est, true)


class TestQuantileFuzz:
    def test_histogram_quantile_matches_python_replay(self, spark):
        """Hypothesis fuzz: random bucket layouts (incl. empty buckets and
        edge ranks) against an exact Python replay of the interpolation
        rule."""
        from hypothesis import given, settings, strategies as st

        from otel_arrow_spark.operators.metrics import histogram_quantile

        @settings(max_examples=12, deadline=None)
        @given(
            counts=st.lists(st.integers(0, 5), min_size=2, max_size=6),
            qq=st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0]),
        )
        def run(counts, qq):
            bounds = [float(5 * (i + 1)) for i in range(len(counts) - 1)]
            df = spark.createDataFrame(
                [(bounds, counts)],
                "bounds array<double>, bucket_counts array<long>",
            )
            got = histogram_quantile(df, qq).collect()[0].quantile

            total = float(sum(counts))
            if total == 0:
                assert got is None
                return
            rank = qq * total
            cum = 0.0
            idx = None
            for i, c in enumerate(counts):
                prev = cum
                cum += c
                if cum >= rank:
                    idx = i
                    break
            if idx >= len(bounds):
                want = bounds[-1]
            elif counts[idx] == 0:
                want = bounds[idx]
            else:
                lo = 0.0 if idx == 0 else bounds[idx - 1]
                hi = bounds[idx]
                want = lo + (hi - lo) * (rank - prev) / counts[idx]
            assert got is not None and abs(got - want) < 1e-9, (counts, qq)

        run()


class TestTemporalityConversion:
    """cumulative_to_delta / delta_to_cumulative — the collector's two
    temporality processors as one-window operators."""

    def _cum(self, spark):
        rows = [("m", "s0", ts(0), 0.0), ("m", "s0", ts(10), 5.0),
                ("m", "s0", ts(20), 7.0), ("m", "s0", ts(30), 2.0),  # reset
                ("m", "s0", ts(40), 9.0),
                ("m", "s1", ts(5), 100.0)]  # lone point: anchors, emits nothing
        return spark.createDataFrame(
            rows, "metric_name string, stream string, ts timestamp, double_value double"
        )

    def test_c2d_deltas_resets_and_start_ts(self, spark):
        from otel_arrow_spark.operators.metrics import cumulative_to_delta

        out = cumulative_to_delta(
            self._cum(spark), keys=("metric_name", "stream")
        ).collect()
        got = {(r.stream, str(r.ts)): (r.double_value, str(r.start_ts)) for r in out}
        assert len(out) == 4  # first point per stream dropped; s1 emits nothing
        assert got[("s0", "2026-01-01 00:00:10")] == (5.0, "2026-01-01 00:00:00")
        assert got[("s0", "2026-01-01 00:00:20")] == (2.0, "2026-01-01 00:00:10")
        # reset: post-reset raw value is its own delta
        assert got[("s0", "2026-01-01 00:00:30")] == (2.0, "2026-01-01 00:00:20")
        assert got[("s0", "2026-01-01 00:00:40")] == (7.0, "2026-01-01 00:00:30")

    def test_d2c_running_sum_and_anchor(self, spark):
        from otel_arrow_spark.operators.metrics import delta_to_cumulative

        rows = [("m", ts(10), ts(0), 5.0), ("m", ts(20), ts(10), 2.0),
                ("m", ts(30), ts(20), 3.0)]
        df = spark.createDataFrame(
            rows, "metric_name string, ts timestamp, start_ts timestamp, double_value double"
        )
        out = {str(r.ts): (r.double_value, str(r.start_ts))
               for r in delta_to_cumulative(df, keys=("metric_name",)).collect()}
        assert out["2026-01-01 00:00:10"] == (5.0, "2026-01-01 00:00:00")
        assert out["2026-01-01 00:00:20"] == (7.0, "2026-01-01 00:00:00")
        assert out["2026-01-01 00:00:30"] == (10.0, "2026-01-01 00:00:00")

    def test_roundtrip_restores_minus_baseline(self, spark):
        from otel_arrow_spark.operators.metrics import (
            cumulative_to_delta,
            delta_to_cumulative,
        )

        cum = self._cum(spark).filter("stream = 's0' and double_value <> 2.0")
        # monotonic series 0,5,7,9 → deltas 5,2,2 → cumulative 5,7,9 = orig - 0
        back = delta_to_cumulative(
            cumulative_to_delta(cum, keys=("metric_name", "stream")),
            keys=("metric_name", "stream"),
        )
        got = {str(r.ts): r.double_value for r in back.collect()}
        assert got == {"2026-01-01 00:00:10": 5.0, "2026-01-01 00:00:20": 7.0,
                       "2026-01-01 00:00:40": 9.0}

    def test_one_exchange_no_python(self, spark):
        from otel_arrow_spark.operators.metrics import (
            cumulative_to_delta,
            delta_to_cumulative,
        )

        df = self._cum(spark)
        for op in (cumulative_to_delta, delta_to_cumulative):
            plan = op(df, keys=("metric_name", "stream"))._jdf.queryExecution() \
                .executedPlan().toString()
            assert plan.count("Exchange") == 1 and "EvalPython" not in plan
