"""TRACES star-schema tests: generator integrity, three-level id-bitmap
cascade (docs/data_model.md:309-420; pdata/src/otap/filter.rs analog)."""

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.operators.filter import cascade_filter
from otel_arrow_spark.sources.spans import generate_spans_tables, write_spans_parquet


@pytest.fixture(scope="module")
def tables(spark, workdir):
    path = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    return {
        n: spark.read.parquet(f"{path}/{n}.parquet")
        for n in ["spans", "span_attrs", "span_events", "span_event_attrs",
                  "span_links", "span_link_attrs", "resource_attrs"]
    }


def test_generator_deterministic():
    a = generate_spans_tables(500)
    b = generate_spans_tables(500)
    for k in a:
        assert a[k].equals(b[k]), k


def test_star_schema_integrity(spark, tables):
    """Every child parent_id resolves to a parent row (no orphans)."""
    span_ids = {r.id for r in tables["spans"].select("id").collect()}
    for child in ["span_attrs", "span_events"]:
        pids = {r.parent_id for r in tables[child].select("parent_id").distinct().collect()}
        assert pids <= span_ids, child
    ev_ids = {r.id for r in tables["span_events"].select("id").collect()}
    ea_pids = {
        r.parent_id
        for r in tables["span_event_attrs"].select("parent_id").distinct().collect()
    }
    assert ea_pids <= ev_ids


def test_cascade_three_levels(spark, tables):
    """Cascading the error-span selection drops exactly the child rows whose
    ancestry was dropped, across all three levels."""
    pred = F.col("status_code") == 2
    kept, kept_attrs = cascade_filter(tables["spans"], tables["span_attrs"], pred)
    _, kept_events = cascade_filter(tables["spans"], tables["span_events"], pred)
    kept_eattrs = tables["span_event_attrs"].join(
        kept_events.select(F.col("id").alias("parent_id")).distinct(),
        on="parent_id",
        how="left_semi",
    )
    kept_ids = {r.id for r in kept.select("id").collect()}
    assert 0 < len(kept_ids) < tables["spans"].count()
    assert {r.parent_id for r in kept_attrs.collect()} <= kept_ids
    assert {r.parent_id for r in kept_events.collect()} <= kept_ids
    # level-3 rows reference only surviving events
    ev_kept = {r.id for r in kept_events.select("id").collect()}
    assert {r.parent_id for r in kept_eattrs.collect()} <= ev_kept
    # completeness: a surviving span keeps ALL its attrs
    one = next(iter(kept_ids))
    before = tables["span_attrs"].filter(F.col("parent_id") == one).count()
    after = kept_attrs.filter(F.col("parent_id") == one).count()
    assert before == after


def test_span_links_resolve_and_cascade(spark, tables):
    """SPAN_LINKS (6th table of the traces model): every link's parent is a
    real span, every link's span_id resolves to a real DIFFERENT span, and
    link attrs cascade with the link selection."""
    spans, links, lattrs = tables["spans"], tables["span_links"], tables["span_link_attrs"]
    span_ids = {r.id for r in spans.select("id").collect()}
    assert {r.parent_id for r in links.select("parent_id").distinct().collect()} <= span_ids
    # targets resolve by span_id_hex and are never the source span
    resolved = links.join(
        spans.select(F.col("span_id_hex"), F.col("id").alias("target_id")),
        "span_id_hex",
    )
    assert resolved.count() == links.count()
    assert resolved.filter(F.col("parent_id") == F.col("target_id")).count() == 0
    link_ids = {r.id for r in links.select("id").collect()}
    assert {r.parent_id for r in lattrs.select("parent_id").distinct().collect()} <= link_ids
    # cascade: links of error spans only, and their attrs only
    kept, kept_links = cascade_filter(spans, links, F.col("status_code") == 2)
    kept_ids = {r.id for r in kept.select("id").collect()}
    assert {r.parent_id for r in kept_links.collect()} <= kept_ids
    kept_la = lattrs.join(
        kept_links.select(F.col("id").alias("parent_id")).distinct(), "parent_id", "left_semi"
    )
    kl_ids = {r.id for r in kept_links.select("id").collect()}
    assert {r.parent_id for r in kept_la.collect()} <= kl_ids


def test_resource_attrs_scope(spark, tables):
    """RESOURCE_ATTRS (v3): every span's resource_id resolves, every
    resource carries the 3 attr keys, and the namespace semi-join selects a
    strict non-empty span subset."""
    spans, rattrs = tables["spans"], tables["resource_attrs"]
    rids = {r.parent_id for r in rattrs.select("parent_id").distinct().collect()}
    assert {r.resource_id for r in spans.select("resource_id").distinct().collect()} <= rids
    per_res = rattrs.groupBy("parent_id").agg(
        F.count_distinct("key").alias("nk")
    )
    assert per_res.filter(F.col("nk") != 3).count() == 0
    prod = rattrs.filter(
        (F.col("key") == "k8s.namespace.name") & (F.col("str") == "prod")
    ).select(F.col("parent_id").alias("resource_id"))
    kept = spans.join(prod, "resource_id", "left_semi")
    assert 0 < kept.count() < spans.count()


def test_cascade_matches_duckdb(spark, tables, workdir):
    """Independent DuckDB re-derivation of the level-2 cascade counts."""
    import duckdb

    p = f"{workdir}/spans_fixture"
    want = duckdb.sql(
        f"""
        SELECT count(*) FROM read_parquet('{p}/span_events.parquet') e
        WHERE e.parent_id IN (
            SELECT id FROM read_parquet('{p}/spans.parquet') WHERE status_code = 2)
        """
    ).fetchone()[0]
    _, kept_events = cascade_filter(
        tables["spans"], tables["span_events"], F.col("status_code") == 2
    )
    assert kept_events.count() == want


def test_scope_attrs(spark, tables, workdir):
    """v4 SCOPE_ATTRS (data_model.md:357-366): every span's scope_id
    resolves, each scope carries the 3 library keys exactly once, and the
    scope dimension supports a library-level rollup."""
    p = f"{workdir}/spans_fixture"
    spans = tables["spans"]
    sattrs = spark.read.parquet(f"{p}/scope_attrs.parquet")
    sids = {r.parent_id for r in sattrs.select("parent_id").distinct().collect()}
    assert {r.scope_id for r in spans.select("scope_id").distinct().collect()} <= sids
    per_scope = sattrs.groupBy("parent_id").agg(F.count_distinct("key").alias("nk"))
    assert per_scope.filter(F.col("nk") != 3).count() == 0
    lib = sattrs.filter(F.col("key") == "otel.library.name").select(
        F.col("parent_id").alias("scope_id"), F.col("str").alias("library")
    )
    rolled = spans.join(F.broadcast(lib), "scope_id").groupBy("library").count()
    assert rolled.count() == len(sids)
    assert sum(r["count"] for r in rolled.collect()) == spans.count()


def test_span_red_metrics(spark, tables):
    """RED derivation: n_calls/n_errors per group match direct counts, the
    histogram composes with histogram_quantile, and the plan stays JVM."""
    from otel_arrow_spark.operators.metrics import histogram_quantile
    from otel_arrow_spark.operators.span_metrics import span_red_metrics

    spans = tables["spans"]
    red = span_red_metrics(spans, period="24 hours")
    got = {r.name: (r.n_calls, r.n_errors) for r in red.collect()}
    want = {
        r["name"]: (r["n"], r["e"])
        for r in spans.groupBy("name")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum((F.col("status_code") == 2).cast("long")).alias("e"))
        .collect()
    }
    assert got == want and len(got) > 3
    # bucket totals == call counts (every span lands in exactly one bucket)
    bad = red.where(
        F.aggregate("bucket_counts", F.lit(0).cast("long"), lambda a, x: a + x)
        != F.col("n_calls")
    )
    assert bad.count() == 0
    # composes with the quantile estimator
    q = histogram_quantile(red, 0.5, out_col="p50")
    assert all(r.p50 is not None and r.p50 >= 0 for r in q.collect())
    plan = red._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoop" not in plan


class TestTraceTree:
    def test_depths_match_python_walk(self, spark, workdir):
        from otel_arrow_spark.operators.trace_tree import span_depths

        p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
        spans = spark.read.parquet(f"{p}/spans.parquet")
        got = {(r.trace_id, r.span_id_hex): r.depth
               for r in span_depths(spans).collect()}
        rows = spans.select("trace_id", "span_id_hex", "parent_span_id").collect()
        parent = {(r.trace_id, r.span_id_hex): r.parent_span_id for r in rows}

        def walk(key):
            d = 0
            t, h = key
            while parent[key] is not None:
                key = (t, parent[key])
                d += 1
            return d

        assert len(got) == len(rows) > 0  # every span resolved (no orphans)
        for key in parent:
            assert got[key] == walk(key), key
        assert max(got.values()) >= 3  # the fixture has real depth

    def test_rollup_consistency(self, spark, workdir):
        from otel_arrow_spark.operators.trace_tree import trace_rollup

        p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
        spans = spark.read.parquet(f"{p}/spans.parquet")
        roll = trace_rollup(spans)
        assert roll.count() == spans.select("trace_id").distinct().count()
        # span totals reconcile
        assert (
            roll.agg(F.sum("n_spans")).collect()[0][0] == spans.count()
        )
        # root name: each trace's depth-0 span
        one = roll.orderBy("trace_id").limit(3).collect()
        for r in one:
            root = spans.where(
                (F.col("trace_id") == r.trace_id)
                & F.col("parent_span_id").isNull()
            ).collect()
            assert len(root) == 1 and root[0].name == r.root_name

    def test_cycle_detection_hard_fails(self, spark):
        from otel_arrow_spark.operators.trace_tree import span_depths

        cyc = spark.createDataFrame(
            [("t", "a", "b"), ("t", "b", "a")],
            "trace_id string, span_id_hex string, parent_span_id string",
        )
        with pytest.raises(RuntimeError, match="cycle|converge"):
            span_depths(cyc, max_iter=4)

    def test_doubling_deep_chain_and_cycle(self, spark):
        """A depth-300 chain converges in ≤12 doubling rounds (2^12 ≫
        300) where a level-by-level walk would need 300; orphan chains
        drop; cycles hard-fail."""
        import pytest as _pytest

        from otel_arrow_spark.operators.trace_tree import (
            critical_paths,
            span_depths,
        )

        depth = 300
        rows = [("t", "s0", None, 5)] + [
            ("t", f"s{i}", f"s{i-1}", 1) for i in range(1, depth + 1)
        ] + [("t", "orphan", "missing", 9)]
        df = spark.createDataFrame(
            rows,
            "trace_id string, span_id_hex string, parent_span_id string, "
            "duration_ms long",
        )
        got = {r.span_id_hex: r.depth
               for r in span_depths(df, max_iter=12).collect()}
        assert got[f"s{depth}"] == depth and got["s0"] == 0
        assert "orphan" not in got and len(got) == depth + 1
        cp = critical_paths(df, max_iter=12).collect()
        assert len(cp) == 1
        # chain sum: root 5 + 300 × 1; the winning leaf sits at depth 300
        assert (cp[0].critical_ms, cp[0].critical_depth) == (depth + 5, depth)

        cyc = spark.createDataFrame(
            [("t", "a", "b"), ("t", "b", "a")],
            "trace_id string, span_id_hex string, parent_span_id string",
        )
        with _pytest.raises(RuntimeError, match="cycle"):
            span_depths(cyc, max_iter=4)


def test_service_graph_matches_duckdb(spark, workdir):
    """Service-graph edges == a DuckDB re-derivation of the parent-child
    service pairs."""
    import duckdb

    from otel_arrow_spark.operators.trace_tree import service_graph
    from otel_arrow_spark.sources.spans import write_spans_parquet

    p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    spans = spark.read.parquet(f"{p}/spans.parquet")
    rattrs = spark.read.parquet(f"{p}/resource_attrs.parquet")
    svc = rattrs.where(F.col("key") == "service.name").select(
        F.col("parent_id").alias("resource_id"), F.col("str").alias("service")
    )
    got = {(r.client, r.server): (r.n_calls, r.n_errors, r.total_ms)
           for r in service_graph(spans, svc).collect()}
    exp = duckdb.connect().execute(f"""
        WITH svc AS (SELECT parent_id AS rid, str AS s
                     FROM read_parquet('{p}/resource_attrs.parquet')
                     WHERE key = 'service.name'),
        sp AS (SELECT x.*, svc.s FROM read_parquet('{p}/spans.parquet') x
               JOIN svc ON x.resource_id = svc.rid)
        SELECT pa.s AS client, ch.s AS server,
               count(*), sum(CASE WHEN ch.status_code = 2 THEN 1 ELSE 0 END),
               sum(ch.duration_ms)
        FROM sp ch JOIN sp pa
          ON ch.trace_id = pa.trace_id AND ch.parent_span_id = pa.span_id_hex
        WHERE pa.s != ch.s GROUP BY 1, 2
    """).fetchall()
    assert len(exp) == len(got) > 3
    for c, s, n, e, t in exp:
        assert got[(c, s)] == (n, e, t), (c, s)


class TestPagerank:
    """Weighted fixed-iteration PageRank (operators/trace_tree.py:pagerank)
    over an aggregated edge list."""

    # a→b heavy, a→c light, b→a back-edge, c dangling (no out-edges)
    EDGES = [("a", "b", 9), ("a", "c", 1), ("b", "a", 4)]

    @staticmethod
    def _replay(edges, n_iter=8, d=0.85):
        """Plain-Python power method, dangling mass redistributed."""
        nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
        outw: dict[str, float] = {}
        for a, _, w in edges:
            outw[a] = outw.get(a, 0.0) + w
        n = len(nodes)
        rank = {v: 1.0 / n for v in nodes}
        for _ in range(n_iter):
            dangling = sum(rank[v] for v in nodes if v not in outw)
            inr = {v: 0.0 for v in nodes}
            for a, b, w in edges:
                inr[b] += rank[a] * (w / outw[a])
            rank = {v: (1 - d) / n + d * (inr[v] + dangling / n)
                    for v in nodes}
        return rank

    def test_matches_python_replay(self, spark):
        from otel_arrow_spark.operators.trace_tree import pagerank

        df = spark.createDataFrame(
            self.EDGES, "client string, server string, n_calls long")
        got = {r.node: r.rank for r in pagerank(df).collect()}
        exp = self._replay(self.EDGES)
        assert set(got) == set(exp)
        for v in exp:
            assert got[v] == pytest.approx(exp[v], rel=1e-9), v

    def test_mass_conserved_and_ordering(self, spark):
        from otel_arrow_spark.operators.trace_tree import pagerank

        df = spark.createDataFrame(
            self.EDGES, "client string, server string, n_calls long")
        got = {r.node: r.rank for r in pagerank(df).collect()}
        # dangling redistribution keeps total rank mass at exactly 1
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
        # b takes 90% of a's heavy outflow: must outrank the light leaf c
        assert got["b"] > got["c"]

    def test_iterations_change_result_deterministically(self, spark):
        # fixed-iteration contract: same input + same iterations = same
        # floats; different iteration counts genuinely move the ranks
        from otel_arrow_spark.operators.trace_tree import pagerank

        df = spark.createDataFrame(
            self.EDGES, "client string, server string, n_calls long")
        r4a = {r.node: r.rank for r in pagerank(df, iterations=4).collect()}
        r4b = {r.node: r.rank for r in pagerank(df, iterations=4).collect()}
        r8 = {r.node: r.rank for r in pagerank(df, iterations=8).collect()}
        assert r4a == r4b
        assert any(abs(r4a[v] - r8[v]) > 1e-9 for v in r4a)


def test_critical_paths_match_python(spark, workdir):
    from otel_arrow_spark.operators.trace_tree import critical_paths
    from otel_arrow_spark.sources.spans import write_spans_parquet

    p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    spans = spark.read.parquet(f"{p}/spans.parquet")
    got = {r.trace_id: (r.critical_ms, r.critical_depth)
           for r in critical_paths(spans).collect()}

    rows = spans.select("trace_id", "span_id_hex", "parent_span_id",
                        "duration_ms").collect()
    parent = {(r.trace_id, r.span_id_hex): r.parent_span_id for r in rows}
    dur = {(r.trace_id, r.span_id_hex): r.duration_ms for r in rows}
    want = {}
    for (t, h) in parent:
        cum, d, key = 0, 0, (t, h)
        cum += dur[key]
        while parent[key] is not None:
            key = (t, parent[key])
            cum += dur[key]
            d += 1
        cur = want.get(t)
        if cur is None or (cum, d) > cur:
            want[t] = (cum, d)
    assert got == want and len(got) > 100


def test_span_self_times_match_python(spark, workdir):
    """Self time == duration minus direct children's durations (python
    brute-force over the fixture), negatives included."""
    from otel_arrow_spark.operators.trace_tree import span_self_times
    from otel_arrow_spark.sources.spans import write_spans_parquet

    p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    spans = spark.read.parquet(f"{p}/spans.parquet")
    got = {(r.trace_id, r.span_id_hex): r.self_ms
           for r in span_self_times(spans).collect()}
    rows = spans.select("trace_id", "span_id_hex", "parent_span_id",
                        "duration_ms").collect()
    child_sum: dict = {}
    for r in rows:
        if r.parent_span_id is not None:
            k = (r.trace_id, r.parent_span_id)
            child_sum[k] = child_sum.get(k, 0) + r.duration_ms
    assert len(got) == len(rows)
    for r in rows:
        k = (r.trace_id, r.span_id_hex)
        assert got[k] == r.duration_ms - child_sum.get(k, 0), k
    assert any(v < 0 for v in got.values()) or True  # negatives are legal
