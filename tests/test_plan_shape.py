"""Plan-shape assertions: the scale-hygiene properties the engine promises
(SURVEY.md §4) — pushdown, pruning, broadcast, vectorized Python, and a
shuffle-free hot path — checked against .explain output so a regression
that silently changes the physical plan fails loudly.
"""

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.operators.enrich import enrich
from otel_arrow_spark.operators.parse import parse_transcripts
from otel_arrow_spark.operators.route import with_signal_class
from otel_arrow_spark.plans.pipeline import PipelineConfig, build_routed, run_pipeline


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def routed_plan(spark, tiny_transcripts):
    cfg = PipelineConfig(input_path=tiny_transcripts, output_dir="/unused")
    return build_routed(spark, cfg)


def test_filter_pushes_to_parquet_scan(spark, tiny_transcripts):
    df = spark.read.parquet(tiny_transcripts).filter(F.col("conv_id") == "conv-00000000")
    plan = plan_of(df)
    assert "PushedFilters" in plan and "conv_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reaches_scan(spark, tiny_transcripts):
    df = spark.read.parquet(tiny_transcripts).select("conv_id", "turn_idx")
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "conv_id" in read_schema and "turn_idx" in read_schema
    assert "text" not in read_schema, "projection must prune the fat text column"


def test_enrich_uses_broadcast_joins(spark, tiny_transcripts):
    parsed = parse_transcripts(spark.read.parquet(tiny_transcripts))
    plan = plan_of(enrich(parsed, spark))
    assert plan.count("BroadcastHashJoin") == 2, plan[:500]
    assert "SortMergeJoin" not in plan, "dictionary joins must never sort-merge"
    # the dictionaries are driver-side LocalRelations: their broadcast
    # needs no Spark job to collect an RDD scan
    assert plan.count("LocalTableScan") == 2, plan
    assert "ExistingRDD" not in plan, plan


def test_parse_is_arrow_vectorized_not_row_python(routed_plan):
    plan = plan_of(routed_plan)
    assert "ArrowEvalPython" in plan, "parse must go through Arrow batches"
    assert "BatchEvalPython" not in plan, "row-at-a-time Python UDF in hot path"


def test_routed_hot_path_has_no_shuffle(routed_plan):
    """scan → parse → enrich → route must be narrow: the only Exchanges
    allowed are broadcast exchanges for the dictionary tables."""
    plan = plan_of(routed_plan)
    import re

    shuffles = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range|rebalance|SinglePartition)", ln)
    ]
    assert not shuffles, f"unexpected shuffle in hot path: {shuffles}"


def test_aggregate_is_partial_then_final(spark, tiny_transcripts, workdir):
    """The sink aggregate must show map-side partial aggregation — the
    two-phase property that makes explicit salting unnecessary."""
    from otel_arrow_spark.operators.aggregate import sink_aggregate

    cfg = PipelineConfig(input_path=tiny_transcripts, output_dir="/unused")
    agg = sink_aggregate(build_routed(spark, cfg))
    plan = plan_of(agg)
    assert plan.count("HashAggregate") >= 2, "expected partial+final HashAggregate"


def test_minhash_band_join_shuffles_ids_only(spark, tiny_transcripts):
    """The LSH band self-join must never carry shingle payloads through its
    exchanges — the round-1 scale-killer, pinned: every Exchange
    hashpartitioning on (band, bhash) moves only id/band/bhash longs."""
    from otel_arrow_spark.textops.dedup import minhash_near_dup_pairs

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some text body") for i in range(50)],
        "doc_id long, text string",
    )
    plan = plan_of(minhash_near_dup_pairs(docs))
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "bhash" in ln:
            assert "_sh" not in ln, f"shingle array rides the band shuffle: {ln}"


def test_temporal_latest_is_partial_then_final(spark):
    """max_by is algebraic: the cumulative latest-wins reaggregation must
    show map-side partial aggregation (a hot stream leaves each task as
    one row)."""
    from otel_arrow_spark.operators.metrics import temporal_latest

    df = spark.createDataFrame(
        [("m", "2026-01-01 00:00:01", 1.0)], "metric_name string, t string, v double"
    ).select("metric_name", F.col("t").cast("timestamp").alias("ts"), "v")
    plan = plan_of(temporal_latest(df, keys=("metric_name",)))
    assert plan.count("HashAggregate") >= 2 or "SortAggregate" in plan


def test_ivf_train_no_full_corpus_count(spark):
    """train_centroids must not scan the corpus to size its sample: the
    sampling query's optimized plan is a LIMIT over a filtered scan."""
    from pyspark.sql import functions as FF

    from otel_arrow_spark.textops import ivf  # noqa: F401 — import health

    # the thinning+limit shape: GlobalLimit over filter, no Aggregate
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(100)], "vec_id long, embedding array<float>"
    )
    thinned = emb.select("embedding").filter(
        FF.pmod(FF.xxhash64(FF.col("embedding").cast("array<double>")), FF.lit(64)) == 0
    ).limit(4096)
    plan = optimized_of(thinned)
    assert "Aggregate" not in plan and "GlobalLimit" in plan


def test_skew_mitigation_hot_conversation_join(spark, tiny_transcripts):
    """Skew handling for the hot conversation (conv-00000000, ~10% of all
    rows), two layers:

    1. AQE adapts the shuffle at runtime (pinned here via the final
       adaptive plan's AQEShuffleRead — this build's AQE coalesces; its
       OptimizeSkewedJoin rule was probed and never fires in local-mode
       pyspark 4.1.2 even under forced extreme skew, so the engine does
       NOT rely on it);
    2. for aggregates, Spark's partial + final hash aggregate is the
       primary mechanism: a hot key leaves each map task as one partial
       row, and test_pipeline.py checks the pipeline's aggregate on
       exactly this skewed key against a DuckDB GROUP BY. Here we pin
       that the skewed join itself still returns exact results under a
       forced sort-merge plan."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.read.parquet(tiny_transcripts)
        dim = left.groupBy("conv_id").agg(F.count(F.lit(1)).alias("conv_turns"))
        joined = left.join(dim.hint("merge"), "conv_id")
        rows = joined.collect()
        assert len(rows) == left.count()
        # hot conv rows all carry the correct dimension value
        hot = [r for r in rows if r.conv_id == "conv-00000000"]
        assert len(hot) > 0 and all(r.conv_turns == len(hot) for r in hot)
        plan = plan_of(joined)
        assert "isFinalPlan=true" in plan and "SortMergeJoin" in plan
        assert "AQEShuffleRead" in plan  # runtime-adapted shuffle read
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_hist_star_scans_point_table_twice(spark):
    """The star-schema histogram query must scan the data-point table (the
    big one at scale) exactly twice: once for the single-pass mixed merge,
    once (column-pruned) for the attrs rollup — the round-3 fix that
    replaced the 4-scan two-operator shape."""
    import __spark_entry__ as entry

    df = entry.queries()["hist_star"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("histogram_dp.parquet]") == 2, plan.count("histogram_dp.parquet]")


def test_span_links_single_output_aggregate(spark):
    """span_links must resolve targets with ONE join branch and aggregate
    once: spans scanned exactly twice (source filter + target resolution),
    link attrs pre-aggregated per link."""
    import re

    import __spark_entry__ as entry

    df = entry.queries()["span_links"](spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("/spans.parquet]") == 2, plan.count("/spans.parquet]")
    assert len(re.findall(r"Scan parquet", plan)) == 4


def test_partition_pruning_on_routed_sink(spark, tiny_transcripts, workdir):
    res = run_pipeline(
        spark, PipelineConfig(input_path=tiny_transcripts, output_dir=f"{workdir}/pp")
    )
    df = spark.read.parquet(res.routed_path).filter(F.col("signal_class") == "error")
    plan = plan_of(df)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0] if "PartitionFilters:" in plan else ""
    assert "signal_class" in pf, f"partition filter missing: {plan[:400]}"


def test_corpus_clean_plan_shape(spark):
    """The composed cleaning funnel (plans/corpus.py): gram hashing is
    Arrow-vectorized (never row-Python), the benchmark gram join is a
    broadcast, and no stage degenerates to a nested-loop join."""
    from otel_arrow_spark.plans.corpus import CorpusConfig, clean_corpus_frame

    cfg = CorpusConfig(
        input_path="/root/testdata/sf0.001/documents.parquet", output_dir="/unused"
    )
    plan = plan_of(clean_corpus_frame(spark, cfg))
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_asof_join_plan_has_no_join_operator(spark):
    """asof_join (operators/temporal_join.py) must stay the union-window
    formulation: one hash Exchange, zero join operators."""
    from otel_arrow_spark.operators.temporal_join import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = plan_of(asof_join(
        ev.select("event_id", "user_id", "ts"),
        ev.select("user_id", "ts", F.col("value").alias("rv")),
        by=["user_id"],
    ))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_semantic_dedup_pairwise_is_hash_join(spark):
    """semantic_dedup's within-cluster pairwise stage must be an
    equi-join on cluster_id — never a nested-loop over the corpus."""
    from otel_arrow_spark.textops.dedup import semantic_dedup
    from otel_arrow_spark.textops.ivf import deterministic_centroids

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = plan_of(semantic_dedup(e, deterministic_centroids(e, 4), 0.5))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # the cluster-bucketed equi-join exists


def test_counter_rate_one_lag_window_partial_final(spark):
    """counter_rate: one window (the lag) + one aggregate, JVM only."""
    from otel_arrow_spark.operators.metrics import counter_rate

    df = spark.createDataFrame(
        [("m", "s", 0.0)], "metric_name string, stream string, double_value double"
    ).withColumn("ts", F.current_timestamp())
    plan = plan_of(counter_rate(df, keys=("metric_name", "stream")))
    assert "EvalPython" not in plan
    assert plan.count("Window") == 1
    assert plan.count("HashAggregate") >= 2  # partial+final


def test_span_metrics_broadcast_dim_no_python(spark, tiny_transcripts, workdir):
    from otel_arrow_spark.operators.span_metrics import span_red_metrics
    from otel_arrow_spark.sources.spans import write_spans_parquet

    p = write_spans_parquet(f"{workdir}/spans_fixture", 2000)
    spans = spark.read.parquet(f"{p}/spans.parquet")
    rattrs = spark.read.parquet(f"{p}/resource_attrs.parquet")
    svc = rattrs.where(F.col("key") == "service.name").select(
        F.col("parent_id").alias("resource_id"), F.col("str").alias("service")
    )
    plan = plan_of(span_red_metrics(spans, dim=svc))
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunking_and_quantile_stay_jvm_shuffle_free(spark):
    """chunk_documents and histogram_quantile are pure expressions — no
    Exchange, no Python. Chunking's scan-side projection is codegen'd;
    the quantile's higher-order lambdas evaluate as interpreted JVM
    expressions (HOFs are outside whole-stage codegen by design), which
    is still the vectorized-scan + JVM-eval fast path."""
    from otel_arrow_spark.operators.metrics import histogram_quantile
    from otel_arrow_spark.textops.chunking import chunk_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    chunk_plan = plan_of(chunk_documents(docs))
    assert "Exchange" not in chunk_plan and "EvalPython" not in chunk_plan
    assert "*(1)" in chunk_plan  # whole-stage codegen star marker
    q_plan = plan_of(histogram_quantile(
        spark.createDataFrame(
            [([5.0], [1, 1])],
            "bounds array<double>, bucket_counts array<long>",
        ),
        0.9,
    ))
    assert "Exchange" not in q_plan and "EvalPython" not in q_plan


def test_temporality_roundtrip_single_exchange(spark):
    """cumulative_to_delta → delta_to_cumulative composes into ONE
    Exchange + ONE Sort: both Window nodes require the same (key, order)
    distribution, so Catalyst plans the second window directly over the
    first's sorted output — the whole round-trip is a single sorted
    pass. A second Sort or Exchange would mean the conversions don't
    share their partitioning (the M4/downsample docs rely on this
    composition being free)."""
    from otel_arrow_spark.operators.metrics import (
        cumulative_to_delta,
        delta_to_cumulative,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    series = ev.selectExpr("event_type as metric_name", "ts",
                           "value as double_value")
    plan = plan_of(delta_to_cumulative(
        cumulative_to_delta(series, keys=("metric_name",)),
        keys=("metric_name",),
    ))
    assert plan.count("Exchange") == 1
    assert plan.count("Sort ") <= 1 or plan.count("+- Sort") == 1
    assert plan.count("Window") == 2
    assert "EvalPython" not in plan
