"""Regenerate PLANS.md: annotated physical plans of the headline queries.

Run: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

HEADER = """# PLANS — physical plans of the headline queries (generated)

`python tools/dump_plans.py` regenerates this file. Each section shows
`.explain("formatted")` output with the property the plan is expected to
exhibit (enforced by tests/test_plan_shape.py).
"""


def main() -> None:
    from otel_arrow_spark.plans.pipeline import PipelineConfig, build_routed
    from otel_arrow_spark.session import get_spark
    from otel_arrow_spark.sources.transcripts import write_transcripts_parquet

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp = write_transcripts_parquet(os.path.join(repo, ".cache", "transcripts", "n20000"), 20_000)

    sections: list[tuple[str, str, object]] = []

    routed = build_routed(spark, PipelineConfig(input_path=inp, output_dir="/unused"))
    sections.append(
        (
            "Flagship hot path: scan → parse (ArrowEvalPython) → enrich "
            "(2× BroadcastHashJoin) → route",
            "Expected: no `Exchange hash/range` anywhere (narrow end-to-end); "
            "`ArrowEvalPython` for the vectorized parse; `PushedFilters`/"
            "`ReadSchema` on the scan.",
            routed,
        )
    )

    from otel_arrow_spark.operators.aggregate import sink_aggregate

    sections.append(
        (
            "Per-sink aggregate",
            "Expected: `HashAggregate` twice (partial then final) around one "
            "`Exchange hashpartitioning` — the two-phase decomposition that "
            "makes explicit salting unnecessary for algebraic aggregates.",
            sink_aggregate(routed),
        )
    )

    pruned = routed.filter(F.col("conv_id") == "conv-00000000").select(
        "conv_id", "turn_idx", "severity_text"
    )
    sections.append(
        (
            "Filter + projection pushdown",
            "Expected: `PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,…)]` "
            "and a `ReadSchema` without the fat text column in the scan that "
            "feeds only the filter (the parse UDF needs text, so this shows "
            "the scan for the pruned subquery).",
            pruned,
        )
    )

    from otel_arrow_spark.textops.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    sections.append(
        (
            "ANN brute-force top-k",
            "Expected: `BroadcastNestedLoopJoin` (queries broadcast, corpus "
            "scans once) feeding a single window rank.",
            brute_force_topk(emb, q, k=3),
        )
    )

    from otel_arrow_spark.textops.dedup import minhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sections.append(
        (
            "MinHash LSH near-dup (ids-only band join)",
            "Expected: the `Exchange hashpartitioning(band, bhash)` carries "
            "only id/band/bhash longs — shingle arrays never ride the band "
            "shuffle; they are joined back by id only for candidate pairs "
            "(AQE turns those joins into broadcasts at runtime when the "
            "candidate set is small).",
            minhash_near_dup_pairs(docs),
        )
    )

    from otel_arrow_spark.operators.metrics import temporal_latest

    hist = spark.createDataFrame(
        [("m", "2026-01-01 00:00:01", 1, 1.0)],
        "metric_name string, t string, h_count long, h_sum double",
    ).select(
        "metric_name", F.col("t").cast("timestamp").alias("ts"), "h_count", "h_sum"
    )
    sections.append(
        (
            "Cumulative latest-wins temporal reaggregation",
            "Expected: partial+final `HashAggregate`/`SortAggregate` pair over "
            "`max_by` — the reference's replace-if-newer semantics as one "
            "algebraic aggregate; a hot stream leaves each map task as one row.",
            temporal_latest(hist, keys=("metric_name",)),
        )
    )

    from otel_arrow_spark.operators.metrics import exp_histogram_delta_merge

    exp = spark.createDataFrame(
        [("e", "2026-01-01 00:00:01", 1, 1.0, 0, 0, 0, [1])],
        "metric_name string, t string, e_count long, e_sum double, "
        "scale int, zero_count long, pos_offset int, pos_counts array<long>",
    ).select(
        "metric_name", F.col("t").cast("timestamp").alias("ts"), "e_count",
        "e_sum", "scale", "zero_count", "pos_offset", "pos_counts",
    )
    sections.append(
        (
            "Exp-histogram delta merge",
            "Expected: JVM-only (no `EvalPython` node) — scalar hash "
            "aggregate, join back for the scale shift, `Generate posexplode` "
            "for the buckets, two more partial+final hash aggregates (a "
            "per-group FlatMapGroupsInPandas merge measured 103s vs 1.4s "
            "at sf0.1's ~40k groups).",
            exp_histogram_delta_merge(exp, keys=("metric_name",)),
        )
    )

    from otel_arrow_spark.plans.ottl import run_ottl

    sections.append(
        (
            "OTTL statement list",
            "Expected: guarded editors collapse into a single `Project` over "
            "the scan — no Filter, no Exchange; a whole statement list is one "
            "narrow map stage.",
            run_ottl(
                routed.select("conv_id", "severity_text", "signal_class"),
                ['set(tier, "crit") where severity_text == "ERROR"',
                 'set(cls, signal_class)'],
            ),
        )
    )

    from otel_arrow_spark.operators.temporal_join import asof_join

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sections.append(
        (
            "As-of join (union-window formulation)",
            "Expected: NO join operator at all — `Union` of the tagged sides, "
            "ONE `Exchange hashpartitioning(user_id)`, one `Sort`, one "
            "`Window` computing the running `last(_r_*, ignorenulls)`; the "
            "non-equi temporal predicate never becomes a "
            "BroadcastNestedLoopJoin.",
            asof_join(
                ev.select("event_id", "user_id", "ts"),
                ev.select("user_id", "ts", F.col("value").alias("rv")),
                by=["user_id"],
            ),
        )
    )

    from otel_arrow_spark.textops.paragraphs import paragraph_dedup

    sections.append(
        (
            "Paragraph dedup keeper (algebraic, skew-proof)",
            "Expected: the keep-first keeper is a partial+final "
            "`HashAggregate` pair over `min(struct(doc_id, pos))` — NOT a "
            "`Window` over phash, which would funnel a billion-row "
            "boilerplate group through one task.",
            paragraph_dedup(docs.select("doc_id", "text")),
        )
    )

    from otel_arrow_spark.plans.corpus import CorpusConfig, clean_corpus_frame

    sections.append(
        (
            "Corpus cleaning funnel (dedup → quality → decontaminate → pack)",
            "Expected: ONE declarative plan — fingerprint `HashAggregate` "
            "partial+final pair for the dedup keeper, quality gates folded "
            "into a `Project`, the hashed-gram posting through a single "
            "`ArrowEvalPython` (never BatchEvalPython) into a "
            "`BroadcastHashJoin` against the benchmark grams, and one "
            "window stage for packing. No nested-loop joins anywhere.",
            clean_corpus_frame(
                spark,
                CorpusConfig(
                    input_path="/root/testdata/sf0.001/documents.parquet",
                    output_dir="/unused",
                ),
            ),
        )
    )

    from otel_arrow_spark.operators.span_metrics import span_red_metrics
    from otel_arrow_spark.sources.spans import write_spans_parquet

    spans_dir = write_spans_parquet(
        os.path.join(repo, ".cache", "spans", "n2000_plans"), 2000
    )
    spans = spark.read.parquet(f"{spans_dir}/spans.parquet")
    rattrs = spark.read.parquet(f"{spans_dir}/resource_attrs.parquet")
    svc = rattrs.where(F.col("key") == "service.name").select(
        F.col("parent_id").alias("resource_id"), F.col("str").alias("service")
    )
    sections.append(
        (
            "Span RED metrics (spanmetrics connector)",
            "Expected: one-hot latency buckets in a `Project` at the scan, "
            "the service dimension via `BroadcastHashJoin`, the delta merge "
            "and the error rollup as partial+final `HashAggregate` / "
            "`ObjectHashAggregate` pairs over the SAME shuffle keys. No "
            "Python, no nested-loop joins.",
            span_red_metrics(spans, dim=svc),
        )
    )

    from otel_arrow_spark.operators.logs_star import (
        decode_logs_star,
        encode_logs_star,
    )
    from otel_arrow_spark.operators.enrich import enrich
    from otel_arrow_spark.operators.parse import parse_transcripts

    flat = enrich(parse_transcripts(spark.read.parquet(inp)), spark).localCheckpoint()
    sections.append(
        (
            "LOGS star decode (round-trip read side, union-agg strategy)",
            "Expected: the attrs pivot AND the logs⋈attrs join collapse "
            "into ONE `ObjectHashAggregate`/`SortAggregate` pair on the "
            "128-bit id pair over a `Union` (single fact-side shuffle, no "
            "`SortMergeJoin`); both dimension joins are `BroadcastHashJoin`; "
            "ids are hash expressions, no `Window`/row_number funnel.",
            decode_logs_star(encode_logs_star(flat)),
        )
    )

    from otel_arrow_spark.operators.aggregate import hopping_aggregate

    sections.append(
        (
            "Hopping-window reaggregation",
            "Expected: the window/slide row expansion is an `Expand` node "
            "feeding ONE partial+final `HashAggregate` pair around a single "
            "`Exchange hashpartitioning` — never a per-offset self-join.",
            hopping_aggregate(
                routed, "30 minutes", "15 minutes", keys=("signal_class",)
            ),
        )
    )

    from otel_arrow_spark.operators.trace_tree import span_self_times

    sections.append(
        (
            "Span self-time (flame-graph net latency)",
            "Expected: child-sum `HashAggregate` and the join back both "
            "hash-partition on (trace_id, span pointer) — the aggregate's "
            "partitioning is reused by the join side, bounded skew.",
            span_self_times(spans),
        )
    )

    from otel_arrow_spark.textops.chunking import chunk_documents

    sections.append(
        (
            "Sliding-window chunking",
            "Expected: tokenization `split` materialized in the Project "
            "BELOW the `Generate` (explode) node — one regex per document, "
            "not per chunk — zero `Exchange`, zero Python, whole-stage "
            "codegen throughout.",
            chunk_documents(docs),
        )
    )

    from otel_arrow_spark.sources.otlp_json import (
        generate_otlp_json_requests,
        parse_otlp_json,
    )

    payloads = spark.createDataFrame(
        [(p,) for p in generate_otlp_json_requests(2000)], "payload string"
    )
    sections.append(
        (
            "OTLP/JSON logs decode (from_json + 3 explodes)",
            "Expected: exactly 3 `Generate` nodes (resourceLogs → scopeLogs "
            "→ logRecords), zero `Exchange`, zero Python — the scan-side "
            "decode the reference's OTLP receiver performs.",
            parse_otlp_json(payloads),
        )
    )

    from otel_arrow_spark.sources.otlp_json import (
        generate_otlp_json_metric_requests,
        parse_otlp_metrics_json,
    )

    mpayloads = spark.createDataFrame(
        [(p,) for p in generate_otlp_json_metric_requests(2000)],
        "payload string",
    )
    sections.append(
        (
            "OTLP/JSON metrics decode (oneof normalized scan-side)",
            "Expected: exactly 4 `Generate` nodes (resourceMetrics → "
            "scopeMetrics → metrics → unified points array), zero "
            "`Exchange`, zero Python — the gauge/sum/histogram oneof "
            "becomes one explode via per-branch transform + concat.",
            parse_otlp_metrics_json(mpayloads),
        )
    )

    from otel_arrow_spark.sources.otlp_json import encode_otlp_json

    sections.append(
        (
            "OTLP/JSON logs encode (exporter re-batching)",
            "Expected: exactly one `Exchange` (the exporter's batching "
            "shuffle on resource+scope+bucket, `REPARTITION_BY_NUM` to "
            "one reducer per core), `collect_list` in a partial+final "
            "ObjectHashAggregate after it, `to_json` in the final "
            "Project, zero Python.",
            encode_otlp_json(parse_otlp_json(payloads)),
        )
    )

    from otel_arrow_spark.operators.anomaly import rolling_zscore_anomalies

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sections.append(
        (
            "Rolling z-score anomalies",
            "Expected: ONE `Window` node (all three frame statistics "
            "share it — chained withColumn would triple the frame "
            "passes), one `Exchange` on the series key, no Python.",
            rolling_zscore_anomalies(
                events, key_cols=("event_type",), ts_col="ts",
                value_col="value", tiebreak=("event_id",),
            ),
        )
    )

    from otel_arrow_spark.operators.logpatterns import mine_templates

    sections.append(
        (
            "Log template mining (Drain-family masking)",
            "Expected: both `regexp_replace` masks in the Project directly "
            "over the scan; the exact countDistinct plans as the two-phase "
            "distinct aggregate (partial on (template, group) BEFORE the "
            "first Exchange), so both shuffles move pattern-vocabulary "
            "cardinality, not corpus rows.",
            mine_templates(spark.read.parquet(inp)),
        )
    )

    from otel_arrow_spark.textops.analysis import unigram_lm_score

    sections.append(
        (
            "Unigram-LM quality scoring",
            "Expected: vocab `HashAggregate`, token equi-join (AQE "
            "broadcasts a small vocab), per-doc aggregate, and a "
            "BroadcastNestedLoopJoin for the 1-row normalizer — never a "
            "CartesianProduct.",
            unigram_lm_score(docs),
        )
    )

    from otel_arrow_spark.operators.downsample import m4_downsample

    sections.append(
        (
            "M4 time-series downsampling",
            "Expected: ONE partial+final `HashAggregate` pair around a "
            "single `Exchange` on (series, bucket) — min_by/max_by are "
            "algebraic, so map-side combine collapses every partition to "
            "≤4 candidate points per group before the shuffle. No "
            "`Window`, no Python.",
            m4_downsample(
                events.selectExpr("event_type as metric_name", "ts",
                                  "value as double_value"),
                "15 minutes",
            ),
        )
    )

    from otel_arrow_spark.operators.metrics import (
        cumulative_to_delta,
        delta_to_cumulative,
    )

    series = events.selectExpr("event_type as metric_name", "ts",
                               "value as double_value")
    sections.append(
        (
            "Temporality round-trip (cumulativetodelta → deltatocumulative)",
            "Expected: each conversion is ONE `Window` node; the second "
            "window reuses the first's (key, order) partitioning, so the "
            "whole round-trip is a single `Exchange` + `Sort` — lag, "
            "running sum and first-value all ride one sorted pass.",
            delta_to_cumulative(
                cumulative_to_delta(series, keys=("metric_name",)),
                keys=("metric_name",),
            ),
        )
    )

    from otel_arrow_spark.textops.retrieval import bm25_topk

    sections.append(
        (
            "BM25 lexical retrieval (literal query)",
            "Expected: per-term tfs in the Project over the scan (no "
            "explode, no join for the query terms), ONE partial+final "
            "aggregate for the corpus stats, a `BroadcastNestedLoopJoin` "
            "carrying the 1-row stats back, `TakeOrderedAndProject` for "
            "the top-k. No SortMergeJoin, no Python.",
            bm25_topk(docs, ["hash", "join", "vector"], k=20),
        )
    )

    from otel_arrow_spark.sources.bloomskip import build_bloom_manifest

    sections.append(
        (
            "Bloom-skip manifest build",
            "Expected: the k-position explode (`Generate`) feeds a "
            "partial+final `HashAggregate` pair around ONE `Exchange` on "
            "(file, word) — `bit_or` combines map-side, so the shuffle "
            "carries at most m_bits/64 words per file, never k rows per "
            "data row.",
            build_bloom_manifest(
                spark, "/root/testdata/sf0.001/events.parquet", "user_id"
            ),
        )
    )

    from otel_arrow_spark.operators.profile import distinct_sketches
    from otel_arrow_spark.operators.sketches import quantile_sketches

    sections.append(
        (
            "Sketch sidecars (HLL cardinality / KLL quantiles)",
            "Expected: each sketch build is ONE partial+final aggregate "
            "around a single `Exchange` on the group key — DataSketches "
            "state combines map-side, so the shuffle moves one "
            "kilobyte-sized sketch per (partition, group). No Python.",
            distinct_sketches(
                events.selectExpr("event_type", "user_id"),
                "user_id", by=("event_type",),
            ).join(
                quantile_sketches(
                    events.selectExpr(
                        "event_type",
                        "cast(round(value * 100) as bigint) as v"
                    ),
                    "v", by=("event_type",),
                ),
                "event_type",
            ),
        )
    )

    from otel_arrow_spark.operators.funnel import funnel_progress

    sections.append(
        (
            "Ordered-conversion funnel (one-shuffle state machine)",
            "Expected: the step-type `IN` filter PUSHED to the parquet scan "
            "(non-step events never leave the file reader), ONE `Exchange` "
            "on the funnel keys with partial+final `collect_list` around it "
            "(map-side combine bounds the shuffle at the per-key step-event "
            "structs), and the whole state machine — sort, fold, "
            "strictly-after advance — evaluated INSIDE the final aggregate's "
            "result expression as a `lambdafunction`: no second pass, no "
            "join, no Python. The k-step self-join formulation this replaces "
            "would be k−1 shuffles of the full fact table.",
            funnel_progress(
                events,
                ["view", "click", "purchase"],
                ["user_id", F.to_date("ts").alias("day")],
                tiebreak="event_id",
            ),
        )
    )

    from otel_arrow_spark.operators.anomaly import ewma_smooth

    sections.append(
        (
            "EWMA smoothing (one window stage, higher-order fold)",
            "Expected: ONE `Exchange` on the series key feeding ONE `Sort`, "
            "then TWO `Window` nodes over the IDENTICAL "
            "partitioning+ordering — Spark reuses the sort (no second "
            "Exchange appears): `row_number` first, then the trailing "
            "64-row `collect_list` frame. The weighted fold and the "
            "closed-form denominator are a single `aggregate(...)` lambda in "
            "the final Project — whole plan JVM-side, no self-join (the "
            "DuckDB oracle's rn-range join is the *replay* formulation, "
            "not the execution plan).",
            ewma_smooth(
                events, ("event_type",), alpha=0.5, lookback=64,
                tiebreak=("event_id",),
            ),
        )
    )

    from otel_arrow_spark.textops.paragraphs import (
        boilerplate_remove,
        write_paragraph_corpus,
    )

    paras = spark.read.parquet(
        write_paragraph_corpus(os.path.join(repo, ".cache", "paragraphs", "n2000"), 2000)
    )
    sections.append(
        (
            "Boilerplate removal (DF filter, broadcast anti-join)",
            "Expected: the document-frequency count is a partial+final "
            "`HashAggregate` pair on phash (a second pair inside for the "
            "DISTINCT expansion) — never a window, so a billion-copy banner "
            "reduces map-side. The boilerplate set (high-DF Zipf tail, "
            "tiny) feeds the `LeftAnti` join as a `BroadcastExchange`; the "
            "per-doc restitch is one partial+final `ObjectHashAggregate` "
            "(collect_list) on doc_id. At sandbox scale AQE also broadcasts "
            "the final totals⋈kept outer join; at 100 TB that one becomes "
            "a co-partitioned shuffle join on doc_id — both sides already "
            "hash on it.",
            boilerplate_remove(paras, min_df=5),
        )
    )

    from otel_arrow_spark.operators.trace_tree import pagerank, service_graph

    # pagerank returns its checkpointed ranks, whose plan is a bare scan;
    # the section shows the last round it checkpoints instead
    rounds: list = []
    frame_cls = type(spans)
    checkpoint = frame_cls.localCheckpoint

    def _keep_round(df, *args, **kwargs):
        rounds.append(df)
        return checkpoint(df, *args, **kwargs)

    frame_cls.localCheckpoint = _keep_round
    try:
        pagerank(
            service_graph(spans, svc).select("client", "server", "n_calls"),
            iterations=8, damping=0.85,
        )
    finally:
        frame_cls.localCheckpoint = checkpoint
    sections.append(
        (
            "PageRank (per-round plan over checkpointed ranks)",
            "Expected: each of the fixed iterations is ONE equi-join "
            "(checkpointed ranks ⋈ normalized out-edges) feeding ONE "
            "partial+final `HashAggregate` on the destination, then a left "
            "join back to the node list; every input is a `Scan "
            "ExistingRDD` (localCheckpoint), so the plan never deepens with "
            "the round count — the connected-components discipline. The "
            "dangling-mass term is a separate 1-row aggregate per round "
            "(bounded driver action). Edge/node tables here are AGGREGATED "
            "(service_graph output), so at any scale the per-round shuffle "
            "is the edge list, never raw spans.",
            rounds[-1],
        )
    )

    out = [HEADER]
    for title, expect, df in sections:
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        out.append(f"\n## {title}\n\n{expect}\n\n```\n{plan}\n```\n")
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
