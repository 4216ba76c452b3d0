"""Composed training-corpus cleaning pipeline: exact dedup → quality gate
→ benchmark decontamination → sequence packing, with single-pass lineage.

This is the textops surface assembled into the deliverable a pretraining
data team actually runs (C4/RefinedWeb-style cleaning funnel feeding a
packer), structured like the flagship telemetry pipeline
(plans/pipeline.py): one declarative plan, ``observe()`` counters riding
the sink write, atomic commit markers, resumable.

Single-pass lineage trick: the stages are computed as FLAGS (``ded_keep``,
``quality_keep``, ``is_contaminated``) rather than successive filters, so
one ``observe`` node counts every stage's survivors in the same job that
writes the packed output — no per-stage count jobs. The filter applies
after the observe; Catalyst still prunes flag computation columns from
the sink projection.

Scale shape per stage (each proven separately by its own driver oracle):
dedup shuffles 16-byte fingerprints + ids (textops/dedup.py:dedup_exact);
the quality gate is pure expressions; decontamination ships (id, gram)
pairs against a broadcast benchmark gram table (textops/scrub.py);
packing is one running-sum window per (source, lang) pack group
(textops/packing.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from otel_arrow_spark.sinks import SINK_PARQUET_OPTIONS


@dataclass
class CorpusConfig:
    input_path: str
    output_dir: str
    seq_len: int = 512
    alpha_min: float = 0.8
    stopword_max: float = 0.12
    bench_docs: int = 3
    ngram: int = 8
    # optional SemDeDup stage (textops/dedup.py semantic_dedup): enabled
    # by an embeddings table keyed by doc_id (``vec_id`` column); docs
    # without an embedding pass the gate (can't judge what wasn't embedded)
    embeddings_path: str | None = None
    sem_threshold: float = 0.42
    sem_clusters: int = 8
    # optional cross-batch history gate (textops/dedup.py
    # dedup_against_index): a parquet dir of md5 fingerprints (``fp``
    # column, text_fingerprints format) of every previously-kept doc;
    # docs already in the index fail ``ded_keep`` alongside within-batch
    # duplicates, so the funnel dedupes against ALL prior runs — the
    # daily-crawl loop inside the config-driven pipeline
    history_index_path: str | None = None


def build_flagged(docs: DataFrame, cfg: CorpusConfig,
                  embeddings: DataFrame | None = None) -> DataFrame:
    """The corpus with per-stage keep/drop flags — no actions, no filter.

    Thresholds compare ROUNDED ratios so boundary documents land on the
    same side in any engine replaying the plan (the DuckDB oracle uses
    the identical round-then-compare).

    ``embeddings`` (or ``cfg.embeddings_path``) switches on the SemDeDup
    gate: semantic losers (cosine ≥ ``cfg.sem_threshold`` to a lower-id
    clustermate) get ``sem_keep = false``. The loser set is ids-only —
    the embedding vectors never join the document rows.
    """
    from otel_arrow_spark.textops import quality_score
    from otel_arrow_spark.textops.dedup import token_ngram_hashes

    fp = F.md5(F.col("text"))
    keepers = (
        docs.select(F.col("doc_id"), fp.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("_keep_id"))
    )
    d = (
        docs.withColumn("_fp", fp)
        .join(keepers, "_fp")
        .withColumn("ded_keep", F.col("doc_id") == F.col("_keep_id"))
        .drop("_keep_id")
    )
    if cfg.history_index_path:
        from pyspark.sql import SparkSession as _S

        idx = (
            _S.getActiveSession()
            .read.parquet(cfg.history_index_path)
            .select("fp")
            .distinct()
            .withColumn("_hist", F.lit(True))
        )
        # fingerprint-keyed left join: history ships 16-byte keys, never
        # bodies; a hit flips ded_keep exactly like a within-batch dup
        d = (
            d.join(idx, d["_fp"] == idx["fp"], "left")
            .withColumn("ded_keep", F.col("ded_keep") & F.col("_hist").isNull())
            .drop("fp", "_hist")
        )
    d = d.drop("_fp")
    d = quality_score(d).withColumn(
        "quality_keep",
        (F.round("alpha_ratio", 6) >= F.lit(cfg.alpha_min))
        & (F.round("stopword_ratio", 6) <= F.lit(cfg.stopword_max)),
    )
    # Contamination is per-doc and independent of the other gates, so the
    # n-gram posting branch explodes the RAW scan (id + text only), not
    # the flagged frame (which would re-execute the dedup shuffle join
    # inside the explode branch); grams are ROLLING HASHES, not strings —
    # the string-gram posting alone cost 2.9 s of the 3.8 s total at
    # sf0.1 (token_ngram_hashes docstring has the arithmetic contract).
    bench = docs.orderBy("doc_id").limit(cfg.bench_docs).select("text")
    bench_grams = bench.select(
        F.explode(token_ngram_hashes(F.col("text"), cfg.ngram)).alias("gram")
    ).distinct()
    posting = docs.select(
        "doc_id", F.explode(token_ngram_hashes(F.col("text"), cfg.ngram)).alias("gram")
    )
    hits = (
        posting.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    d = (
        d.join(hits, "doc_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .withColumn("is_contaminated", F.col("n_hits") > 0)
    )

    if embeddings is None and cfg.embeddings_path:
        from pyspark.sql import SparkSession

        embeddings = SparkSession.getActiveSession().read.parquet(
            cfg.embeddings_path
        )
    if embeddings is not None:
        from otel_arrow_spark.textops.dedup import semantic_dedup
        from otel_arrow_spark.textops.ivf import deterministic_centroids

        cents = deterministic_centroids(embeddings, cfg.sem_clusters)
        surv = semantic_dedup(
            embeddings, cents, threshold=cfg.sem_threshold
        ).select(F.col("vec_id").alias("doc_id"))
        losers = embeddings.select(F.col("vec_id").alias("doc_id")).join(
            surv, "doc_id", "left_anti"
        )
        d = d.join(
            losers.withColumn("_sem_dup", F.lit(True)), "doc_id", "left"
        ).withColumn("sem_keep", F.col("_sem_dup").isNull()).drop("_sem_dup")
    else:
        d = d.withColumn("sem_keep", F.lit(True))
    return d


def build_packed(flagged: DataFrame, cfg: CorpusConfig) -> DataFrame:
    """Survivors of all three gates, packed into ``seq_len``-token bins
    within (source, lang): (doc_id, source, lang, n_tokens, bin_idx,
    bin_offset)."""
    from otel_arrow_spark.textops import token_stats
    from otel_arrow_spark.textops.packing import pack_sequences

    surv = flagged.where(
        F.col("ded_keep") & F.col("quality_keep") & ~F.col("is_contaminated")
        & F.col("sem_keep")
    )
    t = token_stats(surv).select(
        "doc_id", "source", "lang", F.col("n_tokens_ws").alias("n_tokens")
    )
    packed = pack_sequences(t, ["source", "lang"], "doc_id", "n_tokens", cfg.seq_len)
    return packed.select(
        "doc_id", "source", "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bin_idx").cast("long").alias("bin_idx"),
        F.col("bin_offset").cast("long").alias("bin_offset"),
    )


def clean_corpus_frame(spark: SparkSession, cfg: CorpusConfig) -> DataFrame:
    """The full cleaning plan as a DataFrame (the driver-query surface)."""
    return build_packed(build_flagged(spark.read.parquet(cfg.input_path), cfg), cfg)


def run_corpus_clean(
    spark: SparkSession, cfg: CorpusConfig, resume: bool = False
) -> dict:
    """Execute with lineage manifest + commit marker; returns the manifest.

    One job: the observe node counts rows in / after each gate while the
    packed output writes, partitioned by pack group.
    """
    os.makedirs(cfg.output_dir, exist_ok=True)
    manifest_path = os.path.join(cfg.output_dir, "MANIFEST.json")
    out_path = os.path.join(cfg.output_dir, "packed")
    marker = os.path.join(out_path, "_COMMITTED")
    if resume and os.path.exists(marker) and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)

    t0 = time.monotonic()
    flagged = build_flagged(spark.read.parquet(cfg.input_path), cfg)
    obs = Observation("corpus_lineage")
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("ded_keep").cast("long")).alias("after_dedup"),
        F.sum((F.col("ded_keep") & F.col("quality_keep")).cast("long")).alias(
            "after_quality"
        ),
        F.sum(
            (
                F.col("ded_keep")
                & F.col("quality_keep")
                & ~F.col("is_contaminated")
            ).cast("long")
        ).alias("after_decontaminate"),
        F.sum(
            (
                F.col("ded_keep")
                & F.col("quality_keep")
                & ~F.col("is_contaminated")
                & F.col("sem_keep")
            ).cast("long")
        ).alias("after_semantic"),
    )
    (
        build_packed(observed, cfg)
        .sortWithinPartitions("source", "lang", "bin_idx")
        .write.mode("overwrite")
        .options(**SINK_PARQUET_OPTIONS)
        .partitionBy("source", "lang")
        .parquet(out_path)
    )
    manifest = {
        "config": {
            "input": cfg.input_path,
            "seq_len": cfg.seq_len,
            "alpha_min": cfg.alpha_min,
            "stopword_max": cfg.stopword_max,
            "history_index": cfg.history_index_path,
            "semantic_dedup": (
                {
                    "embeddings": cfg.embeddings_path,
                    "threshold": cfg.sem_threshold,
                    "n_clusters": cfg.sem_clusters,
                }
                if cfg.embeddings_path
                else None
            ),
        },
        "metrics": dict(obs.get),
        "sinks": {"packed": out_path},
        "timings_sec": {"clean_pack_write": round(time.monotonic() - t0, 3)},
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    with open(marker, "w") as f:
        f.write("ok")
    return manifest
