"""Tests for dedup / similarity / analysis / multimodal operators, with
independent oracles (DuckDB list_cosine_similarity, python sets)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.textops.analysis import (
    document_fingerprint,
    language_id,
    quality_score,
    token_stats,
)
from otel_arrow_spark.textops.dedup import (
    dedup_exact,
    embedding_near_dup_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from otel_arrow_spark.textops.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def dup_docs(spark):
    """Corpus with planted exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "completely different content about spark query engines and shuffles"),
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact(self, dup_docs):
        out = dedup_exact(dup_docs)
        ids = {r.doc_id for r in out.collect()}
        assert ids == {1, 3, 4, 6}

    def test_minhash_finds_planted_pairs(self, dup_docs):
        pairs = minhash_near_dup_pairs(dup_docs, jaccard_threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got  # exact dup: jaccard 1.0
        assert (4, 5) in got
        assert (1, 3) in got  # near dup
        assert not any(6 in p for p in got)

    def test_minhash_jaccard_matches_python_oracle(self, dup_docs):
        pairs = {(r.id_a, r.id_b): r.jaccard for r in
                 minhash_near_dup_pairs(dup_docs, jaccard_threshold=0.3).collect()}
        texts = {r.doc_id: r.text for r in dup_docs.collect()}

        def sh(t, k=5):
            return {t[i : i + k] for i in range(len(t) - k + 1)}

        for (a, b), j in pairs.items():
            expect = len(sh(texts[a]) & sh(texts[b])) / len(sh(texts[a]) | sh(texts[b]))
            assert abs(j - expect) < 1e-9

    def test_ngram_jaccard(self, dup_docs):
        pairs = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()}
        assert (1, 2) in pairs and (4, 5) in pairs

    def test_ngram_jaccard_max_df_keeps_rare_gram_pairs(self, dup_docs):
        """The document-frequency cut prunes candidate generation without
        losing pairs that share any below-cap gram (verification jaccard
        stays exact — computed on the FULL gram sets)."""
        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()}
        capped = {(r.id_a, r.id_b): r.jaccard
                  for r in ngram_jaccard_pairs(dup_docs, threshold=0.5, max_df=3).collect()}
        assert (1, 2) in capped and (4, 5) in capped
        for k, j in capped.items():
            assert abs(j - exact[k]) < 1e-12  # exact values, pruned candidates

    def test_simhash(self, dup_docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in
                 simhash_near_dup_pairs(dup_docs, max_hamming=3).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(4, 5)] == 0
        assert (1, 6) not in pairs

    def test_embedding_near_dup(self, spark):
        v = [float(x) for x in np.random.RandomState(7).standard_normal(8)]
        v2 = [x + 0.001 for x in v]  # near-identical
        v3 = [-x for x in v]  # opposite
        df = spark.createDataFrame(
            [(1, v), (2, v2), (3, v3)], "vec_id long, embedding array<float>"
        )
        pairs = {(r.id_a, r.id_b) for r in
                 embedding_near_dup_pairs(df, threshold=0.99, n_planes=8).collect()}
        assert pairs == {(1, 2)}


class TestIncrementalDedup:
    def test_within_batch_and_history_both_apply(self, spark, dup_docs):
        from otel_arrow_spark.textops.dedup import (
            dedup_against_index,
            text_fingerprints,
        )

        history = spark.createDataFrame(
            [(100, "unrelated short text")], "doc_id long, text string"
        )
        idx = text_fingerprints(history)
        out = dedup_against_index(dup_docs, idx)
        ids = {r.doc_id for r in out.collect()}
        # 2 and 5 fall to within-batch dedup, 6 to the history index
        assert ids == {1, 3, 4}

    def test_empty_index_equals_dedup_exact(self, spark, dup_docs):
        from otel_arrow_spark.textops.dedup import dedup_against_index, dedup_exact

        empty = spark.createDataFrame([], "fp string")
        a = sorted(r.doc_id for r in dedup_against_index(dup_docs, empty).collect())
        b = sorted(r.doc_id for r in dedup_exact(dup_docs).collect())
        assert a == b

    def test_persisted_round_trip_appends(self, spark, workdir, dup_docs):
        """The daily-crawl loop: index on disk, dedup a batch, append the
        survivors' fingerprints, dedup the next batch — day-2 rows that
        duplicate day-1 survivors must drop; duplicate index rows from
        blind appends must not matter."""
        from otel_arrow_spark.textops.dedup import (
            dedup_against_index,
            text_fingerprints,
        )

        p = f"{workdir}/fp_index"
        spark.createDataFrame([], "fp string").write.parquet(p)

        day1 = dedup_against_index(dup_docs, spark.read.parquet(p))
        text_fingerprints(day1).write.mode("append").parquet(p)
        assert {r.doc_id for r in day1.collect()} == {1, 3, 4, 6}

        day2 = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog again and again today"),
             (11, "fresh never-seen document body"),
             (12, "unrelated short text")],
            "doc_id long, text string",
        )
        out = dedup_against_index(day2, spark.read.parquet(p))
        assert {r.doc_id for r in out.collect()} == {11}
        # append again (10..12 survivors) — duplicates in the index are harmless
        text_fingerprints(out).write.mode("append").parquet(p)
        text_fingerprints(out).write.mode("append").parquet(p)
        day3 = spark.createDataFrame(
            [(20, "fresh never-seen document body"), (21, "another new one")],
            "doc_id long, text string",
        )
        assert {r.doc_id for r in
                dedup_against_index(day3, spark.read.parquet(p)).collect()} == {21}

    def test_plan_is_anti_then_semi_on_keys(self, spark, dup_docs):
        """Plan shape: one fingerprint-keyed left_anti against the index,
        one id-keyed left_semi recovery — never a body-to-body join, and
        the aggregate before the anti join carries (fp, id) only."""
        from otel_arrow_spark.textops.dedup import (
            dedup_against_index,
            text_fingerprints,
        )

        idx = text_fingerprints(dup_docs.limit(1))
        plan = dedup_against_index(dup_docs, idx)._jdf.queryExecution() \
            .optimizedPlan().toString()
        assert plan.count("LeftAnti") == 1 and plan.count("LeftSemi") == 1
        # the min-id keeper aggregates exactly the two narrow columns
        assert "Aggregate [fp" in plan


class TestNearDupIndex:
    """Cross-batch NEAR-dup against a persisted MinHash index — the
    near-dup analog of the fingerprint index (today's crawl vs all
    prior crawls)."""

    def _halves(self, spark, dup_docs):
        hist = dup_docs.where(F.col("doc_id").isin(1, 4, 6))
        batch = dup_docs.where(~F.col("doc_id").isin(1, 4, 6))
        return hist, batch

    def test_exact_mode_finds_planted_pairs(self, spark, dup_docs):
        from otel_arrow_spark.textops.dedup import (
            minhash_index,
            near_dups_against_index,
        )

        hist, batch = self._halves(spark, dup_docs)
        idx = minhash_index(hist)
        pairs = {(r.id_new, r.id_hist): r.jaccard
                 for r in near_dups_against_index(
                     batch, idx, jaccard_threshold=0.5).collect()}
        assert pairs[(2, 1)] == 1.0        # exact dup across batches
        assert pairs[(5, 4)] == 1.0
        assert (3, 1) in pairs             # near dup
        assert all(h != 6 for (_, h) in pairs)  # unrelated never matches
        # exact Jaccard agrees with a Python shingle oracle
        texts = {r.doc_id: r.text for r in dup_docs.collect()}

        def sh(t, k=5):
            return {t[i:i + k] for i in range(len(t) - k + 1)}

        for (n, h), j in pairs.items():
            want = len(sh(texts[n]) & sh(texts[h])) / len(
                sh(texts[n]) | sh(texts[h]))
            assert abs(j - want) < 1e-9

    def test_estimate_mode_signatures_only(self, spark, dup_docs):
        from otel_arrow_spark.textops.dedup import (
            minhash_index,
            near_dups_against_index,
        )

        hist, batch = self._halves(spark, dup_docs)
        idx = minhash_index(hist, keep_shingles=False)
        assert idx.columns == ["doc_id", "sig"]
        pairs = {(r.id_new, r.id_hist): r.jaccard
                 for r in near_dups_against_index(
                     batch, idx, jaccard_threshold=0.5).collect()}
        # identical docs estimate exactly 1.0; the near pair lands within
        # the +-1/sqrt(64) estimator band of its true Jaccard (~0.83)
        assert pairs[(2, 1)] == 1.0 and pairs[(5, 4)] == 1.0
        assert (3, 1) in pairs and 0.6 <= pairs[(3, 1)] <= 1.0

    def test_persisted_index_append_loop(self, spark, workdir, dup_docs):
        from otel_arrow_spark.textops.dedup import (
            minhash_index,
            near_dups_against_index,
        )

        p = f"{workdir}/nd_index"
        hist, batch = self._halves(spark, dup_docs)
        minhash_index(hist).write.parquet(p)
        # 0.9: the exact dups (j=1.0) drop, the near pair (~0.84) survives
        survivors = batch.join(
            near_dups_against_index(
                batch, spark.read.parquet(p), jaccard_threshold=0.9
            ).select(F.col("id_new").alias("doc_id")).distinct(),
            "doc_id", "left_anti",
        )
        assert {r.doc_id for r in survivors.collect()} == {3}
        minhash_index(survivors).write.mode("append").parquet(p)
        day2 = spark.createDataFrame(
            [(20, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
             (21, "entirely novel content body")],
            "doc_id long, text string",
        )
        hits = near_dups_against_index(
            day2, spark.read.parquet(p), jaccard_threshold=0.9
        ).collect()
        # doc 20 duplicates doc 3 (now indexed); 21 is clean
        assert {(r.id_new, r.id_hist) for r in hits} == {(20, 3)}


class TestSimilarity:
    def test_brute_force_matches_duckdb(self, spark, embeddings):
        queries = (
            embeddings.orderBy("vec_id").limit(3)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        got = brute_force_topk(embeddings, queries, k=5)
        rows = {(r.query_id, r.rank): r.vec_id for r in got.collect()}
        oracle = duckdb.sql(
            f"""
            WITH e AS (SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM e ORDER BY vec_id LIMIT 3),
            s AS (SELECT q.query_id, e.vec_id,
                         list_cosine_similarity(e.embedding, q.qv) AS cosine
                  FROM e CROSS JOIN q),
            r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cosine DESC, vec_id) AS rank FROM s)
            SELECT query_id, rank, vec_id FROM r WHERE rank <= 5
            """
        ).fetchall()
        assert rows == {(q, r): v for q, r, v in oracle}

    def test_lsh_recall_reasonable(self, spark, embeddings):
        queries = (
            embeddings.orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        exact = brute_force_topk(embeddings, queries, k=10)
        approx = lsh_bucketed_topk(embeddings, queries, k=10, n_planes=6, n_tables=8)
        ex = {(r.query_id, r.vec_id) for r in exact.collect()}
        ap = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.5, f"LSH recall too low: {recall}"
        # the query vector itself must always be found (cosine 1 with itself)
        for q in [r.query_id for r in queries.collect()]:
            assert (q, q) in ap


class TestAnalysis:
    def test_token_stats_vs_python(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello world, it's 2026!"), (2, ""), (3, "   "), (4, "one")],
            "doc_id long, text string",
        )
        out = {r.doc_id: (r.n_tokens_ws, r.n_tokens_bpe) for r in
               token_stats(df).collect()}
        assert out[1][0] == 4
        assert out[1][1] >= 6  # Hello| world|,| it|'s| 2026|!
        assert out[2][0] == 0
        assert out[4] == (1, 1)

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat and the dog in a house it is"),
                (2, "der hund und die katze das ist ein haus nicht"),
                (3, "el perro y la casa de que en un es"),
                (4, "zzz qqq www"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
        assert out[1] == "en" and out[2] == "de" and out[3] == "es"
        assert out[4] is None

    def test_quality_and_fingerprint(self, spark):
        df = spark.createDataFrame(
            [
                (1, "The quick brown fox jumps over the lazy dog and runs away."),
                (2, "the quick brown fox jumps over the lazy dog, AND runs away"),
                (3, "!!!???;;;;;"),
            ],
            "doc_id long, text string",
        )
        q = {r.doc_id: r.quality for r in quality_score(df).collect()}
        assert q[1] > 0.7 > q[3]
        fp = {r.doc_id: r.fingerprint for r in document_fingerprint(df).collect()}
        assert fp[1] == fp[2] != fp[3]


class TestDatasetMixing:
    def test_stratified_sample_caps_and_determinism(self, spark):
        from otel_arrow_spark.textops.analysis import stratified_sample

        rows = [(i, f"t{i}", ["en", "fr"][i % 2], f"s{i % 3}") for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
        out = stratified_sample(df, ("lang", "source"), 4)
        got = out.groupBy("lang", "source").count().collect()
        assert all(r["count"] <= 4 for r in got) and len(got) == 6
        # deterministic across runs (hash order, not rand())
        ids1 = {r.doc_id for r in out.collect()}
        ids2 = {r.doc_id for r in stratified_sample(df, ("lang", "source"), 4).collect()}
        assert ids1 == ids2
        # python oracle: md5-of-id order per stratum
        import hashlib
        from collections import defaultdict

        strata = defaultdict(list)
        for i, _, la, so in rows:
            strata[(la, so)].append(i)
        want = set()
        for members in strata.values():
            members.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
            want.update(members[:4])
        assert ids1 == want

    def test_classifier_score_vs_python(self, spark):
        import hashlib
        import math

        from otel_arrow_spark.textops.analysis import classifier_score

        weights = {i: (i % 7 - 3) / 5.0 for i in range(32)}
        rows = [(1, "alpha beta gamma"), (2, "alpha alpha"), (3, "")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.clf_score
               for r in classifier_score(df, weights, dim=32, bias=0.1).collect()}

        def oracle(text):
            toks = dict.fromkeys(text.strip().lower().split())
            s = 0.1
            for t in toks or [""]:
                b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 32
                s += weights.get(b, 0.0)
            return 1.0 / (1.0 + math.exp(-s))

        for doc_id, text in rows:
            assert abs(got[doc_id] - oracle(text)) < 1e-12, doc_id


class TestConnectedComponents:
    def test_matches_union_find_oracle(self, spark):
        """Min-label propagation == a Python union-find on a random graph
        with chains, triangles, and singleton-free structure."""
        import numpy as np

        from otel_arrow_spark.textops.dedup import connected_components

        rng = np.random.RandomState(5)
        edges = set()
        for _ in range(60):
            a, b = int(rng.randint(0, 40)), int(rng.randint(0, 40))
            if a != b:
                edges.add((min(a, b), max(a, b)))
        # force a long chain (worst case for propagation rounds)
        for i in range(50, 60):
            edges.add((i, i + 1))
        pairs = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
        got = {r.id: r.comp for r in connected_components(pairs).collect()}

        parent: dict[int, int] = {}
        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in {x for e in edges for x in e}}
        assert got == want

    def test_releases_its_checkpoints(self, spark):
        """The edge list and every round's labels but the returned ones
        are released: a call leaves at most one persistent RDD."""
        from otel_arrow_spark.textops.dedup import connected_components

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6)] + [(20, 21)], "id_a long, id_b long"
        )
        labels = connected_components(pairs)
        assert {r.id: r.comp for r in labels.collect()} == {
            **{i: 0 for i in range(7)}, 20: 20, 21: 20
        }
        assert len(set(jsc.getPersistentRDDs().keySet()) - before) <= 1

    def test_representatives(self, spark):
        from otel_arrow_spark.textops.dedup import dedup_cluster_representatives

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 3), (3, 5), (6, 7)], "id_a long, id_b long"
        )
        kept = {r.doc_id for r in dedup_cluster_representatives(docs, pairs).collect()}
        # cluster {1,3,5} → keep 1; {6,7} → keep 6; singletons survive
        assert kept == {0, 1, 2, 4, 6}


class TestMultimodal:
    def test_metadata_and_features(self, spark):
        from otel_arrow_spark.textops.multimodal import (
            attach_media_metadata,
            extract_features,
        )

        rows = [
            (1, bytes([0xFF, 0xD8, 0xFF]) + b"jpegdata" * 10),
            (2, b"\x89PNG" + b"pngdata" * 10),
            (3, b"RIFF" + b"wavdata" * 10),
            (4, b"plainbytes"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        meta = {r.doc_id: r.mime_sniffed for r in attach_media_metadata(df).collect()}
        assert meta == {1: "image/jpeg", 2: "image/png", 3: "audio/wav",
                        4: "application/octet-stream"}
        feats = extract_features(df, dim=8)
        got = {r.doc_id: r.feature for r in feats.collect()}
        assert len(got) == 4 and all(len(v) == 8 for v in got.values())
        assert abs(sum(got[1]) - 1.0) < 1e-6
        # deterministic
        got2 = {r.doc_id: r.feature for r in extract_features(df, dim=8).collect()}
        assert got == got2

    def test_media_repartition_runs_no_job(self, spark, workdir):
        """Partition sizing must come from file metadata, never a byte-sum
        scan over the payload column (round-2 perf-weak item). Pinned by
        running the call inside a job group and asserting the group stays
        empty — a triggered aggregate would register a job."""
        from otel_arrow_spark.textops.multimodal import media_repartition

        path = f"{workdir}/media_np"
        payload = b"x" * 1000
        spark.createDataFrame(
            [(i, payload) for i in range(64)], "doc_id long, payload binary"
        ).write.mode("overwrite").parquet(path)
        df = spark.read.parquet(path)

        group = "media-repartition-no-job"
        sc = spark.sparkContext
        sc.setJobGroup(group, "media_repartition must not run a job")
        try:
            out = media_repartition(df, "payload", target_partition_bytes=16 * 1024)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setJobGroup("", "")
        assert jobs == [], f"media_repartition triggered Spark jobs: {jobs}"
        # sized from on-disk bytes: ~64 KB of payload / 16 KB budget ≥ 2 parts
        import os

        disk = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path) if f.endswith(".parquet")
        )
        expected = disk // (16 * 1024) + 1
        assert out.rdd.getNumPartitions() == expected
        # caller-supplied estimate bypasses even the file stat
        out2 = media_repartition(df, "payload", 10_000, total_bytes=25_000)
        assert out2.rdd.getNumPartitions() == 3

    def test_ensure_parallelism_metadata_probe(self, spark, workdir):
        """ensure_parallelism must widen a single-row-group file to core
        count without any plan-to-RDD probe, and leave in-memory relations
        untouched."""
        from otel_arrow_spark.textops.dedup import ensure_parallelism

        path = f"{workdir}/one_rg"
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(path)
        one_file = spark.read.parquet(path)
        target = spark.sparkContext.defaultParallelism
        assert ensure_parallelism(one_file).rdd.getNumPartitions() == target
        mem = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        assert ensure_parallelism(mem) is mem

    def test_ensure_parallelism_tiny_file_many_row_groups(self, spark, workdir):
        """A small file with MANY row groups still yields one Spark scan
        task (openCostInBytes-sized splits) — the probe must repartition
        it, not mistake footer row-group count for attained parallelism."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from otel_arrow_spark.textops.dedup import ensure_parallelism

        path = f"{workdir}/many_rg/part.parquet"
        import os

        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": list(range(128)), "text": [f"d{i}" for i in range(128)]}),
            path,
            row_group_size=16,  # 8 row groups, a few KB of bytes
        )
        df = spark.read.parquet(path)
        target = spark.sparkContext.defaultParallelism
        out = ensure_parallelism(df)
        assert out.rdd.getNumPartitions() == target

    def test_frame_sample_plan(self, spark):
        from otel_arrow_spark.textops.multimodal import frame_sample_plan

        df = spark.createDataFrame([(1, 1000), (2, 250)], "doc_id long, duration_ms int")
        out = frame_sample_plan(df, every_ms=250)
        got = {}
        for r in out.collect():
            got.setdefault(r.doc_id, []).append(r.frame_ts_ms)
        assert sorted(got[1]) == [0, 250, 500, 750]
        assert sorted(got[2]) == [0]


class TestIVF:
    def test_ivf_recall_and_partition_pruned_index(self, spark, embeddings, workdir):
        from otel_arrow_spark.textops.ivf import (
            ivf_topk,
            train_centroids,
            write_ivf_index,
        )
        from otel_arrow_spark.textops.similarity import brute_force_topk

        cents = train_centroids(embeddings, n_clusters=8)
        assert cents.shape == (8, 64)
        # deterministic
        cents2 = train_centroids(embeddings, n_clusters=8)
        assert (cents == cents2).all()

        queries = (
            embeddings.orderBy("vec_id").limit(5)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        exact = brute_force_topk(embeddings, queries, k=10)
        approx = ivf_topk(embeddings, queries, cents, k=10, nprobe=4)
        ex = {(r.query_id, r.vec_id) for r in exact.collect()}
        ap = {(r.query_id, r.vec_id) for r in approx.collect()}
        recall = len(ex & ap) / len(ex)
        assert recall >= 0.6, f"IVF recall too low: {recall}"
        for q in [r.query_id for r in queries.collect()]:
            assert (q, q) in ap  # self always found

        # materialized index prunes partitions on probe
        path = write_ivf_index(embeddings, f"{workdir}/ivf", cents)
        idx = spark.read.parquet(path)
        assert idx.count() == embeddings.count()
        pruned = idx.filter(F.col("cluster_id") == 3)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters:" in plan and "cluster_id" in plan.split("PartitionFilters:")[1].splitlines()[0]
        approx2 = ivf_topk(idx, queries, cents, k=10, nprobe=4, pre_assigned=True)
        ap2 = {(r.query_id, r.vec_id) for r in approx2.collect()}
        assert ap2 == ap


class TestParagraphDedup:
    """C4-style keep-first paragraph dedup (textops/paragraphs.py)."""

    @pytest.fixture(scope="class")
    def pd_out(self, spark):
        from otel_arrow_spark.textops.paragraphs import paragraph_dedup

        rows = [
            ("d1", "alpha one\n\nshared boiler\n\n   \n\nbeta two"),
            ("d2", "shared boiler\n\ngamma three"),
            ("d3", "shared boiler"),
            ("d4", "alpha one\n\nshared boiler"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = paragraph_dedup(df)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_keep_first_and_reconstruct(self, pd_out):
        # d1 is first in (doc_id, pos) order: keeps all three non-blank
        # paragraphs; the whitespace-only paragraph is dropped entirely.
        assert pd_out["d1"]["n_paras"] == 3
        assert pd_out["d1"]["n_kept"] == 3
        assert pd_out["d1"]["text_dedup"] == "alpha one\n\nshared boiler\n\nbeta two"

    def test_later_duplicates_dropped(self, pd_out):
        assert pd_out["d2"]["n_kept"] == 1
        assert pd_out["d2"]["text_dedup"] == "gamma three"

    def test_fully_duplicated_doc_survives_with_zero(self, pd_out):
        assert pd_out["d3"] == {
            "doc_id": "d3", "n_paras": 1, "n_kept": 0, "text_dedup": ""}
        assert pd_out["d4"]["n_kept"] == 0

    def test_no_window_in_plan(self, spark):
        # Keep-first must be the algebraic groupBy-min, not a window over
        # phash — a window would funnel a billion-row boilerplate group
        # through one task (module docstring).
        from otel_arrow_spark.textops.paragraphs import paragraph_dedup

        df = spark.createDataFrame([("d", "a\n\nb")], "doc_id string, text string")
        plan = paragraph_dedup(df)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_generated_corpus_matches_duckdb(self, spark, tmp_path):
        from otel_arrow_spark.textops.paragraphs import (
            paragraph_dedup, write_paragraph_corpus)

        path = write_paragraph_corpus(str(tmp_path / "paras"), 300)
        got = paragraph_dedup(spark.read.parquet(path))
        res = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["text_dedup"])
               for r in got.collect()}
        con = duckdb.connect()
        exp = con.execute(f"""
            WITH raw AS (
                SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts
                FROM read_parquet('{path}/*.parquet')),
            x AS (SELECT doc_id, unnest(parts) AS para,
                         generate_subscripts(parts, 1) - 1 AS pos FROM raw),
            p AS (SELECT doc_id, pos, para, md5(para) AS phash
                  FROM x WHERE trim(para) <> ''),
            s AS (SELECT doc_id, pos, para FROM (
                      SELECT p.*, row_number() OVER (
                          PARTITION BY phash ORDER BY doc_id, pos) AS rn FROM p)
                  WHERE rn = 1),
            kept AS (SELECT doc_id, count(*) AS n_kept,
                            string_agg(para, chr(10) || chr(10) ORDER BY pos) AS t
                     FROM s GROUP BY 1),
            tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY 1)
            SELECT tot.doc_id, n_paras, coalesce(n_kept, 0), coalesce(t, '')
            FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
        """).fetchall()
        assert len(exp) == 300
        for doc_id, n_paras, n_kept, text in exp:
            assert res[doc_id] == (n_paras, n_kept, text), doc_id
        # duplication actually exercised: some paragraphs were dropped
        assert sum(np - nk for _, np, nk, _ in exp) > 50


class TestBoilerplateRemove:
    """CCNet-style corpus-wide boilerplate removal
    (textops/paragraphs.py:boilerplate_remove) — drops EVERY occurrence of
    a paragraph whose document frequency reaches min_df, the complement
    policy to paragraph_dedup's keep-first."""

    @pytest.fixture(scope="class")
    def br_out(self, spark):
        from otel_arrow_spark.textops.paragraphs import boilerplate_remove

        # "boiler" appears in 3 docs (>= min_df=3 → removed everywhere);
        # "dup two" appears in 2 docs (< 3 → kept, unlike keep-first
        # dedup which would drop the second copy); d4 is entirely boiler.
        rows = [
            ("d1", "alpha one\n\nboiler\n\ndup two"),
            ("d2", "boiler\n\ndup two\n\nbeta"),
            ("d3", "gamma\n\nboiler"),
            ("d4", "boiler"),
        ]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = boilerplate_remove(df, min_df=3)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_boiler_removed_everywhere(self, br_out):
        assert br_out["d1"]["n_boiler"] == 1
        assert br_out["d1"]["text_clean"] == "alpha one\n\ndup two"
        assert br_out["d3"]["text_clean"] == "gamma"

    def test_below_threshold_duplicates_kept_in_all_docs(self, br_out):
        # the policy difference vs paragraph_dedup: BOTH copies survive
        assert br_out["d1"]["text_clean"].endswith("dup two")
        assert br_out["d2"]["text_clean"] == "dup two\n\nbeta"

    def test_all_boiler_doc_comes_back_empty(self, br_out):
        assert br_out["d4"] == {
            "doc_id": "d4", "n_paras": 1, "n_boiler": 1, "text_clean": ""}

    def test_no_window_in_plan(self, spark):
        # DF counting must stay an algebraic aggregate (module docstring:
        # a billion-copy banner reduces map-side, never through a window)
        from otel_arrow_spark.textops.paragraphs import boilerplate_remove

        df = spark.createDataFrame([("d", "a\n\nb")], "doc_id string, text string")
        plan = boilerplate_remove(df)._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan

    def test_generated_corpus_matches_duckdb(self, spark, tmp_path):
        from otel_arrow_spark.textops.paragraphs import (
            boilerplate_remove, write_paragraph_corpus)

        path = write_paragraph_corpus(str(tmp_path / "paras"), 300)
        got = boilerplate_remove(spark.read.parquet(path), min_df=5)
        res = {r["doc_id"]: (r["n_paras"], r["n_boiler"], r["text_clean"])
               for r in got.collect()}
        con = duckdb.connect()
        exp = con.execute(f"""
            WITH raw AS (
                SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts
                FROM read_parquet('{path}/*.parquet')),
            x AS (SELECT doc_id, unnest(parts) AS para,
                         generate_subscripts(parts, 1) - 1 AS pos FROM raw),
            p AS (SELECT doc_id, pos, para, md5(para) AS phash
                  FROM x WHERE trim(para) <> ''),
            b AS (SELECT phash FROM (
                      SELECT phash, count(DISTINCT doc_id) AS df
                      FROM p GROUP BY 1) WHERE df >= 5),
            s AS (SELECT doc_id, pos, para FROM p
                  WHERE phash NOT IN (SELECT phash FROM b)),
            kept AS (SELECT doc_id, count(*) AS n_kept,
                            string_agg(para, chr(10) || chr(10) ORDER BY pos) AS t
                     FROM s GROUP BY 1),
            tot AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY 1)
            SELECT tot.doc_id, n_paras, n_paras - coalesce(n_kept, 0),
                   coalesce(t, '')
            FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
        """).fetchall()
        assert len(exp) == 300
        for doc_id, n_paras, n_boiler, text in exp:
            assert res[doc_id] == (n_paras, n_boiler, text), doc_id
        # the 40-paragraph boiler pool at 300 docs is all above df=5:
        # removal actually fired, and some unique text survived
        assert sum(nb for _, _, nb, _ in exp) > 100
        assert any(t for _, _, _, t in exp)


class TestPacking:
    """Sequence packing (textops/packing.py)."""

    def test_bin_assignment(self, spark):
        from otel_arrow_spark.textops.packing import pack_sequences, packing_summary

        rows = [("g", "a", 300), ("g", "b", 300), ("g", "c", 300), ("h", "x", 50)]
        df = spark.createDataFrame(rows, "grp string, doc string, n long")
        got = {r["doc"]: (r["bin_idx"], r["bin_offset"])
               for r in pack_sequences(df, ["grp"], "doc", "n", seq_len=512).collect()}
        # a: starts at 0; b: starts at 300 (same bin); c: starts at 600 → bin 1
        assert got == {"a": (0, 0), "b": (0, 300), "c": (1, 88), "x": (0, 0)}
        s = {r["grp"]: (r["n_bins"], r["fill_ratio"]) for r in packing_summary(
            pack_sequences(df, ["grp"], "doc", "n", seq_len=512),
            ["grp"], "n", seq_len=512).collect()}
        assert s["g"][0] == 2 and abs(s["g"][1] - 900 / 1024) < 1e-6
        assert s["h"][0] == 1

    def test_partition_invariance(self, spark):
        from otel_arrow_spark.textops.packing import pack_sequences

        rows = [("g", f"d{i:03d}", (i * 37) % 200 + 1) for i in range(500)]
        df = spark.createDataFrame(rows, "grp string, doc string, n long")
        a = pack_sequences(df, ["grp"], "doc", "n", 256).collect()
        b = pack_sequences(df.repartition(13), ["grp"], "doc", "n", 256).collect()
        assert {tuple(r) for r in a} == {tuple(r) for r in b}


def test_near_dup_calls_leave_nothing_cached(spark, docs, embeddings):
    """simhash_near_dup_pairs, minhash_near_dup_pairs,
    near_dups_against_index and semantic_dedup return lazy frames:
    consuming two calls of each, on different inputs, leaves no more
    persistent RDDs than before."""
    from otel_arrow_spark.textops.dedup import (
        minhash_index,
        near_dups_against_index,
        semantic_dedup,
    )
    from otel_arrow_spark.textops.ivf import deterministic_centroids

    jsc = spark.sparkContext._jsc
    before = len(jsc.getPersistentRDDs())
    for keep in (0, 1):
        d = docs.where(F.col("doc_id") % 2 >= keep)
        simhash_near_dup_pairs(d, max_hamming=3).collect()
        minhash_near_dup_pairs(d, jaccard_threshold=0.8).collect()
        hist = minhash_index(d.where(F.col("doc_id") % 3 == 0))
        near_dups_against_index(d.where(F.col("doc_id") % 3 != 0), hist).collect()
        e = embeddings.where(F.col("vec_id") % 2 >= keep)
        semantic_dedup(e, deterministic_centroids(e, 4), 0.42).collect()
        assert len(jsc.getPersistentRDDs()) == before


class TestSemanticDedup:
    def test_cluster_scoped_keep_first(self, spark):
        """Within a cluster the lower id survives; a near-identical pair
        SPLIT across clusters both survive (the SemDeDup design point:
        clustering bounds the search, cross-cluster dups are accepted
        misses)."""
        import numpy as np

        from otel_arrow_spark.textops.dedup import semantic_dedup

        # two orthogonal cluster directions
        cents = np.array([[1.0, 0.0], [0.0, 1.0]])
        rows = [
            (1, [1.0, 0.05]),   # cluster 0
            (2, [1.0, 0.06]),   # cluster 0, ~identical to 1 → dropped
            (3, [0.05, 1.0]),   # cluster 1
            (4, [-0.9, 0.6]),   # cluster 1 (argmax), far from 3 → kept
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r.vec_id: r.cluster_id
               for r in semantic_dedup(df, cents, threshold=0.9).collect()}
        assert out == {1: 0, 3: 1, 4: 1}

    def test_matches_bruteforce(self, spark):
        import numpy as np

        from otel_arrow_spark.textops.dedup import semantic_dedup
        from otel_arrow_spark.textops.ivf import deterministic_centroids

        e = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        cents = deterministic_centroids(e, 4)
        got = {r.vec_id for r in semantic_dedup(e, cents, 0.42).collect()}

        rows = e.orderBy("vec_id").collect()
        v = np.asarray([r.embedding for r in rows], dtype=np.float64)
        ids = [r.vec_id for r in rows]
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        cl = (vn @ cents.T).argmax(axis=1)
        want = set(ids)
        for i in range(len(ids)):
            for j in range(i):
                if cl[i] == cl[j] and round(
                    float(np.dot(v[i], v[j])
                          / (np.linalg.norm(v[i]) * np.linalg.norm(v[j]))), 6
                ) >= 0.42:
                    want.discard(ids[i])
                    break
        assert got == want and len(want) < len(ids)

    def test_on_prebuilt_index_matches(self, spark, workdir):
        """The scale path (index written once, dedup over the read-back)
        produces the same survivors as the inline form."""
        from otel_arrow_spark.textops.dedup import (
            semantic_dedup, semantic_dedup_on_index,
        )
        from otel_arrow_spark.textops.ivf import (
            deterministic_centroids, write_ivf_index,
        )

        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = deterministic_centroids(e, 4)
        idx = write_ivf_index(e, f"{workdir}/semdedup_idx", cents)
        via_index = semantic_dedup_on_index(spark.read.parquet(idx), 0.42)
        inline = semantic_dedup(e, cents, 0.42)
        assert {r.vec_id for r in via_index.collect()} == {
            r.vec_id for r in inline.collect()
        }


class TestTemperatureMixing:
    def test_quota_math_and_determinism(self, spark):
        import math

        from otel_arrow_spark.textops.analysis import temperature_mixing_sample

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = temperature_mixing_sample(d, alpha=0.5, total_docs=100)
        counts = {r["source"]: r["n"]
                  for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        denom = sum(sorted(n ** 0.5 for n in counts.values()))
        want = {s: min(int(round(100 * (n ** 0.5) / denom, 6)), n)
                for s, n in counts.items()}
        got = {r["source"]: r["n"]
               for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == {s: q for s, q in want.items() if q > 0}
        # deterministic
        again = temperature_mixing_sample(d, alpha=0.5, total_docs=100)
        assert out.exceptAll(again).count() == 0

    def test_flattens_skewed_sources(self, spark):
        """On a skewed corpus the small source's mix share beats its
        natural share (the whole point of temperature mixing)."""
        from otel_arrow_spark.textops.analysis import temperature_mixing_sample

        rows = [(i, "big") for i in range(900)] +                [(1000 + i, "small") for i in range(100)]
        d = spark.createDataFrame(rows, "doc_id long, source string")
        out = temperature_mixing_sample(d, alpha=0.5, total_docs=200)
        got = {r["source"]: r["n"]
               for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        # natural share 10% → 20 docs; sqrt share 10/40 = 25% → 50 docs
        assert got["small"] == 50 and got["big"] == 150

    def test_null_source_is_a_stratum(self, spark):
        """A corpus with missing source values must not crash the quota
        map (NULL is an illegal map key): NULLs form their own stratum
        and receive a quota like any other source."""
        from otel_arrow_spark.textops.analysis import temperature_mixing_sample

        rows = [(i, "web") for i in range(400)] +                [(1000 + i, None) for i in range(100)]
        d = spark.createDataFrame(rows, "doc_id long, source string")
        out = temperature_mixing_sample(d, alpha=0.5, total_docs=100)
        got = {r["source"]: r["n"]
               for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        # sqrt quotas: 20/30 vs 10/30 of 100 → 66 web, 33 null
        assert got == {"web": 66, None: 33}
        # deterministic under re-run
        assert out.exceptAll(
            temperature_mixing_sample(d, alpha=0.5, total_docs=100)
        ).count() == 0

    def test_alpha_extremes(self, spark):
        from otel_arrow_spark.textops.analysis import temperature_mixing_sample

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        n_sources = d.select("source").distinct().count()
        # alpha=0: equal parts (floor(total/n_sources) each, caps allowing)
        eq = temperature_mixing_sample(d, alpha=0.0, total_docs=90)
        per = [r["n"] for r in
               eq.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()]
        assert len(set(per)) <= 2 and max(per) <= 90 // n_sources
        import pytest as _pytest

        with _pytest.raises(ValueError):
            temperature_mixing_sample(d, alpha=1.5)


class TestVocabularyStats:
    def test_topk_matches_python(self, spark):
        from collections import Counter

        from otel_arrow_spark.textops.analysis import vocabulary_stats

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = [(r.token, r.n, r.rank)
               for r in vocabulary_stats(d, top_k=20).collect()]
        c = Counter()
        for r in d.select("text").collect():
            c.update(t for t in r.text.strip().lower().split() if t)
        want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        assert [(t, n) for t, n, _ in got] == want
        assert [r for _, _, r in got] == list(range(1, 21))

    def test_plans_as_take_ordered(self, spark):
        from otel_arrow_spark.textops.analysis import vocabulary_stats

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = vocabulary_stats(d, top_k=10)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "TakeOrderedAndProject" in plan  # never a full global sort


class TestHashSplit:
    def test_weights_and_stability(self, spark):
        from otel_arrow_spark.textops.analysis import hash_split

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = hash_split(d, {"train": 0.8, "val": 0.1, "test": 0.1})
        n = d.count()
        got = {r.split: r.cnt for r in
               out.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()}
        assert set(got) <= {"train", "val", "test"}
        assert abs(got["train"] / n - 0.8) < 0.05
        # growth stability: a document's split never changes when the
        # corpus shrinks/grows (hash of the id alone)
        sub = hash_split(d.limit(50), {"train": 0.8, "val": 0.1, "test": 0.1})
        full = {r.doc_id: r.split for r in out.collect()}
        for r in sub.collect():
            assert full[r.doc_id] == r.split
        # partition invariance
        rep = hash_split(d.repartition(13), {"train": 0.8, "val": 0.1, "test": 0.1})
        assert out.exceptAll(rep).count() == 0

    def test_bad_weights_rejected(self, spark):
        import pytest as _pytest

        from otel_arrow_spark.textops.analysis import hash_split

        d = spark.createDataFrame([(1,)], "doc_id long")
        with _pytest.raises(ValueError, match="sum to 1"):
            hash_split(d, {"train": 0.5, "val": 0.1})


class TestUnigramLmScore:
    def test_matches_hand_computation(self, spark):
        import math

        from otel_arrow_spark.textops.analysis import unigram_lm_score

        # corpus: counts a=3, b=2, z=1 → N=6, V=3
        df = spark.createDataFrame(
            [(1, "a a b"), (2, "a b z"), (3, "")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in unigram_lm_score(df).collect()}
        N, V, a = 6.0, 3.0, 0.5
        denom = math.log(N + a * V)
        exp1 = (2 * math.log(3.5) + math.log(2.5)) / 3 - denom
        exp2 = (math.log(3.5) + math.log(2.5) + math.log(1.5)) / 3 - denom
        assert abs(out[1].avg_logprob_r - round(exp1, 6)) < 1e-9
        assert abs(out[2].avg_logprob_r - round(exp2, 6)) < 1e-9
        assert out[1].n_tokens == 3 and out[1].sum_cnt == 8 and out[1].min_cnt == 2
        assert out[2].min_cnt == 1
        # empty docs have no tokens → absent, same as the SQL inner join
        assert 3 not in out
        # gibberish (rare tokens) scores strictly below common text
        assert out[2].avg_logprob_r < out[1].avg_logprob_r

    def test_totals_join_is_broadcast(self, spark):
        from otel_arrow_spark.textops.analysis import unigram_lm_score

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        plan = (
            unigram_lm_score(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan


class TestWeightedSample:
    """A-ES weighted sampling without replacement (textops/analysis.py
    weighted_sample): determinism, DuckDB replay parity, weight bias,
    and the exclusion rules."""

    def test_matches_duckdb_replay(self, spark):
        import duckdb

        from otel_arrow_spark.textops.analysis import weighted_sample

        p = "/root/testdata/sf0.001/documents.parquet"
        d = spark.read.parquet(p)
        got = sorted(
            (r["doc_id"], r["source"])
            for r in weighted_sample(d, 3, "n_chars", ("source",)).collect()
        )
        exp = sorted(duckdb.connect().execute(f"""
            WITH x AS (
                SELECT doc_id, source,
                       ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                               1, 15) AS BIGINT) + 1)
                          / 1152921504606846976.0)
                         / CAST(n_chars AS DOUBLE) AS key
                FROM read_parquet('{p}')
                WHERE n_chars IS NOT NULL AND n_chars > 0)
            SELECT doc_id, source FROM (
                SELECT doc_id, source, row_number() OVER (
                    PARTITION BY source ORDER BY key DESC, doc_id) AS rn
                FROM x) WHERE rn <= 3
        """).fetchall())
        assert len(got) > 0
        assert got == exp

    def test_heavy_weight_always_selected(self, spark):
        from otel_arrow_spark.textops.analysis import weighted_sample

        # one row carries 10^9 times the weight of the other 99: its
        # A-ES key ln(u)/w is ~0 while the rest are far more negative,
        # so it must appear in any k>=1 sample
        rows = [(i, 1.0 if i else 1e9) for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {r["doc_id"] for r in weighted_sample(df, 5, "w").collect()}
        assert 0 in got
        assert len(got) == 5

    def test_weight_bias_shifts_mean(self, spark):
        from pyspark.sql import functions as F

        from otel_arrow_spark.textops.analysis import weighted_sample

        # weight = n_chars^4: the long tail should dominate a small sample
        d = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).withColumn("w", F.pow(F.col("n_chars").cast("double"), 4))
        samp = weighted_sample(d, 10, "w")
        full_mean = d.agg(F.avg("n_chars")).collect()[0][0]
        samp_mean = samp.agg(F.avg("n_chars")).collect()[0][0]
        assert samp_mean > full_mean

    def test_excludes_nonpositive_and_null_weights(self, spark):
        from otel_arrow_spark.textops.analysis import weighted_sample

        df = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
            "doc_id long, w double",
        )
        got = {r["doc_id"] for r in weighted_sample(df, 10, "w").collect()}
        assert got == {1, 5}

    def test_sample_without_replacement_size(self, spark):
        from otel_arrow_spark.textops.analysis import weighted_sample

        df = spark.createDataFrame(
            [(i, float(i + 1)) for i in range(20)], "doc_id long, w double"
        )
        out = weighted_sample(df, 7, "w").collect()
        ids = [r["doc_id"] for r in out]
        assert len(ids) == 7 == len(set(ids))


class TestCodegenFastPath:
    """Regression pin for the 64 KB janino blowout: the unrolled
    per-element hyperplane dot chains used to exceed the JVM method-size
    limit at dim=64 and silently fall back to interpreted evaluation
    (ERROR CodeGenerator in the logs, correct-but-slow plans). With
    codegen fallback disabled the blowout becomes a hard error, so this
    test fails loudly if the O(planes·dim) expression shape ever returns."""

    def test_hyperplane_ops_stay_compilable(self, spark):
        dim = 64
        rs = np.random.RandomState(11)
        rows = [(i, [float(x) for x in rs.standard_normal(dim)]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        old_fb = spark.conf.get("spark.sql.codegen.fallback", "true")
        old_fm = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
        try:
            # the exact configs that blew the limit before the fix
            embedding_near_dup_pairs(df, threshold=0.9, n_planes=16).collect()
            q = df.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
            got = lsh_bucketed_topk(df, q, k=3, n_planes=8, n_tables=4).collect()
        finally:
            spark.conf.set("spark.sql.codegen.fallback", old_fb)
            spark.conf.set("spark.sql.codegen.factoryMode", old_fm)
        # every query bucket-collides with itself (cosine 1), so it must rank
        assert {(r.query_id, r.vec_id) for r in got} >= {(0, 0), (1, 1)}
