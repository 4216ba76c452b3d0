"""IVF (inverted-file) approximate nearest neighbor index.

The second scale path for embedding search next to random-hyperplane LSH
(textops/similarity.py): k-means coarse quantization → per-cluster posting
lists → queries probe only the ``nprobe`` nearest clusters.

Distributed design:
* centroids are trained on a driver-side SAMPLE (seeded, a few thousand
  vectors suffice for coarse quantization) with numpy Lloyd iterations —
  no MLlib dependency, fully deterministic;
* cluster assignment is one ``mapInPandas`` pass (BLAS matmul per Arrow
  batch) producing (cluster_id, vec); at 100 TB this is the same single
  scan that would build any index, and the output is written partitioned
  by cluster_id so probes prune partitions;
* query-time: each query computes its nprobe nearest centroids driver-side
  (tiny), then scores only rows whose cluster_id is in that set — an
  equi-join on cluster_id against the partition-pruned index.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from otel_arrow_spark.session import local_frame
from otel_arrow_spark.textops.dedup import cosine_expr, ensure_parallelism


def train_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Seeded Lloyd k-means on a driver-side sample; returns (k, dim)
    L2-normalized centroids (cosine ≡ dot product on normalized vectors).

    Sampling is one bounded job: a per-partition interleaved take via
    ``limit`` over a hash-shuffled-free projection — no full-corpus
    ``count()`` pass just to size a sample fraction (at 100 TB that count
    is an entire extra scan before training starts). ``limit`` on a
    multi-partition scan pulls from the first partitions only; to avoid
    sampling bias from data laid out in ingestion order, rows are
    pre-filtered by a cheap deterministic hash-mod condition that thins
    the stream before the limit."""
    # xxhash64(id-ish ordering-free content) % 64 == 0 keeps ~1/64 of rows
    # spread uniformly across partitions; limit() then stops scans early.
    thinned = corpus.select(vec_col).filter(
        F.pmod(F.xxhash64(F.col(vec_col).cast("array<double>")), F.lit(64)) == 0
    )
    sample = thinned.limit(sample_size).collect()
    if len(sample) < min(sample_size, 256):
        # tiny corpus (< ~16k rows): the thinning filter starves the
        # sample — fall back to taking rows directly, still one bounded job
        sample = corpus.select(vec_col).limit(sample_size).collect()
    x = np.asarray([r[0] for r in sample], dtype=np.float64)
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)  # cosine on normalized vecs
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
                cents[c] /= np.linalg.norm(cents[c])
    return cents


def deterministic_centroids(
    corpus: DataFrame,
    n_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """The first ``n_clusters`` vectors by id, L2-normalized — a fully
    deterministic coarse quantizer (no sampling, no Lloyd iterations) for
    when an independent oracle engine must reproduce the index exactly.
    Quantization quality is below k-means; recall behavior is still probe-
    bounded, which is what the oracle checks."""
    rows = corpus.orderBy(id_col).limit(n_clusters).select(vec_col).collect()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def assign_clusters(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One mapInPandas scan: (id, vec, cluster_id) — the IVF posting lists."""
    import pandas as pd

    cents = centroids  # closure-captured, broadcast with the task binary

    def run(batches):
        for pdf in batches:
            m = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            cluster = (m @ cents.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], "cluster_id": cluster}
            )

    return ensure_parallelism(corpus.select(id_col, vec_col)).mapInPandas(
        run, schema=f"{id_col} long, {vec_col} array<float>, cluster_id int"
    )


def write_ivf_index(
    corpus: DataFrame, path: str, centroids: np.ndarray, vec_col="embedding", id_col="vec_id"
) -> str:
    """Materialize the index partitioned by cluster_id: a probe of c
    clusters reads exactly c partitions (partition pruning does the rest)."""
    assign_clusters(corpus, centroids, vec_col, id_col).write.mode(
        "overwrite"
    ).partitionBy("cluster_id").parquet(path)
    return path


def ivf_topk(
    corpus_or_index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    pre_assigned: bool = False,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: score each query only against its ``nprobe``
    nearest clusters. queries must be small (collected driver-side to pick
    probe sets — the same assumption the broadcast in brute_force_topk
    makes)."""
    index = (
        corpus_or_index
        if pre_assigned
        else assign_clusters(corpus_or_index, centroids, vec_col, id_col)
    )
    qrows = queries.select(query_id_col, vec_col).collect()
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    probes = np.argsort(-(qn @ centroids.T), axis=1)[:, :nprobe]
    # (query_id, cluster_id) probe pairs — tiny, broadcast
    spark = index.sparkSession
    probe_df = local_frame(
        spark,
        [
            (int(r[0]), [float(x) for x in r[1]], int(c))
            for r, pr in zip(qrows, probes)
            for c in pr
        ],
        T.StructType(
            [
                T.StructField(query_id_col, T.LongType()),
                T.StructField("_qvec", T.ArrayType(T.FloatType())),
                T.StructField("cluster_id", T.IntegerType()),
            ]
        ),
    )
    cand = index.join(F.broadcast(probe_df), on="cluster_id")
    scored = cand.withColumn(
        "cosine",
        cosine_expr(
            F.col(vec_col).cast("array<double>"), F.col("_qvec").cast("array<double>")
        ),
    )
    sort_key = F.round("cosine", rank_round) if rank_round is not None else F.col("cosine")
    w = Window.partitionBy(query_id_col).orderBy(F.desc(sort_key), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
