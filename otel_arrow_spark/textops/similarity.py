"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k (broadcast the queries, scan the corpus
once, rank per query). Scale path: random-hyperplane LSH buckets so each
query probes only its bucket — the corpus-side signature is computed once
and reused across queries.

The dot products are pure JVM expressions (zip_with / aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from otel_arrow_spark.textops.dedup import cosine_expr, ensure_parallelism

cosine_similarity_col = cosine_expr  # public alias


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    queries (small) is broadcast → the join is a broadcast nested loop, the
    corpus scans once; ranking shuffles (query_id, cosine, id) tuples only.
    Returns (query_id, vec_id, cosine, rank). Ties broken by id for
    determinism.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = (
        ensure_parallelism(corpus.select(F.col(id_col), F.col(vec_col)))
        .crossJoin(F.broadcast(q))
    )
    scored = scored.withColumn("cosine", cosine_expr(F.col(vec_col), F.col("_qvec")))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def _hyperplane_signature(vec: Column, planes) -> Column:
    """Sign signature of ``vec`` against literal hyperplanes → string key.

    One aggregate() fold per plane, NOT an unrolled vec[0]*p0 + … chain:
    the unrolled form generated O(n_tables · n_planes · dim) expression
    nodes inside the banding Generate and blew janino's 64 KB method
    limit (ERROR CodeGenerator → silent interpreted fallback). The fold
    is left-associated exactly like the chain it replaces and the leading
    0.0 + t0 is exact in IEEE doubles, so every sign bit — and therefore
    the bucket assignment an oracle replays — is bit-identical.
    """
    bits = []
    for p in planes:
        p_lit = F.array(*[F.lit(float(x)) for x in p])
        s = F.aggregate(
            F.zip_with(vec, p_lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    rank_round: int | None = None,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent random-hyperplane tables;
    a query only scores corpus vectors sharing a bucket in ≥1 table.

    Recall/probe-cost trade-off is (n_planes, n_tables) — more planes →
    smaller buckets, more tables → higher recall. The corpus-side
    signatures are computed in the same scan that would read the vectors
    anyway; the bucket join is an equi-join on (table, signature), which
    Spark hash-partitions — no crossJoin anywhere.
    """
    import numpy as np

    dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
    rng = np.random.RandomState(seed)
    tables = [rng.standard_normal((n_planes, dim)) for _ in range(n_tables)]

    def banded(df: DataFrame, idc: str, vec: str, out_id: str, out_vec: str) -> DataFrame:
        return df.select(
            F.col(idc).alias(out_id),
            F.col(vec).alias(out_vec),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"),
                            _hyperplane_signature(F.col(vec), tables[t]).alias("sig"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("_b"),
        ).select(out_id, out_vec, F.col("_b.tbl").alias("tbl"), F.col("_b.sig").alias("sig"))

    c = banded(corpus, id_col, vec_col, "_cid", "_cvec")
    q = banded(queries, query_id_col, vec_col, "_qid", "_qvec")
    cand = (
        c.join(F.broadcast(q), on=["tbl", "sig"])
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_cid").alias(id_col),
            "_cvec",
            "_qvec",
        )
        .dropDuplicates([query_id_col, id_col])
    )
    scored = cand.withColumn("cosine", cosine_expr(F.col("_cvec"), F.col("_qvec")))
    # rank_round: rank on a rounded cosine so an independent oracle engine
    # (different summation order → last-ulp differences) ranks identically
    sort_key = F.round("cosine", rank_round) if rank_round is not None else F.col("cosine")
    w = Window.partitionBy(query_id_col).orderBy(F.desc(sort_key), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )
