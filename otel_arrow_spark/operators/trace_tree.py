"""Trace-tree assembly: span depths and per-trace rollups from the
parent_span_id pointers — the trace-structure analytics (service maps,
depth distributions, root-latency attribution) a tracing backend runs
over assembled traces.

Reference analog: SPANS.parent_span_id (docs/data_model.md:338) carries
the tree; the reference transports it but has no tree-walk operator —
this is the downstream-analytics surface over that column.

Scale shape (``span_depths``, ``critical_paths``): pointer doubling —
each round is one self-join of the (trace_id, span hex) pointer table
that doubles every unfinished pointer's reach, so a trace of depth D
finishes in O(log D) rounds (depth ~10: 4 rounds; depth 1000: ~10).
Each round's output is localCheckpoint-ed so the plan never grows. The
joins stay within a trace, so a hot trace bounds skew by its own span
count. Like connected_components, the walk HARD-FAILS rather than
returning partial depths when max_iter rounds do not converge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otel_arrow_spark.session import small_state_conf


def _doubling_ptrs(spans: DataFrame, max_iter: int, with_sum: bool
                   ) -> tuple[DataFrame, DataFrame]:
    """Pointer-doubling ancestor walk shared by span_depths and
    critical_paths: round k's self-join doubles every unfinished
    pointer's reach, so the walk takes O(log depth) rounds where a
    level-by-level walk takes O(depth) — depth-1000 chains finish in
    ~10 rounds.

    Each non-root span carries a pointer row (node, anc, d[, s]): ``anc``
    is an ancestor at distance ``d`` (``s`` = duration sum over
    [node, anc), exclusive of anc), ``fin`` marks pointers that reached a
    root. A round inner-joins unfinished pointers onto the pointer table
    at their anc: the jump composes distances (and sums); landing on a
    finished pointer finishes the row. Rows whose anc is neither a root
    nor a present node are orphan chains — the inner join drops them,
    cascading over rounds, so orphans are absent from the output.
    Unfinished rows after ``max_iter`` doubling rounds (reach 2^max_iter)
    can only be cycle members — hard-fail.

    Returns (roots, finished_pointers)."""
    root_cols = ["trace_id", F.col("span_id_hex").alias("node")]
    if with_sum:
        root_cols.append(F.col("duration_ms").cast("long").alias("root_ms"))
    # roots and ptr ARE eagerly checkpointed: ptr is re-read inside
    # EVERY round's union target, so one materialization beats per-round
    # re-derivation (measured: the lazy variant is ~10% slower even on
    # the tiny fixture, and at scale re-scanning per round is strictly
    # worse than one write)
    roots = spans.where(F.col("parent_span_id").isNull()).select(
        *root_cols
    ).localCheckpoint()
    cols = [
        "trace_id",
        F.col("span_id_hex").alias("node"),
        F.col("parent_span_id").alias("anc"),
        F.lit(1).cast("int").alias("d"),
    ]
    if with_sum:
        cols.append(F.col("duration_ms").cast("long").alias("s"))
    ptr = (
        spans.where(F.col("parent_span_id").isNotNull())
        .select(*cols)
        .join(
            roots.select(
                "trace_id", F.col("node").alias("anc"),
                F.lit(True).alias("_r"),
            ),
            ["trace_id", "anc"], "left",
        )
        .withColumn("fin", F.coalesce(F.col("_r"), F.lit(False)))
        .drop("_r")
        .localCheckpoint()
    )
    carry = ["d", "s"] if with_sum else ["d"]
    # Every node's CURRENT pointer lives in exactly one place: a
    # finished generation (pointers stop once they reach a root — each
    # node lands in at most one fin piece) or the current active set.
    # Only the shrinking jumped set materializes per round — finished
    # pointers are never re-copied, so per-round I/O decays instead of
    # re-materializing the full table every round.
    from functools import reduce

    _union = lambda frames: reduce(  # noqa: E731
        lambda a, b: a.unionByName(b), frames
    )
    fin_pieces = [ptr.where(F.col("fin"))]
    active = ptr.where(~F.col("fin"))
    # The per-round cost on a warm cluster is FIXED (an isEmpty probe job
    # + an eager checkpoint job), not data-sized — at realistic depths it
    # IS the runtime. The first `fast_rounds` rounds (reach 2^fast_rounds
    # = 16, covering effectively all real traces) skip the convergence
    # probe: a doubling round over an already-converged (empty) active
    # set is a near-free job on checkpointed blocks, so probing before
    # reach-16 only adds driver round-trips. (Composing the early rounds
    # lazily instead was measured SLOWER here: every un-checkpointed
    # fin piece re-derives its whole prefix inside the final union.)
    fast_rounds = min(4, max_iter)
    for r in range(max_iter):
        if r >= fast_rounds and active.isEmpty():
            return roots, _union(fin_pieces)
        target = _union([*fin_pieces, active]).select(
            "trace_id",
            F.col("node").alias("anc"),
            F.col("anc").alias("_anc2"),
            *[F.col(c).alias(f"_{c}2") for c in carry],
            F.col("fin").alias("_fin2"),
        )
        jumped = active.join(target, ["trace_id", "anc"]).select(
            "trace_id",
            "node",
            F.col("_anc2").alias("anc"),
            *[(F.col(c) + F.col(f"_{c}2")).alias(c) for c in carry],
            F.col("_fin2").alias("fin"),
        )
        jumped = jumped.localCheckpoint()
        fin_pieces.append(jumped.where(F.col("fin")))
        active = jumped.where(~F.col("fin"))
    raise RuntimeError(
        f"pointer doubling did not converge within {max_iter} rounds "
        f"(reach 2^{max_iter}): the parent pointers cycle"
    )


def span_depths(spans: DataFrame, max_iter: int = 32) -> DataFrame:
    """(trace_id, span_id_hex, depth): 0 for roots (null parent), else
    1 + parent's depth. Orphans (parent pointer to a missing span) are
    absent from the output — callers decide their policy. Cyclic parent
    pointers raise after ``max_iter`` doubling rounds."""
    roots, ptr = _doubling_ptrs(spans, max_iter, with_sum=False)
    return roots.select(
        "trace_id", F.col("node").alias("span_id_hex"),
        F.lit(0).cast("int").alias("depth"),
    ).unionByName(
        ptr.select(
            "trace_id", F.col("node").alias("span_id_hex"),
            F.col("d").alias("depth"),
        )
    )


def trace_rollup(spans: DataFrame, depths: DataFrame | None = None) -> DataFrame:
    """Per-trace summary: span count, root name, trace wall duration
    (first start → last start+duration), error span count, max depth.
    One shuffle on trace_id; the root pick is an algebraic min_by."""
    d = depths if depths is not None else span_depths(spans)
    enriched = spans.join(d, ["trace_id", "span_id_hex"], "left")
    end_ts = F.unix_micros(F.col("start_ts").cast("timestamp")) + (
        F.col("duration_ms") * 1000
    )
    return (
        enriched.groupBy("trace_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            # exactly one depth-0 span per trace → min over the single
            # non-null is deterministic (min_by(start_ts) could tie)
            F.min(F.when(F.col("depth") == 0, F.col("name"))).alias("root_name"),
            F.sum((F.col("status_code") == 2).cast("long")).alias("n_errors"),
            F.max("depth").alias("max_depth"),
            (
                (F.max(end_ts) - F.min(F.unix_micros(F.col("start_ts").cast("timestamp"))))
                / F.lit(1000.0)
            ).alias("wall_ms"),
        )
        .withColumn("wall_ms", F.round("wall_ms", 3))
    )


def service_graph(
    spans: DataFrame,
    dim: DataFrame,
    dim_key: str = "resource_id",
    service_col: str = "service",
) -> DataFrame:
    """Service-dependency edges (the service-graph connector pattern):
    each parent→child span pair whose resources map to DIFFERENT services
    is one observation of a client→server call; per edge: call count,
    error count (child side), and total child latency — the numbers a
    service map renders.

    Plan: spans project to (trace_id, hex, service, status, duration)
    ids-only width, the parent-child equi-join is hash-partitioned on
    (trace_id, parent hex) — co-located within a trace, so skew is
    bounded by a single trace's span count — and the service dim
    broadcasts twice (client and server sides).
    """
    svc = F.broadcast(dim.select(dim_key, service_col))
    base = (
        spans.join(svc, dim_key)
        .select(
            "trace_id",
            "span_id_hex",
            "parent_span_id",
            F.col(service_col).alias("_svc"),
            "status_code",
            "duration_ms",
        )
    )
    child = base.where(F.col("parent_span_id").isNotNull()).select(
        "trace_id",
        F.col("parent_span_id").alias("_parent_hex"),
        F.col("_svc").alias("server"),
        "status_code",
        "duration_ms",
    )
    parent = base.select(
        "trace_id",
        F.col("span_id_hex").alias("_parent_hex"),
        F.col("_svc").alias("client"),
    )
    return (
        child.join(parent, ["trace_id", "_parent_hex"])
        .where(F.col("client") != F.col("server"))
        .groupBy("client", "server")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum((F.col("status_code") == 2).cast("long")).alias("n_errors"),
            F.sum("duration_ms").alias("total_ms"),
        )
    )


def span_self_times(spans: DataFrame) -> DataFrame:
    """Per-span SELF time: own duration minus the sum of direct
    children's durations — the flame-graph quantity ("where does the
    latency actually live, net of what was delegated"). Negative values
    are legal and meaningful (children overlapping in parallel exceed
    the parent's wall time).

    Scale shape: one hash aggregate of the child edge list on
    (trace_id, parent pointer) + one equi-join back on the same key pair
    — both stages hash-partition on the identical key, so the join reuses
    the aggregate's partitioning (no extra Exchange on that side), and
    skew is bounded by a single span's fan-out.
    """
    child_sums = (
        spans.where(F.col("parent_span_id").isNotNull())
        .groupBy(
            "trace_id", F.col("parent_span_id").alias("span_id_hex")
        )
        .agg(F.sum("duration_ms").alias("_child_ms"))
    )
    return spans.join(child_sums, ["trace_id", "span_id_hex"], "left").select(
        "trace_id",
        "span_id_hex",
        "name",
        "duration_ms",
        (
            F.col("duration_ms") - F.coalesce(F.col("_child_ms"), F.lit(0))
        ).alias("self_ms"),
    )


def critical_paths(spans: DataFrame, max_iter: int = 32) -> DataFrame:
    """Per-trace critical path (self-time chain): the root-to-leaf chain
    with the largest cumulative span duration — where the trace's latency
    actually lives. The same pointer-doubling walk as ``span_depths``,
    with each pointer also carrying its duration sum; per trace the
    answer is one max.

    Returns (trace_id, critical_ms, critical_depth): the winning chain's
    total duration and its depth.
    """
    roots, ptr = _doubling_ptrs(spans, max_iter, with_sum=True)
    # a finished pointer's s covers [node..root): add the root's own
    # duration to get the full root-inclusive chain sum
    fin = ptr.join(
        roots.select("trace_id", F.col("node").alias("anc"), "root_ms"),
        ["trace_id", "anc"],
    ).select(
        "trace_id",
        (F.col("s") + F.col("root_ms")).alias("cum_ms"),
        F.col("d").alias("depth"),
    )
    best = roots.select(
        "trace_id", F.col("root_ms").alias("cum_ms"),
        F.lit(0).alias("depth"),
    ).unionByName(fin)
    return (
        best.groupBy("trace_id")
        .agg(F.max(F.struct("cum_ms", "depth")).alias("_m"))
        .select(
            "trace_id",
            F.col("_m.cum_ms").alias("critical_ms"),
            F.col("_m.depth").alias("critical_depth"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "client",
    dst: str = "server",
    weight: str = "n_calls",
    iterations: int = 8,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank over an aggregated edge list — service criticality
    ranking over :func:`service_graph` output (which service, if degraded,
    poisons the most call flow), the eigenvector twin of the service map.
    Fixed-iteration power method so the result is a deterministic function
    of the input (no convergence threshold to disagree about); Brin & Page
    1998 with edge weights normalised per source.

    Scale design: the iteration runs on the AGGREGATED edge table (one row
    per service pair), never on raw spans — service_graph already reduced
    those, and the edge table is localCheckpoint-ed ONCE up front so the
    (possibly expensive) edge derivation never re-executes per derived
    frame. Each round is one equi-join (rank → out-edges) plus one hash
    aggregate on the destination; ranks are localCheckpoint-ed per round
    so the plan stays one-round deep (same discipline as the connected-
    components loop in textops/dedup.py). The dangling-mass term (nodes
    with no out-edges) is a 1-row aggregate over the checkpointed ranks,
    broadcast-cross-joined into the rank update — the whole round is ONE
    materialization with zero driver-synchronous actions inside the loop.
    Total rank mass is conserved at 1 by construction.
    """
    edges = edges.select(src, dst, weight).localCheckpoint()
    # The iteration state is |services|-sized (a service graph has at most
    # thousands of nodes at any scale), so the 8 rounds of tiny joins/
    # aggregates are pure scheduling overhead under the session's
    # data-scale shuffle config. Run the loop single-partition with AQE's
    # per-stage re-planning off (measured 1.7x on the loop, bit-identical
    # ranks), restoring the session conf afterwards. The EDGE DERIVATION
    # (raw-span joins) above ran under the full session config — only the
    # node-sized state is affected.
    with small_state_conf(edges.sparkSession):
        return _pagerank_loop(edges, src, dst, weight, iterations, damping)


def _pagerank_loop(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str,
    iterations: int,
    damping: float,
) -> DataFrame:
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    outw = edges.groupBy(src).agg(F.sum(weight).alias("_outw"))
    ep = (
        edges.join(outw, src)
        .select(
            F.col(src).alias("_src"),
            F.col(dst).alias("_dst"),
            (F.col(weight).cast("double") / F.col("_outw")).alias("_p"),
        )
        .localCheckpoint()
    )
    has_out = outw.select(F.col(src).alias("node")).localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        ranks = ranks.localCheckpoint()
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
        )
        contrib = (
            ep.join(ranks.withColumnRenamed("node", "_src"), "_src")
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_p")).alias("_in"))
        )
        ranks = (
            nodes.join(
                contrib.withColumnRenamed("_dst", "node"), "node", "left"
            )
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce("_in", F.lit(0.0))
                        + F.col("_dangling") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
    # materialize the last round UNDER the loop's single-partition conf:
    # a lazy return would execute it later under the restored session
    # config, changing per-group accumulation order run-to-run
    return ranks.localCheckpoint()
