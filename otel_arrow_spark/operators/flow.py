"""Flow control: conditional branch pipelines, fork, batch size shaping.

Reference analogs:

* OPL ``if / else if / else`` — rows partitioned by first-match predicate,
  each branch runs its own pipeline, outputs unioned with unspecified
  order (flow_control.md:6-114; query-engine/src/pipeline/conditional.rs:39)
* fork (``forked``) — duplicate batch into N nested pipelines
  (pipeline/fork.rs:31)
* batch split/concatenate — size-bounded batch shaping
  (pdata/src/otap/transform/{split.rs:57, concatenate.rs:78})
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BranchFn = Callable[[DataFrame], DataFrame]


def conditional_branches(
    df: DataFrame,
    branches: list[tuple[Column, BranchFn]],
    otherwise: BranchFn | None = None,
) -> DataFrame:
    """First-match branch pipelines, results unioned (conditional.rs:39).

    Exclusive semantics: a row enters the first branch whose predicate
    matches (later branches are guarded with the negation of all earlier
    predicates), mirroring flow_control.md's if/else-if chain. Branch
    outputs must be union-compatible; unionByName tolerates column order
    differences the way the reference tolerates unspecified output order.
    """
    outputs: list[DataFrame] = []
    guard = F.lit(True)
    for predicate, fn in branches:
        outputs.append(fn(df.filter(guard & predicate)))
        guard = guard & ~F.coalesce(predicate, F.lit(False))
    if otherwise is not None:
        outputs.append(otherwise(df.filter(guard)))
    out = outputs[0]
    for o in outputs[1:]:
        out = out.unionByName(o, allowMissingColumns=True)
    return out


@contextmanager
def forked(df: DataFrame, fns: list[BranchFn]) -> Iterator[list[DataFrame]]:
    """Duplicate one input into N nested pipelines (fork.rs:31; the
    fanout processor's clone-to-N, fanout_processor/mod.rs:1). The shared
    input is persisted on entry, so its plan executes once, and
    unpersisted on exit, so consume (or wire up) every branch inside the
    ``with`` block::

        with forked(base, [a_fn, b_fn]) as (a, b):
            a.write...; b.write...
    """
    df.persist()
    try:
        yield [fn(df) for fn in fns]
    finally:
        df.unpersist()


def rebatch(df: DataFrame, n_partitions: int) -> DataFrame:
    """Batch split/concatenate analog: reshape partition sizing. With AQE
    on, prefer letting advisoryPartitionSizeInBytes do this; explicit
    repartition is for writers that need a specific file count."""
    return df.repartition(n_partitions)
