"""Generic fixpoint runner — the driver-side loop Catalyst does not give
us (SURVEY.md §4 "Things Catalyst does NOT give us", item 1).

The reference's iterative jobs either grow one giant lineage/plan per
iteration (PageRankDataSet/src/main/scala/wc/FollowerCount.scala:63-73 —
10 iterations compose one unbounded plan) or pass state between
iterations through the file system
(K-means/src/main/java/wc/CountFollowers.java:177-200). This runner
replaces both with persist + periodic ``localCheckpoint`` discipline:

- every iteration's state is persisted and materialized, so the next
  iteration reads cached partitions instead of recomputing the chain;
- every ``checkpoint_every`` iterations the lineage is truncated, so the
  logical plan stays O(checkpoint_every) deep no matter how many
  iterations run — at 100 TB an unbounded plan is a driver OOM and an
  optimizer blow-up, not a style issue.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    max_iter: int = 10,
    checkpoint_every: int = 4,
    check_every: int = 1,
) -> DataFrame:
    """Run ``step`` until ``converged`` or ``max_iter``.

    ``step(state, i)`` returns the next state; ``converged(old, new)``
    (optional) is evaluated after each step except the final one — the
    loop ends there regardless, so iteration ``max_iter - 1`` is never
    checked and a loop that stops at ``max_iter`` does not report
    whether it converged. ``converged`` may run Spark actions (e.g. a
    diff-count join, SingleSourceShortestPathRDD/.../
    FollowerCount.scala:42-44).

    ``check_every`` (r14, guide §1.2 "per-task work" → fewer control
    jobs): evaluate ``converged`` only every N-th iteration. Correct
    for MONOTONE fixpoint loops (min-relax SSSP, label propagation):
    once converged the state is stable, so extra steps are no-ops and
    the fixpoint returned is identical — the loop just trades ≤ N−1
    wasted (cheap) steps against halving the convergence-check jobs,
    which on small-state graphs are pure job-scheduling overhead.
    Callers whose ``converged`` has side effects or whose step is not
    idempotent at the fixpoint must keep the default 1.
    """
    state = state.persist(StorageLevel.MEMORY_AND_DISK)
    for i in range(max_iter):
        new = step(state, i)
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            new = new.localCheckpoint(eager=True)  # truncate lineage (one job)
        else:
            # lazy persist: materialized by the convergence action below,
            # or — in fixed-iteration loops — by the checkpoint/final
            # action, which caches every intermediate marker in ONE job
            # instead of one job per iteration.
            new = new.persist(StorageLevel.MEMORY_AND_DISK)
        # no check on the final iteration (r15, ADVICE r14): the loop
        # ends regardless, so a diff-count job there is pure waste —
        # exactly the control job check_every exists to save.
        check_now = (
            converged is not None
            and i != max_iter - 1
            and (i + 1) % max(1, check_every) == 0
        )
        done = bool(check_now and converged(state, new))
        state.unpersist()
        state = new
        if done:
            break
    return state


from contextlib import contextmanager  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402


def loop_width(state_rows: int) -> int:
    """Scale-adaptive shuffle width for an iterative loop over
    ``state_rows`` of NARROW state (graph ranks/distances: ~16 B/row).
    Guide §2.1 sizes partitions to data (≈1 per 250k narrow rows here,
    far below the 100 MB guideline because loop stages also carry fixed
    per-stage cost that small widths amortize); floored at 4 — r15
    measured width 2 regressing the path-unroll loop (sssp_paths
    1.11×) while 4 won 0.84–0.90× over the old constant 8 on every
    graph-loop bench entry — and capped so a huge-|V| caller that
    forgot to pass an explicit width still gets a sane plan."""
    return max(4, min(1024, state_rows // 250_000))


@contextmanager
def loop_conf(spark: SparkSession, partitions: int | None = 8):
    """Scoped tuning for iterative loops over SMALL state (graph ranks,
    centroid tables): shrink shuffle partitions to the state size (the
    reference's HashPartitioner(3) analogue, PageRankRDD/.../FollowerCount
    .scala:53) and disable AQE — adaptive execution materializes every
    exchange as a separate query stage, a per-job overhead that buys
    nothing on kilobyte shuffles (measured 9.3 s → 4.5 s on the k=100
    PageRank bench). Both confs are restored on exit; AQE remains the
    default everywhere else.
    """
    if partitions is None:
        yield
        return
    keys = {
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
