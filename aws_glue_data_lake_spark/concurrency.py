"""Concurrent submission of independent Spark actions (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. The lake/Delta/Iceberg commit paths contain pairs of
provably independent staging writes (the CDC change file and the main
data rewrite; the equality-delete file and the inserted data files) that
each target their own unique ``_stage_*`` directory and only feed the
single-threaded commit step AFTER both complete — so overlapping them
changes wall-clock, not commit-log contents or ordering.

``run_jobs`` keeps FIFO scheduling (the first job's tasks get resources
first, later jobs back-fill the tail) and propagates the caller thread's
job group / description into the pool threads via
``inheritable_thread_target`` so concurrent jobs stay correctly labelled.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence


def run_jobs(*thunks: Callable, max_workers: int | None = None) -> list:
    """Run independent Spark-action thunks concurrently; results in order.

    Returns ``[]`` for no thunks and falls through to a plain call for a
    single thunk (no pool, no extra threads). Exceptions propagate: the
    first failing thunk's exception is raised after all submitted thunks
    finish (staging side effects land in per-thunk unique dirs, so a
    failed sibling leaves no shared debris — the caller's commit never
    runs).
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from pyspark import SparkContext, inheritable_thread_target
    from pyspark.sql import SparkSession

    wrapped: Sequence[Callable] = thunks
    if SparkContext._active_spark_context is not None:
        # without a context there are no job properties to inherit
        session = SparkSession.getActiveSession()
        wrap = (
            inheritable_thread_target(session)
            if session is not None  # Spark 4 form: also inherits tags
            else inheritable_thread_target
        )
        wrapped = [wrap(t) for t in thunks]
    with ThreadPoolExecutor(
        max_workers=max_workers or min(len(thunks), 4)
    ) as pool:
        futures = [pool.submit(t) for t in wrapped]
        return [f.result() for f in futures]
