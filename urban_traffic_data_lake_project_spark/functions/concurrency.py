"""Driver-side job overlap (guide §2.6).

Spark's scheduler happily runs several jobs at once inside one application;
actions are only sequential because driver code calls them sequentially.
``overlap_jobs`` runs independent bounded actions (fit collects, seed
TakeOrdereds, scale aggregates) from a small thread pool so the later
jobs' tasks back-fill executors freed by the earlier jobs' stragglers —
and, at the bench's tiny scale factors, so k independent ~0.3 s driver
round-trips cost one latency instead of k.

Spark local properties (job group, description, scheduler pool) are per
driver thread, so each thunk runs through ``inheritable_thread_target``:
its jobs carry the caller's labels and stay cancellable by job group.

Lives in ``functions`` (imported by both queries and operators) so the
operator layer can overlap its own fit passes without a circular import
through the query registry.
"""

from __future__ import annotations

from collections.abc import Callable


def overlap_jobs(*thunks: Callable[[], object]) -> list:
    """Run independent Spark actions concurrently from a small driver
    thread pool. Results come back in argument order; any exception
    propagates. Callers must only pass actions with NO data dependency on
    each other — per-job results are unchanged, only the wall-clock
    overlap changes."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    if len(thunks) == 1:
        return [thunks[0]()]
    # passing the session also carries its tags and avoids PySpark's
    # per-call "Tags will not be inherited" warning
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=min(4, len(thunks))) as pool:
        futs = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futs]
