"""The engine's one materialization barrier.

Operators cut their plans in two places: a shared subplan that several
branches read (the banding kernel's salted rows, verify's gate and base
tables, an operator's cached input), and an operator's output, after
which it frees everything it cached to build it.  Both cuts live in
Spark storage, persist(MEMORY_AND_DISK_DESER), the JVM's MEMORY_AND_DISK
and the DataFrame default: blocks spill to disk instead of failing, and
a block lost with its executor is recomputed from lineage.

  shared(df)       lazy: composing a plan runs no job; the first action
                   fills it.
  materialize(df)  eager: the cut is filled before the operator frees its
                   inputs.

Nothing here writes to a catalog.  Durable cuts belong to the plans that
own named tables (plans/pipeline.py stages, plans/incremental.py): they
commit with `catalog.write_table` and read the snapshot back.  A caller
who wants an operator's output durable does the same with the returned
DataFrame, then unpersists it.

Ownership is explicit, never left to garbage collection:

  * a shared barrier belongs to the innermost open `owned()` scope and is
    unpersisted when that scope exits.  Whoever materializes a result
    opens the scope around building and materializing it: eager operators
    release before they return, pipeline and incremental stages after
    their catalog commit.  Outside any scope a shared barrier has no
    owner and is not taken; the plan recomputes the shared subplan
    instead.
  * the DataFrame `materialize` returns belongs to the caller, who frees
    it with `unpersist()`.

Connected components is the one exception (`round_cut`): its fixpoint
rounds need lineage truncation, which only a checkpoint gives.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_scopes = threading.local()


@contextlib.contextmanager
def owned():
    """Scope that owns the shared barriers taken inside it and unpersists
    them on exit, newest first."""
    stack = _scopes.__dict__.setdefault("stack", [])
    held: list[DataFrame] = []
    stack.append(held)
    try:
        yield
    finally:
        stack.pop()
        for df in reversed(held):
            df.unpersist()


def shared(df: DataFrame) -> DataFrame:
    """Barrier on a subplan that several branches of one plan read."""
    stack = getattr(_scopes, "stack", None)
    # no owner, or a plan someone else already cached (not ours to free)
    if not stack or df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    stack[-1].append(df)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """An operator's output cut.  The returned DataFrame is persisted and
    belongs to the caller, who frees it with `unpersist()`."""
    # a fresh observation makes the cut its own cache entry: an identical
    # later call neither reuses it nor shares its release
    cut = df.observe(Observation(), F.count(F.lit(1)).alias("rows")).persist(
        StorageLevel.MEMORY_AND_DISK_DESER
    )
    cut.count()
    return cut


def round_cut(df: DataFrame) -> DataFrame:
    """Eager lineage cut between connected-components rounds.

    The fixpoint composes each round on the previous one; a persist keeps
    the whole chain in every later plan, so analysis and recompute grow
    with the round count.  A local checkpoint truncates it.  Its blocks
    cannot be recomputed if their executor is lost: with a catalog, the
    rounds between commits are the work a failed run repeats when it
    resumes from the last committed round."""
    return df.localCheckpoint(eager=True)
