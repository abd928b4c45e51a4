"""The engine's one materialization barrier.

Operators cut their plans in two places: a shared subplan that several
branches read (the banding kernel's salted rows, verify's gate and base
tables, an operator's cached input), and an operator's output, after
which it frees everything it cached to build it.  Both follow the mode
the call can observe:

  catalog given     commit the data as a snapshot table and read it back:
                    durable, resumable, visible for audit.
  no catalog        persist(MEMORY_AND_DISK_DESER), the JVM's
                    MEMORY_AND_DISK and the DataFrame default.  Blocks spill
                    to disk instead of failing, and a block lost with its
                    executor is recomputed from lineage.
                      shared(df)       lazy: composing a plan runs no job;
                                       the first action fills it.
                      materialize(df)  eager: the cut is filled before the
                                       operator frees its inputs.

Ownership is explicit, never left to garbage collection:

  * a shared barrier belongs to the innermost open `owned()` scope and is
    unpersisted when that scope exits.  Whoever materializes a result
    opens the scope around building and materializing it: eager operators
    release before they return, pipeline and incremental stages after
    their catalog commit.  Outside any scope a shared barrier has no
    owner and is not taken; the plan recomputes the shared subplan
    instead.
  * without a catalog, the DataFrame `materialize` returns belongs to the
    caller, who frees it with `unpersist()`.

Connected components is the one exception (`round_cut`): its fixpoint
rounds need lineage truncation, which only a checkpoint gives.
"""

from __future__ import annotations

import contextlib
import hashlib
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_scopes = threading.local()


def scratch_name(base: str, *params) -> str:
    """Deterministic per-call scratch-table name: base + short hash of the
    call parameters.  Two operator calls with different parameters sharing
    one catalog land in different tables (no silent clobber, no bypassed
    schema-change guard); identical parameters map to the SAME name, so a
    re-run overwrites its own (byte-identical) scratch output — the
    resume-friendly behavior, not a leak."""
    h = hashlib.sha256(repr(params).encode()).hexdigest()[:8]
    return f"{base}_{h}"


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


def _commit(df, catalog, table, config_hash, inputs) -> DataFrame:
    if not table:
        raise ValueError("a catalog barrier requires a table name")
    # operator-internal intermediates are scratch state, not evolving
    # user tables: a config change may legitimately reshape them, so
    # schema evolution is always allowed here
    catalog.write_table(
        df, table, config_hash=config_hash, inputs=inputs,
        overwrite_schema=True,
    )
    return catalog.read_table(table)


def shared(
    df: DataFrame,
    catalog=None,
    table: str | None = None,
    config_hash: str = "",
) -> DataFrame:
    """Barrier on a subplan that several branches of one plan read."""
    if catalog is not None:
        return _commit(df, catalog, table, config_hash, None)
    stack = getattr(_scopes, "stack", None)
    # no owner, or a plan someone else already cached (not ours to free)
    if not stack or df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    stack[-1].append(df)
    return df


def materialize(
    df: DataFrame,
    catalog=None,
    table: str | None = None,
    config_hash: str = "",
    inputs: dict | None = None,
) -> DataFrame:
    """An operator's output cut.  Without a catalog the returned DataFrame
    is persisted and belongs to the caller, who frees it with
    `unpersist()`."""
    if catalog is not None:
        return _commit(df, catalog, table, config_hash, inputs)
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
