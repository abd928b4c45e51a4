"""Scale-adaptive fan-out before expensive per-row stages.

A one-row-group parquet file (the shape of every small/mid local table, and
of any compacted dimension at warehouse scale) yields a single scan split no
matter the session's split sizing, so a Python-UDF or wide-aggregation stage
right above it runs on ONE core.  `fan_out` repartitions ONLY when the
input's actual partition count is below the target — at 100 TB a scan
arrives in thousands of splits and this is a no-op (no extra pass over the
bytes), which is what keeps the local fan-out honest as a scale shape
(guide §2: partitioning must be scale-adaptive, not tuned to one mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def shuffle_width(df: DataFrame, n: int | None = None) -> int:
    """n, or the session's spark.sql.shuffle.partitions when n is None."""
    if n is not None:
        return n
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def fan_out(df: DataFrame, n: int, *cols: str) -> DataFrame:
    """repartition(n, *cols) iff df currently has fewer than n partitions.

    Partition count comes from the planned RDD (no job is run).  Callers
    pass the columns the downstream stages key on so the shuffle, when it
    does happen, pre-co-locates later joins/aggregations.
    """
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - exotic plans: fan out anyway
        cur = 1
    if cur >= n:
        return df
    return df.repartition(n, *cols) if cols else df.repartition(n)
