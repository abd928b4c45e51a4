"""Streaming operators: watermarked windowed aggregation, streaming exact
dedup, and the micro-batch image-registry ingest.

Design: transformations are pure functions DataFrame -> DataFrame so the
same code path serves batch tests and streaming queries; the stateful
registry update runs inside foreachBatch, where each micro-batch is a
normal batch DataFrame and the existing incremental plan applies unchanged
(idempotent via the catalog's snapshot commits + Spark's checkpointed batch
ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.catalog import SparkCatalog
from customer_er_spark.config import ERConfig

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def windowed_event_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts + sums per event_type.
    Late rows beyond the watermark are dropped by the engine; state is
    bounded by (watermark + window)."""
    # watermarks require TIMESTAMP_LTZ; parquet event time is often NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def exact_dedup_stream(
    docs: DataFrame, watermark: str = "1 hour", ts_col: str = "ts"
) -> DataFrame:
    """Streaming exact dedup: first-seen row per normalized-text hash wins.

    Uses dropDuplicatesWithinWatermark, so the engine EVICTS a hash's state
    once its event time falls behind the watermark — bounded state.  The
    trade-off: a duplicate arriving later than (watermark) after the
    first-seen row may re-emit (at-least-once dedup).  Plain
    dropDuplicates(['text_hash']) would never evict (the watermark only
    bounds state when the event-time column is part of the key), i.e.
    unbounded state growth."""
    from customer_er_spark.functions.text import normalize_caption

    return (
        docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withColumn("text_hash", F.md5(normalize_caption(F.col("text"))))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def stateful_dedup_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    running (n_copies, keep_id) per normalized-text hash, maintained
    across micro-batches in engine-managed per-key state.

    This is the arbitrary-stateful path the built-in operators can't
    express: dropDuplicates* can only SUPPRESS rows, while this op emits a
    fresh aggregate row per key per batch (the live duplicate census a
    training-data ingest dashboards on), with keep_id = global minimum id
    across ALL batches IN THE ID COLUMN'S NATIVE TYPE, so the survivor
    choice matches the batch exact_dedup operator (F.min on the native
    type) exactly — numeric ids compare numerically, not lexicographically.
    State per key is two scalars (bounded); state lives in the stream
    checkpoint, so a restarted query resumes its counts instead of
    starting over (covered by test_streaming.py).

    Scale shape: groupBy(text_hash) shuffles 8-byte-ish keys + ids only
    (text is dropped before the shuffle); the state store is hash-
    partitioned by key across executors — the standard layout for
    billions of keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from customer_er_spark.functions.text import normalize_caption

    # keep_id stays in the id column's NATIVE type end-to-end: pandas
    # min() on an int64 column is numeric, matching batch F.min — casting
    # to string here would silently flip numeric ids to lexicographic
    # order (min{5,10} -> "10").
    id_type = docs.schema[id_col].dataType.simpleString()
    keyed = docs.select(
        F.md5(normalize_caption(F.col(text_col))).alias("text_hash"),
        F.col(id_col).alias("rid"),
    )

    def update(key, pdfs, state: GroupState):
        n, keep = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            batch_min = pdf["rid"].min()
            keep = batch_min if keep is None or batch_min < keep else keep
        state.update((n, keep))
        yield pd.DataFrame(
            {"text_hash": [key[0]], "n_copies": [n], "keep_id": [keep]}
        )

    return keyed.groupBy("text_hash").applyInPandasWithState(
        update,
        outputStructType=f"text_hash string, n_copies long, keep_id {id_type}",
        stateStructType=f"n_copies long, keep_id {id_type}",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FENCE = "last_stream_batch_id"
BOOTSTRAP = "bootstrap_batch_id"


def process_registry_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    catalog: SparkCatalog,
    cfg: ERConfig,
) -> None:
    """One micro-batch of the registry ingest (module-level so the
    crash/replay fences are unit-testable outside a live stream); the
    exactly-once story is documented on stream_images_to_registry."""
    from customer_er_spark.plans.incremental import (
        run_incremental_match,
        run_link,
    )
    from customer_er_spark.plans.pipeline import run_initial

    if batch_df.isEmpty():
        return
    last = catalog.get_state(FENCE, -1)
    if batch_id <= last:
        return  # replayed batch, already fully applied
    if catalog.table_meta("cluster_members") is None:
        catalog.set_state(BOOTSTRAP, batch_id)
        run_initial(spark, batch_df, catalog, cfg)
    elif catalog.get_state(BOOTSTRAP) == batch_id:
        # replay of the bootstrap batch after a crash between run_initial's
        # commits and the fence: resume run_initial (stage snapshots make
        # this a no-op) — never the link path, which would link the batch
        # against a registry built from these very records (self-pairs,
        # double-appended image_ids)
        run_initial(spark, batch_df, catalog, cfg)
    else:
        import time

        t0 = time.time()
        run_link(spark, batch_df, catalog, cfg, run_key=f"batch-{batch_id}")
        run_incremental_match(spark, batch_df, catalog, cfg)
        # per-batch ingest metrics: the audit trail of what each
        # micro-batch cost
        inc_meta = catalog.table_meta("incoming_signatures") or {}
        catalog.set_state(
            f"batch_metrics::{batch_id}",
            {
                "wall_sec": round(time.time() - t0, 3),
                "incoming_rows": inc_meta.get("counts", {}).get("rows_out"),
            },
        )
    catalog.set_state(FENCE, batch_id)


def stream_images_to_registry(
    spark: SparkSession,
    source_dir: str,
    catalog: SparkCatalog,
    cfg: ERConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int = 4,
):
    """File-source micro-batch ingest into the dedup registry.

    Each micro-batch runs the existing incremental plan (link -> match ->
    merge); the very first batch bootstraps the registry via run_initial.
    Returns the StreamingQuery (caller awaits termination).

    Exactly-once story (three fences, because foreachBatch replay is NOT
    idempotent by itself):
      1. the catalog-state batch fence skips any batch id at/below the last
         fully-applied one (fast path);
      2. run_link(run_key=...) resumes instead of recomputing when the
         committed incoming_signatures manifest already carries this batch's
         run_key — a replay after a crash reuses the same snapshot id;
      3. every merge append records the incoming_signatures snapshot it
         applied, so a replayed merge skips tables it already touched
         (no duplicate image_ids even when the crash landed between the
         catalog commits and the streaming checkpoint commit);
      4. the BOOTSTRAP batch id is recorded in catalog state before
         run_initial commits anything: if the process dies after
         run_initial's commits but before the batch fence lands, the
         replayed bootstrap batch re-enters run_initial (whose per-stage
         snapshots make it a pure resume) instead of falling into the
         incremental path and linking the batch against a registry built
         from the very same records (which would verify self-pairs and
         double-append every image_id).
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        process_registry_batch(spark, batch_df, batch_id, catalog, cfg)

    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
