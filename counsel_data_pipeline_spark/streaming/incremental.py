"""Streaming ingest dedup: each micro-batch of new documents is judged
against the corpus accumulated from every prior batch.

This is the streaming face of :func:`ops.text_dedup.incremental_dedup` —
the batch operator already generates only (new × existing) and
(new × lower-id new) candidates, which is exactly the per-micro-batch
work unit. ``foreachBatch`` supplies the loop: read the persisted corpus
store, judge the batch, append verdicts, grow the store. State between
batches lives in parquet (at scale: the persisted signature store).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.text_dedup import (
    build_dedup_store,
    incremental_dedup_against_store,
)
from counsel_data_pipeline_spark.streaming.microbatch import (
    read_batches,
    run_available_now,
)


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **dedup_kwargs,
) -> DataFrame:
    """Process every parquet file in ``input_dir`` as its own micro-batch
    (streaming/microbatch.read_batches), dedup each batch
    against the accumulated corpus, and return the verdict table
    (doc_id, verdict, dup_of, batch_id)."""
    store_dir = os.path.join(work_dir, "store")
    verdict_dir = os.path.join(work_dir, "verdicts")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col)
        # One scan of the batch text produces its store rows; the existing
        # corpus participates only through the persisted (id, content_h,
        # sig) store — its text is never re-read.
        new_store = build_dedup_store(batch, id_col, text_col).persist()
        try:
            store = batch_df.sparkSession.read.parquet(store_dir)
        except Exception:  # first batch: no store yet
            store = new_store.limit(0)
        # This handler owns the cache lifecycle (persist_stores=False in
        # the dedup call): an unconditional persist inside the operator
        # would pin one snapshot of the ever-growing store per micro-batch
        # for the session's lifetime.
        store = store.persist()
        try:
            verdicts = incremental_dedup_against_store(
                batch, store, id_col=id_col, text_col=text_col,
                new_store=new_store, persist_stores=False, **dedup_kwargs,
            )
            verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(verdict_dir)
            new_store.write.mode("append").parquet(store_dir)
        finally:
            # A failed write must not leave the snapshot pinned — that is
            # the per-micro-batch leak this handler exists to prevent.
            store.unpersist()
            new_store.unpersist()

    run_available_now(read_batches(spark, schema, input_dir), handler=handle)
    return spark.read.parquet(verdict_dir)
