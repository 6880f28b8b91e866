"""Streaming weighted reservoir sampling (distributed A-ES).

The streaming face of ``plans/llm_curation.curation_weighted_sample``:
maintain the k documents with the smallest Efraimidis–Spirakis
exponential-race keys over an unbounded stream. The key
(:func:`ops.curation.es_sample_key`) is a pure function of the row, so

    top-k(stream so far) == top-k( top-k(reservoir) ∪ top-k(batch) )

— each micro-batch folds its local top-k against the persisted
reservoir; no batch ever needs the others' raw rows. State between
batches is the k-row reservoir in parquet (dated per batch), which is
the same store-not-recompute shape as the incremental-dedup signature store.

At scale: per-batch cost is one scan of the batch + TakeOrdered k; the
reservoir is k rows regardless of stream length. Replays within the
same batch file re-derive identical keys (no random()), so retried
micro-batches are idempotent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.curation import es_sample_key
from counsel_data_pipeline_spark.streaming.microbatch import (
    read_batches,
    run_available_now,
)


def run_weighted_sample_stream(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    schema: str,
    k: int = 25,
    seed: int = 777,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    carry_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Run an AvailableNow stream over the parquet files in ``input_dir``
    (one micro-batch per file) and return the final k-row reservoir
    (id, carry_cols..., weight, es_key)."""
    reservoir_root = os.path.join(work_dir, "reservoir")
    out_cols = [id_col, *carry_cols, weight_col, "es_key"]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        keyed = batch_df.select(
            id_col,
            *carry_cols,
            weight_col,
            es_sample_key(F.col(id_col), F.col(weight_col), seed).alias("es_key"),
        )
        try:
            res = sess.read.parquet(reservoir_root)
            # Strictly batch < batch_id: a RETRIED micro-batch must not read
            # its own failed attempt's partially-written (or empty) batch=N
            # directory as "the previous reservoir" — that would silently
            # shrink or reset the sample. The predecessor is always the
            # largest committed batch below the current one.
            last = (
                res.where(F.col("batch") < F.lit(batch_id))
                .agg(F.max("batch"))
                .collect()[0][0]
            )
            if last is None:
                prev = keyed.limit(0)
            else:
                prev = res.where(F.col("batch") == last).select(*out_cols)
        except Exception:  # first batch: no reservoir yet
            prev = keyed.limit(0)
        # dropDuplicates makes a RETRIED micro-batch idempotent: on replay
        # the previous reservoir already holds this batch's winners, and
        # the union would otherwise carry two identical copies into the
        # top-k (rows are identical — the key is a pure row function).
        merged = (
            prev.unionByName(keyed)
            .dropDuplicates([id_col])
            .orderBy("es_key", id_col)
            .limit(k)
        )
        # Dated (batch=N) directories instead of overwrite-in-place: the
        # merge above still READS the previous reservoir while writing —
        # overwriting the path being read is undefined in Spark. The
        # directory name carries the partition-discovered `batch` column;
        # k rows per batch, so the history is negligibly small and
        # doubles as a per-batch audit trail.
        merged.write.mode("overwrite").parquet(
            os.path.join(reservoir_root, f"batch={batch_id}")
        )

    run_available_now(read_batches(spark, schema, input_dir), handler=handle)
    res = spark.read.parquet(reservoir_root)
    last = res.agg(F.max("batch")).collect()[0][0]
    return res.where(F.col("batch") == last).select(*out_cols)
