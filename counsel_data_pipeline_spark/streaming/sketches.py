"""Streaming sketch maintenance: count-min partials per micro-batch,
merged by elementwise addition.

This is the property that makes sketches the scale answer for streams: a
CMS built on batch B1 ∪ B2 equals the counter-wise SUM of the sketches
built on B1 and B2 independently (every counter is a plain count). So a
100 TB/day stream never re-aggregates history — each micro-batch
contributes a depth×width partial, and the accumulated sketch is a
trivially small keyed table (tests/test_streaming_sketches.py asserts
merged ≡ batch-built on the same rows).

The same argument covers Bloom (bit_or-mergeable) and HLL (register-max
mergeable); CMS is demonstrated end-to-end because its merge is visible
arithmetic on a DataFrame.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.sketches import cms_build
from counsel_data_pipeline_spark.streaming.microbatch import run_available_now


def run_cms_stream(
    stream: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    partials_path: str | None = None,
) -> str:
    """Consume a streaming DataFrame with Trigger.AvailableNow, writing one
    CMS partial (depth×width counters) per micro-batch. Returns the
    partials path (an append-only parquet log of (batch_id, seed, bucket,
    cnt) — at real scale, a tiny keyed table)."""
    out = partials_path or tempfile.mkdtemp(prefix="cms_partials_")

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        (
            cms_build(batch_df, key_col, depth, width)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out)
        )

    run_available_now(stream, handler=write_partial)
    return out


def merge_cms_partials(spark: SparkSession, partials_path: str) -> DataFrame:
    """Fold the per-batch partials into one sketch: counters add."""
    return (
        spark.read.parquet(partials_path)
        .groupBy("seed", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
