"""The streaming family's one micro-batch policy (SURVEY §3, T4).

The reference runs as a cron micro-batch. Structured Streaming's exact
analog is Trigger.AvailableNow over a file source read one file per
trigger: one staged file is one micro-batch, and the stream runs until it
is drained. Every streaming plan and test combines its operator with the
three pieces here:

- :func:`read_batches` streams a parquet dir one file per micro-batch;
- :func:`run_available_now` drains a stream into a memory sink or a
  ``foreachBatch`` handler and owns the checkpoint;
- :func:`stage_batches` writes a frame with a batch column ``b`` as
  ``NNN.parquet`` files whose rising mtimes fix the replay order.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_MARKER = "_STAGED"  # leading underscore: the file source never lists it


def read_batches(spark: SparkSession, schema: str, path: str) -> DataFrame:
    """Parquet file stream over ``path``, one file per micro-batch, in
    file modification-time order."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def run_available_now(
    result: DataFrame,
    output_mode: str | None = None,
    handler: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
) -> DataFrame | StreamingQuery:
    """Drain ``result`` with Trigger.AvailableNow.

    Without ``handler`` the stream goes to a memory sink in
    ``output_mode`` (default ``complete``; append-only operators pass
    ``append``) and the sink's table is returned. Like any memory sink it
    lives for the session, so it suits results the caller collects
    anyway. With ``handler`` every micro-batch goes to
    ``foreachBatch(handler)`` (default mode ``append``) and the terminated
    query is returned for its progress.

    The checkpoint is a fresh temp dir, removed once the query stops,
    whether it drained or failed, unless the caller passes ``checkpoint``
    and owns it."""
    ckpt = checkpoint or tempfile.mkdtemp(prefix="ckpt_")
    writer = result.writeStream.option("checkpointLocation", ckpt)
    name = f"q_{uuid.uuid4().hex[:8]}"
    if handler is None:
        writer = writer.format("memory").queryName(name)
        writer = writer.outputMode(output_mode or "complete")
    else:
        writer = writer.foreachBatch(handler).outputMode(output_mode or "append")
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return q if handler else result.sparkSession.table(name)


def stage_batches(frame: DataFrame, stage: str, n_batches: int) -> str:
    """Write ``frame`` as ``stage/000.parquet`` … one file per value
    ``0..n_batches-1`` of its int column ``b`` (an empty batch still gets
    its file), with mtimes one second apart so :func:`read_batches`
    replays them in batch order. Returns ``stage``.

    A stage that holds the marker is reused as is: callers key stage dirs
    by source fingerprint (io/fingerprint.derived_cache_dir). Otherwise
    the dir is cleared, the frame is persisted once for the N writes, and
    the marker is written last, so an interrupted stage is redone."""
    marker = os.path.join(stage, _MARKER)
    if os.path.exists(marker):
        return stage
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    tmp = os.path.join(stage, "_tmp")
    now = time.time()
    frame = frame.persist()
    try:
        for k in range(n_batches):
            frame.filter(F.col("b") == k).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            dst = os.path.join(stage, f"{k:03d}.parquet")
            os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
            os.utime(dst, (now + k, now + k))
    finally:
        frame.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)
    open(marker, "w").close()
    return stage
