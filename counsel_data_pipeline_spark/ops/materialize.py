"""Materialization policy for pinned intermediates (``pin``).

Many plans pin a small derived frame — sketch registers, vocab/centroid
tables, 1-row stats, per-iteration graph states — so that multiple
consumers (or the next loop iteration) don't re-derive it from its own
fact scan. The r11 scan audit measured the win (worst case: 16 fact
scans collapsed to 2), but the mechanism was a hard-coded
``localCheckpoint()`` at every site, which has two documented problems
at the 100 TB tier:

* **Fault tolerance.** ``localCheckpoint`` truncates lineage and stores
  blocks *unreplicated* on executors. Losing any executor (or a
  dynamic-allocation decommission) after the checkpoint fails the job
  unrecoverably — Spark's own docs call this out. Acceptable on a
  single-box ``local[*]`` run or a static-allocation cluster; wrong
  under dynamic allocation or spot instances.
* **Eager building.** An eager checkpoint inside a plan *builder* runs
  Spark jobs even for consumers that only wanted the plan (``explain``,
  plan-shape audits).

``pin`` centralizes the policy. The mode comes from the Spark conf
``spark.counsel.pin.mode`` (falling back to the ``SPARK_GRAFT_PIN_MODE``
environment variable, default ``local``):

``local``
    ``DataFrame.localCheckpoint`` — fastest, zero extra I/O, the right
    choice for single-node and static-allocation clusters (and for
    correctness/bench runs here). Default.
``reliable``
    ``DataFrame.checkpoint`` to the directory named by
    ``spark.counsel.pin.checkpointDir`` / ``SPARK_GRAFT_CHECKPOINT_DIR``
    (default: a ``counsel-ckpt`` tempdir). Blocks live in reliable
    storage (HDFS/S3 on a cluster), so executor loss recomputes nothing
    — use under dynamic allocation. Reliable checkpoint files outlive
    the job by default; long-running sessions should also set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so
    checkpoints of garbage-collected frames are removed.
``persist``
    Replicated cache (``MEMORY_AND_DISK_2``) — survives a *single*
    executor loss without any checkpoint I/O, but does NOT truncate
    lineage, so call sites that loop (``loop=True``: iterative graph /
    k-means states, whose logical plans would otherwise nest per
    iteration) are upgraded to ``reliable`` checkpoints automatically.

Measured mode cost (SCALE.md, "Round-13 pin-MODE overhead at 10×"; the
pin-heaviest query — PageRank's three loop-pinned iterations — at sf0.1
and on a 10× disjoint-copy graph, results asserted identical across
modes): reliable 0.98× and persist 0.94× of local at 10×. On one box
the choice is free — pinned frames are node-sized summaries, never the
fact stream; on a real cluster ``reliable`` additionally pays one
shared-storage round-trip per pinned frame on exactly that small volume.

Eagerness is per call site, not per mode:

* ``loop=True`` sites materialize eagerly — bounded per-iteration work
  is the measured design of every iterative plan here, and lineage
  truncation is mandatory (the per-iteration plan would nest otherwise).
* builder sites pass ``eager=False`` and get a **lazy replicated-less
  persist** in every mode: zero Spark jobs at plan-build time (measured:
  even ``localCheckpoint(eager=False)`` materializes all AQE shuffle
  stages when the plan's RDD is created), lineage kept intact — so a
  lost block simply recomputes, which is *more* fault tolerant than any
  checkpoint — and the multi-consumer scan sharing is unchanged (the
  cached subtree executes once inside the consuming job).
* eager non-loop sites (``eager=True``) pin before an upstream
  ``unpersist()`` or a driver ``collect`` that must observe the
  materialized frame.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_MODES = ("local", "reliable", "persist")


def _mode(df: DataFrame) -> str:
    spark = df.sparkSession
    mode = spark.conf.get(
        "spark.counsel.pin.mode",
        os.environ.get("SPARK_GRAFT_PIN_MODE", "local"),
    )
    if mode not in _MODES:
        raise ValueError(
            f"spark.counsel.pin.mode={mode!r}: expected one of {_MODES}"
        )
    return mode


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    explicit = df.sparkSession.conf.get(
        "spark.counsel.pin.checkpointDir",
        os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", ""),
    )
    # Precedence: the explicit pin conf/env wins over a checkpoint dir a
    # session may have set for other purposes (streaming, graph algos) —
    # otherwise the documented conf would be silently ignored.
    if explicit:
        current = sc._jsc.sc().getCheckpointDir()  # scala Option[String]
        if not (current.isDefined() and current.get() == explicit):
            sc.setCheckpointDir(explicit)
        return
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return
    # No directory configured anywhere. A driver-local tempdir is NOT
    # shared storage: on a multi-node cluster — the exact deployment
    # 'reliable' mode exists for — executors would write checkpoint
    # blocks to their own local disks and executor loss would still
    # lose them, silently voiding the mode's fault-tolerance guarantee.
    # Only default to a tempdir for local masters.
    if not sc.master.startswith("local"):
        raise ValueError(
            "spark.counsel.pin.mode=reliable on a non-local master "
            f"({sc.master!r}) requires a SHARED checkpoint directory: "
            "set spark.counsel.pin.checkpointDir (or "
            "SPARK_GRAFT_CHECKPOINT_DIR) to an HDFS/S3/NFS path, or "
            "call SparkContext.setCheckpointDir yourself"
        )
    sc.setCheckpointDir(os.path.join(tempfile.gettempdir(), "counsel-ckpt"))


def pin(df: DataFrame, *, eager: bool = True, loop: bool = False) -> DataFrame:
    """Materialize-and-truncate a small derived frame per the session's
    pin policy (see module docstring).

    ``loop=True`` marks per-iteration states: lineage truncation is
    mandatory (a replicated persist can't provide it) and
    materialization is always eager so per-iteration work stays bounded.

    Cache lifecycle of ``eager=False`` pins: the library never calls
    ``unpersist()`` — the consuming plan is still lazy here, so there is
    no safe point to release at. Each lazy pin registers an entry in
    Spark's CacheManager that lives until the session ends, the storage
    LRU evicts its blocks (eviction is safe: lineage is intact, blocks
    recompute), or the caller releases it. Per-query sessions (bench,
    the correctness driver) tear the session down between queries;
    long-lived interactive sessions that build many plans should
    release explicitly — ``returned_df.unpersist()`` once the frame is
    consumed, or ``spark.catalog.clearCache()`` to drop all cached
    subtrees wholesale. (The old hard-coded ``localCheckpoint`` RDDs
    were ContextCleaner-released when the frame was GC'd; persisted
    frames hold a named CacheManager entry instead, hence the explicit
    release path.)
    """
    from pyspark import StorageLevel

    mode = _mode(df)
    if loop:
        # truncation mandatory + eager: localCheckpoint unless the
        # session asked for executor-loss safety, then reliable checkpoint
        if mode == "local":
            return df.localCheckpoint(eager=True)
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=True)
    if not eager:
        # lazy builder pin: no job until the first real action; lineage
        # intact so every mode is loss-safe by recomputation
        level = (
            StorageLevel.MEMORY_AND_DISK_2
            if mode == "persist"
            else StorageLevel.MEMORY_AND_DISK
        )
        return df.persist(level)
    if mode == "persist":
        out = df.persist(StorageLevel.MEMORY_AND_DISK_2)
        out.count()
        return out
    if mode == "reliable":
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Drop the stored blocks behind a frame :func:`pin` returned, once
    nothing reads it any more (a loop state superseded by the next eager
    pin). A checkpointed pin is a scan of its checkpoint RDD, which
    ``DataFrame.unpersist`` does not see; left alone its blocks stay in
    the block manager until the JVM happens to collect the frame. A
    reliable checkpoint's files are not touched."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
    else:
        df.unpersist()
