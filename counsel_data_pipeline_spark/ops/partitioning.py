"""Partitioning helpers shared across operator families."""

from __future__ import annotations

import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# Codecs Hadoop cannot split (``.bz2`` can; ``.snappy.parquet`` ends in
# ``.parquet``): such a file is ONE input split however large it is.
_UNSPLITTABLE_EXT = (".gz", ".deflate", ".snappy", ".lz4", ".zst")

_BYTE_SUFFIX = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _byte_string(s: str) -> int:
    """Spark byte-string conf value (``134217728b``, ``128m``, ``1g``,
    or a bare number) → bytes. Raises ValueError on anything else —
    callers fall back to the exact decision path."""
    s = s.strip().lower()
    for suf in sorted(_BYTE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(s[: -len(suf)]) * _BYTE_SUFFIX[suf]
    return int(s)


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Estimate how many input partitions ``df``'s file scan yields,
    from the scan's file sizes and the session's split-packing confs —
    mirroring FilePartition.maxSplitBytes: splits are
    ``min(maxPartitionBytes, max(openCostInBytes, bytesPerCore))`` and
    each file is charged ``openCostInBytes`` when packed.

    Returns None when the estimate is unavailable: no file sources in
    the plan (in-memory test frames), or files whose size cannot be
    stat'ed locally (remote object-store URIs). Capped at the file count
    when any input is non-splittable (one 1 GB ``.json.gz`` is one task,
    not eight). Driver-side cost is one py4j listing call over the
    scan's already-cached FileIndex — unlike
    ``df.rdd.getNumPartitions()`` it never converts the plan to a
    Python RDD (which forced a full physical planning pass per call and
    spoiled the executed-plan cache)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    sizes, unsplittable = [], False
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        path = unquote(parsed.path)
        unsplittable |= path.lower().endswith(_UNSPLITTABLE_EXT)
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    conf = df.sparkSession.conf
    try:
        max_pb = _byte_string(
            conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20))
        )
        open_cost = _byte_string(
            conf.get("spark.sql.files.openCostInBytes", str(4 << 20))
        )
    except ValueError:
        return None
    cores = df.sparkSession.sparkContext.defaultParallelism
    total = sum(sizes) + len(sizes) * open_cost
    bytes_per_core = total / max(cores, 1)
    max_split = min(max_pb, max(open_cost, int(bytes_per_core)))
    est = max(1, math.ceil(total / max(max_split, 1)))
    return min(est, len(files)) if unsplittable else est


def spread(df: DataFrame) -> DataFrame:
    """Ensure compute-heavy per-row work fans out across cores.

    A small parquet file arrives as ONE input partition
    (``maxPartitionBytes`` never splits it), which would serialize heavy
    per-row projections (shingling, hashing, regex scoring) on a single
    task. Repartition up to the cluster's default parallelism only when
    the scan under-partitions — at real scale the input already has
    ≥ parallelism splits and this is a no-op (no shuffle inserted).

    r17: the under-partitioning decision comes from the scan's FILE
    SIZES (:func:`_estimated_scan_partitions`) instead of
    ``df.rdd.getNumPartitions()`` — the RDD conversion ran a full
    physical planning pass on the driver per invocation (~10 ms each at
    plan-build time, a needless driver round-trip at scale). Inputs the
    estimator cannot size (in-memory test frames, non-local URIs it
    cannot stat) keep the r16 RDD-partition check unchanged — the
    decision there must stay exact (a blanket repartition would insert
    a corpus-wide shuffle of the text at real scale; a blanket no-op
    would serialize the local test shapes the helper exists for).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df)
    if est is None:
        est = df.rdd.getNumPartitions()
    if est < target:
        return df.repartition(target)
    return df


def morton_interleave8(bx, by):
    """Morton (Z-order) interleave of two 8-bit bucket ids into a 16-bit
    z-value — pure integer Column arithmetic, identical in any engine
    with shifts (the DuckDB twin is generated by
    :func:`morton_interleave8_sql`).

    Z-ordering is the layout trick behind multidimensional data skipping
    (Delta OPTIMIZE ZORDER, Hudi space-filling curves): sorting by the
    interleaved key keeps rows close in BOTH dimensions close in file
    order, so per-file zone maps (min/max) prune 2-D box predicates that
    a single-column sort can only prune in one dimension.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("bigint")
    for i in range(8):
        z = z + (
            F.shiftleft(F.shiftright(bx.cast("bigint"), i).bitwiseAND(1), 2 * i + 1)
            + F.shiftleft(F.shiftright(by.cast("bigint"), i).bitwiseAND(1), 2 * i)
        )
    return z


def morton_interleave8_sql(bx_sql: str, by_sql: str) -> str:
    """DuckDB expression computing exactly :func:`morton_interleave8`."""
    terms = []
    for i in range(8):
        terms.append(f"((({bx_sql}) >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"((({by_sql}) >> {i}) & 1) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def read_partition_dirs(spark, data_dir: str, dirs: list[str]) -> DataFrame:
    """Manifest-driven pruned read shared by the layout modules
    (ops/zorder.read_pruned, ops/timelayout.read_dates): hand the scan
    EXACTLY the surviving hive-partition directories, with ``basePath``
    so the partition column survives — pruned partitions are never
    listed, let alone opened (a predicate over the full-table read
    prunes files but still lists every directory). Empty survivor set →
    empty frame with the full schema."""
    from pyspark.sql import functions as F

    if not dirs:
        return spark.read.parquet(data_dir).filter(F.lit(False))
    return spark.read.option("basePath", data_dir).parquet(*dirs)
