"""SparkSession factory.

Single place where execution-relevant configuration lives so every entry
point (driver harness, pytest, bench.py) runs the same engine settings.

Scale design notes (local[32] here, 1000-executor cluster in production):
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    and empty-relation propagation (the reference's "early-exit on empty
    delta", SURVEY §2.10 T2, falls out of this for the plan side).
  - shuffle.partitions defaults to cores locally; on a real cluster this is
    a starting hint only — AQE re-coalesces by size (64 MB target).
  - Arrow enabled: all pandas_udf / mapInPandas exchange is vectorized.
  - Broadcast threshold raised to 32 MB; small sides (TPC-H region and
    nation, the snapshot-diff key aggregates, the enrichment candidate
    frame) are explicitly broadcast() at the call sites so plans do not
    depend on stats being fresh. The geocode cache is never broadcast: it
    streams against the broadcast candidates.
  - Codegen class cache sized to the catalog's working set
    (``CODEGEN_CACHE_ENTRIES``). Spark keeps each compiled
    whole-stage/expression class in a JVM-wide LRU cache of
    ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. One
    pass of the ten TPC-H perfbench queries generates ~140 distinct
    classes at sf0.001 and one pass of the 52 headline queries ~970 at
    sf0.01, so at
    100 entries every warm pass evicted and recompiled each class through
    Janino (~9 ms a class: ~1.25 s of a ~5.5 s TPC-H pass at sf0.001 on
    4 cores). 2048 holds the whole headline working set with about 2x
    headroom. The conf is STATIC: it only takes effect when this factory
    creates the session. A session handed in by a harness
    (``tune_for_session``) keeps whatever its creator set (Spark's 100
    unless it chose otherwise) and recompiles on every warm pass.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# spark.sql.codegen.cache.maxEntries (static; see the module docstring)
CODEGEN_CACHE_ENTRIES = 2048


def get_spark(
    app_name: str = "counsel-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally-provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``__spark_entry__.entry``/``queries()`` callables; static configs
    (driver memory, master) are out of our control there, but SQL configs
    are runtime-settable and materially affect plan quality. The codegen
    class cache size is static too, so such a session keeps its own
    (Spark's default is 100 entries) and recompiles generated classes on
    every warm pass once its working set exceeds that.
    """
    rc = spark.conf
    rc.set("spark.sql.adaptive.enabled", "true")
    rc.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    rc.set("spark.sql.adaptive.skewJoin.enabled", "true")
    rc.set("spark.sql.session.timeZone", "UTC")
    return spark
