"""r17 optimization pins.

Three structural changes drove this round's wins; each pin fails if a
refactor silently reintroduces the removed shape:

1. The prefix-filter family's ranked view is ONE persisted ranked-array
   table (per-doc sorted ``array<bigint>``), not a row_number window —
   the r16 window subtree (df aggregation + Exchange + Sort +
   WindowExec) was re-evaluated per candidate-join side. The pin
   asserts no Window/Sort operator anywhere in either prefix query's
   physical plan.

2. ``common_neighbors_plan`` emits wedge endpoints in-array from
   per-middle neighbor sets (bounded by the degree cap applied BEFORE
   the collect), not via the capped-adjacency self-join. The pin
   asserts exactly two joins survive (the degree broadcast and the
   existing-edge anti-join) and that a collect aggregation feeds the
   pair explode.

3. ``spread`` decides under-partitioning from the scan's file sizes,
   never from ``df.rdd`` (a full physical-planning round-trip per
   call). The pins drive both decision branches through the estimator
   by moving the split-packing confs, and pin the estimator's direct
   outputs.
"""

import gzip

import pyspark.sql.functions as F

from counsel_data_pipeline_spark.ops import text_dedup as td
from counsel_data_pipeline_spark.ops.partitioning import (
    _estimated_scan_partitions,
    spread,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),
    (3, "pack my box with five dozen liquor jugs for the long trip"),
    (4, "sphinx of black quartz judge my vow said the old teacher"),
]


def _physical(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_prefix_family_has_no_window_sort(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    for fn in (td.jaccard_prefix_pairs, td.containment_prefix_pairs):
        plan = _physical(fn(docs, n=3))
        # no WindowExec and no row_number anywhere: the per-doc
        # sort_array replaced the rank window. (SMJ Sorts can still
        # appear in the PRE-execution plan on toy data — AQE rewrites
        # them to broadcast at runtime — so Sort itself is not pinned.)
        assert "Window" not in plan, f"{fn.__name__} regrew a rank window"
        assert "row_number" not in plan
        spark.catalog.clearCache()


def test_ranked_sets_shared_and_rank_matches_window(spark):
    """The ranked-array table must reproduce the r16 window ranks
    exactly whenever (sdf, h) is collision-free — i.e. rank by global
    ascending df with a deterministic total tiebreak."""
    docs = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    sets, ranked_sets = td._df_ranked_shingles(docs, "doc_id", "text", 3)
    got = {
        (r["id"], r["rn"]): r["h"]
        for r in td._ranked_rows(ranked_sets).collect()
    }
    # recompute with the explicit window formulation over the same keys
    from pyspark.sql import Window

    sh = sets.select(
        "id", F.explode("shs").alias("s")
    ).select("id", F.xxhash64("s").alias("h"))
    sdf = sh.groupBy("h").agg(F.count(F.lit(1)).alias("sdf"))
    want = {
        (r["id"], r["rn"]): r["h"]
        for r in sh.join(sdf, "h")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("id").orderBy("sdf", "h")),
        )
        .collect()
    }
    assert got == want
    spark.catalog.clearCache()


def test_common_neighbors_wedges_in_array(spark):
    from counsel_data_pipeline_spark.plans.graph import common_neighbors_plan

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 4)], "u BIGINT, v BIGINT"
    )
    plan = _physical(common_neighbors_plan(e))
    import re

    n_joins = len(
        re.findall(
            r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin)",
            plan,
        )
    )
    assert n_joins == 2, f"wedge self-join regrew ({n_joins} joins)"
    assert "collect_set" in plan  # per-middle neighbor arrays
    assert "CartesianProduct" not in plan


def test_byte_string_conf_forms():
    # a session that never set the conf returns Spark's canonical
    # suffixed form ("134217728b") — the sf0.001 sweep caught an int()
    # crash on exactly this; pin every accepted form
    from counsel_data_pipeline_spark.ops.partitioning import _byte_string

    assert _byte_string("134217728b") == 128 << 20
    assert _byte_string("128m") == 128 << 20
    assert _byte_string("1g") == 1 << 30
    assert _byte_string("16") == 16
    import pytest

    with pytest.raises(ValueError):
        _byte_string("128q")


def test_spread_estimator_branches(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    target = spark.sparkContext.defaultParallelism

    est_small = _estimated_scan_partitions(df)
    assert est_small is not None and est_small < target
    assert "RoundRobinPartitioning" in _physical(spread(df))

    # shrink the packing confs so the SAME file estimates >= target
    conf = spark.conf
    olds = {
        k: conf.get(k)
        for k in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.openCostInBytes",
        )
    }
    try:
        conf.set("spark.sql.files.maxPartitionBytes", "16")
        conf.set("spark.sql.files.openCostInBytes", "16")
        df2 = spark.read.parquet(p)
        est_big = _estimated_scan_partitions(df2)
        assert est_big is not None and est_big >= target
        assert "RoundRobinPartitioning" not in _physical(spread(df2))

        # a gzip file is ONE split whatever the packing confs say: the
        # estimate is capped at the file count, so spread repartitions
        gz = tmp_path / "t.json.gz"
        with gzip.open(gz, "wt") as fh:
            fh.writelines(f'{{"id": {i}}}\n' for i in range(1000))
        df3 = spark.read.json(str(gz))
        assert df3.rdd.getNumPartitions() == 1
        assert _estimated_scan_partitions(df3) == 1
        assert "RoundRobinPartitioning" in _physical(spread(df3))
    finally:
        for k, v in olds.items():
            conf.set(k, v)

    # in-memory frames have no file scan: estimator abstains, spread
    # falls back to the exact RDD-partition check — decision identical
    # to the pre-r17 code by construction
    local = spark.createDataFrame([(1,)], "x bigint")
    assert _estimated_scan_partitions(local) is None
    want_repartition = local.rdd.getNumPartitions() < target
    got = "RoundRobinPartitioning" in _physical(spread(local))
    assert got == want_repartition
