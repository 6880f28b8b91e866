"""Mergeability of streaming sketch partials: a CMS accumulated over
micro-batches (one file per trigger) must equal the CMS built on the whole
dataset in one batch pass."""

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops.sketches import cms_build, cms_estimate
from counsel_data_pipeline_spark.streaming import sketches as ssk
from counsel_data_pipeline_spark.streaming.microbatch import read_batches

SF = "/root/testdata/sf0.001"
# NOT the driver parquet's physical schema: the stream below reads the
# split files this test writes ITSELF from load_table's normalized output
# (session-TZ TIMESTAMP), so the declared type is stable regardless of
# driver testdata regenerations — no footer sniffing needed here. Streams
# over the raw driver files must go through streaming.windows.stream_events.
EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    """The events table split into 3 files, so one file per trigger
    yields 3 genuine micro-batches."""
    out = str(tmp_path_factory.mktemp("events_split"))
    load_table(spark, SF, "events").repartition(3).write.mode("overwrite").parquet(out)
    return out


def test_streamed_cms_equals_batch_cms(spark, split_events_dir):
    stream = read_batches(spark, EVENTS_SCHEMA, split_events_dir)
    partials = ssk.run_cms_stream(stream, "user_id", depth=4, width=64)

    n_batches = spark.read.parquet(partials).select("batch_id").distinct().count()
    assert n_batches >= 2, "expected multiple micro-batches"

    merged = ssk.merge_cms_partials(spark, partials)
    batch = cms_build(spark.read.parquet(split_events_dir), "user_id", 4, 64)

    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, batch.collect()))


def test_merged_sketch_estimates_match_batch_estimates(spark, split_events_dir):
    stream = read_batches(spark, EVENTS_SCHEMA, split_events_dir)
    partials = ssk.run_cms_stream(stream, "user_id", depth=4, width=64)
    merged = ssk.merge_cms_partials(spark, partials)

    df = spark.read.parquet(split_events_dir)
    probes = df.select("user_id").distinct()
    est_merged = cms_estimate(merged, probes, "user_id", 4, 64)
    est_batch = cms_estimate(cms_build(df, "user_id", 4, 64), probes, "user_id", 4, 64)
    assert sorted(map(tuple, est_merged.collect())) == sorted(
        map(tuple, est_batch.collect())
    )
    true = df.groupBy(F.col("user_id").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    joined = est_merged.join(true, "key").collect()
    assert all(r.est_cnt >= r.n for r in joined)
