"""Spark 4 Python Data Source for clinic landing JSON
(io/clinic_datasource.py): distributed, one partition per file, and the
clean/merge DAG over it must equal the driver-side reader path."""

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.io import clinic_datasource as ds
from counsel_data_pipeline_spark.io.sources import read_clinic_json
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS, clean_rows
from counsel_data_pipeline_spark.ops.dedup import uniq_by_key
from counsel_data_pipeline_spark.ops.merge import merge_sides

REF_OUT = "/root/reference/src/out"
COUNTY = "05_基隆市"


def _merge_yes_no(yes, no):
    """One county's merge: the yes/no clean sets ranked 0/1."""
    sides = yes.withColumn("__src", F.lit(0)).unionByName(no.withColumn("__src", F.lit(1)))
    return merge_sides(sides, by=[])


def test_datasource_partitions_and_lineage(spark):
    ds.register(spark)
    df = spark.read.format("clinicjson").load(f"{REF_OUT}/0*_yes_raw.json")
    assert df.rdd.getNumPartitions() == df.select("source_file").distinct().count() > 1
    # ingest_order restarts per file (insertion order is per-document)
    firsts = df.filter("ingest_order = 0").count()
    assert firsts == df.select("source_file").distinct().count()


def test_datasource_clean_merge_parity_with_driver_reader(spark):
    ds.register(spark)
    raw = spark.read.format("clinicjson").load(f"{REF_OUT}/{COUNTY}_*_raw.json")
    sides = {}
    for kind in ("yes", "no"):
        side = raw.filter(raw.source_file.endswith(f"{COUNTY}_{kind}_raw.json"))
        sides[kind] = clean_rows(uniq_by_key(side.drop("source_file")))
    got = _merge_yes_no(sides["yes"], sides["no"])

    exp = _merge_yes_no(
        clean_rows(uniq_by_key(read_clinic_json(spark, f"{REF_OUT}/{COUNTY}_yes_raw.json"))),
        clean_rows(uniq_by_key(read_clinic_json(spark, f"{REF_OUT}/{COUNTY}_no_raw.json"))),
    )
    key = lambda r: tuple(r[c] for c in CLEAN_COLUMNS)
    g = sorted(key(r) for r in got.select(*CLEAN_COLUMNS).collect())
    e = sorted(key(r) for r in exp.select(*CLEAN_COLUMNS).collect())
    assert len(g) > 0 and g == e


def test_datasource_empty_object_and_missing(spark, tmp_path):
    ds.register(spark)
    p = tmp_path / "empty.json"
    p.write_text("{}")  # the S5 empty default -> zero rows, full schema
    df = spark.read.format("clinicjson").load(str(p))
    assert df.count() == 0 and "countyName" in df.columns
    with pytest.raises(Exception, match="no files match"):
        spark.read.format("clinicjson").load(str(tmp_path / "nope*.json")).count()


def test_datasource_rejects_user_schema(spark, tmp_path):
    """A user .schema(...) would bind values positionally to the wrong
    names — rejected loudly instead."""
    ds.register(spark)
    p = tmp_path / "a.json"
    p.write_text('{"rows": [{"countyName": "x"}]}')
    with pytest.raises(Exception, match="does not support user-specified"):
        spark.read.format("clinicjson").schema(
            "orgName string, countyName string"
        ).load(str(p)).collect()


def test_datasource_path_with_comma_and_multi_path_load(spark, tmp_path):
    # ADVICE r8: 'path' is ONE glob — a comma in the filename must not
    # split it; a JSON list under the 'paths' option selects multiple
    # globs (Spark 4 varargs load() doesn't route to Python sources).
    ds.register(spark)
    p1 = tmp_path / "a,b.json"
    p1.write_text('{"total": 1, "rows": [{"countyName": "x"}]}')
    df = spark.read.format("clinicjson").load(str(p1))
    assert df.count() == 1 and "countyName" in df.columns

    p2 = tmp_path / "second.json"
    p2.write_text('{"total": 1, "rows": [{"countyName": "y"}]}')
    import json as _json

    multi = (
        spark.read.format("clinicjson")
        .option("paths", _json.dumps([str(p1), str(p2)]))
        .load()
    )
    assert multi.select("source_file").distinct().count() == 2
