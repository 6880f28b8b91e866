"""Golden tests: reproduce the reference's committed per-county outputs
(raw → clean → dedup → merge → sinks) byte-for-byte-ish.

Fixtures: /root/reference/src/out/01_臺北市_{yes,no}_raw.json must produce
01_臺北市_merged_clean.json (value-equal rows, same order) and
01_臺北市_merged_clean.csv (exact text). See SURVEY §5.6 / FIXTURES §1.7.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.io.sinks import csv_text, collect_rows
from counsel_data_pipeline_spark.io.sources import extract_rows, read_clinic_json
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS, clean_rows
from counsel_data_pipeline_spark.ops.dedup import uniq_by_key
from counsel_data_pipeline_spark.ops.merge import merge_sides

REF_OUT = "/root/reference/src/out"


def _merge_yes_no(yes, no):
    """One county's merge: the yes/no clean sets ranked 0/1."""
    sides = yes.withColumn("__src", F.lit(0)).unionByName(no.withColumn("__src", F.lit(1)))
    return merge_sides(sides, by=[])


COUNTIES = [
    "01_臺北市", "02_臺中市", "03_臺南市", "04_高雄市", "05_基隆市",
    "06_新竹市", "07_嘉義市", "08_新北市", "09_桃園市", "10_新竹縣",
    "11_宜蘭縣", "12_苗栗縣", "13_彰化縣", "14_南投縣", "15_雲林縣",
    "16_嘉義縣", "17_屏東縣", "18_澎湖縣", "19_花蓮縣", "20_臺東縣",
    "21_金門縣", "22_連江縣",
]


def _load(spark, name):
    return read_clinic_json(spark, os.path.join(REF_OUT, name))


@pytest.mark.parametrize("county", COUNTIES)
def test_clean_merge_reproduces_golden_json(spark, county):
    yes = uniq_by_key(_load(spark, f"{county}_yes_raw.json"))
    no = uniq_by_key(_load(spark, f"{county}_no_raw.json"))
    merged = _merge_yes_no(clean_rows(yes), clean_rows(no))
    got = collect_rows(merged.select("merge_order", *CLEAN_COLUMNS), order_col="merge_order")

    expected = json.load(open(os.path.join(REF_OUT, f"{county}_merged_clean.json")))
    exp_rows = extract_rows(expected)
    assert len(got) == expected["total"] == len(exp_rows)
    for i, (g, e) in enumerate(zip(got, exp_rows)):
        assert g == e, f"row {i} mismatch:\n got={g}\n exp={e}"


@pytest.mark.parametrize("county", COUNTIES)
def test_clean_merge_reproduces_golden_csv(spark, county):
    yes = uniq_by_key(_load(spark, f"{county}_yes_raw.json"))
    no = uniq_by_key(_load(spark, f"{county}_no_raw.json"))
    merged = _merge_yes_no(clean_rows(yes), clean_rows(no))
    rows = collect_rows(merged.select("merge_order", *CLEAN_COLUMNS), order_col="merge_order")

    got = csv_text(rows, CLEAN_COLUMNS)
    expected = open(os.path.join(REF_OUT, f"{county}_merged_clean.csv"), encoding="utf-8").read()
    assert got == expected.rstrip("\n") or got == expected
