"""Validation/quarantine operators (ops/validate.py V1-V3).

Golden anchor: the reference's published dataset passes all three gates
(it shipped through ajv + check-total in CI), so our checks must agree.
"""

import json

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops import validate as V

PUB = "/root/reference/public/clinics.json"


def _pub():
    return json.load(open(PUB))


_SCHEMA = (
    "county string, org_name string, address string, phone string, "
    "this_week int, next_week int, next_2_week int, next_3_week int, "
    "in_4_weeks int, teleconsultation boolean, has_quota boolean, "
    "lat double, lng double, formatted string, source string, approx string, "
    "components map<string,string>"
)


def _clinic_df(spark, rows):
    keep = [f.split(" ")[0] for f in _SCHEMA.split(", ")]
    recs = []
    for r in rows:
        d = {k: r.get(k) for k in keep}
        d["components"] = {
            str(k): str(v) for k, v in (r.get("components") or {}).items()
        } or None
        recs.append(d)
    return spark.createDataFrame(recs, _SCHEMA)


def test_published_dataset_passes_clinic_gate(spark):
    rows = _pub()["rows"]
    df = _clinic_df(spark, rows)
    split = V.split_valid(df)
    assert split.quarantined.count() == 0
    assert split.valid.count() == len(rows)


def test_violations_are_named_and_split(spark):
    df = spark.createDataFrame(
        [
            ("臺北市", "a診所", "addr", 1, True),      # fine
            (None, "b診所", "addr", 0, False),          # county null
            ("高雄市", None, "addr", -2, False),        # org null + negative
            ("臺中市", "d診所", "addr", 3, False),      # has_quota wrong
        ],
        "county string, org_name string, address string, in_4_weeks int, has_quota boolean",
    )
    split = V.split_valid(df)
    assert split.valid.count() == 1
    q = {r.org_name: sorted(r.violations) for r in split.quarantined.collect()}
    assert q["b診所"] == ["required_county"]
    assert q[None] == ["negative_in_4_weeks", "required_org_name"]
    assert q["d診所"] == ["has_quota_inconsistent"]


def test_check_total_variants():
    ok = V.check_total({"county": "x", "total": 2, "rows": [{}, {}]})
    assert ok.ok and ok.expected == 2

    bad = V.check_total({"total": 5, "rows": [{}]})
    assert not bad.ok and bad.expected == 5 and bad.actual == 1
    fixed = V.check_total({"total": 5, "rows": [{}]}, fix=True)
    assert fixed.fixed["total"] == 1

    meta = V.check_total({"meta": {"total": 3}, "data": [{}, {}]}, fix=True)
    assert not meta.ok and meta.fixed["meta"]["total"] == 2

    clinics_key = V.check_total({"total": 1, "clinics": [{}]})
    assert clinics_key.ok

    bare = V.check_total([{}, {}])
    assert bare.ok and bare.expected is None and bare.actual == 2

    no_total = V.check_total({"rows": [{}]}, fix=True)
    assert no_total.ok and no_total.fixed["total"] == 1


def test_check_total_shapes_follow_extract_rows():
    """check_total reads rows with the one wrapper-shape parser: the first
    of rows/data/clinics holding a list wins, and a document without a row
    list raises ValueError."""
    doc = {"total": 2, "rows": "not a list", "data": [{}, {}], "clinics": [{}]}
    assert V.check_total(doc).actual == 2
    assert V.check_total({"total": 1, "rows": [{}], "data": [{}, {}]}).actual == 1
    for bad in ({"total": 0}, {"rows": None}, "rows", None, 3):
        with pytest.raises(ValueError):
            V.check_total(bad)


def test_check_total_matches_reference_artifact():
    assert V.check_total(_pub()).ok


def test_published_dataset_geocode_gate_finds_carry_forward_contamination(spark):
    # The published artifact contains 19 cross-county mis-geocodes (e.g.
    # 臺中市 clinics located at 臺北市南港區 coordinates): rows whose geo
    # fields were CARRIED FORWARD from older snapshots without
    # re-validation (SURVEY §2.10 T6). The quarantine gate must flag
    # exactly those and pass the other 595.
    rows = _pub()["rows"]
    df = _clinic_df(spark, rows)
    split = V.split_geocoded(df)
    bad = split.quarantined.collect()
    assert len(bad) == 19
    assert all(r.violations == ["county_mismatch"] for r in bad)
    names = {r.org_name for r in bad}
    assert {"蛹之生心理諮商所", "清海醫院"} <= names
    assert split.valid.count() == len(rows) - 19


def test_geocode_gate_catches_cross_county(spark):
    df = spark.createDataFrame(
        [
            ("臺北市", "a", "臺北市x路1號", "opencage", "高雄市鼓山區", {"county": "高雄市"}),
            ("臺北市", "b", "臺北市x路2號", "opencage", "台北市中山區", {"county": "台北市"}),
            ("臺北市", "c", "臺北市x路3號", "centroid", None, {}),  # floor rows exempt
            ("臺北市", "d", "臺北市x路4號", None, None, None),       # un-geocoded exempt
        ],
        "county string, org_name string, address string, source string, "
        "formatted string, components map<string,string>",
    )
    split = V.split_geocoded(df)
    bad = [r.org_name for r in split.quarantined.collect()]
    assert bad == ["a"]
    assert split.valid.count() == 3
