"""Snapshot diff/carry-forward tests.

Golden: /root/reference/out/taiwan_merged_clean.json (618 rows, "today") vs
/root/reference/public/clinics.json (614 rows, snapshot) must split into
615 carried + the exact 3-row delta observed in
/root/reference/.tmp-geodiff/need-geocode.json; recombining with the
committed need-geocoded.json reassembles all 618 in clean order.

Synthetic: the FIXTURES §1.6 edge matrix — phone wins over domain; a
coordinate-less phone bucket BLOCKS the domain fallback; null-coord
matches don't carry; brand-new rows land in need_geo.
"""

import json
import re

import pytest

from counsel_data_pipeline_spark.io.sources import extract_rows, read_clinic_json
from counsel_data_pipeline_spark.ops.diff import GEO_COLS, recombine, snapshot_split

CLEAN = "/root/reference/out/taiwan_merged_clean.json"
PREV = "/root/reference/public/clinics.json"
DELTA = "/root/reference/.tmp-geodiff/need-geocode.json"
NEWLY = "/root/reference/.tmp-geodiff/need-geocoded.json"


@pytest.fixture(scope="module")
def split(spark):
    clean = read_clinic_json(spark, CLEAN)
    prev = read_clinic_json(spark, PREV).withColumnRenamed("ingest_order", "prev_order")
    carried, need_geo = snapshot_split(clean, prev)
    return clean, prev, carried, need_geo


def test_split_matches_observed_delta(split):
    _, _, carried, need_geo = split
    got = sorted(
        (r["county"], r["org_name"], r["phone"])
        for r in (row.asDict() for row in need_geo.collect())
    )
    exp = sorted(
        (r["county"], r["org_name"], r["phone"])
        for r in extract_rows(json.load(open(DELTA)))
    )
    assert got == exp
    assert carried.count() == 618 - len(exp)


def test_carried_rows_inherit_prev_coordinates(split):
    _, prev, carried, _ = split
    prev_rows = {
        (r["county"], r["org_name"]): r
        for r in (row.asDict() for row in prev.collect())
    }
    sample = [row.asDict() for row in carried.limit(50).collect()]
    for r in sample:
        assert r["lat"] is not None and r["lng"] is not None


def test_recombine_reassembles_all_rows(spark, split):
    # (The reference's committed need-geocoded.json is from a DIFFERENT run
    # than need-geocode.json, so synthesize the enrichment of the real
    # 3-row delta instead: stub coordinates keyed by position.)
    _, _, carried, need_geo = split
    from pyspark.sql import functions as F

    newly = need_geo.withColumn("lat", F.lit(10.0) + F.col("ingest_order")).withColumn(
        "lng", F.lit(100.0) + F.col("ingest_order")
    )
    final = recombine(carried, newly)
    rows = [r.asDict() for r in final.orderBy("ingest_order").collect()]
    assert len(rows) == 618
    delta_names = {r["org_name"] for r in extract_rows(json.load(open(DELTA)))}
    n_delta = n_coords = 0
    for r in rows:
        if r["org_name"] in delta_names:
            n_delta += 1
            assert r["lat"] == 10.0 + r["ingest_order"], r["org_name"]
        elif r["lat"] is not None:
            n_coords += 1
    assert n_delta == 3
    assert n_coords == 615


def _mk_clean(spark, rows):
    from pyspark.sql import functions as F

    data = [
        {
            "county": c, "org_name": o, "phone": p, "org_url": u, "map_url": m,
            "address": a, "ingest_order": i,
        }
        for i, (c, o, p, u, m, a) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "county string, org_name string, phone string, org_url string, "
        "map_url string, address string, ingest_order long",
    )


def _mk_prev(spark, rows):
    data = [
        {
            "county": c, "org_name": o, "phone": p, "org_url": u, "map_url": m,
            "address": "x", "lat": lat, "lng": lng, "confidence": 9,
            "formatted": f"fmt-{o}", "components": None, "source": "opencage",
            "approx": None, "usedQuery": None, "note": None, "prev_order": i,
        }
        for i, (c, o, p, u, m, lat, lng) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "county string, org_name string, phone string, org_url string, "
        "map_url string, address string, lat double, lng double, "
        "confidence int, formatted string, components map<string,string>, "
        "source string, approx string, usedQuery string, note string, "
        "prev_order long",
    )


def test_synthetic_edge_matrix(spark):
    clean = _mk_clean(spark, [
        # 0: phone match (also domain match — phone must win)
        ("A", "both", "02-111", "https://site-a.com/", None, "addr"),
        # 1: domain-only match (new phone)
        ("A", "dom", "02-999", "https://site-b.com/x", None, "addr"),
        # 2: phone bucket exists but only null-coord rows → BLOCKS domain fallback
        ("A", "blocked", "02-222", "https://site-c.com/", None, "addr"),
        # 3: brand new
        ("A", "new", "02-333", None, None, "addr"),
        # 4: no phone, map_url domain fallback
        ("A", "mapdom", None, None, "https://www.site-d.com/maps", "addr"),
    ])
    prev = _mk_prev(spark, [
        ("A", "p-phone", "(02)111", "https://other.com/", None, 1.0, 2.0),
        ("A", "p-siteA", "02-000", "https://site-a.com/", None, 3.0, 4.0),
        ("A", "p-siteB", "02-888", "https://site-b.com/y", None, 5.0, 6.0),
        ("A", "p-null", "02 222", "https://site-c.com/", None, None, None),
        ("A", "p-siteD", "02-777", "https://site-d.com/", None, 7.0, 8.0),
    ])
    carried, need = snapshot_split(clean, prev)
    carried_map = {r["org_name"]: r.asDict() for r in carried.collect()}
    need_names = {r["org_name"] for r in need.collect()}

    assert carried_map["both"]["lat"] == 1.0  # phone beat domain (would be 3.0)
    assert carried_map["dom"]["lat"] == 5.0
    assert carried_map["mapdom"]["lat"] == 7.0  # via map_url, www. stripped
    assert need_names == {"blocked", "new"}  # null-coord phone bucket blocks domain


def test_recombine_duplicate_key3_takes_first_carried_row_wholesale(spark):
    """Reference: finalRows.push(carried) pushes the ENTIRE first matching
    carryFromPrev entry (geocode-diff-merge.js:148-149) — so of two clean
    rows sharing key3, the second is replaced wholesale by the first's
    carried row, descriptive fields included."""
    from pyspark.sql import functions as F

    clean = _mk_clean(spark, [
        ("A", "first", "02-111", "https://dup.com/", None, "addr-1"),
        ("A", "second", "02-111", "https://dup.com/", None, "addr-2"),
        ("A", "other", "02-999", None, None, "addr-3"),
    ])
    prev = _mk_prev(spark, [
        ("A", "p-dup", "02 111", "https://dup.com/", None, 1.5, 2.5),
    ])
    carried, need = snapshot_split(clean, prev)
    newly = need.withColumn("lat", F.lit(99.0)).withColumn("lng", F.lit(98.0))
    final = recombine(carried, newly)
    rows = [r.asDict() for r in final.orderBy("ingest_order").collect()]
    assert len(rows) == 3
    # both dup-key rows collapse to the FIRST carried row's full contents
    assert rows[0]["org_name"] == "first" and rows[0]["address"] == "addr-1"
    assert rows[1]["org_name"] == "first" and rows[1]["address"] == "addr-1"
    assert rows[0]["lat"] == 1.5 and rows[1]["lat"] == 1.5
    # the unmatched row keeps its own fields + newly geo
    assert rows[2]["org_name"] == "other" and rows[2]["lat"] == 99.0


def _plan_nodes(df):
    """Operator names of the optimized logical plan, one per tree line."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [re.sub(r"^[\s:+|-]*", "", line).split(" ")[0] for line in plan.splitlines()], plan


def test_recombine_plan_is_one_aggregate_and_one_join(spark):
    """The split's ``__k3`` is reused: recombine adds one aggregate and one
    join and derives no key (no URL parsing, no phone normalization)."""
    from counsel_data_pipeline_spark.schemas import GEO_COLUMNS

    geo = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in GEO_COLUMNS)
    schema = f"org_name string, phone string, org_url string, ingest_order long, __k3 string, {geo}"
    nulls = (None,) * len(GEO_COLS)
    carried = spark.createDataFrame(
        [("a", "02-1", "https://a.com/", 0, "021|a.com", 1.0, 2.0, *nulls[2:])], schema
    )
    newly = spark.createDataFrame(
        [("b", "03-2", None, 1, "032|", *nulls), ("c", "03-2", None, 2, "032|", *nulls)], schema
    )
    final = recombine(carried, newly)
    assert not [c for c in final.columns if c.startswith("__")]
    names, plan = _plan_nodes(final)
    assert names.count("Aggregate") == 1, plan
    assert names.count("Join") == 1, plan
    assert "parse_url" not in plan and "regexp_replace" not in plan, plan
