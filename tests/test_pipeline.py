"""End-to-end pipeline DAGs (pipeline.py) against the reference's real
committed artifacts.

§3.1: per-county raw → merged union ordering must equal the concatenation
of the committed per-county golden outputs.
§3.2: today's clean (618) vs published snapshot (614) → 3-row delta,
publish=True, carried coordinates intact, delta enriched via cache+stub.

One generated batch (``perfbench/clinic_gen``) runs crawl → diff/enrich →
publish with the batch's resource footprint pinned.
"""

import json
import os
import sys

from pyspark.sql import functions as F

from counsel_data_pipeline_spark import pipeline as P
from counsel_data_pipeline_spark.io.sources import extract_rows, read_clinic_json
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS
from counsel_data_pipeline_spark.ops.enrich import StubResolver
from test_enrich import _cache_df

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
import clinic_gen  # noqa: E402

REF_OUT = "/root/reference/src/out"
CLEAN = "/root/reference/out/taiwan_merged_clean.json"
PREV = "/root/reference/public/clinics.json"
DELTA = "/root/reference/.tmp-geodiff/need-geocode.json"


def test_crawl_clean_merge_union_order(spark):
    counties = ["01_臺北市", "05_基隆市", "07_嘉義市"]
    files = [
        (c, os.path.join(REF_OUT, f"{c}_yes_raw.json"), os.path.join(REF_OUT, f"{c}_no_raw.json"))
        for c in counties
    ]
    res = P.crawl_clean_merge(spark, files)
    assert set(res.per_county) == set(counties)

    got = [
        {k: v for k, v in r.asDict(recursive=True).items() if k in CLEAN_COLUMNS}
        for r in res.taiwan.orderBy("taiwan_order").collect()
    ]
    exp = []
    for c in counties:
        exp.extend(extract_rows(json.load(open(os.path.join(REF_OUT, f"{c}_merged_clean.json")))))
    assert len(got) == len(exp)
    for i, (g, e) in enumerate(zip(got, exp)):
        assert g == e, f"row {i} mismatch"


def test_incremental_dag_full_run(spark):
    clean = read_clinic_json(spark, CLEAN)
    prev = read_clinic_json(spark, PREV).withColumnRenamed("ingest_order", "prev_order")
    res = P.diff_enrich_publish(clean, prev, _cache_df(spark), StubResolver())

    # T1/A4/K5: the observed steady-state delta gates publish
    delta_names = {r["org_name"] for r in extract_rows(json.load(open(DELTA)))}
    assert res.change_count == 3 and res.publish
    assert {r.org_name for r in res.delta.collect()} == delta_names

    # J2 wholesale carry replacement (geocode-diff-merge.js:148-149
    # ``finalRows.push(carried)``): every clean row sharing a key3 with a
    # carried row is replaced by the FIRST carried row of that key3, so the
    # 618 clean rows collapse to 596 unique org_names (10 duplicate-key3
    # groups covering 29 rows). Both numbers re-derived by replaying the
    # reference loop in pure Python over the same fixtures.
    final_rows = res.final.collect()
    assert len(final_rows) == 618
    final = {r.org_name: r for r in final_rows}
    assert len(final) == 596

    # carried rows: coordinates inherited from prev (T6 carry-forward)
    prev_rows = {r["org_name"]: r for r in extract_rows(json.load(open(PREV)))}
    carried_checked = 0
    for name, r in final.items():
        if name in prev_rows and name not in delta_names and prev_rows[name].get("lat"):
            if carried_checked < 100:
                assert r.lat == prev_rows[name]["lat"], name
                carried_checked += 1
    assert carried_checked == 100

    # delta rows got enriched (stub or cache — never left null)
    for name in delta_names:
        assert final[name].lat is not None

    # V1 passes everything; V3 flags only the known carried contamination
    assert res.schema_gate.quarantined.count() == 0
    assert res.geocode_gate.quarantined.count() <= 25


def test_incremental_dag_empty_delta_early_exit(spark):
    prev = spark.createDataFrame(
        [("臺北市", "a所", "臺北市x路1號", "02-1111", 25.0, 121.5, 9, "f", {}, "opencage", None, "q", None, 0)],
        "county string, org_name string, address string, phone string, "
        "lat double, lng double, confidence long, formatted string, "
        "components map<string,string>, source string, approx string, "
        "usedQuery string, note string, prev_order long",
    )
    clean = spark.createDataFrame(
        [("臺北市", "a所", "臺北市x路1號", "02 1111", 0)],
        "county string, org_name string, address string, phone string, ingest_order long",
    )
    res = P.diff_enrich_publish(clean, prev, None, StubResolver())
    assert res.change_count == 0 and not res.publish
    [r] = res.final.collect()
    assert (r.lat, r.lng) == (25.0, 121.5)   # carried through, no enrichment
    assert res.cache.count() == 0


def test_incremental_dag_cold_start_empty_snapshot(spark):
    # S5 semantics: missing previous snapshot → empty frame → EVERY clean
    # row is delta; the whole batch goes through enrichment (here: stub).
    from counsel_data_pipeline_spark.ops.diff import GEO_COLS
    from counsel_data_pipeline_spark.schemas import CLINIC_GEOCODED
    from pyspark.sql.types import LongType, StructField, StructType

    prev = spark.createDataFrame(
        [], StructType(CLINIC_GEOCODED.fields + [StructField("prev_order", LongType())])
    )
    clean = spark.createDataFrame(
        [
            ("臺北市", f"o{i}", f"臺北市中山區南京東路2段{i}號", f"02-000{i}", i)
            for i in range(1, 6)
        ],
        "county string, org_name string, address string, phone string, ingest_order long",
    )
    res = P.diff_enrich_publish(clean, prev, None, StubResolver())
    assert res.change_count == 5 and res.publish
    rows = res.final.collect()
    assert len(rows) == 5
    assert all(r.lat is not None for r in rows)
    assert res.cache.count() == 5  # every resolved row wrote a cache entry


def test_crawl_clean_merge_whole_taiwan_golden(spark):
    # Capstone M1 golden: all 22 counties through the full §3.1 DAG must
    # reproduce the committed taiwan_merged_clean.json exactly, in order.
    from test_clean_merge_golden import COUNTIES

    files = [
        (c, os.path.join(REF_OUT, f"{c}_yes_raw.json"), os.path.join(REF_OUT, f"{c}_no_raw.json"))
        for c in COUNTIES
    ]
    res = P.crawl_clean_merge(spark, files)
    got = [
        {k: v for k, v in r.asDict(recursive=True).items() if k in CLEAN_COLUMNS}
        for r in res.taiwan.orderBy("taiwan_order").collect()
    ]
    expected = json.load(open(os.path.join(REF_OUT, "taiwan_merged_clean.json")))
    exp_rows = extract_rows(expected)
    assert len(got) == expected["total"] == len(exp_rows)
    for i, (g, e) in enumerate(zip(got, exp_rows)):
        assert g == e, f"row {i} mismatch:\n got={g}\n exp={e}"


def test_generated_batch_persists_one_frame_and_publishes_every_clinic(spark, tmp_path):
    from counsel_data_pipeline_spark.io.object_store import LocalFSStore
    from counsel_data_pipeline_spark.io.sinks import collect_rows, wrapper_json
    from counsel_data_pipeline_spark.ops.enrich import CACHE_SCHEMA

    inp = clinic_gen.generate(str(tmp_path / "landing"), 7, n_counties=2, clinics_per_county=30)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()

    merged = P.crawl_clean_merge(spark, inp.county_files)
    rows = collect_rows(merged.taiwan.select(*CLEAN_COLUMNS, "taiwan_order"), order_col="taiwan_order")
    clean_path = tmp_path / "taiwan_merged_clean.json"
    clean_path.write_text(wrapper_json(rows), encoding="utf-8")
    clean = read_clinic_json(spark, str(clean_path))
    prev = read_clinic_json(spark, inp.prev_path, default_empty=True).withColumnRenamed(
        "ingest_order", "prev_order"
    )
    with open(inp.cache_path, encoding="utf-8") as f:
        cache_rows = [{"query": k, **v} for k, v in json.load(f).items()]
    cache = spark.createDataFrame(cache_rows, CACHE_SCHEMA)
    store = LocalFSStore(str(tmp_path / "store"))
    res = P.diff_enrich_publish(clean, prev, cache, StubResolver())
    receipt = P.publish_to_store(
        res, store, current_key="public/clinics.json", snapshot_prefix="snapshots", ts="20261016T070000Z"
    )
    # the gates and the upserted cache read the batch after its publish
    assert res.schema_gate.quarantined.count() == 0
    assert res.geocode_gate.valid.count() + res.geocode_gate.quarantined.count() == inp.n_clinics
    assert res.cache.count() >= len(cache_rows)  # the upsert loses no entry

    assert persistent().size() - before == 1
    assert res.change_count == inp.change_count
    # the recombine key stays inside the batch
    assert not [c for c in res.delta.columns + res.final.columns if c.startswith("__")]
    doc = json.loads(store.get(receipt.current_key))
    assert doc["total"] == len(doc["rows"]) == inp.n_clinics
