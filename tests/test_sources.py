"""Source reads run no hidden Spark job and no Python worker.

``load_table`` infers a parquet schema once per file identity and reads
later calls with it declared; ``read_clinic_json`` builds its frame from a
JVM-side Dataset. Every input here is written by the test itself, and the
old reader (``spark.read.json`` over ``sc.parallelize``) serves as the
oracle for the clinic frames.
"""

import datetime as dt
import json
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from counsel_data_pipeline_spark.io.sources import extract_rows, load_table, read_clinic_json
from counsel_data_pipeline_spark.schemas import RAW_GRID_ROW


def _jobs(spark, fn):
    """(fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-sources-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------------------------------
# load_table: memoized parquet schemas
# ---------------------------------------------------------------------------

_TS = [dt.datetime(2024, 3, 1, 12, 0, 0, 123456), dt.datetime(2024, 3, 2, 0, 30, 5, 7)]


@pytest.mark.parametrize("ts_unit", ["ns", "us"])
def test_second_load_runs_no_job_and_events_ts_stays_timestamp(spark, tmp_path, ts_unit):
    sf = str(tmp_path)
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_custkey": [10, 20]}), f"{sf}/orders.parquet")
    pq.write_table(
        pa.table({
            "event_id": [1, 2],
            "ts": pa.array(_TS, pa.timestamp(ts_unit)),
            "value": [0.5, 1.5],
        }),
        f"{sf}/events.parquet",
        coerce_timestamps=None if ts_unit == "ns" else "us",
    )
    for name in ("orders", "events"):
        first, jobs_first = _jobs(spark, lambda: load_table(spark, sf, name))
        second, jobs_second = _jobs(spark, lambda: load_table(spark, sf, name))
        assert jobs_first, f"{name}: the first read infers its schema with a job"
        assert jobs_second == [], f"{name}: a second read of the same file must run no job"
        assert second.schema == first.schema
        assert second.collect() == first.collect()
    events = load_table(spark, sf, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    assert [r.ts for r in events.orderBy("event_id").collect()] == _TS


def test_self_join_keeps_distinct_relations(spark, tmp_path):
    sf = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2, 3], "v": [10, 20, 30]}), f"{sf}/orders.parquet")
    a = load_table(spark, sf, "orders")
    b = load_table(spark, sf, "orders")
    joined = a.alias("a").join(b.alias("b"), a["k"] == b["v"] / 10)
    assert joined.count() == 3


def test_rewritten_file_table_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    pq.write_table(pa.table({"o_orderkey": [1, 2]}), path)
    assert load_table(spark, sf, "orders").columns == ["o_orderkey"]
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_comment": ["a", "b"]}), path)
    df = load_table(spark, sf, "orders")
    assert df.columns == ["o_orderkey", "o_comment"]
    assert sorted(map(tuple, df.collect())) == [(1, "a"), (2, "b")]


def test_rewritten_directory_table_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/customer.parquet"
    spark.createDataFrame([(1,), (2,)], "c_custkey bigint").write.parquet(path)
    assert load_table(spark, sf, "customer").columns == ["c_custkey"]
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "c_custkey bigint, c_name string"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, sf, "customer")
    assert df.columns == ["c_custkey", "c_name"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


# ---------------------------------------------------------------------------
# read_clinic_json: JVM-built frames
# ---------------------------------------------------------------------------

_GRID_ROWS = [
    {
        "countyName": "臺北市",
        "orgName": '<a href="https://example.org/a?x=1&amp;y=2">甲診所</a>',
        "phone": "02-1234-5678",
        "address": "臺北市中正區某路1號",
        "thisWeekCount": 3,
        "nextWeekCount": "4",
        "next2WeekCount": None,
        "next3WeekCount": "",
        "in4WeekTotleCount": 7,
        "editDate": "2026/08/14",
    },
    {
        "countyName": "臺北市",
        "orgName": '<a href="無">乙診所</a>',
        "phone": "",
        "address": "臺北市大安區某街2號",
        "thisWeekCount": "",
        "nextWeekCount": 0,
        "next2WeekCount": "12",
        "next3WeekCount": None,
        "in4WeekTotleCount": "0",
    },
]
_GEO_ROWS = [
    {
        "county": "臺北市",
        "org_name": "甲診所",
        "lat": 25.0330,
        "lng": 121.5654,
        "components": [
            {"long_name": "臺北市", "types": ["administrative_area_level_1", "political"]},
            {"long_name": "中正區", "types": ["administrative_area_level_3"]},
        ],
    },
    {"county": "臺北市", "org_name": "乙診所", "lat": None, "lng": None, "components": []},
]


def _oracle(spark, doc, default_empty=False):
    """The clinic frame as read_clinic_json built it before: rows as JSON
    lines parallelized into spark.read.json, or the raw-grid schema when
    the document has no rows."""
    rows = extract_rows(doc, default_empty=default_empty)
    if not rows:
        return spark.createDataFrame([], schema=RAW_GRID_ROW)
    lines = [json.dumps({**r, "ingest_order": i}, ensure_ascii=False) for i, r in enumerate(rows)]
    return spark.read.json(spark.sparkContext.parallelize(lines))


@pytest.mark.parametrize(
    "doc",
    [
        _GRID_ROWS,
        {"county": "臺北市", "total": 2, "rows": _GRID_ROWS},
        {"data": _GEO_ROWS},
        {"clinics": _GRID_ROWS + _GEO_ROWS},
    ],
    ids=["bare-array", "rows", "data", "clinics"],
)
def test_clinic_json_matches_old_reader_without_python_rdd(spark, tmp_path, doc):
    path = tmp_path / "clinics.json"
    path.write_text(json.dumps(doc, ensure_ascii=False, indent=2), encoding="utf-8")
    df = read_clinic_json(spark, str(path))
    rdd = df._jdf.queryExecution().toRdd()
    assert "PythonRDD" not in rdd.toDebugString()
    assert rdd.getNumPartitions() == 1
    want = _oracle(spark, doc)
    assert df.schema == want.schema
    assert df.orderBy("ingest_order").collect() == want.orderBy("ingest_order").collect()


def test_clinic_json_empty_default_keeps_raw_grid_schema(spark, tmp_path):
    path = tmp_path / "prev.json"
    path.write_text("{}", encoding="utf-8")
    df = read_clinic_json(spark, str(path), default_empty=True)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert df.schema == _oracle(spark, {}, default_empty=True).schema == RAW_GRID_ROW
    assert df.count() == 0
    with pytest.raises(ValueError):
        read_clinic_json(spark, str(path))


def test_clinic_json_declared_schema_keeps_local_row_typing(spark, tmp_path):
    schema = "orgName string, thisWeekCount bigint, ingest_order bigint"
    good = [{"orgName": "甲", "thisWeekCount": 3}, {"orgName": None}]
    path = tmp_path / "typed.json"
    path.write_text(json.dumps({"rows": good}, ensure_ascii=False), encoding="utf-8")
    df = read_clinic_json(spark, str(path), schema=schema)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    indexed = [{**r, "ingest_order": i} for i, r in enumerate(good)]
    want = spark.createDataFrame(indexed, schema=schema)
    assert df.schema == want.schema
    assert df.collect() == want.collect()
    # a numeric string in a bigint field is rejected, as createDataFrame does
    bad = [{"orgName": "乙", "thisWeekCount": "4"}]
    path.write_text(json.dumps(bad, ensure_ascii=False), encoding="utf-8")
    with pytest.raises(TypeError) as got:
        read_clinic_json(spark, str(path), schema=schema)
    with pytest.raises(TypeError) as expected:
        spark.createDataFrame([{**bad[0], "ingest_order": 0}], schema=schema)
    assert type(got.value) is type(expected.value)
