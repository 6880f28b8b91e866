"""The daily crawl as one plan (pipeline.crawl_clean_merge).

The single-plan crawl must publish the same bytes as composing the public
ops county by county (read → uniq_by_key → clean_rows → merge_sides over
the yes/no union, county-ranked union), on generated landing zones and on
hostile inputs; its job count must not grow with the county count.
``keyed_merge``'s one-aggregate first-row pick is checked against the
``row_number`` window it replaced, with null keys and null and tied order
values.
"""

import functools
import json
import os
import sys

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark import pipeline as P
from counsel_data_pipeline_spark.io.sinks import collect_rows, wrapper_json
from counsel_data_pipeline_spark.io.sources import read_clinic_json
from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS, clean_rows
from counsel_data_pipeline_spark.ops.dedup import uniq_by_key
from counsel_data_pipeline_spark.ops.merge import keyed_merge, merge_sides
from counsel_data_pipeline_spark.schemas import CLINIC, RAW_GRID_ROW

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
import clinic_gen  # noqa: E402


def _per_county(spark, county_files) -> DataFrame:
    parts = []
    for rank, (_, yes, no) in enumerate(county_files):
        yes_c, no_c = (clean_rows(uniq_by_key(read_clinic_json(spark, p))) for p in (yes, no))
        sides = yes_c.withColumn("__src", F.lit(0)).unionByName(no_c.withColumn("__src", F.lit(1)))
        merged = merge_sides(sides, by=[])
        order = F.struct(F.lit(rank).alias("county_rank"), F.col("merge_order").alias("local"))
        parts.append(merged.withColumn("taiwan_order", order))
    return functools.reduce(DataFrame.unionByName, parts)


def _wrapper(taiwan: DataFrame) -> bytes:
    rows = collect_rows(taiwan.select(*CLEAN_COLUMNS, "taiwan_order"), order_col="taiwan_order")
    return wrapper_json(rows).encode("utf-8")


def _assert_same_as_per_county(spark, county_files) -> int:
    res = P.crawl_clean_merge(spark, county_files)
    got = _wrapper(res.taiwan)
    assert got == _wrapper(_per_county(spark, county_files))
    # per_county frames are the taiwan frame split by county, in order
    rows = []
    for county, _, _ in county_files:
        part = collect_rows(res.per_county[county].select(*CLEAN_COLUMNS, "merge_order"),
                            order_col="merge_order")
        rows.extend(part)
    assert wrapper_json(rows).encode("utf-8") == got
    return len(json.loads(got)["rows"])


@pytest.mark.parametrize("n_counties", [1, 4])
@pytest.mark.parametrize("seed", [3, 4])
def test_crawl_matches_per_county_composition(spark, tmp_path, n_counties, seed):
    inp = clinic_gen.generate(str(tmp_path), seed, n_counties=n_counties, clinics_per_county=12)
    assert _assert_same_as_per_county(spark, inp.county_files) == inp.n_clinics


def _landing(tmp_path, grids: dict[str, tuple[list, list]]):
    files = []
    for county, (yes, no) in grids.items():
        paths = []
        for side, rows in (("yes", yes), ("no", no)):
            p = tmp_path / f"{county}_{side}_raw.json"
            p.write_text(json.dumps(rows, ensure_ascii=False), encoding="utf-8")
            paths.append(str(p))
        files.append((county, *paths))
    return files


def _grid_row(county, name, count):
    return {
        "countyName": county, "orgName": f"<a href='https://{name}.tw/'>{name}</a>",
        "phone": "02-1234-5678", "address": f"{county}中山路1號", "payDetail": "自費",
        "thisWeekCount": count, "nextWeekCount": count, "next2WeekCount": None,
        "next3WeekCount": "", "in4WeekTotleCount": count, "editDate": "2026/10/01",
        "strTeleconsultation": "是",
    }


def test_crawl_with_an_empty_no_grid(spark, tmp_path):
    files = _landing(tmp_path, {
        "臺北市": ([_grid_row("臺北市", "a", 3), _grid_row("臺北市", "b", 0)], []),
        "基隆市": ([_grid_row("基隆市", "c", 1)], [_grid_row("基隆市", "c", 0)]),
    })
    assert _assert_same_as_per_county(spark, files) == 3


def test_crawl_with_every_file_empty(spark, tmp_path):
    files = _landing(tmp_path, {"臺北市": ([], []), "基隆市": ([], [])})
    raw = read_clinic_json(spark, [p for _, y, n in files for p in (y, n)])
    assert raw.schema.fieldNames() == [*RAW_GRID_ROW.fieldNames(), "file_index"]
    assert _assert_same_as_per_county(spark, files) == 0


def test_crawl_with_count_number_in_one_file_and_string_in_another(spark, tmp_path):
    as_str = lambda r: {k: str(v) if k.endswith("Count") and v is not None else v  # noqa: E731
                        for k, v in r.items()}
    files = _landing(tmp_path, {
        "臺北市": ([_grid_row("臺北市", "a", 3), _grid_row("臺北市", "b", 2)],
                 [_grid_row("臺北市", "b", 5)]),
        "基隆市": ([as_str(_grid_row("基隆市", "c", 4))],
                 [as_str(_grid_row("基隆市", "d", 0)), as_str(_grid_row("基隆市", "c", 7))]),
    })
    assert _assert_same_as_per_county(spark, files) == 4
    got = json.loads(_wrapper(P.crawl_clean_merge(spark, files).taiwan))["rows"]
    assert [(r["org_name"], r["in_4_weeks"]) for r in got] == [("a", 3), ("b", 5), ("c", 7), ("d", 0)]


def test_clean_rows_emit_the_declared_clinic_contract(spark, tmp_path):
    """clean_rows' output, minus the reader's ingest_order/file_index, has
    exactly schemas.CLINIC's names and types in order, whether the grid's
    counts arrive as numbers or as strings."""
    as_str = lambda r: {k: str(v) if k.endswith("Count") and v is not None else v  # noqa: E731
                        for k, v in r.items()}
    want = [(f.name, f.dataType) for f in CLINIC]
    for sub, conv in (("num", lambda r: r), ("str", as_str)):
        (tmp_path / sub).mkdir()
        files = _landing(tmp_path / sub, {"臺北市": ([conv(_grid_row("臺北市", "a", 3))], [])})
        raw = read_clinic_json(spark, [p for _, y, n in files for p in (y, n)])
        out = clean_rows(raw)
        got = [(f.name, f.dataType) for f in out.schema if f.name not in ("ingest_order", "file_index")]
        assert got == want, sub
        assert out.count() == 1


def test_read_clinic_json_tags_files_in_one_inference_job(spark, tmp_path):
    files = _landing(tmp_path, {
        "臺北市": ([_grid_row("臺北市", "a", 3), _grid_row("臺北市", "b", 2)], []),
        "基隆市": ([_grid_row("基隆市", "c", 4)], [_grid_row("基隆市", "d", 0)]),
    })
    sc = spark.sparkContext
    sc.setJobGroup("read-clinic-json-list", "read")
    try:
        df = read_clinic_json(spark, [p for _, y, n in files for p in (y, n)])
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("read-clinic-json-list")) == 1
    got = sorted((r.file_index, r.ingest_order, r.countyName) for r in df.collect())
    assert got == [(0, 0, "臺北市"), (0, 1, "臺北市"), (2, 0, "基隆市"), (3, 0, "基隆市")]


def _crawl_jobs(spark, county_files, group) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        _wrapper(P.crawl_clean_merge(spark, county_files).taiwan)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_crawl_jobs_do_not_grow_with_counties(spark, tmp_path):
    one = clinic_gen.generate(str(tmp_path / "one"), 5, n_counties=1, clinics_per_county=40)
    four = clinic_gen.generate(str(tmp_path / "four"), 5, n_counties=4, clinics_per_county=10)
    assert _crawl_jobs(spark, one.county_files, "crawl-1") == _crawl_jobs(spark, four.county_files, "crawl-4")


# ---------------------------------------------------------------------------
# keyed_merge against the row_number window it replaced
# ---------------------------------------------------------------------------


def _window_merge(primary, secondary, key, max_cols, or_cols, order_col) -> DataFrame:
    """The former plan: row_number() over (source rank, order) joined to a
    groupBy of the max/OR columns."""
    unioned = primary.withColumn("__src", F.lit(0)).unionByName(
        secondary.withColumn("__src", F.lit(1))
    ).withColumn("__key", key)
    w = Window.partitionBy("__key").orderBy("__src", order_col)
    base = [c for c in unioned.columns if not c.startswith("__")]
    firsts = (unioned.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
              .select("__key", "__src", *[c for c in base if c not in max_cols + or_cols]))
    aggs = unioned.groupBy("__key").agg(*[F.max(c).alias(c) for c in max_cols + or_cols])
    return firsts.join(aggs, "__key").drop("__key")


def test_keyed_merge_matches_window_with_null_and_tied_orders(spark):
    schema = "k string, o long, v string, n int, t boolean"
    primary = spark.createDataFrame([
        ("a", None, "p-null", 1, False), ("a", 0, "p0", 9, None),
        ("c", 5, "p5", None, None),
        ("d", 1, "tie-1", 2, False), ("d", 1, "tie-2", 3, False), ("d", 2, "p2", 1, True),
        (None, 0, "p-nokey", 7, True),
    ], schema)
    secondary = spark.createDataFrame([
        ("b", 2, "s2", 4, False), ("b", None, "s-null", None, True),
        ("c", None, "s-null", 6, False),
        ("d", None, "s-null", 8, None),
        (None, None, "s-nokey", 5, False),
    ], schema)
    args = (F.col("k"), ["n"], ["t"], "o")
    cols = ["k", "__src", "o", "v", "n", "t"]
    got = {r.k: tuple(r) for r in keyed_merge(primary, secondary, *args).select(*cols).collect()}
    want = {r.k: tuple(r) for r in _window_merge(primary, secondary, *args).select(*cols).collect()}
    # null keys merge with nothing and are dropped, as the window's join did
    assert set(got) == set(want) == {"a", "b", "c", "d"}
    for k in "abc":
        assert got[k] == want[k], k
    assert got["a"] == ("a", 0, None, "p-null", 9, False)  # null order sorts first
    assert got["b"] == ("b", 1, None, "s-null", 4, True)
    assert got["c"] == ("c", 0, 5, "p5", 6, False)  # primary beats a null secondary
    # A tie leaves the pick to the engine, as the window did; the fields
    # still come whole from one of the tied rows.
    assert got["d"][:3] == want["d"][:3] == ("d", 0, 1)
    assert got["d"][3] in ("tie-1", "tie-2")
    assert got["d"][4:] == want["d"][4:] == (8, True)
