"""bench.py must survive individual query failures: round 4's bench
produced NOTHING because one plan threw at build time. A broken query
must cost one error entry, never the run."""

import io
import json
from contextlib import redirect_stdout

import pytest

from counsel_data_pipeline_spark.catalog import Query


def test_bench_records_error_and_keeps_going(spark, monkeypatch, tmp_path):
    import bench

    def good(sp, sf_dir):
        return sp.range(5).selectExpr("id", "id * 2 AS v")

    def broken(sp, sf_dir):
        raise RuntimeError("forced failure for the harness test")

    calls = {"n": 0}

    def second_run_fails(sp, sf_dir):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("forced second-run failure")
        return good(sp, sf_dir)

    fake = {
        "a_good_query": Query("a_good_query", good, None, "", (), True),
        "b_broken_query": Query("b_broken_query", broken, None, "", (), True),
        "c_good_query": Query("c_good_query", good, None, "", (), True),
        "d_second_run_fails": Query(
            "d_second_run_fails", second_run_fails, None, "", (), True
        ),
    }
    monkeypatch.setattr(bench, "all_queries", lambda: dict(fake))
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    # detail/floors paths derive from bench.__file__ — point them at a
    # tmpdir so this test's forced failure can never clobber the repo-
    # root bench_last_detail.json of a real run (r15 verdict ask #4)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))

    # bench takes no options: a stale flag from a retired mode must fail
    # before any query runs, not be silently ignored
    with pytest.raises(SystemExit):
        bench.main(["--until-quiet"])

    out = io.StringIO()
    with redirect_stdout(out):
        bench.main()

    lines = [l for l in out.getvalue().strip().splitlines() if l.strip()]
    assert len(lines) == 1, "bench must print exactly one JSON line on stdout"
    d = json.loads(lines[0])
    assert set(d["queries"]) == {"a_good_query", "c_good_query", "d_second_run_fails"}
    assert all(v >= 0 for v in d["queries"].values())
    assert "b_broken_query" in d["errors"]
    assert "forced failure" in d["errors"]["b_broken_query"]
    # first run timed, second run raised: reported in queries AND errors,
    # so a best-of-1 number is never mistaken for a clean best-of-2
    assert "forced second-run failure" in d["errors"]["d_second_run_fails"]


def test_headline_stdout_line_fits_driver_capture_tail():
    """The driver keeps only the last 2000 chars of stdout and the
    headline is the FINAL stdout write, so it parses iff the line itself
    fits that tail. Checked on the line bench.main prints, for the current
    bench set: (a) at worst-case widths (per-query 99.99 s) the per-query
    map never degrades away; (b) the floor_pct ratio array, at its widest
    (every query capped at 999), still fits whenever every query runs
    under 10 s (the realistic regime)."""
    import bench
    from counsel_data_pipeline_spark.catalog import all_queries

    names = sorted(n for n, q in all_queries().items() if q.bench)
    tiny_floors = {n: 1e-9 for n in names}

    line = bench.headline_line({n: 99.99 for n in names}, 9999.99, 0.1, tiny_floors, {})
    assert len(line) <= 1985
    assert list(json.loads(line)["queries"]) == names, (
        f"per-query map degraded away for {len(names)} benched queries — "
        "trim the headline set or shorten values"
    )

    line = bench.headline_line({n: 9.99 for n in names}, 519.48, 0.1, tiny_floors, {})
    assert len(line) <= 1985
    assert json.loads(line).get("floor_pct") == [999] * len(names), (
        f"{len(line)} chars with floor_pct for {len(names)} benched "
        "queries — the ratio array would degrade away on every run"
    )


def test_overlong_headline_degrades_to_parseable_compact_line():
    """If the headline set ever grows past the 2000-char capture tail,
    bench must degrade deterministically (drop the per-query map, keep
    metric/value/sf) rather than print an overlong line the driver would
    truncate mid-JSON back to parsed:null."""
    import bench

    per_query = {f"padded_query_name_{'x' * 60}_{i:03d}": 0.5 for i in range(30)}
    errors = {"a_broken_query": "RuntimeError: forced failure for the degrade test"}

    line = bench.headline_line(per_query, 15.0, 0.001, {}, errors)

    assert len(line) <= 1985, "degraded line must fit the capture tail"
    d = json.loads(line)
    assert d["metric"] == "bench_total_headline_queries"
    assert d["queries"] == {}
    assert d["n_queries"] == 30
    assert d["value"] == 15.0
    # Failing query NAMES survive the degrade (the detail file may be
    # unretrievable exactly when queries fail), clipped to the budget.
    assert d["n_errors"] == 1
    assert d["err_q"] == ["a_broken_query"]


def test_headline_carries_aligned_floor_ratios(spark, monkeypatch, tmp_path):
    """floor_pct must be integer percent of the committed floor, aligned
    positionally with the queries key order, null where no floor exists,
    and capped at 999."""
    import bench

    def good(sp, sf_dir):
        return sp.range(3).selectExpr("id")

    fake = {
        "a_query": Query("a_query", good, None, "", (), True),
        "b_query": Query("b_query", good, None, "", (), True),
    }
    (tmp_path / "bench_floors.json").write_text(
        # a_query: generous floor -> small pct; b_query: absurdly tiny
        # floor -> pct capped at 999. No floor entry would yield null.
        json.dumps({"a_query": 1000.0, "b_query": 1e-9})
    )
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    monkeypatch.setattr(bench, "all_queries", lambda: dict(fake))
    monkeypatch.setattr(bench, "get_spark", lambda name: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

    out = io.StringIO()
    with redirect_stdout(out):
        bench.main()

    d = json.loads(out.getvalue().strip().splitlines()[-1])
    assert list(d["queries"]) == ["a_query", "b_query"]
    assert len(d["floor_pct"]) == 2
    assert d["floor_pct"][0] == 0  # sub-second runtime vs 1000s floor
    assert d["floor_pct"][1] == 999  # capped
    detail = json.loads((tmp_path / "bench_last_detail.json").read_text())
    assert set(detail["floor_ratio"]) == {"a_query", "b_query"}
