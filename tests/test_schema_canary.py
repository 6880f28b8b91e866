"""Physical-schema drift canary.

Round 4 burned entirely because the driver regenerated ``events.parquet``
with ``ts: timestamp[us]`` (previously TIMESTAMP(NANOS) read as long) and
nothing noticed until plans started throwing AnalysisException mid-bench.
This test reads every testdata table's parquet FOOTER (cheap — no Spark,
no data scan) and asserts the physical types the engine is written
against, failing with a pointed message when the environment drifts.

A failure here means: the driver regenerated testdata with new physical
types. Fix at the one normalization boundary, not per-plan:
counsel_data_pipeline_spark/io/sources.load_table (streams read its
normalized rows, staged by plans/streaming_live.event_ranges), then update
EXPECTED in io/schema_canary.py to pin the new reality.
"""

from __future__ import annotations

import os

import pytest

from counsel_data_pipeline_spark.io.schema_canary import EXPECTED, check_dir

# The driver regenerates every scale factor together; pin them all so a
# partial regeneration (or a per-sf encoding difference) is caught too.
ALL_SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

@pytest.mark.parametrize("sf_dir", ALL_SF_DIRS)
@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_testdata_physical_schema(table: str, sf_dir: str) -> None:
    """Per-table view over the SHARED canary logic (io/schema_canary.py is
    the single source of truth — bench startup runs the same check_dir),
    parametrized for per-table failure granularity."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"testdata missing: {path}")
    mine = [p for p in check_dir(sf_dir) if p.startswith(f"{table}.")]
    assert mine == [], "TESTDATA DRIFT:\n" + "\n".join(mine)


@pytest.mark.parametrize("sf_dir", ALL_SF_DIRS)
def test_check_dir_clean(sf_dir: str) -> None:
    """The shared bench-startup canary agrees with the pytest one."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"testdata missing: {sf_dir}")
    assert check_dir(sf_dir) == []
