import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from counsel_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Python workers must import test modules (test-local Resolver classes
    # are cloudpickled by reference); propagate repo root + tests dir.
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    extra = os.pathsep.join([root, here])
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{extra}{os.pathsep}{prev}" if prev else extra
    s = get_spark("pytest")
    yield s


@pytest.fixture
def stage_rows(spark, tmp_path):
    """Stage row lists as micro-batch files, one file per list, in order:
    ``stage_rows(batches, "x bigint, ...", sub="in")`` returns the dir."""
    from counsel_data_pipeline_spark.streaming.microbatch import stage_batches

    def stage(batches, schema, sub="in"):
        rows = [(b, *r) for b, rs in enumerate(batches) for r in rs]
        frame = spark.createDataFrame(rows, f"b int, {schema}")
        return stage_batches(frame, str(tmp_path / sub), len(batches))

    return stage
