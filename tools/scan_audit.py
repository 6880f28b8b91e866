"""Fleet fact-scan survey: for every catalog query, count parquet scans
per table in the FINAL physical plan (scans identified by their Location
line — the node label alone omits the path and undercounts).

The enforcement lives in
tests/test_plan_shape.py::test_catalog_fact_scan_budget (fact tables
capped at 2 scans per plan, allowlisted exceptions adjudicated), which
counts with this module's ``scan_counts`` over the same
``SKIP_PREFIXES`` filter; this tool is the exploratory side — run it
to see the whole distribution, including dimension tables and the
write-path/stateful queries the budget test skips (those EXECUTE when
built; expect artifacts under /tmp and a longer runtime when included).

  python tools/scan_audit.py              # batch queries only
  python tools/scan_audit.py --all        # include streaming/layout/...
  python tools/scan_audit.py name [name]  # specific queries
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from counsel_data_pipeline_spark.catalog import all_queries
from counsel_data_pipeline_spark.session import get_spark

SKIP_PREFIXES = ("streaming", "layout", "incremental", "ops_enrich", "multimodal")


def scan_counts(df) -> Counter:
    """Parquet scans per table file in ``df``'s final physical plan."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    tables, pending = [], False
    for line in plan.splitlines():
        if re.match(r"^\(\d+\) Scan parquet", line):
            pending = True
        elif pending and "Location:" in line:
            m = re.search(r"\[(.*?)\]", line)
            tables.append(m.group(1).split("/")[-1] if m else "?")
            pending = False
    return Counter(tables)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    include_all = "--all" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("scan-audit")
    names = args or [
        n
        for n in all_queries()
        if include_all or not n.startswith(SKIP_PREFIXES)
    ]
    qs = all_queries()
    for name in names:
        try:
            c = scan_counts(qs[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 - survey must not die mid-fleet
            print(f"{name}\tERR\t{str(exc)[:80]}")
            continue
        if any(n >= 2 for n in c.values()):
            multi = {t: n for t, n in sorted(c.items()) if n >= 2}
            print(f"{name}\t{multi}")
    spark.stop()


if __name__ == "__main__":
    main()
