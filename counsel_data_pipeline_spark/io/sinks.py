"""Sinks (SURVEY §2.2 K1/K2).

Two tiers:
  - *Parity tier* (this module's ``wrapper_json`` / ``csv_text``): byte-
    compatible with the reference's single-document outputs
    (JSON.stringify(wrapper, null, 2), reference src/index.js:326-352;
    CSV quoting rule src/index.js:32-35). These collect to the driver —
    correct for the reference's per-county documents (≤ a few thousand
    rows), NOT for bulk data.
  - *Scale tier* (``write_csv`` / ``write_json``): distributed
    ``df.write`` with options matched to the same dialect, for outputs
    that don't require a single file.
"""

from __future__ import annotations

import json
import re
from typing import Any

from pyspark.sql import DataFrame

_CSV_NEEDS_QUOTE = re.compile(r'[,"\n]')


def _csv_cell(v: Any) -> str:
    """Reference esc(): null/undefined→'', quote iff value contains , " or
    newline, inner quotes doubled; booleans lowercase (JS String(bool))."""
    if v is None:
        return ""
    if isinstance(v, bool):
        s = "true" if v else "false"
    else:
        s = str(v)
    if _CSV_NEEDS_QUOTE.search(s):
        return '"' + s.replace('"', '""') + '"'
    return s


def csv_text(rows: list[dict], headers: list[str]) -> str:
    """K2: header + rows joined with \\n (no trailing newline)."""
    lines = [",".join(headers)]
    lines.extend(",".join(_csv_cell(r.get(h)) for h in headers) for r in rows)
    return "\n".join(lines)


def wrapper_obj(rows: list[dict], county: str = "全台灣") -> dict:
    """K1 envelope with the total == len(rows) invariant (A3/V2)."""
    return {"county": county, "total": len(rows), "rows": rows}


def wrapper_json(rows: list[dict], county: str = "全台灣") -> str:
    return json.dumps(wrapper_obj(rows, county), ensure_ascii=False, indent=2)


def collect_rows(df: DataFrame, order_col: str | None = None, drop: tuple[str, ...] = ()) -> list[dict]:
    """Materialize a (small) DataFrame to ordered row dicts for the parity
    sinks, dropping engine-internal columns.

    Every row goes to the driver, so the sort runs in one partition: the
    same order as ``orderBy`` (ascending, nulls first) without its
    range-partition sampling job."""
    if order_col is not None:
        df = df.repartition(1).sortWithinPartitions(order_col)
    drop_cols = set(drop) | ({order_col} if order_col else set())
    rows = []
    for r in df.collect():
        d = r.asDict(recursive=True)
        for c in drop_cols:
            d.pop(c, None)
        rows.append(d)
    return rows


def write_csv(df: DataFrame, path: str) -> None:
    """Distributed CSV with the reference dialect (quote-minimal, empty
    string for null, lowercase booleans via string cast)."""
    out = df
    for name, dtype in df.dtypes:
        if dtype == "boolean":
            from pyspark.sql import functions as F

            out = out.withColumn(name, F.lower(F.col(name).cast("string")))
    (
        out.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "")
        # RFC-4180 quote doubling ("" not \") to match the parity writer's
        # dialect (reference src/index.js:33)
        .option("escape", '"')
        .csv(path)
    )


def write_json(df: DataFrame, path: str) -> None:
    """Distributed JSONL (the scale replacement for single-doc wrappers)."""
    df.write.mode("overwrite").json(path)


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-layout partitioned parquet — the scale-tier table sink.

    Readers filtering on ``partition_cols`` get PARTITION PRUNING: the scan
    lists only matching directories, so per-county (or per-date) queries
    read a fraction of a 100 TB table. This is the Spark analog of the
    reference's per-county output files (SURVEY §2.1 S6: the COUNTIES env
    filter becomes a pruned read instead of a pruned crawl).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    shard_key: str,
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a training corpus as ``n_shards`` balanced parquet
    shards — the final step of a curation pipeline (the files a
    dataloader actually reads).

    Sharding is ``repartition(n_shards, hash(shard_key))``: content-
    addressed placement (a doc always lands in the same shard as the
    corpus grows), balanced by the hash, and co-located with any
    downstream per-shard processing keyed the same way. One file per
    shard unless ``max_records_per_file`` asks Spark to roll files —
    bounded file sizes are what object stores and dataloaders want; at
    100 TB the shard count is the write parallelism, so it should be a
    multiple of the executor count.
    """
    from pyspark.sql import functions as F

    writer = df.repartition(n_shards, F.col(shard_key)).write.mode(mode)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
