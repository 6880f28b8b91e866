"""Deterministic deduplication operators (SURVEY §2.4 A1 + LLM-scale dedup).

The reference's ``uniqByKey`` (src/index.js:89-98) keeps the FIRST
occurrence in arrival order — Map-insertion semantics. Spark's
``dropDuplicates`` keeps an arbitrary row, so first-wins needs an explicit
order column + window. At scale this is one shuffle on the key; the window
sorts only within each key group (tiny), not globally.

Exact/near-duplicate text dedup lives in ops/text_dedup.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.clean import anchor_text


def first_wins(
    df: DataFrame,
    key: Column | Sequence[str | Column],
    order_col: str | Sequence[str] = "ingest_order",
) -> DataFrame:
    """Keep the first row per key in ``order_col`` order (A1 semantics).
    A key given as several columns partitions on all of them. Pass multiple
    order columns when the primary one isn't unique within a key —
    determinism requires a total order."""
    keys = [key] if isinstance(key, Column) else [F.col(k) if isinstance(k, str) else k for k in key]
    orders = [order_col] if isinstance(order_col, str) else list(order_col)
    w = Window.partitionBy(*keys).orderBy(*[F.col(o) for o in orders])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def raw_grid_key(df: DataFrame) -> Column:
    """uniqByKey's key over RAW rows: countyName + parsed org text + parsed
    address text, falsy→'' and the whole key trimmed
    (reference src/index.js:89-98)."""
    part = lambda c: F.coalesce(c, F.lit(""))  # noqa: E731  (JS `|| ''`)
    return F.trim(
        F.concat_ws(
            "||",
            part(F.col("countyName")),
            part(anchor_text(F.col("orgName"))),
            part(anchor_text(F.col("address"))),
        )
    )


def uniq_by_key(raw: DataFrame, order_col: str = "ingest_order") -> DataFrame:
    """First-wins dedup of raw grid rows on the parsed identity key."""
    return first_wins(raw, raw_grid_key(raw), order_col)
