"""Keyed two-source merge (SURVEY §2.4 A2 + §2.6 O1).

Reference ``mergeYesNo`` (src/index.js:65-86): union yes+no clean rows;
key = `county||org_name||address` via JS template strings (null renders as
the string 'null'!), trimmed. On collision the FIRST row (yes before no,
page order within each) keeps all descriptive fields; the five count
columns take max; teleconsultation ORs; has_quota recomputed from
max(in_4_weeks). Output sorted has_quota desc, stable → first-seen order
as tiebreak (JS stable sort over Map insertion order).

Spark shape: one aggregation per key, so one shuffle on the merge key and
no self-join. ``min_by`` over a (source rank, order) struct picks the first
row's descriptive fields in the same pass that takes the max/OR columns;
output ordering is explicit (has_quota desc, first-seen order) because
Spark sorts are not stable.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

COUNT_COLS = ["this_week", "next_week", "next_2_week", "next_3_week", "in_4_weeks"]


def js_template_key(*cols: str) -> Column:
    """`${a}||${b}||…`.trim() — JS templates render null/undefined as 'null'."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("null")) for c in cols]
    return F.trim(F.concat_ws("||", *parts))


def keyed_merge(
    primary: DataFrame,
    secondary: DataFrame,
    key: Column,
    max_cols: list[str],
    or_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Generic A2 core: union two sources; per key keep the first row's
    descriptive fields (primary before secondary, ``order_col`` within
    each), take max over ``max_cols`` and logical OR over ``or_cols``.
    Returns the merged rows plus ``__src`` (source rank of the surviving
    first row)."""
    ranked = primary.withColumn("__src", F.lit(0)).unionByName(secondary.withColumn("__src", F.lit(1)))
    return ranked_merge(ranked, [key], max_cols, or_cols, order_col)


def ranked_merge(
    ranked: DataFrame,
    keys: list[Column],
    max_cols: list[str],
    or_cols: list[str],
    order_col: str,
) -> DataFrame:
    """:func:`keyed_merge` over one frame whose ``__src`` column ranks the
    sources (0 first). One ``groupBy(keys)``: ``min_by`` over
    ``(__src, order_col)`` keeps the first row's fields — the struct
    ordering sorts a null ``order_col`` first, as the ascending window of a
    ``row_number`` pick does — while max/OR fold over every row.

    A row with a null key equals no other row, so it has nothing to merge
    with and is dropped, as an equi-join on the key drops it. Columns
    named ``__*`` other than ``__src`` are dropped."""
    base_cols = [c for c in ranked.columns if not c.startswith("__")]
    folded = set(max_cols) | set(or_cols)
    first_cols = [c for c in base_cols if c not in folded]
    keyed = functools.reduce(operator.and_, [k.isNotNull() for k in keys])
    return (
        ranked.filter(keyed)
        .groupBy(*[k.alias(f"__k{i}") for i, k in enumerate(keys)])
        .agg(
            F.min_by(
                F.struct(*first_cols, "__src"), F.struct("__src", order_col)
            ).alias("__first"),
            *[F.max(c).alias(c) for c in max_cols],
            *[F.max(c).alias(c) for c in or_cols],  # bool OR == max(boolean)
        )
        .select("__first.*", *max_cols, *or_cols)
        .select("__src", *base_cols)
    )


def merge_sides(sides: DataFrame, by: list[str], order_col: str = "ingest_order") -> DataFrame:
    """Merge the has-quota and no-quota clean sets (A2 + O1), given as one
    frame of clean rows whose ``__src`` is 0 for the has-quota side and 1
    for the no-quota side. ``by`` names columns that split the merge into
    independent groups (the crawl's ``county_rank``); ``[]`` merges the
    whole frame as one county.

    Returns the merged clean rows with a ``merge_order`` column encoding
    the reference's output order (has_quota desc, first-seen); callers
    sort on it when materializing.
    """
    merged = ranked_merge(
        sides,
        [*[F.col(c) for c in by], js_template_key("county", "org_name", "address")],
        max_cols=COUNT_COLS,
        or_cols=["teleconsultation"],
        order_col=order_col,
    )
    has_quota = F.col("in_4_weeks") > 0
    # Reference output order: has_quota desc (stable) over first-seen order.
    merge_order = F.struct(
        (~has_quota).cast("int").alias("hq"),
        F.col("__src").alias("src"),
        F.col(order_col).alias("ord"),
    )
    return merged.withColumns({"has_quota": has_quota, "merge_order": merge_order}).drop("__src")
