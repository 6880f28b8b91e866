"""Skew mitigation: salted joins and heavy-key isolation.

When one join key carries a disproportionate share of rows (the classic
hot-key problem at 100 TB), a plain shuffled join lands the whole key on
one task. Two standing answers, in preference order:

  1. AQE skew-join handling (``spark.sql.adaptive.skewJoin.enabled``, on
     in this engine's session factory) — splits oversized partitions at
     runtime. Use it first; it needs no code changes.
  2. Salting (this module) — for cases AQE can't fix: skewed AGGREGATION
     keys feeding non-partial aggregates, or joins whose skewed side must
     stay co-partitioned with later stages. The large side scatters each
     key across ``n_salts`` sub-keys; the small side replicates per salt
     (explode — its size multiplies by n_salts, so keep it the genuinely
     small side).

Salts are deterministic (hash of caller-chosen distinguisher columns, not
``rand()``): task retries and speculative execution must reproduce the
same salt or exactly-once sinks break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(
    df: DataFrame, n_salts: int, distinct_on: list[str] | None = None,
    salt_col: str = "__salt",
) -> DataFrame:
    """Deterministic salt in [0, n_salts): hash of ``distinct_on`` columns
    (default: every column) — stable under retries, unlike rand()."""
    cols = [F.col(c) for c in (distinct_on or df.columns)]
    return df.withColumn(salt_col, F.pmod(F.xxhash64(*cols), F.lit(n_salts)))


def replicate_salts(
    df: DataFrame, n_salts: int, salt_col: str = "__salt"
) -> DataFrame:
    """Explode the (small) build side across every salt value."""
    return df.withColumn(
        salt_col, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    distinct_on: list[str] | None = None,
) -> DataFrame:
    """Equi-join with the large side's hot keys scattered over ``n_salts``
    sub-partitions. Semantically identical to ``large.join(small, on,
    how)`` for equi-joins where ``small`` is unique-ish per key; the small
    side is replicated n_salts× so every (key, salt) shard finds its match.
    """
    lg = with_salt(large, n_salts, distinct_on)
    sm = replicate_salts(small, n_salts)
    return lg.join(sm, on + ["__salt"], how).drop("__salt")


def salted_count_distinct(
    df: DataFrame, keys: list[str], value: str, n_salts: int = 8
) -> DataFrame:
    """Exact count-distinct per key without landing a hot key on one task:
    stage 1 dedups (key, salt, value) shards, stage 2 sums shard counts.

    The value is folded into the salt, so identical values always land in
    the same shard and global distinctness is preserved.
    """
    salted = df.withColumn("__salt", F.pmod(F.xxhash64(F.col(value)), F.lit(n_salts)))
    stage1 = (
        salted.groupBy(*keys, "__salt")
        .agg(F.count_distinct(F.col(value)).alias("__partial"))
    )
    return stage1.groupBy(*keys).agg(F.sum("__partial").alias(f"n_distinct_{value}"))
