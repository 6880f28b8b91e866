"""Streaming k-means cell-stats maintainer — the stream twin of the
exact-integer Lloyd trainer (ops/similarity.kmeans_centroids_exact).

Production shape: centroids are TRAINED batch-side (k-means is a
multi-pass algorithm; a stream cannot re-iterate), then the unbounded
vector feed is assigned and per-cell sufficient statistics (count +
per-component integer sums) are maintained continuously — the ingest
side of an IVF index plus its centroid-drift monitor. Because both the
assignment (BIGINT squared distance on the 1e-6 grid, lowest-cid
tie-break) and the maintained sums are exact integers, the stream's
final state is a pure function of the data: identical to a batch
recompute and therefore to a DuckDB oracle.

Spark shape:

- the 16 trained integer centroids are inlined as a LITERAL array of
  structs, so assignment is a stateless projection (``aggregate`` /
  ``zip_with`` higher-order functions) — no stream-static join, no
  Python, nothing to rebroadcast per micro-batch;
- ``posexplode`` then ONE streaming aggregation ``groupBy(cell, pos)``
  with count + sum in COMPLETE output mode — state is
  n_centroids × dim rows (1024 here), constant in stream length;
- Trigger.AvailableNow over staged files, same harness as every other
  streaming twin in this package.

At scale: per-batch work is one narrow projection + a map-side-combined
aggregate shuffling at most n_centroids × dim partial rows per task —
the vector stream itself never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assign_cell_expr(centroids6: list[tuple[int, list[int]]], v6_col) -> "F.Column":
    """Argmin-centroid as a pure Column expression: fold over the literal
    centroid array (sorted by cid) keeping the first strictly-smaller
    BIGINT squared distance — first wins ties, i.e. lowest cid."""
    cents = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                F.array(*[F.lit(int(x)).cast("long") for x in c6]).alias("c6"),
            )
            for cid, c6 in sorted(centroids6)
        ]
    )

    def sqd(c):
        return F.aggregate(
            F.zip_with(v6_col, c["c6"], lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    # ONE distance evaluation per centroid: materialize (d, cid) structs
    # first, then array_min — struct ordering is lexicographic, so the
    # minimum is (smallest d, then lowest cid), exactly the tie-break.
    # (A fold with `when(sqd(c) < acc.d, ...)` emits the 64-dim distance
    # expression twice per centroid — double the hot-path cost.)
    # named_struct, not struct(...alias...): aliases inside a lambda body
    # don't survive analysis.
    dists = F.transform(
        cents,
        lambda c: F.named_struct(F.lit("d"), sqd(c), F.lit("cid"), c["cid"]),
    )
    return F.array_min(dists)["cid"]


def cell_stats_stream(
    stream: DataFrame,
    centroids6: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """streaming (cell, pos) → (n_vecs, sum_v6): assignment as a literal
    fold, one streaming aggregation."""
    v6 = F.expr(
        f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
        f"x -> CAST(round(x * {scale}, 0) AS BIGINT))"
    )
    exploded = stream.select(
        assign_cell_expr(centroids6, v6).alias("cell"),
        F.posexplode(v6).alias("pos", "val"),
    )
    return exploded.groupBy("cell", "pos").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("val").cast("bigint").alias("sum_v6"),
    )
