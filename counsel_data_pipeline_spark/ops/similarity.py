"""Similarity search over embedding columns (north-star extension,
SURVEY §7 M6 — no reference analog; BASELINE.json requires it).

Brute-force cosine top-k is the exact baseline: queries are broadcast, the
corpus streams through one stage, a per-query window keeps the top k.
At 100 TB: corpus-side scan is embarrassingly parallel; the top-k window
shuffles only (n_queries × k) candidate rows — compute a per-partition
partial top-k first via groupBy(query).agg if k is small (Catalyst's
TakeOrderedAndProject does this for global sorts; for grouped top-k the
window on the pre-filtered candidates is the standard shape).

The LSH bucket path (random-hyperplane signs) bounds the candidate set per
query for the approximate variant; hyperplanes are derived deterministically
from md5 so runs are reproducible without a stored model.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops.materialize import pin, release


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of elementwise double products — the evaluation
    order is pinned so results are bit-reproducible across engines."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(c: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def cosine_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (self excluded).

    Returns (query_id, neighbor_id, cosine, rank); deterministic tiebreak
    on neighbor id.
    """
    emb = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", l2_norm(F.col("__v")))
    queries = emb.filter(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__norm").alias("__qnorm"),
    )
    pairs = emb.crossJoin(F.broadcast(queries)).filter(F.col("__id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        (dot(F.col("__qv"), F.col("__v")) / (F.col("__qnorm") * F.col("__norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _exact_pairs_blocked(
    emb: DataFrame, n_rows: int, block_rows: int, top_n: int
) -> DataFrame:
    """Exact all-pairs cosine via the classic triangular block
    decomposition: ids hash into ``ceil(n/block_rows)`` blocks, every
    unordered block pair (p ≤ q) becomes one ``applyInPandas`` group
    holding both blocks' rows, and the group computes its pair cosines as
    vectorized numpy — dimension-by-dimension accumulation, NOT a matmul,
    so every pair's dot is the same left-to-right fold as :func:`dot` /
    DuckDB ``list_dot_product`` and the result stays bit-identical to the
    Catalyst-fold path (the oracle and the LSH candidate scorer).

    Scale shape: each row is shuffled ``n_blocks`` times (one copy per
    partner block) — shuffle volume is n_blocks × corpus, task memory is
    bounded by 2 × block_rows vectors, and the quadratic work is spread
    over n_blocks(n_blocks+1)/2 independent tasks. Each group emits only
    its local candidates for the global top-n (all pairs tied with or
    above its ``top_n``-th cosine), so the downstream TakeOrdered sees
    O(groups × top_n) rows, not O(n²). Measured on local[32] at 64 dims:
    ~2M pairs/s per task (sf0.1: 2M pairs in 2.1 s end-to-end vs 29.9 s
    for the round-2 BroadcastNestedLoop Catalyst fold, ~14×)."""

    n_blocks = max(1, math.ceil(n_rows / block_rows))
    partners = F.array(
        *[
            F.struct(
                F.least("__blk", F.lit(o)).alias("p"),
                F.greatest("__blk", F.lit(o)).alias("q"),
            )
            for o in range(n_blocks)
        ]
    )
    exploded = (
        emb.withColumn("__blk", F.pmod(F.xxhash64(F.col("__id")), F.lit(n_blocks)).cast("int"))
        .select(
            F.col("__id").cast("long").alias("__id"),
            "__v",
            "__blk",
            F.explode(partners).alias("__bp"),
        )
        .select("__id", "__v", "__blk", F.col("__bp.p").alias("__p"), F.col("__bp.q").alias("__q"))
    )

    empty = {"__id": np.array([], dtype=np.int64), "id_b": np.array([], dtype=np.int64),
             "__cos": np.array([], dtype=np.float64)}

    def fold_cosines(key, pdf):
        p, q = key
        ids = pdf["__id"].to_numpy()
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64, copy=False)
        blk = pdf["__blk"].to_numpy()
        if p == q:
            ia, Va = ids, V
            ib, Vb = ids, V
        else:
            ma = blk == p
            ia, Va = ids[ma], V[ma]
            ib, Vb = ids[~ma], V[~ma]
        if ia.size == 0 or ib.size == 0:
            return pd.DataFrame(empty)
        dim = V.shape[1]
        # left-to-right fold per pair, vectorized ACROSS pairs: d-th term
        # added in d order from a 0.0 seed — bit-identical to F.aggregate.
        acc = np.zeros((ia.size, ib.size))
        nsq_a = np.zeros(ia.size)
        nsq_b = np.zeros(ib.size)
        for d in range(dim):
            acc += np.multiply.outer(Va[:, d], Vb[:, d])
            nsq_a += Va[:, d] * Va[:, d]
            nsq_b += Vb[:, d] * Vb[:, d]
        cos = acc / np.multiply.outer(np.sqrt(nsq_a), np.sqrt(nsq_b))
        II, JJ = np.meshgrid(ia, ib, indexing="ij")
        if p == q:
            mask = II < JJ
        else:
            mask = np.ones_like(cos, dtype=bool)
        flat = cos[mask]
        id_a = np.minimum(II, JJ)[mask]
        id_b = np.maximum(II, JJ)[mask]
        # local candidate cut for the global top-n: keep everything tied
        # with or above this group's top_n-th cosine (exact values, so no
        # epsilon margin is needed). Zero-norm vectors are excluded
        # upstream so cosines are finite; the NaN→inf mapping is a guard
        # (a NaN cut would otherwise keep nothing and silently drop the
        # group's finite pairs).
        key = np.where(np.isnan(flat), np.inf, flat)
        if flat.size > top_n:
            cut = np.partition(key, key.size - top_n)[key.size - top_n]
            keep = key >= cut
            flat, id_a, id_b, key = flat[keep], id_a[keep], id_b[keep], key[keep]
        order = np.lexsort((id_b, id_a, -key))[:top_n]
        return pd.DataFrame(
            {"__id": id_a[order], "id_b": id_b[order], "__cos": flat[order]}
        )

    return exploded.groupBy("__p", "__q").applyInPandas(
        fold_cosines, "__id long, id_b long, __cos double"
    )


def _rank_bounded(top: DataFrame, order_cols: list[str]) -> DataFrame:
    """row_number over an already ``limit()``-bounded frame without an
    unpartitioned Window: one explicit single-partition Arrow pass that
    re-sorts the handful of rows and numbers them. Scale-safe because the
    input is bounded by construction (≤ top_n rows), which is exactly the
    proof the fleet plan audit demands in place of a global WindowExec."""

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in top.schema.fields)

    def number(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        # Guard: missing/NaN in the ordering column must not sort last
        # (pandas default) when Spark/DuckDB rank NaN largest — sort on a
        # NaN→+inf twin of the primary key. Unreachable for the near-dup
        # path (zero-norm vectors are excluded upstream) but cheap.
        pdf["__key0"] = pdf[order_cols[0]].fillna(np.inf)
        pdf = pdf.sort_values(
            ["__key0"] + order_cols[1:],
            ascending=[False] + [True] * (len(order_cols) - 1),
            kind="mergesort",
        ).drop(columns="__key0")
        pdf["rank"] = np.arange(1, len(pdf) + 1, dtype=np.int32)
        yield pdf

    return top.coalesce(1).mapInPandas(number, schema + ", rank int")


def near_dup_pairs_topn(
    corpus: DataFrame,
    top_n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_threshold: int | None = 100_000,
    n_planes: int = 8,
    n_tables: int = 6,
    dim: int = 64,
    n_rows: int | None = None,
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: the ``top_n`` most
    similar (id_a < id_b) pairs, globally ranked by cosine desc with a
    deterministic id tiebreak.

    Two physical strategies behind one result contract:

    - corpus ≤ ``exact_threshold`` rows → exact all-pairs via the
      triangular block decomposition in :func:`_exact_pairs_blocked`:
      numpy fold cosines inside ``applyInPandas`` groups (one per block
      pair), each group pre-cut to its local top-n, then a global
      TakeOrdered over O(groups × top_n) candidates.
    - larger → banded sign-LSH candidates (the MinHash-banding shape
      applied to hyperplane signs): ``n_tables`` independent plane sets,
      a row hashes to one bucket PER table, candidates are rows agreeing
      exactly in at least one table — a (table, bucket) equi-self-join, a
      plain shuffle join with NO broadcast of the corpus anywhere — and
      the exact cosine runs only on candidates. For a pair at angle θ,
      P(candidate) = 1-(1-(1-θ/π)^planes)^tables — steep around the
      near-dup regime; recall < 1 by design (asserted against the exact
      path in tests). Shuffle volume is n_tables× the corpus width-wise,
      bounded and tunable.

    Both paths yield BIT-IDENTICAL cosines for any pair they both emit
    (same left-to-right fold), so the gate changes recall, never values.

    ``exact_threshold`` calibration: the blocked exact path measures
    ~2M pairs/s per task on local[32] (64-dim doubles), so 100k rows ≈
    5×10⁹ pairs ≈ 2,500 task-seconds ≈ 80 s wall on 32 cores (seconds on
    a 1000-executor cluster); shuffle is n_blocks × corpus ≈ 49 × 100k ×
    0.5 KiB ≈ 2.5 GiB. Round 2's gate assumed the Catalyst-fold path
    (~100k pairs/s/task), which would have taken days at the gate — the
    100k default is only honest now that the path is vectorized. Pass
    ``exact_threshold=None`` to force the exact plan, ``0`` to force LSH,
    and ``n_rows`` (when the caller already knows the count) to skip the
    gate's ``corpus.count()`` scan.
    """
    # Cosine is undefined for zero-norm vectors; exclude them up front
    # (mirrored by `WHERE nrm > 0` in the oracle). Without this, the two
    # physical paths would even disagree: the Catalyst fold yields NaN
    # (ranked largest by both engines) while the Arrow exchange of the
    # blocked-numpy path turns pandas NaN into NULL (ranked last).
    emb = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", l2_norm(F.col("__v"))).filter(F.col("__norm") > 0)

    if exact_threshold is not None and exact_threshold <= 0:
        use_exact, n = False, None
    else:
        n = n_rows if n_rows is not None else corpus.count()
        use_exact = exact_threshold is None or n <= exact_threshold
    if use_exact:
        scored = _exact_pairs_blocked(
            emb.select("__id", "__v"), n, block_rows, top_n
        ).select(F.col("__id").alias("id_a"), "id_b", F.col("__cos").alias("cosine"))
    else:
        # (n_planes, n_tables) tune to the target similarity: defaults are
        # sized for the near-dup regime (cos ≥ 0.9 → sign-agreement prob
        # ≥ 0.86/plane → pair recall ≈ 0.87). Pairs at cos ≈ 0.5 are NOT
        # near-dups and are deliberately unlikely candidates.
        banded = emb.select(
            "__id",
            "__v",
            "__norm",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            hyperplane_lsh_bucket(
                                F.col("__v"), n_planes, dim, seed=t
                            ).alias("b"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("__tb"),
        )
        right = banded.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("__vb"),
            F.col("__norm").alias("__nb"),
            F.col("__tb").alias("__tbb"),
        )
        pairs = banded.join(
            right,
            (F.col("__tb") == F.col("__tbb")) & (F.col("__id") < F.col("id_b")),
        ).dropDuplicates(["__id", "id_b"])
        scored = pairs.select(
            F.col("__id").alias("id_a"),
            "id_b",
            (dot(F.col("__v"), F.col("__vb")) / (F.col("__norm") * F.col("__nb"))).alias(
                "cosine"
            ),
        )

    top = scored.orderBy(F.col("cosine").desc(), "id_a", "id_b").limit(top_n)
    return _rank_bounded(top, ["cosine", "id_a", "id_b"])


def kmeans_centroids_exact(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    return_grid: bool = False,
) -> DataFrame:
    """Lloyd's k-means in EXACT integer arithmetic — the trainer whose
    every iterate an independent SQL engine reproduces bit-for-bit, which
    turns trained-centroid IVF from "approximate by construction" into a
    fully oracle-checkable query (the same scaled-integer trick as the
    PageRank and PCA plans in ``plans/graph.py`` / ``plans/llm_similarity.py``).

    Vectors live on a 1e-6 integer grid (``round(x*scale)`` as BIGINT);
    assignment is argmin of exact BIGINT squared Euclidean distance with
    lowest-cid tie-break; the centroid update is per-component truncating
    division ``div(sum, count)`` — every step integer, so reruns and
    engines agree exactly. Seeds are the ``n_centroids`` lowest-id grids.

    Plan shape per iteration: one broadcast of the tiny centroid table
    against the persisted integer corpus (the corpus never shuffles), one
    map-side-combined hash aggregate over cells; ``localCheckpoint``
    truncates lineage, so each superseded iterate and, at the end, the
    persisted corpus are released: a call leaves one pinned frame, the
    result. Cells that lose all members drop out (``n_centroids`` is an
    upper bound).

    Returns (__cid, __cv, __cn) ready for ``ivf_topk(centroids_df=...)``
    — ``__cv`` is the integer centroid divided back to double (exact IEEE
    int→double below 2^53, identical in any engine). With
    ``return_grid=True`` returns (__cid, __c6) — the raw integer-grid
    centroids, for consumers that keep computing exactly (the streaming
    cell-stats maintainer).
    """
    emb6 = corpus.select(
        F.col(id_col).alias("__id"),
        F.expr(
            f"transform(CAST({vec_col} AS ARRAY<DOUBLE>), "
            f"x -> CAST(round(x * {scale}, 0) AS BIGINT))"
        ).alias("__v6"),
    ).persist()
    cents = pin(
        emb6.orderBy("__id")
        .limit(n_centroids)
        .select(F.col("__id").alias("__cid"), F.col("__v6").alias("__c6")),
        loop=True,
    )
    sqdist = F.expr(
        "aggregate(zip_with(__v6, __c6, (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    for _ in range(n_iters):
        scored = emb6.crossJoin(F.broadcast(cents)).select(
            "__id",
            F.struct(
                sqdist.alias("d"), F.col("__cid").alias("cid"), F.col("__v6").alias("v6")
            ).alias("s"),
        )
        # (d, cid) is unique per __id, so min(struct) IS the lowest-cid
        # argmin; v6 rides along without affecting the order
        best = scored.groupBy("__id").agg(F.min("s").alias("s"))
        assigned = best.select(
            F.col("s.cid").alias("__cid"), F.col("s.v6").alias("__v6")
        )
        new_c6 = F.array(
            *[F.expr(f"div(sum(__v6[{d_}]), count(*))") for d_ in range(dim)]
        )
        prev, cents = cents, pin(
            assigned.groupBy("__cid").agg(new_c6.alias("__c6")), loop=True
        )
        release(prev)
    # the last pin is eager and truncates lineage: nothing downstream
    # reads the integer corpus any more
    emb6.unpersist()
    if return_grid:
        return cents
    return cents.select(
        "__cid",
        F.expr(f"transform(__c6, x -> CAST(x AS DOUBLE) / {scale})").alias("__cv"),
    ).withColumn("__cn", l2_norm(F.col("__cv")))


def _nearest_cells(
    df: DataFrame, centroids: DataFrame, n: int, out_col: str
) -> DataFrame:
    """Rank centroids by cosine for each row; keep the n nearest. One
    broadcast of the tiny centroid table; the per-row window is
    partitioned by row id (no global exchange)."""
    scored = df.crossJoin(F.broadcast(centroids)).select(
        df["*"],
        F.col("__cid"),
        (dot(F.col("__v"), F.col("__cv")) / (F.col("__norm") * F.col("__cn"))).alias(
            "__csim"
        ),
    )
    w = Window.partitionBy("__id").orderBy(F.col("__csim").desc(), F.col("__cid"))
    return (
        scored.withColumn("__crank", F.row_number().over(w))
        .filter(F.col("__crank") <= n)
        .withColumnRenamed("__cid", out_col)
        .drop("__csim", "__crank")
    )


def lowest_id_centroids(emb: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic centroid seeding shared by the IVF paths: the
    ``n_centroids`` lowest-id vectors (reproducible across runs/engines
    without a stored model). Pinned lazily — the tiny table feeds both
    the corpus assignment and the query probe ranking, and without the
    pin each consumer re-derives the TakeOrdered from a full corpus scan
    (the r11 scan audit found the doubled scan in every IVF plan); lazy
    so building the plan runs no job for explain-only consumers."""
    return pin(
        emb.orderBy("__id")
        .limit(n_centroids)
        .select(
            F.col("__id").alias("__cid"),
            F.col("__v").alias("__cv"),
            F.col("__norm").alias("__cn"),
        ),
        eager=False,
    )


def semantic_blocked_pairs(
    corpus: DataFrame,
    threshold: float = 0.55,
    n_centroids: int = 16,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Semantic-blocked embedding near-dup pairs (the SemDeDup-style scale
    path): every vector is assigned to its ``probes`` nearest IVF cells,
    candidate pairs are vectors sharing ANY cell, and the exact fold
    cosine verifies candidates against ``threshold``.

    Blocking by semantic cell bounds the quadratic: candidate volume is
    Σ_cell |cell|·probes² instead of n², and true near-dups (cos ≈ 1)
    land in the same nearest cell with near-certainty — multi-assignment
    (``probes`` > 1) covers pairs straddling a Voronoi boundary
    (recall floor asserted in pytest on planted duplicates).

    Scale shape: centroids broadcast (tiny); the corpus shuffles ONCE by
    cell id into per-cell ``applyInPandas`` groups — vectors cross the
    Arrow boundary O(corpus × probes) times, never O(pairs) (a pair-level
    join shipping both vectors per candidate measured 3× slower), and the
    numpy fold inside each group is chunked so task memory is bounded by
    chunk × |cell|. A hot cell bounds a task: raise ``n_centroids`` (or
    pre-train balanced cells with :func:`kmeans_centroids_exact` and pass
    ``centroids_df``) when one cell dominates.

    Returns (id_a, id_b, cosine) with id_a < id_b — a deterministic SET
    (no top-n), so the output is directly oracle-comparable.
    """
    from counsel_data_pipeline_spark.ops.partitioning import spread as _spread

    # a small single-file scan would otherwise run every candidate's fold
    # cosine in ONE task (no-op when the input already has enough splits)
    emb = _spread(corpus).select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", l2_norm(F.col("__v")))
    centroids = centroids_df if centroids_df is not None else lowest_id_centroids(
        emb, n_centroids
    )

    assigned = _nearest_cells(emb, centroids, probes, "__cell")
    # Verification is ONE applyInPandas group per cell: each cell's
    # vectors cross the Arrow boundary once (O(corpus × probes) bytes) and
    # the quadratic pair formation happens inside numpy with the same
    # left-to-right fold as :func:`dot` — a pair-level equi-join would
    # instead ship BOTH vectors for every candidate pair (O(pairs) ≫
    # O(rows) bytes), which measured 3× slower end-to-end. Pairs sharing
    # several probe cells are verified once per cell (identical values);
    # the final distinct keeps the survivor set only.
    def cell_pairs(key, pdf):
        ids = pdf["__id"].to_numpy()
        if ids.size < 2:
            return pd.DataFrame(
                {"id_a": np.array([], dtype=np.int64),
                 "id_b": np.array([], dtype=np.int64),
                 "cosine": np.array([], dtype=np.float64)}
            )
        V = np.stack(pdf["__v"].to_numpy()).astype(np.float64, copy=False)
        dim = V.shape[1]
        nsq = np.zeros(ids.size)
        for d in range(dim):
            nsq += V[:, d] * V[:, d]
        nrm = np.sqrt(nsq)
        out_a, out_b, out_c = [], [], []
        # row-chunked so a hot cell bounds task memory at chunk × |cell|
        chunk = 2048
        for lo in range(0, ids.size, chunk):
            hi = min(lo + chunk, ids.size)
            acc = np.zeros((hi - lo, ids.size))
            for d in range(dim):
                acc += np.multiply.outer(V[lo:hi, d], V[:, d])
            cos = acc / np.multiply.outer(nrm[lo:hi], nrm)
            II, JJ = np.meshgrid(ids[lo:hi], ids, indexing="ij")
            mask = (II < JJ) & (cos >= threshold)
            out_a.append(II[mask])
            out_b.append(JJ[mask])
            out_c.append(cos[mask])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b),
             "cosine": np.concatenate(out_c)}
        )

    return (
        assigned.select(F.col("__id").cast("long").alias("__id"), "__v", "__cell")
        .groupBy("__cell")
        .applyInPandas(cell_pairs, "id_a long, id_b long, cosine double")
        .dropDuplicates(["id_a", "id_b"])
    )


def ivf_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) lists — the classic ANN
    scale path: partition the corpus into ``n_centroids`` Voronoi cells,
    search only the ``n_probe`` cells nearest each query.

    Centroid selection is deterministic without a trained model: the
    ``n_centroids`` lowest-id vectors seed the cells (reproducible across
    runs/engines; a k-means refinement is a drop-in upgrade). Assignment
    is one broadcast join + ``min_by`` over cells; queries fan out to
    their probe list, so per-query work is (n_probe/n_centroids) of the
    corpus. Recall < 1 by design — measured against the exact brute force
    in tests.
    """
    emb = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", l2_norm(F.col("__v")))

    centroids = centroids_df if centroids_df is not None else lowest_id_centroids(
        emb, n_centroids
    )

    assigned = _nearest_cells(emb, centroids, 1, "__cell")
    queries = _nearest_cells(
        emb.filter(F.col("__id").isin(query_ids)), centroids, n_probe, "__qcell"
    ).select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__norm").alias("__qnorm"),
        F.col("__qcell"),
    )
    pairs = assigned.join(
        F.broadcast(queries),
        (F.col("__cell") == F.col("__qcell")) & (F.col("__id") != F.col("query_id")),
    )
    scored = pairs.select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        (dot(F.col("__qv"), F.col("__v")) / (F.col("__qnorm") * F.col("__norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_lsh_bucket(
    vec: Column, n_planes: int = 16, dim: int = 64, seed: int | None = None
) -> Column:
    """Sign-LSH bucket id from ``n_planes`` deterministic pseudo-random
    hyperplanes. Plane p's component d is derived from md5(p:d) — a uniform
    value in [-0.5, 0.5) — so the partitioning is stable across runs and
    engines without storing a model. ``seed`` derives an independent plane
    set per hash table (banded LSH); None keeps the original single-table
    plane values."""
    bits = []
    for p in range(n_planes):
        label = f"{seed}:{p}" if seed is not None else f"{p}"
        comps = F.array(
            *[
                (
                    F.conv(F.substring(F.md5(F.lit(f"{label}:{d}")), 1, 8), 16, 10).cast(
                        "double"
                    )
                    / F.lit(float(16**8))
                    - F.lit(0.5)
                )
                for d in range(dim)
            ]
        )
        bits.append(F.when(dot(comps, vec) >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**p))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_bucketed_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    plus (multiprobe) every bucket one bit-flip away — the standard
    recall/cost knob, probing the n_planes nearest buckets.

    The scale path — corpus rows hash to ONE bucket each (narrow shuffle on
    a small int key); only the broadcast query side fans out to its probe
    set, so candidate volume is (probes/2^planes) of the corpus per query.
    Recall < 1 by design; exact cosine runs only within probed buckets.
    """
    emb = corpus.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__bucket", hyperplane_lsh_bucket(F.col("__v"), n_planes, dim))
    emb = emb.withColumn("__norm", l2_norm(F.col("__v")))
    probe_offsets = [0] + ([1 << p for p in range(n_planes)] if multiprobe else [])
    queries = (
        emb.filter(F.col("__id").isin(query_ids))
        .select(
            F.col("__id").alias("query_id"),
            F.col("__v").alias("__qv"),
            F.col("__norm").alias("__qnorm"),
            F.explode(
                F.array(*[F.col("__bucket").bitwiseXOR(F.lit(o)) for o in probe_offsets])
            ).alias("__qbucket"),
        )
    )
    pairs = emb.join(
        F.broadcast(queries),
        (F.col("__bucket") == F.col("__qbucket")) & (F.col("__id") != F.col("query_id")),
    )
    scored = pairs.select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        (dot(F.col("__qv"), F.col("__v")) / (F.col("__qnorm") * F.col("__norm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Scalar quantization (int8-style) — compressed exact search
# ---------------------------------------------------------------------------


def quantize_unit(vec: Column, norm: Column, bits: int = 8) -> Column:
    """Symmetric scalar quantization of an L2-normalized vector: code_i =
    floor(x_i / ‖x‖ · 127 + 0.5), integer codes in [-127, 127] (the faiss
    SQ8 shape). Floor-based half-up rounding — chosen over ``round()``
    because Spark and DuckDB disagree on round()'s tie mode for doubles
    while floor is exact in both."""
    scale = float((1 << (bits - 1)) - 1)
    return F.transform(
        vec, lambda x: F.floor(x / norm * F.lit(scale) + F.lit(0.5)).cast("long")
    )


def quantized_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two code vectors. |code| ≤ 127 so a 64-dim
    dot is ≤ 64·127² ≈ 1.0e6 — exact in BIGINT (and in the oracle's
    double, < 2^53), hence bit-identical cross-engine with no
    float-parity care. On unit vectors Σqa·qb ≈ 127²·cosine, so ranking
    by it approximates cosine ranking directly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors per query under int8 scalar quantization: normalize
    to unit L2, quantize each component symmetrically to [-127, 127], and
    rank by the integer dot product of the codes.

    This is the compressed-search path a 100 TB vector corpus wants:
    int8 codes are 4× smaller than float32 (8× smaller than the double
    fold) so the scan reads a quarter of the bytes, the ranking key is
    exact integer arithmetic (reproducible — no float-parity risk, which
    is why this variant gets a full DuckDB oracle), and the plan keeps
    the brute-force shape: codes stream, queries broadcast, the corpus
    never shuffles. Recall@10 vs exact cosine is asserted in tests;
    quantization only perturbs near-ties (≈1/254 resolution per dim).

    Returns (query_id, neighbor_id, qdot, rank), deterministic
    neighbor-id tiebreak.
    """
    emb = (
        corpus.select(
            F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
        )
        .withColumn("__norm", l2_norm(F.col("__v")))
        # zero-norm vectors have no direction to quantize (and x/0 NaN
        # casts diverge between engines) — excluded, as in the oracle
        .filter(F.col("__norm") > 0)
    )
    coded = emb.select(
        "__id", quantize_unit(F.col("__v"), F.col("__norm")).alias("__q")
    )
    queries = coded.filter(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("query_id"), F.col("__q").alias("__qq")
    )
    pairs = coded.crossJoin(F.broadcast(queries)).filter(
        F.col("__id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col("__id").alias("neighbor_id"),
        quantized_dot(F.col("__qq"), F.col("__q")).alias("qdot"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Persisted IVF index (build once, query per batch)
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_source: DataFrame | None = None,
) -> None:
    """Materialize an IVF index as parquet: ``<path>/centroids`` (tiny) and
    ``<path>/lists`` partitioned by ``cell`` (rows carry ``gen`` = 0; later
    :func:`append_ivf_index` batches carry increasing generations).

    The production ANN lifecycle at corpus scale: embedding + assigning
    100 TB of vectors is done ONCE, then every query batch reads only its
    probed cells — ``lists`` is partitioned by cell id, so a probe list
    prunes to n_probe/n_centroids of the index *at the file level* (Spark
    partition pruning / DPP on the join), never rescanning the corpus.
    Same lowest-id deterministic seeding as :func:`ivf_topk` — the index
    is reproducible across engines without a stored model.
    ``centroid_source`` optionally seeds the centroids from a different
    frame than the indexed corpus (used to prove append ≡ rebuild: a
    from-scratch build over initial ∪ appended with the INITIAL batch's
    centroids must equal the incremental store).
    """

    def prep(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
        ).withColumn("__norm", l2_norm(F.col("__v")))

    emb = prep(corpus)
    cents = lowest_id_centroids(
        emb if centroid_source is None else prep(centroid_source), n_centroids
    )
    assigned = _nearest_cells(emb, cents, 1, "cell")
    assigned.select(
        F.col("__id").alias("vec_id"),
        F.col("__v").alias("v"),
        F.col("__norm").alias("nrm"),
        F.lit(0).alias("gen"),
        "cell",
    ).write.mode("overwrite").partitionBy("cell").parquet(f"{path}/lists")
    cents.select(
        F.col("__cid").alias("cid"), F.col("__cv").alias("cv"), F.col("__cn").alias("cn")
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def append_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    gen: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add a vector batch to a :func:`build_ivf_index` store.

    The production ANN maintenance loop: cells are assigned from the
    STORED centroid table (broadcast, n_centroids rows), and the new
    lists are appended file-wise under their ``cell=`` partitions — cost
    is O(batch × centroids); the existing corpus is never read, let
    alone re-clustered. Rows carry ``gen`` so :func:`ivf_centroid_drift`
    can compare the appended population against the build population and
    signal when the frozen centroids have drifted enough to warrant a
    rebuild."""
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("cid").alias("__cid"),
        F.col("cv").alias("__cv"),
        F.col("cn").alias("__cn"),
    )
    emb = new_vectors.select(
        F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
    ).withColumn("__norm", l2_norm(F.col("__v")))
    assigned = _nearest_cells(emb, cents, 1, "cell")
    assigned.select(
        F.col("__id").alias("vec_id"),
        F.col("__v").alias("v"),
        F.col("__norm").alias("nrm"),
        F.lit(gen).alias("gen"),
        "cell",
    ).write.mode("append").partitionBy("cell").parquet(f"{path}/lists")


def ivf_centroid_drift(spark, path: str) -> DataFrame:
    """Per-cell drift report for an incrementally-maintained IVF store:
    (cell, n_initial, n_appended, avg_cos_initial, avg_cos_appended).

    avg_cos_* is the mean cosine of that generation's members to the
    frozen centroid — when the appended population's mean falls below
    the build population's, the centroids no longer describe the new
    data and the index should be rebuilt. Cosines are rounded to the
    1e-6 grid and summed in exact DECIMAL (plans/_parity.py convention)
    so the report is bit-reproducible cross-engine. One scan of the
    lists joined to the broadcast centroid table; output is
    centroid-table-sized."""
    cents = spark.read.parquet(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    cos = dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    scored = lists.join(
        F.broadcast(cents), lists["cell"] == cents["cid"]
    ).select("cell", "gen", F.round(cos, 6).cast("decimal(30,6)").alias("__c"))

    def gen_stats(g: int, prefix: str) -> list[Column]:
        is_g = F.col("gen") == g
        n = F.sum(F.when(is_g, 1).otherwise(0)).alias(f"n_{prefix}")
        s = F.sum(F.when(is_g, F.col("__c")))
        avg = F.when(
            F.sum(F.when(is_g, 1).otherwise(0)) > 0,
            F.round(s, 6).cast("double")
            / F.sum(F.when(is_g, 1).otherwise(0)),
        ).alias(f"avg_cos_{prefix}")
        return [n, avg]

    return scored.groupBy("cell").agg(
        *gen_stats(0, "initial"), *gen_stats(1, "appended")
    )


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors for a query batch against a :func:`build_ivf_index`
    store. The query batch (typically ≪ corpus) assigns itself to its
    ``n_probe`` nearest cells via the broadcast centroid table, then joins
    the partition-pruned inverted lists; the indexed corpus' embeddings
    are read back from the index, never recomputed. Doubles round-trip
    parquet bit-exactly, so scoring after the round-trip is
    oracle-identical to an in-memory IVF."""
    cents = spark.read.parquet(f"{path}/centroids").select(
        F.col("cid").alias("__cid"),
        F.col("cv").alias("__cv"),
        F.col("cn").alias("__cn"),
    )
    lists = spark.read.parquet(f"{path}/lists").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    q = _nearest_cells(
        queries.select(
            F.col(id_col).alias("__id"), as_double_array(F.col(vec_col)).alias("__v")
        ).withColumn("__norm", l2_norm(F.col("__v"))),
        cents,
        n_probe,
        "__qcell",
    ).select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__norm").alias("__qnorm"),
        F.col("__qcell"),
    )
    pairs = lists.join(F.broadcast(q), F.col("cell") == F.col("__qcell"))
    scored = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot(F.col("__qv"), F.col("v")) / (F.col("__qnorm") * F.col("nrm"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
