"""Driver-attestable Structured Streaming queries.

The streaming surface (windows, stateful dedup, reservoir sampling,
sketch maintenance) was previously verified only by batch≡stream pytest;
the external driver never executed a stream. The queries here EXECUTE a
real Structured Streaming job inside the plan function (the same
execute-inside-the-plan pattern sim_ivf_persisted_query proved out) and
return its final state, so a green CORRECTNESS row attests a value that
was actually computed by the streaming engine. Each query combines its
operator with streaming/microbatch.py: inputs staged as one file per
micro-batch, drained with AvailableNow into a memory sink or a
foreachBatch handler.

Oracle strategy: the streamed operator is the A-ES weighted reservoir
(streaming/sampling.py), whose exponential-race key is a pure function
of the row. The k-row reservoir folded across micro-batches therefore
equals the batch top-k over the union — the SAME DuckDB oracle as
curation_weighted_sample, now answered by foreachBatch state
maintenance instead of TakeOrdered.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.fingerprint import derived_cache_dir
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.streaming.microbatch import (
    read_batches,
    run_available_now,
    stage_batches,
)
from counsel_data_pipeline_spark.streaming.sampling import run_weighted_sample_stream

_K = 25
_SEED = 777  # same seed as curation_weighted_sample → same sample
_N_FILES = 4  # staged input files → micro-batches
_STREAM_COLS = "doc_id BIGINT, source STRING, n_chars BIGINT"


def _ntile(df: DataFrame, n: int, *order: str) -> DataFrame:
    """``df`` with batch column ``b`` = ntile(n) - 1 over ``order``: the
    deterministic contiguous split every staging here uses. Its window is
    single-partition, but staging runs once per source fingerprint
    (io/fingerprint.derived_cache_dir): sweeps and bench reruns reuse one
    staged copy, and a testdata regeneration forces a restage."""
    return df.withColumn("b", F.ntile(n).over(Window.orderBy(*order)) - 1)


_EW_N_BATCHES = 4


def event_ranges(spark: SparkSession, sf_dir: str) -> str:
    """The events table's one stream source: load_table's normalized rows
    (``ts`` always session-TZ TIMESTAMP) staged as ascending
    (ts, event_id)-range micro-batches for :func:`read_batches`. Files
    replay in event-time order, the arrival-order contract the stateful
    twins' determinism (and so their batch oracles) requires. Each
    consumer projects its own columns of event_id, user_id, ts,
    event_type and value through its read schema."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    return stage_batches(
        _ntile(ev, _EW_N_BATCHES, "ts", "event_id"),
        # v2: carries event_type so the SCD2 stream shares the staging
        derived_cache_dir("counsel_stream_stage_evranges_v2", sf_dir, "events"),
        _EW_N_BATCHES,
    )


@register(
    "streaming_weighted_reservoir",
    # Identical oracle to curation_weighted_sample: the A-ES key is a pure
    # row function, so maintaining the k-row reservoir across micro-batches
    # (top-k of reservoir ∪ batch, per batch) equals the batch top-k.
    oracle=f"""
        WITH u AS (
          SELECT doc_id, source, n_chars,
                 (CAST(concat('0x', substr(md5(concat('{_SEED}:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) + 0.5)
                   / 4294967296.0 AS u
          FROM documents
        )
        SELECT doc_id, source, n_chars,
               round((-ln(u)) / n_chars, 9) AS es_key
        FROM u
        ORDER BY es_key, doc_id LIMIT {_K}
    """,
    description=f"A-ES weighted reservoir (k={_K}) maintained by a real "
    f"AvailableNow Structured Streaming job over {_N_FILES} micro-batches "
    "(foreachBatch folds each batch's top-k against the persisted "
    "reservoir); result computed BY the streaming engine, verified against "
    "the batch-sampling oracle",
    tags=("llm", "curation", "sampling", "streaming"),
)
def streaming_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The reservoir is the global top-k of a pure row function, so the
    # oracle is invariant to how rows are batched.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    stage = stage_batches(
        _ntile(docs, _N_FILES, "doc_id"),
        derived_cache_dir("counsel_stream_stage", sf_dir, "documents"),
        _N_FILES,
    )
    # Fresh reservoir per invocation: the stream genuinely
    # re-executes every time this plan is built (no stale streaming state
    # can masquerade as a fresh computation). The final reservoir is k
    # rows — collecting it is bounded by construction — which lets the
    # scratch dir be deleted before returning.
    work = tempfile.mkdtemp(prefix="counsel_stream_reservoir_")
    try:
        final = run_weighted_sample_stream(
            spark,
            input_dir=stage,
            work_dir=work,
            schema=_STREAM_COLS,
            k=_K,
            seed=_SEED,
        )
        rows = final.collect()
        schema = final.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema).select(
        "doc_id", "source", "n_chars", "es_key"
    )


_CMS_DEPTH, _CMS_WIDTH = 4, 64  # must match sketch_cms_user_counts


@register(
    "streaming_cms_user_counts",
    # Identical oracle to sketch_cms_user_counts: every CMS counter is a
    # plain count, so the counter-wise SUM of per-micro-batch partials
    # equals the batch-built sketch — streamed maintenance changes the
    # execution, not the value.
    oracle=f"""
        WITH seeds AS (SELECT unnest(range({_CMS_DEPTH})) AS seed),
        cms AS (
          SELECT seed,
                 CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':',
                      CAST(user_id AS VARCHAR))), 1, 8)) AS UBIGINT)
                   % {_CMS_WIDTH} AS bucket,
                 count(*) AS cnt
          FROM events CROSS JOIN seeds
          GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT user_id AS key FROM events),
        est AS (
          SELECT key, min(cnt) AS est_cnt
          FROM (SELECT key, seed,
                       CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR),
                            ':', CAST(key AS VARCHAR))), 1, 8)) AS UBIGINT)
                         % {_CMS_WIDTH} AS bucket
                FROM probes CROSS JOIN seeds) p
          JOIN cms USING (seed, bucket)
          GROUP BY key
        ),
        tru AS (SELECT user_id AS key, count(*) AS true_cnt FROM events GROUP BY 1)
        SELECT key, est_cnt, true_cnt, est_cnt - true_cnt AS overestimate
        FROM est JOIN tru USING (key)
    """,
    description=f"CMS maintained BY Structured Streaming: an AvailableNow "
    f"stream over {_N_FILES} staged micro-batches writes one "
    f"{_CMS_DEPTH}x{_CMS_WIDTH} partial per batch, partials merge by "
    "counter addition, and the merged sketch answers the same per-user "
    "frequency estimates as the batch-built CMS — verified against the "
    "identical oracle (streamed maintenance changes execution, not values)",
    tags=("sketch", "events", "streaming"),
)
def streaming_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops import sketches as sk
    from counsel_data_pipeline_spark.streaming.sketches import (
        merge_cms_partials,
        run_cms_stream,
    )

    # Counters add, so the merged sketch is invariant to how rows are
    # batched.
    ev = load_table(spark, sf_dir, "events")
    stage = stage_batches(
        _ntile(ev.select("event_id", "user_id"), _N_FILES, "event_id"),
        derived_cache_dir("counsel_stream_stage_events", sf_dir, "events"),
        _N_FILES,
    )
    work = tempfile.mkdtemp(prefix="counsel_stream_cms_")
    try:
        partials = run_cms_stream(
            read_batches(spark, "user_id BIGINT", stage),
            "user_id",
            _CMS_DEPTH,
            _CMS_WIDTH,
            partials_path=os.path.join(work, "partials"),
        )
        merged = merge_cms_partials(spark, partials)
        # the merged sketch is bounded (<= depth*width rows) — collect it
        # so the scratch dir can be removed before returning
        sketch_rows = merged.collect()
        sketch_schema = merged.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sketch = spark.createDataFrame(sketch_rows, sketch_schema)
    probes = ev.select("user_id").distinct()
    est = sk.cms_estimate(sketch, probes, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    true = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("true_cnt")
    )
    return est.join(true, "key").select(
        "key",
        "est_cnt",
        "true_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Streaming ingest dedup: every micro-batch judged against the accumulated
# corpus store — the central streaming operator of an LLM data pipeline
# ---------------------------------------------------------------------------

_ID_N_BATCHES = 4
_ID_NH, _ID_BANDS, _ID_THRESH = 16, 4, 0.5


def _streaming_dedup_oracle() -> str:
    """DuckDB twin of the streamed incremental dedup: batches are ntile
    quartiles of doc_id order; a doc's 'existing' corpus is every earlier
    batch, its 'new' peers are lower-id batchmates — the same verdict
    lattice as dedup_incremental_batch's oracle, with the odd/even split
    replaced by the batch relation."""
    from counsel_data_pipeline_spark.ops import text_dedup as td

    nh, bands = _ID_NH, _ID_BANDS
    rows = nh // bands
    w1, w2 = td.sql_md5_words("shingle")
    hs = ",\n                 ".join(
        f"min(({a} * w1 + {b} * w2 + {c}) % 4294967296) AS h{i}"
        for i, (a, b, c) in enumerate(td.mh_coeffs(nh))
    )
    band_rows = "\n          UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(','"
        + "".join(f", h{b * rows + r}" for r in range(rows))
        + f") AS bucket, {', '.join(f'h{i}' for i in range(nh))} FROM sig"
        for b in range(bands)
    )
    est = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(nh)
    )
    norm = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    return f"""
        WITH docs0 AS (
          SELECT doc_id, {norm} AS nt FROM documents
        ),
        bt AS (
          SELECT doc_id,
                 ntile({_ID_N_BATCHES}) OVER (ORDER BY doc_id) - 1 AS bat
          FROM docs0
        ),
        hashes AS (
          SELECT d.doc_id, md5(nt) AS h, bat
          FROM docs0 d JOIN bt USING (doc_id)
        ),
        exact_ex AS (
          SELECT n.doc_id, min(e.doc_id) AS p
          FROM hashes n JOIN hashes e ON e.h = n.h AND e.bat < n.bat
          GROUP BY n.doc_id
        ),
        exact_nw AS (
          SELECT n.doc_id, min(e.doc_id) AS p
          FROM hashes n JOIN hashes e
            ON e.h = n.h AND e.bat = n.bat AND e.doc_id < n.doc_id
          GROUP BY n.doc_id
        ),
        toks AS (
          SELECT doc_id, string_split_regex(nt, ' ') AS t FROM docs0
        ),
        sh AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' '))) AS shingle
          FROM toks
        ),
        w AS (SELECT doc_id, {w1} AS w1, {w2} AS w2 FROM sh),
        sig AS (
          SELECT doc_id,
                 {hs}
          FROM w GROUP BY doc_id
        ),
        banded AS (
          {band_rows}
        ),
        cand AS (
          SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS id_a,
                 ba.bat AS bat_a, bb.bat AS bat_b,
                 ({est}) / {float(nh)} AS est
          FROM banded a JOIN banded b USING (band, bucket)
          JOIN bt ba ON ba.doc_id = a.doc_id
          JOIN bt bb ON bb.doc_id = b.doc_id
          WHERE (ba.bat < bb.bat)
             OR (ba.bat = bb.bat AND a.doc_id < b.doc_id)
        ),
        near AS (
          SELECT doc_id,
                 min(CASE WHEN bat_a < bat_b THEN id_a END) AS pex,
                 min(CASE WHEN bat_a = bat_b THEN id_a END) AS pnw
          FROM cand WHERE est >= {_ID_THRESH} GROUP BY doc_id
        )
        SELECT n.doc_id,
               CASE WHEN ee.p IS NOT NULL THEN 'exact_existing'
                    WHEN en.p IS NOT NULL THEN 'exact_new'
                    WHEN nr.pex IS NOT NULL THEN 'near_existing'
                    WHEN nr.pnw IS NOT NULL THEN 'near_new'
                    ELSE 'unique' END AS verdict,
               COALESCE(ee.p, en.p, nr.pex, nr.pnw, -1) AS dup_of,
               CAST(n.bat AS BIGINT) AS batch_id
        FROM hashes n
        LEFT JOIN exact_ex ee ON ee.doc_id = n.doc_id
        LEFT JOIN exact_nw en ON en.doc_id = n.doc_id
        LEFT JOIN near nr ON nr.doc_id = n.doc_id
    """


@register(
    "streaming_incremental_dedup",
    oracle=_streaming_dedup_oracle(),
    description=f"ingest dedup BY Structured Streaming: {_ID_N_BATCHES} "
    "ascending doc_id-range micro-batches, each judged against the "
    "persisted signature store of every prior batch (exact md5 + MinHash "
    "band candidates; existing text never re-read) — the first-arrival "
    "verdict lattice, deterministic because arrival order equals id order, "
    "verified against a full DuckDB oracle",
    tags=("llm", "dedup", "incremental", "streaming"),
)
def streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.streaming.incremental import (
        run_incremental_dedup_stream,
    )

    # Ascending doc_id-range batches: arrival order equals doc_id order,
    # which makes the first-arrival-wins verdicts a deterministic function
    # of the data, as the oracle needs. (A production ingest is already
    # arriving in time order.)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = stage_batches(
        _ntile(docs, _ID_N_BATCHES, "doc_id"),
        derived_cache_dir("counsel_stream_stage_docranges", sf_dir, "documents"),
        _ID_N_BATCHES,
    )
    work = tempfile.mkdtemp(prefix="counsel_stream_dedup_")
    try:
        verdicts = run_incremental_dedup_stream(
            spark,
            input_dir=stage,
            work_dir=work,
            schema="doc_id BIGINT, text STRING",
            n=3,
            n_hashes=_ID_NH,
            bands=_ID_BANDS,
            est_threshold=_ID_THRESH,
        )
        rows = verdicts.collect()
        schema = verdicts.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, schema).select(
        "doc_id", "verdict", "dup_of", "batch_id"
    )


# ---------------------------------------------------------------------------
# Stateful streaming EWMA: applyInPandasWithState vs the batch window
# ---------------------------------------------------------------------------


def _ewma_stream_oracle() -> str:
    from counsel_data_pipeline_spark.plans.window import _ewma_oracle

    return _ewma_oracle()


@register(
    "streaming_ewma_user_value",
    # Identical oracle to window_ewma_user_value: with micro-batches
    # arriving in event-time order, the per-user state (last 31 integer
    # micro-unit values) makes the streamed EWMA a pure function of the
    # data — applyInPandasWithState changes the execution, not the value.
    oracle=_ewma_stream_oracle(),
    description="per-user EWMA maintained BY a stateful Structured "
    "Streaming job (applyInPandasWithState, state = last 31 integer "
    f"micro-unit values per user, {_EW_N_BATCHES} ascending event-time "
    "micro-batches, AvailableNow) — verified against the batch window "
    "twin's full DuckDB oracle",
    tags=("events", "window", "timeseries", "streaming"),
)
def streaming_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.plans.window import _EWMA_W
    from counsel_data_pipeline_spark.streaming.ewma import ewma_stateful

    stream = read_batches(
        spark,
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, value DOUBLE",
        event_ranges(spark, sf_dir),
    )
    return run_available_now(ewma_stateful(stream, _EWMA_W), "append")


# ---------------------------------------------------------------------------
# Stateful streaming SCD2: the changelog -> validity-interval builder
# ---------------------------------------------------------------------------


def _scd2_stream_oracle() -> str:
    from counsel_data_pipeline_spark.plans.window import _SCD2_ORACLE

    return _SCD2_ORACLE


@register(
    "streaming_scd2_intervals",
    # Identical oracle to window_scd2_intervals: with micro-batches
    # arriving in event-time order, the per-user open-interval state makes
    # the streamed history a pure function of the data — the upsert
    # changelog compacts to exactly the batch twin's dimension view.
    oracle=_scd2_stream_oracle(),
    description="SCD2 dimension history maintained BY a stateful "
    "Structured Streaming job (applyInPandasWithState, state = each "
    f"user's open interval, {_EW_N_BATCHES} ascending event-time "
    "micro-batches, AvailableNow): interval opens/closes emitted as "
    "warehouse upserts, compacted last-write-wins per interval — verified "
    "against the batch twin's full DuckDB oracle",
    tags=("events", "window", "incremental", "streaming"),
)
def streaming_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.streaming.scd2 import (
        compact_changelog,
        scd2_stateful,
    )

    stream = read_batches(
        spark,
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING",
        event_ranges(spark, sf_dir),
    )
    return compact_changelog(run_available_now(scd2_stateful(stream), "append"))


# ---------------------------------------------------------------------------
# Streaming k-means cell-stats: the stream twin of the exact Lloyd trainer
# ---------------------------------------------------------------------------

_KM_N_CENTROIDS, _KM_ITERS, _KM_DIM = 16, 3, 64


def _kmeans_cell_stats_oracle() -> str:
    from counsel_data_pipeline_spark.plans.llm_similarity import _lloyd_ctes

    lloyd, cfin = _lloyd_ctes(_KM_N_CENTROIDS, _KM_ITERS, _KM_DIM)
    return f"""
        -- Batch recompute of what the STREAM maintains: exact-integer
        -- Lloyd training (shared CTE chain with the IVF oracle), final
        -- assignment by BIGINT squared distance (lowest-cid ties), then
        -- per-(cell, component) count + integer sum — the sufficient
        -- statistics the streaming maintainer holds in state.
        WITH emb6 AS MATERIALIZED (
          SELECT vec_id AS id,
                 list_transform(embedding::DOUBLE[],
                   x -> CAST(round(x * 1000000, 0) AS BIGINT)) AS v6
          FROM embeddings
        ),
        c0 AS (SELECT id AS cid, v6 AS c6 FROM emb6 WHERE id < {_KM_N_CENTROIDS}),
        {lloyd},
        af AS (
          SELECT id, v6, cid FROM (
            SELECT id, v6, cid,
                   row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
            FROM (
              SELECT e.id, e.v6, c.cid,
                     list_sum(list_transform(range({_KM_DIM}), i ->
                       (e.v6[i+1] - c.c6[i+1]) * (e.v6[i+1] - c.c6[i+1]))) AS d
              FROM emb6 e CROSS JOIN {cfin} c
            )
          ) WHERE rn = 1
        ),
        stats AS (
          SELECT cid AS cell, i AS pos,
                 CAST(count(*) AS BIGINT) AS n_vecs,
                 CAST(sum(v6[i+1]) AS BIGINT) AS sum_v6
          FROM af CROSS JOIN (SELECT unnest(range({_KM_DIM})) AS i)
          GROUP BY 1, 2
        )
        SELECT s.cell, CAST(s.pos AS BIGINT) AS pos, s.n_vecs, s.sum_v6,
               CAST(c.c6[s.pos + 1] AS BIGINT) AS trained_v6
        FROM stats s JOIN {cfin} c ON s.cell = c.cid
    """


@register(
    "streaming_kmeans_cell_stats",
    oracle=_kmeans_cell_stats_oracle(),
    description="IVF ingest maintained BY Structured Streaming: centroids "
    f"trained batch-side with {_KM_ITERS} exact-integer Lloyd iterations, "
    "inlined as literals so per-batch assignment is a stateless fold "
    "(BIGINT squared distance, lowest-cid ties); ONE streaming "
    "aggregation in COMPLETE mode maintains per-(cell, component) count "
    "+ integer sums — state bounded at n_centroids x dim, verified "
    "against a full batch recompute in DuckDB",
    tags=("llm", "similarity", "streaming", "incremental", "iterative"),
)
def streaming_kmeans_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops import similarity as sim
    from counsel_data_pipeline_spark.streaming.kmeans import cell_stats_stream

    emb = load_table(spark, sf_dir, "embeddings")
    grid = sim.kmeans_centroids_exact(
        emb, n_centroids=_KM_N_CENTROIDS, n_iters=_KM_ITERS, dim=_KM_DIM,
        return_grid=True,
    )
    # n_centroids rows — bounded by construction, never data-sized
    centroids6 = [
        (int(r["__cid"]), [int(x) for x in r["__c6"]]) for r in grid.collect()
    ]
    # Per-cell sufficient statistics are integer sums, which commute, so
    # the oracle is invariant to how vectors are batched.
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    stage = stage_batches(
        _ntile(vecs, _N_FILES, "vec_id"),
        derived_cache_dir("counsel_stream_stage_emb", sf_dir, "embeddings"),
        _N_FILES,
    )
    stats = run_available_now(
        cell_stats_stream(
            read_batches(spark, "vec_id BIGINT, embedding ARRAY<DOUBLE>", stage),
            centroids6,
        )
    )
    trained = spark.createDataFrame(
        [
            (cid, pos, int(v))
            for cid, c6 in centroids6
            for pos, v in enumerate(c6)
        ],
        "cell bigint, pos bigint, trained_v6 bigint",
    )
    return stats.select(
        "cell", F.col("pos").cast("bigint").alias("pos"), "n_vecs", "sum_v6"
    ).join(F.broadcast(trained), ["cell", "pos"])


# ---------------------------------------------------------------------------
# Stateful streaming sessionization: the gap-session summary maintainer
# ---------------------------------------------------------------------------


def _sessionize_stream_oracle() -> str:
    from counsel_data_pipeline_spark.catalog import QUERIES

    return QUERIES["events_sessionize_30m"].oracle


@register(
    "streaming_sessionize_user_stats",
    # Identical oracle to events_sessionize_30m: with micro-batches in
    # event-time order (enforced in state), folding each batch into the
    # per-user session summary equals the batch lag+flag-sum plan.
    oracle=_sessionize_stream_oracle(),
    description="gap-based (30 min) per-user session stats maintained BY "
    "a stateful Structured Streaming job (applyInPandasWithState, state "
    f"= running session summary + event-time high-water mark, "
    f"{_EW_N_BATCHES} ascending micro-batches, AvailableNow): each batch "
    "emits an upsert summary row, compacted last-write-wins per user — "
    "verified against the batch sessionization's full DuckDB oracle",
    tags=("events", "session", "streaming", "incremental"),
)
def streaming_sessionize_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.streaming.sessionize import (
        compact_summaries,
        sessionize_stateful,
    )

    stream = read_batches(
        spark,
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP",
        event_ranges(spark, sf_dir),
    )
    return compact_summaries(
        run_available_now(sessionize_stateful(stream), "append")
    )


# ---------------------------------------------------------------------------
# Watermark late-data semantics, attested: append-mode tumbling aggregation
# where deterministically-delayed rows cross the watermark and are DROPPED
# ---------------------------------------------------------------------------

_WM_N_BATCHES = 6
_WM_DELAY_HOURS = 24


def _watermark_late_oracle() -> str:
    """Restates Spark's global-watermark protocol exactly AS OBSERVED in
    the micro-batch engine: the watermark a batch is PLANNED with comes
    from the offset log written before the previous batch ran, so batch
    k filters/evicts with (max event time over batches <= k-2, truncated
    to milliseconds — Spark tracks event-time stats in ms) minus the
    delay (batches 0 and 1 run at the initial zero watermark); a row is
    dropped iff its window end <= that watermark; the trailing no-data
    micro-batches then drain the watermark to (global max - delay), so
    every window with end <= that final value is emitted (append mode
    emits nothing newer)."""
    n = _WM_N_BATCHES
    d = _WM_DELAY_HOURS
    return f"""
        WITH ordered AS (
          SELECT event_id, ts, value,
                 ntile({n}) OVER (ORDER BY ts, event_id) - 1 AS b0
          FROM events
        ),
        assigned AS (
          SELECT ts, value,
                 CASE WHEN event_id % 7 = 0 THEN least(b0 + 2, {n - 1})
                      WHEN event_id % 7 = 1 THEN least(b0 + 1, {n - 1})
                      ELSE b0 END AS b
          FROM ordered
        ),
        bmax AS (
          SELECT b,
                 make_timestamp((epoch_us(max(ts)) // 1000) * 1000) AS mx
          FROM assigned GROUP BY 1
        ),
        wm AS (
          SELECT b,
                 max(mx) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                 - INTERVAL {d} HOUR AS wm_b
          FROM bmax
        ),
        kept AS (
          SELECT a.ts, a.value FROM assigned a JOIN wm USING (b)
          WHERE wm_b IS NULL
             OR date_trunc('hour', a.ts) + INTERVAL 1 HOUR > wm_b
        ),
        fw AS (SELECT max(mx) - INTERVAL {d} HOUR AS w FROM bmax),
        agg AS (
          SELECT date_trunc('hour', ts) AS h,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS sum_value_mi
          FROM kept GROUP BY 1
        )
        SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start,
               n_events, sum_value_mi
        FROM agg, fw
        WHERE h + INTERVAL 1 HOUR <= w
    """


@register(
    "streaming_watermark_late_drop",
    oracle=_watermark_late_oracle(),
    description="watermark late-data semantics attested end-to-end: "
    f"hourly tumbling counts/sums over {_WM_N_BATCHES} staged "
    "micro-batches where event_id%7==0 rows arrive two batches late "
    "(beyond the 24 h watermark, dropped) and %7==1 rows one batch late "
    "(only their trailing day survives), run in APPEND mode with "
    "AvailableNow — the DuckDB oracle replays the global-watermark "
    "protocol (per-batch running max event time, ms truncation, drop "
    "iff window_end <= watermark, final flush), so the green row "
    "attests Spark's actual drop/emit boundary",
    tags=("events", "streaming", "watermark"),
)
def streaming_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: watermark state is one (window, agg) row per open
    hour — bounded by delay/window, not data; late rows are filtered
    BEFORE the shuffle, so a flood of ancient events costs a scan, not
    state. The staged arrival order makes the drop set deterministic,
    which is what lets a batch oracle attest a streaming-only behavior."""
    # Ascending (ts, event_id)-range batches, except two deterministic row
    # classes that arrive late: event_id % 7 == 0 rows two batches after
    # their range (far beyond the 24 h watermark, so always dropped) and
    # event_id % 7 == 1 rows one batch late (only their trailing 24 h
    # survives: the mixed boundary that makes the watermark predicate
    # observable).
    n = _WM_N_BATCHES
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    late = (
        F.when(F.col("event_id") % 7 == 0, 2)
        .when(F.col("event_id") % 7 == 1, 1)
        .otherwise(0)
    )
    stage = stage_batches(
        _ntile(ev, n, "ts", "event_id").withColumn(
            "b", F.least(F.col("b") + late, F.lit(n - 1))
        ),
        derived_cache_dir("counsel_stream_stage_late", sf_dir, "events"),
        n,
    )
    stream = read_batches(spark, "event_id BIGINT, ts TIMESTAMP, value DOUBLE", stage)
    agg = (
        stream.withWatermark("ts", f"{_WM_DELAY_HOURS} hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_value_mi"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "n_events",
            "sum_value_mi",
        )
    )
    return run_available_now(agg, "append")


# ---------------------------------------------------------------------------
# Stream-static join, attested: per-micro-batch broadcast enrichment
# ---------------------------------------------------------------------------


@register(
    "streaming_static_join_daily",
    oracle="""
        -- The stream-static join's final COMPLETE-mode state is batch-
        -- equivalent: each micro-batch joins the (static) dim and folds
        -- into the same windowed aggregate, so the result is invariant
        -- to the batch split.
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi
        FROM events JOIN customer ON c_custkey = user_id
        GROUP BY 1, 2
    """,
    description="stream-static join maintained BY Structured Streaming: "
    "each micro-batch of the staged event stream joins the static "
    "customer dim (broadcast — no state on the static side) and folds "
    "into a daily tumbling aggregate in COMPLETE mode, AvailableNow — "
    "the oracle is the plain batch join+aggregate, so the green row "
    "attests the per-batch-join ≡ batch-join equivalence",
    tags=("events", "join", "streaming"),
)
def streaming_static_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: the static side carries NO streaming state — each
    micro-batch joins against the dim as-of that batch, broadcast when
    small (the plan here) and shuffled by AQE when not; aggregate state
    is one row per (day, segment) — calendar-bounded, not data-bounded.
    COMPLETE mode is right because the key space is bounded; the
    watermarked APPEND twin (streaming_watermark_late_drop) covers the
    unbounded-key discipline."""
    stream = read_batches(
        spark, "user_id BIGINT, ts TIMESTAMP, value DOUBLE",
        event_ranges(spark, sf_dir),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "c_mktsegment",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_value_mi"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "c_mktsegment",
            "n_events",
            "sum_value_mi",
        )
    )
    return run_available_now(agg)  # complete mode


# ---------------------------------------------------------------------------
# Stream-STREAM interval join, attested: the one Structured Streaming join
# mode the catalog did not yet execute (stream-static is
# streaming_static_join_daily). Both sides are real file streams with
# watermarks; the join buffers both sides in state and the watermark plus
# the time-range condition bound that state.
# ---------------------------------------------------------------------------


def _click_purchase_streams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The (clicks, purchases) sides shared by BOTH stream-stream join
    twins — ONE readStream source referenced twice (self-join): a single
    offset sequence means the sides can never skew by a batch, so the
    per-side watermark stats advance in lockstep — one fewer moving
    part than two independent sources over the same dir. Keeping this
    in one place keeps the twins (whose tests compare match sets)
    structurally identical."""
    src_df = read_batches(
        spark,
        "event_id BIGINT, user_id BIGINT, ts TIMESTAMP, event_type STRING",
        event_ranges(spark, sf_dir),
    )
    clicks = (
        src_df.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "24 hours")
    )
    purchases = (
        src_df.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "24 hours")
    )
    return clicks, purchases


@register(
    "streaming_stream_stream_join",
    oracle="""
        -- The plain batch interval join. Equivalence argument (why no
        -- match can be lost to state eviction): batches are ascending
        -- (ts, event_id) ranges, so every row in batch k has ts >= every
        -- row in batch k-2; a click is evicted only once the global
        -- watermark passes c_ts + 1h, and the watermark batch k runs
        -- with is <= max ts through batch k-2 minus 24h, which every
        -- not-yet-arrived purchase's ts exceeds by >= 24h — outside the
        -- 1h match range. Inner join emits on arrival of the second
        -- side, so AvailableNow drains exactly the batch-join set.
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               p.user_id AS user_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    """,
    description="stream-stream watermarked interval join executed BY "
    "Structured Streaming: click and purchase file streams (same staged "
    "ascending micro-batches, independent sources) join on user within "
    "a 1h lookback, both sides watermarked 24h so join state is evicted "
    "behind the watermark; AvailableNow drains all matches and the "
    "oracle is the plain batch interval join — the green row attests "
    "that bounded-state streaming join ≡ batch join under in-order "
    "arrival",
    tags=("events", "join", "streaming", "watermark"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: per-side state is bounded by (watermark delay + join
    range) x arrival rate, not by history — clicks older than
    watermark - 1h and purchases older than watermark are dropped from
    state by the engine. The state store is keyed by user_id, so the
    join shuffles each micro-batch by key once; at 100 TB/day the same
    plan runs with RocksDB state and more shuffle partitions, unchanged.
    Emission is on second-side arrival (inner join), so no result waits
    for the watermark — only eviction does."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR "
            "AND c_ts <= p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return run_available_now(joined, "append")


@register(
    "streaming_stream_stream_outer_join",
    oracle="""
        -- Matched pairs are the plain batch interval join (same
        -- eviction-safety argument as the inner twin). A NULL row for an
        -- unmatched click is emitted when the click's state is evicted,
        -- i.e. iff c_ts + 1h < final watermark, STRICTLY (probed at the
        -- exact-equality point), where the final watermark under the
        -- default min multiple-watermark policy is
        -- min(max click ts, max purchase ts) - 24h, ms-truncated (the
        -- engine tracks event-time stats in ms); AvailableNow's trailing
        -- no-data batches drain the watermark there, so the final SET
        -- depends only on that value.
        WITH c AS (
          SELECT event_id AS click_id, user_id, ts AS c_ts
          FROM events WHERE event_type = 'click'
        ),
        p AS (
          SELECT event_id AS purchase_id, user_id, ts AS p_ts
          FROM events WHERE event_type = 'purchase'
        ),
        wm AS (
          SELECT make_timestamp(
                   least((SELECT epoch_us(max(c_ts)) FROM c),
                         (SELECT epoch_us(max(p_ts)) FROM p))
                   // 1000 * 1000) - INTERVAL 24 HOUR AS w
        ),
        matched AS (
          SELECT c.click_id, c.user_id, p.purchase_id,
                 epoch_us(p.p_ts) - epoch_us(c.c_ts) AS gap_us
          FROM c JOIN p ON c.user_id = p.user_id
             AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR
        ),
        nulls AS (
          SELECT c.click_id, c.user_id, CAST(NULL AS BIGINT) AS purchase_id,
                 CAST(NULL AS BIGINT) AS gap_us
          FROM c, wm
          WHERE NOT EXISTS (
                  SELECT 1 FROM p WHERE p.user_id = c.user_id
                    AND p.p_ts >= c.c_ts
                    AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR)
            AND c.c_ts + INTERVAL 1 HOUR < wm.w
        )
        SELECT * FROM matched UNION ALL SELECT * FROM nulls
    """,
    description="stream-stream LEFT OUTER interval join executed BY "
    "Structured Streaming: same single-source click/purchase self-join "
    "as the inner twin, but unmatched clicks emit a NULL row when their "
    "state is evicted behind the watermark — the oracle replays the "
    "exact emission rule (strict c_ts + range < min-policy final "
    "watermark, ms truncation), so the green row pins the engine's "
    "outer-null boundary, not just the match set",
    tags=("events", "join", "streaming", "watermark"),
)
def streaming_stream_stream_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale notes: identical state bounds to the inner twin — per-side
    state is (delay + range) x arrival rate; the outer semantics add no
    state, only an emit-on-evict of rows whose matched flag never set.
    The oracle encodes the two facts a batch engine cannot see: null
    emission is gated by the GLOBAL (min-policy) watermark across both
    sides, and the eviction predicate is strict — both probed at the
    boundary before this was registered."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + "
            "INTERVAL 1 HOUR"
        ),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    return run_available_now(joined, "append")


@register(
    "streaming_python_source_agg",
    oracle="""
        -- The custom source serves every events row exactly once (offset
        -- = batch ordinal over ascending event_id slices), so the
        -- complete-mode aggregate equals the plain batch aggregate.
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi,
               CAST(max(user_id) AS BIGINT) AS max_user
        FROM events GROUP BY 1
    """,
    description="streaming Python Data Source attested (13th streaming "
    "row): a custom simpleStreamReader replays the events table as 4 "
    "ascending event_id micro-batch slices (offset = batch ordinal, "
    "deterministic without any file staging), feeding a complete-mode "
    "per-type aggregate — the oracle is the plain batch aggregate, so "
    "the green row certifies the source's exactly-once slice contract "
    "end-to-end through the streaming engine",
    tags=("events", "streaming", "source"),
)
def streaming_python_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: in io/range_stream_source.py — the simple reader is
    driver-side by design (replay/test facility; per-batch memory is one
    slice via pushed LIMIT/OFFSET); the partition-based streamReader is
    the production-volume path, demonstrated by the batch clinicjson
    source's partitions(). The aggregate state is event-type sized."""
    from counsel_data_pipeline_spark.io import range_stream_source as rss

    rss.register(spark)
    path = os.path.join(sf_dir, "events.parquet")
    expected = spark.read.parquet(path).count()
    stream = (
        spark.readStream.format("rangeparquet")
        .option("path", path)
        .option("batches", "4")
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value_mi").cast("bigint").alias("sum_value_mi"),
        F.max("user_id").cast("bigint").alias("max_user"),
    )
    rows, schema, n_batches = rss.run_complete_until(agg, expected)
    if n_batches < 2:
        raise RuntimeError(
            f"expected multiple micro-batches, stream drained in {n_batches}"
        )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark, attested: stateful streaming dedup with
# watermark-bounded state and re-emission after eviction
# ---------------------------------------------------------------------------

_DD_N_BATCHES = 12
_DD_DELAY_HOURS = 2
_DD_FAR_HOURS = 250  # far-duplicate event-time offset (> 4 batch spans)


def _dropdup_wm_oracle() -> str:
    """Replays the protocol pinned empirically (tools-level probe, all 12
    candidate variants tested — only the lag-2 family matches): batch k
    is PLANNED with the watermark from the offset log written before the
    previous batch ran = (max event-time in ms over batches <= k-2) -
    delay; input rows at-or-below that watermark are filtered as late;
    a key's state row (expiry = first-emitted occurrence's event-time +
    delay, in ms) is evicted once expiry <= the planned watermark; a
    surviving state row drops every duplicate arrival, an evicted one
    lets the key re-emit. Boundary <=/< ties sit on exact ms equality of
    distinct event micro-timestamps — measure-zero, and pinned green at
    three SFs."""
    n = _DD_N_BATCHES
    d_ms = _DD_DELAY_HOURS * 3600 * 1000
    return f"""
        WITH base AS (
          SELECT event_id, ts, value,
                 ntile({n}) OVER (ORDER BY ts, event_id) - 1 AS b
          FROM events
        ),
        occ AS (
          SELECT event_id, ts, value, b, 0 AS is_dup FROM base
          UNION ALL
          SELECT event_id, ts, value, b, 1 FROM base WHERE event_id % 10 = 0
          UNION ALL
          SELECT event_id, ts, value, least(b + 1, {n - 1}), 1
          FROM base WHERE event_id % 10 = 1
          UNION ALL
          SELECT event_id, ts + INTERVAL {_DD_FAR_HOURS} HOUR, value,
                 least(b + 4, {n - 1}), 1
          FROM base WHERE event_id % 10 = 2
        ),
        bmax AS (
          SELECT b, epoch_us(max(ts)) // 1000 AS mxms FROM occ GROUP BY 1
        ),
        wm AS (
          SELECT b,
                 max(mxms) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                 - {d_ms} AS wm_ms
          FROM bmax
        ),
        o1 AS (
          SELECT o.event_id, o.ts, o.value, o.b,
                 epoch_us(o.ts) // 1000 AS ts_ms, w.wm_ms
          FROM occ o JOIN wm w USING (b) WHERE o.is_dup = 0
        ),
        o2 AS (
          SELECT o.event_id, o.ts, o.value, o.b,
                 epoch_us(o.ts) // 1000 AS ts_ms, w.wm_ms
          FROM occ o JOIN wm w USING (b) WHERE o.is_dup = 1
        ),
        emitted AS (
          -- first occurrence: emitted unless late
          SELECT event_id, ts, value, b FROM o1
          WHERE wm_ms IS NULL OR ts_ms > wm_ms
          UNION ALL
          -- duplicate: emitted iff itself not late, in a LATER batch, and
          -- the first occurrence left no live state (late or evicted)
          SELECT o2.event_id, o2.ts, o2.value, o2.b
          FROM o2 JOIN o1 ON o1.event_id = o2.event_id
          WHERE (o2.wm_ms IS NULL OR o2.ts_ms > o2.wm_ms)
            AND o2.b > o1.b
            AND ((o1.wm_ms IS NOT NULL AND o1.ts_ms <= o1.wm_ms)
                 OR (o2.wm_ms IS NOT NULL AND o1.ts_ms + {d_ms} <= o2.wm_ms))
        )
        SELECT CAST(event_id % 10 AS BIGINT) AS dup_class,
               CAST(b AS INT) AS b,
               CAST(count(*) AS BIGINT) AS n_emitted,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi,
               CAST(sum(epoch_us(ts) % 1000000000) AS BIGINT) AS ts_checksum
        FROM emitted GROUP BY 1, 2
    """


@register(
    "streaming_dropdup_within_watermark",
    oracle=_dropdup_wm_oracle(),
    description="dropDuplicatesWithinWatermark attested end-to-end: "
    f"{_DD_N_BATCHES} staged micro-batches with planted duplicate keys "
    "(same-batch copy — dropped; next-batch copy — dropped while the "
    "key's state lives; +250 h copy four batches later — state expired, "
    "RE-emitted), run in append mode with AvailableNow; the DuckDB "
    "oracle replays the pinned watermark protocol (offset-log lag, ms "
    "truncation, late filter, expiry eviction), so the green row attests "
    "Spark's actual drop/re-emit boundary for watermark-bounded dedup "
    "state",
    tags=("events", "streaming", "watermark", "dedup"),
)
def streaming_dropdup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale notes: dedup state is one (key, expiry-ms) row per DISTINCT
    key seen within the watermark horizon — bounded by arrival rate x
    delay, not corpus size; expired keys are evicted every batch. This
    is the streaming-ingest twin of dedup_incremental_batch: the same
    exactly-once ingest guarantee, but with state the engine itself
    bounds instead of a persisted signature store. Late floods cost a
    scan (filtered before the state lookup). The emitted set is folded
    per (duplicate class, arrival batch) so every drop AND re-emit
    boundary lands in the hash."""
    # Ascending (ts, event_id)-range batches with three deterministic
    # duplicate classes planted on the dedup key (event_id): %10==0 an
    # identical copy in the SAME batch (dropped by within-batch state),
    # %10==1 an identical copy one batch later (dropped: the offset-log
    # watermark lag keeps the key's state alive), %10==2 a copy four
    # batches later with event time shifted +250 h (the key's state has
    # expired by then, so it is RE-emitted; the shifted time also keeps
    # the copy above the watermark's late filter).
    n = _DD_N_BATCHES
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    base = _ntile(ev, n, "ts", "event_id")
    dup_same = base.filter(F.col("event_id") % 10 == 0)
    dup_next = base.filter(F.col("event_id") % 10 == 1).withColumn(
        "b", F.least(F.col("b") + 1, F.lit(n - 1))
    )
    dup_far = (
        base.filter(F.col("event_id") % 10 == 2)
        .withColumn("b", F.least(F.col("b") + 4, F.lit(n - 1)))
        .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {_DD_FAR_HOURS} HOURS"))
    )
    stage = stage_batches(
        base.unionByName(dup_same).unionByName(dup_next).unionByName(dup_far),
        derived_cache_dir("counsel_stream_stage_dup", sf_dir, "events"),
        n,
    )
    stream = read_batches(
        spark, "event_id BIGINT, ts TIMESTAMP, value DOUBLE, b INT", stage
    )
    deduped = stream.withWatermark(
        "ts", f"{_DD_DELAY_HOURS} hours"
    ).dropDuplicatesWithinWatermark(["event_id"])
    return run_available_now(deduped, "append").groupBy(
        (F.col("event_id") % 10).cast("bigint").alias("dup_class"),
        F.col("b").cast("int").alias("b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_emitted"),
        F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_value_mi"),
        F.sum(F.expr("unix_micros(ts) % 1000000000"))
        .cast("bigint")
        .alias("ts_checksum"),
    )


# ---------------------------------------------------------------------------
# Checkpoint restart, attested: exactly-once incremental recovery
# ---------------------------------------------------------------------------


@register(
    "streaming_checkpoint_restart",
    oracle="""
        -- The restarted query's COMPLETE-mode state must equal the plain
        -- batch aggregate over ALL files — phase-1 rows recovered from
        -- the checkpoint, phase-2 rows read incrementally (the fn raises
        -- if either phase reads the wrong row count).
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
                 AS sum_value_mi
        FROM events GROUP BY 1
    """,
    description="checkpoint recovery attested end-to-end: a COMPLETE-mode "
    "aggregation runs over the first half of the staged files, STOPS, "
    "then a second query restarts from the SAME checkpoint after the "
    "remaining files land — the fn raises unless phase 2 reads EXACTLY "
    "the new rows (no re-read, no loss), and the final state must equal "
    "the full-table batch oracle, which is the exactly-once recovery "
    "contract production streaming depends on",
    tags=("events", "streaming", "checkpoint"),
)
def streaming_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: restart cost is state-sized (one row per group in the
    HDFS-backed state store), not input-sized — the offset log pins
    which files are already consumed, so a 100 TB backlog restart reads
    only unconsumed files; aggregate state round-trips through the
    checkpoint. The two-phase copy makes the recovery observable: phase
    2's numInputRows is asserted == the new files' rows, so a silent
    full-replay (which would double-count into the complete-mode
    state) or an offset loss fails loudly rather than flipping the
    hash."""
    files = sorted(
        glob.glob(os.path.join(event_ranges(spark, sf_dir), "*.parquet"))
    )
    live = tempfile.mkdtemp(prefix="ckpt_restart_live_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_restart_ckpt_")
    agg = (
        read_batches(spark, "event_type STRING, value DOUBLE", live)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 1000000) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_value_mi"),
        )
    )
    state: dict = {}

    def keep(batch: DataFrame, _: int) -> None:
        # complete mode: every batch carries the whole event-type-sized state
        state["rows"], state["schema"] = batch.collect(), batch.schema

    def phase(paths: list[str], what: str) -> None:
        for f in paths:
            shutil.copy2(f, live)
        q = run_available_now(agg, "complete", handler=keep, checkpoint=ckpt)
        n_in = sum(int(p["numInputRows"]) for p in q.recentProgress)
        exp = spark.read.parquet(*paths).count()
        if n_in != exp:
            raise RuntimeError(f"{what} read {n_in} rows, expected exactly {exp}")

    half = len(files) // 2
    try:
        phase(files[:half], "phase 1")
        phase(files[half:], "restart")
    finally:
        shutil.rmtree(live, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(state["rows"], state["schema"])


# ---------------------------------------------------------------------------
# Stateful streaming session CLOSER: the EventTimeTimeout push path
# ---------------------------------------------------------------------------

_TS_GAP_S = 1800  # 30 min, same gap as the events_sessionize_30m family


@register(
    "streaming_closed_sessions_timeout",
    # The emitted set is a pure function of the data (staged batches are
    # event-time ordered): the streamed session PARTITION equals batch
    # gap-sessionization — a timer can only fire before a same-user
    # continuation arrives if that continuation was gap-separated anyway
    # (deadline_ms < floor_ms(T) implies T - last > gap in micro-seconds).
    # Every NON-last session closes inline via the gap path; a user's
    # LAST session closes iff its EventTimeTimeout timer fires in the
    # AvailableNow no-data batch, which Spark evaluates on MILLISECOND-
    # truncated event time with a STRICT comparison (probed empirically:
    # deadline == final watermark does NOT fire; 1 ms below does) —
    # hence the epoch_ms() predicate, not a plain INTERVAL one, which
    # would diverge on the micro-second timestamps in events.parquet.
    oracle=f"""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN ts - lag(ts) OVER w > INTERVAL {_TS_GAP_S} SECOND
                        OR lag(ts) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
          SELECT user_id, ts,
                 sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
          FROM flagged
        ), per_session AS (
          SELECT user_id, session_id,
                 min(ts) AS start_ts, max(ts) AS end_ts,
                 count(*) AS n_events
          FROM sessions GROUP BY user_id, session_id
        ), ranked AS (
          SELECT user_id, session_id, start_ts, end_ts, n_events,
                 max(session_id) OVER (PARTITION BY user_id) AS last_sid
          FROM per_session
        )
        SELECT user_id,
               strftime(start_ts, '%Y-%m-%d %H:%M:%S') AS session_start_s,
               strftime(end_ts, '%Y-%m-%d %H:%M:%S') AS session_end_s,
               n_events
        FROM ranked
        WHERE session_id < last_sid
           OR epoch_ms(end_ts) + {_TS_GAP_S * 1000}
              < epoch_ms((SELECT max(ts) FROM events))
    """,
    description="per-session close events pushed BY a stateful Structured "
    "Streaming job (applyInPandasWithState + GroupStateTimeout."
    "EventTimeTimeout, state = one open session per user, "
    f"{_EW_N_BATCHES} ascending event-time micro-batches, AvailableNow): "
    "non-last sessions close inline on the gap path, each user's last "
    "session closes only if the WATERMARK passes last_ts + gap — the "
    "timer path the batch twins never exercise — verified against a "
    "gap-sessionization DuckDB oracle with the ms-truncated strict "
    "watermark predicate",
    tags=("events", "session", "streaming", "stateful"),
)
def streaming_closed_sessions_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for streaming/timeout_sessions.py — the push-based
    session closer (the complement of streaming_sessionize_user_stats'
    summary maintainer). close_reason is deliberately NOT projected: the
    gap-vs-timeout split for non-last sessions depends on how rows are
    batched (deterministic here, but a function of the staging, not of
    the data alone) — the reasons stay pinned by the staged-batch pytest
    (tests/test_streaming.py::test_timeout_sessions_gap_timeout_and_open_contract);
    the emitted SET is batching-invariant, which is what the oracle
    attests. Timer semantics (ms truncation, strict compare, no-data
    final batch) are pinned by tests/test_r16_ops.py."""
    from counsel_data_pipeline_spark.streaming.timeout_sessions import (
        closed_sessions_stateful,
    )

    stream = read_batches(
        spark, "user_id BIGINT, ts TIMESTAMP", event_ranges(spark, sf_dir)
    )
    return run_available_now(
        closed_sessions_stateful(stream, gap_s=_TS_GAP_S), "append"
    ).drop("close_reason")
