"""Sketch query plans — ops/sketches.py surfaced through the driver
contract.

Count-min and Bloom use the cross-engine md5 bucket hash, so the ENTIRE
sketch (counters / bitmap words) is reproduced bit-for-bit by DuckDB and
the estimates are fully oracle-checked — including the approximation
error columns. HLL and quantile sketches are engine-internal
(HyperLogLog++ / percentile_approx) and register rows-only; their error
bounds are asserted in tests/test_sketches.py against exact answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops import sketches as sk
from counsel_data_pipeline_spark.ops.materialize import pin

_CMS_DEPTH, _CMS_WIDTH = 4, 64
_BLOOM_K, _BLOOM_M = 3, 4096


def _bucket_sql(key_sql: str, width: int) -> str:
    """DuckDB twin of ops/sketches.md5_bucket with a `seed` COLUMN in scope."""
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST(seed AS VARCHAR), ':', "
        f"CAST({key_sql} AS VARCHAR))), 1, 8)) AS UBIGINT) % {width}"
    )


def _bucket_sql_const(seed: int, key_sql: str, width: int) -> str:
    """DuckDB twin of ops/sketches.md5_bucket with a LITERAL seed."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}:', "
        f"CAST({key_sql} AS VARCHAR))), 1, 8)) AS UBIGINT) % {width}"
    )


@register(
    "sketch_cms_user_counts",
    oracle=f"""
        WITH seeds AS (SELECT unnest(range({_CMS_DEPTH})) AS seed),
        cms AS (
          SELECT seed, {_bucket_sql('user_id', _CMS_WIDTH)} AS bucket,
                 count(*) AS cnt
          FROM events CROSS JOIN seeds
          GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT user_id AS key FROM events),
        est AS (
          SELECT key, min(cnt) AS est_cnt
          FROM (SELECT key, seed, {_bucket_sql('key', _CMS_WIDTH)} AS bucket
                FROM probes CROSS JOIN seeds) p
          JOIN cms USING (seed, bucket)
          GROUP BY key
        ),
        tru AS (SELECT user_id AS key, count(*) AS true_cnt FROM events GROUP BY 1)
        SELECT key, est_cnt, true_cnt, est_cnt - true_cnt AS overestimate
        FROM est JOIN tru USING (key)
    """,
    description=f"count-min sketch ({_CMS_DEPTH}x{_CMS_WIDTH}) frequency estimates per user vs true counts",
    tags=("sketch", "events"),
    bench=True,
)
def cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r9: the probe set IS the true-count relation (both are the distinct
    # user ids), so the old separate ev.distinct() branch — a third full
    # events scan plus a second data-sized shuffle — is gone: estimates
    # are computed over the true-count rows and joined back key-on-key
    # (co-partitioned, the Exchange is reused). Everything stays lazy so
    # the sketch build and the true-count branch run as parallel stages
    # of one job; the sketch side's shuffle is bounded at depth x width.
    ev = load_table(spark, sf_dir, "events")
    sketch = sk.cms_build(ev, "user_id", _CMS_DEPTH, _CMS_WIDTH)
    # materialized once: the true-count twin feeds both the probe set and
    # the final join, and the hoped-for Exchange reuse between them did
    # not survive planning (r11 scan audit: 3 fact scans) — the
    # checkpoint pins it at 2 passes (sketch build + exact twin)
    true = pin(
        ev.groupBy(F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).alias("true_cnt")),
        eager=False,
    )
    est = sk.cms_estimate(
        sketch,
        true.select(F.col("key").alias("user_id")),
        "user_id",
        _CMS_DEPTH,
        _CMS_WIDTH,
    )
    return est.join(true, "key").select(
        "key", "est_cnt", "true_cnt",
        (F.col("est_cnt") - F.col("true_cnt")).alias("overestimate"),
    )


@register(
    "sketch_bloom_custkey_probe",
    oracle=f"""
        WITH seeds AS (SELECT unnest(range({_BLOOM_K})) AS seed),
        pos AS (
          SELECT DISTINCT {_bucket_sql('o_custkey', _BLOOM_M)} AS pos
          FROM orders CROSS JOIN seeds
        ),
        words AS (
          SELECT pos // 32 AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
          FROM pos GROUP BY 1
        ),
        probe_pos AS (
          SELECT c_custkey AS key, {_bucket_sql('c_custkey', _BLOOM_M)} AS pos
          FROM customer CROSS JOIN seeds
        ),
        hits AS (
          SELECT key,
                 coalesce((bits >> CAST(pos % 32 AS INT)) & 1, 0) = 1 AS bit_set
          FROM probe_pos LEFT JOIN words ON (pos // 32) = word
        ),
        may AS (SELECT key, bool_and(bit_set) AS may_contain FROM hits GROUP BY key),
        members AS (SELECT DISTINCT o_custkey AS key FROM orders)
        SELECT may.key, may_contain,
               members.key IS NOT NULL AS is_member
        FROM may LEFT JOIN members USING (key)
    """,
    description=f"Bloom filter ({_BLOOM_M} bits, k={_BLOOM_K}) over ordering customers, probed by every customer",
    tags=("sketch", "join-prefilter"),
)
def bloom_custkey_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    bloom = sk.bloom_build(orders, "o_custkey", _BLOOM_K, _BLOOM_M)
    probed = sk.bloom_probe(bloom, customer, "c_custkey", _BLOOM_K, _BLOOM_M)
    members = orders.select(F.col("o_custkey").alias("key")).distinct().withColumn(
        "is_member", F.lit(True)
    )
    return probed.join(members, "key", "left").select(
        "key", "may_contain", F.coalesce("is_member", F.lit(False)).alias("is_member")
    )


_HLL_P = 9


@register(
    "sketch_hll_distinct_users",
    # r6: converted from rows-only (approx_count_distinct's HLL++ bias
    # tables are engine-private) to a fully oracle-checked classic HLL on
    # md5-derived hashes — the same md5-register trick that made CMS and
    # Bloom checkable in r2. DuckDB reproduces registers, harmonic sum,
    # and linear-counting correction exactly; see ops/sketches.py.
    oracle=f"""
        WITH hll AS ({sk.hll_md5_oracle_sql("user_id", "event_type", "events", _HLL_P)}),
        tru AS (
          SELECT event_type AS grp, count(DISTINCT user_id) AS true_distinct
          FROM events GROUP BY 1
        )
        SELECT hll.grp AS event_type, est_distinct, true_distinct
        FROM hll JOIN tru USING (grp)
    """,
    description=f"md5-register HLL (m=2^{_HLL_P}) distinct users per event type vs exact — the no-shuffle COUNT(DISTINCT) at scale, sketch AND estimate oracle-checked",
    tags=("sketch", "events"),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    regs = sk.hll_md5_registers(ev, ["event_type"], "user_id", _HLL_P)
    est = sk.hll_md5_estimate(regs, ["event_type"], _HLL_P)
    true = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_distinct")
    )
    return est.join(true, "event_type").select(
        "event_type", "est_distinct", "true_distinct"
    )


@register(
    "sketch_value_quantiles",
    # r11: re-pointed from the rows-only engine KLL (err='no_oracle'
    # since r2 — the single permanently non-green ledger cell) to the
    # EXACT ground truth that sketch evaluation needs anyway: type-1
    # (inverse-CDF) p50/p90/p99 per event type, computed over the
    # distinct-VALUE domain so it is hash-attestable and scale-sound.
    # The engine KLL (`sk.approx_quantiles`) is unchanged and keeps its
    # rank-error pytest pin (tests/test_sketches.py::
    # test_approx_quantiles_bracket_exact); the approximate estimators
    # stay beside this as sketch_sampled_quantiles (md5-sample) and
    # sketch_histogram_quantiles (mergeable registers). The thresholds
    # use exact integer arithmetic (k*cum >= m*n ⇔ cum >= ceil(p*n) for
    # p = m/k), and every output value is an ELEMENT of the column —
    # no cross-engine float arithmetic to drift.
    oracle="""
        WITH g AS (
          SELECT event_type, value AS x, count(*) AS c
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ),
        c AS (
          SELECT event_type, x,
                 sum(c) OVER (PARTITION BY event_type ORDER BY x) AS cum,
                 CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
                   AS n_rows
          FROM g
        )
        SELECT event_type, n_rows,
               min(CASE WHEN 2 * cum >= n_rows THEN x END) AS p50,
               min(CASE WHEN 10 * cum >= 9 * n_rows THEN x END) AS p90,
               min(CASE WHEN 100 * cum >= 99 * n_rows THEN x END) AS p99
        FROM c
        GROUP BY 1, 2
    """,
    description=(
        "exact type-1 (inverse-CDF) p50/p90/p99 of event value per type, "
        "computed over per-value counts cumulated on the distinct-value "
        "domain — the hash-attested ground truth the KLL/sample/histogram "
        "sketches approximate"
    ),
    tags=("sketch", "events"),
)
def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: identical decomposition to
    agg_weighted_median_distributed — the fact table collapses first to
    one row per distinct (event_type, value) via a plain hash aggregate
    (map-side combinable, shuffle bounded by the value DOMAIN, not row
    count); the cumulative-count window then orders only that domain.
    The per-group total rides the SAME window exchange as the running
    sum (an unbounded frame over the identical partitioning), so the
    whole query is ONE fact scan and two exchanges — no second scan to
    recompute totals, no join. Each quantile is the smallest element
    whose cumulative count reaches ceil(p*n) — pure integer comparisons,
    and the returned doubles are column elements, so the DuckDB oracle
    is bit-equal by construction. If the value domain itself were
    unbounded, the range-partition + offset prefix-sum trick of
    window_balance_quartiles_distributed applies unchanged. Null values
    are excluded on both sides — quantiles are over observed values, and
    nulls would otherwise sort first in Spark windows but last in
    DuckDB's."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    g = ev.groupBy("event_type", F.col("value").alias("x")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum_w = Window.partitionBy("event_type").orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.partitionBy("event_type")
    c = g.withColumn("cum", F.sum("c").over(cum_w)).withColumn(
        "n_rows", F.sum("c").over(tot_w).cast("bigint")
    )
    return (
        c.groupBy("event_type", "n_rows")
        .agg(
            F.min(
                F.when(2 * F.col("cum") >= F.col("n_rows"), F.col("x"))
            ).alias("p50"),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("n_rows"), F.col("x"))
            ).alias("p90"),
            F.min(
                F.when(100 * F.col("cum") >= 99 * F.col("n_rows"), F.col("x"))
            ).alias("p99"),
        )
        .select("event_type", "n_rows", "p50", "p90", "p99")
    )


_SQ_SEED, _SQ_RATE = 41, 10  # 10% deterministic sample


@register(
    "sketch_sampled_quantiles",
    # r6: an oracle-CHECKABLE quantile sketch beside the rows-only KLL
    # twin (sketch_value_quantiles): a deterministic md5 10% row sample
    # (union-mergeable, replay-idempotent — the same hash-filter shape as
    # curation_hash_split) + exact interpolated percentiles over the
    # sample. percentile ≡ quantile_cont is bit-equal cross-engine
    # (agg_order_value_percentiles), and the sample membership is md5,
    # so the whole estimate hash-matches.
    oracle=f"""
        SELECT event_type,
               quantile_cont(value, 0.50) AS p50_est,
               quantile_cont(value, 0.90) AS p90_est,
               quantile_cont(value, 0.99) AS p99_est,
               CAST(count(*) AS BIGINT) AS sample_n
        FROM events
        WHERE {_bucket_sql_const(_SQ_SEED, 'event_id', 100)} < {_SQ_RATE}
        GROUP BY event_type
    """,
    description=f"sampled-quantile sketch: deterministic md5 {_SQ_RATE}% row "
    "sample (mergeable, idempotent under replay) + exact interpolated "
    "p50/p90/p99 per event type — the oracle-checkable alternative to the "
    "engine-internal KLL; the per-group sort runs over the sample, not the "
    "stream",
    tags=("sketch", "events", "sampling"),
)
def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sample = ev.filter(
        sk.md5_bucket(F.col("event_id"), _SQ_SEED, 100) < _SQ_RATE
    )
    return sample.groupBy("event_type").agg(
        F.expr("percentile(value, 0.50D)").alias("p50_est"),
        F.expr("percentile(value, 0.90D)").alias("p90_est"),
        F.expr("percentile(value, 0.99D)").alias("p99_est"),
        F.count(F.lit(1)).alias("sample_n"),
    )


_HQ_W, _HQ_SEED, _HQ_SHARDS = 4.0, 43, 8
_HQ_PROBS = [0.5, 0.9, 0.99]


@register(
    "sketch_histogram_quantiles",
    # r9: the oracle-checkable MERGEABLE quantile sketch beside the
    # rows-only KLL (sketch_value_quantiles) and the sampled estimator
    # (sketch_sampled_quantiles): fixed-width-bin histogram registers
    # (DDSketch shape, linear bins for bit-stable cross-engine floor) built
    # per md5 shard, merged by sum — the Spark plan attests the
    # re-aggregatable register form; the oracle computes the single-level
    # equivalent, equal by associativity of +.
    oracle=f"""
        WITH hq AS ({sk.histogram_quantile_oracle_sql(
            "value", "event_type", "events", _HQ_W, _HQ_PROBS)})
        SELECT grp AS event_type,
               max(CASE WHEN q = 0.5 THEN est END) AS p50_est,
               max(CASE WHEN q = 0.9 THEN est END) AS p90_est,
               max(CASE WHEN q = 0.99 THEN est END) AS p99_est,
               max(n) AS n
        FROM hq GROUP BY 1
    """,
    description=f"mergeable histogram quantile sketch (w={_HQ_W}, per-md5-shard "
    "registers summed then interpolated) — the deterministic, fully "
    "hash-attested alternative to the engine-internal KLL; register table "
    "is sketch-sized, merge is associative sum (map-side combine / "
    "re-aggregation across shards is exact)",
    tags=("sketch", "events"),
)
def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "shard", sk.md5_bucket(F.col("event_id"), _HQ_SEED, _HQ_SHARDS)
    )
    sharded = sk.histogram_registers(ev, ["shard", "event_type"], "value", _HQ_W)
    merged = sharded.groupBy("event_type", "bin").agg(F.sum("cnt").alias("cnt"))
    est = sk.histogram_quantile_estimate(merged, ["event_type"], _HQ_W, _HQ_PROBS)
    return est.groupBy("event_type").agg(
        F.max(F.when(F.col("q") == 0.5, F.col("est"))).alias("p50_est"),
        F.max(F.when(F.col("q") == 0.9, F.col("est"))).alias("p90_est"),
        F.max(F.when(F.col("q") == 0.99, F.col("est"))).alias("p99_est"),
        F.max("n").alias("n"),
    )


# Skew-audit sketch: a wider CMS (overestimate ~ N/width must stay small
# against the skew margin, so the width scales with N, not the key count)
# and a threshold relative to the MEAN key frequency — the shape a salting
# decision needs ("which keys run hot?"), robust to uniform-ish data where
# fraction-of-N heavy hitters are degenerate.
_HH_WIDTH, _HH_FACTOR = 8192, 1.2


@register(
    "sketch_cms_heavy_hitters",
    oracle=f"""
        WITH seeds AS (SELECT unnest(range({_CMS_DEPTH})) AS seed),
        cms AS (
          SELECT seed, {_bucket_sql('user_id', _HH_WIDTH)} AS bucket,
                 count(*) AS cnt
          FROM events CROSS JOIN seeds
          GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT user_id AS key FROM events),
        n AS (
          SELECT count(*) AS total, (SELECT count(*) FROM probes) AS nk
          FROM events
        ),
        est AS (
          SELECT key, min(cnt) AS est_cnt
          FROM (SELECT key, seed, {_bucket_sql('key', _HH_WIDTH)} AS bucket
                FROM probes CROSS JOIN seeds) p
          JOIN cms USING (seed, bucket)
          GROUP BY key
        ),
        tru AS (SELECT user_id AS key, count(*) AS true_cnt FROM events GROUP BY 1)
        SELECT key, est_cnt, true_cnt,
               true_cnt >= {_HH_FACTOR} * total / nk AS is_true_hot
        FROM est JOIN tru USING (key) CROSS JOIN n
        WHERE est_cnt >= {_HH_FACTOR} * total / nk
    """,
    description=f"sketch-driven skew audit: keys whose {_CMS_DEPTH}x{_HH_WIDTH} "
    f"CMS estimate exceeds {_HH_FACTOR}x the mean key frequency — the hot-key "
    "candidates a salting strategy would split, found without a full per-key "
    "count shuffle; CM never underestimates, so no hot key is missed "
    "(is_true_hot marks the sketch's false positives)",
    tags=("sketch", "events", "skew"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale notes: exactly TWO fact passes — the CMS build and the
    exact per-key count. The probe set and the total/distinct counts are
    both derived from the per-key count (materialized once; it is the
    attestation twin and key-domain-sized by nature — at real scale the
    sketch runs alone and this side disappears). The naive form
    re-aggregated the fact four times."""
    ev = load_table(spark, sf_dir, "events")
    sketch = sk.cms_build(ev, "user_id", _CMS_DEPTH, _HH_WIDTH)
    true = pin(
        ev.groupBy(F.col("user_id").alias("key"))
        .agg(F.count(F.lit(1)).alias("true_cnt")),
        eager=False,
    )
    probes = true.select(F.col("key").alias("user_id"))
    est = sk.cms_estimate(sketch, probes, "user_id", _CMS_DEPTH, _HH_WIDTH)
    totals = true.agg(
        F.sum("true_cnt").alias("total"),
        F.count(F.lit(1)).alias("nk"),
    )
    thresh = F.lit(_HH_FACTOR) * F.col("total") / F.col("nk")
    return (
        est.join(true, "key")
        .crossJoin(F.broadcast(totals))
        .filter(F.col("est_cnt") >= thresh)
        .select(
            "key",
            "est_cnt",
            "true_cnt",
            (F.col("true_cnt") >= thresh).alias("is_true_hot"),
        )
    )


# ---------------------------------------------------------------------------
# Join-cardinality estimation from CMS inner products (AMS F2 shape)
# ---------------------------------------------------------------------------

_JS_DEPTH, _JS_WIDTH = 4, 1024


def _sliced_sql(key_sql: str, seed_col: str = "seed") -> str:
    """DuckDB twin of the sliced-md5 bucket: depth row d reads hex chars
    [1+8d, 8+8d) of ONE md5 — 4 independent-enough 32-bit hashes for the
    price of a single digest (Kirsch-Mitzenmacher-style derivation)."""
    return (
        f"CAST(concat('0x', substr(md5(concat('cms4:', CAST({key_sql} AS VARCHAR))), "
        f"1 + 8 * {seed_col}, 8)) AS UBIGINT) % {_JS_WIDTH}"
    )


@register(
    "sketch_cms_join_size",
    oracle=f"""
        -- Join-size estimation from count-min inner products: for an
        -- equi-join R ⋈ S the exact size is Σ_k f_R(k)·f_S(k); the CMS
        -- estimate is min over depth rows of Σ_b cR[d,b]·cS[d,b]
        -- (collisions only ADD, so the estimate never underestimates —
        -- same guarantee family as the point-estimate CMS). The self-join
        -- case (S = R) is the second frequency moment F2, the classic
        -- AMS statistic planners use for skew detection. All-integer
        -- arithmetic; each depth row reads one 8-hex slice of a single
        -- md5 per key (4 hashes for one digest).
        WITH seeds AS (SELECT unnest(range({_JS_DEPTH})) AS seed),
        cms_lo AS (
          SELECT seed, {_sliced_sql('l_orderkey')} AS bucket,
                 count(*) AS cnt
          FROM lineitem CROSS JOIN seeds GROUP BY 1, 2
        ),
        cms_oo AS (
          SELECT seed, {_sliced_sql('o_orderkey')} AS bucket,
                 count(*) AS cnt
          FROM orders CROSS JOIN seeds GROUP BY 1, 2
        ),
        cms_lp AS (
          SELECT seed, {_sliced_sql('l_partkey')} AS bucket,
                 count(*) AS cnt
          FROM lineitem CROSS JOIN seeds GROUP BY 1, 2
        ),
        est1 AS (
          SELECT min(s) AS est_rows FROM (
            SELECT a.seed, CAST(sum(a.cnt * b.cnt) AS BIGINT) AS s
            FROM cms_lo a JOIN cms_oo b USING (seed, bucket) GROUP BY 1)
        ),
        est2 AS (
          SELECT min(s) AS est_rows FROM (
            SELECT seed, CAST(sum(cnt * cnt) AS BIGINT) AS s
            FROM cms_lp GROUP BY 1)
        ),
        ex1 AS (
          SELECT CAST(sum(l.c * o.c) AS BIGINT) AS exact_rows
          FROM (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1) l
          JOIN (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1) o
          USING (k)
        ),
        ex2 AS (
          SELECT CAST(sum(c * c) AS BIGINT) AS exact_rows
          FROM (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
        )
        SELECT 'lineitem_join_orders_on_orderkey' AS relation,
               est1.est_rows, ex1.exact_rows,
               est1.est_rows - ex1.exact_rows AS overestimate
        FROM est1 CROSS JOIN ex1
        UNION ALL
        SELECT 'lineitem_selfjoin_on_partkey',
               est2.est_rows, ex2.exact_rows,
               est2.est_rows - ex2.exact_rows
        FROM est2 CROSS JOIN ex2
    """,
    description=f"planner-statistics join-cardinality estimation: CMS "
    f"({_JS_DEPTH}x{_JS_WIDTH}) inner-product estimates of "
    f"|lineitem ⋈ orders| and the partkey self-join size (AMS F2) vs "
    f"exact — sketches hash distinct KEYS (from persisted per-key count "
    f"tables the exact twins reuse), all four depth hashes come from a "
    f"single md5 per key, and output stays depth×width",
    tags=("sketch", "tpch", "planner"),
    bench=True,
)
def cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based join-size estimation (the statistic a cost-based
    optimizer wants before committing to a join strategy at 100 TB —
    computable in one pass per relation, mergeable across partitions,
    never underestimating). min-over-depth of the bucket inner product.
    Both lineitem sketches (orderkey + partkey) are built in a single
    scan via a tagged explode; the exact twins reuse one persisted
    per-key count frame each."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    # Per-key count tables first (ONE lineitem scan feeds both, via a
    # tagged union of the two group-bys); the sketches then hash KEYS
    # (~0.2M digests) instead of ROWS (~0.75M at sf0.1) by summing cnt
    # into the buckets — the counters come out identical, so the oracle
    # (which buckets raw rows) is untouched. The persisted count tables
    # are reused by the exact twins inside the same execution.
    def key_counts(df: DataFrame, key: str) -> DataFrame:
        return (
            df.groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .persist()
        )

    lo_counts = key_counts(li, "l_orderkey")
    lp_counts = key_counts(li, "l_partkey")
    oo_counts = key_counts(orders, "o_orderkey")

    def sketch_from_counts(counts: DataFrame) -> DataFrame:
        h = F.md5(
            F.encode(F.concat(F.lit("cms4:"), F.col("k").cast("string")), "UTF-8")
        )
        structs = [
            F.struct(
                F.lit(s).alias("seed"),
                (
                    F.conv(F.substring(h, 1 + 8 * s, 8), 16, 10).cast("bigint")
                    % _JS_WIDTH
                ).alias("bucket"),
                F.col("c").alias("c"),
            )
            for s in range(_JS_DEPTH)
        ]
        return (
            counts.select(F.explode(F.array(*structs)).alias("sb"))
            .groupBy("sb.seed", "sb.bucket")
            .agg(F.sum("sb.c").alias("cnt"))
        )

    cms_lo = sketch_from_counts(lo_counts)
    cms_lp = sketch_from_counts(lp_counts)
    cms_oo = sketch_from_counts(oo_counts)

    def inner_product(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(
                b.select("seed", "bucket", F.col("cnt").alias("cnt_b")),
                ["seed", "bucket"],
            )
            .groupBy("seed")
            .agg(F.sum(F.col("cnt") * F.col("cnt_b")).cast("bigint").alias("s"))
            .agg(F.min("s").alias("est_rows"))
        )

    est1 = inner_product(cms_lo, cms_oo)
    # r16: the self-inner-product is Σ cnt² over the sketch's own buckets
    # — a plain aggregate, not a self-join (the r15 shape joined cms_lp
    # with itself, which also re-derived the unpersisted sketch twice).
    # Identical integer arithmetic: the (seed, bucket) self-join matches
    # every bucket exactly with itself.
    est2 = (
        cms_lp.groupBy("seed")
        .agg(F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s"))
        .agg(F.min("s").alias("est_rows"))
    )
    ex1 = (
        lo_counts.join(
            oo_counts.select("k", F.col("c").alias("c_b")), "k"
        ).agg(F.sum(F.col("c") * F.col("c_b")).cast("bigint").alias("exact_rows"))
    )
    ex2 = lp_counts.agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_rows")
    )

    def row(label: str, est: DataFrame, ex: DataFrame) -> DataFrame:
        return est.crossJoin(ex).select(
            F.lit(label).alias("relation"),
            "est_rows",
            "exact_rows",
            (F.col("est_rows") - F.col("exact_rows")).alias("overestimate"),
        )

    return row("lineitem_join_orders_on_orderkey", est1, ex1).unionByName(
        row("lineitem_selfjoin_on_partkey", est2, ex2)
    )


# ---------------------------------------------------------------------------
# HLL set algebra: union by register max-merge, intersection by
# inclusion-exclusion — the mergeable-sketch story made user-visible
# ---------------------------------------------------------------------------


@register(
    "sketch_hll_set_ops",
    oracle=f"""
        -- Set algebra on HLL sketches over the even/odd event halves
        -- (stand-ins for two corpus shards): per-half distinct-user
        -- estimates, the union estimated from MAX-merged registers, and
        -- the intersection by inclusion-exclusion (a + b - union; can be
        -- noisy/negative at sketch error, reported as-is). The oracle's
        -- union estimate scans the full table — equality with the Spark
        -- plan, which only max-merges the two per-half register sets, IS
        -- the mergeability property under test.
        WITH a AS ({sk.hll_md5_oracle_sql("user_id", "'even_half'",
                    "(SELECT user_id FROM events WHERE event_id % 2 = 0) te", _HLL_P)}),
        b AS ({sk.hll_md5_oracle_sql("user_id", "'odd_half'",
                    "(SELECT user_id FROM events WHERE event_id % 2 = 1) to_", _HLL_P)}),
        u AS ({sk.hll_md5_oracle_sql("user_id", "'union'", "events", _HLL_P)}),
        ex AS (
          SELECT
            (SELECT count(DISTINCT user_id) FROM events WHERE event_id % 2 = 0) AS xa,
            (SELECT count(DISTINCT user_id) FROM events WHERE event_id % 2 = 1) AS xb,
            (SELECT count(DISTINCT user_id) FROM events) AS xu
        )
        SELECT 'even_half' AS set_name, a.est_distinct,
               CAST(ex.xa AS BIGINT) AS exact_distinct FROM a CROSS JOIN ex
        UNION ALL
        SELECT 'odd_half', b.est_distinct, CAST(ex.xb AS BIGINT)
        FROM b CROSS JOIN ex
        UNION ALL
        SELECT 'union', u.est_distinct, CAST(ex.xu AS BIGINT)
        FROM u CROSS JOIN ex
        UNION ALL
        SELECT 'intersection',
               a.est_distinct + b.est_distinct - u.est_distinct,
               CAST(ex.xa + ex.xb - ex.xu AS BIGINT)
        FROM a CROSS JOIN b CROSS JOIN u CROSS JOIN ex
    """,
    description=f"HLL set algebra across two shards: per-shard distinct "
    f"users, union via register MAX-merge (no rescan of either shard), "
    f"intersection via inclusion-exclusion — the single-pass mergeable "
    f"sketch that replaces cross-shard COUNT(DISTINCT) at 100 TB",
    tags=("sketch", "events"),
)
def hll_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan builds BOTH per-half register sets (half is just a group
    key); the union sketch is a register max-merge of those ≤2·2^p rows —
    the whole set-algebra layer never touches the data again. This is how
    per-shard/per-day sketches roll up to corpus-level distinct counts
    without a second pass."""
    ev = load_table(spark, sf_dir, "events")
    halves = ev.select(
        F.when(F.col("event_id") % 2 == 0, F.lit("even_half"))
        .otherwise(F.lit("odd_half"))
        .alias("half"),
        "user_id",
    )
    # lazy pin: the <=2*2^p register rows execute ONCE inside the first
    # consuming job (block-level getOrElseUpdate locking in the cached
    # subtree), and regs feeds four consumers (both per-half estimates,
    # the union merge, and the pivot below) — without it each consumer
    # re-derives the registers from the fact; the r11 scan audit found
    # 16 fact scans in this plan. Zero jobs at plan-build, one fact
    # scan at execution, sketch-sized storage.
    regs = pin(sk.hll_md5_registers(halves, ["half"], "user_id", _HLL_P), eager=False)
    per = sk.hll_md5_estimate(regs, ["half"], _HLL_P)
    union_regs = regs.groupBy("idx").agg(F.max("reg").alias("reg"))
    est_u = sk.hll_md5_estimate(union_regs, [], _HLL_P).select(
        F.col("est_distinct").alias("est_u")
    )
    ea = per.filter(F.col("half") == "even_half").select(
        F.col("est_distinct").alias("est_a")
    )
    eb = per.filter(F.col("half") == "odd_half").select(
        F.col("est_distinct").alias("est_b")
    )
    ex = ev.agg(
        F.countDistinct(
            F.when(F.col("event_id") % 2 == 0, F.col("user_id"))
        ).alias("xa"),
        F.countDistinct(
            F.when(F.col("event_id") % 2 == 1, F.col("user_id"))
        ).alias("xb"),
        F.countDistinct("user_id").alias("xu"),
    )
    # the 1-row stats frame feeds all four union branches below; the
    # lazy pin's cached subtree executes once within the consuming job,
    # keeping the exact-distinct pass (ex) at ONE fact scan instead of
    # one per branch
    n = pin(
        ea.crossJoin(eb)
        .crossJoin(est_u)
        .crossJoin(F.broadcast(ex)),
        eager=False,
    )
    return (
        n.select(
            F.lit("even_half").alias("set_name"),
            F.col("est_a").alias("est_distinct"),
            F.col("xa").cast("bigint").alias("exact_distinct"),
        )
        .unionByName(
            n.select(
                F.lit("odd_half").alias("set_name"),
                F.col("est_b").alias("est_distinct"),
                F.col("xb").cast("bigint").alias("exact_distinct"),
            )
        )
        .unionByName(
            n.select(
                F.lit("union").alias("set_name"),
                F.col("est_u").alias("est_distinct"),
                F.col("xu").cast("bigint").alias("exact_distinct"),
            )
        )
        .unionByName(
            n.select(
                F.lit("intersection").alias("set_name"),
                (F.col("est_a") + F.col("est_b") - F.col("est_u")).alias(
                    "est_distinct"
                ),
                (F.col("xa") + F.col("xb") - F.col("xu"))
                .cast("bigint")
                .alias("exact_distinct"),
            )
        )
    )


# ---------------------------------------------------------------------------
# Bloom runtime-filter join: the broadcast-filter pushdown made explicit
# ---------------------------------------------------------------------------

_RF_K, _RF_M = 3, 1 << 18


def _rf_sliced_sql(key_sql: str) -> str:
    """Bloom position for depth row `seed`: 8-hex slice [1+8*seed, ..] of
    ONE md5 per key — one digest buys all three probe positions (same
    Kirsch-Mitzenmacher-style derivation as the CMS join-size sketch)."""
    return (
        f"CAST(concat('0x', substr(md5(concat('rf:', CAST({key_sql} AS VARCHAR))), "
        f"1 + 8 * seed, 8)) AS UBIGINT) % {_RF_M}"
    )


def _rf_sliced_pos(key, s_: int):
    h = F.md5(F.encode(F.concat(F.lit("rf:"), key.cast("string")), "UTF-8"))
    return (
        F.conv(F.substring(h, 1 + 8 * s_, 8), 16, 10).cast("bigint") % _RF_M
    )


@register(
    "join_bloom_runtime_filter",
    oracle=f"""
        -- Runtime-filter join audit: the dimension predicate (URGENT
        -- orders) builds a Bloom filter over its join keys; the fact scan
        -- tests every row against the filter BEFORE any join; the exact
        -- join then removes the false positives. Reported: fact rows in,
        -- rows surviving the filter, true join rows, false-positive rows
        -- the filter let through, and the joined revenue (decimal-exact).
        WITH seeds AS (SELECT unnest(range({_RF_K})) AS seed),
        dimkeys AS (
          SELECT DISTINCT o_orderkey AS k FROM orders
          WHERE o_orderpriority = '1-URGENT'
        ),
        pos AS (
          SELECT DISTINCT {_rf_sliced_sql('k')} AS pos
          FROM dimkeys CROSS JOIN seeds
        ),
        words AS (
          SELECT pos // 32 AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
          FROM pos GROUP BY 1
        ),
        probe AS (
          SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice,
                 bool_and(coalesce((w.bits >> CAST(p.pos % 32 AS INT)) & 1, 0) = 1)
                   AS may_contain
          FROM (SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem) l
          CROSS JOIN seeds
          JOIN LATERAL (SELECT {_rf_sliced_sql('l.l_orderkey')} AS pos) p ON true
          LEFT JOIN words w ON (p.pos // 32) = w.word
          GROUP BY 1, 2, 3
        ),
        passed AS (SELECT * FROM probe WHERE may_contain),
        joined AS (
          SELECT p.l_orderkey, p.l_linenumber, p.l_extendedprice
          FROM passed p JOIN dimkeys d ON p.l_orderkey = d.k
        )
        SELECT (SELECT count(*) FROM lineitem) AS n_fact_rows,
               (SELECT count(*) FROM passed) AS n_prefiltered,
               (SELECT count(*) FROM joined) AS n_joined,
               (SELECT count(*) FROM passed)
                 - (SELECT count(*) FROM joined) AS n_false_positive,
               (SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))), 2)
                            AS DOUBLE) FROM joined) AS revenue
    """,
    description=f"runtime-filter join made explicit: Bloom filter "
    f"({_RF_M} bits, k={_RF_K}) over the URGENT orders' keys is broadcast "
    f"as ONE map row and tested per fact row at the scan (map-side, no "
    f"shuffle, no explode); the exact join then drops the false "
    f"positives, which are counted — the pushdown that keeps a 100 TB "
    f"fact scan from shuffling rows a selective dimension will discard",
    tags=("sketch", "join-prefilter", "tpch"),
    bench=True,
)
def bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's own runtime row-group filtering is opaque to the user; this
    operator builds the equivalent Bloom pushdown explicitly so its
    selectivity is auditable. The filter words collapse into a single
    map<word,bits> row (≤ m/32 entries) broadcast to every task; each
    fact row computes its k bucket positions inline and tests the map —
    zero extra shuffles before the (already-filtered) join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    dim = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .persist()
    )
    pos = dim.select(
        F.explode(
            F.array(*[_rf_sliced_pos(F.col("k"), s_) for s_ in range(_RF_K)])
        ).alias("pos")
    )
    words = pos.groupBy((F.col("pos") / 32).cast("int").alias("word")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
        ).alias("bits")
    )
    # The probe is THREE BroadcastHashJoins against the ≤m/32-row words
    # table — a constant-time hash lookup per fact row with NO shuffle of
    # the fact side (broadcast joins preserve partitioning), which is how
    # engines execute runtime-filter probes. Three earlier shapes were
    # instructively catastrophic at sf0.1: a map column (element_at scans
    # all entries, O(m) per probe), a dense array attached by crossJoin
    # (64 KB serialized into every row), an array LITERAL (F.lit(list)
    # builds 8192 Literal columns through py4j — ~6.5s of pure driver
    # overhead per plan), and a string literal (UTF8String substring
    # scans from offset 0 per call).
    words = words.persist()
    # r16: all k positions/words are computed in ONE projection before
    # the probe joins — the k slices share a single md5 subtree, which
    # whole-stage codegen's subexpression elimination evaluates once per
    # fact row (the r15 shape interleaved a withColumn + join per seed,
    # so each Project re-derived its own digest: k md5s per row). The
    # probes stay k BroadcastHashJoins against the ≤m/32-row words table.
    probed = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        *[
            _rf_sliced_pos(F.col("l_orderkey"), s_).alias(f"__pos{s_}")
            for s_ in range(_RF_K)
        ],
    ).select(
        "*",
        *[
            (F.col(f"__pos{s_}") / 32).cast("int").alias(f"__word{s_}")
            for s_ in range(_RF_K)
        ],
    )
    for s_ in range(_RF_K):
        probed = probed.join(
            F.broadcast(
                words.select(
                    F.col("word").alias(f"__word{s_}"),
                    F.col("bits").alias(f"__bits{s_}"),
                )
            ),
            f"__word{s_}",
            "left",
        ).withColumn(f"__bits{s_}", F.coalesce(F.col(f"__bits{s_}"), F.lit(0)))
    may = F.lit(True)
    for s_ in range(_RF_K):
        bit = (
            F.expr(
                f"shiftright(__bits{s_}, CAST(__pos{s_} % 32 AS INT)) & 1"
            )
            == 1
        )
        may = may & bit
    # ONE fact pass: flags carry the verdict; counts and the exact join
    # both read the persisted flags frame instead of rescanning lineitem.
    # Measured against one fact re-scan at the 8× synth SF
    # (OPTIMIZATION_r17.md): persist 3.86 s vs re-scan 5.09 s on 8 cores,
    # 3.55 s vs 3.63 s on 32. persist()'s default memory-and-disk level
    # spills a flags frame larger than executor memory instead of failing.
    flags = probed.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", may.alias("may")
    ).persist()
    counts = flags.agg(
        F.count(F.lit(1)).alias("n_fact_rows"),
        F.sum(F.col("may").cast("int")).cast("bigint").alias("n_prefiltered"),
    )
    from counsel_data_pipeline_spark.plans._parity import dec

    # No broadcast hint on the exact join: the dimension here is ~20% of
    # orders (billions of keys at 100 TB — an executor-OOM broadcast
    # inside the very query that demonstrates scale-safe pushdown). The
    # Bloom prefilter has already shrunk the fact side, so AQE picks the
    # strategy from the real post-filter sizes.
    joined = flags.filter(F.col("may")).join(dim, flags.l_orderkey == dim.k)
    j = joined.agg(
        F.count(F.lit(1)).alias("n_joined"),
        F.round(F.sum(dec("l_extendedprice")), 2)
        .cast("double")
        .alias("revenue"),
    )
    return counts.crossJoin(j).select(
        "n_fact_rows",
        "n_prefiltered",
        "n_joined",
        (F.col("n_prefiltered") - F.col("n_joined")).alias("n_false_positive"),
        "revenue",
    )


def _hll_sliding_oracle(p: int) -> str:
    m = 1 << p
    rbits = 32 - p
    rmax = rbits + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    numerator = alpha * float(m * m) * float(1 << rmax)
    return f"""
        -- Sliding 6h distinct users per hourly window end, answered by
        -- MERGING hourly HLL register tables (register max over the six
        -- contributing hours) — the sketch-mergeability use case native
        -- windows can't express without re-scanning each window. The
        -- estimate math is the classic-HLL grid sketch_hll_distinct_users
        -- already attests; true distinct joined for the error audit.
        WITH h AS (
          SELECT date_trunc('hour', ts) AS hr, user_id,
                 CAST(concat('0x', substr(md5(concat('hll:',
                      CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS h
          FROM events
        ),
        r AS (
          SELECT hr, h & {m - 1} AS idx,
                 CASE WHEN (h >> {p}) = 0 THEN {rmax}
                      ELSE {rmax} - length(bin(h >> {p})) END AS rho
          FROM h
        ),
        hregs AS (SELECT hr, idx, max(rho) AS reg FROM r GROUP BY 1, 2),
        offs AS (SELECT unnest(range(6)) AS o),
        wregs AS (
          SELECT hr + o * INTERVAL 1 HOUR AS wend, idx, max(reg) AS reg
          FROM hregs CROSS JOIN offs
          GROUP BY 1, 2
        ),
        agg AS (
          SELECT wend, count(*) AS n_regs,
                 CAST(sum(CAST(1 AS BIGINT) << CAST({rmax} - reg AS INT))
                      AS BIGINT) AS s_present
          FROM wregs GROUP BY 1
        ),
        e AS (
          SELECT wend, ({m} - n_regs) AS v,
                 {numerator!r} / CAST(s_present + ({m} - n_regs)
                     * CAST({1 << rmax} AS BIGINT) AS DOUBLE) AS e_raw
          FROM agg
        ),
        est AS (
          SELECT wend, CAST(round(
                   CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                        THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
                        ELSE e_raw END) AS BIGINT) AS est_distinct
          FROM e
        ),
        tru AS (
          SELECT hr + o * INTERVAL 1 HOUR AS wend,
                 CAST(count(DISTINCT user_id) AS BIGINT) AS true_distinct
          FROM (SELECT DISTINCT hr, user_id FROM h) d
          CROSS JOIN offs
          GROUP BY 1
        )
        SELECT strftime(est.wend, '%Y-%m-%d %H:%M:%S') AS window_end_s,
               est_distinct, true_distinct
        FROM est JOIN tru USING (wend)
    """


@register(
    "sketch_hll_sliding_distinct",
    oracle=_hll_sliding_oracle(_HLL_P),
    description=f"sliding 6h distinct users per hour from MERGED hourly "
    f"HLL register tables (m=2^{_HLL_P}, register max as the merge) vs "
    "exact — the mergeable-partial answer to sliding COUNT(DISTINCT): "
    "hourly registers built ONCE from one data pass, each window a "
    "register-max over six bounded tables, never a per-window rescan",
    tags=("sketch", "events", "window"),
)
def hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB: the raw stream is scanned once into per-hour registers
    (≤ 2^p rows per hour — calendar-sized state); every sliding window
    is then a merge of six register tables. Exact sliding distinct would
    rescan each event into all six of its windows (6x the shuffle) —
    here only registers fan out. The true-distinct join exists for the
    error audit (and does pay the 6x explode; drop it in production)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("hr"), "user_id"
    )
    hregs = sk.hll_md5_registers(ev, ["hr"], "user_id", _HLL_P)
    offs = F.explode(F.sequence(F.lit(0), F.lit(5))).alias("o")
    wregs = (
        hregs.select("hr", "idx", "reg", offs)
        .select(
            (F.col("hr") + F.make_interval(hours=F.col("o"))).alias("wend"),
            "idx",
            "reg",
        )
        .groupBy("wend", "idx")
        .agg(F.max("reg").alias("reg"))
    )
    est = sk.hll_md5_estimate(wregs, ["wend"], _HLL_P)
    tru = (
        ev.distinct()
        .select("hr", "user_id", offs)
        .select(
            (F.col("hr") + F.make_interval(hours=F.col("o"))).alias("wend"),
            "user_id",
        )
        .groupBy("wend")
        .agg(F.countDistinct("user_id").cast("bigint").alias("true_distinct"))
    )
    return est.join(tru, "wend").select(
        F.date_format("wend", "yyyy-MM-dd HH:mm:ss").alias("window_end_s"),
        "est_distinct",
        "true_distinct",
    )
