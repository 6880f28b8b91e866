"""Reference operator semantics exercised over the driver test tables —
each SURVEY §2 operator family gets an oracle-matched catalog entry so the
correctness gate covers the operator library itself, not only the golden
clinic fixtures (which pytest covers byte-exactly).

Mapping:
  A1 first-wins dedup        → ops_first_wins_dedup        (lineitem)
  A2 keyed max/OR merge      → ops_keyed_merge_two_sources (orders O vs F)
  J1/J5/J6 carry-forward     → ops_snapshot_carry_forward  (customer)
  P1-P8 clean projection     → ops_clean_anchor_extract    (documents-derived HTML)
  O1 stable sort + limit     → ops_stable_sort_topk        (orders)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.catalog import register
from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops.clean import anchor_href, anchor_text, js_to_int, null_if_none_sentinel
from counsel_data_pipeline_spark.ops.dedup import first_wins
from counsel_data_pipeline_spark.ops.diff import snapshot_split
from counsel_data_pipeline_spark.ops.merge import keyed_merge


@register(
    "ops_first_wins_dedup",
    oracle="""
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity
        FROM (
          SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
                 row_number() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
          FROM lineitem
        ) WHERE rn = 1
    """,
    description="A1: deterministic first-wins dedup (first lineitem per order; full tiebreak — line numbers repeat in this data)",
    tags=("reference-op", "dedup"),
    bench=True,
)
def first_wins_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"
    )
    return first_wins(
        li, F.col("l_orderkey"), order_col=["l_linenumber", "l_partkey", "l_suppkey"]
    )


@register(
    "ops_keyed_merge_two_sources",
    oracle="""
        -- keyed_merge semantics: union two sources with source rank, keep
        -- the first row's fields per key, max/OR the designated columns.
        WITH u AS (
          SELECT 0 AS src, o_custkey, o_orderkey, o_totalprice,
                 o_orderpriority IN ('1-URGENT','2-HIGH') AS urgent
          FROM orders WHERE o_orderstatus = 'O'
          UNION ALL
          SELECT 1, o_custkey, o_orderkey, o_totalprice,
                 o_orderpriority IN ('1-URGENT','2-HIGH')
          FROM orders WHERE o_orderstatus = 'F'
        ),
        firsts AS (
          SELECT * FROM (
            SELECT u.*, row_number() OVER (PARTITION BY o_custkey
                                           ORDER BY src, o_orderkey) AS rn
            FROM u
          ) WHERE rn = 1
        ),
        aggs AS (
          SELECT o_custkey, max(o_totalprice) AS max_price,
                 bool_or(urgent) AS any_urgent
          FROM u GROUP BY o_custkey
        )
        SELECT f.o_custkey, f.src, f.o_orderkey AS first_orderkey,
               a.max_price, a.any_urgent
        FROM firsts f JOIN aggs a USING (o_custkey)
    """,
    description="A2: two-source keyed merge — first-row fields, max price, OR'd urgency",
    tags=("reference-op", "merge"),
)
def keyed_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("urgent")
    cols = ["o_custkey", "o_orderkey", "o_totalprice"]
    open_o = orders.filter(F.col("o_orderstatus") == "O").select(*cols, urgent)
    done_o = orders.filter(F.col("o_orderstatus") == "F").select(*cols, urgent)
    merged = keyed_merge(
        open_o,
        done_o,
        key=F.col("o_custkey"),
        max_cols=["o_totalprice"],
        or_cols=["urgent"],
        order_col="o_orderkey",
    )
    return merged.select(
        "o_custkey",
        F.col("__src").alias("src"),
        F.col("o_orderkey").alias("first_orderkey"),
        F.col("o_totalprice").alias("max_price"),
        F.col("urgent").alias("any_urgent"),
    )


@register(
    "ops_snapshot_carry_forward",
    oracle="""
        -- J1 semantics on synthetic keys derived from customer:
        --   clean: every customer; phone key = custkey (always set),
        --          domain key = c_name.
        --   prev:  custkey % 3 = 0; phone key set only when custkey % 6 = 0;
        --          coordinates null when custkey % 9 = 0.
        -- Phone bucket (when present) claims the row even if its only entry
        -- has null coords (blocking the domain fallback) — the reference's
        -- else-if quirk.
        WITH prev AS (
          SELECT CASE WHEN c_custkey % 6 = 0 THEN CAST(c_custkey AS VARCHAR)
                      ELSE '' END AS phone_k,
                 'cust-' || CAST(c_custkey AS VARCHAR) || '.example.com' AS domain_k,
                 CASE WHEN c_custkey % 9 = 0 THEN NULL
                      ELSE c_custkey * 1.0 END AS lat,
                 CASE WHEN c_custkey % 9 = 0 THEN NULL
                      ELSE c_custkey * 2.0 END AS lng
          FROM customer WHERE c_custkey % 3 = 0
        )
        SELECT c.c_custkey,
               CASE
                 WHEN pp.phone_k IS NOT NULL THEN
                   CASE WHEN pp.lat IS NOT NULL THEN 'carried' ELSE 'need_geo' END
                 WHEN pd.domain_k IS NOT NULL THEN
                   CASE WHEN pd.lat IS NOT NULL THEN 'carried' ELSE 'need_geo' END
                 ELSE 'need_geo'
               END AS status,
               CASE
                 WHEN pp.phone_k IS NOT NULL THEN pp.lat
                 WHEN pd.domain_k IS NOT NULL THEN pd.lat
               END AS lat
        FROM customer c
        LEFT JOIN prev pp ON pp.phone_k = CAST(c.c_custkey AS VARCHAR)
        LEFT JOIN prev pd
          ON pd.domain_k = 'cust-' || CAST(c.c_custkey AS VARCHAR) || '.example.com'
    """,
    description="J1/J5/J6: prioritized phone→domain carry-forward with bucket-blocking quirk",
    tags=("reference-op", "diff"),
)
def carry_forward_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://cust-"), F.col("c_custkey").cast("string"), F.lit(".example.com/")
    )
    clean = cust.select(
        "c_custkey",
        F.col("c_custkey").cast("string").alias("phone"),
        url.alias("org_url"),
        F.lit(None).cast("string").alias("map_url"),
    )
    prev = (
        cust.filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.when(F.col("c_custkey") % 6 == 0, F.col("c_custkey").cast("string"))
            .otherwise("")
            .alias("phone"),
            url.alias("org_url"),
            F.lit(None).cast("string").alias("map_url"),
            F.when(F.col("c_custkey") % 9 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("c_custkey") * 1.0)
            .alias("lat"),
            F.when(F.col("c_custkey") % 9 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("c_custkey") * 2.0)
            .alias("lng"),
            F.lit(None).cast("int").alias("confidence"),
            F.lit(None).cast("string").alias("formatted"),
            F.lit(None).cast("map<string,string>").alias("components"),
            F.lit("opencage").alias("source"),
            F.lit(None).cast("string").alias("approx"),
            F.lit(None).cast("string").alias("usedQuery"),
            F.lit(None).cast("string").alias("note"),
            F.col("c_custkey").alias("prev_order"),
        )
    )
    carried, need_geo = snapshot_split(clean, prev)
    out = carried.select(
        "c_custkey", F.lit("carried").alias("status"), "lat"
    ).unionByName(
        need_geo.select(
            "c_custkey", F.lit("need_geo").alias("status"), F.lit(None).cast("double").alias("lat")
        )
    )
    return out


@register(
    "ops_clean_anchor_extract",
    oracle="""
        -- P1/P4/P5 over deterministic HTML built from documents: the oracle
        -- computes expected outputs directly (the anchor regex is the
        -- engine-side implementation under test).
        SELECT doc_id,
               'Doc ' || CAST(doc_id AS VARCHAR) AS org_name,
               CASE WHEN doc_id % 3 <> 0
                    THEN 'https://ex.com/d' || CAST(doc_id AS VARCHAR)
               END AS org_url,
               CASE WHEN doc_id % 5 = 2 THEN CAST(doc_id % 40 AS INT) ELSE 0 END
                 AS this_week
        FROM documents
    """,
    description="P1-P8: HTML-anchor extraction, sentinel nulling, JS-lenient int cast",
    tags=("reference-op", "clean"),
)
def clean_anchor_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    html = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(
            F.lit("<a href='https://ex.com/d"),
            F.col("doc_id").cast("string"),
            F.lit("' target='_blank'>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</a>"),
        ),
    ).otherwise(F.concat(F.lit("Doc "), F.col("doc_id").cast("string")))
    count_str = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 5 == 1, F.lit(""))
        .when(F.col("doc_id") % 5 == 2, (F.col("doc_id") % 40).cast("string"))
        .when(F.col("doc_id") % 5 == 3, F.lit("n/a"))
        .otherwise(F.lit("無"))
    )
    staged = docs.select("doc_id", html.alias("orgName"), count_str.alias("cnt"))
    return staged.select(
        "doc_id",
        anchor_text(F.col("orgName")).alias("org_name"),
        null_if_none_sentinel(anchor_href(F.col("orgName"))).alias("org_url"),
        js_to_int(F.col("cnt")).alias("this_week"),
    )


@register(
    "ops_stable_sort_topk",
    oracle="""
        SELECT o_orderkey, o_orderstatus = 'O' AS is_open, o_totalprice
        FROM orders
        ORDER BY is_open DESC, o_orderkey
        LIMIT 50
    """,
    description="O1: boolean-priority sort with explicit unique tiebreak (Spark sorts are not stable)",
    tags=("reference-op", "sort"),
)
def stable_sort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            (F.col("o_orderstatus") == "O").alias("is_open"),
            "o_totalprice",
        )
        .orderBy(F.col("is_open").desc(), F.col("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# E1–E6: the geocode strategy waterfall, driver-attested
# ---------------------------------------------------------------------------

_ENRICH_COUNTIES = ["臺北市", "臺中市", "高雄市", "臺南市"]


def _accepts_even_house(q: str) -> bool:
    """Primary stub accepts only even house numbers — the deterministic
    knob that routes odd-house rows past E1 into the E2 secondary leg."""
    import re

    m = re.search(r"(\d+)號$", q)
    return bool(m) and int(m.group(1)) % 2 == 0


def _accepts_any_house(q: str) -> bool:
    return q.endswith("號")


def _enrich_fixture_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TW-address fixture from the customer table: county
    cycles over four real counties, address is an already-normalized
    string (its own first F19 candidate), house number 1 + custkey % 40."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .filter(F.col("c_custkey") <= 200)
    )
    county = F.element_at(
        F.array(*[F.lit(c) for c in _ENRICH_COUNTIES]),
        (F.col("c_custkey") % 4 + 1).cast("int"),
    )
    return cust.select(
        F.col("c_custkey"),
        county.alias("county"),
        F.concat(F.lit("Org"), F.col("c_custkey")).alias("org_name"),
        F.concat(
            county, F.lit("中山路"), (F.lit(1) + F.col("c_custkey") % 40),
            F.lit("號"),
        ).alias("address"),
    )


@register(
    "ops_enrich_waterfall",
    oracle="""
        -- Independent restatement of the waterfall's routing function:
        -- custkey % 5 = 0 rows are seeded into the cache (J3 cache
        -- probe wins, E6); of the rest, even house numbers pass the
        -- primary stub (E1), odd fall through to the secondary (E2).
        -- Counts + exact custkey sums per (county, provenance) attest
        -- that every row took exactly the strategy the fixture dictates.
        WITH rows AS (
          SELECT c_custkey,
                 CASE (c_custkey % 4)
                   WHEN 0 THEN '臺北市' WHEN 1 THEN '臺中市'
                   WHEN 2 THEN '高雄市' ELSE '臺南市' END AS county
          FROM customer WHERE c_custkey <= 200
        ),
        tagged AS (
          SELECT county,
                 CASE WHEN c_custkey % 5 = 0 THEN 'cache'
                      WHEN (1 + c_custkey % 40) % 2 = 0 THEN 'opencage'
                      ELSE 'nominatim' END AS source,
                 c_custkey
          FROM rows
        )
        SELECT county, source,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS sum_custkey
        FROM tagged GROUP BY county, source
    """,
    description="E1–E6 + J3 end-to-end: the REAL enrich() waterfall "
    "(cache probe join against the broadcast candidates with county "
    "validation, then the rate-limited sequential resolver waterfall in "
    "the driver, results as an Arrow-backed frame) run over "
    "a deterministic customer-derived TW-address fixture with stub "
    "resolvers whose accept predicates partition the rows — provenance "
    "counts and exact custkey sums per (county, source) prove every row "
    "resolved via exactly the dictated strategy (src/geocode.js:472-514)",
    tags=("reference-op", "enrich"),
)
def enrich_waterfall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from counsel_data_pipeline_spark.ops.enrich import StubResolver, enrich

    rows = _enrich_fixture_rows(spark, sf_dir)
    # E6 seed: every custkey % 5 == 0 row's address pre-resolved, keyed by
    # the row's own first candidate (the normalized address itself).
    cache = rows.filter(F.col("c_custkey") % 5 == 0).select(
        F.col("address").alias("query"),
        (F.lit(22.0)).alias("lat"),
        (F.lit(120.0)).alias("lng"),
        F.lit(5).cast("long").alias("confidence"),
        F.col("address").alias("formatted"),
        F.create_map(F.lit("county"), F.col("county")).alias("components"),
        F.lit("cache").alias("source"),
        F.lit("cached").alias("approx"),
    )
    result = enrich(
        rows,
        cache,
        StubResolver(name="opencage", accepts=_accepts_even_house),
        nominatim=StubResolver(name="nominatim", accepts=_accepts_any_house),
        min_interval_s=0.0,
    )
    return result.enriched.groupBy("county", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("c_custkey").cast("bigint").alias("sum_custkey"),
    )
