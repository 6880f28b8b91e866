"""Physical-plan shape regression tests.

Correctness tests prove the numbers; these prove the SCALE properties the
100 TB design depends on — predicate pushdown reaching the parquet scan,
column-pruned read schemas, dimension joins broadcast (no shuffled or
cartesian fallback), and whole-stage codegen covering the hot path. A
refactor that silently turns a broadcast join into a cross join or starts
reading all columns fails here long before it fails a cluster.
"""

import os
import re

import pytest

from counsel_data_pipeline_spark.catalog import all_queries

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str, execute: bool = False) -> str:
    """Formatted physical plan; ``execute=True`` first runs the query so
    AQE finalizes the plan (codegen ids only appear on the final plan)."""
    df = all_queries()[name].fn(spark, SF)
    if execute:
        df.collect()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _n_shuffles(plan: str) -> int:
    """Count shuffle Exchange NODES (formatted output lists each node once
    in the detail section as '(N) Exchange')."""
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def _has_codegen(plan: str) -> bool:
    return "codegen id" in plan  # formatted mode tags nodes [codegen id : N]


def test_q6_filters_pushed_to_scan(spark):
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters" in plan
    # the shipdate range + discount/quantity predicates reach the scan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan or "LessThan(l_shipdate" in plan
    # column pruning: no scan reads more than the 4 needed columns
    for line in plan.splitlines():
        if "ReadSchema" in line:
            ncols = line.count(":")
            assert ncols <= 5, line


def test_q5_dimensions_broadcast(spark):
    plan = _plan(spark, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # all build sides are dims — must broadcast
    assert "r_name,ASIA" in plan.replace(" ", "")  # region filter pushed


def test_q10_narrow_lineitem_scan(spark):
    plan = _plan(spark, "tpch_q10_returned_customers")
    assert "EqualTo(l_returnflag,R)" in plan
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_orderkey" in line:
            assert "l_quantity" not in line and "l_tax" not in line, line


def test_exact_dedup_single_shuffle(spark):
    plan = _plan(spark, "dedup_exact_content_hash")
    # one hash-aggregate pair around exactly one exchange: partial map-side
    # aggregation then a single shuffle on the hash key
    assert _n_shuffles(plan) == 1
    assert "HashAggregate" in plan


def test_cosine_topk_broadcasts_queries(spark):
    plan = _plan(spark, "sim_cosine_topk_bruteforce", execute=True)
    assert "Broadcast" in plan  # tiny query side broadcast, corpus streams
    assert _has_codegen(plan)


def test_merge_reuses_single_key_exchange(spark):
    # keyed merge: the first-row pick and the max/OR fold are one
    # aggregation — the plan shuffles the union once, on the key.
    plan = _plan(spark, "ops_keyed_merge_two_sources")
    assert _n_shuffles(plan) == 1, f"expected one key exchange:\n{plan}"
    assert len(re.findall(r"^Arguments: hashpartitioning\(", plan, re.M)) == 1, plan


def test_codegen_everywhere(spark):
    for name in (
        "tpch_q1_pricing_summary",
        "events_tumbling_hourly",
        "text_token_stats_by_lang",
    ):
        assert _has_codegen(_plan(spark, name, execute=True)), name


# perfbench's tpch_olap workload
TPCH_OLAP = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping", "tpch_q9_product_type_profit",
    "tpch_q10_returned_customers", "tpch_q18_large_volume",
    "tpch_q21_blocking_supplier", "tpch_q22_sales_opportunity",
)


def test_warm_tpch_pass_compiles_no_class(spark):
    """A warm pass reuses every generated class. One tpch_olap pass
    generates ~140 distinct classes; with Spark's default 100-entry
    codegen cache the LRU evicts each before its next use, so every
    pass recompiled all of them through Janino (141 compiles a pass at
    sf0.001). The session factory sizes the cache to hold them."""
    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def compiled(*frames) -> int:
        before = compiles.getCount()
        for df in frames:
            df.write.format("noop").mode("overwrite").save()
        return compiles.getCount() - before

    def one_pass() -> int:
        return compiled(*(qs[name].fn(spark, sf) for name in TPCH_OLAP))

    one_pass()  # cold, unless an earlier test already ran these plans
    assert one_pass() == 0
    # the counter is live: a literal new to the session is a new class
    assert compiled(spark.range(3).selectExpr("id * 15485863 + 32452843")) > 0


def test_sketch_builds_bound_shuffle_by_sketch_size(spark):
    """CMS/Bloom shuffles move counters, not keys: the aggregate output is
    depth×width (or m/32) rows regardless of input size, and the explode
    feeding it must aggregate partially map-side (HashAggregate both sides
    of the single Exchange)."""
    plan = _plan(spark, "sketch_cms_user_counts")
    assert "HashAggregate" in plan
    # probe-side lookup must broadcast the tiny sketch, never shuffle it
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_broadcasts_filter_words(spark):
    plan = _plan(spark, "sketch_bloom_custkey_probe")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontamination_broadcasts_benchmark(spark):
    """The corpus side must stream: the benchmark (eval-set) side is the
    broadcast build side of the shingle join."""
    plan = _plan(spark, "curation_decontam_overlap")
    assert "BroadcastHashJoin" in plan


def test_hash_split_is_single_scan_single_shuffle(spark):
    """The split is a stateless hash of the id: one scan, one aggregate
    shuffle on the 3 split labels, nothing else."""
    import re

    plan = _plan(spark, "curation_hash_split")
    assert _n_shuffles(plan) == 1
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_no_tpch_plan_forces_a_fact_side_broadcast(spark):
    """No tpch plan may broadcast a build side that is an UNREDUCED read of
    a fact table (orders/lineitem). At sf0.01 Catalyst would happily
    auto-broadcast everything, so isolate the plans' own F.broadcast hints:
    auto-broadcast off, AQE off — any BroadcastExchange left comes from the
    code. A broadcast side that passed through an aggregation (e.g. q18's
    >200-qty orderkey set) is reduced and allowed; a raw/filtered fact scan
    on the build side (round-1 q3 defect) OOMs executors at scale and fails
    here.
    """
    fact_files = ("orders.parquet", "lineitem.parquet")
    agg_nodes = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")

    def offending(node, inside_broadcast):
        name = node.nodeName()
        if inside_broadcast:
            if any(name.startswith(a) for a in agg_nodes):
                return []  # side is reduced below here — fine at scale
            if name.startswith("Scan") and any(
                f in node.toString() for f in fact_files
            ):
                return [node.toString().splitlines()[0]]
        if "BroadcastExchange" in name:
            inside_broadcast = True
        out = []
        for i in range(node.children().size()):
            out += offending(node.children().apply(i), inside_broadcast)
        return out

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        bad = {}
        for name, q in all_queries().items():
            if not name.startswith("tpch_"):
                continue
            plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan()
            hits = offending(plan, False)
            if hits:
                bad[name] = hits
        assert not bad, f"fact-side broadcast in: {bad}"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_distributed_quartiles_have_no_single_partition_funnel(spark):
    """The distributed ranking variant must not move all rows through one
    task: no SinglePartition exchange anywhere in its plan (the global
    oracle twin keeps one, by design — that's the pair's point)."""
    dist = _plan(spark, "window_balance_quartiles_distributed")
    assert "SinglePartition" not in dist, dist
    glob = _plan(spark, "window_customer_balance_quartiles")
    assert "SinglePartition" in glob


@pytest.fixture(scope="module")
def catalog_plans(spark):
    """Every catalog query's DataFrame, built once for both fleet-wide
    audits. Each physical plan is forced right after its build, so it is
    planned under the session state that build left, as a build-and-plan
    loop would."""
    plans = {}
    for name, q in all_queries().items():
        plans[name] = q.fn(spark, SF)
        plans[name]._jdf.queryExecution().executedPlan()
    return plans


def test_catalog_fleet_plan_audit(catalog_plans):
    """Fleet-wide scale audit over EVERY catalog query's physical plan
    (pre-AQE): no CartesianProduct anywhere, no unpartitioned Window
    (the every-row-through-one-task shape) outside the explicit
    allowlist, and no SinglePartition Exchange at all (global aggregates
    partial-combine first and never surface one; an orderBy+limit
    compiles to TakeOrderedAndProject — if one shows up, rows are being
    funneled through one task). Catches a new query shipping a scale
    anti-pattern long before any driver run."""
    allow_global_window = {
        # the oracle twin of the distributed ranking variant — global by
        # design, kept as the correctness anchor
        "window_customer_balance_quartiles",
    }

    def walk(node):
        yield node
        for i in range(node.children().size()):
            yield from walk(node.children().apply(i))

    bad = {}
    for name, df in catalog_plans.items():
        plan = df._jdf.queryExecution().sparkPlan()
        issues = []
        for node in walk(plan):
            nn = node.nodeName()
            if "CartesianProduct" in nn:
                issues.append(nn)
            if nn == "BatchEvalPython":
                # row-at-a-time Python UDF: every row round-trips the
                # JVM<->Python pickle boundary — the catalog's Python
                # surface is Arrow-only (ArrowEvalPython / MapInPandas /
                # FlatMapGroupsInPandas / UDTF nodes pass)
                issues.append("row-wise Python UDF (BatchEvalPython)")
            if "Exchange" in nn and "SinglePartition" in (
                node.toString().splitlines()[0]
            ):
                issues.append("SinglePartition exchange")
            if nn == "Window" or nn.startswith("WindowGroupLimit"):
                try:
                    empty = node.partitionSpec().isEmpty()
                except Exception:
                    continue
                if empty and name not in allow_global_window:
                    issues.append(f"unpartitioned {nn}")
        if issues:
            bad[name] = issues
    assert not bad, f"scale anti-patterns: {bad}"


def test_catalog_fact_scan_budget(catalog_plans):
    """Fleet-wide I/O budget: no query's FINAL plan may scan the same
    FACT table more than twice (self-joins and sketch-vs-exact twins are
    two passes; anything above that is a consumer re-deriving a shared
    intermediate from the scan — the disease the r11 audit cured in ten
    plans). Loop-pinned passes (eager checkpoint) don't appear in the
    final plan; lazily-pinned builder intermediates (ops/materialize.pin
    eager=False) appear exactly once as a cached subtree that executes
    once. This pins the lazy re-derivation class of regression. Known
    exceptions carry their adjudications below."""
    from tools.scan_audit import SKIP_PREFIXES, scan_counts

    fact_tables = {
        "lineitem.parquet", "orders.parquet", "events.parquet",
        "documents.parquet", "embeddings.parquet", "customer.parquet",
    }
    allow = {
        # per-column single-column scans by design: beats countDistinct's
        # Expand (see ops/profile._exact_profile docstring)
        ("quality_profile_lineitem", "lineitem.parquet"),
        ("quality_profile_documents", "documents.parquet"),
        # one keys-only scan pair per FK edge audited
        ("quality_referential_integrity", "lineitem.parquet"),
        ("quality_referential_integrity", "orders.parquet"),
        ("quality_referential_integrity", "customer.parquet"),
        # reference-parity fixtures: clean/prev halves + carried/need_geo
        # split then union — the reference's own dataflow, dim-sized input
        ("ops_snapshot_carry_forward", "customer.parquet"),
        ("ops_keyed_merge_two_sources", "orders.parquet"),
        # one full-vector corpus stream + narrow pruned label/query reads
        ("sim_knn_label_agreement", "embeddings.parquet"),
        # tf pass + df pass + count-only n pass: the window-over-tf
        # one-scan form sorts the full (doc, term) stream — measured 86%
        # slower at sf0.1 (see plans/llm_text.tfidf_top_terms)
        ("text_tfidf_top_terms", "documents.parquet"),
        # r12 lazy-pin honesty: these intermediates are now lazy persists
        # (ops/materialize.pin), so their execute-once cached subtree is
        # VISIBLE in the final plan where the r11 eager localCheckpoint
        # hid it. Runtime passes unchanged and at each shape's floor:
        # centroid seed + corpus assignment + query probe scoring,
        ("sim_ivf_topk", "embeddings.parquet"),
        # block-count guard + the self-join's two sides.
        ("dedup_levenshtein_blocked", "documents.parquet"),
    }
    bad = {}
    for name, df in catalog_plans.items():
        if name.startswith(SKIP_PREFIXES):
            continue  # write-path / stateful surfaces audited elsewhere
        for t, n in scan_counts(df).items():
            if t in fact_tables and n > 2 and (name, t) not in allow:
                bad[(name, t)] = n
    assert not bad, f"fact tables scanned >2x in one plan: {bad}"


def test_bm25_narrow_scan_and_broadcast_stats(spark):
    """BM25: the documents scans read only (doc_id, text); idf/avgdl are
    broadcast (never shuffled against the postings); top-k is TakeOrdered,
    not a global sort."""
    plan = _plan(spark, "text_bm25_search")
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "lang" not in line and "source" not in line, line
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bigram_lm_doc_side_preaggregated(spark):
    """The count-table join must consume the (doc, bigram, tf) aggregate,
    not the raw bigram stream: the join's doc side shows a HashAggregate
    between the explode and the join."""
    plan = _plan(spark, "text_bigram_lm_score")
    assert "CartesianProduct" not in plan
    # broadcast only for the 1-row vocabulary size, never the count tables
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "n_chars" not in line, line
    # the claimed pre-aggregation, enforced: a HashAggregate keyed on
    # (doc_id, bigram) — the per-doc tf table — must exist between the
    # explode and the count-table join
    import re

    assert re.search(r"Keys \[2\]: \[doc_id#\d+L?, bigram#\d+\]", plan), (
        "no (doc_id, bigram) HashAggregate in plan"
    )


def test_weighted_sample_is_single_pass_takeordered(spark):
    plan = _plan(spark, "curation_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert _n_shuffles(plan) == 0  # scan → project key → TakeOrdered: no exchange
    assert "Window" not in plan


def test_ivf_persisted_query_broadcasts_queries_not_lists(spark):
    """The inverted-list side (corpus-sized) must stream; only the query
    batch + centroid assignment may broadcast."""
    plan = _plan(spark, "sim_ivf_persisted_query")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    import re

    # the lists relation feeds the probe join directly — it must not sit
    # under a BroadcastExchange (query side builds the hash table)
    for m in re.finditer(r"\(\d+\) BroadcastExchange", plan):
        section = plan[m.start() : m.start() + 400]
        assert "lists" not in section, section


# ---------------------------------------------------------------------------
# Z-order write -> zone-map prune -> pruned read (ops/zorder.py)
# ---------------------------------------------------------------------------


def test_zorder_write_prune_reads_only_surviving_dirs(spark, tmp_path):
    """The pruned read must be manifest-driven: the scan's file list may
    contain ONLY surviving shard directories (listing-level skipping, the
    behavior a zone-map index exists to deliver), and the rows read must
    equal a naive filter of the source to the surviving shards."""
    from counsel_data_pipeline_spark.ops.zorder import (
        morton_shard,
        read_pruned,
        write_zordered,
        zone_map_survivors,
    )
    from pyspark.sql import functions as F

    max_x, max_y = 1023, 255
    df = spark.range(5000).select(
        ((F.col("id") * 37) % (max_x + 1)).alias("x"),
        ((F.col("id") * 101) % (max_y + 1)).alias("y"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "zo")
    write_zordered(df, path, "x", "y", max_x, max_y)

    box_x, box_y = (100, 180), (40, 90)
    survivors, n_shards = zone_map_survivors(spark, path, box_x, box_y)
    assert 0 < len(survivors) < n_shards  # the box must actually prune

    pruned = read_pruned(spark, path, survivors)
    allowed = {f"__shard={s}" for s in survivors}
    for f in pruned.inputFiles():
        assert any(part in allowed for part in f.split("/")), f

    # value parity: pruned read == source rows whose shard survived
    expect = (
        df.withColumn("__shard", morton_shard("x", "y", max_x, max_y))
        .filter(F.col("__shard").isin(survivors))
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
        .first()
    )
    got = pruned.groupBy().agg(
        F.count("*").alias("n"), F.sum("v").alias("sv")
    ).first()
    assert (got.n, got.sv) == (expect.n, expect.sv)
    # zone-map completeness: every box row lives in a surviving shard
    n_box = df.filter(
        F.col("x").between(*box_x) & F.col("y").between(*box_y)
    ).count()
    n_box_pruned = pruned.filter(
        F.col("x").between(*box_x) & F.col("y").between(*box_y)
    ).count()
    assert n_box_pruned == n_box


def test_zorder_read_pruned_empty_survivors(spark, tmp_path):
    from counsel_data_pipeline_spark.ops.zorder import (
        read_pruned,
        write_zordered,
    )
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 16).alias("x"), (F.col("id") % 8).alias("y"),
        F.col("id").alias("v"),
    )
    path = str(tmp_path / "zo")
    write_zordered(df, path, "x", "y", 15, 7)
    assert read_pruned(spark, path, []).count() == 0


def test_dedup_store_bucketed_ingest_no_exchange(spark):
    """scan -> aggregate -> store⋈batch join, all bucket-local: the whole
    ingest audit plan must be shuffle-free (the catalog fn also raises at
    runtime if an Exchange sneaks in; this pins it at plan level)."""
    plan = _plan(spark, "dedup_store_bucketed_ingest")
    assert _n_shuffles(plan) == 0
    assert "BroadcastExchange" not in plan


def test_time_partition_pruned_read_lists_only_survivors(spark, tmp_path):
    from counsel_data_pipeline_spark.ops.timelayout import (
        date_survivors,
        read_dates,
        write_time_partitioned,
    )
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        F.expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,CAST(id % 10 AS INT),0,0,0)").alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    path = str(tmp_path / "tp")
    write_time_partitioned(df, path)
    survivors, n = date_survivors(spark, path, "2024-03-04", "2024-03-06")
    assert n == 10 and survivors == ["2024-03-04", "2024-03-05", "2024-03-06"]
    pruned = read_dates(spark, path, survivors)
    allowed = {f"event_date={d}" for d in survivors}
    for f in pruned.inputFiles():
        assert any(part in allowed for part in f.split("/")), f
    assert pruned.count() == df.filter(
        F.date_format("ts", "yyyy-MM-dd").between("2024-03-04", "2024-03-06")
    ).count()
    assert read_dates(spark, path, []).count() == 0


def test_point_in_time_join_single_exchange(spark):
    """The temporal lookup's whole point: ONE user-keyed shuffle total
    (plus the final small aggregate exchange) — no range join, no
    interval explode, no broadcast of a history-sized side."""
    plan = _plan(spark, "window_scd2_point_in_time")
    assert "CartesianProduct" not in plan
    assert "RangeJoin" not in plan
    # union + two windows + final groupBy: at most 3 exchanges (the
    # window share, the union sides pre-window, the aggregate)
    assert _n_shuffles(plan) <= 3, _n_shuffles(plan)


def test_phrase_search_filters_terms_before_joins(spark):
    """The position stream must be term-filtered at the scan — the plan
    may never join unfiltered (doc, pos, term) streams."""
    plan = _plan(spark, "text_phrase_search")
    assert "CartesianProduct" not in plan
    import re

    # every join input traces back to the persisted term-filtered stream;
    # the filter itself must mention the IN-list over phrase vocabulary
    assert re.search(r"term#\d+ IN", plan) or "isin" in plan.lower(), (
        "no term IN-list filter found in plan"
    )



# ---------------------------------------------------------------------------
# r9 additions: TPC-H completion queries, salted join, schema evolution
# ---------------------------------------------------------------------------


def test_q2_prefilters_fact_and_avoids_windows(spark):
    plan = _plan(spark, "tpch_q2_min_cost_supplier")
    # part + supplier eligibility broadcast-filter the fact scan BEFORE
    # its (partkey, suppkey) aggregate; the correlated min is an
    # agg+join-back, never a window
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan
    assert "Window" not in plan
    assert "EqualTo(p_type,STANDARD)" in plan  # part filter pushed


def test_q9_pushes_name_filter_and_broadcasts_dims(spark):
    plan = _plan(spark, "tpch_q9_product_type_profit")
    assert "StringContains(p_name,red)" in plan
    assert plan.count("BroadcastHashJoin") >= 3  # part, supplier, nation
    assert "CartesianProduct" not in plan


def test_q12_pushes_year_range(spark):
    plan = _plan(spark, "tpch_q12_ship_latency_priority")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_q20_semi_joins_before_aggregate(spark):
    plan = _plan(spark, "tpch_q20_dominant_suppliers")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # 1997 pruned at scan


def test_q21_takeordered_and_pushed_status(spark):
    plan = _plan(spark, "tpch_q21_blocking_supplier")
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(o_orderstatus,F)" in plan


def test_salted_join_actually_salts(spark):
    # the rewrite must survive optimization: the large side carries the
    # deterministic xxhash64 salt and the dim side is exploded across
    # salts — if Catalyst collapsed either, the skew mitigation is gone
    plan = _plan(spark, "join_salted_hot_users")
    assert "xxhash64" in plan
    assert "explode" in plan.lower()


def test_schema_evolution_reads_merged_footer_schema(spark):
    plan = _plan(spark, "layout_schema_evolution_read")
    # the merged ReadSchema must contain the evolved column even though
    # epoch-0 files lack it
    assert any(
        "ReadSchema" in line and "o_channel" in line
        for line in plan.splitlines()
    ), plan


def test_variant_extract_stays_jvm_side(spark):
    # VARIANT parse/extract must be Column expressions (JVM), never a
    # Python worker, and the scan must prune to the 4 used columns.
    plan = _plan(spark, "events_variant_props_extract")
    assert "EvalPython" not in plan  # no row-at-a-time or Arrow Python UDF
    assert "CartesianProduct" not in plan
    assert _n_shuffles(plan) <= 2  # two-level aggregate only
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "props" in line and "event_type" in line
            assert line.count(":") <= 5, line


def test_gap_fill_windows_only_observations(spark):
    # Interval-wise plan: windows (lead + per-user min) run over the
    # OBSERVATION rows only; the dense grid is born in the explode and
    # flows straight into the map-side partial aggregate — never
    # shuffled, sorted, or windowed. No unbounded-FOLLOWING frame may
    # reappear (Spark evaluates it by rescanning the partition tail per
    # row — the O(rows x span) shape this query was rewritten off of).
    plan = _plan(spark, "window_gap_fill_interpolate")
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert _n_shuffles(plan) <= 2
    assert "SinglePartition" not in plan
    # (the whole-partition min's unbounded/unbounded frame is fine — it
    # evaluates once per partition; the growing tail frame does not)
    assert "currentrow$(), unboundedfollowing$()" not in plan.lower()
    # both lead carries share one Window node over one sort
    leads = [
        ln
        for ln in plan.splitlines()
        if "AS nxt_h" in ln and "windowspecdefinition" in ln
    ]
    assert len(leads) == 1 and "AS nxt_v" in leads[0]
    # the explode (grid generation) sits ABOVE every Exchange in the
    # plan tree: no operator after it shuffles except the final partial
    # aggregate pair
    assert "explode(sequence(" in plan


def test_common_neighbors_broadcasts_degree_and_caps_hubs(spark):
    # The registered fn collects (persist lifecycle), so inspect the
    # pre-collect plan the helper builds from the same edge list.
    from counsel_data_pipeline_spark.plans.graph import (
        _copurchase_edge_list,
        common_neighbors_plan,
    )

    df = common_neighbors_plan(_copurchase_edge_list(spark, SF))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in plan
    # the degree cap filter feeds a broadcast join into the adjacency
    assert "BroadcastHashJoin" in plan
    # candidate pruning happens via anti join, not a filter-after-join
    assert "LeftAnti" in plan
    # top-k never materializes a global sort
    assert "TakeOrderedAndProject" in plan


def test_lateral_topk_decorrelates_to_window_rank(spark):
    # The correlated LATERAL ORDER BY..LIMIT must decorrelate into a
    # windowed rank (WindowGroupLimit = map-side partial top-k), never a
    # per-outer-row nested loop or cartesian.
    plan = _plan(spark, "tpch_lateral_top_customers")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert _n_shuffles(plan) <= 1


def test_arrow_group_profile_single_shuffle(spark):
    # applyInArrow = one grouping shuffle feeding FlatMapGroupsInArrow;
    # the scan prunes to the three referenced columns.
    plan = _plan(spark, "text_arrow_group_profile")
    assert "FlatMapGroupsInArrow" in plan
    assert _n_shuffles(plan) == 1
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert line.count(":") <= 4, line


def test_sequence_detect_one_sort_one_copartitioned_join(spark):
    # Pattern state rides carried columns over ONE per-user sort; the
    # only join is rn-equality inside the user partition. No cartesian,
    # no per-pattern rescan, no growing tail frame.
    plan = _plan(spark, "events_sequence_detect")
    assert "CartesianProduct" not in plan
    assert "currentrow$(), unboundedfollowing$()" not in plan.lower()
    assert _n_shuffles(plan) <= 4
    # column pruning splits the carries per join branch: the purchase
    # side keeps only last_click_rn, the click side only the view
    # carries (sharing ONE node) — assert that pruned shape
    carries_click = [
        ln
        for ln in plan.splitlines()
        if "AS last_click_rn" in ln and "windowspecdefinition" in ln
    ]
    assert len(carries_click) == 1
    assert "AS last_view_rn" not in carries_click[0]  # pruned off this branch
    carries_view = [
        ln
        for ln in plan.splitlines()
        if "AS last_view_rn" in ln and "windowspecdefinition" in ln
    ]
    assert len(carries_view) == 1 and "AS last_view_ce" in carries_view[0]
