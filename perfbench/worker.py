"""One benchmark process: set up, run the timed region, check the outputs.

Started by ``run.py`` as a fresh process (fresh JVM) per call and prints one
JSON record as its last stdout line. Not meant to be run by hand:

    python3 perfbench/worker.py <workload> --seed N --seconds S --trace 0|1 --work DIR

``tpch_olap``: generate the tables, start
the session, run one untimed pass that collects every query and hashes it
against its DuckDB oracle, then time whole passes (each query forced
through the noop sink) until ``--seconds`` have passed. ``clinic_daily``:
generate the landing zone, start the session and time one cold daily batch.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from counsel_data_pipeline_spark import pipeline as P  # noqa: E402
from counsel_data_pipeline_spark.catalog import all_queries  # noqa: E402
from counsel_data_pipeline_spark.session import get_spark  # noqa: E402

import clinic_gen  # noqa: E402
import tpch_gen  # noqa: E402
from probe import PeakRss, Tracer  # noqa: E402

TPCH_OLAP = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping", "tpch_q9_product_type_profit",
    "tpch_q10_returned_customers", "tpch_q18_large_volume", "tpch_q21_blocking_supplier",
    "tpch_q22_sales_opportunity",
)
CATALOG_SF = 0.01
CLINIC_COUNTIES = 1
CLINICS_PER_COUNTY = 620.0


def _start_session(out: dict):
    out["spark_graft_env"] = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    out["layers"]["session.start_s"] = time.perf_counter() - t0
    return spark


# ---------------------------------------------------------------------------
# Catalog workloads
# ---------------------------------------------------------------------------


def _oracle_hashes(sf_dir: str, names: tuple[str, ...], queries) -> dict[str, tuple[int, str]]:
    import duckdb
    from tools.check_correctness import table_hash

    con = duckdb.connect()
    for t in tpch_gen.TPCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    out = {}
    for n in names:
        cur = con.execute(queries[n].oracle)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[n] = (len(rows), table_hash(cols, rows))
    con.close()
    return out


def _verify_pass(spark, sf_dir: str, names, queries, out: dict) -> None:
    """Untimed warm-up pass: collect each query and compare with its oracle."""
    from tools.check_correctness import table_hash

    expected = _oracle_hashes(sf_dir, names, queries)
    for n in names:
        out["attempted"] += 1
        try:
            df = queries[n].fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            got = (len(rows), table_hash(df.columns, rows))
        except Exception:  # noqa: BLE001 - a failed query is a counted failure
            out["failed"] += 1
            out["errors"].append({"query": n, "phase": "verify", "error": traceback.format_exc(limit=3)})
            continue
        if got != expected[n]:
            out["failed"] += 1
            out["errors"].append({"query": n, "phase": "verify", "error": f"oracle mismatch {got} != {expected[n]}"})


def _traced_query(spark, tracer: Tracer, q, sf_dir: str) -> tuple[float, dict]:
    """Build, plan and execute under three spans; returns (latency, detail)."""
    with tracer.span(q.name) as root:
        with tracer.span("build") as b:
            df = q.fn(spark, sf_dir)
        with tracer.span("plan") as p:
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec") as e:
            df.write.format("noop").mode("overwrite").save()
    tracer.settle(root)
    detail = {
        "latency_s": root.seconds, "build_s": b.seconds, "build_jobs": len(b.all_job_ids()),
        "plan_s": p.seconds, "run_s": e.seconds,
        **tracer.counters(e.all_job_ids()),
    }
    return root.seconds, detail


def _catalog_pass(spark, sf_dir, names, queries, out, tracer: Tracer | None):
    """One pass in order; returns (wall, {query: latency}, {query: traced detail})."""
    lat, detail = {}, {}
    t0 = time.perf_counter()
    for n in names:
        out["attempted"] += 1
        try:
            if tracer is None:
                a = time.perf_counter()
                queries[n].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                lat[n] = time.perf_counter() - a
            else:
                lat[n], detail[n] = _traced_query(spark, tracer, queries[n], sf_dir)
        except Exception:  # noqa: BLE001 - a failed query is a counted failure
            out["failed"] += 1
            out["errors"].append({"query": n, "phase": "timed", "error": traceback.format_exc(limit=3)})
    # A traced pass excludes the counter reads that follow each query.
    wall = sum(lat.values()) if tracer is not None else time.perf_counter() - t0
    return wall, lat, detail


def run_catalog(args, names: tuple[str, ...], out: dict) -> None:
    sf_dir = os.path.join(args.work, "tables")
    t0 = time.perf_counter()
    tpch_gen.generate(sf_dir, args.seed, CATALOG_SF)
    out["inputs"] = {"sf": CATALOG_SF, "sf_dir": sf_dir, "generate_s": time.perf_counter() - t0}
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    spark = _start_session(out)
    queries = all_queries()
    t0 = time.perf_counter()
    _verify_pass(spark, sf_dir, names, queries, out)
    out["inputs"]["verify_pass_s"] = time.perf_counter() - t0
    out["setup_done"] = time.time()

    walls, out["per_query_s"] = [], []
    with PeakRss() as rss:
        t_end = time.perf_counter() + args.seconds
        while not walls or time.perf_counter() < t_end:
            wall, lat, _ = _catalog_pass(spark, sf_dir, names, queries, out, None)
            walls.append(wall)
            out["per_query_s"].append(lat)
    latencies = [s for lat in out["per_query_s"] for s in lat.values()]
    out["wall_s"] = walls
    out["op_p50_s"] = [statistics.median(latencies) if latencies else statistics.median(walls)]
    out["peak_rss_mb"] = rss.peak / 2**20
    out["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in rss.peak_by_command.items()}

    if args.trace:
        tracer = Tracer(spark)
        wall, _, detail = _catalog_pass(spark, sf_dir, names, queries, out, tracer)
        out["per_query"] = detail
        layers = out["layers"]
        layers["trace.overhead_s"] = wall - statistics.median(out["wall_s"])
        for d in detail.values():
            for k, key in (("build_s", "plans.build_s"), ("build_jobs", "plans.build_jobs"),
                           ("plan_s", "planning.plan_s"), ("run_s", "exec.run_s")):
                layers[key] = layers.get(key, 0) + d[k]
            for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_records", "spill_bytes"):
                layers[f"exec.{k}"] = layers.get(f"exec.{k}", 0) + d[k]
    spark.stop()


# ---------------------------------------------------------------------------
# clinic_daily
# ---------------------------------------------------------------------------


class CountingStore:
    """Object-store wrapper counting puts and bytes (traced runs only)."""

    def __init__(self, inner):
        self.inner, self.puts, self.bytes_written = inner, 0, 0

    def put(self, key, data, content_type="application/json"):
        self.puts += 1
        self.bytes_written += len(data)
        self.inner.put(key, data, content_type)

    def __getattr__(self, name):
        return getattr(self.inner, name)


def _traced(tracer: Tracer, name: str, fn, results: list | None = None):
    def wrapper(*a, **kw):
        with tracer.span(name):
            result = fn(*a, **kw)
        if results is not None:
            results.append(result)
        return result

    return wrapper


def _clinic_batch(spark, inp, work: str, seed: int, store, tracer: Tracer | None):
    """One daily batch, landing files to published snapshot."""
    from counsel_data_pipeline_spark.io.sinks import collect_rows, wrapper_json
    from counsel_data_pipeline_spark.ops.clean import CLEAN_COLUMNS
    from counsel_data_pipeline_spark.ops.enrich import CACHE_SCHEMA, StubResolver

    def step(name):
        return tracer.span(name) if tracer else nullcontext()

    with step("pipeline.crawl_clean_merge"):
        merged = P.crawl_clean_merge(spark, inp.county_files)
    with step("io.collect_rows"):
        rows = collect_rows(merged.taiwan.select(*CLEAN_COLUMNS, "taiwan_order"), order_col="taiwan_order")
    clean_path = os.path.join(work, "taiwan_merged_clean.json")
    with open(clean_path, "w", encoding="utf-8") as f:
        f.write(wrapper_json(rows))
    clean = P.read_clinic_json(spark, clean_path)
    prev = P.read_clinic_json(spark, inp.prev_path, default_empty=True).withColumnRenamed("ingest_order", "prev_order")
    with open(inp.cache_path, encoding="utf-8") as f:
        cache_rows = [{"query": k, **v} for k, v in json.load(f).items()]
    cache = spark.createDataFrame(cache_rows, CACHE_SCHEMA)
    with step("pipeline.diff_enrich_publish"):
        result = P.diff_enrich_publish(clean, prev, cache, StubResolver(), min_interval_s=0)
    with step("pipeline.publish_to_store"):
        receipt = P.publish_to_store(
            result, store, current_key="public/clinics.json", snapshot_prefix="snapshots",
            ts=f"20261016T{seed % 24:02d}0000Z",
        )
    return result, receipt, cache_rows


def _clinic_checks(inp, result, receipt, store) -> list[str]:
    """Invariants of a published batch; each returned string is a failure."""
    bad = []
    if result.change_count != inp.change_count:
        bad.append(f"change_count {result.change_count} != expected {inp.change_count}")
    if receipt is None:
        return bad + ["nothing published"]
    for key in (receipt.snapshot_key, receipt.current_key):
        if not store.exists(key):
            bad.append(f"missing object {key}")
    if store.exists(receipt.current_key):
        doc = json.loads(store.get(receipt.current_key))
        if not doc["total"] == len(doc["rows"]) == inp.n_clinics:
            bad.append(f"published total {doc['total']}, rows {len(doc['rows'])}, expected {inp.n_clinics}")
    quarantined = result.schema_gate.quarantined.count()
    if quarantined:
        bad.append(f"schema gate quarantined {quarantined} rows")
    return bad


def run_clinic(args, out: dict) -> None:
    from counsel_data_pipeline_spark.io.object_store import LocalFSStore

    inp = clinic_gen.generate(
        os.path.join(args.work, "landing"), args.seed,
        n_counties=CLINIC_COUNTIES, clinics_per_county=CLINICS_PER_COUNTY,
    )
    out["inputs"] = {"clinics": inp.n_clinics, "raw_rows": inp.n_raw_rows,
                     "change_count": inp.change_count, "cached_delta": inp.cached_delta}
    spark = _start_session(out)
    store = LocalFSStore(os.path.join(args.work, "store"))
    out["setup_done"] = time.time()

    tracer = Tracer(spark) if args.trace else None
    enrich_results: list = []
    if tracer is not None:
        # Wrap the layers where ``pipeline`` looks them up.
        P.read_clinic_json = _traced(tracer, "io.read_clinic_json", P.read_clinic_json)
        P.enrich = _traced(tracer, "ops.enrich.enrich", P.enrich, enrich_results)
        store = CountingStore(store)

    out["attempted"] += 5  # the batch and its four checks
    batch = None
    with PeakRss() as rss:
        t0 = time.perf_counter()
        try:
            with tracer.span("batch") if tracer else nullcontext():
                batch = _clinic_batch(spark, inp, args.work, args.seed, store, tracer)
        except Exception:  # noqa: BLE001 - a failed batch is a counted failure
            out["errors"].append({"phase": "timed", "error": traceback.format_exc(limit=5)})
        wall = time.perf_counter() - t0
    out["peak_rss_mb"] = rss.peak / 2**20
    out["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in rss.peak_by_command.items()}
    out["wall_s"] = out["op_p50_s"] = [wall]
    if batch is None:
        out["failed"] += 5
        spark.stop()
        return

    result, receipt, cache_rows = batch
    problems = _clinic_checks(inp, result, receipt, store)
    out["failed"] += len(problems)
    out["errors"].extend({"phase": "check", "error": p} for p in problems)
    if tracer is not None:
        _clinic_layers(tracer, enrich_results, cache_rows, result, store, out["layers"])
        # A second cold process would double the run, so the overhead here
        # is the tracer's own time inside the batch.
        out["layers"]["trace.overhead_s"] = tracer.own_s
    spark.stop()


def _clinic_layers(tracer: Tracer, enrich_results, cache_rows, result, store, layers: dict) -> None:
    [batch] = tracer.roots
    tracer.settle(batch)
    for k, v in tracer.counters(batch.all_job_ids()).items():
        layers[f"exec.{k}"] = v

    def spans(name):
        out = []
        todo = [batch]
        while todo:
            s = todo.pop()
            out.extend(c for c in s.children if c.name == name)
            todo.extend(s.children)
        return out

    for name, key in (("pipeline.crawl_clean_merge", "pipeline.crawl_clean_merge"),
                      ("pipeline.diff_enrich_publish", "pipeline.diff_enrich_publish"),
                      ("pipeline.publish_to_store", "pipeline.publish_to_store")):
        [s] = spans(name)
        layers[f"{key}_s"] = s.seconds
        if not key.endswith("publish_to_store"):
            layers[f"{key}_jobs"] = len(s.all_job_ids())
    [collect] = spans("io.collect_rows")
    c = tracer.counters(collect.all_job_ids())
    layers.update({"io.collect_rows_s": collect.seconds, "io.collect_rows_jobs": c["jobs"],
                   "io.collect_rows_stages": c["stages"]})
    reads = spans("io.read_clinic_json")
    layers["io.read_clinic_json_s"] = sum(s.seconds for s in reads)
    layers["io.read_clinic_json_calls"] = len(reads)
    layers["io.read_clinic_json_jobs"] = sum(len(s.all_job_ids()) for s in reads)

    enrich_spans = spans("ops.enrich.enrich")
    layers["ops.enrich.enrich_s"] = sum(s.seconds for s in enrich_spans)
    delta = result.change_count if enrich_spans else 0
    layers["ops.enrich.delta_rows"] = delta
    hits = 0
    if enrich_results:
        cached = {r["query"]: (r["lat"], r["lng"]) for r in cache_rows}
        enriched = enrich_results[-1].enriched.select("usedQuery", "lat", "lng").collect()
        hits = sum(cached.get(r.usedQuery) == (r.lat, r.lng) for r in enriched)
    layers["ops.enrich.cache_hit_ratio"] = hits / delta if delta else 0.0
    layers["io.object_store.puts"] = store.puts
    layers["io.object_store.bytes_written"] = store.bytes_written


# ---------------------------------------------------------------------------


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    out = {"attempted": 0, "failed": 0, "errors": [], "layers": {}}
    if args.workload == "clinic_daily":
        run_clinic(args, out)
    elif args.workload == "tpch_olap":
        run_catalog(args, TPCH_OLAP, out)
    else:
        raise SystemExit(f"unknown workload {args.workload}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
