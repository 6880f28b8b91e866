"""Composed pipeline DAGs (SURVEY §3.1 / §3.2 / §3.4).

Two end-to-end dataflows mirroring the reference's entry points, minus the
collector (browser/HTTP scraping stays outside the engine — SURVEY §2.1):

  crawl_clean_merge   — §3.1 ``node src/index.js`` equivalent: every
                        county's raw landing files read in one call →
                        dedup → clean → yes/no merge, one plan for the
                        whole batch with a county-ranked output order
                        (reference src/index.js:319-436).
  diff_enrich_publish — §3.2+§3.4 ``geocode-diff-merge`` + entrypoint.sh:
                        snapshot carry-forward split, delta-only
                        enrichment, recombine, validation gates, and the
                        change-gated publish decision
                        (src/geocode-diff-merge.js:58-160,
                        scripts/entrypoint.sh:31-57).

Where the reference crossed an OS-process boundary with temp files between
diff and geocode (spawnSync, src/geocode-diff-merge.js:113-129), here the
incremental flow runs in one session: the snapshot split is one join,
persisted once per batch, and the carried rows and the delta are filters
over it that keep the split's recombine key. Only the delta (typically
tiny — the observed steady-state delta is 3 rows of 618) reaches
enrichment, which collects it, probes the cache with one Spark join and
runs the rate-limited waterfall for the misses in the driver; its result
comes back as an Arrow-backed frame. Recombine unions it with the carried
rows and resolves each key with one aggregate and one broadcast join.
The expensive path scales with CHANGE, not data size. The driver-side
enrichment adds no new scale limit: the publish step collects every final
row anyway, and the delta is a subset of them.

The crawl side follows the same rule: all counties' landing files feed one
read, one dedup, one clean and one merge, keyed by county rank, so the
batch runs the same jobs for 1 county or 22 and its cost follows clinics,
not counties.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .io.sources import read_clinic_json
from .ops.clean import clean_rows
from .ops.dedup import first_wins, raw_grid_key
from .ops.diff import match_snapshot, recombine, split_matched
from .ops.enrich import EnrichResult, Resolver, empty_cache, enrich, upsert_cache
from .ops.merge import merge_sides
from .ops.validate import ValidationSplit, split_geocoded, split_valid

# ---------------------------------------------------------------------------
# §3.1 — crawl → clean → merge
# ---------------------------------------------------------------------------


@dataclass
class CrawlMergeResult:
    per_county: dict[str, DataFrame]  # county → merged rows (with merge_order)
    taiwan: DataFrame                 # ordered union; taiwan_order column


def crawl_clean_merge(
    spark: SparkSession, county_files: list[tuple[str, str, str]]
) -> CrawlMergeResult:
    """Full §3.1: ``county_files`` is an ordered [(county, yes_raw_path,
    no_raw_path)] list (order = the reference's county loop order, U2).

    One plan for every county: S4 read of all landing files in one call →
    A1 dedup → P1-P8 clean → A2/O1 merge. A file's position in
    ``[yes_0, no_0, yes_1, no_1, …]`` gives its ``county_rank`` and side:
    the dedup is keyed per file and the merge per county rank, so each
    county's rows dedup and merge only among themselves. The whole-Taiwan
    frame carries a ``taiwan_order`` struct — county rank first, then the
    county-local merge order, exactly ``allMerged.push(...merged)``
    (reference src/index.js:402-429); ``per_county`` frames are filters
    on it."""
    raw = read_clinic_json(spark, [p for _, yes, no in county_files for p in (yes, no)])
    clean = clean_rows(first_wins(raw, [F.col("file_index"), raw_grid_key(raw)]))
    sides = clean.withColumns({
        "county_rank": F.shiftright("file_index", 1).cast("int"),
        "__src": F.col("file_index").bitwiseAND(1).cast("int"),
    }).drop("file_index")
    merged = merge_sides(sides, by=["county_rank"])
    cols = [c for c in merged.columns if c != "county_rank"]
    taiwan = merged.select(
        *cols,
        F.struct(F.col("county_rank"), F.col("merge_order").alias("local")).alias("taiwan_order"),
    )
    per_county = {
        county: merged.filter(F.col("county_rank") == rank).select(*cols)
        for rank, (county, _, _) in enumerate(county_files)
    }
    return CrawlMergeResult(per_county=per_county, taiwan=taiwan)


# ---------------------------------------------------------------------------
# §3.2 + §3.4 — diff → enrich → recombine → validate → publish gate
# ---------------------------------------------------------------------------


@dataclass
class IncrementalResult:
    final: DataFrame            # every clean row + GEO_COLS, clean order
    delta: DataFrame            # the rows that needed enrichment (T3 artifact)
    change_count: int           # A4: len(delta) — drives the publish gate
    publish: bool               # K5: CHANGE_COUNT > 0
    cache: DataFrame            # cache after upsert (K4)
    schema_gate: ValidationSplit    # V1 over the final rows
    geocode_gate: ValidationSplit   # V3 over the final rows


def diff_enrich_publish(
    clean: DataFrame,
    prev: DataFrame,
    cache: DataFrame | None,
    resolver: Resolver,
    *,
    nominatim: Resolver | None = None,
    min_interval_s: float = 0.0,
) -> IncrementalResult:
    """The incremental DAG (T1–T3, J1/J2, E1–E6, V1/V3, K5).

    ``clean`` and ``prev`` need ``ingest_order`` / ``prev_order`` columns
    (the polymorphic reader attaches them). The early-exit on an empty
    delta (T2) skips the enrichment stage entirely — the ``isEmpty`` guard
    is explicit because the rate-limited stage must not even be scheduled
    when there is nothing to do."""
    spark = clean.sparkSession
    cache = cache if cache is not None else empty_cache(spark)

    # The batch's one persisted frame: carried and need_geo are filters
    # over it, so the split join runs once for the count, the enrichment
    # collect, the publish collect and the gates.
    carried, need_geo = split_matched(match_snapshot(clean, prev).cache())
    change_count = need_geo.count()  # A4; also materializes the split once

    if change_count == 0:
        # T2 early exit: no enrichment stage at all.
        newly = carried.limit(0)
        enrich_res = EnrichResult(enriched=newly, new_cache_entries=cache.limit(0))
    else:
        enrich_res = enrich(
            need_geo, cache, resolver,
            nominatim=nominatim, min_interval_s=min_interval_s,
        )

    final = recombine(carried, enrich_res.enriched)
    schema_gate = split_valid(final)
    geocode_gate = split_geocoded(final)
    new_cache = upsert_cache(cache, enrich_res.new_cache_entries)

    return IncrementalResult(
        final=final,
        delta=need_geo.drop("__k3"),
        change_count=change_count,
        publish=change_count > 0,
        cache=new_cache,
        schema_gate=schema_gate,
        geocode_gate=geocode_gate,
    )


# ---------------------------------------------------------------------------
# §3.4 — change-gated publish to the object store (K3/K5/T5)
# ---------------------------------------------------------------------------


@dataclass
class PublishReceipt:
    current_key: str
    snapshot_key: str
    change_count: int
    dispatch_payload: dict  # the repository_dispatch body
    fanout: dict | None = None  # K7 hook result, when a hook was attached


def publish_to_store(
    result: IncrementalResult,
    store,
    *,
    current_key: str,
    snapshot_prefix: str,
    ts: str,
    region: str = "全台灣",
    fanout: Callable[[PublishReceipt, bytes], dict] | None = None,
) -> PublishReceipt | None:
    """The entrypoint.sh publish step (scripts/entrypoint.sh:35-57): IF
    change_count > 0, upload the wrapper JSON as BOTH the stable current
    key and a timestamped retention snapshot
    (``<snapshot_prefix>/clinics_<ts>.json``), and return the
    repository-dispatch payload the reference POSTs downstream. No
    change → no uploads, returns None (K5: the gate exists so an
    unchanged day writes nothing).

    ``ts`` is the caller's clock in the reference's UTC stamp format
    (``%Y%m%dT%H%M%SZ``) — explicit, like the collector's landing date.

    ``fanout`` is the K7 downstream hook (build one with
    :func:`repo_sync_fanout`): invoked AFTER both uploads land, only on a
    real publish — the workflow's ``changed == '1'`` gate
    (ref .github/workflows/clinics-v3.yml:126-203) — with the receipt and
    the published bytes; its result is recorded on the receipt.
    """
    if not result.publish:
        return None
    from .io.sinks import collect_rows, wrapper_json

    rows = collect_rows(
        result.final, order_col="ingest_order", drop=("prev_order",)
    )
    data = wrapper_json(rows, county=region).encode("utf-8")
    snapshot_key = f"{snapshot_prefix}/clinics_{ts}.json"
    store.put(snapshot_key, data)   # retention copy first:
    store.put(current_key, data)    # current never points at missing history
    receipt = PublishReceipt(
        current_key=current_key,
        snapshot_key=snapshot_key,
        change_count=result.change_count,
        dispatch_payload={
            "change_count": result.change_count,
            "current": current_key,
            "snapshot": snapshot_key,
            "region": region,
        },
    )
    if fanout is not None:
        receipt.fanout = fanout(receipt, data)
    return receipt


def repo_sync_fanout(
    sync: Callable[[str, bytes], bool],
    notify: Callable[[dict], None],
) -> Callable[[PublishReceipt, bytes], dict]:
    """K7 downstream fan-out (ref .github/workflows/clinics-v3.yml:126-203).

    Two chained gates, exactly the workflow's:
      1. the hook only runs on a real publish (``changed == '1'`` — enforced
         by :func:`publish_to_store`, which skips it when nothing changed);
      2. ``sync`` copies the published artifact to the downstream repo and
         reports whether that copy ACTUALLY changed (``changed_b`` — the
         workflow's ``git diff --cached --quiet`` probe); the LINE
         ``notify`` fires only when both gates pass (step 9's
         ``changed == '1' && changed_b == '1'``).

    ``sync``/``notify`` are injectable transports like the collector's
    get/post — the real ones are a git push and a LINE API POST, neither of
    which this sandbox can reach.
    """

    def hook(receipt: PublishReceipt, data: bytes) -> dict:
        changed_b = bool(sync(receipt.current_key, data))
        if changed_b:
            notify(dict(receipt.dispatch_payload))
        return {"synced": changed_b, "notified": changed_b}

    return hook
