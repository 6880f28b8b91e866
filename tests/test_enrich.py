"""Enrichment waterfall (ops/enrich.py) — cache probe, resolver waterfall,
fallback provenance, retry, cache upsert.

Golden anchor: the reference's committed geocode cache
(data/geocode-cache.json) joined against its published dataset — rows the
cache can serve must come back with the CACHED coordinates and never touch
the resolver.
"""

import json

import pytest
from pyspark.sql import functions as F

from counsel_data_pipeline_spark.ops import enrich as E

CACHE = "/root/reference/data/geocode-cache.json"
PUB = "/root/reference/public/clinics.json"


def _cache_df(spark):
    raw = json.load(open(CACHE))
    rows = [
        {
            "query": k,
            "lat": v.get("lat"),
            "lng": v.get("lng"),
            "confidence": v.get("confidence"),
            "formatted": v.get("formatted"),
            "components": {
                str(ck): str(cv) for ck, cv in (v.get("components") or {}).items()
            },
            "source": v.get("source"),
            "approx": v.get("approx"),
        }
        for k, v in raw.items()
    ]
    return spark.createDataFrame(rows, E.CACHE_SCHEMA)


def _clean_rows(spark, n=40):
    rows = json.load(open(PUB))["rows"]
    picked = [
        {"county": r["county"], "org_name": r["org_name"], "address": r["address"],
         "expected_lat": r.get("lat"), "expected_lng": r.get("lng")}
        for r in rows
        if r.get("source") == "opencage" and not r.get("approx")
    ][:n]
    return spark.createDataFrame(picked)


def test_cache_hits_reproduce_reference_coordinates(spark):
    # Resolver refuses everything: any row NOT served by the cache falls
    # through to the county-centroid floor (source='centroid'), so cache
    # coverage and cache purity are both observable from provenance.
    rows = _clean_rows(spark)
    stub = E.StubResolver(accepts=lambda q: False)
    res = E.enrich(rows, _cache_df(spark), stub)
    got = res.enriched.collect()
    assert len(got) == rows.count()
    hits = [r for r in got if r.source is not None and r.source != "centroid"]
    # near-total cache coverage for rows geocoded by the current builder
    # (a few legacy rows hold queries an older builder revision produced)
    assert len(hits) / len(got) >= 0.9
    for r in hits:
        assert r.lat is not None and r.lng is not None
        assert r.note is None
        assert r.usedQuery  # provenance: which candidate hit
    # coordinates must be the CACHED ones == the published ones
    exact = sum(
        1 for r in hits if (r.lat, r.lng) == (r.expected_lat, r.expected_lng)
    )
    assert exact / len(hits) >= 0.9
    # nothing resolved by the stub → nothing to write back
    assert res.new_cache_entries.count() == 0


def test_miss_goes_through_resolver_and_writes_cache(spark):
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "測試診所", "address": "臺北市中山區南京東路2段125號"}]
    )
    stub = E.StubResolver()
    res = E.enrich(rows, None, stub, min_interval_s=0.0)
    [r] = res.enriched.collect()
    assert r.source == "opencage" and r.approx is None
    assert r.lat is not None and 21.5 <= r.lat <= 25.5
    assert 119.5 <= r.lng <= 122.5
    assert r.usedQuery  # the winning candidate is recorded
    entries = res.new_cache_entries.collect()
    assert [e.query for e in entries] == [r.usedQuery]
    # determinism: same query → same coordinates
    r2 = E.enrich(rows, None, E.StubResolver()).enriched.collect()[0]
    assert (r2.lat, r2.lng) == (r.lat, r.lng)


def test_county_mismatch_cache_entry_is_rejected(spark):
    # cache has the exact candidate query but its components point at the
    # wrong county → must NOT be used (F24/E6), resolver resolves instead.
    addr = "臺北市中山區南京東路2段125號"
    from counsel_data_pipeline_spark.ops.text import build_query_candidates

    top = build_query_candidates(addr, "測試診所")[0]
    bad = spark.createDataFrame(
        [{"query": top, "lat": 1.0, "lng": 1.0, "confidence": 9,
          "formatted": "高雄市某處", "components": {"county": "高雄市"},
          "source": "opencage", "approx": None}],
        E.CACHE_SCHEMA,
    )
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "測試診所", "address": addr}]
    )
    [r] = E.enrich(rows, bad, E.StubResolver()).enriched.collect()
    assert (r.lat, r.lng) != (1.0, 1.0)
    assert r.source == "opencage"


def test_street_fallback_provenance(spark):
    # primary candidates all rejected (stub refuses 號-bearing queries) →
    # street-centroid stage resolves road-only queries → approx='street'.
    stub = E.StubResolver(accepts=lambda q: "號" not in q and ("路" in q or "街" in q))
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "測試診所", "address": "臺北市中山區南京東路2段125號"}]
    )
    res = E.enrich(rows, None, stub)
    [r] = res.enriched.collect()
    assert r.approx == "street" and r.source == "opencage"
    assert "號" not in r.usedQuery
    # street results are NOT cached (reference caches only primary hits)
    assert res.new_cache_entries.count() == 0


def test_county_table_fallback_when_nothing_resolves(spark):
    stub = E.StubResolver(accepts=lambda q: False)
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "x", "address": "臺北市中山區南京東路2段125號"}]
    )
    [r] = E.enrich(rows, None, stub).enriched.collect()
    assert r.source == "centroid" and r.approx == "county_table"
    assert (r.lat, r.lng) == E.COUNTY_CENTROIDS["臺北市"]
    assert r.usedQuery == "county_table"


def test_no_result_note_when_no_county_either(spark):
    stub = E.StubResolver(accepts=lambda q: False)
    rows = spark.createDataFrame(
        [(None, "x", "somewhere 123")],
        "county string, org_name string, address string",
    )
    [r] = E.enrich(rows, None, stub).enriched.collect()
    assert r.lat is None and r.lng is None
    assert r.note == "No result"


def test_retry_gives_up_then_moves_on():
    calls = []

    def flaky():
        calls.append(1)
        raise E.Retryable("429")

    out = E.with_retry(flaky, attempts=3, sleep=lambda s: None)
    assert out is None and len(calls) == 3

    def permanent():
        raise E.NonRetryable("400")

    assert E.with_retry(permanent, sleep=lambda s: None) is None


def test_rate_limiter_spacing():
    now = [0.0]
    slept = []
    lim = E.RateLimiter(
        min_interval_s=1.2,
        clock=lambda: now[0],
        sleep=lambda s: (slept.append(s), now.__setitem__(0, now[0] + s)),
    )
    lim.wait()          # first call free
    lim.wait()          # must wait the full interval
    assert slept == [pytest.approx(1.2)]


def test_upsert_cache_last_write_wins(spark):
    old = spark.createDataFrame(
        [{"query": "q1", "lat": 1.0, "lng": 1.0, "confidence": 1,
          "formatted": "old", "components": {}, "source": "opencage", "approx": None}],
        E.CACHE_SCHEMA,
    )
    new = spark.createDataFrame(
        [{"query": "q1", "lat": 2.0, "lng": 2.0, "confidence": 2,
          "formatted": "new", "components": {}, "source": "opencage", "approx": None},
         {"query": "q2", "lat": 3.0, "lng": 3.0, "confidence": 3,
          "formatted": "n2", "components": {}, "source": "nominatim", "approx": None}],
        E.CACHE_SCHEMA,
    )
    merged = {r.query: r for r in E.upsert_cache(old, new).collect()}
    assert len(merged) == 2
    assert merged["q1"].formatted == "new"
    assert merged["q2"].source == "nominatim"


def test_enrichment_stage_is_single_partition(spark):
    # the rate-limited waterfall must not fan out (E4 design constraint):
    # however many partitions feed it, it runs in the driver, one row at a time
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": f"o{i}",
          "address": f"臺北市中山區南京東路2段{i}號"} for i in range(1, 9)]
    ).repartition(8)
    res = E.enrich(rows, None, E.StubResolver())
    assert res.enriched.count() == 8
    # all misses resolved; every usedQuery distinct address → distinct query
    assert res.new_cache_entries.select("query").distinct().count() == 8


def test_nominatim_fallback_when_primary_dry(spark):
    # E2: primary resolves nothing; the secondary (nominatim) resolver
    # handles the primary candidate list and its hits are cached too.
    primary = E.StubResolver(name="opencage", accepts=lambda q: False)
    secondary = E.StubResolver(name="nominatim")
    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "測試診所", "address": "臺北市中山區南京東路2段125號"}]
    )
    res = E.enrich(rows, None, primary, nominatim=secondary)
    [r] = res.enriched.collect()
    assert r.source == "nominatim" and r.approx is None
    entries = res.new_cache_entries.collect()
    assert len(entries) == 1 and entries[0].source == "nominatim"


# ---------------------------------------------------------------------------
# Real HTTP adapters (E1/E2) against a mocked transport
# ---------------------------------------------------------------------------


class _MockTransport:
    """Records every request; replies from a (url-substring → (status,
    payload)) table. Payload may be an Exception to raise."""

    def __init__(self, replies):
        self.replies = replies
        self.requests = []

    def __call__(self, url, params, headers, timeout_s):
        self.requests.append((url, dict(params), dict(headers), timeout_s))
        for frag, (status, payload) in self.replies.items():
            if frag in url:
                if isinstance(payload, Exception):
                    raise payload
                return status, json.dumps(payload).encode()
        raise AssertionError(f"unexpected url {url}")


_OC_OK = {
    "results": [
        {
            "geometry": {"lat": 25.04, "lng": 121.56},
            "confidence": 9,
            "formatted": "臺北市信義區市府路45號",
            "components": {"city": "臺北市", "town": "信義區"},
        }
    ]
}
_NOMI_OK = [
    {
        "lat": "24.15",
        "lon": "120.66",
        "display_name": "臺中市西屯區市政北二路",
        "address": {"city": "臺中市"},
    }
]


def test_opencage_adapter_sends_reference_params_and_parses():
    t = _MockTransport({"opencagedata": (200, _OC_OK)})
    r = E.OpenCageResolver(api_key="k123", transport=t)
    got = r.resolve("臺北市信義區市府路45號", proximity=(25.0375, 121.5637))
    (url, params, headers, timeout) = t.requests[0]
    # exact parameter parity with src/geocode.js:318-326
    assert params == {
        "key": "k123", "q": "臺北市信義區市府路45號", "countrycode": "tw",
        "language": "zh-TW", "limit": "1", "no_annotations": "1",
        "bounds": "119.5,21.5,122.5,25.5", "proximity": "25.0375,121.5637",
    }
    assert timeout == 15.0
    assert got["lat"] == 25.04 and got["lng"] == 121.56
    assert got["confidence"] == 9 and got["source"] == "opencage"
    assert got["components"]["town"] == "信義區"


def test_opencage_adapter_requires_key(monkeypatch):
    monkeypatch.delenv("OPENCAGE_API_KEY", raising=False)
    with pytest.raises(ValueError):
        E.OpenCageResolver()


def test_nominatim_adapter_sends_reference_params_and_parses():
    t = _MockTransport({"nominatim": (200, _NOMI_OK)})
    r = E.NominatimResolver(transport=t)
    got = r.resolve("臺中市西屯區市政北二路")
    (url, params, headers, timeout) = t.requests[0]
    # exact parameter parity with src/geocode.js:345-353 (incl. the
    # reference's corner-order viewbox quirk) + UA header
    assert params == {
        "format": "jsonv2", "q": "臺中市西屯區市政北二路", "limit": "1",
        "addressdetails": "1", "countrycodes": "tw", "bounded": "1",
        "viewbox": "119.5,25.5,122.5,21.5",
    }
    assert headers["User-Agent"].startswith("crawler_counseling_geocoder/")
    assert got == {
        "lat": 24.15, "lng": 120.66, "confidence": None,
        "formatted": "臺中市西屯區市政北二路", "components": {"city": "臺中市"},
        "source": "nominatim",
    }


def test_adapter_status_retry_classes():
    for status, exc in ((429, E.Retryable), (503, E.Retryable), (403, E.NonRetryable)):
        t = _MockTransport({"opencagedata": (status, {})})
        r = E.OpenCageResolver(api_key="k", transport=t)
        with pytest.raises(exc):
            r.resolve("q")
    # empty result set is a normal miss, not an error
    t = _MockTransport({"opencagedata": (200, {"results": []})})
    assert E.OpenCageResolver(api_key="k", transport=t).resolve("q") is None


def test_waterfall_with_mocked_real_adapters(spark):
    """End-to-end E5 with the REAL adapter classes in the waterfall (mock
    transport): primary OpenCage dries up (empty results) → Nominatim
    fallback supplies the hit, provenance records it."""
    oc = _MockTransport({"opencagedata": (200, {"results": []})})
    nomi_payload = [
        {"lat": "25.04", "lon": "121.56",
         "display_name": "臺北市信義區市府路45號",
         "address": {"city": "臺北市"}}
    ]
    nm = _MockTransport({"nominatim": (200, nomi_payload)})
    seen = []

    def tap(name, transport):
        def send(*args):
            seen.append(name)
            return transport(*args)
        return send

    rows = spark.createDataFrame(
        [{"county": "臺北市", "org_name": "測試診所", "address": "臺北市信義區市府路45號"}]
    )
    res = E.enrich(
        rows, None,
        E.OpenCageResolver(api_key="k", transport=tap("opencage", oc)),
        nominatim=E.NominatimResolver(transport=tap("nominatim", nm)),
    )
    [r] = res.enriched.collect()
    assert r["lat"] == 25.04 and r["source"] == "nominatim"
    # the primary was consulted and came up dry before the fallback ran
    assert oc.requests and nm.requests
    assert seen == ["opencage"] * len(oc.requests) + ["nominatim"] * len(nm.requests)


def test_upsert_cache_drops_null_queries_and_keeps_columns(spark):
    """A null query can never be probed, so the merge drops it from both
    sides; the merged cache keeps CACHE_SCHEMA's column order."""
    def entry(q, formatted):
        return {"query": q, "lat": 1.0, "lng": 1.0, "confidence": 1, "formatted": formatted,
                "components": {}, "source": "opencage", "approx": None}

    old = spark.createDataFrame([entry("q1", "old"), entry(None, "old-null")], E.CACHE_SCHEMA)
    new = spark.createDataFrame([entry(None, "new-null")], E.CACHE_SCHEMA)
    merged = E.upsert_cache(old, new)
    assert merged.columns == E.CACHE_SCHEMA.fieldNames()
    assert [(r.query, r.formatted) for r in merged.collect()] == [("q1", "old")]


def test_waterfall_reexecution_is_idempotent(spark):
    """SURVEY §7 hard-parts promise (retry safety): a failed batch is
    re-run, re-running the waterfall on the SAME rows. The waterfall must
    be a pure function of its input (StubResolver is deterministic; the
    reference's pacing jitter lives in the rate limiter, which shapes
    timing, never results), so a re-run yields byte-identical rows and
    write-back entries — and re-applying that write-back through
    upsert_cache's last-write-wins merge leaves the cache state
    unchanged."""
    rows = spark.createDataFrame(
        [
            # resolver path (cache miss, address resolvable)
            {"county": "臺北市", "org_name": "測試診所",
             "address": "臺北市中山區南京東路2段125號"},
            {"county": "新北市", "org_name": "板橋診所",
             "address": "新北市板橋區文化路1段188號"},
            # county-centroid floor (nothing resolvable, county known)
            {"county": "花蓮縣", "org_name": "無地址單位", "address": ""},
            # no-result note (no county, no address)
            {"county": None, "org_name": "幽靈單位", "address": None},
        ]
    )
    cache = E.empty_cache(spark)

    def run_once():
        res = E.enrich(rows, cache, E.StubResolver(), min_interval_s=0.0)
        enriched = sorted(
            (r.asDict(recursive=True) for r in res.enriched.collect()),
            key=lambda d: str(d["org_name"]),
        )
        entries = sorted(
            (r.asDict(recursive=True) for r in res.new_cache_entries.collect()),
            key=lambda d: d["query"],
        )
        return enriched, entries, res.new_cache_entries

    enriched_1, entries_1, wb_1 = run_once()
    enriched_2, entries_2, _ = run_once()

    # identical output rows and identical write-back set on re-execution
    assert enriched_1 == enriched_2
    assert entries_1 == entries_2
    assert len(entries_1) == 2  # the two resolver-path rows wrote back

    # re-applying the same write-back is a no-op on cache state
    once = E.upsert_cache(cache, wb_1)
    twice = E.upsert_cache(once, wb_1)

    def snapshot(df):
        return sorted(
            (r.asDict(recursive=True) for r in df.collect()),
            key=lambda d: d["query"],
        )

    assert snapshot(once) == snapshot(twice)
    assert {e["query"] for e in snapshot(once)} == {
        e["query"] for e in entries_1
    }


# ---------------------------------------------------------------------------
# The driver-side contract: every resolver call happens inside enrich()
# ---------------------------------------------------------------------------


_ADDR = "臺北市中山區南京東路2段125號"


def test_miss_calls_resolver_in_candidate_order_once(spark):
    from counsel_data_pipeline_spark.ops.text import build_query_candidates

    queries = build_query_candidates(_ADDR, "測試診所")
    target = queries[2]
    stub = E.StubResolver(accepts=lambda q: q == target)
    rows = spark.createDataFrame([{"county": "臺北市", "org_name": "測試診所", "address": _ADDR}])
    res = E.enrich(rows, None, stub)
    assert stub.calls == queries[:3]
    for _ in range(2):
        [r] = res.enriched.collect()
        assert r.usedQuery == target and r.source == "opencage"
        assert [e.query for e in res.new_cache_entries.collect()] == [target]
    assert stub.calls == queries[:3]


def test_probe_keeps_the_highest_priority_county_valid_hit(spark):
    from counsel_data_pipeline_spark.ops.text import build_query_candidates

    queries = build_query_candidates(_ADDR, "測試診所")

    def entry(q, lat, county):
        return (q, lat, 121.5, 9, county, {"county": county}, "opencage", None)

    cache = spark.createDataFrame(
        [entry(queries[5], 25.5, "臺北市"), entry(queries[1], 22.0, "高雄市"),
         entry(queries[3], 25.3, "臺北市")],
        E.CACHE_SCHEMA,
    )
    rows = spark.createDataFrame([{"county": "臺北市", "org_name": "測試診所", "address": _ADDR}])
    stub = E.StubResolver()
    [r] = E.enrich(rows, cache, stub).enriched.collect()
    assert (r.usedQuery, r.lat, r.note) == (queries[3], 25.3, None)
    assert stub.calls == []


def test_enrich_plans_have_no_python_operator_and_persist_nothing(spark):
    from counsel_data_pipeline_spark.ops.text import build_query_candidates

    hit_addr = "臺北市信義區市府路45號"
    top = build_query_candidates(hit_addr, "a所")[0]
    cache = spark.range(1).select(  # a JVM-backed cache: no Python RDD to scan
        F.lit(top).alias("query"), F.lit(25.0).alias("lat"), F.lit(121.5).alias("lng"),
        F.lit(9).cast("long").alias("confidence"), F.lit("臺北市").alias("formatted"),
        F.create_map(F.lit("county"), F.lit("臺北市")).alias("components"),
        F.lit("opencage").alias("source"), F.lit(None).cast("string").alias("approx"),
    )
    rows = spark.createDataFrame(
        [("臺北市", "a所", hit_addr), ("臺北市", "b所", _ADDR)],
        "county string, org_name string, address string",
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    res = E.enrich(rows, cache, E.StubResolver())
    for df in (res.enriched, res.new_cache_entries):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for op in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
            assert op not in plan, plan
    got = {r.org_name: r for r in res.enriched.collect()}
    assert (got["a所"].lat, got["a所"].usedQuery) == (25.0, top)  # served by the probe
    assert got["b所"].source == "opencage"
    assert res.new_cache_entries.count() == 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted


def test_empty_rows_give_empty_frames_and_no_resolver_call(spark):
    from counsel_data_pipeline_spark.ops.diff import GEO_COLS

    rows = spark.createDataFrame([], "county string, org_name string, address string, n long")
    cache = spark.createDataFrame(
        [("q", 1.0, 1.0, 1, "f", {}, "opencage", None)], E.CACHE_SCHEMA
    )
    stub = E.StubResolver()
    res = E.enrich(rows, cache, stub)
    assert res.enriched.columns == [*rows.columns, *GEO_COLS]
    assert res.enriched.count() == 0
    assert res.new_cache_entries.schema == E.empty_cache(spark).schema
    assert res.new_cache_entries.count() == 0
    assert stub.calls == []
