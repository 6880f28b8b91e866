"""Rate-limited, cached, retrying strategy-waterfall enrichment
(SURVEY §2.9 E1–E6, §2.5 J3/J4).

Reference semantics (src/geocode.js:472-514 ``resolveOneRow``):

  1. cache probe over the ranked candidate list; a hit counts only if it
     passes ``countyMatches`` for THIS row's expected county (:478-483).
  2. primary geocoder (OpenCage) over the candidates, county-validated;
     successes are written back to the cache (:486-491).
  3. optional secondary geocoder (Nominatim), same contract (:494-501).
  4. street-centroid fallback over F20 candidates → ``approx='street'``
     (:427-440); validated once on the final result (:505).
  5. admin query (county+district, then county) → ``approx='admin'``;
     last resort = built-in county-centroid table → ``source='centroid'``,
     ``approx='county_table'`` (:443-469).
  Failures end with ``note='No result'`` and null coordinates (:538).

Spark shape:

  * The input is the DELTA, the rows the snapshot diff could not carry
    forward: the reference geocodes it in one process, one request at a
    time, and it is a few rows of a few hundred. ``enrich`` collects it
    once and builds the F19 candidates in the driver.
  * The CACHE PROBE is one Spark join: the cache stays a partitioned
    table and streams, the candidate frame (row id, priority rank, query,
    county, address) is broadcast, county validation is the
    ``expected_county_col``/``county_matches_col`` Column predicate, and
    only matching entries reach the driver, which keeps the
    highest-priority hit per row.
  * Cache MISSES run the sequential waterfall in the driver, because the
    reference's 1-request/1.2-s global rate limit (src/geocode.js:41)
    makes this stage *semantically* sequential. Retries live in the
    waterfall (E3), one resolver call at a time.
  * Both results — ``enriched`` and the new cache entries for a keyed
    last-write-wins upsert (unlike the reference's per-row file rewrite,
    src/geocode.js:544-548) — are Arrow-backed JVM frames. Every resolver
    call happens once per ``enrich`` call: reading the frames again never
    re-runs the waterfall, no Python worker serves them and nothing is
    cached.

Scale bound: the delta and its enrichment live in the driver. The caller
that publishes collects every final row anyway (``publish_to_store``), and
the delta is a subset of those rows, so this adds no new limit; the cache
itself is never collected or broadcast whole.

The network resolver is pluggable: tests (and this container) use the
deterministic :class:`StubResolver`; a real HTTP implementation plugs in
behind the same two-method protocol.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any, Protocol

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..io.sources import _jvm_frame
from ..schemas import GEO_COLUMNS
from .diff import ensure_geo_cols
from .merge import keyed_merge
from .text import (
    build_query_candidates,
    build_street_centroid_candidates,
    county_matches,
    get_expected_county,
    looks_like_address,
    parse_region_parts,
)

# ---------------------------------------------------------------------------
# J4 — county-centroid dimension (22 counties; values from the reference's
# built-in table, src/geocode.js:44-67; 臺/台 aliases generated, not listed)
# ---------------------------------------------------------------------------

_CENTROIDS_CANONICAL: dict[str, tuple[float, float]] = {
    "臺北市": (25.0375, 121.5637),
    "新北市": (25.012, 121.463),
    "桃園市": (24.993, 121.301),
    "新竹市": (24.8047, 120.9714),
    "新竹縣": (24.838, 121.007),
    "苗栗縣": (24.56, 120.82),
    "臺中市": (24.1477, 120.6736),
    "彰化縣": (24.08, 120.54),
    "南投縣": (23.96, 120.97),
    "雲林縣": (23.708, 120.543),
    "嘉義市": (23.48, 120.44),
    "嘉義縣": (23.46, 120.32),
    "臺南市": (22.9997, 120.227),
    "高雄市": (22.627, 120.301),
    "屏東縣": (22.676, 120.494),
    "宜蘭縣": (24.757, 121.754),
    "花蓮縣": (23.976, 121.604),
    "臺東縣": (22.758, 121.144),
    "澎湖縣": (23.565, 119.586),
    "金門縣": (24.449, 118.37),
    "連江縣": (26.157, 119.95),
    "基隆市": (25.128, 121.741),
}

COUNTY_CENTROIDS: dict[str, tuple[float, float]] = {
    alias: v
    for k, v in _CENTROIDS_CANONICAL.items()
    for alias in {k, k.replace("臺", "台")}
}


def get_proximity(county: str | None, address: str | None) -> tuple[float, float] | None:
    return COUNTY_CENTROIDS.get(get_expected_county(county, address))


# ---------------------------------------------------------------------------
# Resolver protocol + deterministic stub (E1/E2 physical plug-in point)
# ---------------------------------------------------------------------------


class Retryable(Exception):
    """Transient failure (429/5xx/network analog) — eligible for retry."""


class NonRetryable(Exception):
    """Permanent failure (4xx analog) — treated as no-result."""


class Resolver(Protocol):
    """One forward-geocode call: query → geo dict or None (no result).

    Implementations may raise :class:`Retryable` / :class:`NonRetryable`;
    the waterfall's retry wrapper handles both like the reference's
    ``withRetry`` (src/geocode.js:375-394).
    """

    name: str

    def resolve(
        self, query: str, proximity: tuple[float, float] | None
    ) -> dict[str, Any] | None: ...


@dataclass
class StubResolver:
    """Deterministic fake geocoder for tests/containers without network.

    Coordinates are a stable hash of the query mapped into the Taiwan
    bounds box (119.5,21.5,122.5,25.5 — the box both real geocoders are
    constrained to, src/geocode.js:40). ``components.county`` echoes the
    query's region prefix so county validation behaves like a good
    geocode; ``accepts`` narrows which queries "exist".
    """

    name: str = "opencage"
    accepts: Callable[[str], bool] = looks_like_address
    fail_queries: frozenset[str] = frozenset()
    calls: list[str] = field(default_factory=list)

    def resolve(self, query, proximity=None):
        self.calls.append(query)
        if query in self.fail_queries:
            raise Retryable(f"simulated 429 for {query}")
        if not self.accepts(query):
            return None
        h = hashlib.sha256(query.encode("utf-8")).digest()
        lon = 119.5 + (int.from_bytes(h[:4], "big") / 2**32) * 3.0
        lat = 21.5 + (int.from_bytes(h[4:8], "big") / 2**32) * 4.0
        county, district = parse_region_parts(query)
        return {
            "lat": round(lat, 7),
            "lng": round(lon, 7),
            "confidence": 1 + h[8] % 10,
            "formatted": query,
            "components": {k: v for k, v in (("county", county), ("town", district)) if v},
            "source": self.name,
        }


TAIWAN_BOUNDS = "119.5,21.5,122.5,25.5"  # minLon,minLat,maxLon,maxLat (geocode.js:40)


def _urllib_transport(
    url: str, params: dict[str, str], headers: dict[str, str], timeout_s: float
) -> tuple[int, bytes]:
    """Default HTTP GET via stdlib (the container has no requests/httpx).

    Returns (status, body); network-level failures surface as Retryable,
    matching the reference's axios timeout/ECONNRESET retry class."""
    import urllib.error
    import urllib.parse
    import urllib.request

    full = f"{url}?{urllib.parse.urlencode(params)}"
    req = urllib.request.Request(full, headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as e:  # non-2xx WITH a status code
        return e.code, e.read()
    except urllib.error.URLError as e:  # DNS/conn/timeout — transient
        raise Retryable(str(e)) from e
    except TimeoutError as e:
        raise Retryable(str(e)) from e


def _classify_status(status: int, body: bytes) -> None:
    """HTTP status → retry class (reference withRetry: 429/5xx/timeouts
    retry, other 4xx = permanent no-result, geocode.js:381-389)."""
    if status in (408, 429) or status >= 500:
        raise Retryable(f"HTTP {status}")
    if status >= 400:
        raise NonRetryable(f"HTTP {status}: {body[:200]!r}")


@dataclass
class OpenCageResolver:
    """E1 — OpenCage forward geocode (reference src/geocode.js:317-342).

    Parameters mirror the reference exactly: countrycode=tw, zh-TW,
    limit 1, no_annotations, Taiwan bounds box, optional county-centroid
    ``proximity`` as "lat,lng". Key from ``OPENCAGE_API_KEY`` (same env
    var the reference requires, geocode.js:16). ``transport`` is
    injectable so tests run against a mocked HTTP layer.
    """

    api_key: str | None = None
    timeout_s: float = 15.0
    transport: Callable[..., tuple[int, bytes]] = _urllib_transport
    name: str = "opencage"

    URL = "https://api.opencagedata.com/geocode/v1/json"

    def __post_init__(self):
        if self.api_key is None:
            self.api_key = os.environ.get("OPENCAGE_API_KEY")
        if not self.api_key:
            raise ValueError(
                "OpenCageResolver needs an API key (OPENCAGE_API_KEY env var)"
            )

    def resolve(self, query, proximity=None):
        params = {
            "key": self.api_key,
            "q": query,
            "countrycode": "tw",
            "language": "zh-TW",
            "limit": "1",
            "no_annotations": "1",
            "bounds": TAIWAN_BOUNDS,
        }
        if proximity:
            params["proximity"] = f"{proximity[0]},{proximity[1]}"  # lat,lng
        status, body = self.transport(self.URL, params, {}, self.timeout_s)
        _classify_status(status, body)
        data = json.loads(body)
        results = (data or {}).get("results") or []
        if not results:
            return None
        best = results[0]
        return {
            "lat": best["geometry"]["lat"],
            "lng": best["geometry"]["lng"],
            "confidence": best.get("confidence"),
            "formatted": best.get("formatted"),
            "components": {
                k: str(v) for k, v in (best.get("components") or {}).items()
            },
            "source": "opencage",
        }


@dataclass
class NominatimResolver:
    """E2 — Nominatim fallback (reference src/geocode.js:344-372).

    jsonv2, limit 1, addressdetails, countrycodes=tw, bounded viewbox
    (note the reference's viewbox is lon-lat corner order '119.5,25.5,
    122.5,21.5' — reproduced verbatim), User-Agent from
    ``NOMINATIM_USER_AGENT`` with the reference's default.
    """

    timeout_s: float = 15.0
    transport: Callable[..., tuple[int, bytes]] = _urllib_transport
    user_agent: str | None = None
    name: str = "nominatim"

    URL = "https://nominatim.openstreetmap.org/search"

    def __post_init__(self):
        if self.user_agent is None:
            self.user_agent = os.environ.get(
                "NOMINATIM_USER_AGENT",
                "crawler_counseling_geocoder/1.5 (+https://example.com)",
            )

    def resolve(self, query, proximity=None):
        params = {
            "format": "jsonv2",
            "q": query,
            "limit": "1",
            "addressdetails": "1",
            "countrycodes": "tw",
            "bounded": "1",
            "viewbox": "119.5,25.5,122.5,21.5",
        }
        status, body = self.transport(
            self.URL, params, {"User-Agent": self.user_agent}, self.timeout_s
        )
        _classify_status(status, body)
        arr = json.loads(body)
        if not isinstance(arr, list) or not arr:
            return None
        best = arr[0]
        return {
            "lat": float(best["lat"]),
            "lng": float(best["lon"]),
            "confidence": None,
            "formatted": best.get("display_name"),
            "components": {k: str(v) for k, v in (best.get("address") or {}).items()},
            "source": "nominatim",
        }


def with_retry(
    fn: Callable[[], dict | None],
    attempts: int = 3,
    backoff_s: float = 1.5,
    sleep: Callable[[float], None] = time.sleep,
) -> dict | None:
    """E3: ≤3 attempts with linear backoff on transient errors; permanent
    errors → None (reference treats 4xx as no-result, src/geocode.js:390)."""
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except NonRetryable:
            return None
        except Retryable:
            if attempt == attempts:
                return None
            sleep(backoff_s * attempt)
    return None


@dataclass
class RateLimiter:
    """E4: global min-interval pacing (reference: Bottleneck minTime=1200,
    maxConcurrent=1). One limiter paces every resolver call of an
    ``enrich`` call."""

    min_interval_s: float = 1.2
    clock: Callable[[], float] = time.monotonic
    sleep: Callable[[float], None] = time.sleep
    _last: float = field(default=float("-inf"), init=False)

    def wait(self) -> None:
        now = self.clock()
        remaining = self._last + self.min_interval_s - now
        if remaining > 0:
            self.sleep(remaining)
            now = self.clock()
        self._last = now


# ---------------------------------------------------------------------------
# County validation as a Column predicate (F24 — used by the cache probe)
# ---------------------------------------------------------------------------


def expected_county_col(county: Column, address: Column) -> Column:
    """F25 as a Column: the row's county if non-blank, else the address's
    leading county token."""
    c = F.trim(F.coalesce(county, F.lit("")))
    parsed = F.regexp_extract(
        F.coalesce(address, F.lit("")), r"^([一-龥]{2,3}[縣市])", 1
    )
    return F.when(c != "", c).otherwise(parsed)


def county_matches_col(
    components: Column, formatted: Column, expected: Column
) -> Column:
    """F24 as a Column: expected county (either 臺/台 spelling) appears in
    any admin component or the formatted string; vacuously true when the
    expected county is unknown."""
    text = F.concat_ws(
        "|",
        *[components.getItem(k) for k in ("city", "town", "village", "county", "state", "region")],
        F.coalesce(formatted, F.lit("")),
    )
    return (
        (expected == "")
        | F.contains(text, expected)
        | F.contains(text, F.translate(expected, "臺", "台"))
        | F.contains(text, F.translate(expected, "台", "臺"))
    )


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

# The cache holds every geo column but the per-row ``usedQuery`` and ``note``.
_CACHED_GEO = [f for f in GEO_COLUMNS if f.name not in ("usedQuery", "note")]
_CACHED_COLS = [f.name for f in _CACHED_GEO]
CACHE_SCHEMA = StructType([StructField("query", StringType()), *_CACHED_GEO])


def empty_cache(spark) -> DataFrame:
    return spark.createDataFrame([], CACHE_SCHEMA)


@dataclass
class EnrichResult:
    enriched: DataFrame        # input columns + GEO_COLS, one row per input row
    new_cache_entries: DataFrame  # CACHE_SCHEMA rows discovered by the resolvers


def _probe_cache(
    spark, cache: DataFrame, recs: list[dict], candidates: list[list[str]]
) -> dict[int, dict]:
    """J3/E6: row index → its highest-priority county-valid cache hit
    (the geo columns plus ``usedQuery``). One join: the cache streams, the
    candidate frame is broadcast, and only matching entries are collected."""
    cand_rows = [
        {"rid": i, "rank": k, "q": q, "county": recs[i]["county"], "address": recs[i]["address"]}
        for i, qs in enumerate(candidates)
        for k, q in enumerate(qs)
    ]
    cand_schema = pa.schema([("rid", pa.int64()), ("rank", pa.int64()), ("q", pa.string()),
                             ("county", pa.string()), ("address", pa.string())])
    cand = _jvm_frame(spark, pa.Table.from_pylist(cand_rows, schema=cand_schema)).select(
        "rid", "rank", "q", expected_county_col(F.col("county"), F.col("address")).alias("exp")
    )
    cache = ensure_cache_schema(cache)
    hits = (
        cache.join(F.broadcast(cand), cache["query"] == cand["q"])
        .filter(county_matches_col(F.col("components"), F.col("formatted"), F.col("exp")))
        .select("rid", "rank", *_CACHED_COLS, F.col("query").alias("usedQuery"))
    )
    best = {}
    for h in hits.collect():
        if h.rid not in best or h.rank < best[h.rid].rank:
            best[h.rid] = h
    return {rid: {c: h[c] for c in (*_CACHED_COLS, "usedQuery")} for rid, h in best.items()}


def _waterfall(
    rec: dict,
    queries: list[str],
    call: Callable[[Resolver, str, Any], dict | None],
    resolver: Resolver,
    nominatim: Resolver | None,
) -> tuple[dict | None, str | None, str | None]:
    """E1–E5 for one cache miss: (geo, usedQuery, cache write-back query)."""
    county, addr, org = rec["county"], rec["address"], rec["org_name"]
    prox = get_proximity(county, addr)
    expected = get_expected_county(county, addr)

    # 2) primary, then 3) secondary, over ranked candidates, county-validated
    for res in [resolver] + ([nominatim] if nominatim else []):
        for q in queries:
            g = call(res, q, prox)
            if g and county_matches(g.get("components"), g.get("formatted"), expected):
                return dict(g), q, q
    # 4) street-centroid fallback (F20), validated once
    street_qs = build_street_centroid_candidates(addr or "", org or "")
    for res in [resolver] + ([nominatim] if nominatim else []):
        g, q = None, None
        for q in street_qs:
            g = call(res, q, prox)
            if g:
                break
        if g:
            if county_matches(g.get("components"), g.get("formatted"), expected):
                return {**g, "approx": "street"}, q, None
            break  # reference takes first result, pass or fail
    # 5) admin query, then built-in county centroid
    pc, pd_ = parse_region_parts(addr or "")
    for q in [x for x in (pc + pd_ if pc and pd_ else "", pc) if x]:
        g = call(resolver, q, prox)
        if g:
            return {**g, "approx": "admin"}, q, None
    if prox is not None:
        return {
            "lat": prox[0], "lng": prox[1], "confidence": None,
            "formatted": (pc + pd_) or "county-centroid",
            "components": {}, "source": "centroid", "approx": "county_table",
        }, "county_table", None
    return None, None, None


def enrich(
    rows: DataFrame,
    cache: DataFrame | None,
    resolver: Resolver,
    *,
    nominatim: Resolver | None = None,
    min_interval_s: float = 0.0,
    retry_sleep: Callable[[float], None] = time.sleep,
) -> EnrichResult:
    """E5/E6: cache-accelerated strategy-waterfall enrichment.

    ``rows`` needs ``county``, ``org_name``, ``address`` columns (other
    columns pass through). Returns every input row with the nine GEO_COLS
    appended, plus the resolver-discovered cache entries for upsert.
    ``min_interval_s`` defaults to 0 for tests; production mirrors the
    reference's 1.2 s.

    The rows are collected once and every resolver call happens here, in
    the driver; both returned frames are Arrow-backed JVM frames over the
    results, so reading them again never calls a resolver.
    """
    spark = rows.sparkSession
    table = rows.toArrow()
    recs = table.select(["county", "org_name", "address"]).to_pylist()
    candidates = [build_query_candidates(r["address"] or "", r["org_name"] or "") for r in recs]
    hits = _probe_cache(spark, cache, recs, candidates) if cache is not None and any(candidates) else {}

    limiter = RateLimiter(min_interval_s=min_interval_s)

    def call(res: Resolver, q: str, prox):
        limiter.wait()
        return with_retry(lambda: res.resolve(q, prox), sleep=retry_sleep)

    geo_rows, new_entries = [], []
    for i, (rec, queries) in enumerate(zip(recs, candidates)):
        if i in hits:
            geo_rows.append({**hits[i], "note": None})
            continue
        geo, used, cache_q = _waterfall(rec, queries, call, resolver, nominatim)
        if geo is None:
            geo_rows.append({"usedQuery": queries[0] if queries else "", "note": "No result"})
            continue
        geo = {c: geo.get(c) for c in _CACHED_COLS}
        geo["components"] = geo["components"] or {}
        geo_rows.append({**geo, "usedQuery": used, "note": None})
        if cache_q is not None:
            new_entries.append({"query": cache_q, **geo})

    geo_table = pa.Table.from_pylist(geo_rows, schema=to_arrow_schema(GEO_COLUMNS))
    for f in geo_table.schema:
        table = table.append_column(f, geo_table.column(f.name))
    enriched = _jvm_frame(spark, table, StructType(rows.schema.fields + GEO_COLUMNS.fields))
    entries = pa.Table.from_pylist(new_entries, schema=to_arrow_schema(CACHE_SCHEMA))
    return EnrichResult(enriched=enriched, new_cache_entries=_jvm_frame(spark, entries, CACHE_SCHEMA))


def ensure_cache_schema(cache: DataFrame) -> DataFrame:
    """Coerce a cache frame (e.g. schema-inferred from the reference's
    JSON file) to CACHE_SCHEMA column set and types."""
    df = ensure_geo_cols(cache)
    return df.select(F.col("query").cast("string"), *_CACHED_COLS)


def upsert_cache(cache: DataFrame, new_entries: DataFrame) -> DataFrame:
    """K4 reimagined: keyed last-write-wins merge (new entries beat old)
    instead of the reference's whole-file rewrite per row. Idempotent under
    re-execution — the natural Delta MERGE shape on a real deployment.

    The keep-first-per-key operator of the clinic merge
    (ops/merge.keyed_merge) with the new entries as the primary source and
    ``query`` as the key. The order column is the key itself, so only the
    source orders a query's entries: entries of one source that share a
    query tie, and the engine keeps one of them whole. A null ``query`` can
    never be probed, so keyed_merge drops such entries."""
    return keyed_merge(
        ensure_cache_schema(new_entries), ensure_cache_schema(cache),
        F.col("query"), max_cols=[], or_cols=[], order_col="query",
    ).drop("__src")
