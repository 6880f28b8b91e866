"""Incremental snapshot diff / carry-forward (SURVEY §2.5 J1/J2/J5/J6,
§2.10 T1–T3).

Reference semantics (src/geocode-diff-merge.js:66-95,141-156):

  Split phase (J1 + J5/J6):
    phone_key  = digits-only phone           (:16-18, F21)
    domain_key = host(org_url) || host(map_url), minus 'www.'  (:19-21, F22)
    For each clean row:
      - if phone_key != '' AND prev has ANY row with that phone_key:
          match = first prev row (snapshot order) in that phone bucket
                  with lat AND lng non-null — or NO MATCH if none qualify.
          The domain fallback is NOT consulted in this case ("else if"!).
      - else if domain_key != '' AND prev has ANY row with that domain_key:
          match = first such prev row with non-null coords, else no match.
      - match → carried row {**clean_row, **pickGeo(match)}; else → needGeo.

  Recombine phase (J2/U3, after enrichment of needGeo):
    key3 = phone_key + '|' + domain_key
    per clean row (clean order): first carried row with equal key3, else
    the LAST newly-geocoded row with that key3 (JS Map ctor keeps last
    duplicate), else the row with lat/lng null.

  T6 quirk (kept deliberately): a matched row inherits OLD coordinates
  even if its address changed — carry-forward wins.

Spark shape: the split is two broadcast-or-shuffled left joins against
per-key "first-good-row" aggregates of the snapshot; the anti/semi split
falls out of one join + a null filter instead of two passes over prev. At
100 TB the snapshot aggregates shrink to one row per key before the join,
so the join build side is bounded by key cardinality, not snapshot size.
The split computes ``__k3`` once and both halves keep it, so recombine is
one aggregate per key3 over carried ∪ newly, joined back onto that union.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import GEO_COLUMNS

GEO_COLS = GEO_COLUMNS.fieldNames()


def normalize_phone(c: Column) -> Column:
    """F21: digits only; null → '' (JS String(s || ''))."""
    return F.regexp_replace(F.coalesce(c, F.lit("")), "[^0-9]", "")


def domain_of(c: Column) -> Column:
    """F22: URL hostname minus leading 'www.'; '' on null/unparseable.

    ``parse_url(..., 'HOST')`` mirrors JS ``new URL(url).hostname`` for
    scheme-ful URLs and yields null (→ '') for garbage, like the JS catch.
    """
    # WHATWG URL (the JS parser) percent-escapes spaces in paths; Spark's
    # parser rejects them outright — pre-escape to match JS leniency, and
    # try_parse_url → NULL reproduces the JS catch{return ''} for the rest.
    escaped = F.regexp_replace(F.coalesce(c, F.lit("")), " ", "%20")
    host = F.try_parse_url(escaped, F.lit("HOST"))
    return F.regexp_replace(F.coalesce(host, F.lit("")), r"^www\.", "")


def ensure_geo_cols(df: DataFrame) -> DataFrame:
    """Normalize the geo enrichment columns: add any that are missing as
    typed nulls and coerce ``components`` (struct when schema-inferred from
    JSON, map in the declared schema) to map<string,string> so frames from
    different sources union/compare cleanly."""
    dtypes = dict(df.dtypes)
    geo = {}
    for f in GEO_COLUMNS:
        name, typ = f.name, f.dataType
        if name not in dtypes:
            geo[name] = F.lit(None).cast(typ)
        elif name == "components" and not dtypes[name].startswith("map"):
            geo[name] = F.from_json(F.to_json(F.col(name)), typ)
        elif dtypes[name] != typ.simpleString():
            geo[name] = F.col(name).cast(typ)
    return df.withColumns(geo) if geo else df


def with_diff_keys(df: DataFrame) -> DataFrame:
    """Adds ``__phone_k``, ``__domain_k`` and the recombine key ``__k3`` =
    phone_key + '|' + domain_key."""
    org_url = F.col("org_url") if "org_url" in df.columns else F.lit(None).cast("string")
    map_url = F.col("map_url") if "map_url" in df.columns else F.lit(None).cast("string")
    dom = domain_of(org_url)
    keys = {
        "__phone_k": normalize_phone(F.col("phone")),
        "__domain_k": F.when(dom != "", dom).otherwise(domain_of(map_url)),
    }
    keys["__k3"] = F.concat(keys["__phone_k"], F.lit("|"), keys["__domain_k"])
    return df.withColumns(keys)


def _bucket_stats(prev: DataFrame, tag: str, order_col: str) -> DataFrame:
    """Per ``__{tag}_k`` key: does the bucket exist at all, and the first
    (snapshot-order) row with non-null lat+lng — reference's
    ``.find(x => x.lat != null && x.lng != null)`` over the bucket.
    Columns ``__{tag}_key``, ``__{tag}_exists`` and ``__{tag}_good``."""
    key = f"__{tag}_k"
    good = F.col("lat").isNotNull() & F.col("lng").isNotNull()
    geo_struct = F.struct(*GEO_COLS)
    return (
        prev.filter(F.col(key) != "")
        .groupBy(key)
        .agg(
            # min_by skips rows whose ordering expr is null → first
            # coordinate-bearing row in snapshot order, or null if none.
            F.min_by(
                F.when(good, geo_struct), F.when(good, F.col(order_col))
            ).alias("__first_good"),
        )
        .select(
            F.col(key).alias(f"__{tag}_key"),
            F.lit(True).alias(f"__{tag}_exists"),
            F.col("__first_good").alias(f"__{tag}_good"),
        )
    )


def match_snapshot(
    clean: DataFrame, prev: DataFrame, prev_order: str = "prev_order"
) -> DataFrame:
    """J1/J5/J6: ``clean``'s columns plus the recombine key ``__k3`` and
    ``__match``, the GEO_COLS struct a clean row inherits from the snapshot
    (null when it must be enriched). :func:`split_matched` turns it into
    (carried, need_geo)."""
    clean_k = with_diff_keys(clean)
    prev_k = with_diff_keys(ensure_geo_cols(prev))

    phone_stats = _bucket_stats(prev_k, "phone", prev_order)
    dom_stats = _bucket_stats(prev_k, "domain", prev_order)

    j = clean_k.join(
        F.broadcast(phone_stats), F.col("__phone_k") == F.col("__phone_key"), "left"
    ).join(F.broadcast(dom_stats), F.col("__domain_k") == F.col("__domain_key"), "left")
    # Priority: a non-empty phone bucket CLAIMS the row (even when it has no
    # coordinate-bearing entry); only phone-bucket-absent rows may use domain.
    phone_claims = (F.col("__phone_k") != "") & F.col("__phone_exists").isNotNull()
    domain_claims = (
        ~phone_claims
        & (F.col("__domain_k") != "")
        & F.col("__domain_exists").isNotNull()
    )
    match = F.when(phone_claims, F.col("__phone_good")).when(
        domain_claims, F.col("__domain_good")
    )
    return j.select(*clean.columns, "__k3", match.alias("__match"))


def split_matched(matched: DataFrame) -> tuple[DataFrame, DataFrame]:
    """T1: (carried, need_geo) as two filters over one
    :func:`match_snapshot` frame. ``carried`` = clean columns + ``__k3`` +
    inherited GEO_COLS; ``need_geo`` = clean columns + ``__k3``."""
    clean_cols = [c for c in matched.columns if c != "__match"]
    carried = matched.filter(F.col("__match").isNotNull()).select(*clean_cols, "__match.*")
    need_geo = matched.filter(F.col("__match").isNull()).select(*clean_cols)
    return carried, need_geo


def snapshot_split(
    clean: DataFrame, prev: DataFrame, prev_order: str = "prev_order"
) -> tuple[DataFrame, DataFrame]:
    """J1/J5/J6 + T1: returns (carried, need_geo).

    ``carried`` = clean columns + ``__k3`` + inherited GEO_COLS;
    ``need_geo`` = clean columns + ``__k3``. Both retain ``clean``'s
    ingest_order column if present.
    """
    return split_matched(match_snapshot(clean, prev, prev_order))


def recombine(carried: DataFrame, newly: DataFrame) -> DataFrame:
    """J2/U3: final assembly of ``carried`` ∪ ``newly`` (``newly`` = the
    enriched ``need_geo``). Both carry the ``__k3`` the split computed.

    Per key3, the carried lookup keeps the FIRST carried row and the newly
    lookup keeps the LAST newly-geocoded row (JS Map ctor), both by
    ``ingest_order``, the clean order.
    On a carried hit the reference pushes the ENTIRE carried row —
    including its descriptive fields, not the current clean row's
    (geocode-diff-merge.js:148-149 ``finalRows.push(carried)``), so a
    clean row whose key3 matches a carried row is replaced wholesale. On
    a newly hit only the geo columns come from the lookup
    (``{...r, ...pickGeo(n)}``, :152); with neither, the geo is null.

    Both lookups are one ``groupBy("__k3")`` over the union, broadcast
    back onto it. The union stands in for the clean batch because:

    * it holds every clean row exactly once: the split partitions the
      clean rows, and ``enrich`` returns one row per input row;
    * rows with equal ``__k3`` share one carried/need status: ``__k3`` is
      phone_key + '|' + domain_key and phone keys are digits only, so the
      key determines both keys and with them the snapshot match. A key3
      group is all carried or all newly.
    """
    cols = [c for c in carried.columns if c != "__k3" and c not in GEO_COLS]
    rows = carried.withColumn("__carried", F.lit(True)).unionByName(
        ensure_geo_cols(newly).withColumn("__carried", F.lit(False))
    )
    is_carried, order = F.col("__carried"), F.col("ingest_order")
    by_key = rows.groupBy("__k3").agg(
        # min_by/max_by skip null orderings: each sees only its own side
        F.min_by(F.struct(*cols, *GEO_COLS), F.when(is_carried, order)).alias("__cg"),
        F.max_by(F.struct(*GEO_COLS), F.when(~is_carried, order)).alias("__ng"),
    )
    row = F.when(F.col("__cg").isNotNull(), F.col("__cg")).otherwise(
        F.struct(*cols, *[f"__ng.{c}" for c in GEO_COLS])
    )
    return (
        rows.join(F.broadcast(by_key), "__k3", "left")
        .select(row.alias("__row"))
        .select("__row.*")
    )
