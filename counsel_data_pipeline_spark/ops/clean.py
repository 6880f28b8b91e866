"""Projection / cleaning operators (SURVEY §2.3 P1–P8).

Re-expresses the reference's ``cleanRows`` (reference src/index.js:38-62)
as pure Column expressions — no Python UDFs, everything stays inside
whole-stage codegen: HTML-anchor extraction (P1, src/index.js:24-30),
entity unescape (P2, src/index.js:20-22), camelCase→snake_case projection
(P3), sentinel nulling (P4, href '無'), lenient JS-style int cast (P5,
src/index.js:17), boolean derivation (P6/P7), null-coalescing defaults (P8).

Semantics notes (JS quirks reproduced deliberately):
  - ``toInt``: JS ``Number(x)`` coerces null/''/garbage to 0 (not null).
  - ``parseAnchor``: unescape happens BEFORE the regex match, and the
    extracted href/text are unescaped AGAIN (double-unescape), matching the
    reference exactly.
  - href sentinel '無' ("none") → null for org_url / map_url.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import CLINIC

# Anchor pattern mirroring /<a[^>]*href=['"]([^'"]+)['"][^>]*>(.*?)<\/a>/i
_ANCHOR = r"(?i)<a[^>]*href=['\"]([^'\"]+)['\"][^>]*>(.*?)</a>"
_TAGS = r"<[^>]*>"


def unesc(c: Column) -> Column:
    """P2: literal '\\u003c'/'\\u003e'/'\\u0026' sequences and '&amp;' → chars
    (reference src/index.js:20-22)."""
    c = F.regexp_replace(c, r"\\u003c", "<")
    c = F.regexp_replace(c, r"\\u003e", ">")
    c = F.regexp_replace(c, r"\\u0026", "&")
    c = F.regexp_replace(c, r"&amp;", "&")
    return c


def _strip_tags(c: Column) -> Column:
    return F.regexp_replace(c, _TAGS, "")


def anchor_href(col: Column) -> Column:
    """P1 href branch: first capture of the anchor regex, re-unescaped;
    null when no anchor or empty input."""
    s = unesc(col)
    href = F.regexp_extract(s, _ANCHOR, 1)
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")).otherwise(
        F.when(href == "", F.lit(None).cast("string")).otherwise(unesc(href))
    )


def anchor_text(col: Column) -> Column:
    """P1 text branch: anchor body with residual tags stripped, else the
    whole string tag-stripped; null on empty input."""
    s = unesc(col)
    href = F.regexp_extract(s, _ANCHOR, 1)
    body = F.regexp_extract(s, _ANCHOR, 2)
    matched_text = unesc(_strip_tags(body))
    fallback_text = unesc(_strip_tags(s))
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")).otherwise(
        F.when(href == "", fallback_text).otherwise(matched_text)
    )


def js_to_int(c: Column) -> Column:
    """P5: JS ``Number.isFinite(Number(x)) ? Number(x) : 0`` — null/''/
    non-numeric/NaN/±Infinity → 0, numeric strings parsed. try_cast (not
    cast): under ANSI mode a malformed string must yield the 0 default,
    not an error. The explicit finite guard matters because Spark's double
    cast ACCEPTS the strings 'NaN'/'Infinity' which JS maps to 0.
    (Divergence: JS keeps fractions; counts are integral in practice, so
    we truncate to int. JS also parses '0x..' hex literals; Spark does
    not — no such values occur upstream.)"""
    d = F.coalesce(c.try_cast("double"), F.lit(0.0))
    finite = ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))
    return F.when(finite, d).otherwise(F.lit(0.0)).try_cast("int")


def null_if_none_sentinel(c: Column) -> Column:
    """P4: the upstream uses the string '無' as a no-value sentinel for hrefs."""
    return F.when(c == "無", F.lit(None).cast("string")).otherwise(c)


# The clean-row contract is declared once, as schemas.CLINIC.
CLEAN_COLUMNS = CLINIC.fieldNames()


def clean_rows(raw: DataFrame) -> DataFrame:
    """The full cleanRows projection: raw grid rows → clinic rows with
    exactly :data:`schemas.CLINIC`'s names and types, in order.

    Preserves the reader's ``ingest_order`` and ``file_index`` columns if
    present (required downstream by the order-sensitive dedup/merge
    operators).
    """
    org_href = anchor_href(F.col("orgName"))
    addr_href = anchor_href(F.col("address"))
    out = raw.select(
        *[c for c in ("ingest_order", "file_index") if c in raw.columns],
        F.col("countyName").alias("county"),
        anchor_text(F.col("orgName")).alias("org_name"),
        null_if_none_sentinel(org_href).alias("org_url"),
        F.col("phone").alias("phone"),
        anchor_text(F.col("address")).alias("address"),
        null_if_none_sentinel(addr_href).alias("map_url"),
        F.col("payDetail").alias("pay_detail"),
        js_to_int(F.col("thisWeekCount")).alias("this_week"),
        js_to_int(F.col("nextWeekCount")).alias("next_week"),
        js_to_int(F.col("next2WeekCount")).alias("next_2_week"),
        js_to_int(F.col("next3WeekCount")).alias("next_3_week"),
        js_to_int(F.col("in4WeekTotleCount")).alias("in_4_weeks"),  # upstream typo kept
        F.col("editDate").alias("edit_date"),
        (F.col("strTeleconsultation") == "是").alias("teleconsultation"),
    )
    return out.withColumn("has_quota", F.col("in_4_weeks") > 0)
