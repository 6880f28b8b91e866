"""Taiwanese-address normalization & geocode-candidate generation
(SURVEY §2.8 F1–F20, F24–F25).

Reimplements the reference's candidate-builder semantics
(reference src/geocode.js:102-295,397-425) as pure Python string
functions: deterministic, order-preserving (candidate priority = JS Set
insertion order — the waterfall tries candidates in this order, so order
is part of the contract), dependency-free, testable without Spark.

Spark integration: the F18/F19 fan-out runs in the driver. ``ops.enrich``
collects the delta and builds each row's candidate list here, in priority
order, and the cache probe joins the candidates as a broadcast frame with
their rank (SURVEY §2.12). The simple scalar functions (normalize, region
parse) also exist as Column expressions where plans need them JVM-side.

Golden validation: tests assert the generated candidate lists contain the
``usedQuery`` recorded per row in the reference's committed geocoded
outputs (src/utils/clinics_wrapped_geocoded.json).
"""

from __future__ import annotations

import re
from urllib.parse import quote

# ---------------------------------------------------------------------------
# F16/F17 — Chinese numerals
# ---------------------------------------------------------------------------

_ZH_DIGIT = {
    "零": 0, "〇": 0, "一": 1, "二": 2, "兩": 2, "三": 3, "四": 4,
    "五": 5, "六": 6, "七": 7, "八": 8, "九": 9,
}
_ZH_TENS_RE = re.compile(r"^([一二兩三四五六七八九])?十([一二三四五六七八九])?$")
_ZH_SINGLE_RE = re.compile(r"^[零〇一二兩三四五六七八九]$")
_ORDINAL_RE = re.compile(r"([零〇一二兩三四五六七八九十]{1,3})(?=(街|巷|弄))")


def parse_zh_1_99(s: str) -> int | None:
    """F16: Chinese numerals 一..九十九 → int (十 = 10, 二十三 = 23)."""
    s = (s or "").strip()
    if not s:
        return None
    if s == "十":
        return 10
    m = _ZH_TENS_RE.match(s)
    if m:
        tens = _ZH_DIGIT[m.group(1)] if m.group(1) else 1
        ones = _ZH_DIGIT[m.group(2)] if m.group(2) else 0
        return tens * 10 + ones
    if _ZH_SINGLE_RE.match(s):
        return _ZH_DIGIT[s]
    return None


def street_ordinal_arabic_variants(s: str) -> list[str]:
    """F17: Chinese-numeral street/lane/alley ordinals → Arabic digits;
    original kept first."""
    out = dict.fromkeys([s])

    def repl(m: re.Match) -> str:
        n = parse_zh_1_99(m.group(1))
        return str(n) if n is not None else m.group(1)

    replaced = _ORDINAL_RE.sub(repl, s)
    if replaced != s:
        out[replaced] = None
    return list(out)


# ---------------------------------------------------------------------------
# F1–F15 — string normalizers
# ---------------------------------------------------------------------------


def normalize_tw_address(addr: str) -> str:
    """F1: strip leading 3–5 digit postal code, all whitespace, the country
    name (both spellings), and 'RepublicofChina'."""
    s = str(addr or "")
    s = re.sub(r"^\s*\d{3,5}(?:[-\s])?", "", s)
    s = re.sub(r"\s+", "", s)
    s = re.sub(r"台灣|臺灣", "", s)
    s = re.sub(r"RepublicofChina", "", s, flags=re.IGNORECASE)
    return s


def tai_variants(s: str) -> list[str]:
    """F2: both 臺/台 spellings, deduped, 臺-form first."""
    return list(dict.fromkeys([s.replace("台", "臺"), s.replace("臺", "台")]))


_FLOOR_RE = re.compile(
    r"(地下\d*|地下一|B\d+|[一二三四五六七八九十\d]+樓(?:之\d+)?|之\d+室|室\d+).*"
)


def trim_to_house_no(s: str) -> str:
    """F3: drop parenthesized text and floor/room suffixes; truncate right
    after the first 號."""
    x = re.sub(r"（.*?）|\(.*?\)", "", str(s or ""))
    x = _FLOOR_RE.sub("", x)
    i = x.find("號")
    return x[: i + 1] if i >= 0 else x


def drop_house_no(s: str) -> str:
    """F4: remove the N(-M)號… tail, keeping the street part."""
    return re.sub(r"\d+(?:-\d+)?號.*$", "", str(s or ""))


_SECTION_MAP = {"一": 1, "二": 2, "三": 3, "四": 4, "五": 5, "六": 6, "七": 7, "八": 8, "九": 9, "十": 10}


def section_arabic_variant(s: str) -> str:
    """F5: 一段→1段 … 十段→10段."""
    return re.sub(r"([一二三四五六七八九十])段", lambda m: f"{_SECTION_MAP[m.group(1)]}段", s)


def hyphen_number_variants(s: str) -> list[str]:
    """F6: 35-1號 → [35-1號, 35之1號, 35號]."""
    m = re.search(r"(\d+)-(\d+)號", s)
    if not m:
        return [s]
    a, b = m.group(1), m.group(2)
    v1 = re.sub(r"(\d+)-(\d+)號", f"{a}之{b}號", s, count=1)
    v2 = re.sub(r"(\d+)-(\d+)號", f"{a}號", s, count=1)
    return [s, v1, v2]


def alley_degrade_variants(s: str) -> list[str]:
    """F7: progressively drop 弄 then 巷 components; re-attach the house
    number if the combined removal lost it. Insertion order preserved —
    it is the retry priority."""
    out = dict.fromkeys([s])
    out[re.sub(r"弄\d+(?:-\d+)?號", "號", s, count=1)] = None
    out[re.sub(r"巷\d+(?:-\d+)?(?=(?:弄\d+(?:-\d+)?)?號)", "", s, count=1)] = None
    no_both = re.sub(r"弄\d+(?:-\d+)?", "", re.sub(r"巷\d+(?:-\d+)?", "", s))
    if "號" not in no_both:
        m = re.search(r"(\d+(?:-\d+)?)號", s)
        if m:
            no_both = no_both + m.group(0)
    out[no_both] = None
    return list(out)


def looks_like_address(s: str) -> bool:
    """F8: must contain a road word AND 號."""
    return bool(re.search(r"路|街|巷|弄|道|大道", s)) and "號" in s


def remove_neighborhood_li(s: str) -> str:
    """F9: delete a 里 neighborhood token when a road word follows before
    the house number."""
    return re.sub(r"[一-龥]{1,4}里(?=[^號]*?(路|街|巷|弄|道|大道))", "", str(s or ""))


def split_composite_segments(address: str) -> list[str]:
    """F10: strip parens; keep only the part before ;/；; normalize
    connective punctuation to 、; split."""
    s = re.sub(r"（.*?）|\(.*?\)", "", str(address or ""))
    s = re.split(r"[;；]", s)[0]
    s = remove_neighborhood_li(s)
    s = re.sub(r"[，,。.]", "、", s)
    s = re.sub(r"及|和|與", "、", s)
    return [x.strip() for x in s.split("、") if x.strip()]


_REGION_RE = re.compile(r"^([一-龥]{2,3}[縣市])([一-龥]{1,3}[區鄉鎮市])?")


def parse_region_parts(full: str) -> tuple[str, str]:
    """F11: leading (county, district) prefix, '' when absent."""
    m = _REGION_RE.match(str(full or ""))
    if not m:
        return "", ""
    return m.group(1), m.group(2) or ""


def has_region_info(seg: str) -> bool:
    """F12."""
    return bool(re.search(r"[縣市].*[區鄉鎮市]", seg)) or bool(
        re.search(r"[一-龥]{2,3}[縣市]", seg)
    )


def clamp_query(q: str, max_bytes: int = 512, fallback_chars: int = 120) -> str:
    """F13: cap at 512 URL-encoded bytes, else truncate to 120 chars."""
    return q if len(quote(q)) <= max_bytes else q[:fallback_chars]


_ROAD_ONLY_RE = re.compile(
    r"^(.+?(?:大道|道|路|街))(?:((?:\d+)段))?(?:\d+(?:-\d+)?巷)?(?:\d+(?:-\d+)?弄)?(\d+(?:-\d+)?)號$"
)


def road_only_variant(s: str) -> str | None:
    """F14: collapse to road(+Arabic section)+house-number, dropping
    lane/alley; None when the shape doesn't match."""
    t = section_arabic_variant(s)
    m = _ROAD_ONLY_RE.match(t)
    if not m:
        return None
    road, sec, no = m.group(1), m.group(2) or "", m.group(3)
    return f"{road}{sec}{no}號"


_ROAD_TOKEN_RE = re.compile(r"([^\d、，；;（）()\s]+?(?:大道|道|路|街))")


def extract_last_road_token(s: str) -> list[str] | None:
    """F15: the last road token, in both 臺/台 forms."""
    all_m = _ROAD_TOKEN_RE.findall(str(s or ""))
    if not all_m:
        return None
    token = all_m[-1]
    m = re.search(r"([^\d、，；;（）()\s]+?(?:大道|道|路|街))$", token)
    if m:
        token = m.group(1)
    return list(dict.fromkeys([token.replace("台", "臺"), token.replace("臺", "台")]))


# ---------------------------------------------------------------------------
# F18/F19/F20 — candidate builders (priority-ordered)
# ---------------------------------------------------------------------------


def build_single_segment_variants(seg: str, org_name: str, full_address: str) -> list[str]:
    """F18: the cartesian fan-out — region prefixing × section arabization ×
    ordinal arabization × hyphen variants × alley degradation × road-only
    collapse × org-name prefixing × 臺/台 forms, filtered by
    looks_like_address and clamped. Order = try order."""
    county, district = parse_region_parts(full_address)
    seg_with_region = (
        seg if has_region_info(seg) else (county + district + seg if (county or district) else seg)
    )
    base0 = trim_to_house_no(seg_with_region)

    bases: dict[str, None] = {}
    for b1 in [b for b in (base0, section_arabic_variant(base0)) if b]:
        for b2 in street_ordinal_arabic_variants(b1):
            bases[b2] = None

    candidates: dict[str, None] = {}
    for b in bases:
        for h in hyphen_number_variants(b):
            for a in alley_degrade_variants(h):
                candidates[a] = None
                if org_name:
                    candidates[org_name + a] = None
                ro = road_only_variant(a)
                if ro:
                    candidates[ro] = None
                    if org_name:
                        candidates[org_name + ro] = None
                    if county:
                        candidates[county + ro] = None
                        if org_name:
                            candidates[org_name + county + ro] = None
                    if district:
                        candidates[district + ro] = None
                        if org_name:
                            candidates[org_name + district + ro] = None
                    if county or district:
                        candidates[county + district + ro] = None

    out: dict[str, None] = {}
    for c in candidates:
        for t in tai_variants(c):
            q = clamp_query(normalize_tw_address(t))
            if looks_like_address(q):
                out[q] = None
    return list(out)


def build_query_candidates(address: str, org_name: str) -> list[str]:
    """F19: per-segment variants, globally deduped, priority order kept."""
    out: dict[str, None] = {}
    for seg in split_composite_segments(address or ""):
        for c in build_single_segment_variants(seg, org_name or "", address or ""):
            out[c] = None
    return list(out)


def build_street_centroid_candidates(full_address: str, org_name: str) -> list[str]:
    """F20: road-token fallback candidates with admin/org prefixes,
    longest-first (most specific first)."""
    county, district = parse_region_parts(full_address)
    road_only_base = drop_house_no(trim_to_house_no(full_address)) or full_address
    road_tokens = extract_last_road_token(road_only_base)
    if not road_tokens:
        return []

    out: dict[str, None] = {}
    for road in road_tokens:
        if county or district:
            out[county + district + road] = None
        if county:
            out[county + road] = None
        if district:
            out[district + road] = None
        out[road] = None
        if org_name:
            if county or district:
                out[org_name + county + district + road] = None
            if county:
                out[org_name + county + road] = None
            if district:
                out[org_name + district + road] = None
            out[org_name + road] = None

    for v in tai_variants(road_only_base):
        vv = normalize_tw_address(v)
        if re.search(r"大道|道|路|街", vv):
            out[vv] = None

    return sorted((clamp_query(q) for q in out), key=len, reverse=True)


# ---------------------------------------------------------------------------
# F24/F25 — geocode-result validation
# ---------------------------------------------------------------------------


def get_expected_county(county: str | None, address: str | None) -> str:
    """F25: the row's county field, else parsed from the address."""
    if county and str(county).strip():
        return str(county).strip()
    return parse_region_parts(address or "")[0]


def county_matches(components: dict | None, formatted: str | None, expected_county: str) -> bool:
    """F24: the expected county (either 臺/台 spelling) must appear in any
    admin component or the formatted string; vacuously true if unknown."""
    if not expected_county:
        return True
    comp = components or {}
    text = "|".join(
        str(v)
        for v in (
            comp.get("city"), comp.get("town"), comp.get("village"),
            comp.get("county"), comp.get("state"), comp.get("region"),
            formatted,
        )
        if v
    )
    return (
        expected_county in text
        or expected_county.replace("臺", "台") in text
        or expected_county.replace("台", "臺") in text
    )
