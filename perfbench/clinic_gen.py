"""Seeded clinic landing zone for the ``clinic_daily`` workload.

Writes what one daily run of the reference pipeline starts from:

* one yes-grid and one no-grid raw file per county (``NN_名_yes_raw.json``
  / ``NN_名_no_raw.json``), in the upstream datagrid row shape;
* the previously published snapshot (a wrapper of geocoded rows, lat/lng
  set), written directly rather than produced by the pipeline;
* the geocode cache (``query -> geo``), also written directly.

The raw rows exercise what the cleaner and the first-wins dedup must
handle: HTML anchors (plain and ``\\u003c``-escaped), the ``無`` href
sentinel, ``&amp;`` entities, count fields given as numbers, numeric
strings, ``null`` and ``''``, duplicate rows on a later page, and quota
clinics that also appear in the no grid with zero counts.

Against the snapshot, most clinics are unchanged (same phone digits, maybe
formatted differently, or no phone and the same site domain). A few are
*changed* (new phone and new site URL, same address, so the diff misses
them but the cache has their address), a few are *new* (nothing cached),
and a few have a snapshot row without coordinates (the diff must not carry
them). The generator returns the values the output checks need.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

COUNTIES = (
    "臺北市", "新北市", "桃園市", "臺中市", "臺南市", "高雄市", "基隆市", "新竹市",
    "嘉義市", "新竹縣", "苗栗縣", "彰化縣", "南投縣", "雲林縣", "嘉義縣", "屏東縣",
    "宜蘭縣", "花蓮縣", "臺東縣", "澎湖縣", "金門縣", "連江縣",
)
_DISTRICTS = ("中正區", "大同區", "中山區", "信義區", "東區", "西區", "南區", "北區", "文山區", "仁愛區")
_ROADS = ("中山路", "中正路", "民生路", "民權路", "復興南路", "忠孝東路", "羅斯福路", "建國路", "光復路", "自由街")
_SECTIONS = ("", "一段", "二段", "三段")
_PREFIXES = ("安心", "晴天", "心晴", "向陽", "悅心", "思源", "明心", "寧靜", "康寧", "心之谷")
_SUFFIXES = ("心理諮商所", "心理治療所", "身心診所", "諮商中心", "身心&amp;諮商所")
_PAY = ("自費1600元", "自費2000元", "公費方案", "無")


@dataclass
class ClinicInputs:
    county_files: list[tuple[str, str, str]]  # (county, yes_path, no_path), loop order
    prev_path: str
    cache_path: str
    n_clinics: int            # distinct clinics today == rows published
    change_count: int         # rows the snapshot diff must send to enrichment
    cached_delta: int         # of those, rows whose address is in the cache
    n_raw_rows: int


def _counts(rng: random.Random, quota: bool) -> tuple[list[int], int]:
    if not quota:
        return [0, 0, 0, 0], 0
    weeks = [rng.randint(0, 6) for _ in range(4)]
    if sum(weeks) == 0:
        weeks[rng.randrange(4)] = rng.randint(1, 6)
    return weeks, sum(weeks)


def _encode_count(rng: random.Random, v: int):
    """Upstream count fields arrive as numbers, numeric strings, null or ''."""
    r = rng.random()
    if v == 0:
        return None if r < 0.4 else "" if r < 0.7 else 0 if r < 0.9 else "0"
    return v if r < 0.7 else str(v)


def _anchor(rng: random.Random, href: str, text: str) -> str:
    if rng.random() < 0.2:  # escaped markup, as some upstream pages serve it
        return f"\\u003ca href='{href}' target='_blank'\\u003e{text}\\u003c/a\\u003e"
    return f"<a href='{href}' target='_blank'>{text}</a>"


def _format_phone(rng: random.Random, digits: str) -> str:
    area, rest = digits[:2], digits[2:]
    style = rng.randrange(3)
    if style == 0:
        return f"{area}-{rest[:4]}-{rest[4:]}"
    if style == 1:
        return f"({area}){rest}"
    return f"{area} {rest}"


def _raw_row(rng: random.Random, c: dict, quota_view: bool) -> dict:
    weeks, total = _counts(rng, quota_view)
    if c["org_href"] is None:
        org = c["name"]
    else:
        org = _anchor(rng, c["org_href"], c["name"])
    if c["map_url"] is None:
        addr = c["address"]
    else:
        addr = _anchor(rng, c["map_url"].replace("&", "&amp;"), c["address"])
    return {
        "countyName": c["county"],
        "orgName": org,
        "phone": _format_phone(rng, c["phone"]) if c["phone"] else "",
        "address": addr,
        "payDetail": c["pay"],
        "thisWeekRange": "10/12~10/18" if quota_view else None,
        "thisWeekCount": _encode_count(rng, weeks[0]),
        "nextWeekRange": "10/19~10/25" if quota_view else None,
        "nextWeekCount": _encode_count(rng, weeks[1]),
        "next2WeekRange": None,
        "next2WeekCount": _encode_count(rng, weeks[2]),
        "next3WeekRange": None,
        "next3WeekCount": _encode_count(rng, weeks[3]),
        "in4WeekTotleCount": _encode_count(rng, total),
        "editDate": c["edit_date"],
        "strTeleconsultation": c["tele"],
    }


def _geo(rng: random.Random, county: str, query: str) -> dict:
    return {
        "lat": round(rng.uniform(21.9, 25.3), 7),
        "lng": round(rng.uniform(119.9, 122.0), 7),
        "confidence": rng.randint(7, 10),
        "formatted": query,
        "components": {"county": county},
        "source": "opencage",
        "approx": None,
    }


CHANGED_SHARE = NEW_SHARE = 0.01  # with the no-coordinates share, ~2.5 % of clinics
NOGEO_SHARE = 0.005


def generate(out_dir: str, seed: int, n_counties: int, clinics_per_county: float) -> ClinicInputs:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    phones = rng.sample(range(20_000_000, 89_999_999), 4000)
    next_phone = iter(f"0{p}" for p in phones)

    clinics: list[dict] = []   # today's distinct clinics, county loop order
    prev_rows: list[dict] = []
    cache: dict[str, dict] = {}
    county_files = []
    n_raw = 0
    change_count = cached_delta = 0

    for ci, county in enumerate(COUNTIES[:n_counties]):
        n = max(4, round(clinics_per_county * rng.uniform(0.9, 1.1)))
        today = []
        for k in range(n):
            district = rng.choice(_DISTRICTS)
            road = rng.choice(_ROADS) + rng.choice(_SECTIONS)
            lane = f"{rng.randint(1, 300)}巷" if rng.random() < 0.2 else ""
            house = f"{rng.randint(1, 400)}號"
            address = f"{county}{district}{road}{lane}{house}"
            if rng.random() < 0.2:
                address += f"{rng.randint(2, 12)}樓"
            cache_key = address[: address.index("號") + 1]
            slug = f"c{ci:02d}{k:03d}s{seed % 997}"
            r = rng.random()
            # The first two clinics are always changed and new, so every
            # seed publishes and exercises both cache hits and misses.
            kind = (
                "changed" if (ci, k) == (0, 0) or r < CHANGED_SHARE
                else "new" if (ci, k) == (0, 1) or r < CHANGED_SHARE + NEW_SHARE
                else "nogeo" if r < CHANGED_SHARE + NEW_SHARE + NOGEO_SHARE
                else "same"
            )
            # Unchanged clinics may publish no site (plain name or the 無
            # sentinel) because their phone carries the match; a clinic
            # without a phone must keep its site so the domain matches.
            site_style = rng.random()
            no_phone = kind == "same" and rng.random() < 0.03
            if kind == "same" and not no_phone and site_style < 0.15:
                org_href = None if site_style < 0.07 else "無"
            else:
                org_href = f"https://www.{slug}.com.tw/" if site_style < 0.6 else f"http://{slug}.org.tw/about"
            c = {
                "county": county,
                "name": f"{rng.choice(_PREFIXES)}{rng.choice(_SUFFIXES)}{k + 1}",
                "address": address,
                "phone": "" if no_phone else next(next_phone),
                "org_href": org_href,
                "map_url": None if rng.random() < 0.1 else (
                    f"https://www.google.com/maps/search/?api=1&query={address}"
                ),
                "pay": rng.choice(_PAY),
                "edit_date": "尚未更新" if rng.random() < 0.1 else f"2026/10/{rng.randint(1, 15):02d}",
                "tele": rng.choice(("是", "否")),
                "quota": rng.random() < 0.45,
            }
            today.append(c)
            clean_url = None if org_href in (None, "無") else org_href
            old_phone, old_url = c["phone"], clean_url
            if kind == "changed":  # new phone AND new site: misses both diff keys
                old_phone, old_url = next(next_phone), f"https://www.{slug}-old.com.tw/"
            if kind != "new":
                geo = _geo(rng, county, cache_key)
                if kind == "nogeo":
                    geo.update(lat=None, lng=None)
                prev_rows.append({
                    "county": county, "org_name": c["name"].replace("&amp;", "&"),
                    "org_url": old_url,
                    "phone": _format_phone(rng, old_phone) if old_phone else "",
                    "address": address, "map_url": c["map_url"],
                    "in_4_weeks": 0, "has_quota": False,
                    **geo,
                    "usedQuery": cache_key, "note": "No result" if kind == "nogeo" else None,
                })
                cache[cache_key] = _geo(rng, county, cache_key)
            if kind != "same":
                change_count += 1
                cached_delta += kind != "new"
        clinics.extend(today)

        # Raw grids: quota clinics in yes (some also in no with zero counts),
        # the rest in no; a few rows repeated on a later page.
        yes = [_raw_row(rng, c, True) for c in today if c["quota"]]
        no = [_raw_row(rng, c, False) for c in today if not c["quota"] or rng.random() < 0.1]
        for grid in (yes, no):
            for row in rng.sample(grid, k=len(grid) // 25):
                dup = dict(row)
                dup["editDate"] = "尚未更新"
                grid.append(dup)
        n_raw += len(yes) + len(no)
        tag = f"{ci + 1:02d}_{county}"
        paths = []
        for name, grid in (("yes", yes), ("no", no)):
            p = os.path.join(out_dir, f"{tag}_{name}_raw.json")
            doc = {"county": county, "total": len(grid), "rows": grid} if rng.random() < 0.5 else grid
            with open(p, "w", encoding="utf-8") as f:
                json.dump(doc, f, ensure_ascii=False, indent=2)
            paths.append(p)
        county_files.append((county, paths[0], paths[1]))

    # Clinics that closed since the snapshot: present in prev only.
    for i in range(max(1, len(clinics) // 50)):
        county = rng.choice(COUNTIES[:n_counties])
        prev_rows.append({
            "county": county, "org_name": f"歇業診所{i}", "org_url": None,
            "phone": next(next_phone), "address": f"{county}北區中山路{i + 1}號",
            "map_url": None, "in_4_weeks": 0, "has_quota": False,
            **_geo(rng, county, county), "usedQuery": county, "note": None,
        })
    rng.shuffle(prev_rows)

    prev_path = os.path.join(out_dir, "prev_clinics.json")
    with open(prev_path, "w", encoding="utf-8") as f:
        json.dump({"county": "全台灣", "total": len(prev_rows), "rows": prev_rows}, f, ensure_ascii=False)
    cache_path = os.path.join(out_dir, "geocode-cache.json")
    with open(cache_path, "w", encoding="utf-8") as f:
        json.dump(cache, f, ensure_ascii=False)

    return ClinicInputs(
        county_files=county_files,
        prev_path=prev_path,
        cache_path=cache_path,
        n_clinics=len(clinics),
        change_count=change_count,
        cached_delta=cached_delta,
        n_raw_rows=n_raw,
    )

