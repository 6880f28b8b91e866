"""Validation / quality operators (SURVEY §2.11 V1–V3).

The reference enforces correctness with three gates:

  V1 — ajv JSON-Schema validation of the published wrapper against
       schema.clinic.json (reference package.json:4; required clinic
       fields and non-negative count columns, schema.clinic.json:19-33).
  V2 — the ``total == rows.length`` envelope invariant, checkable and
       repairable (reference scripts/check-total.js:43-85), over several
       wrapper shapes (rows/data/clinics keys, meta.total variant).
  V3 — semantic geocode validation: ``countyMatches`` rejects
       cross-county results (reference src/geocode.js:306-314).

Spark shape: V1/V3 become the **quarantine pattern** — one boolean-array
column of named violations, a single pass, then a partition-local split
into (valid, quarantined). No driver-side loops; at 100 TB the check is a
narrow projection and the split two filters over the same tagged frame
(each read re-runs its input's plan; nothing is cached).
V2 is recomputed at sink time by construction (``wrapper_obj`` counts the
rows it wraps) and also exposed as a standalone checker for arbitrary
wrapper documents, mirroring the CLI tool.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.sources import extract_rows
from .enrich import county_matches_col, expected_county_col
from .merge import COUNT_COLS

# ---------------------------------------------------------------------------
# V1 — clinic-schema constraints → quarantine split
# ---------------------------------------------------------------------------

_REQUIRED = ["county", "org_name", "address", "in_4_weeks", "has_quota"]


def clinic_violations(df: DataFrame) -> dict[str, Column]:
    """Named violation predicates for the clean-clinic contract
    (schema.clinic.json:19-33). True = row violates."""
    out: dict[str, Column] = {}
    for c in _REQUIRED:
        if c in df.columns:
            out[f"required_{c}"] = F.col(c).isNull()
    for c in COUNT_COLS:
        if c in df.columns:
            out[f"negative_{c}"] = F.col(c) < 0
    if "has_quota" in df.columns and "in_4_weeks" in df.columns:
        # derived-column consistency (reference src/index.js:59)
        out["has_quota_inconsistent"] = (
            F.col("has_quota") != (F.col("in_4_weeks") > 0)
        )
    return out


@dataclass
class ValidationSplit:
    valid: DataFrame
    quarantined: DataFrame  # original columns + `violations` array<string>


def split_valid(df: DataFrame, checks: dict[str, Column] | None = None) -> ValidationSplit:
    """One-pass quarantine split: rows failing any named check carry the
    list of failed check names; clean rows pass through unchanged."""
    checks = checks if checks is not None else clinic_violations(df)
    if not checks:
        return ValidationSplit(df, df.limit(0).withColumn(
            "violations", F.array().cast("array<string>")
        ))
    viols = F.array_compact(
        F.array(*[
            F.when(pred, F.lit(name)) for name, pred in checks.items()
        ])
    )
    tagged = df.withColumn("violations", viols)
    valid = tagged.filter(F.size("violations") == 0).drop("violations")
    quarantined = tagged.filter(F.size("violations") > 0)
    return ValidationSplit(valid, quarantined)


# ---------------------------------------------------------------------------
# V2 — envelope total invariant (polymorphic, like scripts/check-total.js)
# ---------------------------------------------------------------------------


@dataclass
class TotalCheck:
    ok: bool
    expected: int | None  # declared total (None = no total field)
    actual: int           # len(rows)
    fixed: Any | None     # repaired document when fix=True and mismatch


def check_total(doc: Any, fix: bool = False) -> TotalCheck:
    """V2: total == rows.length, with the CLI tool's shape polymorphism
    (rows via io/sources.extract_rows, which raises ValueError on a document
    without a row list; top-level total or meta.total); ``fix`` returns a
    repaired copy."""
    actual = len(extract_rows(doc))

    expected: int | None = None
    loc: tuple[str, ...] | None = None
    if isinstance(doc, dict):
        if isinstance(doc.get("total"), int) and not isinstance(doc.get("total"), bool):
            expected, loc = doc["total"], ("total",)
        elif isinstance(doc.get("meta"), dict) and isinstance(doc["meta"].get("total"), int):
            expected, loc = doc["meta"]["total"], ("meta", "total")

    if expected is None:
        # no total declared: a warning case in the CLI; fix adds top-level
        fixed = None
        if fix and isinstance(doc, dict):
            fixed = {**doc, "total": actual}
        return TotalCheck(ok=True, expected=None, actual=actual, fixed=fixed)

    if expected == actual:
        return TotalCheck(ok=True, expected=expected, actual=actual, fixed=None)

    fixed = None
    if fix:
        fixed = dict(doc)
        if loc == ("total",):
            fixed["total"] = actual
        else:
            fixed["meta"] = {**doc["meta"], "total": actual}
    return TotalCheck(ok=False, expected=expected, actual=actual, fixed=fixed)


# ---------------------------------------------------------------------------
# V3 — geocode-result validation
# ---------------------------------------------------------------------------


def geocode_violations(df: DataFrame) -> dict[str, Column]:
    """Cross-county mis-geocode detector over enriched rows: a row with a
    real geocode (source set, not the centroid floor) whose components/
    formatted never mention the expected county."""
    expected = expected_county_col(F.col("county"), F.col("address"))
    real_geo = F.col("source").isNotNull() & (F.col("source") != "centroid")
    return {
        "county_mismatch": real_geo
        & ~county_matches_col(F.col("components"), F.col("formatted"), expected)
    }


def split_geocoded(df: DataFrame) -> ValidationSplit:
    return split_valid(df, geocode_violations(df))
