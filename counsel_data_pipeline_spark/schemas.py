"""Declared StructTypes (SURVEY §1, FIXTURES §1).

The reference declares its output schema in JSON Schema draft-07
(reference schema.clinic.json:17-51); here the same contracts are Spark
StructTypes, used for empty-input frames, landing-zone reads, and
schema-on-write validation.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Raw upstream datagrid row (FIXTURES §1.1; observed src/out/*_raw.json).
# Count fields are long-or-string upstream; kept permissive as strings is
# wrong for inferred numeric JSON, so declare long and let the lenient cast
# handle stragglers at clean time.
RAW_GRID_ROW = StructType(
    [
        StructField("countyName", StringType()),
        StructField("orgName", StringType()),
        StructField("phone", StringType()),
        StructField("address", StringType()),
        StructField("payDetail", StringType()),
        StructField("thisWeekRange", StringType()),
        StructField("thisWeekCount", LongType()),
        StructField("nextWeekRange", StringType()),
        StructField("nextWeekCount", LongType()),
        StructField("next2WeekRange", StringType()),
        StructField("next2WeekCount", LongType()),
        StructField("next3WeekRange", StringType()),
        StructField("next3WeekCount", LongType()),
        StructField("in4WeekTotleCount", LongType()),  # upstream typo preserved
        StructField("editDate", StringType()),
        StructField("strTeleconsultation", StringType()),
        StructField("ingest_order", LongType(), nullable=False),
    ]
)

# Clean clinic row (FIXTURES §1.2; reference schema.clinic.json:17-51).
CLINIC = StructType(
    [
        StructField("county", StringType(), nullable=False),
        StructField("org_name", StringType()),
        StructField("org_url", StringType()),
        StructField("phone", StringType()),
        StructField("address", StringType(), nullable=False),
        StructField("map_url", StringType()),
        StructField("pay_detail", StringType()),
        StructField("this_week", IntegerType()),
        StructField("next_week", IntegerType()),
        StructField("next_2_week", IntegerType()),
        StructField("next_3_week", IntegerType()),
        StructField("in_4_weeks", IntegerType(), nullable=False),
        StructField("edit_date", StringType()),
        StructField("teleconsultation", BooleanType()),
        StructField("has_quota", BooleanType(), nullable=False),
    ]
)

# Geocode enrichment columns (FIXTURES §1.3; appended at src/geocode.js:528).
# The one declaration of the geo contract: the snapshot diff, enrichment,
# the geocode cache and the published rows all derive their geo names and
# types from it.
GEO_COLUMNS = StructType(
    [
        StructField("lat", DoubleType()),
        StructField("lng", DoubleType()),
        StructField("confidence", LongType()),
        StructField("formatted", StringType()),
        StructField("components", MapType(StringType(), StringType())),
        StructField("source", StringType()),
        StructField("approx", StringType()),
        StructField("usedQuery", StringType()),
        StructField("note", StringType()),
    ]
)

CLINIC_GEOCODED = StructType(CLINIC.fields + GEO_COLUMNS.fields)
