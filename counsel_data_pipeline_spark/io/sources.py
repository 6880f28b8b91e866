"""Sources.

Two families:
  1. The driver's TPC-H-ish parquet tables (``load_table``/``register_views``).
  2. The reference pipeline's polymorphic JSON reader (SURVEY §2.1 S4):
     the reference accepts ``{county,total,rows:[...]}`` wrappers, bare
     arrays, and ``data``/``clinics`` keyed variants
     (reference: src/geocode.js:88-99, scripts/check-total.js:29-41).

A source read costs no Spark job and no Python worker. ``load_table``
infers a table's parquet schema once (the inference is a Spark job) and
memoizes it per file identity and schema-conversion confs; later reads
declare it. ``read_clinic_json`` hands its rows to the JVM as one Arrow
batch, so scans of a clinic frame never pipe rows through a Python worker.

At 100 TB the parquet path is the real scan: keep reads schema-pruned
(select exactly the needed columns so ReadSchema stays narrow) and let
predicate pushdown reach the file scan — plans in this repo filter on the
raw column before any transformation for that reason.
"""

from __future__ import annotations

import json
import os
import stat
from collections.abc import Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    _make_type_verifier,
    _parse_datatype_string,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session confs that change how a parquet footer converts to a Spark schema.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
)

# (path, conf values) -> (file identity, inferred schema). One entry per path
# and conf set: a rewritten table replaces its entry instead of adding one.
_schema_memo: dict[tuple, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple | None:
    """(size, mtime_ns) of a file; for a directory, that of every file under
    it with its relative path. None when the path is not a local file."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns)
    listing = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            fst = os.stat(full)
            listing.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(listing)


def _parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per file
    identity. The identity is taken before inferring, so a table rewritten
    mid-inference is re-inferred on the next call; entries are stored whole,
    so concurrent callers at worst infer twice and need no lock."""
    identity = _file_identity(path)
    key = (os.path.abspath(path), tuple(spark.conf.get(c) for c in _PARQUET_SCHEMA_CONFS))
    hit = _schema_memo.get(key)
    if identity is not None and hit is not None and hit[0] == identity:
        return hit[1]
    schema = spark.read.parquet(path).schema
    if identity is not None:
        _schema_memo[key] = (identity, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Filters/projections applied by callers are pushed
    into this parquet scan by Catalyst — do not cache or materialize here.

    The schema is memoized (``_parquet_schema``), never the DataFrame: each
    call builds a fresh relation, so self-joins get distinct attribute IDs.

    ``events.ts`` is physically polymorphic across driver testdata
    generations — observed variants: TIMESTAMP(NANOS) (vanilla Spark
    rejects it, [PARQUET_TYPE_ILLEGAL]; read nanos-as-long and truncate to
    micros, matching µs-native DuckDB exactly), and timestamp[us] with no
    timezone (Spark reads TIMESTAMP_NTZ). This loader is the single
    normalization boundary: whatever the file carries, downstream plans
    always see ``ts`` as session-TZ TIMESTAMP. The session TZ is pinned to
    UTC (session.py), so NTZ→TIMESTAMP preserves the naive values and
    epoch arithmetic agrees with DuckDB's ``epoch()``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Set before the schema lookup: it keys the memo and the scan reads
        # nanos columns under it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_parquet_schema(spark, path)).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql plans."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Polymorphic clinic-domain JSON (reference S4)
# ---------------------------------------------------------------------------

_ROW_KEYS = ("rows", "data", "clinics")


def extract_rows(obj: Any, default_empty: bool = False) -> list[dict]:
    """Normalize the reference's polymorphic JSON shapes to a row list.

    Mirrors src/geocode.js:88-99 + scripts/check-total.js:29-41: accepts a
    bare array, or an object with the first present of rows/data/clinics.

    ``default_empty=True`` is the PREVIOUS-SNAPSHOT contract
    (geocode-diff-merge.js:63 ``Array.isArray(prevRaw?.rows) ? ... : []``):
    the object store's missing-object default ``'{}'`` reads as zero rows
    so a cold start makes everything delta. The strict default mirrors the
    CLEAN-input contract (geocode.js:97 exits on unrecognized shapes).
    """
    if isinstance(obj, list):
        return obj
    if isinstance(obj, dict):
        for key in _ROW_KEYS:
            val = obj.get(key)
            if isinstance(val, list):
                return val
        if default_empty:
            return []
    raise ValueError("unrecognized clinic JSON shape (not array / rows / data / clinics)")


def _jvm_frame(spark: SparkSession, table: pa.Table, schema: StructType | None = None) -> DataFrame:
    """A one-partition frame over ``table``: the Arrow batches are handed to
    the JVM, so no Python RDD (and no Python worker) backs the frame."""
    return spark.createDataFrame(table, schema=schema).coalesce(1)


def read_clinic_json(
    spark: SparkSession,
    path: str | Sequence[str],
    schema=None,
    default_empty: bool = False,
) -> DataFrame:
    """Read wrapper-or-array clinic JSON files into one DataFrame.

    These files are single-document JSON (the reference writes
    ``JSON.stringify(wrapper, null, 2)``), small by construction (one file
    per county / per run), so they are parsed in Python and the rows of
    every file reach the JVM as one Arrow batch. Without ``schema``, each
    row becomes a JSON line of a one-partition ``Dataset[String]`` that the
    JVM's ``DataFrameReader.json`` parses with permissive schema inference
    (the method ``spark.read.json(rdd)`` delegates to): one inference job
    for all the files. With ``schema`` (a StructType or DDL string), rows
    are checked by the type verifier ``createDataFrame`` applies to local
    rows and keep its typing. Landing-zone data at scale should instead be
    written as JSONL/parquet and read with spark.read with a declared
    schema.

    An ``ingest_order`` column is attached, counted within each file — the
    reference's dedup/merge semantics are insertion-order-sensitive
    (SURVEY §2.4 A1/A2) and Spark DataFrames are unordered, so arrival
    order must be an explicit column. Given a list of paths, each row also
    carries ``file_index``, its file's position in the list.
    """
    paths = [path] if isinstance(path, str) else list(path)
    indexed = []
    for fi, p in enumerate(paths):
        with open(p, encoding="utf-8") as f:
            rows = extract_rows(json.load(f), default_empty=default_empty)
        tag = {} if isinstance(path, str) else {"file_index": fi}
        indexed.extend({**r, **tag, "ingest_order": i} for i, r in enumerate(rows))
    if schema is None and indexed:
        lines = [json.dumps(r, ensure_ascii=False) for r in indexed]
        ds = _jvm_frame(spark, pa.table({"value": pa.array(lines, pa.string())}))
        jstrings = getattr(ds._jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING())
        return DataFrame(spark._jsparkSession.read().json(jstrings), spark)
    if schema is None:
        # Schema inference has nothing to work with; fall back to the
        # declared raw-grid contract so downstream projections resolve.
        from counsel_data_pipeline_spark.schemas import RAW_GRID_ROW

        schema = RAW_GRID_ROW
    struct = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(path, str) and "file_index" not in struct.fieldNames():
        struct = StructType([*struct.fields, StructField("file_index", LongType(), False)])
    verify = _make_type_verifier(struct)
    for r in indexed:
        verify(r)
    return _jvm_frame(spark, pa.Table.from_pylist(indexed, schema=to_arrow_schema(struct)), struct)


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: str | Any
) -> tuple[DataFrame, DataFrame]:
    """Landing-zone JSONL read with a corrupt-record quarantine — the
    engine-side analog of the reference's failure-evidence sink (SURVEY
    §2.2 K6: bad inputs are preserved as evidence, never dropped silently
    and never allowed to poison the batch).

    Returns (good, quarantined): ``good`` rows parsed against the declared
    schema; ``quarantined`` rows carry the raw malformed line in
    ``corrupt_record``. PERMISSIVE mode keeps the pipeline running on
    partial corruption; the quarantine frame is the operational artifact.
    """
    raw = (
        spark.read.schema(f"{schema}, corrupt_record string"
                          if isinstance(schema, str) else schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_record")
        .json(path)
    )
    raw = raw.cache()  # one parse serves both splits
    good = raw.filter(F.col("corrupt_record").isNull()).drop("corrupt_record")
    bad = raw.filter(F.col("corrupt_record").isNotNull()).select("corrupt_record")
    return good, bad
