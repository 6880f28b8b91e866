"""Distributed sink dialect parity (io/sinks.write_csv / write_json):
the scale-tier writers must render the same dialect as the parity-tier
single-doc writers — lowercase booleans, empty string for null, minimal
quoting."""

import glob
import json
import os
import tempfile

from pyspark.sql import functions as F

from counsel_data_pipeline_spark.io.sinks import collect_rows, csv_text, write_csv, write_json


def _df(spark):
    return spark.createDataFrame(
        [
            ("臺北市", 'has,comma "quoted"', 3, True, None),
            ("高雄市", "plain", 0, False, "x"),
        ],
        "county string, note string, n int, flag boolean, opt string",
    )


def test_write_csv_dialect_matches_parity_writer(spark):
    df = _df(spark)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "csv")
        write_csv(df.coalesce(1), out)
        [part] = glob.glob(os.path.join(out, "part-*.csv"))
        text = open(part, encoding="utf-8").read().rstrip("\n")

    rows = [r.asDict() for r in df.collect()]
    expected = csv_text(rows, df.columns)
    assert sorted(text.splitlines()[1:]) == sorted(expected.splitlines()[1:])
    assert text.splitlines()[0] == ",".join(df.columns)
    # dialect spot checks
    assert "true" in text and "false" in text and "True" not in text
    assert '"has,comma ""quoted"""' in text


def test_write_json_roundtrip(spark):
    df = _df(spark)
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "json")
        write_json(df.coalesce(1), out)
        lines = []
        for part in glob.glob(os.path.join(out, "part-*")):
            if part.endswith(".crc"):
                continue
            lines += [json.loads(ln) for ln in open(part, encoding="utf-8") if ln.strip()]
    got = sorted(lines, key=lambda r: r["county"])  # 臺(U+81FA) < 高(U+9AD8)
    assert got[0]["flag"] is True and got[1]["flag"] is False
    assert "opt" not in got[0] or got[0].get("opt") is None  # nulls omitted in JSONL
    assert got[1]["opt"] == "x"
    back = spark.read.json(spark.sparkContext.parallelize([json.dumps(r) for r in got]))
    assert back.count() == 2


def test_partitioned_write_enables_partition_pruning(spark):
    import re
    import tempfile

    from counsel_data_pipeline_spark.io.sinks import write_parquet_partitioned

    df = spark.createDataFrame(
        [("臺北市", i, f"org{i}") for i in range(10)]
        + [("高雄市", i, f"org{i}") for i in range(10)],
        "county string, n int, org string",
    )
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "t")
        write_parquet_partitioned(df, out, ["county"])
        # directory layout: county=<value>/
        assert sorted(
            p for p in os.listdir(out) if p.startswith("county=")
        ) == ["county=臺北市", "county=高雄市"]

        back = spark.read.parquet(out).filter(F.col("county") == "臺北市")
        assert back.count() == 10
        plan = back._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "county" in m.group(1), plan[:500]


def test_jsonl_quarantine_split(spark):
    from counsel_data_pipeline_spark.io.sources import read_jsonl_quarantine

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "landing.jsonl")
        with open(p, "w", encoding="utf-8") as f:
            f.write('{"county": "臺北市", "n": 1}\n')
            f.write('{"county": "高雄市", "n": "not-an-int"}\n')  # type violation
            f.write('{broken json!!\n')
            f.write('{"county": "臺中市", "n": 3}\n')
        good, bad = read_jsonl_quarantine(spark, p, "county string, n int")
        assert sorted((r.county, r.n) for r in good.collect()) == [
            ("臺中市", 3), ("臺北市", 1),
        ]
        bad_lines = [r.corrupt_record for r in bad.collect()]
        assert len(bad_lines) == 2
        assert any("broken" in b for b in bad_lines)
        assert any("not-an-int" in b for b in bad_lines)


def test_write_training_shards_layout(spark, tmp_path):
    """Shard files are balanced, deterministic by key, and respect the
    per-file record cap."""
    import glob

    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.io.sinks import write_training_shards
    from counsel_data_pipeline_spark.io.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, n_shards=8, shard_key="doc_id")
    files = sorted(glob.glob(out + "/part-*.parquet"))
    # Spark writes no file for an empty hash bucket, so the contract is
    # "at most n_shards files" (all 8 happen to be non-empty at 500 docs).
    assert 1 <= len(files) <= 8

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # same doc set, nothing duplicated or dropped
    assert back.select(F.sum("doc_id")).first()[0] == docs.select(F.sum("doc_id")).first()[0]

    # record cap rolls files: 500 docs / cap 40 -> >= 13 files
    out2 = str(tmp_path / "capped")
    write_training_shards(docs, out2, n_shards=8, shard_key="doc_id", max_records_per_file=40)
    files2 = glob.glob(out2 + "/part-*.parquet")
    assert len(files2) >= 13
    for f in files2:
        import pyarrow.parquet as pq

        assert pq.read_metadata(f).num_rows <= 40


def test_collect_rows_orders_like_order_by(spark):
    # collect_rows sorts inside one partition; the order, nulls included,
    # must be the global orderBy order of a many-partition frame. Ties may
    # come in any order, so the sequences of order values are compared.
    rows = [(i, None if i % 7 == 0 else (i * 37) % 11, None if i % 5 == 0 else i % 3) for i in range(60)]
    df = spark.createDataFrame(rows, "id int, a int, b int").repartition(4).select(
        "id", F.struct("a", "b").alias("o"), F.col("b").alias("ob")
    )
    for order in ("o", "ob"):
        want = [r[order] for r in df.orderBy(order).collect()]
        got = collect_rows(df.select("id", order, F.col(order).alias("v")), order_col=order)
        assert [r["v"] for r in got] == [v.asDict() if order == "o" and v else v for v in want]
        assert sorted(r["id"] for r in got) == list(range(60))
