"""Object-store IO (io/object_store.py, S5/K3/T5) — reference semantics
from src/gcs-io.js behind a pluggable backend, exercised on LocalFSStore
and wired end-to-end into the snapshot-diff cold-start path."""

import json

import pytest

from counsel_data_pipeline_spark.io import object_store as obj
from counsel_data_pipeline_spark.io.sources import extract_rows


def test_download_or_empty_cold_start(tmp_path):
    store = obj.LocalFSStore(str(tmp_path / "bucket"))
    local = tmp_path / "land" / "clinics.json"
    assert obj.download_or_empty(store, "pub/clinics.json", str(local)) is False
    assert local.read_bytes() == b"{}"
    # the empty default parses to zero rows — the cold-start contract the
    # snapshot diff relies on (everything becomes delta)
    assert extract_rows(json.loads(local.read_text()), default_empty=True) == []
    with pytest.raises(ValueError):  # the CLEAN-input contract stays strict
        extract_rows(json.loads(local.read_text()))


def test_upload_then_download_round_trip(tmp_path):
    store = obj.LocalFSStore(str(tmp_path / "bucket"))
    src = tmp_path / "out.json"
    src.write_text('{"total": 1, "rows": [{"county": "x"}]}')
    obj.upload(store, str(src), "pub/out.json")
    dst = tmp_path / "back.json"
    assert obj.download_or_empty(store, "pub/out.json", str(dst)) is True
    assert dst.read_bytes() == src.read_bytes()


def test_store_key_escape_guard(tmp_path):
    store = obj.LocalFSStore(str(tmp_path / "bucket"))
    with pytest.raises(ValueError):
        store.put("../outside.json", b"{}")


def test_cold_start_feeds_incremental_dag(spark, tmp_path):
    """S5 end-to-end: a missing previous snapshot downloads as '{}',
    reads as an empty typed frame, and the whole clean batch becomes
    delta — the reference's first-run behavior."""
    from pyspark.sql.types import LongType, StructField, StructType

    from counsel_data_pipeline_spark import pipeline as P
    from counsel_data_pipeline_spark.io.sources import read_clinic_json
    from counsel_data_pipeline_spark.ops.enrich import StubResolver
    from counsel_data_pipeline_spark.schemas import CLINIC_GEOCODED

    store = obj.LocalFSStore(str(tmp_path / "bucket"))
    prev_local = tmp_path / "prev.json"
    obj.download_or_empty(store, "pub/clinics.json", str(prev_local))

    prev = read_clinic_json(
        spark,
        str(prev_local),
        schema=StructType(
            CLINIC_GEOCODED.fields + [StructField("ingest_order", LongType())]
        ),
        default_empty=True,
    ).withColumnRenamed("ingest_order", "prev_order")
    clean = spark.createDataFrame(
        [("臺北市", f"o{i}", f"臺北市中山區南京東路2段{i}號", f"02-000{i}", i) for i in range(1, 4)],
        "county string, org_name string, address string, phone string, ingest_order long",
    )
    res = P.diff_enrich_publish(clean, prev, None, StubResolver())
    assert res.change_count == 3 and res.publish


def test_publish_to_store_change_gated(spark, tmp_path):
    """entrypoint.sh semantics: changes -> current + timestamped snapshot
    uploaded with the total invariant intact; no changes -> nothing
    written at all."""
    import json as _json

    from counsel_data_pipeline_spark import pipeline as P
    from counsel_data_pipeline_spark.ops.enrich import StubResolver

    clean = spark.createDataFrame(
        [("臺北市", f"o{i}", f"臺北市中山區南京東路2段{i}號", f"02-000{i}", i) for i in range(1, 4)],
        "county string, org_name string, address string, phone string, ingest_order long",
    )
    empty_prev = spark.createDataFrame(
        [], clean.schema
    ).withColumnRenamed("ingest_order", "prev_order")
    res = P.diff_enrich_publish(clean, empty_prev, None, StubResolver())
    assert res.publish

    store = obj.LocalFSStore(str(tmp_path / "bucket"))
    receipt = P.publish_to_store(
        res, store, current_key="pub/clinics.json",
        snapshot_prefix="pub/snapshots", ts="20260814T120000Z",
    )
    assert receipt.snapshot_key == "pub/snapshots/clinics_20260814T120000Z.json"
    doc = _json.loads(store.get("pub/clinics.json"))
    assert doc["total"] == len(doc["rows"]) == 3  # K1/V2 invariant
    assert store.get(receipt.snapshot_key) == store.get("pub/clinics.json")
    assert receipt.dispatch_payload["change_count"] == 3

    # unchanged day: same clean vs itself-as-prev -> publish gate closes
    prev = res.final.withColumnRenamed("ingest_order", "prev_order")
    res2 = P.diff_enrich_publish(clean, prev, None, StubResolver())
    assert not res2.publish
    store2 = obj.LocalFSStore(str(tmp_path / "bucket2"))
    assert P.publish_to_store(
        res2, store2, current_key="pub/clinics.json",
        snapshot_prefix="pub/snapshots", ts="20260814T130000Z",
    ) is None
    assert store2.list("") == []  # nothing written


def test_publish_fanout_gates(spark, tmp_path):
    """K7 (ref .github/workflows/clinics-v3.yml:126-203): the fan-out hook
    fires only on a real publish; the notify leg fires only when the
    downstream sync ALSO reports a change (changed && changed_b)."""
    from counsel_data_pipeline_spark import pipeline as P
    from counsel_data_pipeline_spark.ops.enrich import StubResolver

    clean = spark.createDataFrame(
        [("臺北市", f"o{i}", f"臺北市中山區南京東路2段{i}號", f"02-000{i}", i) for i in range(1, 4)],
        "county string, org_name string, address string, phone string, ingest_order long",
    )
    empty_prev = spark.createDataFrame([], clean.schema).withColumnRenamed(
        "ingest_order", "prev_order"
    )
    res = P.diff_enrich_publish(clean, empty_prev, None, StubResolver())

    downstream: dict[str, bytes] = {}
    notifications: list[dict] = []

    def sync(key: str, data: bytes) -> bool:  # the git-diff probe: changed_b
        if downstream.get(key) == data:
            return False
        downstream[key] = data
        return True

    hook = P.repo_sync_fanout(sync, notifications.append)
    store = obj.LocalFSStore(str(tmp_path / "bucket"))

    receipt = P.publish_to_store(
        res, store, current_key="pub/clinics.json",
        snapshot_prefix="pub/snapshots", ts="20260814T120000Z", fanout=hook,
    )
    assert receipt.fanout == {"synced": True, "notified": True}
    assert downstream["pub/clinics.json"] == store.get("pub/clinics.json")
    assert notifications == [receipt.dispatch_payload]

    # same content published again (forced): downstream copy identical ->
    # changed_b=0 -> sync reports no change, LINE push suppressed (step 9)
    receipt2 = P.publish_to_store(
        res, store, current_key="pub/clinics.json",
        snapshot_prefix="pub/snapshots", ts="20260814T130000Z", fanout=hook,
    )
    assert receipt2.fanout == {"synced": False, "notified": False}
    assert len(notifications) == 1

    # no publish -> hook never invoked at all (the changed=='1' gate)
    prev = res.final.withColumnRenamed("ingest_order", "prev_order")
    res2 = P.diff_enrich_publish(clean, prev, None, StubResolver())
    calls = len(notifications)
    assert P.publish_to_store(
        res2, store, current_key="pub/clinics.json",
        snapshot_prefix="pub/snapshots", ts="20260814T140000Z", fanout=hook,
    ) is None
    assert len(notifications) == calls and len(downstream) == 1
