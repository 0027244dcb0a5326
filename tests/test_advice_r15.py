"""Pins for the r15 ADVICE fixes: DV-mask completeness without
dv_files, live_records null-gating on statless adds, roaring run
bounds, and the recall-audit sample-budget guard."""

import json
import struct
import uuid

import pytest
from pyspark.sql import Row

from trollflow2_spark.extensions.roaring import (
    RoaringError,
    decode_rbm_array,
    z85_encode,
)


def test_run_container_overflow_raises():
    # run 65530 + length 10 crosses the 16-bit container boundary;
    # must raise, not bleed into the next high-container
    rb = (
        struct.pack("<I", 12347)
        + b"\x01"
        + struct.pack("<HH", 0, 8)
        + struct.pack("<HHH", 1, 65530, 10)
    )
    arr = struct.pack("<qi", 1, 0) + rb
    with pytest.raises(RoaringError, match="16-bit"):
        decode_rbm_array(arr)


def test_dv_positions_without_dv_files_raises_on_ondisk(spark):
    """dv_files=None + an on-disk ('u') descriptor: the positions
    mask would be incomplete, so the decode must fail loudly instead
    of silently returning only the inline DVs."""
    from trollflow2_spark.extensions.profile import (
        delta_dv_positions,
        delta_log_snapshot,
    )

    u1 = uuid.uuid5(uuid.NAMESPACE_DNS, "advice-r15")
    line = json.dumps({"add": {
        "path": "x", "size": 1,
        "stats": json.dumps({"numRecords": 5}),
        "deletionVector": {
            "storageType": "u",
            "pathOrInlineDv": z85_encode(u1.bytes),
            "offset": 1, "sizeInBytes": 8, "cardinality": 2,
        },
    }})
    log = spark.createDataFrame([(0, line)], "version int, line string")
    snap = delta_log_snapshot(log, stats=True)
    with pytest.raises(Exception, match="not found in dv_files"):
        delta_dv_positions(snap).collect()


def test_statless_add_live_records_is_null(spark):
    """An add action with no stats must surface live_records=NULL
    (absent evidence), not 0 — greatest() skips nulls."""
    from trollflow2_spark.extensions.profile import delta_log_snapshot

    lines = [
        (0, json.dumps({"add": {"path": "nostats", "size": 10}})),
        (0, json.dumps({"add": {
            "path": "stats", "size": 10,
            "stats": json.dumps({"numRecords": 7}),
        }})),
    ]
    log = spark.createDataFrame(lines, "version int, line string")
    rows = {
        r["path"]: r
        for r in delta_log_snapshot(log, stats=True).collect()
    }
    assert rows["nostats"]["live_records"] is None
    assert rows["nostats"]["num_records"] is None
    assert rows["stats"]["live_records"] == 7


def test_recall_audit_row_guard(spark):
    from trollflow2_spark.extensions.dedup import lsh_recall_audit

    df = spark.range(50).selectExpr(
        "id AS doc_id", "concat('w', id % 7, ' w', id % 5) AS text"
    )
    with pytest.raises(ValueError, match="max_sample_rows"):
        lsh_recall_audit(df, max_sample_rows=10)
    # under the cap still runs
    out = lsh_recall_audit(df, max_sample_rows=100).collect()
    assert len(out) == 1


def test_apply_column_mapping_with_dv(spark):
    """Prescription #8: a DV'd file whose table ALSO carries column
    mapping — the read gate composes: gate passes (both features
    implemented), stats/partitionValues remap to logical names, and
    the DV decode is untouched by the remap."""
    from trollflow2_spark.extensions.profile import (
        delta_apply_column_mapping,
        delta_dv_positions,
        delta_file_skip_plan,
        delta_log_snapshot,
        delta_table_info,
    )
    from trollflow2_spark.extensions.roaring import encode_dv_data

    sch = {"type": "struct", "fields": [
        {"name": "amount", "type": "double", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-a1"}},
        {"name": "region", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-r9"}},
    ]}
    proto = json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors", "columnMapping"]}})
    meta = json.dumps({"metaData": {
        "schemaString": json.dumps(sch),
        "partitionColumns": ["region"],
        "configuration": {"delta.columnMapping.mode": "name"}}})
    data = encode_dv_data([0, 3])
    payload_z85 = None
    from trollflow2_spark.extensions.roaring import z85_encode as _z
    payload_z85 = _z(data + b"\x00" * ((-len(data)) % 4))
    add = json.dumps({"add": {
        "path": "f1", "size": 10,
        "stats": json.dumps({
            "numRecords": 9,
            "minValues": {"col-a1": 2.0},
            "maxValues": {"col-a1": 8.0},
        }),
        "partitionValues": {"col-r9": "eu"},
        "deletionVector": {
            "storageType": "i", "pathOrInlineDv": payload_z85,
            "sizeInBytes": len(data), "cardinality": 2},
    }})
    info = delta_table_info([proto, meta, add])
    assert info["column_mapping"] == {
        "col-a1": "amount", "col-r9": "region"}

    log = spark.createDataFrame(
        [(0, proto), (0, meta), (0, add)], "version int, line string"
    )
    snap = delta_log_snapshot(log, stats=True)
    mapped = delta_apply_column_mapping(snap, info["column_mapping"])
    row = mapped.collect()[0]
    assert row["partition_values"]["region"] == "eu"
    assert "col-r9" not in row["partition_values"]
    # logical-name skip plan now finds the stats
    plan = {r["path"]: r for r in delta_file_skip_plan(
        mapped, "amount", 5.0, 6.0).collect()}
    assert plan["f1"]["must_read"] == 1
    plan2 = {r["path"]: r for r in delta_file_skip_plan(
        mapped, "amount", 100.0, 200.0).collect()}
    assert plan2["f1"]["must_read"] == 0
    # the unmapped snapshot reads conservatively (no stats found)
    plan3 = {r["path"]: r for r in delta_file_skip_plan(
        snap, "amount", 100.0, 200.0).collect()}
    assert plan3["f1"]["must_read"] == 1
    # DV decode is independent of the remap
    pos = sorted(r["pos"] for r in delta_dv_positions(mapped).collect())
    assert pos == [0, 3]
    assert row["live_records"] == 7


def test_apply_column_mapping_noop_and_passthrough(spark):
    from trollflow2_spark.extensions.profile import (
        delta_apply_column_mapping,
        delta_log_snapshot,
    )

    line = json.dumps({"add": {
        "path": "p", "size": 1,
        "stats": json.dumps({"numRecords": 3,
                             "minValues": {"keep": 1}}),
        "partitionValues": {"keep": "x"},
    }})
    log = spark.createDataFrame([(0, line)], "version int, line string")
    snap = delta_log_snapshot(log, stats=True)
    # empty mapping is the identity
    assert delta_apply_column_mapping(snap, {}) is snap
    # unknown physical names pass through unchanged
    row = delta_apply_column_mapping(
        snap, {"col-z": "other"}).collect()[0]
    assert row["partition_values"]["keep"] == "x"
    assert '"keep"' in row["stats_json"]
