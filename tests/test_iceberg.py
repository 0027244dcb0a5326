"""Semantics tests for the Iceberg metadata-tree reader."""

import json

import pytest
from pyspark.sql import Row

from trollflow2_spark.extensions.avro import write_container
from trollflow2_spark.extensions.iceberg import (
    MANIFEST_LIST_SCHEMA,
    MANIFEST_SCHEMA,
    parse_table_metadata,
    snapshot_partition_summary,
)


def _entry(status, path, part, rc=10, fs=100):
    return {
        "status": status,
        "file_path": path,
        "partition": part,
        "record_count": rc,
        "file_size": fs,
    }


def _mlist(paths):
    return write_container(
        [
            {
                "manifest_path": p,
                "added_files_count": 0,
                "deleted_files_count": 0,
            }
            for p in paths
        ],
        MANIFEST_LIST_SCHEMA,
    )


def _metadata(snaps, current):
    return json.dumps(
        {
            "format-version": 2,
            "current-snapshot-id": current,
            "snapshots": [
                {
                    "snapshot-id": sid,
                    "timestamp-ms": sid * 1000,
                    "manifest-list": ml,
                }
                for sid, ml in snaps
            ],
        }
    )


def test_metadata_parse_and_validation():
    md = parse_table_metadata(_metadata([(1, "l1"), (2, "l2")], 2))
    assert md["current"] == 2 and set(md["snapshots"]) == {1, 2}
    with pytest.raises(ValueError):
        parse_table_metadata("{}")
    with pytest.raises(ValueError):
        parse_table_metadata(_metadata([(1, "l1")], 9))


def test_snapshot_live_sets_and_deletes(spark):
    m1 = write_container(
        [_entry(1, "a", "p0"), _entry(1, "b", "p1")], MANIFEST_SCHEMA
    )
    # snapshot 2 rewrites m1: file "a" deleted, "b" existing; adds "c"
    m2 = write_container(
        [_entry(2, "a", "p0"), _entry(0, "b", "p1")], MANIFEST_SCHEMA
    )
    m3 = write_container([_entry(1, "c", "p0", rc=7)], MANIFEST_SCHEMA)
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="m2", blob=m2),
            Row(path="m3", blob=m3),
            Row(path="l1", blob=_mlist(["m1"])),
            Row(path="l2", blob=_mlist(["m2", "m3"])),
        ]
    )
    out = snapshot_partition_summary(
        spark, _metadata([(1, "l1"), (2, "l2")], 2), blobs
    )
    got = {(r.snapshot_id, r.partition): r for r in out.collect()}
    assert got[(1, "p0")].n_files == 1 and got[(1, "p1")].n_files == 1
    assert (2, "p1") in got  # "b" survives as existing
    assert got[(2, "p0")].n_files == 1  # "a" deleted, "c" added
    assert got[(2, "p0")].n_rows == 7


def test_missing_manifest_list_fails_loudly(spark):
    blobs = spark.createDataFrame([Row(path="x", blob=b"zz")])
    with pytest.raises(ValueError):
        snapshot_partition_summary(
            spark, _metadata([(1, "l-missing")], 1), blobs
        )


def _mlist_v2(entries):
    from trollflow2_spark.extensions.iceberg import MANIFEST_LIST_V2_SCHEMA

    return write_container(
        [
            {
                "manifest_path": p,
                "added_files_count": 0,
                "deleted_files_count": 0,
                "content": c,
            }
            for p, c in entries
        ],
        MANIFEST_LIST_V2_SCHEMA,
    )


def _del_manifest(entries):
    from trollflow2_spark.extensions.iceberg import DELETE_MANIFEST_SCHEMA

    return write_container(
        [
            {
                "status": s,
                "file_path": p,
                "content": c,
                "record_count": rc,
                "file_size": 64,
            }
            for s, p, c, rc in entries
        ],
        DELETE_MANIFEST_SCHEMA,
    )


def _pos_deletes(rows):
    from trollflow2_spark.extensions.iceberg import POSITION_DELETE_SCHEMA

    return write_container(
        [{"file_path": f, "pos": p} for f, p in rows],
        POSITION_DELETE_SCHEMA,
    )


def test_v2_position_deletes_subtract_distinct(spark):
    """Two delete files overlap on (a, 0): the duplicate counts once;
    a fully-deleted file keeps its n_files slot with rows at zero."""
    m1 = write_container(
        [_entry(1, "a", "p0", rc=3), _entry(1, "b", "p0", rc=2)],
        MANIFEST_SCHEMA,
    )
    pd1 = _pos_deletes([("a", 0), ("a", 1)])
    pd2 = _pos_deletes([("a", 0), ("a", 2), ("b", 0), ("b", 1)])
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="pd1", blob=pd1),
            Row(path="pd2", blob=pd2),
            Row(path="dm1", blob=_del_manifest([(1, "pd1", 1, 2)])),
            Row(path="dm2", blob=_del_manifest([(1, "pd2", 1, 4)])),
            Row(path="l1", blob=_mlist_v2([("m1", 0)])),
            Row(
                path="l2",
                blob=_mlist_v2([("m1", 0), ("dm1", 1), ("dm2", 1)]),
            ),
        ]
    )
    out = snapshot_partition_summary(
        spark, _metadata([(1, "l1"), (2, "l2")], 2), blobs
    )
    got = {(r.snapshot_id, r.partition): r for r in out.collect()}
    assert got[(1, "p0")].n_rows == 5
    # a loses {0,1,2} (dup (a,0) once), b loses {0,1} -> 0 + 0 live
    assert got[(2, "p0")].n_rows == 0
    assert got[(2, "p0")].n_files == 2  # files exist until compaction


def test_v2_removed_delete_file_no_longer_applies(spark):
    """A delete manifest entry with status=2 un-applies its delete
    file (e.g. after a compaction rewrote the data file)."""
    m1 = write_container([_entry(1, "a", "p0", rc=4)], MANIFEST_SCHEMA)
    pd1 = _pos_deletes([("a", 0)])
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="pd1", blob=pd1),
            Row(path="dm1", blob=_del_manifest([(2, "pd1", 1, 1)])),
            Row(path="l1", blob=_mlist_v2([("m1", 0), ("dm1", 1)])),
        ]
    )
    out = snapshot_partition_summary(
        spark, _metadata([(1, "l1")], 1), blobs
    )
    assert out.collect()[0].n_rows == 4


def test_v2_equality_deletes_raise_with_guidance(spark):
    m1 = write_container([_entry(1, "a", "p0")], MANIFEST_SCHEMA)
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="ed1", blob=_pos_deletes([])),
            Row(path="dm1", blob=_del_manifest([(1, "ed1", 2, 1)])),
            Row(path="l1", blob=_mlist_v2([("m1", 0), ("dm1", 1)])),
        ]
    )
    # the loud refusal may surface at construction (the summary
    # eagerly materializes its delete-file dimension) or at collect
    with pytest.raises(Exception, match="equality deletes"):
        snapshot_partition_summary(
            spark, _metadata([(1, "l1")], 1), blobs
        ).collect()


def test_v1_lists_still_decode_as_data_manifests(spark):
    """v1 manifest lists (no content field) keep their exact
    pre-v2 semantics through the same entry point."""
    m1 = write_container([_entry(1, "a", "p0", rc=9)], MANIFEST_SCHEMA)
    blobs = spark.createDataFrame(
        [Row(path="m1", blob=m1), Row(path="l1", blob=_mlist(["m1"]))]
    )
    out = snapshot_partition_summary(
        spark, _metadata([(1, "l1")], 1), blobs
    )
    r = out.collect()[0]
    assert r.n_rows == 9 and r.n_files == 1


def test_snapshot_as_of_timestamp():
    from trollflow2_spark.extensions.iceberg import (
        parse_table_metadata,
        snapshot_as_of,
    )

    md = parse_table_metadata(_metadata([(1, "l1"), (2, "l2")], 2))
    # snapshot timestamps are sid*1000 per the helper
    assert snapshot_as_of(md, 1000) == 1
    assert snapshot_as_of(md, 1999) == 1
    assert snapshot_as_of(md, 2000) == 2
    assert snapshot_as_of(md, 99999) == 2
    with pytest.raises(ValueError, match="history starts later"):
        snapshot_as_of(md, 999)


def _entry_seq(status, path, part, rc, seq, fs=100):
    return {
        "status": status,
        "file_path": path,
        "partition": part,
        "record_count": rc,
        "file_size": fs,
        "sequence_number": seq,
    }


_MANIFEST_SEQ_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "partition", "type": "string"},
        {"name": "record_count", "type": "long"},
        {"name": "file_size", "type": "long"},
        {"name": "sequence_number", "type": "long"},
    ],
}

_DEL_MANIFEST_SEQ_SCHEMA = {
    "type": "record",
    "name": "delete_manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "content", "type": "int"},
        {"name": "record_count", "type": "long"},
        {"name": "file_size", "type": "long"},
        {"name": "sequence_number", "type": "long"},
    ],
}

_ID_ROW_SCHEMA = {
    "type": "record",
    "name": "data_row",
    "fields": [{"name": "id", "type": "long"}],
}


def _id_rows(ids):
    return write_container([{"id": i} for i in ids], _ID_ROW_SCHEMA)


def test_v2_equality_deletes_apply_with_seq_scoping(spark):
    """Equality deletes mask matching rows of data files with a
    STRICTLY lower sequence number; a row masked by both a position
    and an equality delete counts once; later-seq data files keep
    matching rows live."""
    m1 = write_container(
        [
            _entry_seq(1, "a", "p0", 4, 1),  # rows id 1,2,3,4
            _entry_seq(1, "b", "p0", 3, 3),  # rows id 2,5,6 (later)
        ],
        _MANIFEST_SEQ_SCHEMA,
    )
    dm = write_container(
        [
            {"status": 1, "file_path": "ed1", "content": 2,
             "record_count": 2, "file_size": 64,
             "sequence_number": 2},
            {"status": 1, "file_path": "pd1", "content": 1,
             "record_count": 2, "file_size": 64,
             "sequence_number": 2},
        ],
        _DEL_MANIFEST_SEQ_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="a", blob=_id_rows([1, 2, 3, 4])),
            Row(path="b", blob=_id_rows([2, 5, 6])),
            Row(path="ed1", blob=_id_rows([2, 6])),
            # (a,1) is id=2 — ALSO equality-masked: must dedup;
            # (a,0) is a plain position delete
            Row(path="pd1", blob=_pos_deletes([("a", 0), ("a", 1)])),
            Row(path="dm1", blob=dm),
            Row(path="l1", blob=_mlist_v2([("m1", 0), ("dm1", 1)])),
        ]
    )
    out = snapshot_partition_summary(
        spark,
        _metadata([(1, "l1")], 1),
        blobs,
        equality_id_fields=["id"],
    )
    r = out.collect()[0]
    # a: gone = {pos 0, pos 1(id 2)} = 2 -> 2 live
    # b: seq 3 not < 2, equality does NOT apply; position deletes
    #    only target a -> 3 live
    assert r.n_rows == 5
    assert r.n_files == 2


def test_v2_equality_deletes_without_fields_still_raise(spark):
    m1 = write_container(
        [_entry_seq(1, "a", "p0", 4, 1)], _MANIFEST_SEQ_SCHEMA
    )
    dm = write_container(
        [{"status": 1, "file_path": "ed1", "content": 2,
          "record_count": 1, "file_size": 64, "sequence_number": 2}],
        _DEL_MANIFEST_SEQ_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="a", blob=_id_rows([1])),
            Row(path="ed1", blob=_id_rows([1])),
            Row(path="dm1", blob=dm),
            Row(path="l1", blob=_mlist_v2([("m1", 0), ("dm1", 1)])),
        ]
    )
    # raise may surface at construction or collect (see
    # test_v2_equality_deletes_raise_with_guidance)
    with pytest.raises(Exception, match="equality deletes"):
        snapshot_partition_summary(
            spark, _metadata([(1, "l1")], 1), blobs
        ).collect()


def test_v2_over_applied_position_deletes_clamp_at_zero(spark):
    """A stale delete file with more distinct positions than the
    data file's record_count (compaction rewrote the file) clamps
    at zero instead of going negative."""
    m1 = write_container(
        [_entry_seq(1, "a", "p0", 2, 1)], _MANIFEST_SEQ_SCHEMA
    )
    dm = write_container(
        [{"status": 1, "file_path": "pd1", "content": 1,
          "record_count": 5, "file_size": 64, "sequence_number": 2}],
        _DEL_MANIFEST_SEQ_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [
            Row(path="m1", blob=m1),
            Row(path="pd1", blob=_pos_deletes(
                [("a", p) for p in range(5)]
            )),
            Row(path="dm1", blob=dm),
            Row(path="l1", blob=_mlist_v2([("m1", 0), ("dm1", 1)])),
        ]
    )
    out = snapshot_partition_summary(
        spark, _metadata([(1, "l1")], 1), blobs
    )
    r = out.collect()[0]
    assert r.n_rows == 0  # clamped, not -3


def test_expire_snapshots_plan_reachability(spark):
    """Shared files must survive: only files reachable SOLELY from
    expired snapshots become deletable; keep_last and current are
    always retained; no expiry -> empty plan."""
    from trollflow2_spark.extensions.iceberg import expire_snapshots_plan

    m_old = write_container(
        [_entry(1, "a", "p0"), _entry(1, "shared", "p0")],
        MANIFEST_SCHEMA,
    )
    m_new = write_container(
        [_entry(1, "b", "p0"), _entry(1, "shared", "p0")],
        MANIFEST_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [
            Row(path="m_old", blob=m_old),
            Row(path="m_new", blob=m_new),
            Row(path="l1", blob=_mlist(["m_old"])),
            Row(path="l2", blob=_mlist(["m_new"])),
        ]
    )
    md = _metadata([(1, "l1"), (2, "l2")], 2)
    plan = sorted(
        (r["kind"], r["path"])
        for r in expire_snapshots_plan(
            spark, md, blobs, expire_before_ms=1500, keep_last=1
        ).collect()
    )
    assert plan == [
        ("data-file", "a"),
        ("manifest", "m_old"),
        ("manifest-list", "l1"),
    ]
    # nothing expires when the cutoff precedes all snapshots
    assert (
        expire_snapshots_plan(
            spark, md, blobs, expire_before_ms=500
        ).count()
        == 0
    )
    # keep_last can retain an otherwise-expired snapshot
    assert (
        expire_snapshots_plan(
            spark, md, blobs, expire_before_ms=99999, keep_last=2
        ).count()
        == 0
    )


def test_murmur3_spec_vectors():
    """The Iceberg spec's published bucket-hash examples."""
    from trollflow2_spark.extensions.murmur3 import (
        iceberg_hash_long,
        iceberg_hash_string,
    )

    assert iceberg_hash_long(34) == 2017239379  # int AND long 34
    assert iceberg_hash_string("iceberg") == 1210000089
    assert iceberg_hash_long(17486) == -653330422  # date 2017-11-16
    assert iceberg_hash_long(1510871468000000) == -2047944441  # ts us


def test_partition_projection_semantics(spark):
    import datetime

    from trollflow2_spark.extensions.murmur3 import iceberg_bucket_long
    from trollflow2_spark.extensions.iceberg import partition_projection

    df = spark.createDataFrame(
        [
            (34, -7, "hello", datetime.datetime(2017, 11, 16, 22, 31)),
            (0, 199, "hi", datetime.datetime(1969, 12, 31, 23, 0)),
        ],
        "k long, t long, s string, ts timestamp",
    )
    out = partition_projection(
        df,
        [
            ("b", "k", "bucket", 16),
            ("tr", "t", "truncate", 100),
            ("sr", "s", "truncate", 2),
            ("y", "ts", "year", None),
            ("m", "ts", "month", None),
            ("d", "ts", "day", None),
        ],
    ).collect()
    r = {row["k"]: row for row in out}
    assert r[34]["b"] == iceberg_bucket_long(34, 16)
    # truncate floors toward -inf: -7 -> -100, 199 -> 100
    assert r[34]["tr"] == -100 and r[0]["tr"] == 100
    assert r[34]["sr"] == "he" and r[0]["sr"] == "hi"
    assert r[34]["y"] == 47 and r[34]["m"] == 47 * 12 + 10
    # pre-epoch ordinals go negative
    assert r[0]["y"] == -1 and r[0]["m"] == -1
    with pytest.raises(ValueError, match="unknown transform"):
        partition_projection(df, [("x", "k", "nope", None)]).collect()
    with pytest.raises(ValueError, match="unsupported"):
        partition_projection(df, [("x", "s", "year", None)])
