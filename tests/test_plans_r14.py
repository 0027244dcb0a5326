"""Plan-quality pins for the round-14 additions: the physical
properties that make them scale are asserted, not hoped for."""

import json

from pyspark.sql import Row, functions as F


def _formatted(df):
    qe = df._jdf.queryExecution()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return qe.explainString(mode)


def _dv_log(spark, n=40):
    from trollflow2_spark.extensions.roaring import encode_dv_data, z85_encode

    lines = []
    for d in range(n):
        add = {
            "path": f"part-{d}",
            "size": 100 + d,
            "stats": json.dumps({"numRecords": 100 + d % 50}),
        }
        if d % 3 == 0:
            data = encode_dv_data(range(d % 4 + 1))
            add["deletionVector"] = {
                "storageType": "i",
                "pathOrInlineDv": z85_encode(
                    data + b"\x00" * ((-len(data)) % 4)
                ),
                "sizeInBytes": len(data),
                "cardinality": d % 4 + 1,
            }
        lines.append((0, json.dumps({"add": add})))
    return spark.createDataFrame(lines, "version int, line string")


def test_delta_dv_snapshot_plan_one_agg_no_shuffle_of_text(spark):
    """The DV-aware snapshot must stay what the plain one was: one
    from_json scan + ONE path-keyed hash aggregate — the descriptor
    rides the max_by payload, so adding stats must not introduce a
    window, a join, or a second aggregate over the log."""
    from trollflow2_spark.extensions.profile import delta_log_snapshot

    plan = _formatted(delta_log_snapshot(_dv_log(spark), stats=True))
    assert plan.count("HashAggregate") <= 4  # partial+final (x<=2 plans)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_delta_dv_positions_decode_is_mapinpandas(spark):
    """Decode distributes with the files: the positions table plans
    an Arrow-evaluated Python stage, never a row-at-a-time UDF, and
    the inline branch needs no join at all."""
    from trollflow2_spark.extensions.profile import (
        delta_dv_positions,
        delta_log_snapshot,
    )

    snap = delta_log_snapshot(_dv_log(spark), stats=True)
    plan = _formatted(delta_dv_positions(snap))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time UDF
    assert "CartesianProduct" not in plan


def test_dbscan_3d_no_cartesian_equi_on_three_cells(spark):
    """k-D DBSCAN keeps the 2-D contract one dim up: the neighbor
    search is an EQUI join on the three cell-key columns — no
    cartesian, no broadcast of the (corpus-sized) point table."""
    from trollflow2_spark.extensions.clustering import dbscan_grid_kd

    pts = spark.createDataFrame(
        [
            Row(id=i, x=float(i % 5) * 0.5, y=float(i % 7) * 0.5,
                z=float(i % 3) * 0.5)
            for i in range(60)
        ]
    )
    out = dbscan_grid_kd(
        pts, eps=0.75, min_pts=3, coord_cols=["x", "y", "z"]
    )
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_quantile_rewires_leave_no_value_buffer(spark):
    """The r13 verdict's 'retire the single-buffer percentile'
    prescription, pinned at the plan level: the rewired outlier gate
    plans NO `percentile(` aggregate anywhere — medians come from
    the bracket-selection machine (percentile_approx sketches are
    fine: fixed-size, mergeable)."""
    from trollflow2_spark.extensions.profile import _bracket_median

    ev = spark.createDataFrame(
        [Row(k=f"k{i % 3}", v=float(i)) for i in range(300)]
    ).localCheckpoint()
    med = _bracket_median(ev, ["k"], val_col="v", median_col="m")
    # the GK sketch stage runs eagerly into the localCheckpoint, so
    # the visible plan must carry NO percentile aggregate of any kind
    plan = _formatted(med)
    assert "percentile(" not in plan


def test_equality_delete_scoping_broadcasts_delete_dim(spark):
    """Iceberg equality-delete application: the delete-file dimension
    broadcasts into the scoping join; the data-file side (corpus
    scale) is never broadcast or cartesian-joined."""
    import json as _json

    from pyspark.sql import Row as R

    from trollflow2_spark.extensions.avro import write_container
    from trollflow2_spark.extensions.iceberg import (
        MANIFEST_LIST_V2_SCHEMA,
        snapshot_partition_summary,
    )

    mseq = {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "partition", "type": "string"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
    dseq = {
        "type": "record", "name": "delete_manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "file_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "record_count", "type": "long"},
            {"name": "file_size", "type": "long"},
            {"name": "sequence_number", "type": "long"},
        ],
    }
    idrow = {"type": "record", "name": "data_row",
             "fields": [{"name": "id", "type": "long"}]}
    m1 = write_container(
        [{"status": 1, "file_path": "a", "partition": "p0",
          "record_count": 3, "file_size": 10, "sequence_number": 1}],
        mseq,
    )
    dm = write_container(
        [{"status": 1, "file_path": "ed", "content": 2,
          "record_count": 1, "file_size": 10, "sequence_number": 2}],
        dseq,
    )
    mlist = write_container(
        [{"manifest_path": p, "added_files_count": 0,
          "deleted_files_count": 0, "content": c}
         for p, c in (("m1", 0), ("dm", 1))],
        MANIFEST_LIST_V2_SCHEMA,
    )
    blobs = spark.createDataFrame(
        [
            R(path="m1", blob=m1),
            R(path="dm", blob=dm),
            R(path="a", blob=write_container(
                [{"id": i} for i in range(3)], idrow)),
            R(path="ed", blob=write_container([{"id": 1}], idrow)),
            R(path="l1", blob=mlist),
        ]
    )
    md = _json.dumps({
        "format-version": 2, "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                       "manifest-list": "l1"}],
    })
    out = snapshot_partition_summary(
        spark, md, blobs, equality_id_fields=["id"]
    )
    plan = _formatted(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # and the values are right while we're here
    assert out.collect()[0]["n_rows"] == 2
