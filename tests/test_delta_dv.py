"""Delta deletion vectors: Z85 / RoaringBitmapArray codec conformance
and DV-aware log replay (VERDICT r13 "What's missing #1")."""

import json
import struct
import uuid
import zlib

import pytest

from trollflow2_spark.extensions.roaring import (
    RoaringError,
    decode_dv_data,
    decode_dv_file_at,
    decode_dv_inline,
    decode_rbm_array,
    dv_relative_path,
    encode_dv_data,
    encode_rbm_array,
    frame_dv_file,
    z85_decode,
    z85_encode,
)


class TestZ85:
    def test_spec_vector(self):
        # the ZeroMQ RFC 32 "HelloWorld" test case
        assert z85_encode(bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59,
                                 0xF7, 0x5B])) == "HelloWorld"
        assert z85_decode("HelloWorld") == bytes(
            [0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B]
        )

    def test_round_trip(self):
        for n in (0, 4, 8, 64, 256):
            data = bytes((i * 37 + 11) % 256 for i in range(n))
            assert z85_decode(z85_encode(data)) == data

    def test_bad_length_and_chars(self):
        with pytest.raises(RoaringError):
            z85_encode(b"abc")
        with pytest.raises(RoaringError):
            z85_decode("abcd")
        with pytest.raises(RoaringError):
            z85_decode('"""""')


class TestRoaring:
    def test_round_trips(self):
        cases = [
            [],
            [0],
            [0, 1, 2, 5, 65535, 65536, 70000],
            list(range(5000)),  # forces a bitmap container
            [2**33 + 5, 2**33 + 6, 7, 2**40],  # multiple high keys
            list(range(0, 200000, 3)),
        ]
        for c in cases:
            assert decode_rbm_array(encode_rbm_array(c)) == sorted(set(c))

    def test_run_container_decode(self):
        # hand-built run-cookie bitmap: one container, runs 3..9, 20..20
        rb = (
            struct.pack("<I", 12347)  # cookie, size-1=0 in upper bits
            + b"\x01"  # run flag bitset: container 0 is a run
            + struct.pack("<HH", 0, 8)  # key 0, cardinality-1
            + struct.pack("<HHHHH", 2, 3, 6, 20, 0)  # 2 runs
        )
        arr = struct.pack("<qi", 1, 0) + rb
        assert decode_rbm_array(arr) == list(range(3, 10)) + [20]

    def test_trailing_garbage_raises(self):
        with pytest.raises(RoaringError):
            decode_rbm_array(encode_rbm_array([1, 2]) + b"\x00")

    def test_bad_magic(self):
        with pytest.raises(RoaringError):
            decode_dv_data(b"\x00\x00\x00\x00" + encode_rbm_array([1]))


class TestDvFraming:
    def test_inline(self):
        data = encode_dv_data([3, 1, 4, 1, 5, 2**34])
        padded = data + b"\x00" * ((-len(data)) % 4)
        z = z85_encode(padded)
        assert decode_dv_inline(z, len(data)) == [1, 3, 4, 5, 2**34]

    def test_file_round_trip_and_crc(self):
        d1, d2 = encode_dv_data([1, 2, 99]), encode_dv_data(range(100))
        blob, offs = frame_dv_file([d1, d2])
        assert blob[0] == 1
        assert decode_dv_file_at(blob, offs[0], len(d1)) == [1, 2, 99]
        assert decode_dv_file_at(blob, offs[1], len(d2)) == list(range(100))
        corrupt = bytearray(blob)
        corrupt[offs[0] + 6] ^= 0xFF
        with pytest.raises(RoaringError):
            decode_dv_file_at(bytes(corrupt), offs[0], len(d1))
        with pytest.raises(RoaringError):
            decode_dv_file_at(blob, offs[0], len(d1) + 1)

    def test_uuid_path(self):
        u = uuid.uuid5(uuid.NAMESPACE_DNS, "dv")
        assert dv_relative_path(z85_encode(u.bytes)) == (
            f"deletion_vector_{u}.bin"
        )
        assert dv_relative_path("ab" + z85_encode(u.bytes)) == (
            f"ab/deletion_vector_{u}.bin"
        )


def _dv_add(path, size, nrec, positions=None, storage="i",
            payload=None, offset=None):
    add = {"path": path, "size": size,
           "stats": json.dumps({"numRecords": nrec})}
    if positions is not None or payload is not None:
        if storage == "i":
            data = encode_dv_data(positions)
            payload = z85_encode(data + b"\x00" * ((-len(data)) % 4))
            size_b, offset = len(data), None
            card = len(set(positions))
        else:
            data = encode_dv_data(positions)
            size_b = len(data)
            card = len(set(positions))
        add["deletionVector"] = {
            "storageType": storage,
            "pathOrInlineDv": payload,
            "sizeInBytes": size_b,
            "cardinality": card,
            **({"offset": offset} if offset is not None else {}),
        }
    return json.dumps({"add": add})


class TestDeltaDvReplay:
    def test_snapshot_stats_and_dv_replacement(self, spark):
        from trollflow2_spark.extensions.profile import (
            delta_dv_positions,
            delta_log_snapshot,
        )

        lines = [
            (0, _dv_add("a", 10, 100)),  # no DV
            (0, _dv_add("b", 20, 50, [0, 1, 2])),
            (1, _dv_add("b", 20, 50, [0, 1, 2, 7, 9])),  # DV replaced
            (0, _dv_add("c", 5, 30, [4])),
            (1, json.dumps({"remove": {"path": "c"}})),
        ]
        log = spark.createDataFrame(lines, "version int, line string")
        snap = delta_log_snapshot(log, stats=True)
        rows = {r["path"]: r for r in snap.collect()}
        assert set(rows) == {"a", "b"}
        assert rows["a"]["num_records"] == 100
        assert rows["a"]["dv_cardinality"] == 0
        assert rows["a"]["live_records"] == 100
        assert rows["b"]["dv_cardinality"] == 5  # replacement won
        assert rows["b"]["live_records"] == 45
        pos = sorted(
            (r["path"], r["pos"])
            for r in delta_dv_positions(snap).collect()
        )
        assert pos == [("b", 0), ("b", 1), ("b", 2), ("b", 7), ("b", 9)]

    def test_default_output_unchanged(self, spark):
        from trollflow2_spark.extensions.profile import delta_log_snapshot

        log = spark.createDataFrame(
            [(0, _dv_add("a", 10, 100, [1]))], "version int, line string"
        )
        snap = delta_log_snapshot(log)
        assert snap.columns == ["path", "size", "last_version"]

    def test_on_disk_dv_and_checkpoint(self, spark):
        from trollflow2_spark.extensions.profile import (
            delta_dv_positions,
            delta_log_snapshot,
            delta_snapshot_from_checkpoint,
        )

        u1 = uuid.uuid5(uuid.NAMESPACE_DNS, "dv1")
        d1 = encode_dv_data([2, 3, 5])
        d2 = encode_dv_data([1])
        blob, offs = frame_dv_file([d1, d2])
        fname = f"deletion_vector_{u1}.bin"
        lines = [
            (0, _dv_add("x", 9, 40, [2, 3, 5], storage="u",
                        payload=z85_encode(u1.bytes), offset=offs[0])),
            (0, _dv_add("y", 9, 40, [1], storage="p",
                        payload=fname, offset=offs[1])),
        ]
        # storage "u"/"p" need explicit sizeInBytes/cardinality: patch
        fixed = []
        for v, line in lines:
            d = json.loads(line)
            dv = d["add"]["deletionVector"]
            data = d1 if d["add"]["path"] == "x" else d2
            dv["sizeInBytes"] = len(data)
            dv["cardinality"] = 3 if d["add"]["path"] == "x" else 1
            fixed.append((v, json.dumps(d)))
        log = spark.createDataFrame(fixed, "version int, line string")
        dv_files = spark.createDataFrame(
            [(fname, bytearray(blob))], "path string, blob binary"
        )
        snap = delta_log_snapshot(log, stats=True)
        pos = sorted(
            (r["path"], r["pos"])
            for r in delta_dv_positions(snap, dv_files).collect()
        )
        assert pos == [("x", 2), ("x", 3), ("x", 5), ("y", 1)]
        # checkpoint replay carries DVs through the base rows
        cp_rows = [
            json.loads(line)["add"] for _v, line in fixed
        ]
        import pyspark.sql.types as T

        dv_t = T.StructType([
            T.StructField("storageType", T.StringType()),
            T.StructField("pathOrInlineDv", T.StringType()),
            T.StructField("offset", T.LongType()),
            T.StructField("sizeInBytes", T.LongType()),
            T.StructField("cardinality", T.LongType()),
        ])
        cp_schema = T.StructType([
            T.StructField("add", T.StructType([
                T.StructField("path", T.StringType()),
                T.StructField("size", T.LongType()),
                T.StructField("stats", T.StringType()),
                T.StructField("deletionVector", dv_t),
            ])),
            T.StructField("remove", T.StructType(
                [T.StructField("path", T.StringType())]
            )),
        ])
        cp = spark.createDataFrame(
            [
                (
                    (
                        a["path"],
                        a["size"],
                        a["stats"],
                        (
                            a["deletionVector"]["storageType"],
                            a["deletionVector"]["pathOrInlineDv"],
                            a["deletionVector"].get("offset"),
                            a["deletionVector"]["sizeInBytes"],
                            a["deletionVector"]["cardinality"],
                        ),
                    ),
                    None,
                )
                for a in cp_rows
            ],
            cp_schema,
        )
        empty_log = spark.createDataFrame([], "version int, line string")
        snap2 = delta_snapshot_from_checkpoint(
            cp, empty_log, checkpoint_version=0, stats=True
        )
        got = {r["path"]: r["live_records"] for r in snap2.collect()}
        assert got == {"x": 37, "y": 39}

    def test_missing_dv_file_raises(self, spark):
        from trollflow2_spark.extensions.profile import (
            delta_dv_positions,
            delta_log_snapshot,
        )

        u1 = uuid.uuid5(uuid.NAMESPACE_DNS, "missing")
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
        dv_files = spark.createDataFrame(
            [("other.bin", bytearray(b"\x01"))], "path string, blob binary"
        )
        snap = delta_log_snapshot(log, stats=True)
        with pytest.raises(Exception, match="not found"):
            delta_dv_positions(snap, dv_files).collect()

    def test_changes_live_records(self, spark):
        from trollflow2_spark.extensions.profile import delta_log_changes

        lines = [
            (0, _dv_add("a", 10, 100)),
            (1, _dv_add("a", 10, 100, [0, 1])),  # DV added at v1
            (0, _dv_add("b", 7, 50)),
        ]
        log = spark.createDataFrame(lines, "version int, line string")
        out = {
            r["path"]: r
            for r in delta_log_changes(
                log, from_version=0, to_version=1, stats=True
            ).collect()
        }
        assert set(out) == {"a"}  # b unchanged, suppressed
        assert out["a"]["change"] == "updated"
        assert out["a"]["live_records_old"] == 100
        assert out["a"]["live_records_new"] == 98


class TestDeltaProtocolGate:
    def _info(self, protocol, meta=None):
        import json

        from trollflow2_spark.extensions.profile import delta_table_info

        lines = [json.dumps({"protocol": protocol})]
        if meta is not None:
            lines.append(json.dumps({"metaData": meta}))
        return delta_table_info(lines)

    def test_v1_and_dv_feature_readable(self):
        info = self._info({"minReaderVersion": 1, "minWriterVersion": 2})
        assert info["protocol"]["min_reader"] == 1
        info = self._info(
            {"minReaderVersion": 3, "minWriterVersion": 7,
             "readerFeatures": ["deletionVectors"]},
            {"schemaString": json.dumps({"type": "struct", "fields": [
                {"name": "id", "type": "long"}]}),
             "partitionColumns": ["region"],
             "configuration": {}},
        )
        assert info["schema_fields"] == [("id", "long")]
        assert info["partition_columns"] == ["region"]

    def test_column_mapping_modes(self):
        # 'id' mode needs parquet field-ID resolution -> refuses
        with pytest.raises(ValueError, match="'id'"):
            self._info(
                {"minReaderVersion": 2},
                {"configuration":
                    {"delta.columnMapping.mode": "id"}},
            )
        # 'name' mode without a schemaString cannot resolve -> loud
        with pytest.raises(ValueError, match="schemaString"):
            self._info(
                {"minReaderVersion": 2},
                {"configuration":
                    {"delta.columnMapping.mode": "name"}},
            )
        # 'name' with annotations resolves physical -> logical
        sch = {"type": "struct", "fields": [
            {"name": "amount", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName":
                              "col-ab12"}},
        ]}
        info = self._info(
            {"minReaderVersion": 2},
            {"configuration": {"delta.columnMapping.mode": "name"},
             "schemaString": json.dumps(sch)},
        )
        assert info["column_mapping"] == {"col-ab12": "amount"}
        # half-annotated mapped schema is corrupt -> loud
        sch["fields"].append(
            {"name": "bare", "type": "long", "metadata": {}}
        )
        with pytest.raises(ValueError, match="physicalName"):
            self._info(
                {"minReaderVersion": 2},
                {"configuration":
                    {"delta.columnMapping.mode": "name"},
                 "schemaString": json.dumps(sch)},
            )
        # mode absent -> readable, empty mapping
        info = self._info({"minReaderVersion": 2}, {"configuration": {}})
        assert info["protocol"]["min_reader"] == 2
        assert info["column_mapping"] == {}

    def test_unknown_reader_feature_refuses(self):
        with pytest.raises(ValueError, match="v2Checkpoint"):
            self._info(
                {"minReaderVersion": 3,
                 "readerFeatures": ["deletionVectors", "v2Checkpoint"]}
            )

    def test_future_version_and_missing_protocol_refuse(self):
        with pytest.raises(ValueError, match="beyond protocol"):
            self._info({"minReaderVersion": 4})
        from trollflow2_spark.extensions.profile import delta_table_info

        with pytest.raises(ValueError, match="no protocol"):
            delta_table_info(['{"add": {"path": "x"}}'])


class TestRoaringProperty:
    def test_property_round_trip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from trollflow2_spark.extensions.roaring import (
            decode_rbm_array,
            encode_rbm_array,
        )

        @settings(max_examples=150, deadline=None)
        @given(
            st.lists(
                st.one_of(
                    st.integers(min_value=0, max_value=1 << 20),
                    st.integers(min_value=0, max_value=(1 << 40)),
                ),
                max_size=3000,
            )
        )
        def check(xs):
            assert decode_rbm_array(encode_rbm_array(xs)) == sorted(
                set(xs)
            )

        check()

    def test_property_dv_inline_round_trip(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from trollflow2_spark.extensions.roaring import (
            decode_dv_inline,
            encode_dv_data,
            z85_encode,
        )

        @settings(max_examples=60, deadline=None)
        @given(st.sets(st.integers(min_value=0, max_value=1 << 33),
                       max_size=500))
        def check(xs):
            data = encode_dv_data(xs)
            z = z85_encode(data + b"\x00" * ((-len(data)) % 4))
            assert decode_dv_inline(z, len(data)) == sorted(xs)

        check()

    def test_truncation_never_crashes(self):
        """Every prefix of a valid encoding must raise RoaringError,
        never IndexError/struct.error — the quarantine contract."""
        import pytest as _pytest

        from trollflow2_spark.extensions.roaring import (
            RoaringError,
            decode_rbm_array,
            encode_rbm_array,
        )

        full = encode_rbm_array(list(range(0, 9000, 2)) + [2**35])
        for cut in range(0, len(full), 257):
            if cut == len(full):
                continue
            with _pytest.raises(RoaringError):
                decode_rbm_array(full[:cut])


class TestDeltaCdfAndTsTravel:
    def test_version_as_of(self, spark):
        from trollflow2_spark.extensions.profile import delta_version_as_of

        log = spark.createDataFrame(
            [
                (0, '{"commitInfo":{"timestamp":1000}}'),
                (1, '{"commitInfo":{"timestamp":2000}}'),
                (1, '{"add":{"path":"a","size":1}}'),
                (2, '{"commitInfo":{"timestamp":3000}}'),
            ],
            "version int, line string",
        )
        assert delta_version_as_of(log, 2500) == 1
        assert delta_version_as_of(log, 3000) == 2
        with pytest.raises(ValueError, match="history starts later"):
            delta_version_as_of(log, 500)

    def test_cdf_routing_excludes_shadow_adds(self, spark):
        from trollflow2_spark.extensions.profile import delta_cdf_files

        log = spark.createDataFrame(
            [
                (1, '{"cdc":{"path":"c1","size":5}}'),
                (1, '{"add":{"path":"shadow","size":9}}'),  # must drop
                (2, '{"add":{"path":"a2","size":7}}'),
                (2, '{"remove":{"path":"r2"}}'),
                (3, '{"add":{"path":"out-of-window","size":1}}'),
            ],
            "version int, line string",
        )
        rows = sorted(
            (r["version"], r["path"], r["source"])
            for r in delta_cdf_files(log, 1, 2).collect()
        )
        assert rows == [
            (1, "c1", "cdc"),
            (2, "a2", "add"),
            (2, "r2", "remove"),
        ]
