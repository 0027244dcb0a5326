"""Conformance tests for the from-scratch SQLite b-tree reader
(`extensions/sqlitefile.py`) — the stdlib sqlite3 module is the
reference implementation the parser is pinned against."""

import sqlite3

import pytest
from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.sqlitefile import (
    parse_sqlite,
    read_sqlite_blobs,
    write_sqlite_blob,
)

SCHEMA = (
    "CREATE TABLE t(id INTEGER PRIMARY KEY, name TEXT, score REAL, "
    "data BLOB, flag INTEGER, big INTEGER)"
)


def _reference_rows(blob, table="t"):
    conn = sqlite3.connect(":memory:")
    conn.deserialize(blob)
    cur = conn.execute(f"SELECT rowid, * FROM {table} ORDER BY rowid")
    cols = [d[0] for d in cur.description][1:]
    out = [(r[0], dict(zip(cols, r[1:]))) for r in cur.fetchall()]
    conn.close()
    return out


def test_serial_types_round_trip():
    # every serial-type class: NULL, 1/2/3/4/6/8-byte signed ints,
    # float, the 0/1 literals, blob, text
    rows = [
        (1, None, 0.5, b"\x00\xff", 0, 0),
        (2, "x", -1.25, b"", 1, 1),
        (3, "neg", 3.0, b"abc", 1, -1),
        (4, "w1", 1e300, b"\x80", 0, 127),
        (5, "w2", -0.0, b"12", 1, -129),
        (6, "w3", 2.0, b"x", 0, 40000),
        (7, "w4", 4.0, b"y", 1, -(1 << 22)),
        (8, "w5", 5.0, b"z", 0, 1 << 30),
        (9, "w6", 6.0, b"q", 1, -(1 << 44)),
        (10, "w7", 7.0, b"r", 0, (1 << 62)),
    ]
    blob = write_sqlite_blob(SCHEMA, "t", rows)
    got = parse_sqlite(blob)["t"]
    assert got == _reference_rows(blob)


def test_overflow_chain_and_small_pages():
    # 512-byte pages force overflow for long text AND interior pages
    rows = [(i, "T" * (i * 137 % 3000), i / 3.0, bytes([i % 256]) * (i % 50),
             i % 2, i * i) for i in range(1, 300)]
    blob = write_sqlite_blob(SCHEMA, "t", rows, page_size=512)
    got = parse_sqlite(blob)["t"]
    assert got == _reference_rows(blob)


def test_multi_level_btree_rowid_order():
    rows = [(i, f"n{i}", float(i), b"", i % 2, i) for i in range(1, 5001)]
    blob = write_sqlite_blob(SCHEMA, "t", rows, page_size=512)
    got = parse_sqlite(blob)["t"]
    assert [r for r, _ in got] == list(range(1, 5001))
    assert got[4321][1]["name"] == "n4322"


def test_rowid_alias_substitution():
    # the INTEGER PRIMARY KEY column is stored as NULL; reads as rowid
    blob = write_sqlite_blob(SCHEMA, "t", [(42, "a", 1.0, b"", 0, 7)])
    (rowid, row), = parse_sqlite(blob)["t"]
    assert rowid == 42 and row["id"] == 42


def test_multiple_tables_and_master_filter():
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE a(x INTEGER, y TEXT)")
    conn.execute("CREATE TABLE b(z REAL)")
    conn.execute("CREATE INDEX idx_a ON a(x)")  # index b-trees skipped
    conn.executemany("INSERT INTO a VALUES (?, ?)", [(1, "p"), (2, "q")])
    conn.execute("INSERT INTO b VALUES (2.5)")
    conn.commit()
    out = parse_sqlite(bytes(conn.serialize()))
    conn.close()
    assert set(out) == {"a", "b"}
    assert [r["y"] for _, r in out["a"]] == ["p", "q"]
    assert out["b"][0][1]["z"] == 2.5


def test_corrupt_inputs_flagged():
    blob = write_sqlite_blob(SCHEMA, "t", [(1, "a", 1.0, b"", 0, 1)])
    for bad in (b"", b"not a db", blob[:50], blob[:300]):
        with pytest.raises(ValueError):
            parse_sqlite(bad)


def test_spark_reader_shape_and_quarantine(spark):
    good = write_sqlite_blob(SCHEMA, "t", [(1, "a", 1.0, b"\x01", 0, 5)])
    df = spark.createDataFrame(
        [Row(doc_id=1, blob=good), Row(doc_id=2, blob=good[:40])]
    )
    out = read_sqlite_blobs(df, "t").collect()
    by_doc = {r.doc_id: r for r in out}
    assert by_doc[1].error is None and by_doc[1].rowid == 1
    assert '"data":"01"' in by_doc[1].json
    assert by_doc[2].error is not None and by_doc[2].json is None
    assert len(out) == 2
