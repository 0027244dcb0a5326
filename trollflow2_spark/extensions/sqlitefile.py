"""SQLite database-file intake — a from-scratch b-tree page reader.

SQLite files are one of the most common "a dataset showed up as a
single file" formats a corpus pipeline meets (app exports, research
datasets, scraped telemetry), so the lakehouse ingests ``.sqlite``
blobs next to msgpack/protobuf/Avro. This reader parses the public
file format (https://www.sqlite.org/fileformat2.html) directly from
bytes — no sqlite3 linkage on the executor hot path:

- 100-byte header (magic, page size incl. the 65536 sentinel,
  reserved-bytes-per-page, text encoding — UTF-8 only, others flagged);
- table b-tree walk: interior (type 5) and leaf (type 13) pages via
  the cell pointer array, rowid varints, right-most pointers;
- record format: header varint + serial types (NULL / 1-8 byte signed
  big-endian ints / float64 / the 0-1 literals / blob / text), with
  the leaf-table payload spill rule (maxLocal/minLocal/K) and
  overflow-page chaining done per spec;
- ``sqlite_master`` parsed the same way to resolve table root pages
  and CREATE TABLE column names; an INTEGER PRIMARY KEY column is the
  rowid alias (stored as NULL in the record, substituted on read).

The Spark contract matches the other binary intakes: one Arrow
``mapInPandas`` pass, one canonical sorted-key JSON row per record so
downstream cuts are native ``from_json`` Column algebra, and corrupt
files yield ONE quarantine row with ``error`` set — loud, never
silent garbage. The stdlib ``sqlite3`` module is the reference
implementation used only to AUTHOR fixtures and conformance-check the
from-scratch reader (the pyarrow pattern from `extensions/arrowipc.py`).
"""

from __future__ import annotations

import json
import struct
from typing import Iterator

from pyspark.sql import DataFrame, types as T

__all__ = [
    "read_sqlite_blobs",
    "parse_sqlite",
    "write_sqlite_blob",
    "SQLITE_ROWS_SCHEMA",
]

MAGIC = b"SQLite format 3\x00"

SQLITE_ROWS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rowid", T.LongType()),
        T.StructField("json", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_INT_WIDTH = {1: 1, 2: 2, 3: 3, 4: 4, 5: 6, 6: 8}


def _varint(buf: memoryview, off: int) -> tuple[int, int]:
    """Big-endian 7-bit varint, 9th byte carries 8 bits (spec 'A
    variable-length integer'); returns (value, bytes consumed)."""
    v = 0
    for i in range(8):
        b = buf[off + i]
        v = (v << 7) | (b & 0x7F)
        if not b & 0x80:
            return v, i + 1
    v = (v << 8) | buf[off + 8]
    return v, 9


def _decode_serial(t: int, buf: bytes, off: int):
    """Decode one serial-type value; returns (value, bytes consumed)."""
    if t == 0:
        return None, 0
    if 1 <= t <= 6:
        n = _INT_WIDTH[t]
        return int.from_bytes(buf[off : off + n], "big", signed=True), n
    if t == 7:
        return struct.unpack(">d", buf[off : off + 8])[0], 8
    if t == 8:
        return 0, 0
    if t == 9:
        return 1, 0
    if t >= 12 and t % 2 == 0:
        n = (t - 12) // 2
        return bytes(buf[off : off + n]), n
    if t >= 13:
        n = (t - 13) // 2
        return bytes(buf[off : off + n]).decode("utf-8"), n
    raise ValueError(f"reserved serial type {t}")


def _decode_record(payload: bytes) -> list:
    hlen, n = _varint(memoryview(payload), 0)
    types = []
    off = n
    while off < hlen:
        t, n = _varint(memoryview(payload), off)
        types.append(t)
        off += n
    vals = []
    off = hlen
    for t in types:
        v, n = _decode_serial(t, payload, off)
        vals.append(v)
        off += n
    return vals


class _Db:
    def __init__(self, data: bytes):
        if data[:16] != MAGIC:
            raise ValueError("not a SQLite 3 file (bad magic)")
        ps = int.from_bytes(data[16:18], "big")
        self.page_size = 65536 if ps == 1 else ps
        self.reserved = data[20]
        self.usable = self.page_size - self.reserved
        enc = int.from_bytes(data[56:60], "big")
        if enc not in (0, 1):  # 0 on never-written dbs; 1 = UTF-8
            raise ValueError(f"unsupported text encoding {enc}")
        if len(data) < self.page_size:
            raise ValueError("truncated file (shorter than one page)")
        self.data = data

    def page(self, pgno: int) -> bytes:
        start = (pgno - 1) * self.page_size
        end = start + self.page_size
        if pgno < 1 or end > len(self.data):
            raise ValueError(f"page {pgno} out of file bounds")
        return self.data[start:end]

    def _overflow_payload(self, local: bytes, nxt: int, total: int) -> bytes:
        parts = [local]
        got = len(local)
        seen = set()
        while nxt:
            if nxt in seen:
                raise ValueError("overflow page cycle")
            seen.add(nxt)
            pg = self.page(nxt)
            nxt = int.from_bytes(pg[:4], "big")
            parts.append(pg[4 : 4 + min(self.usable - 4, total - got)])
            got += len(parts[-1])
        payload = b"".join(parts)
        if len(payload) < total:
            raise ValueError("overflow chain shorter than payload length")
        return payload[:total]

    def _leaf_cell_payload(self, pg: bytes, off: int) -> tuple[int, bytes]:
        mv = memoryview(pg)
        plen, n1 = _varint(mv, off)
        rowid, n2 = _varint(mv, off + n1)
        off += n1 + n2
        u = self.usable
        x = u - 35
        if plen <= x:
            return rowid, bytes(pg[off : off + plen])
        m = ((u - 12) * 32) // 255 - 23
        k = m + (plen - m) % (u - 4)
        local = k if k <= x else m
        nxt = int.from_bytes(pg[off + local : off + local + 4], "big")
        return rowid, self._overflow_payload(
            bytes(pg[off : off + local]), nxt, plen
        )

    def walk_table(self, rootpage: int, _depth: int = 0):
        """Yield (rowid, payload bytes) over a table b-tree in rowid
        order — interior pages left-to-right then right-most."""
        if _depth > 64:
            raise ValueError("b-tree deeper than 64 levels (corrupt)")
        pg = self.page(rootpage)
        hdr = 100 if rootpage == 1 else 0
        ptype = pg[hdr]
        ncells = int.from_bytes(pg[hdr + 3 : hdr + 5], "big")
        if ptype == 13:  # leaf table
            base = hdr + 8
            for i in range(ncells):
                off = int.from_bytes(
                    pg[base + 2 * i : base + 2 * i + 2], "big"
                )
                yield self._leaf_cell_payload(pg, off)
        elif ptype == 5:  # interior table
            base = hdr + 12
            for i in range(ncells):
                off = int.from_bytes(
                    pg[base + 2 * i : base + 2 * i + 2], "big"
                )
                child = int.from_bytes(pg[off : off + 4], "big")
                yield from self.walk_table(child, _depth + 1)
            right = int.from_bytes(pg[hdr + 8 : hdr + 12], "big")
            yield from self.walk_table(right, _depth + 1)
        else:
            raise ValueError(f"page {rootpage}: not a table b-tree page")


def _split_columns(defn: str) -> list[str]:
    """Split a CREATE TABLE column list on depth-0 commas."""
    parts, depth, cur = [], 0, []
    for ch in defn:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


_CONSTRAINT_WORDS = {
    "primary", "unique", "check", "foreign", "constraint",
}


def _parse_create(sql: str) -> tuple[list[str], int]:
    """Column names + the INTEGER PRIMARY KEY ordinal (rowid alias,
    -1 if none) from a CREATE TABLE statement."""
    lo, hi = sql.index("("), sql.rindex(")")
    cols, ipk = [], -1
    for part in _split_columns(sql[lo + 1 : hi]):
        part = part.strip()
        if not part:
            continue
        head = part.split()[0].strip('"`[]').lower()
        if head in _CONSTRAINT_WORDS:
            continue
        name = part.split()[0].strip('"`[]')
        rest = part[len(part.split()[0]) :].lower()
        if "integer" in rest and "primary key" in rest:
            ipk = len(cols)
        cols.append(name)
    return cols, ipk


def parse_sqlite(data: bytes) -> dict[str, list[tuple[int, dict]]]:
    """Parse every user table in a SQLite file from scratch; returns
    {table_name: [(rowid, {col: value}), ...]} in rowid order."""
    db = _Db(data)
    out: dict[str, list[tuple[int, dict]]] = {}
    # sqlite_master root is page 1: (type, name, tbl_name, rootpage, sql)
    for _rowid, payload in db.walk_table(1):
        vals = _decode_record(payload)
        if len(vals) < 5 or vals[0] != "table":
            continue
        name, rootpage, sql = vals[1], vals[3], vals[4]
        if name.startswith("sqlite_"):
            continue
        cols, ipk = _parse_create(sql)
        rows = []
        for rowid, pl in db.walk_table(rootpage):
            rec = _decode_record(pl)
            row = {}
            for i, c in enumerate(cols):
                v = rec[i] if i < len(rec) else None
                if i == ipk and v is None:
                    v = rowid  # rowid-alias column stores NULL
                row[c] = v
            rows.append((rowid, row))
        out[name] = rows
    return out


def write_sqlite_blob(
    schema_sql: str, table: str, rows: list[tuple], page_size: int = 512
) -> bytes:
    """Author a SQLite file with the stdlib reference implementation
    (fixtures + conformance only; the reader never touches sqlite3)."""
    import sqlite3

    conn = sqlite3.connect(":memory:")
    conn.execute(f"PRAGMA page_size={page_size}")
    conn.execute(schema_sql)
    if rows:
        ph = ",".join("?" * len(rows[0]))
        conn.executemany(f"INSERT INTO {table} VALUES ({ph})", rows)
    conn.commit()
    blob = conn.serialize()
    conn.close()
    return bytes(blob)


def _canonical(v):
    if isinstance(v, bytes):
        return v.hex()
    return v


def read_sqlite_blobs(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Parse a SQLite-file blob column: one canonical-JSON row per
    record of ``table`` (+ one quarantine row per unreadable file)."""

    def kernel(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                did = int(did)
                try:
                    tables = parse_sqlite(bytes(blob))
                    if table not in tables:
                        raise ValueError(f"table {table!r} not in file")
                    recs = tables[table]
                except (ValueError, IndexError, KeyError, struct.error,
                        UnicodeDecodeError) as e:
                    out.append((did, None, None, f"{type(e).__name__}: {e}"))
                    continue
                for rowid, row in recs:
                    out.append(
                        (
                            did,
                            rowid,
                            json.dumps(
                                {k: _canonical(v) for k, v in row.items()},
                                sort_keys=True,
                                separators=(",", ":"),
                            ),
                            None,
                        )
                    )
            yield pd.DataFrame(
                out, columns=["doc_id", "rowid", "json", "error"]
            )

    return df.mapInPandas(kernel, SQLITE_ROWS_SCHEMA)
