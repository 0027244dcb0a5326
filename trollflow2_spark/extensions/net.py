"""IP-network enrichment: longest-prefix-match CIDR joins.

The crawl tier keys politeness and provenance on hostnames
(`extensions/warc.py:host_of_url`); real crawl/serving logs key on IP
addresses, and the canonical enrichment is a point-in-range join
against a CIDR table (GeoIP / BGP-ASN / allowlist blocks) with
*longest-prefix* precedence — an operator the reference has no
counterpart for (its inputs are already resolved filenames;
trollflow2 never touches network metadata) and Spark has no native
join type for.

Spark-first shape, designed for the real table sizes:

- a full IPv4 BGP table is ~1M routes (tens of MB) — broadcastable;
  the 100 TB side is the point (log/crawl) table, which never
  shuffles for the match itself;
- a naive ``point BETWEEN start AND end`` broadcast join is a
  BroadcastNestedLoopJoin — O(points x ranges) comparisons. Instead
  each CIDR is exploded onto the fixed /16 grid it covers
  (``2^(16 - prefix_len)`` buckets for prefixes shorter than /16 —
  bounded by 256 for the /8s that make up the short tail of a route
  table; exactly 1 bucket otherwise) and the join becomes an
  EQUI hash join on ``ip >> 16`` with a residual range filter —
  broadcastable, codegen-friendly, no nested loop;
- longest-prefix precedence is one ``max_by`` hash aggregation over
  the match rows, keyed by the point id — map-side combinable, and
  the per-key group is bounded by the route table's maximum overlap
  depth (single digits in practice), never by data volume.

Everything is pure Column algebra: no UDFs, no Python in the row
path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "ipv4_to_long",
    "long_to_ipv4",
    "cidr_bounds",
    "cidr_enrich",
]

_BUCKET_SHIFT = 16  # /16 grid: 65536 buckets, 2^(16-p) per short prefix


def ipv4_to_long(col: Column) -> Column:
    """Dotted-quad string -> unsigned 32-bit value in a LONG.

    Malformed addresses (missing octets, non-numeric, out-of-range
    octets) resolve to NULL rather than a wrong number.
    """
    parts = F.split(col, r"\.")
    # try_cast, not cast: ANSI mode makes a plain cast of junk THROW
    # mid-scan; malformed input must degrade to NULL instead
    octets = [F.element_at(parts, i + 1).try_cast("long") for i in range(4)]
    valid = (F.size(parts) == 4) & F.forall(
        F.transform(parts, lambda p: p.try_cast("long")),
        lambda o: o.isNotNull() & (o >= 0) & (o <= 255),
    )
    packed = (
        F.shiftleft(octets[0], 24)
        + F.shiftleft(octets[1], 16)
        + F.shiftleft(octets[2], 8)
        + octets[3]
    )
    return F.when(valid, packed)


def long_to_ipv4(col: Column) -> Column:
    """Unsigned 32-bit LONG -> dotted-quad string."""
    return F.concat_ws(
        ".",
        F.shiftright(col, 24).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(col, 16).bitwiseAND(F.lit(255)).cast("string"),
        F.shiftright(col, 8).bitwiseAND(F.lit(255)).cast("string"),
        col.bitwiseAND(F.lit(255)).cast("string"),
    )


def cidr_bounds(cidr: Column) -> Column:
    """``a.b.c.d/p`` -> struct(start, end, prefix_len).

    The base address is masked to the prefix (``10.3.7.9/16`` means
    the block ``10.3.0.0 - 10.3.255.255``), matching router/GeoIP
    semantics. Invalid prefixes (not 0-32) or bases yield NULL
    fields.
    """
    base = ipv4_to_long(F.split(cidr, "/").getItem(0))
    plen = F.split(cidr, "/").getItem(1).try_cast("int")
    plen = F.when((plen >= 0) & (plen <= 32), plen)
    # block size 2^(32-p); mask via a shift pair (no 64-bit ~ needed:
    # start = (base >> (32-p)) << (32-p)). The Python shiftleft/
    # shiftright wrappers only take literal counts, so the
    # variable-count shifts go through call_function.
    host_bits = (F.lit(32) - plen).cast("int")
    start = F.call_function(
        "shiftleft", F.call_function("shiftright", base, host_bits), host_bits
    )
    # p == 32 -> shift by 0 is identity, block size 1. The 1 must be
    # LONG: Java int shifts mask the count by 31, so INT 1 << 32
    # would wrap to 1 and corrupt the /0 block size.
    end = start + F.call_function(
        "shiftleft", F.lit(1).cast("long"), host_bits
    ) - 1
    return F.struct(
        start.alias("start"), end.alias("end"), plen.alias("prefix_len")
    )


def cidr_enrich(
    points: DataFrame,
    ranges: DataFrame,
    id_col: str,
    ip_col: str = "ip_long",
    cidr_col: str = "cidr",
) -> DataFrame:
    """Longest-prefix-match join: every point row gains the payload
    columns of the most specific CIDR containing its IP (NULLs when
    no range matches).

    ``points`` is the big side (never shuffled for the match — the
    single exchange is the id-keyed max_by aggregation, map-side
    combinable); ``ranges`` has ``cidr_col`` plus arbitrary payload
    columns and is exploded onto the /16 grid and broadcast.
    Determinism: precedence is (longest prefix, lowest block start,
    first payload under struct ordering) — total, so duplicate-cidr
    inputs cannot flap the winner.
    """
    payload_cols = [c for c in ranges.columns if c != cidr_col]
    b = cidr_bounds(F.col(cidr_col))
    grid = (
        ranges.select(
            F.col(cidr_col).alias("__cidr"),
            b["start"].alias("__start"),
            b["end"].alias("__end"),
            b["prefix_len"].alias("__plen"),
            *[F.col(c) for c in payload_cols],
        )
        .where(F.col("__start").isNotNull())
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.shiftright(F.col("__start"), _BUCKET_SHIFT),
                    F.shiftright(F.col("__end"), _BUCKET_SHIFT),
                )
            ),
        )
    )
    ip = F.col(ip_col)
    matched = points.join(
        F.broadcast(grid),
        (F.shiftright(ip, _BUCKET_SHIFT) == F.col("__bucket"))
        & ip.between(F.col("__start"), F.col("__end")),
        "left",
    )
    point_cols = [c for c in points.columns if c != id_col]
    best = F.max_by(
        F.struct(
            F.col("__cidr").alias("cidr"),
            F.col("__plen").alias("prefix_len"),
            *[F.col(c) for c in payload_cols],
        ),
        # struct ordering: higher plen wins, then lower start (negated),
        # then payload struct order — total tie-break
        F.struct(
            F.col("__plen"),
            (-F.col("__start")).alias("__negstart"),
            *[F.col(c) for c in payload_cols],
        ),
    )
    agg = matched.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in point_cols],
        best.alias("__best"),
    )
    return agg.select(
        id_col,
        *point_cols,
        F.col("__best.cidr").alias("cidr"),
        F.col("__best.prefix_len").alias("prefix_len"),
        *[F.col(f"__best.{c}").alias(c) for c in payload_cols],
    )
