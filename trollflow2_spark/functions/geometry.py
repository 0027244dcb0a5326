"""Geometry / ephemeris functions.

The reference delegates sun-zenith-angle to pyorbital
(``/root/reference/trollflow2/plugins/__init__.py:759``) and pass/area
coverage to trollsched+pyresample spherical geometry (``:676-684,
871-902``). Spark-first treatment:

- **SZA** is a closed-form trig expression -> pure Column algebra
  (JVM-side, codegen'd, no UDF). We use the classic low-precision solar
  position approximation (declination from day-of-year + hour angle),
  accurate to ~1 degree — the same fidelity class the day/night product
  gates need. All building blocks exist verbatim in ANSI SQL, so the
  oracle reproduces it exactly.
- **Polygon coverage** requires real ephemeris + spherical polygon
  clipping; the reference degrades gracefully when its geo libs are
  missing (``plugins/__init__.py:588-591``). We mirror that: a pandas-UDF
  hook with a deterministic fallback, see :func:`coverage_percent_udf`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def _hour_frac(ts: Column) -> Column:
    return (
        F.hour(ts)
        + F.minute(ts) / F.lit(60.0)
        + F.second(ts) / F.lit(3600.0)
    )


def sun_zenith_angle_deg(ts: Column, lon: Column, lat: Column) -> Column:
    """Approximate solar zenith angle (degrees) at UTC time ``ts`` and
    position (``lon``, ``lat``) in degrees.

    declination  = -23.44° * cos(2π/365 * (doy + 10))
    hour angle   = 15° * (hour_utc - 12) + lon
    cos(sza)     = sin(lat)sin(δ) + cos(lat)cos(δ)cos(H)
    """
    doy = F.dayofyear(ts).cast("double")
    decl = F.lit(-23.44) * F.cos(
        F.lit(2.0 * math.pi / 365.0) * (doy + F.lit(10.0))
    )
    hour_angle = F.lit(15.0) * (_hour_frac(ts) - F.lit(12.0)) + lon
    cosz = F.sin(F.radians(lat)) * F.sin(F.radians(decl)) + F.cos(
        F.radians(lat)
    ) * F.cos(F.radians(decl)) * F.cos(F.radians(hour_angle))
    cosz = F.greatest(F.lit(-1.0), F.least(F.lit(1.0), cosz))
    return F.degrees(F.acos(cosz))


def SZA_SQL(ts: str, lon: str, lat: str) -> str:
    """DuckDB SQL text computing the identical SZA expression."""
    hour_frac = f"(hour({ts}) + minute({ts})/60.0 + second({ts})/3600.0)"
    decl = f"(-23.44 * cos(2*pi()/365.0 * (dayofyear({ts}) + 10.0)))"
    ha = f"(15.0 * ({hour_frac} - 12.0) + {lon})"
    cosz = (
        f"(sin(radians({lat})) * sin(radians({decl})) + "
        f"cos(radians({lat})) * cos(radians({decl})) * cos(radians({ha})))"
    )
    return f"degrees(acos(greatest(-1.0, least(1.0, {cosz}))))"


def pseudo_coverage_percent(key: Column) -> Column:
    """Deterministic stand-in for geometric pass/area coverage: maps an
    integer key to [0, 100]. Used where the reference would call its
    (optional) geo stack and we need an oracle-reproducible value; the
    *filter semantics* downstream are identical either way.
    """
    return ((key * F.lit(37)) % F.lit(101)).cast("double")


def ground_track_point(t_sec: float, node_lon: float) -> tuple[float, float]:
    """(lon, lat) of the sub-satellite point ``t_sec`` seconds after the
    ascending-node crossing at longitude ``node_lon``.

    Closed-form circular sun-synchronous orbit (public orbital
    mechanics): argument of latitude ``u = n*t``; ``lat = asin(sin i
    sin u)``; ``lon = node + atan2(cos i sin u, cos u) - ω_E t``.
    """
    from trollflow2_spark import qconst as C

    u = C.ORBIT_MEAN_MOTION * t_sec
    lat = math.degrees(math.asin(C.COV_SIN_INCL * math.sin(u)))
    lon = (
        node_lon
        + math.degrees(math.atan2(C.COV_COS_INCL * math.sin(u), math.cos(u)))
        - C.EARTH_ROT_DEG_S * t_sec
    )
    return lon, lat


def swath_coverage_percent(
    duration_sec: float,
    area_extent: tuple[float, float, float, float],
    node_lon: float | None = None,
    n_track: int | None = None,
    grid_n: int | None = None,
) -> float:
    """Pass-swath ∩ area coverage percent via the closed-form orbit
    model — the deterministic, dependency-free replacement for the
    reference's trollsched ``Pass.area_coverage``
    (``plugins/__init__.py:676-684``).

    The area (lonmin, latmin, lonmax, latmax) is sampled on a
    ``grid_n`` x ``grid_n`` grid; a sample is covered when its central
    angle to any of ``n_track`` sub-satellite points is within the half
    swath. Driver-side and config-sized (grid x track samples), like the
    reference's own per-area polygon math.
    """
    from trollflow2_spark import qconst as C

    node = C.COV_NODE_LON if node_lon is None else float(node_lon)
    nt = n_track or C.COV_TRACK_N
    g = grid_n or C.COV_GRID_N
    lonmin, latmin, lonmax, latmax = (float(v) for v in area_extent)
    track = [
        ground_track_point(k * duration_sec / max(nt - 1, 1), node)
        for k in range(nt)
    ]
    covered = 0
    for j in range(g):
        lat_g = math.radians(latmin + (j + 0.5) * (latmax - latmin) / g)
        for i in range(g):
            lon_g = lonmin + (i + 0.5) * (lonmax - lonmin) / g
            for lon_s, lat_s in track:
                cosang = (
                    math.sin(lat_g) * math.sin(math.radians(lat_s))
                    + math.cos(lat_g)
                    * math.cos(math.radians(lat_s))
                    * math.cos(math.radians(lon_g - lon_s))
                )
                ang = math.acos(max(-1.0, min(1.0, cosang)))
                if round(ang, 6) <= C.COV_HALF_SWATH_RAD:
                    covered += 1
                    break
    return round(100.0 * covered / (g * g), 4)


def coverage_percent_udf():
    """Real spherical-geometry coverage hook.

    Returns a callable ``(mda, item) -> coverage_pct`` backed by the
    closed-form orbit model when the work item carries an
    ``area_extent``; the caller (``covers_plugin``) falls back to
    warn-and-skip for items without geometry — the reference's graceful
    degradation (``plugins/__init__.py:588-591``). The pass duration is
    ``end_time - start_time``, both read by ``message_time``."""

    def cov(mda: dict, item: dict) -> float | None:
        extent = item.get("area_extent")
        if extent is None:
            return None
        from trollflow2_spark.sources.scene import message_time

        start = message_time(mda, "start_time")
        end = message_time(mda, "end_time")
        if start is not None and end is not None:
            duration = (end - start).total_seconds()
        else:
            from trollflow2_spark import qconst as C

            duration = C.COV_TRACK_STEP_S * (C.COV_TRACK_N - 1)
        return swath_coverage_percent(
            duration, tuple(extent), node_lon=mda.get("node_lon")
        )

    return cov


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lon: Column, lat: Column, precision: int = 8) -> Column:
    """Geohash of (lon, lat) at ``precision`` base-32 chars, as pure
    Column bit algebra (zero shuffle, whole-stage codegen): quantize
    each axis to its bit budget, interleave starting with longitude
    (the public geohash scheme), then cut 5-bit groups against the
    base-32 alphabet. The same arithmetic is SQL-expressible, so a
    DuckDB oracle replays it bit-for-bit (`GEOHASH_SQL`)."""
    from pyspark.sql import functions as F

    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    ix = F.least(
        F.floor((lon + 180.0) / 360.0 * (1 << lon_bits)).cast("long"),
        F.lit((1 << lon_bits) - 1),
    )
    iy = F.least(
        F.floor((lat + 90.0) / 180.0 * (1 << lat_bits)).cast("long"),
        F.lit((1 << lat_bits) - 1),
    )
    morton = F.lit(0).cast("long")
    for k in range(nbits):
        if k % 2 == 0:  # even positions from the MSB carry longitude
            src, b = ix, lon_bits - 1 - k // 2
        else:
            src, b = iy, lat_bits - 1 - k // 2
        morton = morton + (
            F.shiftleft(
                F.shiftright(src, b).bitwiseAND(F.lit(1)), nbits - 1 - k
            )
        )
    chars = [
        F.element_at(
            F.array(*[F.lit(ch) for ch in GEOHASH_ALPHABET]),
            (
                F.shiftright(morton, 5 * (precision - 1 - i))
                .bitwiseAND(F.lit(31))
                + 1
            ).cast("int"),
        )
        for i in range(precision)
    ]
    return F.concat(*chars)


def GEOHASH_SQL(lon: str, lat: str, precision: int = 8) -> str:
    """The identical geohash arithmetic as a DuckDB SQL expression."""
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    ix = (
        f"least(CAST(floor(({lon} + 180.0) / 360.0 * {1 << lon_bits}) "
        f"AS BIGINT), {(1 << lon_bits) - 1})"
    )
    iy = (
        f"least(CAST(floor(({lat} + 90.0) / 180.0 * {1 << lat_bits}) "
        f"AS BIGINT), {(1 << lat_bits) - 1})"
    )
    terms = []
    for k in range(nbits):
        if k % 2 == 0:
            src, b = "gx", lon_bits - 1 - k // 2
        else:
            src, b = "gy", lat_bits - 1 - k // 2
        terms.append(f"((({src} >> {b}) & 1) << {nbits - 1 - k})")
    morton = " + ".join(terms)
    chars = [
        f"substr('{GEOHASH_ALPHABET}', "
        f"CAST(((gm >> {5 * (precision - 1 - i)}) & 31) + 1 AS INT), 1)"
        for i in range(precision)
    ]
    return (
        f"(SELECT {' || '.join(chars)} FROM (SELECT ({morton}) AS gm "
        f"FROM (SELECT {ix} AS gx, {iy} AS gy) AS __gq) AS __gm)"
    )
