"""Seeded input generator for the benchmark.

Everything a run feeds the engine is made here from the workload seed,
before any timing starts: CF granules, parquet scenes, product lists,
message schedules and the operator_mix tables. The generator imports
nothing from the engine, so a change to the program cannot change its
inputs; the CF granules come from the minimal CDF-1 writer below, not
from the engine's own NetCDF sink.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import struct

import numpy as np

# ---------------------------------------------------------------------------
# classic NetCDF (CDF-1) writer: dims, NC_CHAR global attributes and
# non-record NC_FLOAT variables, big-endian, every field padded to 4 bytes

_NC_DIMENSION, _NC_VARIABLE, _NC_ATTRIBUTE = 0x0A, 0x0B, 0x0C
_NC_CHAR, _NC_FLOAT = 2, 5


def _nc_name(name: str) -> bytes:
    raw = name.encode()
    return struct.pack(">i", len(raw)) + raw + b"\0" * (-len(raw) % 4)


def write_cdf1(path: str, variables: dict[str, np.ndarray], attrs: dict[str, str]) -> None:
    """Write 2-D float32 ``variables`` sharing one (y, x) grid."""
    shapes = {v.shape for v in variables.values()}
    if len(shapes) != 1:
        raise ValueError("all variables must share one (y, x) shape")
    (ny, nx), = shapes
    head = b"CDF\x01" + struct.pack(">i", 0)
    head += struct.pack(">ii", _NC_DIMENSION, 2)
    head += _nc_name("y") + struct.pack(">i", ny) + _nc_name("x") + struct.pack(">i", nx)
    head += struct.pack(">ii", _NC_ATTRIBUTE, len(attrs))
    for key, val in attrs.items():
        raw = str(val).encode()
        head += _nc_name(key) + struct.pack(">ii", _NC_CHAR, len(raw))
        head += raw + b"\0" * (-len(raw) % 4)
    vsize = ny * nx * 4
    entries = []
    for name in variables:
        entries.append(
            _nc_name(name) + struct.pack(">iii", 2, 0, 1) + struct.pack(">ii", 0, 0)
            + struct.pack(">ii", _NC_FLOAT, vsize)
        )
    var_head_len = 8 + sum(len(e) + 4 for e in entries)
    begin = len(head) + var_head_len
    head += struct.pack(">ii", _NC_VARIABLE, len(entries))
    for entry in entries:
        head += entry + struct.pack(">i", begin)
        begin += vsize
    with open(path, "wb") as fh:
        fh.write(head)
        for arr in variables.values():
            fh.write(np.ascontiguousarray(arr, dtype=">f4").tobytes())


# ---------------------------------------------------------------------------
# granule_fanout


def make_granules(rng: np.random.Generator, out_dir: str, n: int, size: int,
                  nan_frac: float) -> list[dict]:
    """``n`` distinct CF granules of ``size``×``size`` pixels, channels
    ch1..ch3. Each channel has ``nan_frac`` NaN pixels; the three NaN
    masks are disjoint, so every pixel keeps at least one finite channel
    and survives the long-to-wide pivot."""
    os.makedirs(out_dir, exist_ok=True)
    granules = []
    n_nan = int(round(nan_frac * size * size))
    for i in range(n):
        order = rng.permutation(size * size)
        chans = {}
        for c in range(3):
            arr = rng.uniform(0.0, 100.0, size * size).astype("float32")
            arr[order[c * n_nan:(c + 1) * n_nan]] = np.nan
            chans[f"ch{c + 1}"] = arr.reshape(size, size)
        path = os.path.join(out_dir, f"granule_{i:03d}.nc")
        write_cdf1(path, chans, {"Conventions": "CF-1.7", "platform_name": "sat-a"})
        granules.append({"path": path, "channels": chans})
    return granules


def overview(channels: dict[str, np.ndarray]) -> np.ndarray:
    """The benchmark's composite, in float64: NaN wherever a channel is."""
    c = {k: v.astype("float64") for k, v in channels.items()}
    return (c["ch1"] + c["ch2"] + c["ch3"]) / 3.0


def nearest_reference(src: np.ndarray, area: dict) -> np.ndarray:
    """Nearest-neighbour resample of a source grid whose pixel (r, c)
    covers [c, c+1) × [r, r+1) onto a regular target area: the nearest
    source pixel of a target centre is the one that contains it."""
    cols = np.floor(area["x0"] + (np.arange(area["width"]) + 0.5) * area["dx"]).astype(int)
    rows = np.floor(area["y0"] + (np.arange(area["height"]) + 0.5) * area["dy"]).astype(int)
    return src[np.ix_(rows, cols)]


def granule_product_list(out_dir: str, areas: list[dict]) -> dict:
    formats = [
        {"format": "tif", "writer": "geotiff"},
        {"format": "png", "writer": "simple_image"},
        {"format": "nc", "writer": "cf"},
        {"format": "parquet", "writer": "parquet"},
    ]
    return {
        "product_list": {
            "output_dir": out_dir,
            "fname_pattern": "{uid}_{area}_{productname}.{format}",
            "workers": [
                {"fun": "create_scene", "reader": "netcdf"},
                {"fun": "scene_to_wide"},
                {"fun": "load_composites"},
                {"fun": "check_valid_data_fraction"},
                {"fun": "resample", "resampler": "nearest"},
                {"fun": "save_datasets"},
                {"fun": "publish"},
            ],
            # one area per priority: resample takes the first work item's
            # area for the whole priority batch
            "areas": {
                a["name"]: {
                    "priority": prio,
                    "products": {"overview": {"productname": "overview",
                                              "formats": [dict(f) for f in formats]}},
                }
                for prio, a in enumerate(areas, start=1)
            },
        }
    }


def granule_messages(granules: list[dict], n: int, prefix: str, source_area: str,
                     start: int = 0) -> list[dict]:
    """Messages cycling through the granule pool, one granule each."""
    out = []
    for i in range(start, start + n):
        g = granules[i % len(granules)]
        out.append({
            "type": "file",
            "uid": f"{prefix}{i:05d}",
            "uri": g["path"],
            "platform_name": "sat-a",
            "sensor": "imager",
            "start_time": "2024-03-20T12:00:00",
            "source_area": source_area,
        })
    return out


# ---------------------------------------------------------------------------
# wide_plist_stream


def sun_zenith_deg(ts: dt.datetime, lon: float, lat: float) -> float:
    """Closed-form solar zenith angle (declination from day of year,
    hour angle from UTC clock time)."""
    doy = ts.timetuple().tm_yday
    decl = -23.44 * math.cos(2.0 * math.pi / 365.0 * (doy + 10.0))
    hour = ts.hour + ts.minute / 60.0 + ts.second / 3600.0
    ha = 15.0 * (hour - 12.0) + lon
    cosz = (math.sin(math.radians(lat)) * math.sin(math.radians(decl))
            + math.cos(math.radians(lat)) * math.cos(math.radians(decl))
            * math.cos(math.radians(ha)))
    return math.degrees(math.acos(max(-1.0, min(1.0, cosz))))


_EDGE_DEG = 1e-3  # start times this close to a threshold are redrawn


def _lit_percent(ts: dt.datetime, lon: float, lat: float, step: float = 10.0):
    """Share (percent) of a 3×3 sample grid around (lon, lat) with the
    sun above the horizon; None when a sample sits on the horizon."""
    lit = 0
    for dx in (-step, 0.0, step):
        for dy in (-step, 0.0, step):
            z = sun_zenith_deg(ts, lon + dx, max(-89.0, min(89.0, lat + dy)))
            if abs(z - 90.0) < _EDGE_DEG:
                return None
            lit += z < 90.0
    return 100.0 * lit / 9.0


def surviving_products(plist: dict, ts: dt.datetime):
    """(area, product) pairs whose SZA and sunlit share at ``ts`` pass
    their configured bands; None when any value is too close to a band
    edge to predict safely."""
    kept = []
    for area, acfg in plist["product_list"]["areas"].items():
        for prod, pcfg in acfg["products"].items():
            lon, lat = pcfg["sunzen_check_lon"], pcfg["sunzen_check_lat"]
            z = sun_zenith_deg(ts, lon, lat)
            lo, hi = pcfg["sunzen_minimum_angle"], pcfg["sunzen_maximum_angle"]
            if min(abs(z - lo), abs(z - hi)) < _EDGE_DEG:
                return None
            if not lo <= z <= hi:
                continue
            pct = _lit_percent(ts, lon, lat)
            if pct is None:
                return None
            smin, smax = pcfg.get("sunlight_min"), pcfg.get("sunlight_max")
            if (smin is None or pct >= smin) and (smax is None or pct <= smax):
                kept.append((area, prod))
    return kept


STREAM_FORMATS = ("parquet", "json")


def stream_product_list(rng: np.random.Generator, out_dir: str, n_areas: int,
                        n_products: int, sza_window: float,
                        allowed_platforms: list[str]) -> dict:
    """``n_areas`` areas (one per priority) × ``n_products`` products ×
    parquet/json. Every product carries its own SZA window at its own
    check point, and either a sunlit-share floor or ceiling (34 / 67 %,
    off the 100/9 % steps the check can produce)."""
    areas = {}
    for a in range(n_areas):
        prods = {}
        for p in range(n_products):
            lo = float(rng.uniform(0.0, 85.0))
            cfg = {
                "productname": f"p{p:02d}",
                "sunzen_check_lon": float(rng.uniform(-180.0, 180.0)),
                "sunzen_check_lat": float(rng.uniform(-70.0, 70.0)),
                "sunzen_minimum_angle": lo,
                "sunzen_maximum_angle": lo + sza_window,
            }
            if rng.random() < 0.5:
                cfg["sunlight_min"] = 34.0
            else:
                cfg["sunlight_max"] = 67.0
            prods[f"p{p:02d}"] = cfg
        areas[f"w{a}"] = {"priority": a + 1, "products": prods}
    return {
        "product_list": {
            "output_dir": out_dir,
            "fname_pattern": "{uid}_{area}_{productname}.{format}",
            "formats": [{"format": f, "writer": f} for f in STREAM_FORMATS],
            "workers": [
                {"fun": "check_metadata", "platform_name": list(allowed_platforms)},
                {"fun": "sza_check"},
                {"fun": "check_sunlight_coverage"},
                {"fun": "create_scene", "reader": "parquet"},
                {"fun": "save_datasets"},
                {"fun": "publish"},
            ],
            "areas": areas,
        }
    }


def make_scenes(rng: np.random.Generator, out_dir: str, n: int, size: int,
                n_products: int) -> list[str]:
    """``n`` tiny wide scenes (y, x, p00..pNN) as single parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    yy, xx = np.divmod(np.arange(size * size, dtype="int32"), size)
    paths = []
    for i in range(n):
        cols = {"y": yy, "x": xx}
        for p in range(n_products):
            cols[f"p{p:02d}"] = rng.uniform(0.0, 1.0, size * size)
        path = os.path.join(out_dir, f"scene_{i:03d}.parquet")
        pq.write_table(pa.table(cols), path)
        paths.append(path)
    return paths


def stream_messages(rng: np.random.Generator, plist: dict, scenes: list[str], n: int,
                    prefix: str, reject_share: float, survivors: int,
                    allowed_platforms: list[str]) -> list[dict]:
    """``n`` messages; exactly ``round(n * reject_share)`` of them carry a
    platform outside the allowed list, at seeded positions other than the
    last. Every other message gets a seeded start time at which exactly
    ``survivors`` products, each in a different area (so a different
    priority batch), pass the sun checks; the predicted (area, product)
    pairs ride along under ``expect``. Fixing this shape keeps one
    accepted message's work the same across seeds."""
    n_reject = min(n - 1, int(round(n * reject_share)))
    rejected = set(rng.permutation(n - 1)[:n_reject].tolist())
    year0 = dt.datetime(2024, 1, 1)
    out = []
    for i in range(n):
        msg = {
            "type": "file",
            "uid": f"{prefix}{i:05d}",
            "uri": scenes[int(rng.integers(len(scenes)))],
            "sensor": "imager",
        }
        if i in rejected:
            msg["platform_name"] = "sat-x"
            msg["start_time"] = (year0 + dt.timedelta(seconds=int(rng.integers(366 * 86400)))).isoformat()
            msg["expect"] = []
        else:
            msg["platform_name"] = allowed_platforms[int(rng.integers(len(allowed_platforms)))]
            while True:
                ts = year0 + dt.timedelta(seconds=int(rng.integers(366 * 86400)))
                kept = surviving_products(plist, ts)
                if kept is not None and len({a for a, _p in kept}) == len(kept) == survivors:
                    break
            msg["start_time"] = ts.isoformat()
            msg["expect"] = kept
        out.append(msg)
    return out


def expected_stream_files(msg: dict, out_dir: str) -> set[str]:
    return {
        os.path.join(out_dir, f"{msg['uid']}_{area}_{prod}.{fmt}")
        for area, prod in msg["expect"]
        for fmt in STREAM_FORMATS
    }


# ---------------------------------------------------------------------------
# operator_mix: TPC-H/event/corpus-shaped tables with the column layout
# the engine's contract queries read

_WORDS = (
    "a the b spark table row column scan filter join agg sort merge hash key "
    "value group order line part customer query stream batch window vector "
    "data fast slow small big index shard cache plan node"
).split()


def _ts(days0: str, offsets_us: np.ndarray):
    import pyarrow as pa

    base = np.datetime64(days0, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def make_tables(rng: np.random.Generator, out_dir: str, sizes: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_ord, n_li = sizes["customer"], sizes["orders"], sizes["lineitem"]
    day = 86400 * 10**6
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"], n_cust),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 400000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2403, n_ord) * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": rng.integers(0, 20000, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, 1000, n_li).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * day),
    })

    n_ev, n_users = sizes["events"], sizes["users"]
    offs = np.sort(rng.integers(0, 30 * day, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", offs),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.uniform(0.0, 200.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_docs = sizes["documents"]
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(i))])
        elif i > 10 and r < 0.08:  # near duplicate: one word swapped
            words = texts[int(rng.integers(i))].split()
            words[int(rng.integers(len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 101)))))
    write("documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    n_vec, dim = sizes["embeddings"], sizes["dim"]
    vecs = rng.normal(0.0, 0.15, (n_vec, dim)).astype("float32")
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype("int32"),
    })


TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
