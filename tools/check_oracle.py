#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle on DuckDB, compare row counts + sorted
values exactly. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# this checkout's queries/oracles, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _key(row):
    out = []
    for v in row:
        out.append((v is None, str(type(v).__name__), str(v)))
    return out


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _eq(a, b) -> bool:
    a, b = _norm(a), _norm(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb
    return a == b


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    # data-dependent oracles (IVF centroid literals) must be generated
    # for the sf under test; the driver's default is sf0.01
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    import duckdb

    from trollflow2_spark.oracles import all_oracles
    from trollflow2_spark.queries import QUERIES

    ORACLES = all_oracles(sf_dir)
    from trollflow2_spark.session import get_spark
    from trollflow2_spark.tables import TABLE_NAMES

    # one Spark task thread per CPU this process may use, as the tier-1
    # command sets it (`nproc`), not get_spark's local[32] default
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"SKIP {name}: no oracle ({len(srows)} rows)")
            continue
        try:
            rel = con.sql(ORACLES[name])
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        problems = []
        # permanent type audit: DuckDB HUGEINT/UHUGEINT serialize as
        # float64 in the driver's hash while Spark emits bigint — any
        # such output column is a latent hash mismatch (see r7 q12).
        bad_types = [
            f"{c}:{t}"
            for c, t in zip(ocols, otypes)
            if "HUGEINT" in t
        ]
        if bad_types:
            problems.append("oracle type audit: " + ", ".join(bad_types))
        if scols != ocols:
            problems.append(f"columns {scols} != {ocols}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            ss = sorted((tuple(_norm(v) for v in r) for r in srows), key=_key)
            oo = sorted((tuple(_norm(v) for v in r) for r in orows), key=_key)
            bad = 0
            first = None
            for ra, rb in zip(ss, oo):
                if not all(_eq(a, b) for a, b in zip(ra, rb)):
                    bad += 1
                    if first is None:
                        first = (ra, rb)
            if bad:
                problems.append(f"{bad}/{len(ss)} rows differ; first: {first}")
        if problems:
            print(f"FAIL {name} [{dt:.1f}s]: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} [{dt:.1f}s] ({len(srows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
