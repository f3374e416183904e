#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run each declared query
on Spark and its DuckDB oracle SQL twin, compare row count, schema width and
the exact (bit-level) multiset of rows. Used to prove optimizations change
nothing before committing them.

Usage: python check_oracle.py [--sf /root/testdata/sf0.01] [--queries a,b]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# the Python workers are forked by the JVM and inherit this environment,
# not the driver's sys.path: without it, every Python-UDF query fails with
# ModuleNotFoundError when the script runs outside the repository root
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows):
    """Rows → sorted list of comparable tuples with bit-level float
    identity: -0.0 != 0.0, and NaN is its own sign-free sentinel, so NaN
    == NaN (whatever its sign bit) but NaN != ±inf."""
    from decimal import Decimal

    out = []
    for r in rows:
        rr = []
        for v in r:
            if isinstance(v, Decimal):
                # DuckDB types bare VALUES literals as DECIMAL; the
                # driver's comparator coerces — match that here
                v = float(v)
            if isinstance(v, float):
                rr.append(("nan",) if v != v
                          else ("f", v, math.copysign(1.0, v)))
            else:
                rr.append(v)
        out.append(tuple(rr))
    return sorted(out, key=repr)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    args = ap.parse_args()

    from geograypher_spark.session import get_spark
    from geograypher_spark.plans import driver_queries as DQ

    names = (args.queries.split(",") if args.queries
             else [n for n, s in DQ.ORACLES.items() if s])
    spark = get_spark("check_oracle", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = 0
    for name in names:
        sql = DQ.ORACLES.get(name)
        if not sql:
            print(f"{name}: SKIP (no oracle)")
            continue
        try:
            sdf = DQ.QUERIES[name](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            orows = con.execute(sql).fetchall()
            ok_n = len(srows) == len(orows)
            ok_w = (len(srows) == 0 or len(orows) == 0
                    or len(srows[0]) == len(orows[0]))
            ok_v = canon(srows) == canon(orows)
            ok = ok_n and ok_w and ok_v
            print(f"{name}: {'OK' if ok else 'FAIL'} "
                  f"(spark={len(srows)} oracle={len(orows)}"
                  f"{'' if ok_v else ' VALUES-DIFFER'})")
            if not ok:
                failures += 1
                if not ok_v:
                    a, b = canon(srows), canon(orows)
                    for i, (x, y) in enumerate(zip(a, b)):
                        if x != y:
                            print(f"  first diff row {i}:\n   S={x}\n   O={y}")
                            break
        except Exception as e:  # noqa: BLE001
            failures += 1
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
