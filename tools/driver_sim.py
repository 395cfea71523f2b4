"""Simulate the grading driver end-to-end against __spark_entry__.py.

Builds a VANILLA SparkSession (no engine confs — optionally with a hostile
timezone via --hostile to prove queries pin their own semantics), then:
  1. smoke: entry(spark) rows > 0
  2. correctness: every queries()[name] at --sf vs oracle_sql()[name] in
     DuckDB (row count + sorted column names + order-insensitive values)

Usage: python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--hostile]
       [--only name1,name2]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--hostile", action="store_true")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from dataengineer_scripts_spark.session import CPUS

    # sized from the host like session.py, but vanilla: no engine confs
    b = SparkSession.builder.master(f"local[{CPUS}]").appName("driver-sim")
    if args.hostile:
        b = b.config("spark.sql.session.timeZone", "America/New_York")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from tests.conftest import make_duck
    from tests.oracle_utils import (
        duck_arrow_types,
        duck_rows,
        non_scalar_columns,
        spark_rows,
        spark_types,
    )

    t0 = time.time()
    n = e.entry(spark).count()
    print(f"smoke: entry() -> {n} rows in {time.time() - t0:.1f}s "
          f"({'FAIL' if n <= 0 else 'ok'})")

    con = make_duck(args.sf)
    qs, osql = e.queries(), e.oracle_sql()
    only = {s for s in args.only.split(",") if s}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, args.sf)
            s_cols, s_rows = spark_rows(df)
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"  {name}: SPARK ERROR {type(ex).__name__}: {str(ex)[:200]}")
            continue
        if name not in osql:
            print(f"  {name}: rows-only ({len(s_rows)} rows) {time.time() - t0:.1f}s")
            continue
        try:
            d_cols, d_rows = duck_rows(con, osql[name])
        except Exception as ex:  # noqa: BLE001
            failed.append(name)
            print(f"  {name}: ORACLE ERROR {type(ex).__name__}: {str(ex)[:200]}")
            continue
        s_ty, d_ty = spark_types(df), duck_arrow_types(con, osql[name])
        bad = {**non_scalar_columns(s_ty), **non_scalar_columns(d_ty)}
        if bad:
            # the real driver's pandas canonicalizer crashes on array cells
            failed.append(name)
            print(f"  {name}: NON-SCALAR oracle-checked column(s) {bad}")
            continue
        ty_diffs = {
            c: (s_ty.get(c), d_ty.get(c))
            for c in set(s_ty) | set(d_ty)
            if s_ty.get(c) != d_ty.get(c)
        }
        ok = not ty_diffs and s_cols == d_cols and len(s_rows) == len(
            d_rows) and sorted(s_rows, key=repr) == sorted(d_rows, key=repr)
        if not ok:
            failed.append(name)
            print(f"  {name}: MISMATCH cols {s_cols == d_cols} "
                  f"count {len(s_rows)}/{len(d_rows)} types {ty_diffs or 'ok'}")
            if s_cols == d_cols:
                for a, b_ in zip(sorted(s_rows, key=repr), sorted(d_rows, key=repr)):
                    if a != b_:
                        print(f"    spark={a}\n    duck ={b_}")
                        break
        else:
            print(f"  {name}: match ({len(s_rows)} rows) {time.time() - t0:.1f}s")
    print(f"\n{len(qs) - len(failed)}/{len(qs)} ok; failed: {failed or 'none'}")
    return 1 if failed or n <= 0 else 0


if __name__ == "__main__":
    raise SystemExit(main())
