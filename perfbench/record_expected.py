#!/usr/bin/env python3
"""Write ``expected.json``: the row count and digest every benchmarked
query must produce on the fixture tables in ``data/sf0.1``.

    python3 perfbench/record_expected.py

For a query with a DuckDB oracle (``registry.oracles()``) the expected
value is the oracle's: its result is loaded into Spark, cast to the Spark
result's column types and digested exactly like a benchmark result
(``check.py``).  A query whose Spark result disagrees with its oracle is
reported and recorded with the ORACLE's value, so the benchmark counts it
as failed.  Queries without an oracle (side-effecting sinks, streams) are
recorded from the program's own result, after checking that two fresh
sessions give the same digest.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> int:
    run.pin_environment()
    import duckdb

    from check import cast_like, digest
    from dataengineer_scripts_spark import registry
    from dataengineer_scripts_spark.session import get_spark
    from dataengineer_scripts_spark.tables import TABLE_NAMES

    fixtures = run.FIXTURES
    before = run.scratch_entries()
    duck = duckdb.connect()
    for name in TABLE_NAMES:
        duck.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{fixtures}/{name}.parquet')"
        )
    defs = registry.definitions()
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    out: dict[str, dict] = {}
    problems = 0
    spark = get_spark("perfbench-record")
    try:
        first = {q: digest(defs[q].fn(spark, fixtures)) for q in names}
        spark.stop()
        spark = get_spark("perfbench-record")
        for q in names:
            df = defs[q].fn(spark, fixtures)
            got = digest(df)
            if got != first[q]:
                print(f"UNSTABLE {q}: {first[q]} then {got}", file=sys.stderr)
                problems += 1
            if defs[q].oracle is None:
                out[q] = {**got.as_dict(), "source": "program"}
                continue
            arrow = duck.execute(defs[q].oracle).fetch_arrow_table()
            want = digest(cast_like(spark.createDataFrame(arrow), df.schema))
            out[q] = {**want.as_dict(), "source": "oracle"}
            if want != got:
                print(f"MISMATCH {q}: spark {got} vs oracle {want}", file=sys.stderr)
                problems += 1
    finally:
        spark.stop()
        run.clean_disk_state(before)
    with open(run.EXPECTED, "w") as fh:
        json.dump({"queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(out)} queries, {problems} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
