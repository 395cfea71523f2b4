"""Dump `.explain("formatted")` of named registered queries to files —
the per-round before/after plan evidence (plans/r<N>/<query>_{before,after}.txt).

Usage: python tools/plan_snapshot.py <outdir> <suffix> <query> [<query> ...]
e.g.:  python tools/plan_snapshot.py plans/r20 before x_graph_pagerank_converged
"""

from __future__ import annotations

import os
import sys
from contextlib import redirect_stdout
from io import StringIO

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    outdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from dataengineer_scripts_spark import registry
    from dataengineer_scripts_spark.session import get_spark

    spark = get_spark("plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    defs = registry.definitions()
    sf = "/root/testdata/sf0.001"
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = defs[name].fn(spark, sf)
        buf = StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue().rstrip() + "\n")
        print(f"wrote {path}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
