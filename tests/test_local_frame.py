"""``tables.local_frame``: driver-held rows loaded into the JVM as Arrow.

Each case must give the same frame as ``spark.createDataFrame`` on the
same rows and schema, with no ``PythonRDD`` in its physical lineage (no
Python worker runs to build it)."""

from __future__ import annotations

import os
import re
import time
from datetime import datetime, timedelta, timezone

import pytest

from dataengineer_scripts_spark.tables import local_frame

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dataengineer_scripts_spark",
)

CASES = {
    "empty": ([], "a int, b string"),
    "null_ints": (
        [(1, None, "x"), (None, 2**40, None), (None, None, "z")],
        "a int, b bigint, c string",
    ),
    "array_double": (
        [(0, [1.0, -2.5, 1e-300]), (1, None), (2, []), (3, [None, 3.0])],
        "id long, v array<double>",
    ),
    "timestamp": (
        [
            (1, datetime(2024, 1, 5, 3, 4, 5, 123456)),
            (2, None),
            (3, datetime(2024, 7, 1, 12, 0, tzinfo=timezone(timedelta(hours=5)))),
        ],
        "id int, t timestamp",
    ),
}


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def _assert_same_frame(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert "PythonRDD" not in _lineage(got)
    # the comparison is only meaningful if the row path does use a worker
    assert "PythonRDD" in _lineage(want)


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_dataframe(spark, case):
    rows, ddl = CASES[case]
    _assert_same_frame(spark, rows, ddl)


def test_local_frame_naive_timestamps_are_os_local(spark):
    """A naive datetime is OS-local wall time, as ``TimestampType.toInternal``
    (``time.mktime``) reads it — on a non-UTC host too."""
    rows, ddl = CASES["timestamp"]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        _assert_same_frame(spark, rows, ddl)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_package_builds_driver_frames_only_through_local_frame():
    """Every driver-held frame in the package goes through ``local_frame``;
    its own ``createDataFrame`` call (on an Arrow table) is the only one."""
    calls = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    src = fh.read()
                rel = os.path.relpath(path, PACKAGE)
                calls += [rel] * len(re.findall(r"\.createDataFrame\(", src))
    assert calls == ["tables.py"], calls
