from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataengineer_scripts_spark.session import get_spark
from dataengineer_scripts_spark.tables import TABLE_NAMES

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duck(sf_dir)
    yield con
    con.close()


def load_scale_stress():
    """Load tools/scale_stress.py as ONE shared module object (it is a
    script, not a package member).  Both stress test files import through
    here so a monkeypatch in one file is never invisibly applied to a
    second private module instance."""
    import importlib.util

    if "scale_stress" in sys.modules:
        return sys.modules["scale_stress"]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_stress", os.path.join(repo, "tools", "scale_stress.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["scale_stress"] = mod
    try:
        spec.loader.exec_module(mod)
    except BaseException:
        # never cache a half-initialized module (standard importlib
        # recipe) — the next caller would get a confusing AttributeError
        # instead of the original import failure
        del sys.modules["scale_stress"]
        raise
    return mod
