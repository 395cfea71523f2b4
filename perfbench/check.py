"""Result digests and the expected-value check.

A query's result is reduced, in ONE Spark action, to its row count and an
order-insensitive digest: the sum over rows of ``xxhash64`` of every
column.  Hashing every column forces every column of every row to be
computed, so this action is also the query's full materialization; a bare
``count()`` would let Catalyst prune projected columns and skip their
work.  The sum is taken as ``decimal(38,0)`` because summing 64-bit hashes
overflows ``bigint`` under ANSI mode.

Columns are normalized before hashing the way ``tests/oracle_utils.py``
normalizes values for the DuckDB oracle comparison: integers widen to
``bigint``, decimals become doubles, doubles round to 6 places (last-ulp
accumulation-order noise) with ``-0.0`` folded into ``0.0``, timestamps
hash as epoch microseconds, dates as ISO strings, and nested values as
their JSON text.  Columns are hashed in name order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _norm(c: Column, t: T.DataType) -> Column:
    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return c.cast("bigint")
    if isinstance(t, (T.FloatType, T.DoubleType, T.DecimalType)):
        return F.round(c.cast("double"), 6) + F.lit(0.0)
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(c.cast("timestamp"))
    if isinstance(t, T.DateType):
        return c.cast("string")
    if isinstance(t, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(c)
    return c


def digest_columns(df: DataFrame) -> list[Column]:
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    return [_norm(F.col(f"`{f.name}`"), f.dataType) for f in fields]


@dataclass(frozen=True)
class Digest:
    rows: int
    digest: str

    def as_dict(self) -> dict:
        return {"rows": self.rows, "digest": self.digest}


def digest(df: DataFrame) -> Digest:
    """Materialize ``df`` fully and return its row count and digest."""
    h = F.xxhash64(*digest_columns(df)).cast("decimal(38,0)")
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h), F.lit(0).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return Digest(int(row["n"]), str(row["h"]))


def cast_like(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast ``df``'s columns to the types of the same-named fields of
    ``schema`` (used to hash a DuckDB oracle result under the Spark result's
    types).  Raises ``ValueError`` when the column names differ."""
    want = {f.name: f.dataType for f in schema.fields}
    if sorted(want) != sorted(df.columns):
        raise ValueError(f"columns differ: {sorted(df.columns)} vs {sorted(want)}")
    return df.select([F.col(f"`{n}`").cast(t).alias(n) for n, t in want.items()])


def mismatch(got: Digest, want: dict | None) -> str | None:
    """``None`` when ``got`` matches the expected entry, else a reason."""
    if want is None:
        return "no expected value recorded"
    if got.rows != want["rows"]:
        return f"rows {got.rows} != expected {want['rows']}"
    if got.digest != want["digest"]:
        return f"digest {got.digest} != expected {want['digest']}"
    return None
