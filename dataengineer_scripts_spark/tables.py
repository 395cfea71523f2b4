"""Test-table loaders for the driver fixtures (TESTDATA.md / FIXTURES.md).

Parquet at rest, schema-on-read (the footers carry the contract schemas
captured in FIXTURES.md).  Loaders are thin on purpose: Catalyst handles
column pruning / predicate pushdown from the declarative plan, so the right
place for "optimization" is the query, not the scan helper.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import apply_runtime_confs
from .session_cache import _memoized

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Per-session loader memo: ``spark.read.parquet`` re-reads the footer and
#: re-lists the directory on EVERY call (~90 ms of single-threaded driver
#: work), and a bench/driver session issues table() hundreds of times over
#: the same ten immutable fixture files — measured ~25 s of pure driver
#: latency across one 279-query bench run.  The key and eviction rule
#: are ``session_cache._memoized``'s: a restarted SparkContext or a
#: different fixture dir re-reads; within one session the returned
#: DataFrame is immutable and reusing it is semantically identical to
#: re-creating it (self-joins of one DataFrame object disambiguate via
#: Spark's alias machinery — the session-shared frames already rely on
#: this).  The runtime-conf pin still runs on every call, so the
#: hostile-session re-pin contract is unchanged; the schema branch in
#: ``_read`` was resolved under pinned confs the first time, which
#: per-call re-pinning makes deterministic thereafter.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Pin the engine confs HERE, not only in the registry wrapper: the NTZ
    # normalization below is value-correct only under the UTC session
    # timezone, and a driver-owned session may call this loader directly
    # (before any registered query re-pinned the confs).
    apply_runtime_confs(spark)
    return _memoized(
        _TABLE_MEMO, spark, sf_dir, name, lambda: _read(spark, sf_dir, name)
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # nanosAsLong read (session.py): ns-since-epoch long → µs
            # timestamp.  Integer `div` — a double division would lose
            # precision above 2^53.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Fixture regenerated as parquet timestamp[us] without tz; if a
            # driver-owned session read it as NTZ before our confs applied
            # (session.py pins inferTimestampNTZ=false), normalize.  Value
            # no-op under the pinned UTC session timezone.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def rebalanced(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan-starved input ahead of CPU-heavy row
    expansion (shingle/token/span explodes, multi-hash signature partials).

    Spark parallelizes a scan by input splits, and a parquet file is
    splittable only at row-group boundaries — a small single-row-group
    corpus file therefore scans as ONE partition, and everything narrow
    above it (explode, 128-way hashing, map-side aggregate partials) runs
    on one core no matter how wide the cluster is.  One round-robin
    shuffle of the INPUT (pre-expansion rows — the cheap side; the
    expansion multiplies rows 50-500×) buys full-width parallelism for
    the expensive stage.

    Scale posture: this is NOT a local-test hack — "repartition a few fat
    splits before an expensive per-row stage" is the standard fix for
    split-starved pipelines on real clusters too (one gzip file, one
    kafka partition, a dimension-sized corpus).  When the scan already
    has at least one split per core, this returns the input UNCHANGED —
    no shuffle is added on the path where the data is big."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema_ddl: str
) -> DataFrame:
    """A driver-held frame from Python row tuples, loaded into the JVM as
    Arrow batches — the package's one way to turn driver values into a
    DataFrame.

    ``createDataFrame`` on Python rows pickles the rows through a
    Python worker process, and the first such job of a session pays the
    worker daemon's start (about 2 s cold) for a handful of rows.  An
    Arrow table typed from the DDL schema goes straight to the JVM, so no
    worker starts and the lineage holds no ``PythonRDD``.

    Values keep ``createDataFrame``'s meaning: top-level ``timestamp``
    columns go through ``TimestampType.toInternal``, so a naive datetime
    is OS-local wall time (``time.mktime``) exactly as in the row path,
    and the Arrow column carries the resulting UTC instants."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(schema_ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for field, arrow_field, values in zip(schema.fields, arrow_schema, columns):
        if isinstance(field.dataType, T.TimestampType):
            values = [field.dataType.toInternal(v) for v in values]
        arrays.append(pa.array(values, type=arrow_field.type))
    return spark.createDataFrame(
        pa.Table.from_arrays(arrays, schema=arrow_schema), schema
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views (for the SQL API paths)."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
