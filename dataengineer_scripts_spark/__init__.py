"""dataengineer_scripts_spark — a PySpark-native analytics engine.

A brand-new, Spark-first implementation of the query and data-processing
capabilities surveyed from LordLaffeys/DataEngineer_Scripts (see
/root/repo/SURVEY.md), extended with the relational/streaming/LLM-pipeline
operator surface required by the driver contract (SURVEY.md §2.9).

Everything is expressed declaratively with the DataFrame / Spark SQL API so
Catalyst + Tungsten choose the physical plan; Pandas UDFs are reserved for
the genuinely opaque operators (HTTP effects, multimodal decode).

Layout:
    session.py    — tuned SparkSession builder (local test / cluster posture)
    registry.py   — operator registry backing __spark_entry__.queries()
    tables.py     — test-table loaders (TESTDATA.md parquet)
    functions/    — scalar function layer (SURVEY.md §2.7)
    operators/    — relational core, health flagship, LLM ops (§2.2-2.6, 2.9)
    streaming/    — structured-streaming operators (§2.9 x_stream_*)
    sources/      — REST reads, JDBC/JSON source config (§2.1)
    sinks.py      — Excel / JSON / HTTP-foreach sinks (§2.1, §2.8)
"""

__version__ = "0.1.0"
