"""Local mirror of the driver's Spark-vs-DuckDB comparator.

The driver compares row count + schema (column names) + an
order-insensitive value hash.  We reproduce that comparison here (with a
small float tolerance expressed through rounding) so oracle mismatches are
caught locally before a round is graded.

Round-6 hardening: the driver hashes *typed* values, so a DuckDB column
that surfaces through Arrow as ``decimal128(38,0)`` (integer ``sum()`` →
HUGEINT) hash-diverges from a Spark ``bigint`` even when every Python-level
value is equal — exactly how ``x_llm_text_stats`` / ``x_llm_source_mix``
passed locally but failed the r06 driver.  ``assert_matches_oracle`` now
also compares canonical *type kinds* between the Spark schema and DuckDB's
``fetch_arrow_table()`` schema, so an uncast integer aggregate fails the
local sweep the same way it fails the driver.
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import math
from typing import Any


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Tolerate last-ulp divergence from parallel accumulation order.
        return round(v, 6)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _canon_spark_type(t) -> Any:
    """Collapse a Spark SQL type to a comparison kind shared with Arrow."""
    import pyspark.sql.types as T

    if isinstance(t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(t, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(t, T.DecimalType):
        return "decimal"
    if isinstance(t, (T.StringType, T.VarcharType, T.CharType)):
        return "str"
    if isinstance(t, T.BooleanType):
        return "bool"
    if isinstance(t, T.DateType):
        return "date"
    if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(t, T.BinaryType):
        return "bin"
    if isinstance(t, T.ArrayType):
        return ("list", _canon_spark_type(t.elementType))
    if isinstance(t, T.MapType):
        return ("map", _canon_spark_type(t.keyType), _canon_spark_type(t.valueType))
    if isinstance(t, T.StructType):
        return ("struct",) + tuple(
            (f.name, _canon_spark_type(f.dataType)) for f in t.fields
        )
    return ("other", t.simpleString())


def _canon_arrow_type(t) -> Any:
    """Collapse an Arrow type (from DuckDB) to the same comparison kind."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return ("list", _canon_arrow_type(t.value_type))
    if pa.types.is_map(t):
        return ("map", _canon_arrow_type(t.key_type), _canon_arrow_type(t.item_type))
    if pa.types.is_struct(t):
        return ("struct",) + tuple(
            (f.name, _canon_arrow_type(f.type)) for f in t
        )
    return ("other", str(t))


def spark_types(df) -> dict[str, Any]:
    return {f.name: _canon_spark_type(f.dataType) for f in df.schema.fields}


def duck_arrow_types(con, sql: str) -> dict[str, Any]:
    schema = con.execute(sql).fetch_arrow_table().schema
    return {f.name: _canon_arrow_type(f.type) for f in schema}


def non_scalar_columns(types: dict[str, Any]) -> dict[str, Any]:
    """Columns whose canonical kind is list/map/struct.  The grading
    driver canonicalizes oracle-checked results with a pandas sort over
    all columns; numpy-array cells are unhashable/unsortable there, so an
    array-typed output column ERRs at grading time even when every value
    matches (the r07 ``x_llm_embed_pq`` failure).  Oracle-checked
    operators must therefore emit scalar columns only."""
    return {
        c: k
        for c, k in types.items()
        if isinstance(k, tuple) and k[0] in ("list", "map", "struct")
    }


def assert_types_match(df, con, sql: str, name: str = "") -> None:
    """Fail if any output column's canonical type kind differs between the
    Spark plan and the DuckDB oracle — the class of driver hash mismatch
    (e.g. HUGEINT sum() → decimal128 vs Spark bigint) that value-level
    comparison cannot see.  Also fail on any non-scalar column on either
    side: the driver cannot canonicalize those at all (r07 embed_pq ERR),
    so the local sweep must reject them even when both engines agree."""
    s_types, d_types = spark_types(df), duck_arrow_types(con, sql)
    bad = {**non_scalar_columns(s_types), **non_scalar_columns(d_types)}
    assert not bad, (
        f"{name}: non-scalar column(s) in oracle-checked output "
        f"(driver canonicalizer cannot sort/hash them): {bad}"
    )
    diffs = {
        c: (s_types.get(c), d_types.get(c))
        for c in set(s_types) | set(d_types)
        if s_types.get(c) != d_types.get(c)
    }
    assert not diffs, f"{name}: type-kind mismatch (spark, duck): {diffs}"


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_norm(r[c]) for c in cols) for r in df.collect()]
    return cols, rows


def duck_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [names[i] for i in order]
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return cols, rows


def assert_matches_oracle(df, con, sql: str, name: str = "") -> None:
    assert_types_match(df, con, sql, name)
    s_cols, s_rows = spark_rows(df)
    d_cols, d_rows = duck_rows(con, sql)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    s_sorted = sorted(s_rows, key=repr)
    d_sorted = sorted(d_rows, key=repr)
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        assert a == b, f"{name}: first differing row #{i}:\n spark={a}\n duck ={b}"


@functools.cache
def transitive_tables(fn):
    """Fixture tables ``fn`` reads, following ``helper(spark, sf_dir``
    calls through the op's own module (and registered ops it composes,
    e.g. the flagships).  Returns ``None`` when a callee threading
    ``(spark, sf_dir)`` cannot be resolved to a module function, or a
    ``table()`` call's name argument is not a string literal — the
    caller must then never treat the op's read set as known: the corpus
    fuzz excludes such an op, the warehouse fuzz enrolls it in every
    shape.  Shared by both fuzz harnesses' enrollment
    (tests/test_tpch_fuzz.py, tests/test_corpus_fuzz.py).

    r19: a real AST walk (formerly two tolerant regexes).  The syntax
    tree sees every call form the text patterns could miss — keyword
    arguments (``table(spark=spark, sf_dir=sf_dir, name="x")``, the r18
    ADVICE escape), arbitrary wrapping/whitespace, attribute calls
    (``mod.helper(spark, sf_dir)``) — so undercounting now requires a
    genuinely dynamic call, which correctly resolves to ``None``.

    Memoized per function, and the set is frozen: the source is read
    from disk, so without the memo a package file edited while the
    suite runs would make a call-time result disagree with the
    import-time one an enrollment was computed from."""
    import ast
    import inspect
    import sys
    import textwrap

    tabs: set[str] = set()
    seen: set = set()
    ok = True

    def _threads_spark_sfdir(call: ast.Call) -> bool:
        """True when the call passes ``spark`` and ``sf_dir`` (by those
        names) as its first two positionals or as keywords."""
        names = [
            a.id for a in call.args[:2] if isinstance(a, ast.Name)
        ] + [
            k.value.id
            for k in call.keywords
            if k.arg in ("spark", "sf_dir") and isinstance(k.value, ast.Name)
        ]
        return "spark" in names and "sf_dir" in names

    def _table_name_arg(call: ast.Call):
        """The ``name`` argument of a ``table(spark, sf_dir, name)`` call:
        the literal string, or None when dynamic/absent."""
        arg = call.args[2] if len(call.args) > 2 else next(
            (k.value for k in call.keywords if k.arg == "name"), None
        )
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        return None

    def walk(f) -> None:
        nonlocal ok
        f = inspect.unwrap(f)
        if f in seen:
            return
        seen.add(f)
        try:
            src = inspect.getsource(f)
            tree = ast.parse(textwrap.dedent(src))
        except (OSError, TypeError, SyntaxError):
            ok = False
            return
        mod = sys.modules.get(f.__module__)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or not _threads_spark_sfdir(node):
                continue
            func = node.func
            if isinstance(func, ast.Name):
                callee, target = func.id, getattr(mod, func.id, None)
            elif isinstance(func, ast.Attribute) and isinstance(
                func.value, ast.Name
            ):
                # one-level attribute call: resolve base in the module
                callee = func.attr
                base = getattr(mod, func.value.id, None)
                target = getattr(base, func.attr, None)
            else:
                ok = False  # dynamic callee (call result, subscript, …)
                continue
            if callee == "table":
                name = _table_name_arg(node)
                if name is None:
                    ok = False  # non-literal table name: can't enumerate
                else:
                    tabs.add(name)
            elif callable(target):
                walk(target)
            else:
                ok = False

    walk(fn)
    return frozenset(tabs) if ok else None
