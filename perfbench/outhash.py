"""Order-insensitive output hash of a suite entry, computed in-engine.

The hash is the triple (row count, sum of md5[0:12], sum of md5[12:24])
over a canonical string rendering of each row, as in the ``agghash``
of ``tools/diffcheck.py``. For the column types that helper supports
(numbers, strings, booleans, dates, timestamps) the rendering is the
same character for character, so a stored triple can be cross-checked
against the DuckDB oracle with it. Arrays, structs, maps and binary
columns, which the oracle path cannot render, get a recursive
rendering here, so every entry has a hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

NULL = "\x01N"
SEP = "\x1f"


def _canon(expr: str, dt: T.DataType, depth: int = 0) -> str:
    """Spark SQL rendering of ``expr`` (of type ``dt``) as a string,
    never NULL."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        e = (
            f"CASE WHEN isnan({expr}) THEN 'nan' "
            f"WHEN {expr} = double('inf') THEN 'inf' "
            f"WHEN {expr} = double('-inf') THEN '-inf' ELSE "
            f"CAST(CAST({expr} + CAST(0.0 AS DOUBLE) AS DECIMAL(38,6))"
            f" AS STRING) END"
        )
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        e = f"date_format({expr}, 'yyyy-MM-dd HH:mm:ss.SSSSSS')"
    elif isinstance(dt, T.BinaryType):
        e = f"hex({expr})"
    elif isinstance(dt, T.ArrayType):
        v = f"x{depth}"
        inner = _canon(v, dt.elementType, depth + 1)
        e = f"concat('[', array_join(transform({expr}, {v} -> {inner}), ','), ']')"
    elif isinstance(dt, T.StructType):
        parts = [
            _canon(f"{expr}.`{f.name}`", f.dataType, depth) for f in dt.fields
        ]
        e = f"concat('{{', concat_ws(',', {', '.join(parts)}), '}}')"
    elif isinstance(dt, T.MapType):
        v = f"x{depth}"
        k = _canon(f"{v}.key", dt.keyType, depth + 1)
        val = _canon(f"{v}.value", dt.valueType, depth + 1)
        e = (
            f"concat('{{', array_join(array_sort(transform(map_entries({expr}), "
            f"{v} -> concat({k}, ':', {val}))), ','), '}}')"
        )
    else:
        e = f"CAST({expr} AS STRING)"
    return f"COALESCE({e}, '{NULL}')"


def hash_exprs(df: DataFrame) -> list[str]:
    """The three aggregate expressions of the hash, columns in name order."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row = "md5(concat_ws('{}', {}))".format(
        SEP, ", ".join(_canon(f"`{f.name}`", f.dataType) for f in fields)
    )
    return [
        "COUNT(*) AS n",
        f"SUM(CAST(CONV(SUBSTRING({row}, 1, 12), 16, 10) AS DECIMAL(38,0))) AS h1",
        f"SUM(CAST(CONV(SUBSTRING({row}, 13, 12), 16, 10) AS DECIMAL(38,0))) AS h2",
    ]


def output_hash(df: DataFrame) -> dict[str, int]:
    """{"rows", "h1", "h2"} of ``df``; one Spark job, nothing collected
    but the three numbers."""
    n, h1, h2 = df.selectExpr(*hash_exprs(df)).collect()[0]
    return {"rows": int(n), "h1": int(h1 or 0), "h2": int(h2 or 0)}


def row_count(df: DataFrame) -> dict[str, int]:
    """Rows-only check, for entries whose contract is a row count."""
    return {"rows": int(df.count())}
