"""Flink SQL type names → Spark types.

The reference declares schemas in Flink SQL DDL (SURVEY.md §1.2; type universe
from reference vscode-extension/src/renderers/tableRendererScript.ts:62-81 and
examples/02-datagen-batch.flinknb:83). This maps each to the closest Spark
type; ``TIME`` has no Spark equivalent and maps to STRING (documented gap,
SURVEY.md §7.3).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

from .sql_text import split_top


class TypeParseError(ValueError):
    pass


_SIMPLE = {
    "TINYINT": T.ByteType(),
    "SMALLINT": T.ShortType(),
    "INT": T.IntegerType(),
    "INTEGER": T.IntegerType(),
    "BIGINT": T.LongType(),
    "FLOAT": T.FloatType(),
    "REAL": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "STRING": T.StringType(),
    "BOOLEAN": T.BooleanType(),
    "DATE": T.DateType(),
    "BYTES": T.BinaryType(),
    "BINARY": T.BinaryType(),
    "VARBINARY": T.BinaryType(),
    # Flink TIME → no Spark type; keep as string (SURVEY.md §7.3)
    "TIME": T.StringType(),
}


def parse_type(s: str) -> T.DataType:
    """Parse a Flink SQL type string into a Spark DataType."""
    s = s.strip()
    up = s.upper()

    if up in _SIMPLE:
        return _SIMPLE[up]
    m = re.fullmatch(r"(VARCHAR|CHAR)\s*(\(\s*\d+\s*\))?", up)
    if m:
        return T.StringType()
    m = re.fullmatch(r"(?:DECIMAL|NUMERIC|DEC)\s*(?:\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?", up)
    if m:
        p = int(m.group(1) or 10)
        sc = int(m.group(2) or 0)
        return T.DecimalType(p, sc)
    m = re.fullmatch(r"TIME\s*\(\s*\d+\s*\)", up)
    if m:
        return T.StringType()
    # TIMESTAMP(p): Flink ms precision ⊆ Spark µs. Plain TIMESTAMP in Flink is
    # wall-clock (no zone) → TimestampNTZ; TIMESTAMP_LTZ → TimestampType.
    m = re.fullmatch(r"TIMESTAMP\s*(\(\s*\d+\s*\))?", up)
    if m:
        return T.TimestampNTZType()
    m = re.fullmatch(
        r"TIMESTAMP(?:\s*\(\s*\d+\s*\))?\s+WITH\s+LOCAL\s+TIME\s+ZONE|TIMESTAMP_LTZ\s*(\(\s*\d+\s*\))?",
        up,
    )
    if m:
        return T.TimestampType()
    if up.startswith("ARRAY<") and s.endswith(">"):
        return T.ArrayType(parse_type(s[6:-1]))
    if up.startswith("MULTISET<") and s.endswith(">"):
        # multiset ≈ map<element, count>
        return T.MapType(parse_type(s[9:-1]), T.IntegerType())
    if up.startswith("MAP<") and s.endswith(">"):
        k, v = split_top(s[4:-1])
        return T.MapType(parse_type(k), parse_type(v))
    if up.startswith("ROW<") and s.endswith(">"):
        fields = []
        for item in split_top(s[4:-1]):
            mm = re.match(r"(`?)(\w+)\1\s+(.+)", item.strip(), re.DOTALL)
            if not mm:
                raise TypeParseError(f"bad ROW field: {item!r}")
            fields.append(T.StructField(mm.group(2), parse_type(mm.group(3))))
        return T.StructType(fields)
    if up.startswith("ROW(") and s.endswith(")"):
        return parse_type("ROW<" + s[4:-1] + ">")
    raise TypeParseError(f"unsupported Flink type: {s!r}")


def to_flink_type(dt: T.DataType) -> str:
    """Spark type → Flink SQL type name (inverse of parse_type, for
    SHOW CREATE TABLE round-trips)."""
    if isinstance(dt, T.TimestampNTZType):
        return "TIMESTAMP(3)"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP_LTZ(3)"
    if isinstance(dt, T.LongType):
        return "BIGINT"
    if isinstance(dt, T.IntegerType):
        return "INT"
    if isinstance(dt, T.ShortType):
        return "SMALLINT"
    if isinstance(dt, T.ByteType):
        return "TINYINT"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.BinaryType):
        return "BYTES"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{to_flink_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{to_flink_type(dt.keyType)}, {to_flink_type(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {to_flink_type(f.dataType)}" for f in dt.fields)
        return f"ROW<{inner}>"
    return dt.simpleString().upper()  # STRING/DOUBLE/FLOAT/BOOLEAN/DATE
