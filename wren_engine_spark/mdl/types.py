"""MDL type-string -> Spark DataType mapping.

Mirrors the reference's map_data_type
(wren-core/core/src/logical_plan/utils.rs:123-196) with Spark targets per
SURVEY.md §1.2: Decimal128(38,10) default for decimal/numeric, ns
timestamps downcast to Spark microseconds, tz-naive timestamps ->
TimestampNTZ, array<T>/T[] and struct<...> parsed recursively.
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

_SIMPLE: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "tinyint": T.ByteType(),
    "int2": T.ShortType(),
    "smallint": T.ShortType(),
    "int4": T.IntegerType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "int8": T.LongType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float4": T.FloatType(),
    "real": T.FloatType(),
    "float": T.FloatType(),
    "float8": T.DoubleType(),
    "double": T.DoubleType(),
    "decimal": T.DecimalType(38, 10),
    "numeric": T.DecimalType(38, 10),
    "bignumeric": T.DecimalType(38, 10),
    "varchar": T.StringType(),
    "char": T.StringType(),
    "bpchar": T.StringType(),
    "text": T.StringType(),
    "string": T.StringType(),
    "name": T.StringType(),
    "uuid": T.StringType(),
    "inet": T.StringType(),
    "unknown": T.StringType(),
    "json": T.StringType(),
    "xml": T.StringType(),
    "timestamp": T.TimestampNTZType(),
    "datetime": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "timestamp with time zone": T.TimestampType(),
    "date": T.DateType(),
    "time": T.StringType(),  # Spark has no TimeType; keep lexical
    "interval": T.DayTimeIntervalType(),
    "bytea": T.BinaryType(),
    "bytes": T.BinaryType(),
    "binary": T.BinaryType(),
    "varbinary": T.BinaryType(),
    "blob": T.BinaryType(),
    "jsonb": T.BinaryType(),
    "null": T.NullType(),
}

_ARRAY_SUFFIX = re.compile(r"^(.*)\[\]$")
_ARRAY_GENERIC = re.compile(r"^array\s*<(.*)>$", re.IGNORECASE)
_STRUCT_GENERIC = re.compile(r"^struct\s*<(.*)>$", re.IGNORECASE)
_DECIMAL_ARGS = re.compile(r"^(?:decimal|numeric)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", re.IGNORECASE)
_VARCHAR_ARGS = re.compile(r"^(?:varchar|char|bpchar)\s*\(\s*\d+\s*\)$", re.IGNORECASE)


def _split_top(s: str, sep: str = ",") -> list[str]:
    """Split on sep at angle-bracket/paren depth 0."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == sep and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def map_type(name: str) -> T.DataType:
    """Map an MDL type string to a Spark DataType (fallback: StringType)."""
    s = (name or "string").strip()
    low = s.lower()
    if low in _SIMPLE:
        return _SIMPLE[low]
    m = _DECIMAL_ARGS.match(low)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if _VARCHAR_ARGS.match(low):
        return T.StringType()
    m = _ARRAY_SUFFIX.match(s)
    if m:
        return T.ArrayType(map_type(m.group(1)))
    m = _ARRAY_GENERIC.match(s)
    if m:
        return T.ArrayType(map_type(m.group(1)))
    m = _STRUCT_GENERIC.match(s)
    if m:
        fields = []
        for part in _split_top(m.group(1)):
            part = part.strip()
            if not part:
                continue
            fname, _, ftype = part.partition(":")
            fields.append(T.StructField(fname.strip().strip('"`'), map_type(ftype.strip())))
        return T.StructType(fields)
    m = re.match(r"^map\s*<(.*)>$", s, re.IGNORECASE)
    if m:
        kv = _split_top(m.group(1))
        if len(kv) == 2:
            return T.MapType(map_type(kv[0].strip()), map_type(kv[1].strip()))
    return T.StringType()
