"""Shared type-family normalization for oracle comparisons.

The round driver's value hash is TYPE-sensitive (CLAUDE.md): a DuckDB
HUGEINT/DECIMAL column vs a Spark bigint/double column mismatches even
at equal values. The oracle parity test
(``tests/oracle/test_oracle_parity.py``) therefore asserts that every
result column lands in the same coarse type family on both engines,
using the mapping kept here.
"""

from __future__ import annotations

_ARROW_FAMILY = {
    "int8": "int", "int16": "int", "int32": "int", "int64": "int",
    "uint8": "int", "uint16": "int", "uint32": "int", "uint64": "int",
    "float": "float", "double": "float", "halffloat": "float",
    "string": "str", "large_string": "str", "bool": "bool",
    "date32[day]": "date", "date64[ms]": "date",
}

_SPARK_FAMILY = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float", "string": "str",
    "boolean": "bool", "date": "date",
}


def arrow_family(t) -> str:
    """Coarse family for a pyarrow DataType (or its string form)."""
    s = str(t)
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("timestamp"):
        return "timestamp"
    return _ARROW_FAMILY.get(s, s)


def spark_family(s: str) -> str:
    """Coarse family for a Spark ``DataType.simpleString()``."""
    if s.startswith("decimal"):
        return "decimal"
    if s.startswith("timestamp"):
        return "timestamp"
    return _SPARK_FAMILY.get(s, s)
