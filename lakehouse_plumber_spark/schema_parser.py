"""YAML schema files -> Spark StructType / DDL hint strings.

Mirrors the reference's schema format (name/type/nullable/comment +
primary_key; reference: src/lhp/parsers/schema_parser.py:19-92 and type map
src/lhp/core/codegen/struct_type_emitter.py:27-44), extended with full
ARRAY/MAP/STRUCT/DECIMAL support by delegating complex types to Spark's own
DDL parser — DDL strings are already Spark-native.
"""

from __future__ import annotations

from typing import Any

import yaml
from pyspark.sql import types as T

# Simple-type map (reference struct_type_emitter.py:27-44); anything not here
# (decimal(p,s), array<...>, map<...>, struct<...>) goes through the DDL parser.
_TYPE_MAPPING: dict[str, T.DataType] = {
    "string": T.StringType(),
    "varchar": T.StringType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "smallint": T.ShortType(),
    "short": T.ShortType(),
    "tinyint": T.ByteType(),
    "byte": T.ByteType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def parse_type(type_str: str) -> T.DataType:
    """Parse a YAML/DDL type string to a Spark DataType."""
    key = type_str.strip().lower()
    if key in _TYPE_MAPPING:
        return _TYPE_MAPPING[key]
    # decimal / array / map / struct / interval — Spark's DDL parser is authoritative
    return T._parse_datatype_string(type_str)


def schema_from_dict(spec: dict[str, Any]) -> T.StructType:
    """Build a StructType from the YAML schema dict format.

    Format: {name: ..., columns: [{name, type, nullable, comment}], primary_key: [...]}
    """
    fields = []
    for col in spec.get("columns", []):
        dtype = parse_type(str(col["type"]))
        metadata = {}
        if col.get("comment"):
            metadata["comment"] = col["comment"]
        fields.append(
            T.StructField(
                col["name"],
                dtype,
                bool(col.get("nullable", True)),
                metadata=metadata or None,
            )
        )
    return T.StructType(fields)


def schema_from_file(path: str) -> T.StructType:
    """Load a schema from a YAML file, or pass a .ddl/.sql file through Spark's parser."""
    if path.endswith((".ddl", ".sql")):
        with open(path) as f:
            return T._parse_datatype_string(f.read())
    with open(path) as f:
        return schema_from_dict(yaml.safe_load(f))


def coerce_schema(spec: Any) -> T.StructType:
    """Accept a StructType, YAML dict, DDL string, or file path."""
    if isinstance(spec, T.StructType):
        return spec
    if isinstance(spec, dict):
        return schema_from_dict(spec)
    if isinstance(spec, str):
        if spec.endswith((".yaml", ".yml", ".ddl", ".sql")):
            return schema_from_file(spec)
        return T._parse_datatype_string(spec)
    raise TypeError(f"cannot coerce {type(spec)} to StructType")


def parse_tags_file(path: str) -> tuple[Any, Any, dict[str, dict[str, str]]]:
    """Read UC tags from a unified schema/tags file (reference
    tags_file_parser.py / unified_schema_format.py: the SAME file can serve
    as both ``table_schema`` and ``tags_file`` — this reader consumes only
    the top-level ``tags:`` block and per-column ``tags:`` under
    ``columns:``, ignoring the DDL-only fields).

    Returns ``(identifier, table_tags, column_tags)``:

    - ``identifier``: the file's declared ``table`` (or its alias ``name``;
      ``table`` wins on conflict), or None — used only for a mismatch
      warning against the write target.
    - ``table_tags``: ``None`` when the ``tags:`` key is ABSENT, ``{}`` for
      an explicit empty set (absent != empty, reference contract), else the
      normalized mapping.
    - ``column_tags``: column -> normalized tag mapping, only for columns
      that carry a ``tags:`` key; a file with no tags anywhere is a no-op,
      not an error.

    Tag values normalize like the reference's coercions: ``None`` (a bare
    ``key:``) and ``''`` both become the empty string; everything else is
    its string form.
    """
    with open(path) as f:
        spec = yaml.safe_load(f) or {}
    if not isinstance(spec, dict):
        raise ValueError(f"tags file {path!r} must hold a YAML mapping")

    def _norm(tags: Any, where: str) -> dict[str, str]:
        if not isinstance(tags, dict):
            raise ValueError(f"{where} tags in {path!r} must be a mapping")
        return {str(k): "" if v is None else str(v) for k, v in tags.items()}

    identifier = spec.get("table") or spec.get("name")
    table_tags = None
    if "tags" in spec:
        table_tags = _norm(spec.get("tags") or {}, "table")
    column_tags: dict[str, dict[str, str]] = {}
    for col in spec.get("columns") or []:
        if isinstance(col, dict) and "tags" in col and col.get("name"):
            column_tags[str(col["name"])] = _norm(
                col.get("tags") or {}, f"column {col.get('name')!r}"
            )
    return identifier, table_tags, column_tags
