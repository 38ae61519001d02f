"""Template loading + Iceberg-type → Spark-type mapping.

Behavioral parity with the reference loader
(``dagster/lakehouse/utils/table_loader.py``):

- every ``*.yaml`` in the template dir is loaded, keyed by file stem;
- empty YAML raises ``ValueError``; a template missing any of
  ``{name, columns, partition_spec}`` raises ``ValueError`` naming them;
- ``decimal(p,s)`` demotes to string (reference line 68 and test
  ``tests/test_table_loader.py:126-128``);
- ``time`` demotes to string — Spark has no time-of-day type, matching the
  reference's own Athena/Glue demotion (``aws/modules/athena/locals.tf:9``);
- ``uuid`` maps to string (as in the reference's Arrow mapping).

Differences (Spark-native, intentional):

- output is ``pyspark.sql.types.StructType``, with ``required: true``
  becoming ``nullable=False``;
- any other unknown type name (``map<string,int>``, ``struct<a:int>``, a
  typo) raises ``ValueError`` naming it, where the reference falls back to
  string: a column declared as a map must not silently hold strings;
- no ``lru_cache`` keyed on nothing — caching is per-directory and
  explicit, so tests can load alternate template dirs freely.
"""

from __future__ import annotations

import re
from pathlib import Path

import yaml
from pyspark.sql import types as T

#: built-in template specs shipped with the engine
SPEC_DIR = Path(__file__).resolve().parent / "specs"

REQUIRED_KEYS = frozenset({"name", "columns", "partition_spec"})

_TYPE_MAP: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "time": T.StringType(),  # demoted, like Athena/Glue in the reference
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "uuid": T.StringType(),
    "binary": T.BinaryType(),
}

_cache: dict[Path, dict[str, dict]] = {}


def load_table_templates(templates_dir: Path | str | None = None) -> dict[str, dict]:
    """Load every YAML template under ``templates_dir`` keyed by file stem."""
    directory = Path(templates_dir) if templates_dir else SPEC_DIR
    if directory in _cache:
        return _cache[directory]

    templates: dict[str, dict] = {}
    for path in sorted(directory.glob("*.yaml")):
        with open(path) as fh:
            template = yaml.safe_load(fh)
        if template is None:
            raise ValueError(f"Empty YAML file: {path}")
        missing = REQUIRED_KEYS - set(template)
        if missing:
            raise ValueError(
                f"Table template '{path.name}' missing required keys: {sorted(missing)}. "
                f"Required: {sorted(REQUIRED_KEYS)}"
            )
        templates[path.stem] = template
    _cache[directory] = templates
    return templates


def get_template(name: str, templates_dir: Path | str | None = None) -> dict:
    templates = load_table_templates(templates_dir)
    if name not in templates:
        raise KeyError(f"Table template '{name}' not found. Available: {sorted(templates)}")
    return templates[name]


_DECIMAL = re.compile(r"^decimal\(\s*\d+\s*,\s*\d+\s*\)$")


def iceberg_type_to_spark(iceberg_type: str) -> T.DataType:
    """Map an Iceberg primitive type string to a Spark type;
    ``decimal(p,s)`` demotes to string (reference parity), any other
    unknown name raises ``ValueError``."""
    if iceberg_type in _TYPE_MAP:
        return _TYPE_MAP[iceberg_type]
    if _DECIMAL.match(iceberg_type.strip().lower()):
        return T.StringType()
    raise ValueError(
        f"Unknown Iceberg type {iceberg_type!r}: expected one of "
        f"{sorted(_TYPE_MAP)} or decimal(p,s)"
    )


def spark_schema(template: dict) -> T.StructType:
    """Compile a template's column list to a StructType.

    ``required: true`` → ``nullable=False``; ``description`` is carried in
    field metadata (surfaces as the column COMMENT in generated DDL).
    """
    fields = []
    for col in template["columns"]:
        metadata = {}
        if col.get("description"):
            metadata["comment"] = col["description"]
        if col.get("pii"):
            metadata["pii"] = True
        if col.get("access_level"):
            metadata["access_level"] = col["access_level"]
        fields.append(
            T.StructField(
                col["name"],
                iceberg_type_to_spark(col.get("type", "string")),
                nullable=not col.get("required", False),
                metadata=metadata,
            )
        )
    return T.StructType(fields)


def get_column_names(template: dict) -> list[str]:
    return [col["name"] for col in template["columns"]]


def get_restricted_columns(template: dict) -> list[str]:
    """Columns a reader-level session must never see (access_level=restricted)."""
    return [c["name"] for c in template["columns"] if c.get("access_level") == "restricted"]
