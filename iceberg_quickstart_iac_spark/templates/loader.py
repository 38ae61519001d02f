"""Template loading and the engine's one type mapper.

Every decision about type names lives here: one forward table maps a
template (Iceberg) type name to a Spark type, and the reverse direction
is derived from it. Callers: the snapstore (declared column types on its
read, write, merge and upgrade paths), the SQL DDL front door (CREATE,
ALTER, CTAS), the DDL renderer (``templates/ddl.py``) and schema drift.

- :func:`spark_type` — the engine mapping: the 12 Iceberg primitives
  (``time`` and ``uuid`` demote to string: Spark has neither, like the
  reference's Athena/Glue and Arrow mappings), exact ``decimal(p,s)``, and
  ``list<T>`` (``array<T>`` accepted). Any other name (``map<string,int>``,
  ``struct<a:int>``, a typo) raises ``ValueError`` naming it, where the
  reference falls back to string: a column declared as a map must not
  silently hold strings.
- :func:`template_type` — the reverse: a Spark ``DataType`` or a Spark
  DDL type string (``BIGINT``, ``DECIMAL(18, 6)``, ``ARRAY<INT>`` and the
  synonyms ``INTEGER``/``SMALLINT``/``TINYINT``/``VARCHAR``/``REAL``) to
  the template name. ``time`` and ``uuid`` are one-way: they read back as
  ``string``.
- :func:`iceberg_type_to_spark` / :func:`spark_schema` — the template
  compiler, with one parity rule on top of the engine mapping:
  ``decimal(p,s)`` demotes to string (reference
  ``dagster/lakehouse/utils/table_loader.py:68`` and test
  ``tests/test_table_loader.py:126-128``).

Template loading keeps the reference loader's behavior: every ``*.yaml``
in the template dir is loaded, keyed by file stem; empty YAML raises
``ValueError``; a template missing any of ``{name, columns,
partition_spec}`` raises ``ValueError`` naming them. Spark-native
differences: the output is a ``StructType`` with ``required: true``
becoming ``nullable=False``, and caching is per-directory and explicit
(no ``lru_cache`` keyed on nothing), so tests can load alternate template
dirs freely.
"""

from __future__ import annotations

import re
from pathlib import Path

import yaml
from pyspark.sql import types as T

#: built-in template specs shipped with the engine
SPEC_DIR = Path(__file__).resolve().parent / "specs"

REQUIRED_KEYS = frozenset({"name", "columns", "partition_spec"})

#: template type name → Spark type: the one forward table
_TYPES: dict[str, T.DataType] = {
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
    "uuid": T.StringType(),  # demoted, like the reference's Arrow mapping
    "binary": T.BinaryType(),
}

#: Spark DDL type name → template type name: each Spark type above by its
#: own DDL name (the demoted time and uuid read back as string), plus the
#: DDL synonyms
_NAMES: dict[str, str] = {
    **{t.simpleString(): n for n, t in _TYPES.items() if n not in ("time", "uuid")},
    "long": "long",
    "integer": "int",
    "smallint": "int",
    "tinyint": "int",
    "varchar": "string",
    "real": "float",
    "uuid": "uuid",
}

_DECIMAL = re.compile(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)", re.IGNORECASE)
_LIST = re.compile(r"(?:list|array)\s*<(.+)>", re.IGNORECASE)

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


def spark_type(type_name: str) -> T.DataType:
    """The Spark type of a template type name (the engine mapping, exact
    decimals); an unknown name raises ``ValueError`` naming it."""
    name = type_name.strip()
    if name in _TYPES:
        return _TYPES[name]
    m = _DECIMAL.fullmatch(name)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    m = _LIST.fullmatch(name)
    if m:
        return T.ArrayType(spark_type(m.group(1)))
    raise ValueError(
        f"Unknown Iceberg type {type_name!r}: expected one of "
        f"{sorted(_TYPES)}, decimal(p,s) or list<type>"
    )


def template_type(spark: T.DataType | str) -> str:
    """The template type name of a Spark type or a Spark DDL type string;
    a type the templates cannot declare raises ``ValueError`` naming it."""
    ddl = spark.simpleString() if isinstance(spark, T.DataType) else spark
    name = ddl.strip().lower()
    if name in _NAMES:
        return _NAMES[name]
    m = _DECIMAL.fullmatch(name)
    if m:
        return f"decimal({m.group(1)},{m.group(2)})"
    m = _LIST.fullmatch(name)
    if m:
        return f"list<{template_type(m.group(1))}>"
    raise ValueError(f"Unsupported column type {ddl!r}: no template type maps to it")


def iceberg_type_to_spark(iceberg_type: str) -> T.DataType:
    """:func:`spark_type` with the reference's parity rule: ``decimal(p,s)``
    demotes to string."""
    dtype = spark_type(iceberg_type)
    return T.StringType() if isinstance(dtype, T.DecimalType) else dtype


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
