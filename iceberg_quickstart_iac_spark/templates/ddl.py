"""Template → Iceberg Spark-SQL DDL.

Parity target: the reference renders per-table CREATE TABLE DDL into
Athena named queries (``aws/modules/athena/main.tf:26-45``) and BigQuery
jobs (``gcp/modules/biglake/main.tf:70-82``). Here the same template
renders Spark-SQL Iceberg DDL: typed columns (the engine's exact mapping,
``templates/loader.spark_type``: a table's stored ``DECIMAL`` and
``ARRAY`` columns render as themselves) with NOT NULL + COMMENT,
transform partitioning (``PARTITIONED BY (days(ts), hours(ts))``),
``WRITE ORDERED BY`` for the declared sort order, and TBLPROPERTIES
mapped to Iceberg property names.

Executable as-is on any Spark session with the ``iceberg-spark-runtime``
extension configured (see ``tables/catalog_conf.py``); rendered and
validated locally without it.
"""

from __future__ import annotations

import re

from iceberg_quickstart_iac_spark.templates.loader import spark_type

_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNCATE_RE = re.compile(r"^truncate\[(\d+)\]$")

#: template property key → Iceberg table property key
_PROPERTY_MAP = {
    "write_format": "write.format.default",
    "history_expire_max_snapshot_age_ms": "history.expire.max-snapshot-age-ms",
    "commit_num_retries": "commit.retry.num-retries",
}


def _sql_str(value: object) -> str:
    return "'" + str(value).replace("'", "''") + "'"


def partition_transform_sql(column: str, transform: str) -> str:
    """Render one partition_spec entry as an Iceberg DDL transform."""
    if transform == "identity":
        return column
    if transform in ("year", "month", "day", "hour"):
        return f"{transform}s({column})"
    m = _BUCKET_RE.match(transform)
    if m:
        return f"bucket({m.group(1)}, {column})"
    m = _TRUNCATE_RE.match(transform)
    if m:
        return f"truncate({m.group(1)}, {column})"
    raise ValueError(f"Unknown partition transform: {transform!r}")


def create_table_ddl(template: dict, catalog: str = "lakehouse") -> str:
    """Render CREATE TABLE ... USING iceberg for a template."""
    namespace = template.get("namespace", "default")
    fq_name = f"{catalog}.{namespace}.{template['name']}"

    col_lines = []
    for col in template["columns"]:
        line = f"  {col['name']} {spark_type(col.get('type', 'string')).simpleString().upper()}"
        if col.get("required"):
            line += " NOT NULL"
        if col.get("description"):
            line += f" COMMENT {_sql_str(col['description'])}"
        col_lines.append(line)

    parts = [f"CREATE TABLE IF NOT EXISTS {fq_name} (", ",\n".join(col_lines), ") USING iceberg"]

    spec = template.get("partition_spec") or []
    transforms = [partition_transform_sql(p["column"], p["transform"]) for p in spec]
    if transforms:
        parts.append("PARTITIONED BY (" + ", ".join(transforms) + ")")

    props = dict(template.get("properties") or {})
    tbl_props = {_PROPERTY_MAP.get(k, k): v for k, v in props.items()}
    if tbl_props:
        rendered = ", ".join(
            f"{_sql_str(k)} = {_sql_str(v)}" for k, v in sorted(tbl_props.items())
        )
        parts.append(f"TBLPROPERTIES ({rendered})")

    return "\n".join(parts)


def write_order_ddl(template: dict, catalog: str = "lakehouse") -> str | None:
    """Render ALTER TABLE ... WRITE ORDERED BY for the declared sort_order.

    Write-time clustering (compression + file skipping), per the reference's
    sort_order semantics (``docs/table-template-reference.md:180-191``).
    """
    order = template.get("sort_order") or []
    if not order:
        return None
    namespace = template.get("namespace", "default")
    fq_name = f"{catalog}.{namespace}.{template['name']}"
    entries = []
    for item in order:
        entry = item["column"] + " " + item.get("direction", "asc").upper()
        null_order = item.get("null_order")
        if null_order:
            entry += " NULLS " + null_order.split("_")[1].upper()
        entries.append(entry)
    return f"ALTER TABLE {fq_name} WRITE ORDERED BY " + ", ".join(entries)


def create_namespace_ddl(template: dict, catalog: str = "lakehouse") -> str:
    namespace = template.get("namespace", "default")
    return f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}"


def named_queries(template: dict, catalog: str = "lakehouse") -> dict[str, str]:
    """The reference's per-table Athena named-query set
    (``aws/modules/athena/main.tf:26-67``: ``create-<table>`` DDL and
    ``time-travel-<table>`` snapshot-history / version-pin examples),
    rendered as runnable Spark SQL.

    The DDL targets a real Iceberg catalog (``create_table_ddl``). The
    time-travel pair targets either surface: against a real Iceberg
    catalog the strings run as-is (``t.snapshots`` metadata table +
    ``VERSION AS OF``); against the local snapstore they run verbatim
    through the views :meth:`~..tables.snapstore.SnapTable.register`
    publishes (``<name>__snapshots``; a version pin is a time-travel
    registration under a distinct view name).
    """
    name = template["name"]
    return {
        f"create-{name}": create_table_ddl(template, catalog=catalog),
        f"snapshot-history-{name}": (
            f"SELECT * FROM {name}__snapshots "
            "ORDER BY committed_at_ms DESC LIMIT 10"
        ),
        f"time-travel-{name}": (
            f"SELECT * FROM {catalog}.{template.get('namespace', 'default')}."
            f"{name} VERSION AS OF '<snapshot_id>' LIMIT 100"
        ),
    }
