"""End-to-end materialization pipeline (SURVEY §3.1 / §3.2 lifecycle).

The Spark-native equivalent of the reference's Dagster asset
materialization path (``definitions.py`` → asset body →
``IcebergIOManager.handle_output``) and of its declarative source-block
auto-ingest (``build_source_assets``, ``source_assets.py:116-126``):

1. resolve the YAML template (schema + source + properties + checks);
2. read the declared source (parquet/csv/json, validated path) — or accept
   a caller-supplied DataFrame (the "custom Python asset" extension point);
3. enforce the declared schema (projection/cast);
4. write the batch as a staged dir (full refresh by default, append for
   event-stream patterns), its quality checks observed by the write query;
5. failed checks BLOCK the commit by default and drop the dir, mirroring
   Soda's gate in the reference (``quality/runner.py:60-71``);
6. commit atomically, emit ``source_ingest`` / ``table_write`` audit
   events and return a materialization summary (row/column counts — the
   reference's asset output metadata).

Everything data-plane is executors-only; the driver does template
resolution, reads the observed check metrics, and makes one JSON commit.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from iceberg_quickstart_iac_spark.governance.access import read_with_access_level
from iceberg_quickstart_iac_spark.governance.audit import log_audit_event
from iceberg_quickstart_iac_spark.operators.quality import (
    DEFAULT_CHECKS,
    Check,
    QualityGateError,
    QualityReport,
    observe_checks,
    run_checks,
)
from iceberg_quickstart_iac_spark.sources.readers import ALLOWED_SCHEMES, read_source
from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable, TableNotFoundError
from iceberg_quickstart_iac_spark.templates.loader import spark_schema
from iceberg_quickstart_iac_spark.sources.readers import project_to_schema


@dataclass
class Materialization:
    table: str
    operation: str
    snapshot_id: str
    num_rows: int
    num_columns: int
    quality: QualityReport | None = None
    details: dict = field(default_factory=dict)


def _load_or_create(warehouse_root: str | Path, template: dict) -> SnapTable:
    """The template's table under ``warehouse_root``, created only when it
    does not exist: any other load failure (a newer ``format_version``)
    raises rather than being answered by overwriting the table."""
    root = Path(warehouse_root) / template.get("namespace", "default") / template["name"]
    try:
        return SnapTable.load(root)
    except TableNotFoundError:
        return SnapTable.create(root, template)


def _gated_write(
    spark: SparkSession,
    template: dict,
    warehouse_root: str | Path,
    df: DataFrame | None,
    mode: str,
    checks: list[Check] | None,
    wap: bool,
    enforce: bool = True,
    allowed_schemes: tuple[str, ...] = ALLOWED_SCHEMES,
) -> tuple[SnapTable, Materialization]:
    """The one gated write of :func:`materialize` and :func:`materialize_wap`:
    the batch (``df`` or the template's source, in the declared schema)
    goes through the table's staged-write hook (:meth:`SnapTable.append`),
    whose audit reports ``checks`` on the batch (observed metrics of the
    write) or, with ``wap``, on the staged table state. A failing report
    blocks the commit when ``enforce``."""
    name = template["name"]
    fq = f"{template.get('namespace', 'default')}.{name}"
    schema = spark_schema(template)
    if df is None:
        source = template.get("source")
        if not source:
            raise ValueError(f"Template '{name}' has no source block and no DataFrame was given")
        df = read_source(spark, source, schema, allowed_schemes)
        log_audit_event(
            "source_ingest",
            fq,
            details={"source_path": source["path"], "format": source.get("format", "parquet")},
        )
    else:
        df = project_to_schema(df, schema)
    checks = DEFAULT_CHECKS.get(name, []) if checks is None else checks
    if checks and not wap:
        df, observed = observe_checks(df, checks, table=fq)
    report = None

    def audit(staged) -> None:
        nonlocal report
        report = run_checks(staged(), checks, table=fq) if wap else observed()
        if enforce and not report.passed:
            raise QualityGateError(report)

    table = _load_or_create(warehouse_root, template)
    write = table.append if mode == "append" else table.overwrite
    entry = write(df, audit=audit if checks else None)
    return table, Materialization(
        table=fq,
        operation=entry["operation"],
        snapshot_id=entry["snapshot_id"],
        num_rows=entry["row_count"],
        num_columns=len(df.columns),
        quality=report,
    )


def materialize(
    spark: SparkSession,
    template: dict,
    warehouse_root: str | Path,
    df: DataFrame | None = None,
    mode: str = "overwrite",
    checks: list[Check] | None = None,
    enforce_quality: bool = True,
    allowed_schemes: tuple[str, ...] = ALLOWED_SCHEMES,
    team=None,
    register_view: bool = False,
    register_access_level: str = "reader",
    register_metadata_tables: bool | None = None,
    register_follow_head: bool = False,
) -> Materialization:
    """Materialize one table from its template (the "asset run").

    ``df=None`` requires a ``source`` block in the template (declarative
    ingest); passing a DataFrame is the custom-asset path. ``mode`` is
    'overwrite' (reference's full-refresh model) or 'append' (event-stream
    pattern). ``checks`` default to the template's registered set and gate
    the batch inside its own write query (:func:`observe_checks`). A
    ``team`` (tenancy matrix) gates the write up front: only
    writer/admin teams may materialize the table.

    ``register_view=True`` finishes the run the way the reference's
    pipeline does — with a SQL-queryable surface: the fresh snapshot's
    GOVERNED read (+ metadata tables) registers into the session as
    ``<name>`` via :meth:`SnapTable.register`, at
    ``register_access_level`` (reader by default, so downstream
    ``spark.sql`` consumers never see restricted columns).
    """
    if team is not None:
        from iceberg_quickstart_iac_spark.governance.tenancy import authorize_write

        authorize_write(team, template["name"])
    table, result = _gated_write(
        spark, template, warehouse_root, df, mode, checks, wap=False,
        enforce=enforce_quality, allowed_schemes=allowed_schemes,
    )
    if register_view:
        # follow_head keeps the view current across LATER commits too
        # (incremental appends after this run) — without it the view pins
        # this materialization's snapshot until the next register
        table.register(
            spark,
            name=template["name"],
            access_level=register_access_level,
            metadata_tables=register_metadata_tables,
            follow_head=register_follow_head,
        )
    return result


def materialize_wap(
    spark: SparkSession,
    template: dict,
    warehouse_root: str | Path,
    df: DataFrame | None = None,
    mode: str = "overwrite",
    checks: list[Check] | None = None,
) -> Materialization:
    """Write-Audit-Publish, the Iceberg staging pattern: the plain
    :func:`materialize` gate audits the written BATCH; WAP audits the
    staged TABLE STATE as consumers would read it once published (the
    head's rows plus the staged dir for an append, the dir alone for an
    overwrite), read back through the table's read path, so it catches
    write-path defects a batch gate cannot see: casts, declared-schema
    projection, partition layout. Only a passing audit commits; a failing
    one drops the staged dir. The data is written once; the audit is one
    check aggregation over the staged state.
    """
    return _gated_write(spark, template, warehouse_root, df, mode, checks, wap=True)[1]


def read_table(
    spark: SparkSession,
    template: dict,
    warehouse_root: str | Path,
    access_level: str = "admin",
    snapshot_id: str | None = None,
    as_of_ms: int | None = None,
    team=None,
) -> DataFrame:
    """Governed read of a materialized table (the IO-manager load path,
    ``resources/iceberg.py:107-153``): time-travel-aware, access-level
    column governance applied before the scan. Pass a
    :class:`~iceberg_quickstart_iac_spark.governance.tenancy.Team` to
    resolve the level from the team's per-table matrix instead
    (``docs/multi-tenancy.md``) — 'none' denies, 'reader' excludes PII."""
    root = Path(warehouse_root) / template.get("namespace", "default") / template["name"]
    table = SnapTable.load(root)
    df = table.read(spark, snapshot_id=snapshot_id, as_of_ms=as_of_ms)
    if team is not None:
        from iceberg_quickstart_iac_spark.governance.tenancy import read_table_for_team

        return read_table_for_team(df, template, team)
    return read_with_access_level(df, template, access_level, table=table.fq_name)
