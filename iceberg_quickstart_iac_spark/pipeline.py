"""End-to-end materialization pipeline (SURVEY §3.1 / §3.2 lifecycle).

The Spark-native equivalent of the reference's Dagster asset
materialization path (``definitions.py`` → asset body →
``IcebergIOManager.handle_output``) and of its declarative source-block
auto-ingest (``build_source_assets``, ``source_assets.py:116-126``):

1. resolve the YAML template (schema + source + properties + checks);
2. read the declared source (parquet/csv/json, validated path) — or accept
   a caller-supplied DataFrame (the "custom Python asset" extension point);
3. enforce the declared schema (projection/cast);
4. run the table's quality checks (single-pass aggregation) — failures
   BLOCK the write by default, mirroring Soda's gate in the reference
   (``quality/runner.py:60-71``);
5. commit atomically to the snapshot-log table (full refresh by default,
   append for event-stream patterns);
6. emit ``source_ingest`` / ``table_write`` audit events and return a
   materialization summary (row/column counts — the reference's asset
   output metadata).

Everything data-plane is executors-only; the driver does template
resolution, one aggregate collect (checks), and one JSON commit.
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
    QualityReport,
    run_checks,
)
from iceberg_quickstart_iac_spark.sources.readers import ALLOWED_SCHEMES, read_source
from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable, TableNotFoundError
from iceberg_quickstart_iac_spark.templates.loader import spark_schema
from iceberg_quickstart_iac_spark.sources.readers import project_to_schema


class QualityGateError(RuntimeError):
    def __init__(self, report: QualityReport):
        self.report = report
        failures = "; ".join(r.label for r in report.failures())
        super().__init__(f"Quality gate failed for {report.table}: {failures}")


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
    pattern). ``checks`` default to the template's registered set. A
    ``team`` (tenancy matrix) gates the write up front: only
    writer/admin teams may materialize the table.

    ``register_view=True`` finishes the run the way the reference's
    pipeline does — with a SQL-queryable surface: the fresh snapshot's
    GOVERNED read (+ metadata tables) registers into the session as
    ``<name>`` via :meth:`SnapTable.register`, at
    ``register_access_level`` (reader by default, so downstream
    ``spark.sql`` consumers never see restricted columns).
    """
    name = template["name"]
    if team is not None:
        from iceberg_quickstart_iac_spark.governance.tenancy import authorize_write

        authorize_write(team, name)
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

    if checks is None:
        checks = DEFAULT_CHECKS.get(name, [])
    report = run_checks(df, checks, table=fq) if checks else None
    if report is not None and enforce_quality and not report.passed:
        raise QualityGateError(report)

    table = _load_or_create(warehouse_root, template)

    entry = table.append(df) if mode == "append" else table.overwrite(df)

    if register_view:
        # follow_head keeps the view current across LATER commits too
        # (incremental appends after this run) — without it the view pins
        # this materialization's snapshot until the next register
        table.register(
            spark,
            name=name,
            access_level=register_access_level,
            metadata_tables=register_metadata_tables,
            follow_head=register_follow_head,
        )

    return Materialization(
        table=fq,
        operation=entry["operation"],
        snapshot_id=entry["snapshot_id"],
        num_rows=entry["row_count"],
        num_columns=len(df.columns),
        quality=report,
    )


def materialize_wap(
    spark: SparkSession,
    template: dict,
    warehouse_root: str | Path,
    df: DataFrame | None = None,
    mode: str = "overwrite",
    checks: list[Check] | None = None,
    audit_branch_prefix: str = "audit",
) -> Materialization:
    """Write-Audit-Publish: the Iceberg staging pattern, built on the
    snapstore's Nessie-style branches.

    The plain :func:`materialize` gate audits the INPUT frame before the
    write; WAP audits the COMMITTED data as consumers would read it — the
    staged commit lands on an isolated branch, the checks run against the
    branch READ-BACK (catching write-path defects a pre-write gate cannot
    see: casts, declared-schema projection, partition layout), and only a
    passing audit merges the branch into main. A failing audit deletes the
    branch; main never referenced the bad data. Branch mechanics are
    metadata-only (the data is written once, directories are shared), so
    WAP costs one extra read-side aggregation — not a second write — at
    any scale.
    """
    import uuid as _uuid

    name = template["name"]
    fq = f"{template.get('namespace', 'default')}.{name}"
    schema = spark_schema(template)

    if df is None:
        source = template.get("source")
        if not source:
            raise ValueError(f"Template '{name}' has no source block and no DataFrame was given")
        df = read_source(spark, source, schema)
        log_audit_event(
            "source_ingest",
            fq,
            details={"source_path": source["path"], "format": source.get("format", "parquet")},
        )
    else:
        df = project_to_schema(df, schema)

    table = _load_or_create(warehouse_root, template)

    branch_name = f"{audit_branch_prefix}-{_uuid.uuid4().hex[:8]}"
    br = table.create_branch(branch_name)
    try:
        br.append(df) if mode == "append" else br.overwrite(df)

        if checks is None:
            checks = DEFAULT_CHECKS.get(name, [])
        report = (
            run_checks(br.read(spark), checks, table=f"{fq}@{branch_name}")
            if checks
            else None
        )
        if report is not None and not report.passed:
            raise QualityGateError(report)
    except Exception:
        # blocked or failed before publish: main never saw the data, drop it
        table.delete_branch(branch_name)
        raise
    # publish; the staging branch is deleted only after a FULLY successful
    # merge — on a merge conflict it survives, still holding the complete
    # unmerged history for manual resolution (no partial publish is lost)
    merged = table.merge_branch(branch_name)
    table.delete_branch(branch_name)

    return Materialization(
        table=fq,
        operation=merged["operation"],
        snapshot_id=merged["snapshot_id"],
        num_rows=merged["row_count"],
        num_columns=len(df.columns),
        quality=report,
        details={"wap_branch": branch_name},
    )


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
