"""Schema-drift detection (SURVEY §2.10 M5).

Parity target: ``dagster/lakehouse/sensors/schema_drift.py:54-110`` — diff a
live table schema against its YAML template: missing columns, extra columns,
and type mismatches on the intersection; drift emits a ``schema_drift`` audit
event. The reference polls hourly via a Dagster sensor; here the diff is a
pure function over ``df.schema`` so it can run from any scheduler (or a
Structured Streaming monitor).

Both sides are compared in *Spark* type space: the template compiles through
the engine's type mapper (``templates/loader.spark_type``), the mapping
engine tables store their columns with and DDL renders. Exact
``decimal(p,s)`` and ``list<…>`` columns of an engine table therefore read
as declared, and the deliberate demotions (time/uuid → string) don't read
as drift.
"""

from __future__ import annotations

import hashlib
import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import types as T

from iceberg_quickstart_iac_spark.governance.audit import log_audit_event
from iceberg_quickstart_iac_spark.templates.loader import spark_type


@dataclass
class DriftReport:
    table: str
    missing_columns: list[str] = field(default_factory=list)
    extra_columns: list[str] = field(default_factory=list)
    type_mismatches: dict[str, dict[str, str]] = field(default_factory=dict)

    @property
    def has_drift(self) -> bool:
        return bool(self.missing_columns or self.extra_columns or self.type_mismatches)

    def message(self) -> str:
        if not self.has_drift:
            return f"No schema drift in {self.table}"
        msg = f"Schema drift detected in {self.table}."
        if self.missing_columns:
            msg += f" Missing columns: {self.missing_columns}."
        if self.extra_columns:
            msg += f" Extra columns: {self.extra_columns}."
        if self.type_mismatches:
            msg += f" Type mismatches: {self.type_mismatches}."
        return msg


def diff_schema(live_schema: T.StructType, template: dict, audit: bool = True) -> DriftReport:
    """Compare a live StructType against a template's declared columns."""
    table = f"{template.get('namespace', 'default')}.{template['name']}"
    expected = {c["name"]: spark_type(c.get("type", "string")) for c in template["columns"]}
    live = {f.name: f.dataType for f in live_schema.fields}

    report = DriftReport(
        table=table,
        missing_columns=sorted(set(expected) - set(live)),
        extra_columns=sorted(set(live) - set(expected)),
    )
    for name in sorted(set(expected) & set(live)):
        if expected[name] != live[name]:
            report.type_mismatches[name] = {
                "expected": expected[name].simpleString(),
                "actual": live[name].simpleString(),
            }

    if report.has_drift and audit:
        log_audit_event(
            "schema_drift",
            table,
            details={
                "missing_columns": report.missing_columns,
                "extra_columns": report.extra_columns,
                "type_mismatches": report.type_mismatches,
            },
        )
    return report


# ---------------------------------------------------------------------------
# Sensor loop with persisted cursor (SURVEY §2.9 ST4; parity:
# sensors/schema_drift.py:36-110 — hourly sensor, cursor updated after each
# successful cycle, alert + audit on drift, not-yet-created tables skipped).
# Improvement over the reference (which re-alerts the SAME drift every hour):
# the cursor also stores a fingerprint per drifted table, so alerts fire
# only when a table's drift APPEARS or CHANGES — resolved drift clears the
# fingerprint and can re-alert if it returns.
# ---------------------------------------------------------------------------


@dataclass
class DriftCycleResult:
    reports: dict[str, DriftReport] = field(default_factory=dict)
    alerted: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)
    cursor: dict = field(default_factory=dict)


def run_drift_cycle(
    live_schemas: dict[str, T.StructType],
    templates: dict[str, dict],
    cursor_path: str | Path,
    alert_fn: Callable[[str, str], None] | None = None,
    now_ms: int | None = None,
) -> DriftCycleResult:
    """One sensor cycle: diff every template against its live schema,
    alert on NEW/CHANGED drift only, advance the persisted cursor.

    ``live_schemas`` maps template name → live ``StructType`` (omit a key
    for a table that doesn't exist yet — skipped like the reference's
    not-created branch, ``schema_drift.py:62-64``). The cursor file holds
    ``{"last_check_ms", "fingerprints": {table: md5-of-drift-message}}`` —
    the schedule itself belongs to any external scheduler (cron / Dagster /
    Airflow), exactly as the reference delegates it to Dagster's sensor
    daemon.
    """
    if alert_fn is None:
        from iceberg_quickstart_iac_spark.governance.alerting import alert as alert_fn

    cursor_path = Path(cursor_path)
    prev: dict = {}
    if cursor_path.exists():
        prev = json.loads(cursor_path.read_text()).get("fingerprints", {})

    result = DriftCycleResult()
    fingerprints: dict[str, str] = {}
    for name, template in templates.items():
        table_id = f"{template.get('namespace', 'default')}.{template['name']}"
        schema = live_schemas.get(name)
        if schema is None:
            result.skipped.append(table_id)
            continue
        report = diff_schema(schema, template)
        result.reports[table_id] = report
        if report.has_drift:
            fp = hashlib.md5(report.message().encode()).hexdigest()
            fingerprints[table_id] = fp
            if prev.get(table_id) != fp:
                alert_fn("Schema Drift Detected", report.message())
                result.alerted.append(table_id)

    result.cursor = {
        "last_check_ms": int(time.time() * 1000) if now_ms is None else now_ms,
        "fingerprints": fingerprints,
    }
    cursor_path.parent.mkdir(parents=True, exist_ok=True)
    cursor_path.write_text(json.dumps(result.cursor, indent=2))
    return result
