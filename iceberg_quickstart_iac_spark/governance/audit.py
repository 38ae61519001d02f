"""Structured audit events (SURVEY §2.11 G2).

Behavioral parity with the reference's audit layer
(``dagster/lakehouse/utils/audit.py``): the record contract is
``{timestamp, event, table, details}`` with a UTC ISO timestamp, emitted as
one JSON line on the dedicated ``lakehouse.audit`` logger (captured by
CloudWatch / Cloud Logging with zero extra infrastructure), covering the
same five event types.

Additions over the reference:

- unknown event types are rejected (typo'd event names otherwise produce
  unqueryable audit streams);
- in-process subscribers (``add_audit_subscriber``) so tests — or an
  audit-table writer — can observe events without parsing log output.
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable
from datetime import datetime, timezone
from typing import Any

AUDIT_EVENTS = (
    "table_read",
    "table_write",
    "source_ingest",
    "pii_columns_dropped",
    "row_policy_applied",
    "schema_drift",
    "schema_evolution",
    # SQL front door: a governed view (re-)registered into a Spark session
    "table_registered",
    # SQL front door: a DML/DDL STATEMENT executed against the catalog
    # (the per-statement record Athena gets from CloudTrail; the
    # underlying table_write/schema_evolution events still log too)
    "sql_statement",
)

_audit_logger = logging.getLogger("lakehouse.audit")

_subscribers: list[Callable[[dict], None]] = []


def add_audit_subscriber(fn: Callable[[dict], None]) -> None:
    """Register an in-process observer for every audit record."""
    _subscribers.append(fn)


def remove_audit_subscriber(fn: Callable[[dict], None]) -> None:
    _subscribers.remove(fn)


def log_audit_event(event: str, table: str, *, details: dict[str, Any] | None = None) -> dict:
    """Emit one structured audit record; returns it (handy for tests).

    ``event`` must be one of :data:`AUDIT_EVENTS`; ``table`` is the fully
    qualified table name; ``details`` carries event-specific payload
    (row_count, columns_dropped, source_path, drift details, …).
    """
    if event not in AUDIT_EVENTS:
        raise ValueError(f"Unknown audit event {event!r}; expected one of {AUDIT_EVENTS}")
    record = {
        "timestamp": datetime.now(timezone.utc).isoformat(),
        "event": event,
        "table": table,
        "details": details or {},
    }
    _audit_logger.info(json.dumps(record, default=str))
    for fn in list(_subscribers):
        fn(record)
    return record


class AuditTableSink:
    """Subscriber that lands audit records in a queryable snapstore table —
    the "append to an audit_log Iceberg table" half of the audit design
    (SURVEY §2.11 G2; the logger half feeds CloudWatch/Cloud Logging as in
    the reference's compliance guide, ``docs/compliance.md:106-117``).

    Records buffer in-process and flush as ONE append commit per
    ``flush_every`` events (or an explicit :meth:`flush`) — the audit
    trail must never turn every pipeline action into its own table commit.
    The table is ordinary snapstore: time-travelable (what did the trail
    say last week), branchable, and retention-managed via
    :meth:`apply_retention` (the 7-year-lifecycle analog of the
    reference's audit buckets, here a rows-older-than rewrite +
    snapshot expiry).

    Usage::

        sink = AuditTableSink(spark, warehouse_root)
        add_audit_subscriber(sink)
        ...pipeline runs...
        sink.flush()
    """

    SCHEMA = "ts STRING, event STRING, table STRING, details STRING"

    def __init__(self, spark, warehouse_root, flush_every: int = 100):
        from pathlib import Path

        self._spark = spark
        self._root = Path(warehouse_root) / "governance" / "audit_log"
        self._buffer: list[tuple] = []
        self._flush_every = flush_every

    def _table(self):
        from iceberg_quickstart_iac_spark.tables.snapstore import (
            SnapTable,
            TableNotFoundError,
        )

        try:
            return SnapTable.load(self._root)
        except TableNotFoundError:
            # only a missing table is created: any other load failure (a
            # newer format_version) must not be answered by overwriting it
            return SnapTable.create(
                self._root,
                {
                    "name": "audit_log",
                    "namespace": "governance",
                    "columns": [
                        {"name": "ts", "type": "string", "required": True},
                        {"name": "event", "type": "string", "required": True},
                        {"name": "table", "type": "string", "required": True},
                        {"name": "details", "type": "string"},
                    ],
                },
            )

    def __call__(self, record: dict) -> None:
        self._buffer.append(
            (
                record["timestamp"],
                record["event"],
                record["table"],
                json.dumps(record.get("details") or {}, default=str, sort_keys=True),
            )
        )
        if len(self._buffer) >= self._flush_every:
            self.flush()

    def flush(self) -> int:
        """Append buffered records in one commit; returns rows written."""
        if not self._buffer:
            return 0
        batch, self._buffer = self._buffer, []
        df = self._spark.createDataFrame(batch, self.SCHEMA)
        self._table().append(df)
        return len(batch)

    def read(self):
        """The queryable audit trail (time-travel via SnapTable.read args)."""
        return self._table().read(self._spark)

    def apply_retention(self, max_age_days: float) -> int:
        """Drop audit rows older than ``max_age_days`` (one rewrite commit)
        and expire the pre-rewrite snapshots — the data-plane analog of the
        reference's audit-bucket lifecycle rules. Returns rows retained."""
        from datetime import timedelta

        cutoff = (
            datetime.now(timezone.utc) - timedelta(days=max_age_days)
        ).isoformat()
        t = self._table()
        kept = t.read(self._spark).filter(f"ts >= '{cutoff}'")
        entry = t.overwrite(kept)
        t.expire_snapshots(max_age_ms=0)
        return entry["row_count"]
