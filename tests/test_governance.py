"""Governance tests: audit record shape (reference tests/test_audit.py),
access-level reads, reader views, schema drift (sensors/schema_drift.py)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import types as T

from iceberg_quickstart_iac_spark.governance import (
    AccessLevel,
    diff_schema,
    log_audit_event,
    read_with_access_level,
    reader_view_sql,
)
from iceberg_quickstart_iac_spark.templates import get_template, spark_schema


def test_audit_record_shape(caplog):
    import logging

    with caplog.at_level(logging.INFO, logger="lakehouse.audit"):
        record = log_audit_event(
            "table_write", "lakehouse.event_stream", details={"row_count": 10}
        )
    assert set(record) == {"timestamp", "event", "table", "details"}
    assert record["timestamp"].endswith("+00:00")  # UTC ISO
    assert record["details"] == {"row_count": 10}
    logged = json.loads(caplog.records[-1].message)  # JSON-valid log line
    assert logged["event"] == "table_write"


def test_reader_drops_restricted_columns(spark):
    template = get_template("event_stream")
    df = spark.createDataFrame([], spark_schema(template))
    out = read_with_access_level(df, template, AccessLevel.READER)
    assert "user_id" not in out.columns and "ip_address" not in out.columns
    assert "event_id" in out.columns


def test_admin_and_writer_see_everything(spark):
    template = get_template("event_stream")
    df = spark.createDataFrame([], spark_schema(template))
    for level in ("admin", "writer"):
        assert read_with_access_level(df, template, level).columns == df.columns


def test_reader_view_sql():
    sql = reader_view_sql(get_template("event_stream"), "lakehouse.lakehouse.event_stream")
    assert sql.startswith("CREATE OR REPLACE VIEW lakehouse.lakehouse.event_stream_reader AS ")
    assert "user_id" not in sql and "ip_address" not in sql
    assert "event_id, event_type, event_timestamp" in sql


def test_drift_none():
    template = get_template("event_stream")
    report = diff_schema(spark_schema(template), template, audit=False)
    assert not report.has_drift


def test_drift_missing_extra_and_type():
    template = get_template("event_stream")
    live = spark_schema(template)
    fields = [f for f in live.fields if f.name != "payload"]  # drop one
    fields.append(T.StructField("surprise", T.IntegerType()))  # add one
    fields = [
        T.StructField(f.name, T.IntegerType()) if f.name == "event_id" else f for f in fields
    ]  # retype one
    report = diff_schema(T.StructType(fields), template, audit=False)
    assert report.missing_columns == ["payload"]
    assert report.extra_columns == ["surprise"]
    assert report.type_mismatches == {"event_id": {"expected": "string", "actual": "int"}}
    assert "Missing columns: ['payload']" in report.message()


def test_drift_ignores_deliberate_demotions():
    """time/uuid demote to string in our engine by design; a live string
    column must not read as drift."""
    template = {
        "name": "t",
        "namespace": "ns",
        "columns": [{"name": "u", "type": "uuid"}, {"name": "tod", "type": "time"}],
        "partition_spec": [],
    }
    live = T.StructType(
        [T.StructField("u", T.StringType()), T.StructField("tod", T.StringType())]
    )
    assert not diff_schema(live, template, audit=False).has_drift


def test_drift_none_on_engine_table_with_decimal_and_list(spark, tmp_path):
    """An engine table stores exact decimal(p,s) and list<…> columns; its
    live schema matches its own template."""
    from iceberg_quickstart_iac_spark.tables import SnapTable

    template = {
        "name": "priced",
        "namespace": "ns",
        "columns": [
            {"name": "k", "type": "long"},
            {"name": "price", "type": "decimal(12,2)"},
            {"name": "embedding", "type": "list<float>"},
        ],
        "partition_spec": [],
    }
    from decimal import Decimal

    t = SnapTable.create(tmp_path / "priced", template)
    t.append(spark.createDataFrame(
        [(1, Decimal("9.99"), [0.5])], "k LONG, price DECIMAL(12,2), embedding ARRAY<FLOAT>"
    ))
    live = t.read(spark).schema
    report = diff_schema(live, template, audit=False)
    assert not report.has_drift, report.message()


def test_audit_rejects_unknown_event():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Unknown audit event"):
        log_audit_event("table_dropped_by_intern", "lakehouse.t")


def test_audit_subscribers_observe_events():
    from iceberg_quickstart_iac_spark.governance.audit import (
        add_audit_subscriber,
        remove_audit_subscriber,
    )

    seen = []
    add_audit_subscriber(seen.append)
    try:
        log_audit_event("table_read", "lakehouse.t", details={"rows": 1})
    finally:
        remove_audit_subscriber(seen.append)
    assert len(seen) == 1 and seen[0]["event"] == "table_read"


def test_row_policies_filter_and_audit(spark):
    from iceberg_quickstart_iac_spark.governance.access import read_with_row_policies
    from iceberg_quickstart_iac_spark.governance.audit import (
        add_audit_subscriber,
        remove_audit_subscriber,
    )

    df = spark.createDataFrame(
        [("EU", 10), ("EU", -5), ("US", 10)], "region string, amount int"
    )
    seen = []
    add_audit_subscriber(seen.append)
    try:
        out = read_with_row_policies(
            df,
            {"region_fence": "region = 'EU'", "no_negatives": "amount >= 0"},
            table="t",
        ).collect()
    finally:
        remove_audit_subscriber(seen.append)
    assert [(r.region, r.amount) for r in out] == [("EU", 10)]
    (rec,) = [r for r in seen if r["event"] == "row_policy_applied"]
    assert rec["details"]["policies"] == ["no_negatives", "region_fence"]


def test_row_policies_bypass_for_admin_and_empty(spark):
    from iceberg_quickstart_iac_spark.governance.access import read_with_row_policies

    df = spark.createDataFrame([("EU", 1), ("US", 2)], "region string, amount int")
    assert read_with_row_policies(df, {"f": "region = 'EU'"}, "admin").count() == 2
    assert read_with_row_policies(df, {}, "reader").count() == 2


def test_row_policy_predicate_pushes_to_scan(spark, tmp_path):
    """The policy is an ordinary Catalyst filter — it must reach the
    parquet scan (restricted rows pruned at row-group level, not post-read)."""
    from iceberg_quickstart_iac_spark.governance.access import read_with_row_policies

    path = str(tmp_path / "gov")
    spark.createDataFrame(
        [("EU", 1), ("US", 2)], "region string, amount int"
    ).write.parquet(path)
    out = read_with_row_policies(spark.read.parquet(path), {"fence": "region = 'EU'"})
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = out._jdf.queryExecution().explainString(jm)
    assert "EqualTo(region,EU)" in plan.split("PushedFilters")[1].splitlines()[0]


# --- drift-sensor loop with persisted cursor (ST4, round 3) -----------------


def test_drift_cycle_cursor_and_alert_dedup(tmp_path):
    from pyspark.sql import types as T

    from iceberg_quickstart_iac_spark.governance.drift import run_drift_cycle
    from iceberg_quickstart_iac_spark.templates import get_template

    ev = get_template("event_stream")
    drifted = T.StructType([T.StructField("event_id", T.StringType())])  # most cols missing
    cursor = tmp_path / "cursor.json"
    alerts = []
    fn = lambda subject, message: alerts.append(message)

    r1 = run_drift_cycle({"event_stream": ev and drifted}, {"event_stream": ev}, cursor, alert_fn=fn, now_ms=1000)
    assert r1.alerted == ["lakehouse.event_stream"] and len(alerts) == 1
    assert cursor.exists()
    import json

    c1 = json.loads(cursor.read_text())
    assert c1["last_check_ms"] == 1000 and "lakehouse.event_stream" in c1["fingerprints"]

    # cycle 2: SAME drift — cursor advances, no re-alert
    r2 = run_drift_cycle({"event_stream": drifted}, {"event_stream": ev}, cursor, alert_fn=fn, now_ms=2000)
    assert r2.alerted == [] and len(alerts) == 1
    assert json.loads(cursor.read_text())["last_check_ms"] == 2000

    # cycle 3: drift CHANGES (extra col appears) — alerts again
    drifted2 = T.StructType(
        [T.StructField("event_id", T.StringType()), T.StructField("rogue", T.StringType())]
    )
    r3 = run_drift_cycle({"event_stream": drifted2}, {"event_stream": ev}, cursor, alert_fn=fn, now_ms=3000)
    assert r3.alerted == ["lakehouse.event_stream"] and len(alerts) == 2

    # cycle 4: table not created yet — skipped, fingerprints cleared
    r4 = run_drift_cycle({}, {"event_stream": ev}, cursor, alert_fn=fn, now_ms=4000)
    assert r4.skipped == ["lakehouse.event_stream"]
    assert json.loads(cursor.read_text())["fingerprints"] == {}


# --- multi-tenancy (docs/multi-tenancy.md) ---------------------------------


TEAMS_YAML = {
    # the reference's own example team files, verbatim semantics
    "analytics": """
name: analytics
description: BI dashboards and ad-hoc analysis
tables:
  event_stream: reader
  scd_type2: reader
  feature_table: none
""",
    "customer-data": """
name: customer-data
tables:
  scd_type2: writer
""",
    "platform": """
name: platform
tables:
  event_stream: admin
  scd_type2: admin
  feature_table: admin
""",
}


def _teams(tmp_path):
    from iceberg_quickstart_iac_spark.governance.tenancy import load_teams

    d = tmp_path / "teams"
    d.mkdir()
    for k, v in TEAMS_YAML.items():
        (d / f"{k}.yaml").write_text(v)
    return load_teams(d)


def test_team_access_matrix(tmp_path, spark):
    from iceberg_quickstart_iac_spark.governance.tenancy import (
        authorize_alter,
        authorize_write,
        read_table_for_team,
    )
    from iceberg_quickstart_iac_spark.templates import get_template

    teams = _teams(tmp_path)
    tpl = get_template("scd_type2")
    restricted = [c["name"] for c in tpl["columns"] if c.get("access_level") == "restricted"]
    assert restricted, "scd_type2 must declare restricted (PII) columns"
    df = spark.createDataFrame(
        [tuple("x" for _ in tpl["columns"])], ", ".join(f"{c['name']} STRING" for c in tpl["columns"])
    )

    # reader: PII excluded, cannot write
    seen = read_table_for_team(df, tpl, teams["analytics"]).columns
    assert not set(restricted) & set(seen)
    with pytest.raises(PermissionError, match="cannot write"):
        authorize_write(teams["analytics"], "scd_type2")

    # writer (owner): sees PII, can write, cannot alter
    assert set(restricted) <= set(read_table_for_team(df, tpl, teams["customer-data"]).columns)
    authorize_write(teams["customer-data"], "scd_type2")
    with pytest.raises(PermissionError, match="cannot alter"):
        authorize_alter(teams["customer-data"], "scd_type2")

    # admin: everything
    authorize_write(teams["platform"], "scd_type2")
    authorize_alter(teams["platform"], "scd_type2")

    # none (explicit) and missing (default) both deny
    with pytest.raises(PermissionError, match="no access"):
        read_table_for_team(df, get_template("feature_table"), teams["analytics"])
    with pytest.raises(PermissionError, match="no access"):
        read_table_for_team(df, get_template("event_stream"), teams["customer-data"])


def test_team_grants_flatten_skips_none(tmp_path):
    from iceberg_quickstart_iac_spark.governance.tenancy import team_grants

    grants = team_grants(_teams(tmp_path))
    assert {"team": "analytics", "table": "event_stream", "access": "reader"} in grants
    assert not any(g["access"] == "none" for g in grants)
    assert len([g for g in grants if g["team"] == "platform"]) == 3


def test_team_yaml_rejects_bad_level():
    from iceberg_quickstart_iac_spark.governance.tenancy import parse_team_yaml

    with pytest.raises(ValueError, match="Unknown access level"):
        parse_team_yaml("name: t\ntables:\n  x: superuser\n")


def test_audit_table_sink_lifecycle(spark, tmp_path):
    """Audit records land in a queryable, time-travelable snapstore table:
    buffered appends flush as one commit, reads return the trail, and
    retention rewrites away expired rows while keeping the table live."""
    from datetime import datetime, timedelta, timezone
    from unittest import mock

    from iceberg_quickstart_iac_spark.governance.audit import (
        AuditTableSink,
        add_audit_subscriber,
        log_audit_event,
        remove_audit_subscriber,
    )

    sink = AuditTableSink(spark, tmp_path, flush_every=100)
    add_audit_subscriber(sink)
    try:
        log_audit_event("table_write", "lakehouse.t1", details={"row_count": 5})
        log_audit_event("table_read", "lakehouse.t1", details={"access_level": "reader"})
        log_audit_event("pii_columns_dropped", "lakehouse.t1", details={"columns_dropped": ["user_id"]})
    finally:
        remove_audit_subscriber(sink)
    assert sink.flush() == 3
    assert sink.flush() == 0  # buffer drained; no empty commits

    trail = sink.read()
    assert trail.count() == 3
    events = {r.event for r in trail.collect()}
    assert events == {"table_write", "table_read", "pii_columns_dropped"}
    # details round-trip as JSON
    import json as _json

    by_event = {r.event: _json.loads(r.details) for r in trail.collect()}
    assert by_event["table_write"]["row_count"] == 5

    # plant an OLD record, then retention keeps only the fresh ones
    old_ts = (datetime.now(timezone.utc) - timedelta(days=400)).isoformat()
    sink({"timestamp": old_ts, "event": "table_read", "table": "lakehouse.old", "details": {}})
    sink.flush()
    assert sink.read().count() == 4
    kept = sink.apply_retention(max_age_days=365)
    assert kept == 3
    assert {r.table for r in sink.read().collect()} == {"lakehouse.t1"}

    # flush threshold: the 100th record triggers an automatic commit
    auto = AuditTableSink(spark, tmp_path / "auto", flush_every=2)
    auto({"timestamp": "2024-01-01T00:00:00+00:00", "event": "table_read", "table": "x", "details": {}})
    assert auto.read().count() == 0 if (auto._root / "meta.json").exists() else True
    auto({"timestamp": "2024-01-01T00:00:01+00:00", "event": "table_read", "table": "x", "details": {}})
    assert auto.read().count() == 2


def test_sql_statements_emit_audit_records(spark, tmp_path, caplog):
    """Every DML/DDL statement through the front door logs one
    sql_statement audit record — hash + bounded prefix only, never the
    full text (literals can carry data values)."""
    import json as _json
    import logging

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tmp_path / "audit_lake")
    with caplog.at_level(logging.INFO, logger="lakehouse.audit"):
        lake.sql(spark, "CREATE TABLE audit_t (id BIGINT, secret STRING)")
        lake.sql(
            spark,
            "INSERT INTO audit_t VALUES (1, 'super-secret-value-beyond-the-prefix-cutoff-xyz')",
        )
    stmts = [
        _json.loads(r.message)
        for r in caplog.records
        if '"sql_statement"' in r.message
    ]
    kinds = [s["details"]["kind"] for s in stmts]
    assert kinds == ["create", "insert"]
    ins = stmts[1]["details"]
    assert len(ins["statement_sha256"]) == 16
    assert len(ins["statement_prefix"]) <= 48
    assert "super-secret-value-beyond-the-prefix-cutoff-xyz" not in str(stmts)
