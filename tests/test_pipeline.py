"""End-to-end pipeline tests: the reference's asset-materialization
lifecycle (template → source → schema → quality gate → atomic write →
governed read) in one flow."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.operators.quality import Check
from iceberg_quickstart_iac_spark.pipeline import (
    Materialization,
    QualityGateError,
    materialize,
    read_table,
)

TEMPLATE = {
    "name": "mini_events",
    "namespace": "lakehouse",
    "columns": [
        {"name": "event_id", "type": "string", "required": True},
        {"name": "event_type", "type": "string", "required": True},
        {"name": "event_timestamp", "type": "timestamptz", "required": True},
        {"name": "user_id", "type": "string", "pii": True, "access_level": "restricted"},
        {"name": "value", "type": "double"},
    ],
    "partition_spec": [{"column": "event_timestamp", "transform": "day"}],
    "properties": {"write_format": "parquet"},
}


@pytest.fixture()
def batch(spark):
    rows = [
        ("e1", "click", "2024-01-01 10:00:00", "u1", 1.5),
        ("e2", "view", "2024-01-01 11:00:00", "u2", 2.5),
    ]
    return spark.createDataFrame(
        rows, "event_id STRING, event_type STRING, ts_s STRING, user_id STRING, value DOUBLE"
    ).withColumn("event_timestamp", F.col("ts_s").cast("timestamp")).drop("ts_s")


CHECKS = [
    Check("row_count", op=">", threshold=0),
    Check("missing_count", "event_id"),
    Check("duplicate_count", "event_id"),
]


def test_materialize_custom_df_and_read_back(spark, tmp_path, batch):
    result = materialize(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    assert isinstance(result, Materialization)
    assert result.num_rows == 2 and result.operation == "overwrite"
    assert result.quality.passed

    df = read_table(spark, TEMPLATE, tmp_path)
    assert df.count() == 2
    assert "user_id" in df.columns  # admin sees everything

    reader_df = read_table(spark, TEMPLATE, tmp_path, access_level="reader")
    assert "user_id" not in reader_df.columns  # governed read


def test_materialize_from_declared_source(spark, tmp_path, batch):
    src = tmp_path / "src"
    batch.select("event_id", "event_type", "event_timestamp", "user_id", "value").write.parquet(
        f"file://{src}"
    )
    template = {**TEMPLATE, "source": {"path": f"file://{src}", "format": "parquet"}}
    result = materialize(
        spark, template, tmp_path / "wh", checks=CHECKS, allowed_schemes=("file://",)
    )
    assert result.num_rows == 2


def test_quality_gate_blocks_bad_batch(spark, tmp_path, batch):
    dup = batch.union(batch)  # duplicate event_ids
    with pytest.raises(QualityGateError, match="duplicate"):
        materialize(spark, TEMPLATE, tmp_path, df=dup, checks=CHECKS)
    # nothing was written
    with pytest.raises(Exception):
        read_table(spark, TEMPLATE, tmp_path)


def test_quality_gate_can_warn_only(spark, tmp_path, batch):
    dup = batch.union(batch)
    result = materialize(
        spark, TEMPLATE, tmp_path, df=dup, checks=CHECKS, enforce_quality=False
    )
    assert result.num_rows == 4 and not result.quality.passed


def test_append_mode_and_time_travel(spark, tmp_path, batch):
    first = materialize(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    more = batch.withColumn("event_id", F.concat(F.col("event_id"), F.lit("-2")))
    materialize(spark, TEMPLATE, tmp_path, df=more, mode="append", checks=CHECKS)
    assert read_table(spark, TEMPLATE, tmp_path).count() == 4
    assert read_table(spark, TEMPLATE, tmp_path, snapshot_id=first.snapshot_id).count() == 2


def test_missing_source_is_actionable(spark, tmp_path):
    with pytest.raises(ValueError, match="no source block"):
        materialize(spark, TEMPLATE, tmp_path)


# --- write-audit-publish ---------------------------------------------------


def test_wap_publishes_on_passing_audit(spark, tmp_path, batch):
    from iceberg_quickstart_iac_spark.pipeline import materialize_wap
    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    m = materialize_wap(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    assert m.num_rows == 2 and m.quality.passed
    out = read_table(spark, TEMPLATE, tmp_path)
    assert out.count() == 2
    # the write stages in place: no staging branch is made
    t = SnapTable.load(tmp_path / "lakehouse" / "mini_events")
    assert t.list_branches() == []


def test_wap_blocks_and_leaves_main_untouched(spark, tmp_path, batch):
    from iceberg_quickstart_iac_spark.pipeline import materialize_wap
    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    materialize_wap(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    dup = batch.union(batch)  # duplicate_count check will fail
    with pytest.raises(QualityGateError):
        materialize_wap(spark, TEMPLATE, tmp_path, df=dup, checks=CHECKS)
    t = SnapTable.load(tmp_path / "lakehouse" / "mini_events")
    # main never referenced the bad commit and no staging branch was made
    assert read_table(spark, TEMPLATE, tmp_path).count() == 2
    assert t.list_branches() == []
    # the blocked write dropped its staged dir: no orphan is left behind
    import time as _t

    removed = t.remove_orphan_files(older_than_ms=int(_t.time() * 1000) + 1000)
    assert removed == []
    assert read_table(spark, TEMPLATE, tmp_path).count() == 2


def test_wap_audits_committed_readback_not_input(spark, tmp_path, batch):
    """The WAP gate audits the staged TABLE STATE, not the input frame: in
    append mode a row_count threshold above the batch size but below the
    post-append total passes — a pre-write input gate would fail it."""
    from iceberg_quickstart_iac_spark.operators.quality import Check
    from iceberg_quickstart_iac_spark.pipeline import materialize, materialize_wap

    materialize_wap(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    total_gt_3 = [Check("row_count", op=">", threshold=3)]
    second = batch.withColumn("event_id", F.concat(F.lit("b-"), F.col("event_id")))
    # pre-write gate sees only the 2-row input -> blocks
    with pytest.raises(QualityGateError):
        materialize(
            spark, TEMPLATE, tmp_path, df=second, mode="append", checks=total_gt_3
        )
    # WAP audits the staged 4-row table state -> publishes
    m = materialize_wap(
        spark, TEMPLATE, tmp_path, df=second, mode="append", checks=total_gt_3
    )
    assert m.quality.passed
    assert read_table(spark, TEMPLATE, tmp_path).count() == 4


def test_pipeline_team_gates(spark, tmp_path, batch):
    from iceberg_quickstart_iac_spark.governance.tenancy import Team

    owner = Team("eng", tables={"mini_events": "writer"})
    reader = Team("bi", tables={"mini_events": "reader"})
    outsider = Team("other", tables={})

    materialize(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS, team=owner)
    with pytest.raises(PermissionError, match="cannot write"):
        materialize(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS, team=reader)

    # reader team sees no restricted columns; outsider team sees nothing
    out = read_table(spark, TEMPLATE, tmp_path, team=reader)
    assert "user_id" not in out.columns and out.count() == 2
    assert "user_id" in read_table(spark, TEMPLATE, tmp_path, team=owner).columns
    with pytest.raises(PermissionError, match="no access"):
        read_table(spark, TEMPLATE, tmp_path, team=outsider)


def test_materialize_registers_governed_view(spark, tmp_path):
    """register_view=True ends the asset run SQL-queryable (the
    reference's pipeline ends at an Athena-queryable table), governed at
    reader level."""
    from iceberg_quickstart_iac_spark.pipeline import materialize

    df = spark.createDataFrame(
        [(1, 7, "a"), (2, 8, "b")], "id LONG, secret LONG, label STRING"
    )
    tpl = {
        "name": "reg_demo", "namespace": "lakehouse",
        "partition_spec": [],
        "columns": [
            {"name": "id", "type": "long"},
            {"name": "secret", "type": "long", "access_level": "restricted"},
            {"name": "label", "type": "string"},
        ],
    }
    materialize(spark, tpl, tmp_path / "wh", df=df, register_view=True)
    out = spark.sql("SELECT * FROM reg_demo ORDER BY id")
    assert out.columns == ["id", "label"]
    assert [r.id for r in out.collect()] == [1, 2]
    # reader-level registration skips metadata tables by default: their
    # __files bounds carry actual data values of restricted columns
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql("SELECT COUNT(*) FROM reg_demo__snapshots").collect()


def test_materialize_register_metadata_tables_opt_in_redacts(spark, tmp_path):
    """Opting metadata tables back in at reader level (the plumbed
    register_metadata_tables flag) serves them with restricted columns
    redacted from the per-file value bounds."""
    import json as _json

    from iceberg_quickstart_iac_spark.pipeline import materialize

    df = spark.createDataFrame(
        [(1, 7, "a"), (2, 8, "b")], "id LONG, secret LONG, label STRING"
    )
    tpl = {
        "name": "reg_demo_md", "namespace": "lakehouse",
        "partition_spec": [],
        "columns": [
            {"name": "id", "type": "long"},
            {"name": "secret", "type": "long", "access_level": "restricted"},
            {"name": "label", "type": "string"},
        ],
    }
    materialize(
        spark, tpl, tmp_path / "wh", df=df, register_view=True,
        register_metadata_tables=True,
    )
    assert (
        spark.sql("SELECT COUNT(*) AS n FROM reg_demo_md__snapshots").first().n
        == 1
    )
    bounds = [
        _json.loads(r.column_bounds)
        for r in spark.sql("SELECT column_bounds FROM reg_demo_md__files").collect()
    ]
    assert bounds and all("secret" not in b for b in bounds)
    assert any("id" in b for b in bounds)  # non-restricted bounds survive


def test_materialize_register_follow_head_tracks_appends(spark, tmp_path):
    """register_follow_head=True: the view a materialization registers
    keeps serving the head across later append runs (mode='append'
    ingest cadence) without re-registering."""
    from iceberg_quickstart_iac_spark.pipeline import materialize

    tpl = {
        "name": "reg_fh", "namespace": "lakehouse",
        "partition_spec": [],
        "columns": [
            {"name": "id", "type": "long"},
            {"name": "label", "type": "string"},
        ],
    }
    df1 = spark.createDataFrame([(1, "a")], "id LONG, label STRING")
    materialize(spark, tpl, tmp_path / "wh", df=df1, register_view=True,
                register_follow_head=True)
    assert spark.sql("SELECT COUNT(*) AS n FROM reg_fh").first().n == 1
    df2 = spark.createDataFrame([(2, "b")], "id LONG, label STRING")
    # a later run through the TABLE api (not materialize) must surface too
    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.load(tmp_path / "wh" / "lakehouse" / "reg_fh")
    t.append(df2)
    assert spark.sql("SELECT COUNT(*) AS n FROM reg_fh").first().n == 2


@pytest.mark.parametrize("wap", [False, True])
def test_materialize_refuses_newer_format_table(spark, tmp_path, batch, wap):
    """Only a missing table is created: a table this engine cannot open (a
    newer format_version) raises and is left byte-identical."""
    import json

    from iceberg_quickstart_iac_spark.pipeline import materialize_wap
    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    t = SnapTable.create(tmp_path / "lakehouse" / "mini_events", TEMPLATE)
    meta = json.loads((t.root / "table.json").read_text())
    (t.root / "table.json").write_text(json.dumps({**meta, "format_version": 3}))
    before = (t.root / "table.json").read_bytes()
    run = materialize_wap if wap else materialize
    with pytest.raises(ValueError, match="format_version 3"):
        run(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    assert (t.root / "table.json").read_bytes() == before


# --- the staged write: gate, audit, commit ---------------------------------


def _table_files(root):
    """(head snapshot id, log file names, data dir names) of the table."""
    import os

    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    t = SnapTable.load(root)
    head = t.current_snapshot()
    return (
        head and head["snapshot_id"],
        sorted(os.listdir(t.log_dir)),
        sorted(os.listdir(t.data_dir)) if t.data_dir.exists() else [],
    )


@pytest.mark.parametrize("wap", [False, True])
@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_blocked_write_leaves_table_unchanged(spark, tmp_path, batch, wap, mode):
    """A blocked gated write commits nothing and leaves no dir behind: the
    head, the log and the data listing are as they were."""
    from iceberg_quickstart_iac_spark.pipeline import materialize_wap

    run = materialize_wap if wap else materialize
    root = tmp_path / "lakehouse" / "mini_events"
    run(spark, TEMPLATE, tmp_path, df=batch, checks=CHECKS)
    before = _table_files(root)
    with pytest.raises(QualityGateError, match="duplicate"):
        run(spark, TEMPLATE, tmp_path, df=batch.union(batch), mode=mode, checks=CHECKS)
    assert _table_files(root) == before
    assert read_table(spark, TEMPLATE, tmp_path).count() == 2


def test_blocked_first_write_leaves_no_data(spark, tmp_path, batch):
    with pytest.raises(QualityGateError):
        materialize(spark, TEMPLATE, tmp_path, df=batch.union(batch), checks=CHECKS)
    assert _table_files(tmp_path / "lakehouse" / "mini_events") == (None, [], [])


def test_gate_adds_no_job_beyond_the_write(spark, tmp_path, batch):
    """The batch gate is observed metrics of the write's own query: row,
    missing and freshness checks add no Spark job to a gated append. A
    duplicate_count check adds its marker's shuffle, which AQE runs as one
    job of that same query; no check aggregates the input apart from the
    write (an exact COUNT DISTINCT alone runs 3 jobs)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    no_dup = [
        Check("row_count", op=">", threshold=0),
        Check("missing_count", "event_id"),
        Check("freshness", "event_timestamp", max_age="36500d"),
    ]
    materialize(spark, TEMPLATE, tmp_path, df=batch, checks=[])

    def jobs(group, checks):
        more = batch.withColumn("event_id", F.concat(F.col("event_id"), F.lit(group)))
        sc.setJobGroup(group, group)
        try:
            materialize(spark, TEMPLATE, tmp_path, df=more, mode="append", checks=checks)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(tracker.getJobIdsForGroup(group))

    ungated = jobs("gate-none", [])
    assert jobs("gate-nodup", no_dup) == ungated
    assert jobs("gate-all", no_dup + [Check("duplicate_count", "event_id")]) == ungated + 1
