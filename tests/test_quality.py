"""Quality-check runner tests (SURVEY §2.4 A1-A4; reference check sets from
quality/soda_checks/*.yaml run as ONE Spark aggregation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.operators.quality import (
    COMPLIANCE_CHECKS,
    DEFAULT_CHECKS,
    Check,
    parse_age,
    run_checks,
    validate_checks,
)


@pytest.fixture(scope="module")
def events_like(spark):
    rows = [
        ("e1", "click", "2024-01-01 10:00:00", "u1"),
        ("e2", "view", "2024-01-02 10:00:00", None),
        ("e2", "view", "2024-01-03 10:00:00", "u2"),  # duplicate event_id
    ]
    return spark.createDataFrame(
        rows, "event_id STRING, event_type STRING, ts_s STRING, user_id STRING"
    ).withColumn("event_timestamp", F.col("ts_s").cast("timestamp")).drop("ts_s")


def test_parse_age():
    assert parse_age("1d") == 86400
    assert parse_age("12h") == 43200
    assert parse_age("30m") == 1800
    with pytest.raises(ValueError):
        parse_age("1 fortnight")


def test_single_pass_all_kinds(events_like):
    checks = [
        Check("row_count", op=">", threshold=0),
        Check("missing_count", "user_id"),
        Check("duplicate_count", "event_id"),
        Check("freshness", "event_timestamp", max_age="1d"),
    ]
    as_of = F.lit("2024-01-03 12:00:00").cast("timestamp")
    report = run_checks(events_like, checks, table="t", as_of=as_of)
    by_kind = {r.check.kind: r for r in report.results}
    assert by_kind["row_count"].value == 3 and by_kind["row_count"].passed
    assert by_kind["missing_count"].value == 1 and not by_kind["missing_count"].passed
    assert by_kind["duplicate_count"].value == 1 and not by_kind["duplicate_count"].passed
    assert by_kind["freshness"].value == 7200 and by_kind["freshness"].passed
    assert not report.passed and len(report.failures()) == 2


def test_freshness_stale(events_like):
    as_of = F.lit("2024-02-01 00:00:00").cast("timestamp")
    report = run_checks(
        events_like, [Check("freshness", "event_timestamp", max_age="1d")], as_of=as_of
    )
    assert not report.passed


def test_approx_duplicate_count(events_like):
    report = run_checks(events_like, [Check("duplicate_count", "event_id")], approx=True)
    assert report.results[0].value >= 1  # HLL on 2 distinct ids is exact


def test_validate_rejects_unknown_column(events_like):
    errors = validate_checks([Check("missing_count", "email")], events_like.columns)
    assert len(errors) == 1 and "'email'" in errors[0]
    with pytest.raises(ValueError, match="Invalid checks"):
        run_checks(events_like, [Check("missing_count", "email")])


def test_reference_email_bug_is_caught():
    """The reference declares missing_count(email) on event_stream, which has
    no email column (compliance_checks.yaml:7-9) — our validator flags it and
    our relocated compliance set does not."""
    from iceberg_quickstart_iac_spark.templates import get_column_names, get_template

    event_cols = get_column_names(get_template("event_stream"))
    buggy = [Check("missing_count", "email")]
    assert validate_checks(buggy, event_cols)  # reference's bug → flagged

    for table, checks in COMPLIANCE_CHECKS.items():
        cols = get_column_names(get_template(table))
        assert validate_checks(checks, cols) == []


def test_default_check_sets_valid_against_templates():
    from iceberg_quickstart_iac_spark.templates import get_column_names, get_template

    for table, checks in DEFAULT_CHECKS.items():
        cols = get_column_names(get_template(table))
        assert validate_checks(checks, cols) == []


def test_quality_on_real_events(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table

    ev = load_table(spark, sf_dir, "events")
    checks = [
        Check("row_count", op=">", threshold=0),
        Check("missing_count", "event_id"),
        Check("duplicate_count", "event_id"),
        Check("freshness", "ts", max_age="1d"),
    ]
    as_of = F.lit("2024-01-31 00:00:00").cast("timestamp")
    report = run_checks(ev, checks, table="events", as_of=as_of)
    assert [r.passed for r in report.results] == [True, True, True, True]


def test_freshness_on_empty_table_fails(spark):
    """MAX(ts) NULL (zero rows) must FAIL freshness, not read as age 0."""
    from iceberg_quickstart_iac_spark.operators.quality import Check, run_checks

    empty = spark.createDataFrame([], "event_id LONG, event_timestamp TIMESTAMP")
    report = run_checks(
        empty,
        [Check("freshness", "event_timestamp", max_age="1d")],
        as_of=F.lit("2026-01-01 00:00:00").cast("timestamp"),
    )
    assert not report.passed
    assert "no rows" in report.results[0].detail


# --- SodaCL YAML parser ----------------------------------------------------

REF_SODA = "/root/reference/dagster/lakehouse/quality/soda_checks"


def _ref(name):
    from pathlib import Path

    return Path(REF_SODA, name).read_text()


def test_parse_reference_event_stream_checks_verbatim():
    from iceberg_quickstart_iac_spark.operators.quality import (
        EVENT_STREAM_CHECKS,
        parse_sodacl,
    )

    parsed = parse_sodacl(_ref("event_stream_checks.yaml"))
    assert list(parsed) == ["event_stream"]
    assert parsed["event_stream"] == EVENT_STREAM_CHECKS


def test_parse_reference_scd_and_feature_checks_verbatim():
    from iceberg_quickstart_iac_spark.operators.quality import (
        FEATURE_TABLE_CHECKS,
        SCD_TYPE2_CHECKS,
        parse_sodacl,
    )

    assert parse_sodacl(_ref("scd_checks.yaml"))["scd_type2"] == SCD_TYPE2_CHECKS
    assert parse_sodacl(_ref("feature_checks.yaml"))["feature_table"] == FEATURE_TABLE_CHECKS


def test_reference_compliance_file_email_bug_is_caught():
    """The reference declares an email check on event_stream, a table with
    no email column (compliance_checks.yaml:7-9) — Soda silently evaluates
    it; loading the file verbatim and validating against the event_stream
    template schema flags it."""
    from iceberg_quickstart_iac_spark.operators.quality import parse_sodacl, validate_checks
    from iceberg_quickstart_iac_spark.templates import get_template

    parsed = parse_sodacl(_ref("compliance_checks.yaml"))
    assert set(parsed) == {"event_stream", "scd_type2"}
    assert len(parsed["event_stream"]) == 3
    cols = [c["name"] for c in get_template("event_stream")["columns"]]
    errors = validate_checks(parsed["event_stream"], cols)
    assert len(errors) == 1 and "email" in errors[0]
    # the warn clause is carried through verbatim
    email = [c for c in parsed["event_stream"] if c.column == "email"][0]
    assert email.warn == "when missing_count(email) > 0"


def test_checks_report_df_shapes(spark):
    from iceberg_quickstart_iac_spark.operators.quality import Check, checks_report_df

    df = spark.createDataFrame(
        [(1, "a"), (1, None)], "id LONG, v STRING"
    )
    out = checks_report_df(
        df,
        [
            Check("row_count", op=">", threshold=0, name="has_data"),
            Check("missing_count", "v", name="v_missing"),
            Check("duplicate_count", "id", name="id_dups"),
        ],
    ).collect()
    got = {r.check_name: (r.value, r.passed) for r in out}
    assert got == {"has_data": (2, True), "v_missing": (1, False), "id_dups": (1, False)}
