"""Environment-profile tests (docs/multi-environment.md parity): the same
pipeline code runs against dev/staging/prod with env-keyed warehouse roots,
per-tier access defaults, and alerting posture."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.envs import EnvProfile, load_env_profile

PROFILE_MATRIX = {
    # env -> (access_level, alerting, enforce_quality)
    "dev": ("admin", False, False),
    "staging": ("writer", True, True),
    "prod": ("reader", True, True),
}


@pytest.mark.parametrize("name", sorted(PROFILE_MATRIX))
def test_profile_matrix(name, tmp_path):
    access, alerting, quality = PROFILE_MATRIX[name]
    p = load_env_profile(name, env={}, base_root=tmp_path)
    assert p.access_level == access
    assert p.alerting_enabled is alerting
    assert p.enforce_quality is quality
    # the reference's bucket-name convention: lakehouse-{env}-lakehouse
    assert p.warehouse_root == tmp_path / f"lakehouse-{name}-lakehouse"
    assert p.resource_prefix == f"lakehouse-{name}"


def test_roots_never_collide(tmp_path):
    roots = {
        load_env_profile(n, env={}, base_root=tmp_path).warehouse_root
        for n in PROFILE_MATRIX
    }
    assert len(roots) == 3


def test_env_var_resolution_and_overrides(tmp_path):
    env = {
        "LAKEHOUSE_ENV": "prod",
        "LAKEHOUSE_ACCESS_LEVEL": "admin",  # break-glass override, as in .env files
        "LAKEHOUSE_ALERTING": "off",
        "LAKEHOUSE_WAREHOUSE_BASE": str(tmp_path / "wh"),
    }
    p = load_env_profile(env=env)
    assert p.name == "prod"
    assert p.access_level == "admin"
    assert p.alerting_enabled is False
    assert p.warehouse_root == tmp_path / "wh" / "lakehouse-prod-lakehouse"


def test_unknown_env_rejected():
    with pytest.raises(ValueError, match="Unknown environment"):
        load_env_profile("qa", env={})


def test_catalog_conf_points_at_env_warehouse(tmp_path):
    p = load_env_profile("staging", env={}, base_root=tmp_path)
    conf = p.catalog_conf(env={})
    assert conf["spark.sql.catalog.lakehouse.type"] == "hadoop"
    assert conf["spark.sql.catalog.lakehouse.warehouse"] == str(p.warehouse_root)
    # non-local backends pass through the standard dispatch untouched
    glue = EnvProfile(
        name="prod", warehouse_root=tmp_path, access_level="reader",
        alerting_enabled=True, enforce_quality=True, backend="aws-glue",
    ).catalog_conf(env={})
    assert glue["spark.sql.catalog.lakehouse.catalog-impl"].endswith("GlueCatalog")


def test_alert_gated_by_profile(tmp_path):
    sent = []

    def transport(dest, subject, message):
        sent.append((dest, subject))

    dev = load_env_profile("dev", env={}, base_root=tmp_path)
    assert dev.alert("s", "m", env={"ALERT_SNS_TOPIC_ARN": "arn:x"},
                     sns_transport=transport) == []
    assert sent == []

    prod = load_env_profile("prod", env={}, base_root=tmp_path)
    assert prod.alert("s", "m", env={"ALERT_SNS_TOPIC_ARN": "arn:x"},
                      sns_transport=transport) == ["sns"]
    assert sent == [("arn:x", "s")]


def test_same_pipeline_code_isolated_per_env(spark, tmp_path):
    """The multi-environment promise end-to-end: one template, one code
    path, three isolated warehouses; prod reads come back PII-masked while
    dev reads stay admin-level."""
    from pyspark.sql import functions as F

    from tests.test_pipeline import TEMPLATE

    rows = [("e1", "click", "2024-01-01 10:00:00", "u1", 1.5)]
    batch = (
        spark.createDataFrame(
            rows,
            "event_id STRING, event_type STRING, ts_s STRING, user_id STRING, value DOUBLE",
        )
        .withColumn("event_timestamp", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )

    dev = load_env_profile("dev", env={}, base_root=tmp_path)
    prod = load_env_profile("prod", env={}, base_root=tmp_path)
    dev.materialize(spark, TEMPLATE, df=batch)
    prod.materialize(
        spark, TEMPLATE,
        df=batch.withColumn("event_id", F.concat(F.lit("prod-"), F.col("event_id"))),
    )

    dev_df = dev.read_table(spark, TEMPLATE)
    prod_df = prod.read_table(spark, TEMPLATE)
    assert [r.event_id for r in dev_df.collect()] == ["e1"]
    assert [r.event_id for r in prod_df.collect()] == ["prod-e1"]
    assert "user_id" in dev_df.columns          # admin sees PII in dev
    assert "user_id" not in prod_df.columns     # reader-level prod masks it


def test_profile_with_team_matrix(spark, tmp_path):
    """Environment isolation composes with per-team tenancy: the same team
    matrix governs a table inside each environment's warehouse — a reader
    team gets the PII-pruned frame in prod, a 'none' team is denied."""
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.governance.tenancy import Team
    from tests.test_pipeline import TEMPLATE

    rows = [("e1", "click", "2024-01-01 10:00:00", "u1", 1.5)]
    batch = (
        spark.createDataFrame(
            rows,
            "event_id STRING, event_type STRING, ts_s STRING, user_id STRING, value DOUBLE",
        )
        .withColumn("event_timestamp", F.col("ts_s").cast("timestamp"))
        .drop("ts_s")
    )
    prod = load_env_profile("prod", env={}, base_root=tmp_path)
    prod.materialize(spark, TEMPLATE, df=batch)

    analytics = Team(name="analytics", tables={TEMPLATE["name"]: "reader"})
    df = prod.read_table(spark, TEMPLATE, team=analytics)
    assert "user_id" not in df.columns and df.count() == 1

    outsiders = Team(name="outsiders", tables={})
    with pytest.raises(PermissionError):
        prod.read_table(spark, TEMPLATE, team=outsiders)
