"""Schema-core tests, mirroring the reference's test strategy
(tests/test_table_loader.py shape): template loading, type mapping,
restricted-column extraction, error cases — plus DDL generation, which the
reference delegates to Terraform."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from iceberg_quickstart_iac_spark.templates import (
    create_namespace_ddl,
    create_table_ddl,
    get_column_names,
    get_restricted_columns,
    get_template,
    iceberg_type_to_spark,
    load_table_templates,
    spark_schema,
    write_order_ddl,
)
from iceberg_quickstart_iac_spark.templates.loader import spark_type, template_type
from iceberg_quickstart_iac_spark.templates.ddl import partition_transform_sql


def test_all_builtin_templates_load():
    templates = load_table_templates()
    assert {"event_stream", "scd_type2", "feature_table"} <= set(templates)


def test_get_template_unknown_raises():
    with pytest.raises(KeyError, match="not found"):
        get_template("nope")


@pytest.mark.parametrize(
    ("iceberg", "spark"),
    [
        ("boolean", T.BooleanType()),
        ("int", T.IntegerType()),
        ("long", T.LongType()),
        ("float", T.FloatType()),
        ("double", T.DoubleType()),
        ("date", T.DateType()),
        ("time", T.StringType()),
        ("timestamp", T.TimestampNTZType()),
        ("timestamptz", T.TimestampType()),
        ("string", T.StringType()),
        ("uuid", T.StringType()),
        ("binary", T.BinaryType()),
    ],
)
def test_type_mapping(iceberg, spark):
    assert iceberg_type_to_spark(iceberg) == spark


def test_decimal_demotes_to_string():
    # decimal is mentioned in the reference's doc string but demoted by its
    # loader (table_loader.py:68) — we keep that contract; snapstore's own
    # declared-type resolution keeps exact decimals.
    assert iceberg_type_to_spark("decimal(10,2)") == T.StringType()
    assert spark_type("decimal(10,2)") == T.DecimalType(10, 2)


@pytest.mark.parametrize("name", ["map<string,int>", "struct<a:int>", "wat", "list<wat>"])
def test_unknown_type_raises_naming_it(name):
    """A column declared as a map or struct must not silently hold
    strings: both mappers refuse a name they cannot map, and name it."""
    inner = name[5:-1] if name.startswith("list<") else name
    with pytest.raises(ValueError, match=re.escape(repr(inner))):
        spark_type(name)
    if inner == name:
        with pytest.raises(ValueError, match=re.escape(repr(name))):
            iceberg_type_to_spark(name)


#: every primitive the mapper accepts, plus exact decimals and lists;
#: time and uuid are the one-way demotions (they read back as string)
_ONE_WAY = {"time": "string", "uuid": "string"}


@pytest.mark.parametrize(
    "name",
    ["boolean", "int", "long", "float", "double", "date", "time", "timestamp",
     "timestamptz", "string", "uuid", "binary", "decimal(18,6)", "decimal(9,0)",
     "list<long>", "list<decimal(9,2)>", "list<timestamp>", "list<list<int>>"],
)
def test_type_name_round_trips(name):
    """name → Spark type → name, and name → rendered DDL → parsed name."""
    from iceberg_quickstart_iac_spark.tables.sql_ddl import _parse_coldef

    back = _ONE_WAY.get(name, name)
    assert template_type(spark_type(name)) == back
    ddl = create_table_ddl({"name": "t", "columns": [{"name": "c", "type": name}]})
    col_line = ddl.splitlines()[1]
    assert template_type(col_line.split(" ", 3)[3]) == back
    assert _parse_coldef(col_line)["type"] == back


@pytest.mark.parametrize(
    ("ddl", "name"),
    [("BIGINT", "long"), ("LONG", "long"), ("INTEGER", "int"), ("SMALLINT", "int"),
     ("TINYINT", "int"), ("VARCHAR", "string"), ("REAL", "float"),
     ("TIMESTAMP_NTZ", "timestamp"), ("TIMESTAMP", "timestamptz"),
     ("DECIMAL(18, 6)", "decimal(18,6)"), ("ARRAY<BIGINT>", "list<long>")],
)
def test_ddl_synonyms_parse(ddl, name):
    assert template_type(ddl) == name


@pytest.mark.parametrize(
    "spark", [T.MapType(T.StringType(), T.IntegerType()), "map<string,int>", "wat"]
)
def test_undeclarable_spark_type_raises(spark):
    with pytest.raises(ValueError, match="Unsupported column type"):
        template_type(spark)


def test_spark_schema_event_stream():
    schema = spark_schema(get_template("event_stream"))
    assert len(schema.fields) == 9
    by_name = {f.name: f for f in schema.fields}
    assert by_name["event_timestamp"].dataType == T.TimestampType()
    assert by_name["event_timestamp"].nullable is False
    assert by_name["session_id"].nullable is True
    assert by_name["user_id"].metadata.get("access_level") == "restricted"


def test_restricted_columns():
    assert get_restricted_columns(get_template("event_stream")) == ["user_id", "ip_address"]
    assert get_restricted_columns(get_template("scd_type2")) == ["email"]
    assert get_restricted_columns(get_template("feature_table")) == []


def test_column_names_order_preserved():
    names = get_column_names(get_template("scd_type2"))
    assert names[0] == "surrogate_key"
    assert names[-1] == "updated_at"
    assert len(names) == 11


def test_empty_yaml_raises(tmp_path):
    (tmp_path / "empty.yaml").write_text("")
    with pytest.raises(ValueError, match="Empty YAML"):
        load_table_templates(tmp_path)


def test_missing_required_keys_raises(tmp_path):
    (tmp_path / "bad.yaml").write_text("name: x\ncolumns: []\n")
    with pytest.raises(ValueError, match="partition_spec"):
        load_table_templates(tmp_path)


@pytest.mark.parametrize(
    ("column", "transform", "expected"),
    [
        ("c", "identity", "c"),
        ("ts", "year", "years(ts)"),
        ("ts", "month", "months(ts)"),
        ("ts", "day", "days(ts)"),
        ("ts", "hour", "hours(ts)"),
        ("k", "bucket[16]", "bucket(16, k)"),
        ("s", "truncate[4]", "truncate(4, s)"),
    ],
)
def test_partition_transform_sql(column, transform, expected):
    assert partition_transform_sql(column, transform) == expected


def test_partition_transform_unknown_raises():
    with pytest.raises(ValueError, match="Unknown partition transform"):
        partition_transform_sql("c", "zap")


def test_create_table_ddl_event_stream():
    ddl = create_table_ddl(get_template("event_stream"))
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS lakehouse.lakehouse.event_stream (")
    assert "event_id STRING NOT NULL" in ddl
    assert "event_timestamp TIMESTAMP NOT NULL" in ddl
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (days(event_timestamp), hours(event_timestamp))" in ddl
    assert "'history.expire.max-snapshot-age-ms' = '604800000'" in ddl
    assert "'write.format.default' = 'parquet'" in ddl


def test_write_order_ddl():
    assert write_order_ddl(get_template("scd_type2")) == (
        "ALTER TABLE lakehouse.lakehouse.scd_type2 WRITE ORDERED BY "
        "natural_key ASC, effective_from DESC"
    )
    assert write_order_ddl({"name": "t", "columns": [], "partition_spec": []}) is None


def test_null_order_rendering():
    template = {
        "name": "t",
        "namespace": "ns",
        "columns": [],
        "partition_spec": [],
        "sort_order": [{"column": "c", "direction": "desc", "null_order": "nulls_last"}],
    }
    assert write_order_ddl(template) == "ALTER TABLE lakehouse.ns.t WRITE ORDERED BY c DESC NULLS LAST"


def test_namespace_ddl():
    assert create_namespace_ddl(get_template("event_stream")) == (
        "CREATE NAMESPACE IF NOT EXISTS lakehouse.lakehouse"
    )


def test_ddl_is_parseable_by_spark(spark):
    """The generated DDL must be syntactically valid Spark SQL. Without the
    iceberg extension the catalog rejects USING iceberg at analysis time, but
    a parse error would raise ParseException instead — that's the assertion."""
    from pyspark.errors import ParseException

    for name in ("event_stream", "scd_type2", "feature_table"):
        ddl = create_table_ddl(get_template(name), catalog="spark_catalog")
        try:
            spark.sql(ddl)
        except ParseException as exc:  # pragma: no cover
            raise AssertionError(f"generated DDL failed to parse:\n{ddl}") from exc
        except Exception:
            pass  # analysis errors (no iceberg jar locally) are expected
        finally:
            spark.sql(f"DROP TABLE IF EXISTS spark_catalog.{get_template(name)['namespace']}.{name}")


def test_named_queries_render_and_run_through_views(spark, tmp_path):
    """Athena named-query parity: the snapshot-history named query runs
    VERBATIM through the registered metadata view; the DDL parses."""
    from iceberg_quickstart_iac_spark.tables import SnapTable
    from iceberg_quickstart_iac_spark.templates.ddl import named_queries

    tpl = {
        "name": "nq_demo", "namespace": "lakehouse",
        "partition_spec": [],
        "columns": [{"name": "k", "type": "long"}],
    }
    nq = named_queries(tpl)
    assert set(nq) == {
        "create-nq_demo", "snapshot-history-nq_demo", "time-travel-nq_demo"
    }
    # DDL is valid Spark SQL (parse-only, jvm parser; execution needs a
    # real Iceberg catalog — parse-validity is pinned for every template
    # by the M4 DDL tests)
    spark._jsparkSession.sessionState().sqlParser().parsePlan(
        nq["create-nq_demo"]
    )
    t = SnapTable.create(tmp_path / "nq", tpl)
    t.append(spark.createDataFrame([(1,), (2,)], "k LONG"))
    t.append(spark.createDataFrame([(3,)], "k LONG"))
    t.register(spark, name="nq_demo")
    rows = spark.sql(nq["snapshot-history-nq_demo"]).collect()
    assert len(rows) == 2 and rows[0]["sequence"] == 1
