"""SQL DDL front door (round 9): CREATE/DROP/ALTER statements through
Lakehouse.sql — including the round-trip of the repo's OWN generated DDL
(templates/ddl.py) back through the parser."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.tables import Lakehouse


@pytest.fixture()
def lake(tmp_path):
    return Lakehouse(tmp_path / "ddl_lake")


def test_create_table_full_clause_surface(spark, lake):
    r = lake.sql(spark, """
        CREATE TABLE IF NOT EXISTS lakehouse.events.web_events (
          event_id BIGINT NOT NULL COMMENT 'unique id',
          ts TIMESTAMP_NTZ,
          user_id BIGINT,
          payload STRING,
          score DOUBLE,
          tags ARRAY<BIGINT>,
          amount DECIMAL(18, 6)
        ) USING iceberg
        PARTITIONED BY (days(ts), bucket(8, user_id))
        TBLPROPERTIES ('write.format.default' = 'parquet',
                       'commit.retry.num-retries' = '5')
    """)
    assert r == {"operation": "create_table", "table": "web_events",
                 "created": True}
    t = lake.table("web_events")
    cols = {c["name"]: c for c in t.meta["columns"]}
    assert cols["event_id"]["type"] == "long"
    assert cols["event_id"].get("required") is True
    assert cols["event_id"]["description"] == "unique id"
    assert cols["ts"]["type"] == "timestamp"
    assert cols["tags"]["type"] == "list<long>"
    assert cols["amount"]["type"] == "decimal(18,6)"
    assert t.meta["partition_spec"] == [
        {"column": "ts", "transform": "day"},
        {"column": "user_id", "transform": "bucket[8]"},
    ]
    assert t.meta["properties"]["commit_num_retries"] == "5"
    # IF NOT EXISTS: second run is a no-op, not an error
    r2 = lake.sql(spark, "CREATE TABLE IF NOT EXISTS web_events (x INT)")
    assert r2["created"] is False
    # the new table is immediately writable and queryable via the front door
    lake.sql(spark, """
        INSERT INTO web_events (event_id, user_id, score)
        SELECT 1, 10, 0.5
    """)
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM web_events"
    ).first().n == 1


def test_generated_ddl_round_trips(spark, lake):
    """templates/ddl.py renders a template to Iceberg DDL; parsing that
    string back must recreate the same declared schema, partition spec,
    and properties — the repo's DDL surface is self-consistent."""
    from iceberg_quickstart_iac_spark.templates.ddl import (
        create_namespace_ddl,
        create_table_ddl,
        write_order_ddl,
    )

    template = {
        "name": "rt_orders", "namespace": "sales",
        "columns": [
            {"name": "o_orderkey", "type": "long", "required": True},
            {"name": "o_orderdate", "type": "timestamp"},
            {"name": "o_totalprice", "type": "double",
             "description": "gross price"},
            {"name": "o_discount", "type": "decimal(18,6)"},
            {"name": "o_partkeys", "type": "list<long>"},
            {"name": "o_linegroups", "type": "list<list<int>>"},
        ],
        "partition_spec": [{"column": "o_orderdate", "transform": "month"}],
        "sort_order": [
            {"column": "o_orderkey", "direction": "asc",
             "null_order": "nulls_last"},
        ],
        "properties": {"write_format": "parquet"},
    }
    script = ";\n".join(filter(None, [
        create_namespace_ddl(template),
        create_table_ddl(template),
        write_order_ddl(template),
    ]))
    lake.sql_script(spark, script)
    t = lake.table("rt_orders")
    assert [
        {k: c[k] for k in ("name", "type")} for c in t.meta["columns"]
    ] == [{k: c[k] for k in ("name", "type")} for c in template["columns"]]
    assert t.meta["columns"][0].get("required") is True
    assert t.meta["columns"][2]["description"] == "gross price"
    assert t.meta["partition_spec"] == template["partition_spec"]
    assert t.meta["sort_order"] == template["sort_order"]
    assert t.meta["properties"]["write_format"] == "parquet"
    # the stored exact types render back as themselves: SHOW CREATE TABLE
    # replays into a fresh catalog as the same declared schema
    ddl = lake.sql(spark, "SHOW CREATE TABLE rt_orders").first().ddl
    assert "o_discount DECIMAL(18,6)" in ddl and "o_partkeys ARRAY<BIGINT>" in ddl
    assert "o_linegroups ARRAY<ARRAY<INT>>" in ddl
    lake2 = Lakehouse(lake.root.parent / "rt_replay")
    lake2.sql_script(spark, ddl)
    assert lake2.table("rt_orders").meta["columns"] == t.meta["columns"]


def test_alter_table_evolution_statements(spark, lake):
    lake.sql(spark, "CREATE TABLE evo (id BIGINT NOT NULL, v INT)")
    t = lake.table("evo")
    t.append(spark.createDataFrame([(1, 2)], "id LONG, v INT"))
    lake.sql(spark, "ALTER TABLE evo ADD COLUMN note STRING COMMENT 'freeform'")
    lake.sql(spark, "ALTER TABLE evo ALTER COLUMN v TYPE BIGINT")
    lake.sql(spark, "ALTER TABLE evo RENAME COLUMN note TO comment_text")
    cols = {c["name"]: c for c in lake.table("evo").meta["columns"]}
    # evolve_add_column stores the comment under its API's "doc" key
    assert cols["comment_text"]["doc"] == "freeform"
    assert cols["v"]["type"] == "long"
    lake.sql(spark, "ALTER TABLE evo DROP COLUMN comment_text")
    assert "comment_text" not in {
        c["name"] for c in lake.table("evo").meta["columns"]
    }
    # pre-evolution data still reads under the evolved schema
    assert {tuple(r) for r in lake.table("evo").read(spark).collect()} == {(1, 2)}
    # unsafe narrowing raises through the statement path
    with pytest.raises(ValueError, match="Unsafe"):
        lake.sql(spark, "ALTER TABLE evo ALTER COLUMN v TYPE INT")


def test_write_ordered_by_changes_sort_order(spark, lake):
    lake.sql(spark, "CREATE TABLE sorted_t (a BIGINT, b STRING)")
    lake.sql(
        spark,
        "ALTER TABLE sorted_t WRITE ORDERED BY a DESC NULLS LAST, b",
    )
    assert lake.table("sorted_t").meta["sort_order"] == [
        {"column": "a", "direction": "desc", "null_order": "nulls_last"},
        {"column": "b", "direction": "asc"},
    ]
    with pytest.raises(ValueError, match="unknown column"):
        lake.sql(spark, "ALTER TABLE sorted_t WRITE ORDERED BY nope")


def test_drop_table_is_admin_only_and_if_exists(spark, lake):
    lake.sql(spark, "CREATE TABLE doomed (id BIGINT)")
    with pytest.raises(PermissionError, match="admin"):
        lake.sql(spark, "DROP TABLE doomed", access_level="writer")
    r = lake.sql(spark, "DROP TABLE doomed")
    assert r["dropped"] is True
    assert "doomed" not in lake.list_tables()
    r = lake.sql(spark, "DROP TABLE IF EXISTS doomed")
    assert r["dropped"] is False
    from iceberg_quickstart_iac_spark.tables import TableNotFoundError

    with pytest.raises(TableNotFoundError):
        lake.sql(spark, "DROP TABLE doomed")


def test_reader_cannot_ddl(spark, lake):
    with pytest.raises(PermissionError, match="reader"):
        lake.sql(spark, "CREATE TABLE nope (id BIGINT)",
                 access_level="reader")


def test_branch_rejects_sort_order_evolution(spark, lake):
    lake.sql(spark, "CREATE TABLE br_t (a BIGINT)")
    t = lake.table("br_t")
    t.append(spark.createDataFrame([(1,)], "a LONG"))
    br = t.create_branch("dev")
    with pytest.raises(RuntimeError, match="main table"):
        br.evolve_sort_order([{"column": "a", "direction": "asc"}])


def test_non_snapstore_ddl_passes_through_to_spark(spark, lake):
    # CREATE TEMP VIEW is Spark-session DDL, not catalog DDL — it must
    # reach spark.sql untouched
    lake.sql(spark, "CREATE OR REPLACE TEMP VIEW ddl_passthrough AS SELECT 1 AS x")
    assert spark.sql("SELECT x FROM ddl_passthrough").first().x == 1
    spark.catalog.dropTempView("ddl_passthrough")


def test_ctas_creates_and_populates(spark, lake):
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)],
        "id LONG, grp STRING, v DOUBLE",
    ).createOrReplaceTempView("ctas_src")
    r = lake.sql(spark, """
        CREATE TABLE ctas_out AS
        SELECT grp, COUNT(*) AS n, SUM(v) AS total
        FROM ctas_src GROUP BY grp
    """)
    assert r["operation"] == "create_table_as"
    assert r["created"] is True and r["row_count"] == 2
    t = lake.table("ctas_out")
    cols = {c["name"]: c["type"] for c in t.meta["columns"]}
    assert cols == {"grp": "string", "n": "long", "total": "double"}
    got = {
        (row.grp, row.n, row.total)
        for row in lake.sql(spark, "SELECT * FROM ctas_out").collect()
    }
    assert got == {("a", 2, 5.0), ("b", 1, 2.5)}
    # IF NOT EXISTS on an existing table: no-op, no write
    r2 = lake.sql(
        spark,
        "CREATE TABLE IF NOT EXISTS ctas_out AS SELECT 1 AS x",
    )
    assert r2["created"] is False
    spark.catalog.dropTempView("ctas_src")


def test_create_rejects_partition_or_sort_on_unknown_column(spark, lake):
    """A spec referencing a column absent from the declared schema is a
    DDL-time reject (Iceberg parity) — not a silently-ignored spec the
    writer never applies."""
    with pytest.raises(ValueError, match="not in the declared schema"):
        lake.sql(spark, "CREATE TABLE specbad (k BIGINT) PARTITIONED BY (nope)")
    with pytest.raises(ValueError, match="not in the declared schema"):
        lake.sql(
            spark, "CREATE TABLE specbad PARTITIONED BY (days(nope)) "
            "AS SELECT 1 AS k"
        )
    assert "specbad" not in lake.list_tables()


def test_ctas_partitioned_with_properties_and_nullability(spark, lake):
    """Partitioned CTAS: PARTITIONED BY + TBLPROPERTIES
    parse on the CTAS path, the write lands hidden-partition dirs, and
    inferred schemas carry source nullability (COUNT(*) → required)."""
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5), (4, "c", 0.5)],
        "id LONG, grp STRING, v DOUBLE",
    ).createOrReplaceTempView("ctasp_src")
    r = lake.sql(spark, """
        CREATE TABLE ctasp_out
        PARTITIONED BY (grp)
        TBLPROPERTIES ('commit.retry.num-retries'='9')
        AS SELECT grp, COUNT(*) AS n, SUM(v) AS total
        FROM ctasp_src GROUP BY grp
    """)
    assert r["created"] is True and r["row_count"] == 3
    t = lake.table("ctasp_out")
    required = {c["name"] for c in t.meta["columns"] if c.get("required")}
    assert required == {"n"}  # COUNT(*) is non-nullable; SUM/grp are not
    assert t.meta["properties"]["commit_num_retries"] == "9"
    assert [p["column"] for p in t.meta["partition_spec"]] == ["grp"]
    # the data dirs really are hidden-partitioned (one leaf per grp)
    files = t.files(spark).collect()
    assert {f.partition for f in files} == {
        '{"__p_grp": "a"}', '{"__p_grp": "b"}', '{"__p_grp": "c"}'
    }
    # the SHOW CREATE TABLE round-trip carries the clauses
    ddl = lake.sql(
        spark, "SHOW CREATE TABLE ctasp_out"
    ).first().ddl
    assert "PARTITIONED BY" in ddl
    spark.catalog.dropTempView("ctasp_src")


def test_ctas_reads_catalog_tables_through_front_door(spark, lake):
    lake.sql(spark, "CREATE TABLE base_t (k BIGINT, v STRING)")
    lake.sql(spark, "INSERT INTO base_t VALUES (1, 'x'), (2, 'y')")
    spark.catalog.dropTempView("base_t")  # force lazy re-registration
    r = lake.sql(
        spark,
        "CREATE TABLE derived_t AS SELECT k * 10 AS k10 FROM base_t",
    )
    assert r["row_count"] == 2
    got = {
        row.k10
        for row in lake.sql(spark, "SELECT * FROM derived_t").collect()
    }
    assert got == {10, 20}


def test_truncate_preserves_history(spark, lake):
    lake.sql(spark, "CREATE TABLE trunc_t (k BIGINT)")
    lake.sql(spark, "INSERT INTO trunc_t VALUES (1), (2), (3)")
    t = lake.table("trunc_t")
    pre = t.current_snapshot()["snapshot_id"]
    r = lake.sql(spark, "TRUNCATE TABLE trunc_t")
    assert r["operation"] == "truncate_table" and r["row_count"] == 0
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM trunc_t"
    ).first().n == 0
    # Iceberg semantics: the pre-truncate snapshot is still readable
    assert t.read(spark, snapshot_id=pre).count() == 3


def test_show_tables_and_describe(spark, lake):
    lake.sql(spark, "CREATE TABLE lakehouse.aa_t (k BIGINT NOT NULL, v STRING COMMENT 'payload')")
    lake.sql(spark, "CREATE TABLE bb_t (x DOUBLE)")
    shown = [
        (r.namespace, r.table_name)
        for r in lake.sql(spark, "SHOW TABLES").collect()
    ]
    assert ("lakehouse", "aa_t") in shown and ("default", "bb_t") in shown
    desc = {
        r.col_name: (r.data_type, r.required, r.comment)
        for r in lake.sql(spark, "DESCRIBE TABLE lakehouse.aa_t").collect()
    }
    assert desc["k"] == ("long", True, "")
    assert desc["v"] == ("string", False, "payload")
    # bare DESCRIBE works too
    assert {
        r.col_name for r in lake.sql(spark, "DESCRIBE bb_t").collect()
    } == {"x"}


def test_describe_non_catalog_view_falls_through_to_spark(spark, lake):
    spark.createDataFrame([(1,)], "z LONG").createOrReplaceTempView(
        "plain_view"
    )
    out = lake.sql(spark, "DESCRIBE plain_view")
    assert {r.col_name for r in out.collect()} == {"z"}
    spark.catalog.dropTempView("plain_view")


def test_show_tables_on_empty_catalog(spark, tmp_path):
    from iceberg_quickstart_iac_spark.tables import Lakehouse

    empty = Lakehouse(tmp_path / "empty_lake")
    assert empty.sql(spark, "SHOW TABLES").count() == 0


# ---------------------------------------------------------- ref DDL (r10)


def test_ref_ddl_tag_lifecycle(spark, lake):
    lake.sql(spark, "CREATE TABLE reft (k BIGINT)")
    lake.sql(spark, "INSERT INTO reft SELECT id AS k FROM range(0, 5)")
    lake.sql(spark, "INSERT INTO reft SELECT id AS k FROM range(5, 9)")
    t = lake.table("reft")
    r = lake.sql(
        spark,
        "ALTER TABLE reft CREATE TAG v1 AS OF VERSION 0 RETAIN 30 DAYS",
    )
    assert r == {"operation": "create_tag", "table": "reft", "ref": "v1",
                 "created": True}
    tag = t.tag("v1")
    assert tag["sequence"] == 0
    assert tag["max_ref_age_ms"] == 30 * 86400 * 1000
    # the tag serves through time-travel SQL
    n = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM reft FOR VERSION AS OF 'v1'"
    ).first().n
    assert n == 5
    # IF NOT EXISTS: no-op; bare re-create: loud
    r2 = lake.sql(spark, "ALTER TABLE reft CREATE TAG IF NOT EXISTS v1")
    assert r2["created"] is False
    with pytest.raises(ValueError, match="already exists"):
        lake.sql(spark, "ALTER TABLE reft CREATE TAG v1")
    # REPLACE moves the tag to another version
    lake.sql(spark, "ALTER TABLE reft REPLACE TAG v1 AS OF VERSION 1")
    assert t.tag("v1")["sequence"] == 1
    # REPLACE TAG without AS OF VERSION is a loud reject (Iceberg
    # requires the target version — an implicit head re-pin would
    # silently move a retention tag)
    with pytest.raises(ValueError, match="AS OF VERSION"):
        lake.sql(spark, "ALTER TABLE reft REPLACE TAG v1")
    assert t.tag("v1")["sequence"] == 1  # unchanged by the reject
    # DROP removes it; IF EXISTS tolerates absence
    r3 = lake.sql(spark, "ALTER TABLE reft DROP TAG v1")
    assert r3["dropped"] is True
    assert lake.sql(
        spark, "ALTER TABLE reft DROP TAG IF EXISTS v1"
    )["dropped"] is False
    with pytest.raises(ValueError, match="no tag"):
        lake.sql(spark, "ALTER TABLE reft DROP TAG v1")


def test_drop_table_retracts_session_views(spark, lake):
    """DROP TABLE must retract the Spark temp views the lazy registration
    created — a post-drop SELECT errors, and a re-created table with the
    same name serves ITS rows, never the dropped table's."""
    from pyspark.errors import AnalysisException

    lake.sql(spark, "CREATE TABLE dropt (k BIGINT)")
    lake.sql(spark, "INSERT INTO dropt SELECT id AS k FROM range(0, 7)")
    # register base + a metadata view + a time-travel pin in the session
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM dropt").first().n == 7
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM dropt__snapshots"
    ).first().n == 1
    lake.sql(spark, "SELECT COUNT(*) AS n FROM dropt FOR VERSION AS OF 0")
    lake.sql(spark, "DROP TABLE dropt")
    with pytest.raises(AnalysisException):
        lake.sql(spark, "SELECT COUNT(*) AS n FROM dropt").collect()
    with pytest.raises(Exception):
        lake.sql(
            spark, "SELECT COUNT(*) AS n FROM dropt__snapshots"
        ).collect()
    # same-name re-create serves the NEW table's rows
    lake.sql(spark, "CREATE TABLE dropt (k BIGINT)")
    lake.sql(spark, "INSERT INTO dropt SELECT id AS k FROM range(0, 3)")
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM dropt").first().n == 3


def test_ref_ddl_branch_lifecycle(spark, lake):
    lake.sql(spark, "CREATE TABLE refb (k BIGINT)")
    lake.sql(spark, "INSERT INTO refb SELECT id AS k FROM range(0, 5)")
    t = lake.table("refb")
    r = lake.sql(spark, "ALTER TABLE refb CREATE BRANCH audit")
    assert r["created"] is True
    assert [b["name"] for b in t.list_branches()] == ["audit"]
    # branch writes stay isolated from main
    t.branch("audit").append(
        spark.range(100, 103).selectExpr("id AS k")
    )
    assert t.read(spark).count() == 5
    assert t.branch("audit").read(spark).count() == 8
    # RETAIN on a branch is a loud reject; REPLACE BRANCH too
    with pytest.raises(ValueError, match="RETAIN applies to tags"):
        lake.sql(spark, "ALTER TABLE refb CREATE BRANCH b2 RETAIN 7 DAYS")
    with pytest.raises(ValueError, match="REPLACE BRANCH"):
        lake.sql(spark, "ALTER TABLE refb REPLACE BRANCH audit AS OF VERSION 0")
    r2 = lake.sql(spark, "ALTER TABLE refb DROP BRANCH audit")
    assert r2["dropped"] is True
    assert t.list_branches() == []


def test_ref_ddl_as_of_version_unknown_sequence(spark, lake):
    lake.sql(spark, "CREATE TABLE refv (k BIGINT)")
    lake.sql(spark, "INSERT INTO refv SELECT id AS k FROM range(0, 3)")
    with pytest.raises(ValueError, match="no commit with that sequence"):
        lake.sql(spark, "ALTER TABLE refv CREATE TAG bad AS OF VERSION 9")


# ----------------------------------------- ALTER surface completion (r10)


def test_alter_partition_field_evolution_sql(spark, lake):
    lake.sql(spark, """
        CREATE TABLE pev (k BIGINT, ts TIMESTAMP_NTZ, cat STRING)
        PARTITIONED BY (days(ts))
    """)
    t = lake.table("pev")
    lake.sql(spark, "ALTER TABLE pev ADD PARTITION FIELD bucket(4, k)")
    assert t.meta["partition_spec"] == [
        {"column": "ts", "transform": "day"},
        {"column": "k", "transform": "bucket[4]"},
    ]
    with pytest.raises(ValueError, match="already"):
        lake.sql(spark, "ALTER TABLE pev ADD PARTITION FIELD bucket(4, k)")
    lake.sql(
        spark,
        "ALTER TABLE pev REPLACE PARTITION FIELD days(ts) WITH months(ts)",
    )
    assert lake.table("pev").meta["partition_spec"][0] == {
        "column": "ts", "transform": "month"
    }
    lake.sql(spark, "ALTER TABLE pev DROP PARTITION FIELD bucket(4, k)")
    assert lake.table("pev").meta["partition_spec"] == [
        {"column": "ts", "transform": "month"}
    ]
    with pytest.raises(ValueError, match="no partition field"):
        lake.sql(spark, "ALTER TABLE pev DROP PARTITION FIELD bucket(4, k)")
    # WITH <field> belongs to REPLACE alone, and REPLACE needs it
    for action in ("ADD PARTITION FIELD days(ts) WITH months(ts)",
                   "REPLACE PARTITION FIELD months(ts)"):
        with pytest.raises(ValueError, match="unsupported ALTER"):
            lake.sql(spark, f"ALTER TABLE pev {action}")
    assert lake.table("pev").meta["partition_spec"] == [
        {"column": "ts", "transform": "month"}
    ]


def test_alter_tblproperties_sql(spark, lake):
    lake.sql(spark, "CREATE TABLE prp (k BIGINT)")
    lake.sql(spark, """
        ALTER TABLE prp SET TBLPROPERTIES (
          'commit.retry.num-retries' = '9', 'owner' = 'data-eng')
    """)
    props = lake.table("prp").meta["properties"]
    assert props["commit_num_retries"] == "9"
    assert props["owner"] == "data-eng"
    lake.sql(spark, "ALTER TABLE prp UNSET TBLPROPERTIES ('owner')")
    props = lake.table("prp").meta["properties"]
    assert "owner" not in props
    assert props["commit_num_retries"] == "9"
    # unknown key unset is a no-op, like Iceberg IF EXISTS
    lake.sql(spark, "ALTER TABLE prp UNSET TBLPROPERTIES ('nope')")


def test_alter_identifier_fields_enables_mor_delete(spark, lake):
    lake.sql(spark, "CREATE TABLE idf (k BIGINT NOT NULL, v DOUBLE)")
    lake.sql(
        spark,
        "INSERT INTO idf SELECT id AS k, CAST(id AS DOUBLE) AS v "
        "FROM range(0, 10)",
    )
    t = lake.table("idf")
    with pytest.raises(ValueError, match="identifier_fields"):
        t.delete_where(spark, "k = 1", mode="mor")
    lake.sql(spark, "ALTER TABLE idf SET IDENTIFIER FIELDS k")
    lake.table("idf").delete_where(spark, "k = 1", mode="mor")
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM idf"
    ).first().n == 9
    with pytest.raises(ValueError, match="not a declared column"):
        lake.sql(spark, "ALTER TABLE idf SET IDENTIFIER FIELDS ghost")
    lake.sql(spark, "ALTER TABLE idf DROP IDENTIFIER FIELDS")
    assert "identifier_fields" not in lake.table("idf").meta


def test_show_create_table_roundtrips_through_the_parser(spark, lake):
    lake.sql(spark, """
        CREATE TABLE sct (
          k BIGINT NOT NULL COMMENT 'key',
          ts TIMESTAMP_NTZ,
          v DOUBLE
        ) PARTITIONED BY (days(ts))
        TBLPROPERTIES ('commit.retry.num-retries' = '7')
    """)
    row = lake.sql(spark, "SHOW CREATE TABLE sct").first()
    assert row.table_name == "sct"
    assert "CREATE TABLE" in row.ddl and "PARTITIONED BY" in row.ddl
    # the emitted DDL is the repo's own dialect: replaying it in a FRESH
    # catalog reconstructs the same template
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake2 = Lakehouse(tempfile.mkdtemp(prefix="sct2_") + "/lake")
    for stmt in row.ddl.split(";\n"):
        lake2.sql(spark, stmt)
    m1, m2 = lake.table("sct").meta, lake2.table("sct").meta
    assert m1["columns"] == m2["columns"]
    assert m1.get("partition_spec") == m2.get("partition_spec")
    assert (
        m1["properties"]["commit_num_retries"]
        == m2["properties"]["commit_num_retries"]
    )


def test_insert_values_through_front_door(spark, lake):
    lake.sql(spark, "CREATE TABLE iv (k BIGINT, v DOUBLE)")
    lake.sql(
        spark,
        "INSERT INTO iv VALUES (1, CAST(1.5 AS DOUBLE)), "
        "(2, CAST(2.5 AS DOUBLE))",
    )
    rows = lake.sql(
        spark, "SELECT k, v FROM iv ORDER BY k"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 1.5), (2, 2.5)]
