"""SQL DML front door (round 9): INSERT/DELETE/UPDATE/MERGE statements
through Lakehouse.sql route to the SnapTable executors with verbatim
Spark-SQL conditions/expressions; reads are unaffected; readers are
blocked; follow-head views see the writes."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.tables import Lakehouse


@pytest.fixture()
def lake(spark, tmp_path):
    lh = Lakehouse(tmp_path / "dml_lake")
    t = lh.create_table({
        "name": "accounts", "namespace": "lakehouse",
        "columns": [
            {"name": "id", "type": "long", "required": True},
            {"name": "status", "type": "string"},
            {"name": "balance", "type": "double"},
        ],
        "identifier_fields": ["id"],
    })
    t.append(spark.createDataFrame(
        [(1, "open", 10.0), (2, "open", 20.0), (3, "closed", 30.0)],
        "id LONG, status STRING, balance DOUBLE",
    ))
    return lh


def _rows(spark, lake):
    return {
        (r.id, r.status, r.balance)
        for r in lake.table("accounts").read(spark).collect()
    }


def test_insert_values_positional(spark, lake):
    entry = lake.sql(spark, "INSERT INTO accounts VALUES (4, 'open', 40.0)")
    assert entry["operation"] == "append"
    assert (4, "open", 40.0) in _rows(spark, lake)


def test_insert_select_with_column_subset_fills_nulls(spark, lake):
    lake.sql(
        spark,
        "INSERT INTO accounts (id, balance) SELECT 5, 50.0",
    )
    assert (5, None, 50.0) in _rows(spark, lake)


def test_insert_select_reads_catalog_tables_lazily(spark, lake):
    # the INSERT's source SELECT references the catalog table itself —
    # lazy registration must resolve it before the DML runs
    spark.catalog.dropTempView("accounts")
    lake.sql(
        spark,
        "INSERT INTO accounts SELECT id + 100, status, balance * 2 "
        "FROM accounts WHERE id = 1",
    )
    assert (101, "open", 20.0) in _rows(spark, lake)


def test_delete_where_and_delete_all(spark, lake):
    lake.sql(spark, "DELETE FROM accounts WHERE status = 'closed'")
    assert {r[0] for r in _rows(spark, lake)} == {1, 2}
    lake.sql(spark, "DELETE FROM accounts")
    assert _rows(spark, lake) == set()


def test_update_with_commas_in_expressions(spark, lake):
    lake.sql(
        spark,
        "UPDATE accounts SET balance = round(balance * 1.1, 2), "
        "status = concat(status, ',flagged') WHERE id <= 2",
    )
    got = _rows(spark, lake)
    assert (1, "open,flagged", 11.0) in got
    assert (2, "open,flagged", 22.0) in got
    assert (3, "closed", 30.0) in got  # untouched


def test_merge_full_clause_surface(spark, lake):
    src = spark.createDataFrame(
        [(2, "upgraded", 99.0), (9, "new", 9.0)],
        "id LONG, status STRING, balance DOUBLE",
    )
    src.createOrReplaceTempView("acct_updates")
    entry = lake.sql(spark, """
        MERGE INTO accounts AS tgt
        USING acct_updates AS u
        ON tgt.id = u.id
        WHEN MATCHED AND u.balance > 50 THEN UPDATE SET
            status = u.status, balance = u.balance
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED THEN INSERT (id, status, balance)
            VALUES (u.id, u.status, u.balance)
        WHEN NOT MATCHED BY SOURCE AND tgt.status = 'closed' THEN DELETE
    """)
    assert entry["operation"] == "merge"
    # id 2 updated (balance 99 > 50); id 9 inserted; id 3 (closed, not in
    # source) deleted; id 1 (open, not in source) untouched
    assert _rows(spark, lake) == {
        (1, "open", 10.0), (2, "upgraded", 99.0), (9, "new", 9.0),
    }


def test_merge_star_shorthands(spark, lake):
    spark.createDataFrame(
        [(1, "star", 111.0), (7, "fresh", 7.0)],
        "id LONG, status STRING, balance DOUBLE",
    ).createOrReplaceTempView("star_updates")
    lake.sql(spark, """
        MERGE INTO accounts USING star_updates AS s2 ON accounts.id = s2.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """)
    got = _rows(spark, lake)
    assert (1, "star", 111.0) in got and (7, "fresh", 7.0) in got


def test_reader_sessions_cannot_dml(spark, lake):
    with pytest.raises(PermissionError, match="reader"):
        lake.sql(spark, "DELETE FROM accounts", access_level="reader")
    # reads still work for readers
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM accounts", access_level="reader"
    ).first().n == 3


def test_follow_head_view_sees_dml_through_front_door(spark, lake):
    n0 = lake.sql(spark, "SELECT COUNT(*) AS n FROM accounts").first().n
    lake.sql(spark, "INSERT INTO accounts VALUES (42, 'open', 1.0)")
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM accounts"
    ).first().n == n0 + 1
    lake.sql(spark, "DELETE FROM accounts WHERE id = 42")
    # the memoized view refreshed through the executor's _commit — no
    # re-registration, same statement text
    assert spark.sql("SELECT COUNT(*) AS n FROM accounts").first().n == n0


def test_string_literals_survive_alias_rewrite_and_splitting(spark, lake):
    # a comma and an alias-looking prefix INSIDE a string literal must not
    # confuse the SET splitter or the alias rewriter
    lake.sql(
        spark,
        "UPDATE accounts SET status = 'a,b tgt. c''d' WHERE id = 1",
    )
    assert (1, "a,b tgt. c'd", 10.0) in _rows(spark, lake)


def test_merge_alias_collision_target_alias_names_source(spark, lake):
    # the legal alias choice `t` for the SOURCE must not re-capture the
    # target alias's rewrite output: with sequential substitution,
    # `x.` -> `t.` would then fall to the `t` -> `s` rule and every
    # target reference would silently become a source reference
    spark.createDataFrame(
        [(1, 5.0)], "id LONG, delta DOUBLE"
    ).createOrReplaceTempView("merge_src_t")
    lake.sql(
        spark,
        "MERGE INTO accounts AS x USING merge_src_t AS t ON x.id = t.id "
        "WHEN MATCHED THEN UPDATE SET balance = x.balance + t.delta",
    )
    assert (1, "open", 15.0) in _rows(spark, lake)
    spark.catalog.dropTempView("merge_src_t")


def test_merge_alias_collision_source_alias_names_target(spark, lake):
    # symmetric collision: the SOURCE aliased `s`, the target aliased `t`
    # — identity-ish mappings must not cascade either
    spark.createDataFrame(
        [(2, 7.0)], "id LONG, delta DOUBLE"
    ).createOrReplaceTempView("merge_src_u")
    lake.sql(
        spark,
        "MERGE INTO accounts AS s USING merge_src_u AS t ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET balance = s.balance - t.delta",
    )
    assert (2, "open", 13.0) in _rows(spark, lake)
    spark.catalog.dropTempView("merge_src_u")


def test_merge_when_prefix_identifier_does_not_split_clause():
    # an identifier beginning with 'when' in a top-level clause condition
    # must not split the WHEN list mid-condition
    from iceberg_quickstart_iac_spark.tables.sql_dml import (
        _parse_merge_clauses,
    )

    clauses = _parse_merge_clauses(
        "WHEN MATCHED AND when_created > 5 THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT (id) VALUES (s.id)",
        {},
    )
    assert clauses["when_matched"] == [
        {"condition": "when_created > 5", "action": "delete"}
    ]
    assert clauses["when_not_matched"][0]["action"] == "insert"


def test_qualified_table_names_through_dml(spark, lake):
    # the DDL side accepts [cat.][ns.]table; the DML side must match —
    # the reference's named queries address namespace.table
    lake.sql(spark, "INSERT INTO lakehouse.accounts VALUES (9, 'new', 90.0)")
    assert (9, "new", 90.0) in _rows(spark, lake)
    lake.sql(
        spark,
        "UPDATE cat.lakehouse.accounts SET balance = 91.0 WHERE id = 9",
    )
    assert (9, "new", 91.0) in _rows(spark, lake)
    spark.createDataFrame(
        [(9, 92.0)], "id LONG, b DOUBLE"
    ).createOrReplaceTempView("qual_src")
    lake.sql(
        spark,
        "MERGE INTO lakehouse.accounts AS a USING qual_src AS q "
        "ON a.id = q.id WHEN MATCHED THEN UPDATE SET balance = q.b",
    )
    assert (9, "new", 92.0) in _rows(spark, lake)
    lake.sql(spark, "DELETE FROM lakehouse.accounts WHERE id = 9")
    assert all(r[0] != 9 for r in _rows(spark, lake))
    spark.catalog.dropTempView("qual_src")


def test_wrong_namespace_rejected_loudly(spark, lake):
    with pytest.raises(ValueError, match="namespace"):
        lake.sql(spark, "DELETE FROM wrongns.accounts WHERE id = 1")
    with pytest.raises(ValueError, match="namespace"):
        lake.sql(spark, "INSERT INTO wrongns.accounts VALUES (8, 'x', 1.0)")


def test_non_dml_statements_unaffected(spark, lake):
    out = lake.sql(
        spark,
        "SELECT status, COUNT(*) AS n FROM accounts "
        "WHERE status <> 'insert into nothing' GROUP BY status",
    )
    assert {(r.status, r.n) for r in out.collect()} == {("open", 2), ("closed", 1)}


def test_unparseable_dml_raises_not_silently_reads(spark, lake):
    with pytest.raises(ValueError, match="DML"):
        lake.sql(spark, "DELETE accounts WHERE id = 1")  # missing FROM


def test_insert_overwrite_replaces_table_state(spark, lake):
    entry = lake.sql(
        spark, "INSERT OVERWRITE accounts SELECT 99, 'only', 9.9"
    )
    assert entry["operation"] == "overwrite"
    assert _rows(spark, lake) == {(99, "only", 9.9)}
    # time travel still serves the pre-overwrite state
    t = lake.table("accounts")
    snaps = [r["snapshot_id"] for r in t._entries()]
    assert t.read(spark, snapshot_id=snaps[-2]).count() == 3


def test_delete_mode_follows_table_property(spark, tmp_path):
    lh = Lakehouse(tmp_path / "mor_lake")
    t = lh.create_table({
        "name": "mor_acct", "namespace": "lakehouse",
        "columns": [
            {"name": "id", "type": "long", "required": True},
            {"name": "v", "type": "double"},
        ],
        "identifier_fields": ["id"],
        "properties": {"write.delete.mode": "merge-on-read"},
    })
    t.append(spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "id LONG, v DOUBLE"
    ))
    entry = lh.sql(spark, "DELETE FROM mor_acct WHERE id = 2")
    # merge-on-read: the commit carries an equality-delete dir, data
    # files untouched
    assert entry.get("delete_dirs"), entry
    assert {r.id for r in t.read(spark).collect()} == {1, 3}


def test_sql_script_runs_statements_in_order(spark, lake):
    out = lake.sql_script(spark, """
        INSERT INTO accounts VALUES (50, 'batch;semi', 5.0);
        UPDATE accounts SET balance = balance + 1.0 WHERE id = 50;
        SELECT status, balance FROM accounts WHERE id = 50;
    """)
    rows = out.collect()
    assert [(r.status, r.balance) for r in rows] == [("batch;semi", 6.0)]


def test_insert_parenthesized_source_is_not_a_column_list(spark, lake):
    # ANSI allows a parenthesized query as the INSERT source — it must
    # not parse as a column list
    lake.sql(spark, "INSERT INTO accounts (SELECT 60, 'paren', 6.0)")
    assert (60, "paren", 6.0) in _rows(spark, lake)
    # and a real column list still works right next to it
    lake.sql(spark, "INSERT INTO accounts (id, balance) (SELECT 61, 6.1)")
    assert (61, None, 6.1) in _rows(spark, lake)


def test_explain_passes_through_and_merge_cardinality_surfaces(spark, lake):
    # EXPLAIN is a read-path statement: lazy registration + spark.sql
    plan_rows = lake.sql(spark, "EXPLAIN SELECT COUNT(*) FROM accounts").collect()
    assert plan_rows and "Physical Plan" in plan_rows[0][0]
    # a target row matched by two source rows is non-deterministic — the
    # executor's MERGE_CARDINALITY_VIOLATION analog must surface through
    # the statement path, not be swallowed
    spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0)], "id LONG, status STRING, balance DOUBLE"
    ).createOrReplaceTempView("dup_src")
    with pytest.raises(ValueError, match="[Cc]ardinality|more than one"):
        lake.sql(spark, """
            MERGE INTO accounts USING dup_src AS d ON accounts.id = d.id
            WHEN MATCHED THEN UPDATE SET *
        """)


@pytest.mark.parametrize("statement, n_rows", [
    ("-- cleanup\nDELETE FROM accounts WHERE id = 1", 2),
    ("/* load */ INSERT INTO accounts VALUES (4, 'x', 1.0)", 4),
], ids=["delete", "insert"])
def test_leading_comment_keeps_dml_routing(spark, lake, statement, n_rows):
    lake.sql(spark, statement)
    assert len(_rows(spark, lake)) == n_rows


def test_leading_comment_keeps_ddl_and_call_routing(spark, lake):
    # a comment must not carry DDL past the front door's reader check
    # and into Spark's own catalog
    with pytest.raises(PermissionError):
        lake.sql(spark, "-- new\nCREATE TABLE sneaky (a INT)", "reader")
    assert lake.list_tables() == ["accounts"]
    assert "sneaky" not in {t.name for t in spark.catalog.listTables()}
    out = lake.sql(spark, "-- lineage\nCALL system.ancestors_of('accounts')")
    assert out.count() == 1


@pytest.mark.parametrize("script, v", [
    ("-- don't forget\nINSERT INTO accounts VALUES (4, 'open', 40.0);\n"
     "SELECT count(*) AS v FROM accounts", 4),
    ("SELECT 1 AS v; -- next; one\nSELECT 2 AS v", 2),
    ('SELECT 1 AS v; SELECT "a;b" AS v', "a;b"),
    ("SELECT 1 AS v; SELECT `it;s` AS v FROM (SELECT 7 AS `it;s`)", 7),
    ("SELECT 3 AS v; -- done", 3),
    ("SELECT 3 AS v; /* done; really */", 3),
    ('UPDATE accounts SET status = "a where b" WHERE id = 1;'
     "SELECT collect_list(id) AS v FROM accounts WHERE status = 'a where b'",
     [1]),
], ids=["apostrophe-in-comment", "semicolon-in-comment", "double-quoted",
        "backtick", "trailing-line-comment", "trailing-block-comment",
        "update-double-quoted-where"])
def test_sql_script_follows_spark_quotes_and_comments(spark, lake, script, v):
    """Splits and keyword searches skip Spark's comments, double-quoted
    strings and backtick identifiers; a piece that holds only a comment
    is dropped, never sent to Spark."""
    assert lake.sql_script(spark, script).collect()[0]["v"] == v
