"""MERGE INTO + CDC changelog apply (SnapTable.merge_into /
apply_changelog): the copy-on-write upsert path. Covers every clause
family (matched update/delete, not-matched insert, not-matched-by-source
update/delete), first-match-wins ordering, the '*' shorthands, typed
NULLs for unlisted insert columns, the cardinality-violation guard,
merge_stats in the snapshot summary, time travel across a merge, and
changelog sequence compaction."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.tables import SnapTable


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapTable.create(
        tmp_path / "mt",
        {
            "name": "accounts", "namespace": "lakehouse",
            "columns": [
                {"name": "id", "type": "long"},
                {"name": "status", "type": "string"},
                {"name": "amount", "type": "double"},
            ],
        },
    )
    t.append(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id LONG, status STRING, amount DOUBLE",
    ))
    return t


def rows(spark, t):
    return {
        r.id: (r.status, r.amount) for r in t.read(spark).collect()
    }


def test_merge_upsert_delete_insert(spark, table):
    src = spark.createDataFrame(
        [(2, "U", 99.0), (3, "D", 0.0), (4, "U", 40.0), (5, "D", 0.0)],
        "id LONG, op STRING, amount DOUBLE",
    )
    entry = table.merge_into(
        spark, src, "t.id = s.id",
        when_matched=[
            {"action": "delete", "condition": "s.op = 'D'"},
            {"action": "update", "set": {"amount": "s.amount", "status": "'upd'"}},
        ],
        when_not_matched=[
            {"action": "insert", "condition": "s.op <> 'D'",
             "values": {"id": "s.id", "status": "'new'", "amount": "s.amount"}},
        ],
    )
    assert entry["operation"] == "merge"
    assert entry["merge_stats"] == {
        "updated": 1, "inserted": 1, "deleted": 1, "unchanged": 1,
    }
    assert rows(spark, table) == {
        1: ("a", 10.0),      # untouched
        2: ("upd", 99.0),    # matched update
        4: ("new", 40.0),    # not-matched insert (5's D skipped)
    }


def test_merge_time_travel_keeps_premerge_state(spark, table):
    first = table._entries()[-1]
    src = spark.createDataFrame([(1, 111.0)], "id LONG, amount DOUBLE")
    table.merge_into(
        spark, src, "t.id = s.id",
        when_matched=[{"action": "update", "set": {"amount": "s.amount"}}],
    )
    assert rows(spark, table)[1] == ("a", 111.0)
    old = table.read(spark, snapshot_id=first["snapshot_id"])
    assert {r.id: r.amount for r in old.collect()}[1] == 10.0


def test_merge_first_match_wins(spark, table):
    # both clauses match id=2; the FIRST (update to 'x') must win
    src = spark.createDataFrame([(2,)], "id LONG")
    table.merge_into(
        spark, src, "t.id = s.id",
        when_matched=[
            {"action": "update", "set": {"status": "'x'"}},
            {"action": "delete"},
        ],
    )
    assert rows(spark, table)[2] == ("x", 20.0)


def test_merge_star_shorthands_and_typed_nulls(spark, table):
    src = spark.createDataFrame(
        [(3, "star", 333.0), (9, "ins", 90.0)],
        "id LONG, status STRING, amount DOUBLE",
    )
    table.merge_into(
        spark, src, "t.id = s.id",
        when_matched=[{"action": "update", "set": "*"}],
        when_not_matched=[{"action": "insert",
                           "values": {"id": "s.id", "status": "s.status"}}],
    )
    got = rows(spark, table)
    assert got[3] == ("star", 333.0)
    assert got[9][0] == "ins" and got[9][1] is None  # typed NULL for amount


def test_merge_not_matched_by_source(spark, table):
    src = spark.createDataFrame([(2,)], "id LONG")
    entry = table.merge_into(
        spark, src, "t.id = s.id",
        when_matched=[{"action": "update", "set": {"status": "'seen'"}}],
        when_not_matched_by_source=[
            {"action": "update", "condition": "t.amount > 25", "set": {"status": "'stale'"}},
            {"action": "delete"},
        ],
    )
    # 2 matched-updated; 3 (amount 30) by-source-updated; 1 by-source-deleted
    assert rows(spark, table) == {2: ("seen", 20.0), 3: ("stale", 30.0)}
    assert entry["merge_stats"]["deleted"] == 1
    assert entry["merge_stats"]["updated"] == 2


def test_merge_cardinality_violation_raises(spark, table):
    dup = spark.createDataFrame([(2, 1.0), (2, 2.0)], "id LONG, amount DOUBLE")
    with pytest.raises(ValueError, match="cardinality"):
        table.merge_into(
            spark, dup, "t.id = s.id",
            when_matched=[{"action": "update", "set": {"amount": "s.amount"}}],
        )
    # insert-only merges never consult target-match multiplicity
    ins_only = spark.createDataFrame(
        [(7, "n", 1.0), (7, "n", 1.0)], "id LONG, status STRING, amount DOUBLE"
    )
    table.merge_into(
        spark, ins_only, "t.id = s.id",
        when_not_matched=[{"action": "insert", "values": "*"}],
    )
    assert table.read(spark).filter("id = 7").count() == 2


def test_merge_rejects_bad_clauses(spark, table):
    src = spark.createDataFrame([(2,)], "id LONG")
    with pytest.raises(ValueError, match="WHEN clause"):
        table.merge_into(spark, src, "t.id = s.id")
    with pytest.raises(ValueError, match="unknown columns"):
        table.merge_into(
            spark, src, "t.id = s.id",
            when_matched=[{"action": "update", "set": {"nope": "1"}}],
        )
    with pytest.raises(ValueError, match="action"):
        table.merge_into(
            spark, src, "t.id = s.id",
            when_matched=[{"action": "insert", "values": {"id": "s.id"}}],
        )


def test_apply_changelog_compacts_by_seq(spark, table):
    changes = spark.createDataFrame(
        [
            # id=2: stale update (seq 1) then delete (seq 2) -> gone
            (2, "old", 0.0, "U", 1), (2, "old", 0.0, "D", 2),
            # id=3: two updates -> latest wins
            (3, "v1", 1.0, "U", 1), (3, "v2", 2.0, "U", 2),
            # id=8: insert then update -> upserts to latest image
            (8, "i1", 5.0, "I", 1), (8, "i2", 6.0, "U", 2),
            # id=9: delete for an absent key -> no-op
            (9, "x", 0.0, "D", 1),
        ],
        "id LONG, status STRING, amount DOUBLE, op STRING, seq INT",
    )
    entry = table.apply_changelog(
        spark, changes, key_cols=["id"], op_col="op", seq_col="seq"
    )
    assert entry["operation"] == "merge"
    assert rows(spark, table) == {
        1: ("a", 10.0),
        3: ("v2", 2.0),
        8: ("i2", 6.0),
    }


def test_apply_changelog_without_seq_raises_on_dup_key(spark, table):
    changes = spark.createDataFrame(
        [(2, "a", 1.0, "U"), (2, "b", 2.0, "U")],
        "id LONG, status STRING, amount DOUBLE, op STRING",
    )
    with pytest.raises(ValueError, match="cardinality"):
        table.apply_changelog(spark, changes, key_cols=["id"], op_col="op")


def test_apply_changelog_bad_key_rejected(spark, table):
    changes = spark.createDataFrame([(1, "U")], "id LONG, op STRING")
    with pytest.raises(ValueError, match="not table columns"):
        table.apply_changelog(spark, changes, key_cols=["nope"], op_col="op")


# -- idempotent writes: the txn ledger (Delta txnAppId/txnVersion) ----------


def _txn_table(tmp_path):
    return SnapTable.create(
        tmp_path / "txn",
        {
            "name": "txn_t", "namespace": "lakehouse",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "v", "type": "string"},
                {"name": "p", "type": "double"},
            ],
        },
    )


def test_txn_append_replay_is_skipped(spark, tmp_path):
    t = _txn_table(tmp_path)
    df = spark.createDataFrame([(1, "a", 1.0)], "k LONG, v STRING, p DOUBLE")
    t.append(df, txn=("writer-1", 0))
    t.append(df, txn=("writer-1", 0))  # crash-replay of the same batch
    assert t.read(spark).count() == 1
    assert t.last_txn_version("writer-1") == 0
    t.append(df, txn=("writer-1", 1))  # next batch applies
    assert t.read(spark).count() == 2
    # an unrelated writer's ledger is independent
    assert t.last_txn_version("other") is None
    t.append(df, txn=("other", 0))
    assert t.read(spark).count() == 3


def test_txn_merge_replay_is_skipped(spark, tmp_path):
    t = _txn_table(tmp_path)
    t.append(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k LONG, v STRING, p DOUBLE"))
    changes = spark.createDataFrame([(2, "b2", 4.0, "U"), (3, "c", 3.0, "I")],
                                    "k LONG, v STRING, p DOUBLE, op STRING")
    e1 = t.apply_changelog(spark, changes, key_cols=["k"], txn=("cdc", 7))
    n_snapshots = len(t._entries())
    e2 = t.apply_changelog(spark, changes, key_cols=["k"], txn=("cdc", 7))
    assert e2["snapshot_id"] == e1["snapshot_id"]
    assert len(t._entries()) == n_snapshots  # no new commit on replay
    rows = {r.k: (r.v, r.p) for r in t.read(spark).collect()}
    assert rows == {1: ("a", 1.0), 2: ("b2", 4.0), 3: ("c", 3.0)}


def test_merge_into_sql_renders_and_parses(spark, table):
    """The rendered MERGE must be syntactically valid Spark SQL (parse
    check, like the DDL tests: analysis fails locally without a real
    catalog table, but a ParseException would mean broken rendering)."""
    from pyspark.errors import ParseException

    sql = table.merge_into_sql(
        "updates_v",
        "t.id = s.id",
        when_matched=[
            {"action": "delete", "condition": "s.op = 'D'"},
            {"action": "update", "set": {"amount": "s.amount"}},
        ],
        when_not_matched=[{"action": "insert", "values": "*"}],
        when_not_matched_by_source=[
            {"action": "update", "set": {"status": "'stale'"}}
        ],
        table_fq="spark_catalog.lakehouse.accounts",
    )
    assert "WHEN MATCHED AND (s.op = 'D') THEN DELETE" in sql
    assert "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.status = 'stale'" in sql
    assert "THEN INSERT (id, status, amount) VALUES (s.id, s.status, s.amount)" in sql
    try:
        spark.sql(sql)
    except ParseException as exc:  # pragma: no cover
        raise AssertionError(f"rendered MERGE failed to parse:\n{sql}") from exc
    except Exception:
        pass  # analysis errors (no such table locally) are expected


def test_merge_into_sql_validates_clauses(table):
    with pytest.raises(ValueError, match="at least one WHEN clause"):
        table.merge_into_sql("v", "t.id = s.id")
    with pytest.raises(ValueError, match="unknown columns"):
        table.merge_into_sql(
            "v", "t.id = s.id",
            when_matched=[{"action": "update", "set": {"nope": "s.nope"}}],
        )


# -- merge-on-read CDC apply (Hudi-MoR upsert shape) ------------------------


def _mor_fixture(spark, tmp_path, name):
    t = SnapTable.create(
        tmp_path / name,
        {
            "name": name, "namespace": "lakehouse",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "v", "type": "string"},
                {"name": "p", "type": "double"},
            ],
        },
    )
    t.append(spark.createDataFrame(
        [(i, "base", float(i)) for i in range(10)], "k LONG, v STRING, p DOUBLE"
    ))
    return t


def test_mor_changelog_equals_cow_across_batches(spark, tmp_path):
    cow = _mor_fixture(spark, tmp_path, "cow")
    mor = _mor_fixture(spark, tmp_path, "mor")
    batches = [
        [(2, "up", 20.0, "U"), (3, None, None, "D"), (100, "new", 1.0, "I")],
        [(2, "up2", 22.0, "U"), (100, None, None, "D"), (5, "x", 5.5, "U")],
    ]
    for rows in batches:
        ch = spark.createDataFrame(rows, "k LONG, v STRING, p DOUBLE, op STRING")
        cow.apply_changelog(spark, ch, key_cols=["k"])
        mor.apply_changelog(spark, ch, key_cols=["k"], mode="mor")
        assert sorted(tuple(r) for r in cow.read(spark).collect()) == sorted(
            tuple(r) for r in mor.read(spark).collect()
        )
    # write amplification: every MoR commit added exactly ONE data dir
    # (the new images), never rewrote the table
    dirs_per_entry = [len(e["data_dirs"]) for e in mor._entries()]
    assert dirs_per_entry == [1, 2, 3]
    assert mor._entries()[-1]["merge_stats"]["mode"] == "mor"


def test_mor_changelog_sequence_scoping_and_time_travel(spark, tmp_path):
    t = _mor_fixture(spark, tmp_path, "seq")
    pre = t._entries()[-1]["snapshot_id"]
    ch = spark.createDataFrame(
        [(2, "up", 20.0, "U")], "k LONG, v STRING, p DOUBLE, op STRING"
    )
    t.apply_changelog(spark, ch, key_cols=["k"], mode="mor")
    # the delete file must erase the OLD image only — not the new one
    rows = {r.k: r.v for r in t.read(spark).collect()}
    assert rows[2] == "up" and len(rows) == 10
    # time travel before the upsert serves the original image
    old = {r.k: r.v for r in t.read(spark, snapshot_id=pre).collect()}
    assert old[2] == "base"
    # compact folds delete files away; state unchanged
    t.compact(spark)
    assert {r.k: r.v for r in t.read(spark).collect()} == rows


def test_mor_changelog_txn_replay_skipped(spark, tmp_path):
    t = _mor_fixture(spark, tmp_path, "txn_mor")
    ch = spark.createDataFrame(
        [(2, "up", 20.0, "U")], "k LONG, v STRING, p DOUBLE, op STRING"
    )
    e1 = t.apply_changelog(spark, ch, key_cols=["k"], mode="mor", txn=("w", 3))
    n = len(t._entries())
    e2 = t.apply_changelog(spark, ch, key_cols=["k"], mode="mor", txn=("w", 3))
    assert e2["snapshot_id"] == e1["snapshot_id"] and len(t._entries()) == n


def test_mor_changelog_without_seq_raises_on_dup_key(spark, tmp_path):
    """A MoR batch that repeats a key is the COW cardinality violation: it
    raises, commits nothing and leaves no dir (it used to commit two live
    rows for the key)."""
    import os

    t = _mor_fixture(spark, tmp_path, "dup_mor")
    head, dirs = t.current_snapshot(), sorted(os.listdir(t.data_dir))
    ch = spark.createDataFrame(
        [(1, "a", 1.0, "U"), (1, "b", 2.0, "U"), (2, "c", 3.0, "U")],
        "k LONG, v STRING, p DOUBLE, op STRING",
    )
    with pytest.raises(ValueError, match="cardinality"):
        t.apply_changelog(spark, ch, key_cols=["k"], mode="mor")
    assert t.current_snapshot() == head
    assert sorted(os.listdir(t.data_dir)) == dirs
    assert t.read(spark).filter("k = 1").count() == 1
