"""SQL CALL front door (round 10): Iceberg-style stored procedures
(CALL system.expire_snapshots / rewrite_data_files / rollback / … —
the public spark-procedures surface the reference's operations runbook
drives) routed through Lakehouse.sql to the SnapTable maintenance
methods."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.tables import Lakehouse
from iceberg_quickstart_iac_spark.tables.sql_call import parse_call


@pytest.fixture()
def lake(tmp_path):
    return Lakehouse(tmp_path / "call_lake")


def _seeded(spark, lake, name="calls_t"):
    lake.sql(spark, f"CREATE TABLE {name} (k BIGINT NOT NULL, v DOUBLE)")
    for lo in (0, 10, 20):
        lake.sql(
            spark,
            f"INSERT INTO {name} SELECT id AS k, CAST(id AS DOUBLE) AS v "
            f"FROM range({lo}, {lo + 10})",
        )
    return lake.table(name)


# ---------------------------------------------------------------- parsing


def test_parse_named_and_positional_and_timestamp():
    proc, args = parse_call(
        "CALL lakehouse.system.expire_snapshots(table => 'ns.t', "
        "older_than => TIMESTAMP '2026-01-02T03:04:05+00:00')"
    )
    assert proc == "expire_snapshots"
    assert args["table"] == "ns.t"
    assert args["older_than"] == 1767323045000
    proc, args = parse_call("CALL system.ancestors_of('t')")
    assert (proc, args) == ("ancestors_of", {"table": "t"})
    # positional after named mixing is rejected
    with pytest.raises(ValueError, match="positional argument after"):
        parse_call("CALL system.expire_snapshots(table => 't', 5)")


def test_parse_rejects_unknown_procedure_and_shapes():
    with pytest.raises(ValueError, match="unknown procedure"):
        parse_call("CALL system.migrate(table => 't')")
    with pytest.raises(ValueError, match="unparseable"):
        parse_call("CALL expire_snapshots(table => 't')")
    with pytest.raises(ValueError, match="missing required argument"):
        parse_call("CALL system.rewrite_data_files(strategy => 'binpack')")
    # a quoted string argument containing CALL-ish text stays a literal
    proc, args = parse_call(
        "CALL system.rewrite_data_files(table => 't', "
        "where => 'k >= 5 AND k < 7')"
    )
    assert args["where"] == "k >= 5 AND k < 7"


def test_where_filters_split_on_top_level_and_only():
    from iceberg_quickstart_iac_spark.tables.sql_call import (
        _parse_where_filters,
    )

    assert _parse_where_filters("region = 'a and b'") == [
        ("region", "=", "a and b")
    ]
    assert _parse_where_filters("k >= 5 AND region = 'x AND y'") == [
        ("k", ">=", 5), ("region", "=", "x AND y"),
    ]


# ------------------------------------------------------------- procedures


def test_rewrite_data_files_compacts(spark, lake):
    t = _seeded(spark, lake)
    files_before = t.current_snapshot()["file_count"]
    out = lake.sql(
        spark, "CALL system.rewrite_data_files(table => 'calls_t')"
    )
    row = out.first()
    assert row.rewritten_data_files_count == files_before
    assert row.added_data_files_count <= files_before
    assert t.current_snapshot()["operation"] == "compact"
    # data unchanged through the front door
    n = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n
    assert n == 30


def test_rollback_ancestors_expire_chain(spark, lake):
    t = _seeded(spark, lake)
    anc = lake.sql(spark, "CALL system.ancestors_of('calls_t')")
    rows = anc.collect()
    assert [r.sequence for r in rows] == [2, 1, 0]
    assert rows[0].operation == "append"
    # roll back to the first insert (sequence 0): 10 rows again
    first_sid = rows[-1].snapshot_id
    rb = lake.sql(
        spark,
        f"CALL system.rollback_to_snapshot(table => 'calls_t', "
        f"snapshot_id => '{first_sid}')",
    ).first()
    assert rb.previous_snapshot_id == rows[0].snapshot_id
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 10
    # the rollback is itself a commit in the lineage
    assert t.current_snapshot()["operation"] == "rollback"
    # expire everything but the head
    n_del = lake.sql(
        spark,
        "CALL system.expire_snapshots(table => 'calls_t', max_age_ms => 0)",
    ).first().deleted_snapshots_count
    assert n_del == 3
    assert len(t._entries()) == 1
    # rollback target data survives (head re-references it)
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 10


def test_rollback_to_timestamp(spark, lake):
    t = _seeded(spark, lake)
    entries = t._entries()
    # timestamp of the 2nd commit → rolls back to it (20 rows)
    ts = entries[1]["committed_at_ms"]
    lake.sql(
        spark,
        f"CALL system.rollback_to_timestamp(table => 'calls_t', "
        f"timestamp => {ts})",
    )
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 20


def test_remove_orphan_files(spark, lake):
    t = _seeded(spark, lake)
    # plant an orphan directory the way a crashed write leaves one
    orphan = t.data_dir / "zz-orphan-dir"
    orphan.mkdir()
    (orphan / "part-0.parquet").write_bytes(b"not really parquet")
    out = lake.sql(
        spark,
        "CALL system.remove_orphan_files(table => 'calls_t', "
        "older_than => 99999999999999)",
    )
    assert [r.orphan_location for r in out.collect()] == ["zz-orphan-dir"]
    assert not orphan.exists()
    # referenced dirs all survive
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 30


def test_rewrite_position_delete_files(spark, lake):
    # MoR equality deletes key on identifier fields — declare them
    t = lake.create_table(
        {
            "name": "calls_t",
            "namespace": "default",
            "identifier_fields": ["k"],
            "columns": [
                {"name": "k", "type": "long", "required": True},
                {"name": "v", "type": "double"},
            ],
        }
    )
    for lo in (0, 10, 20):
        lake.sql(
            spark,
            "INSERT INTO calls_t SELECT id AS k, CAST(id AS DOUBLE) AS v "
            f"FROM range({lo}, {lo + 10})",
        )
    t.delete_where(spark, "k = 1", mode="mor")
    t.delete_where(spark, "k = 2", mode="mor")
    out = lake.sql(
        spark,
        "CALL system.rewrite_position_delete_files(table => 'calls_t')",
    ).first()
    assert out.rewritten_delete_files_count == 2
    assert out.added_delete_files_count == 1
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 28


def test_create_changelog_view(spark, lake):
    t = _seeded(spark, lake)
    frm = t._entries()[0]["snapshot_id"]
    out = lake.sql(
        spark,
        f"CALL system.create_changelog_view(table => 'calls_t', "
        f"from_snapshot_id => '{frm}', view => 'calls_cdc')",
    ).first()
    assert out.changelog_view == "calls_cdc__changes"
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM calls_cdc__changes"
    ).first().n
    assert n == 20  # the two later inserts
    spark.catalog.dropTempView("calls_cdc__changes")


def test_zorder_strategy_routes(spark, lake):
    t = _seeded(spark, lake)
    lake.sql(
        spark,
        "CALL system.rewrite_data_files(table => 'calls_t', "
        "strategy => 'sort', sort_order => 'zorder(k, v)')",
    )
    assert t.current_snapshot()["operation"] == "compact"
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM calls_t"
    ).first().n == 30


# ------------------------------------------------------------- governance


def test_access_levels(spark, lake):
    _seeded(spark, lake)
    with pytest.raises(PermissionError, match="requires admin"):
        lake.sql(
            spark,
            "CALL system.expire_snapshots(table => 'calls_t')",
            access_level="writer",
        )
    with pytest.raises(PermissionError, match="requires writer"):
        lake.sql(
            spark,
            "CALL system.rewrite_data_files(table => 'calls_t')",
            access_level="reader",
        )
    # read surfaces are open to readers
    assert lake.sql(
        spark,
        "CALL system.ancestors_of('calls_t')",
        access_level="reader",
    ).count() == 3


def test_call_rejected_on_branch(spark, lake):
    _seeded(spark, lake)
    br = lake.create_branch("maint")
    with pytest.raises(RuntimeError, match="main catalog"):
        br.sql(spark, "CALL system.expire_snapshots(table => 'calls_t')")


def test_namespace_validation(spark, lake):
    _seeded(spark, lake)
    with pytest.raises(ValueError, match="namespace"):
        lake.sql(
            spark, "CALL system.ancestors_of('wrong_ns.calls_t')"
        )
    # the declared namespace passes
    ns = lake.table("calls_t").meta.get("namespace")
    assert lake.sql(
        spark, f"CALL system.ancestors_of('{ns}.calls_t')"
    ).count() == 3


def test_fast_forward_publishes_branch(spark, lake):
    t = _seeded(spark, lake)
    br = t.create_branch("wap")
    br.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                        "FROM range(100, 105)"))
    # main untouched while staged
    assert t.read(spark).count() == 30
    out = lake.sql(
        spark,
        "CALL system.fast_forward(table => 'calls_t', branch => 'main', "
        "to => 'wap')",
    ).first()
    assert out.branch_updated == "main"
    assert out.previous_ref != out.updated_ref
    assert t.read(spark).count() == 35
    # only main can be advanced
    with pytest.raises(ValueError, match="only 'main'"):
        lake.sql(
            spark,
            "CALL system.fast_forward(table => 'calls_t', "
            "branch => 'wap', to => 'main')",
        )


def test_rewrite_data_files_where_scopes_to_partition(spark, lake):
    lake.sql(spark, """
        CREATE TABLE callsp (k BIGINT, cat STRING)
        PARTITIONED BY (cat)
    """)
    for i in range(2):  # two commits -> multiple files per partition
        lake.sql(
            spark,
            f"INSERT INTO callsp SELECT id + {i * 100} AS k, "
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat "
            "FROM range(0, 20)",
        )
    t = lake.table("callsp")
    from iceberg_quickstart_iac_spark.tables.snapstore import (
        _list_data_files,
    )

    def _part_files(snap, frag):
        return sum(
            1
            for d in snap["data_dirs"]
            for f in _list_data_files(t.data_dir / d)
            if frag in str(f)
        )

    before = t.current_snapshot()
    files_a_before = _part_files(before, "cat=a")
    out = lake.sql(
        spark,
        "CALL system.rewrite_data_files(table => 'callsp', "
        "where => 'cat = ''a''')",
    ).first()
    after = t.current_snapshot()
    assert after["operation"] == "compact"
    # scoped procedure output: ONLY the files the rewrite touched —
    # never the table-wide totals (partition b's files are not counted)
    assert out.rewritten_data_files_count == files_a_before
    assert out.rewritten_data_files_count < before["file_count"]
    assert out.added_data_files_count == _part_files(after, "cat=a")
    # rows intact in both partitions
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM callsp"
    ).first().n == 40


def test_cherrypick_snapshot_recovers_good_commit_after_rollback(
    spark, lake
):
    t = _seeded(spark, lake)  # commits 0,1,2 (10 rows each)
    entries = t._entries()
    # "bad" commit = seq 1; roll back to seq 0, then cherry-pick seq 2
    lake.sql(
        spark,
        f"CALL system.rollback_to_snapshot(table => 'calls_t', "
        f"snapshot_id => '{entries[0]['snapshot_id']}')",
    )
    assert t.read(spark).count() == 10
    out = lake.sql(
        spark,
        f"CALL system.cherrypick_snapshot(table => 'calls_t', "
        f"snapshot_id => '{entries[2]['snapshot_id']}')",
    ).first()
    assert out.source_snapshot_id == entries[2]["snapshot_id"]
    # head = seq-0 rows + seq-2's delta; the bad middle commit stays out
    rows = {r.k for r in t.read(spark).select("k").collect()}
    assert rows == set(range(0, 10)) | set(range(20, 30))
    # cherry-picking something already referenced is a no-op
    head_before = t.current_snapshot()["snapshot_id"]
    lake.sql(
        spark,
        f"CALL system.cherrypick_snapshot(table => 'calls_t', "
        f"snapshot_id => '{entries[2]['snapshot_id']}')",
    )
    assert t.current_snapshot()["snapshot_id"] == head_before
    # non-append snapshots are rejected loudly
    t.delete_where(spark, "k = 5")
    bad = t.current_snapshot()["snapshot_id"]
    with pytest.raises(ValueError, match="only append"):
        lake.sql(
            spark,
            f"CALL system.cherrypick_snapshot(table => 'calls_t', "
            f"snapshot_id => '{bad}')",
        )


def test_cherrypick_of_rewrite_absorbed_append_is_noop(spark, lake):
    """An append whose delta a later rewrite_data_files absorbed has no
    dirs in the head, but its ROWS are there — cherry-picking it must be
    a no-op (rewrite lineage walk), never a duplicate re-append."""
    t = _seeded(spark, lake)  # commits 0,1,2 (10 rows each)
    target_entry = t._entries()[1]
    target = target_entry["snapshot_id"]
    lake.sql(
        spark, "CALL system.rewrite_data_files(table => 'calls_t')"
    )
    head_before = t.current_snapshot()
    # the target's dirs are gone from the head, absorbed into the
    # compact dir — the directory-membership check alone would re-append
    assert not set(target_entry["data_dirs"]) & set(
        head_before["data_dirs"]
    )
    lake.sql(
        spark,
        f"CALL system.cherrypick_snapshot(table => 'calls_t', "
        f"snapshot_id => '{target}')",
    )
    after = t.current_snapshot()
    assert after["snapshot_id"] == head_before["snapshot_id"]
    assert t.read(spark).count() == 30  # no duplicated rows
    # …and a rollback PAST the rewrite makes the same target
    # cherry-pickable again (its rows left the head lineage)
    entries = t._entries()
    lake.sql(
        spark,
        f"CALL system.rollback_to_snapshot(table => 'calls_t', "
        f"snapshot_id => '{entries[0]['snapshot_id']}')",
    )
    lake.sql(
        spark,
        f"CALL system.cherrypick_snapshot(table => 'calls_t', "
        f"snapshot_id => '{target}')",
    )
    cur = t.current_snapshot()
    rows = {r.k for r in t.read(spark).select("k").collect()}
    assert rows == set(range(0, 20))
    # metadata deltas come from the re-referenced dirs' footers
    assert cur["row_count"] == 20
    assert t.read(spark).count() == 20
