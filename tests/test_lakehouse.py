"""Catalog-level branching (Nessie semantics lifted to the lakehouse):
branch the whole catalog, touch some tables in isolation, publish
all-or-validate-first, or drop the branch leaving main untouched."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.tables import Lakehouse, SnapTable
from iceberg_quickstart_iac_spark.tables.snapstore import CommitConflictError


def _tpl(name):
    return {
        "name": name, "namespace": "lakehouse",
        "columns": [{"name": "k", "type": "long"}, {"name": "v", "type": "string"}],
    }


def _count_registers(monkeypatch) -> list:
    """Record the view name of every ``SnapTable.register`` call."""
    calls = []
    real_register = SnapTable.register

    def counting_register(self, *args, **kwargs):
        calls.append(kwargs.get("name"))
        return real_register(self, *args, **kwargs)

    monkeypatch.setattr(SnapTable, "register", counting_register)
    return calls


@pytest.fixture()
def lake(spark, tmp_path):
    lh = Lakehouse(tmp_path / "lake")
    for n in ("a", "b", "c"):
        t = lh.create_table(_tpl(n))
        t.append(spark.createDataFrame([(1, n)], "k LONG, v STRING"))
    return lh


def test_catalog_branch_isolates_and_merges(spark, lake):
    br = lake.create_branch("migration")
    assert lake.list_branches() == ["migration"]
    # touch two of three tables on the branch
    br.table("a").append(spark.createDataFrame([(2, "a2")], "k LONG, v STRING"))
    br.table("b").evolve_add_column("note", "string")
    br.table("b").append(
        spark.createDataFrame([(2, "b2", "x")], "k LONG, v STRING, note STRING")
    )
    # laziness: untouched table has no per-table branch
    assert br._touched() == ["a", "b"]
    # main unaffected
    assert lake.table("a").read(spark).count() == 1
    assert "note" not in [c["name"] for c in lake.table("b").meta["columns"]]
    # publish: both tables land, branch refs are gone
    out = br.merge()
    assert sorted(out["merged_tables"]) == ["a", "b"]
    assert lake.table("a").read(spark).count() == 2
    assert lake.table("b").read(spark).filter("note = 'x'").count() == 1
    assert lake.list_branches() == []
    assert lake.table("a").list_branches() == []


def test_catalog_branch_validation_blocks_whole_publish(spark, lake):
    br = lake.create_branch("risky")
    br.table("a").append(spark.createDataFrame([(2, "a2")], "k LONG, v STRING"))
    # conflict on b: branch evolves schema AND main evolves schema
    br.table("b").evolve_add_column("x", "string")
    lake.table("b").evolve_add_column("y", "string")
    with pytest.raises(CommitConflictError, match="nothing was merged"):
        br.merge()
    # validation-first: table a did NOT land on main
    assert lake.table("a").read(spark).count() == 1
    # the branch survives for manual resolution
    assert lake.list_branches() == ["risky"]
    assert br.table("a").read(spark).count() == 2


def test_catalog_branch_validation_uses_merge_branch_rule(spark, lake):
    """Publishing validates with the rule merge_branch enforces: a main
    that moved by a rewrite (here a compaction of ``b``) blocks the whole
    publish before ``a`` lands."""
    br = lake.create_branch("moved")
    for n in ("a", "b"):
        br.table(n).append(spark.createDataFrame([(2, n)], "k LONG, v STRING"))
    lake.table("b").compact(spark)
    with pytest.raises(CommitConflictError, match="nothing was merged"):
        br.merge()
    assert sorted(r.k for r in lake.table("a").read(spark).collect()) == [1]
    assert lake.list_branches() == ["moved"]


def test_catalog_branch_delete_abandons_cleanly(spark, lake):
    br = lake.create_branch("wap")
    br.table("a").append(spark.createDataFrame([(9, "bad")], "k LONG, v STRING"))
    br.delete()
    assert lake.list_branches() == []
    assert lake.table("a").list_branches() == []
    assert lake.table("a").read(spark).count() == 1


def test_lakehouse_table_registry(lake, tmp_path):
    assert lake.list_tables() == ["a", "b", "c"]
    with pytest.raises(ValueError, match="already exists"):
        lake.create_table(_tpl("a"))
    with pytest.raises(Exception):
        lake.table("nope")
    with pytest.raises(ValueError, match="No catalog branch"):
        lake.branch("ghost")


def test_catalog_merge_retries_per_table_conflicts(spark, lake, monkeypatch):
    """A transient CommitConflictError mid-loop (a main writer racing
    into the merge window) is retried per table instead of aborting with
    earlier tables already published."""
    br = lake.create_branch("racy")
    for n in ("a", "b"):
        br.table(n).append(spark.createDataFrame([(9, n)], "k LONG, v STRING"))
    flaked = {}
    orig = SnapTable.merge_branch

    def flaky(self, name):
        if self.fq_name not in flaked:
            flaked[self.fq_name] = True
            raise CommitConflictError("simulated slot race")
        return orig(self, name)

    monkeypatch.setattr(SnapTable, "merge_branch", flaky)
    out = br.merge()
    assert sorted(out["merged_tables"]) == ["a", "b"]
    assert len(flaked) == 2  # each table failed once, then merged
    assert lake.table("a").read(spark).count() == 2
    assert lake.table("b").read(spark).count() == 2


def test_catalog_merge_survives_concurrent_main_writer(spark, lake):
    """Race a real main appender into the merge loop: append-only
    branches commute, so the publish must finish with ALL touched tables
    merged and the racer's rows intact."""
    import threading

    br = lake.create_branch("race2")
    for n in ("a", "b", "c"):
        br.table(n).append(spark.createDataFrame([(10, n)], "k LONG, v STRING"))
    stop = threading.Event()
    errs = []

    def writer():
        i = 0
        while not stop.is_set() and i < 30:
            try:
                lake.table("abc"[i % 3]).append(
                    spark.createDataFrame([(100 + i, "w")], "k LONG, v STRING")
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)
                return
            i += 1

    th = threading.Thread(target=writer)
    th.start()
    try:
        out = br.merge()
    finally:
        stop.set()
        th.join()
    assert not errs
    assert sorted(out["merged_tables"]) == ["a", "b", "c"]
    for n in ("a", "b", "c"):
        vals = {r.k for r in lake.table(n).read(spark).collect()}
        assert 10 in vals and 1 in vals  # branch row + original row


def test_maintain_all_sweeps_catalog(spark, lake, tmp_path):
    """Catalog-wide maintenance: only tables whose debt trips a
    threshold act; clean tables no-op; reports keyed by table."""
    # give table "a" identifier fields + a MoR delete backlog
    meta = lake.table("a").meta
    meta["identifier_fields"] = ["k"]
    lake.table("a")._write_meta(meta)
    ta = lake.table("a")
    ta.append(spark.createDataFrame(
        [(i, "x") for i in range(10, 16)], "k LONG, v STRING"
    ))
    ta.delete_where(spark, "k = 10", mode="mor")
    ta.delete_where(spark, "k = 11", mode="mor")
    reports = lake.maintain_all(spark, max_delete_files=2, max_delete_ratio=0.9)
    assert set(reports) == {"a", "b", "c"}
    assert reports["a"]["action"] == "rewrite_deletes"
    assert reports["b"]["action"] == "none" and reports["c"]["action"] == "none"
    assert len(lake.table("a").current_snapshot()["delete_dirs"]) == 1
    got = sorted(r.k for r in lake.table("a").read(spark).collect())
    assert got == [1, 12, 13, 14, 15]


def test_catalog_merge_converges_when_main_moves_between_validate_and_merge(
    spark, lake, monkeypatch
):
    """The exact race window: validation passes, then a
    main writer commits BEFORE the merge loop reaches the table and the
    first merge attempt loses its commit race. The retry must re-base and
    converge with both the racer's row and the branch rows on main."""
    br = lake.create_branch("window")
    br.table("a").append(spark.createDataFrame([(20, "br")], "k LONG, v STRING"))
    orig = SnapTable.merge_branch
    calls = {"n": 0}

    def racing(self, name):
        calls["n"] += 1
        if calls["n"] == 1:
            # main moves inside the post-validate window, and our first
            # commit attempt loses the slot race to it
            lake.table("a").append(
                spark.createDataFrame([(21, "main")], "k LONG, v STRING")
            )
            raise CommitConflictError("lost sequence slot (injected)")
        return orig(self, name)

    monkeypatch.setattr(SnapTable, "merge_branch", racing)
    out = br.merge()
    assert out["merged_tables"].keys() == {"a"}
    assert calls["n"] == 2
    got = sorted((r.k, r.v) for r in lake.table("a").read(spark).collect())
    assert got == [(1, "a"), (20, "br"), (21, "main")]


def test_maintain_all_with_retention_and_orphan_sweep(spark, lake):
    """The runbook's composed weekly job: MoR policy + retention +
    orphan removal in one catalog call."""
    ta = lake.table("a")
    ta.append(spark.createDataFrame([(2, "x")], "k LONG, v STRING"))
    # plant crash debris: a data dir referenced by no snapshot
    (ta.data_dir / "deadbeefcafe").mkdir()
    (ta.data_dir / "deadbeefcafe" / "junk.parquet").write_text("x")
    reports = lake.maintain_all(
        spark, remove_orphans=True, orphan_grace_ms=0
    )
    assert reports["a"]["orphans_removed"] == 1
    assert not (ta.data_dir / "deadbeefcafe").exists()
    # retention composes into the same sweep (nothing old enough here)
    reports = lake.maintain_all(spark, expire=True)
    assert reports["a"]["expired_snapshots"] == 0
    assert lake.table("a").read(spark).count() == 2


def test_lakehouse_sql_registers_lazily_and_follows_head(spark, lake):
    """The catalog-scale front door: sql() registers ONLY the referenced
    tables (O(statement), not O(catalog)), memoizes, and the views follow
    the head across later commits."""
    # fresh view namespace for this test
    for n in ("a", "b", "c"):
        spark.catalog.dropTempView(n)
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
    # only `a` registered — the other catalog tables were never touched
    views = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert "a" in views and "b" not in views and "c" not in views
    assert "a__files" not in views  # metadata unpaid unless referenced
    # follow-head: a later commit is visible to the SAME statement with
    # no re-registration
    lake.table("a").append(
        spark.createDataFrame([(2, "x")], "k LONG, v STRING")
    )
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    # metadata views register on first actual reference
    out = lake.sql(
        spark,
        "SELECT (SELECT COUNT(*) FROM b__snapshots) AS s, COUNT(*) AS n FROM b",
    ).first()
    assert (out.s, out.n) == (1, 1)
    views = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert "b__snapshots" in views and "c" not in views


def test_lakehouse_sql_respects_access_level(spark, lake, tmp_path):
    lh = Lakehouse(tmp_path / "lake2")
    t = lh.create_table({
        "name": "gov", "namespace": "lakehouse",
        "columns": [
            {"name": "k", "type": "long"},
            {"name": "pii", "type": "string", "access_level": "restricted"},
        ],
    })
    t.append(spark.createDataFrame([(1, "x")], "k LONG, pii STRING"))
    out = lh.sql(spark, "SELECT * FROM gov", access_level="reader")
    assert out.columns == ["k"]


def test_named_queries_run_through_lazy_front_door(spark, lake):
    """The reference's Athena named-query set runs against the catalog
    with ZERO manual registration: Lakehouse.sql sees the metadata-view
    token in the rendered statement and registers table + views lazily."""
    from iceberg_quickstart_iac_spark.templates.ddl import named_queries

    spark.catalog.dropTempView("b")
    spark.catalog.dropTempView("b__snapshots")
    nq = named_queries(_tpl("b"))
    rows = lake.sql(spark, nq["snapshot-history-b"]).collect()
    assert len(rows) == 1 and rows[0].operation == "append"


def test_lakehouse_sql_recovers_from_stale_memo(spark, lake):
    """A view dropped behind the memo's back (manual unregister, another
    session) must not poison sql() forever — it forgets and re-registers
    once."""
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM c").first().n == 1
    lake.table("c").unregister(spark, "c")
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM c").first().n == 1


def test_lakehouse_sql_sees_other_process_commits(spark, lake):
    """The memo pins the head SEQUENCE via a filename-only probe, so a
    commit this process's follow-head registry never saw (another
    writer process) still re-registers on the next statement."""
    from iceberg_quickstart_iac_spark.tables import snapstore

    n0 = lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n
    # simulate the other-process commit: the on-disk log moves but OUR
    # follow-head registry never fires
    snapstore._HEAD_REGISTRATIONS.clear()
    lake.table("a").append(
        spark.createDataFrame([(99, "ext")], "k LONG, v STRING")
    )
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == n0 + 1


def test_lakehouse_sql_serves_declared_empty_for_uncommitted_table(spark, lake):
    """A created-but-never-committed table referenced through sql() serves
    its DECLARED schema with 0 rows (standard SQL semantics), not an opaque
    TABLE_OR_VIEW_NOT_FOUND after a pointless memo-recovery retry; its
    metadata views (which need a snapshot) raise descriptively."""
    from iceberg_quickstart_iac_spark.tables.snapstore import TableNotFoundError

    lake.create_table(_tpl("fresh"))
    out = lake.sql(spark, "SELECT * FROM fresh")
    assert out.columns == ["k", "v"] and out.count() == 0
    # governance applies to the empty view too
    lake2 = Lakehouse(lake.root)
    lake2.create_table({
        "name": "freshgov", "namespace": "lakehouse",
        "columns": [
            {"name": "k", "type": "long"},
            {"name": "pii", "type": "string", "access_level": "restricted"},
        ],
    })
    gov = lake2.sql(spark, "SELECT * FROM freshgov", access_level="reader")
    assert gov.columns == ["k"] and gov.count() == 0
    # the head probe flips the memo on the first commit (None -> 0)
    lake.table("fresh").append(
        spark.createDataFrame([(1, "x")], "k LONG, v STRING")
    )
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM fresh").first().n == 1
    # metadata views only exist after the first commit — descriptive raise
    lake.create_table(_tpl("fresh2"))
    with pytest.raises(TableNotFoundError, match="no commits yet"):
        lake.sql(spark, "SELECT * FROM fresh2__snapshots")


def test_sql_time_travel_clause_rewrites_to_pinned_views(spark, lake):
    """Spark's native time-travel syntax runs through the front door:
    FOR [SYSTEM_]VERSION AS OF <snapshot-id|tag|sequence> and
    FOR [SYSTEM_]TIMESTAMP AS OF <iso|epoch-ms> rewrite to pinned
    registered views, so Athena-style named-query texts run verbatim."""
    import time as _time

    t = lake.table("a")
    v1 = t.current_snapshot()["snapshot_id"]
    ms_after_v1 = t.current_snapshot()["committed_at_ms"] + 1
    _time.sleep(0.002)
    t.append(spark.createDataFrame([(5, "later")], "k LONG, v STRING"))
    t.create_tag("prepublish", snapshot_id=v1)

    n_now = lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n
    # snapshot id (string)
    assert lake.sql(
        spark, f"SELECT COUNT(*) AS n FROM a FOR VERSION AS OF '{v1}'"
    ).first().n == n_now - 1
    # tag name
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM a FOR SYSTEM_VERSION AS OF 'prepublish'"
    ).first().n == n_now - 1
    # integer commit sequence (v1 was the first commit = sequence 0)
    assert lake.sql(
        spark, "SELECT COUNT(*) AS n FROM a FOR VERSION AS OF 0"
    ).first().n == n_now - 1
    # epoch-ms timestamp between the commits
    assert lake.sql(
        spark, f"SELECT COUNT(*) AS n FROM a FOR TIMESTAMP AS OF {ms_after_v1}"
    ).first().n == n_now - 1
    # one statement mixing the head and an as-of view (the audit shape)
    row = lake.sql(spark, f"""
        SELECT (SELECT COUNT(*) FROM a) AS n_now,
               (SELECT COUNT(*) FROM a FOR VERSION AS OF '{v1}') AS n_v1
    """).first()
    assert (row.n_now, row.n_v1) == (n_now, n_now - 1)
    # unknown sequence raises descriptively
    with pytest.raises(ValueError, match="no commit with that sequence"):
        lake.sql(spark, "SELECT * FROM a FOR VERSION AS OF 99")
    # a non-catalog name keeps the clause (Spark raises, we don't mangle)
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        lake.sql(spark, "SELECT * FROM not_ours FOR VERSION AS OF 1")


def test_sql_time_travel_string_and_integer_versions_pin_apart(spark, lake):
    """FOR VERSION AS OF '1' reads the tag named '1'; FOR VERSION AS OF 1
    reads commit sequence 1 — two pins, never one memo for both."""
    t = lake.table("a")
    first = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([(5, "later")], "k LONG, v STRING"))
    t.create_tag("1", snapshot_id=first)
    n_tag, n_seq = (
        lake.sql(spark, f"SELECT COUNT(*) AS n FROM a FOR VERSION AS OF {v}")
        .first().n
        for v in ("'1'", "1")
    )
    assert (n_tag, n_seq) == (1, 2)


def test_drop_table_purges_pinned_asof_memos(spark, lake):
    """DROP + CREATE of the same name must not let a repeated
    FOR TIMESTAMP AS OF '<same literal>' hit the registry memo and
    silently serve the DROPPED table's pinned data."""
    literal = "2099-01-01"  # resolves to the table head at rewrite time
    assert lake.sql(
        spark,
        f"SELECT COUNT(*) AS n FROM a FOR TIMESTAMP AS OF '{literal}'",
    ).first().n == 1
    lake.drop_table("a")
    assert not any(k.startswith("a__asof_") for k in lake._sql_registry)
    t = lake.create_table(_tpl("a"))
    t.append(
        spark.createDataFrame([(1, "x"), (2, "y")], "k LONG, v STRING")
    )
    # same literal, same session: must re-resolve against the NEW table
    assert lake.sql(
        spark,
        f"SELECT COUNT(*) AS n FROM a FOR TIMESTAMP AS OF '{literal}'",
    ).first().n == 2


def test_python_drop_table_forgets_follow_head_records(
    spark, lake, monkeypatch
):
    """``Lakehouse.drop_table`` forgets the dropped table's follow-head
    records, as SQL DROP does: a commit to a re-created table of the same
    name re-resolves none of the dropped table's views."""
    lake.table("a").register(
        spark, name="fh_a", follow_head=True, metadata_tables=False
    )
    lake.drop_table("a")
    calls = _count_registers(monkeypatch)
    t = lake.create_table(_tpl("a"))
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "k LONG, v STRING"))
    assert calls == []


def test_branch_and_main_scopes_serve_concurrently_without_thrash(
    spark, lake, monkeypatch
):
    """Branch statements rewrite to scope-suffixed views, so interleaving
    main and branch statements re-registers NOTHING after the first
    statement per scope, and both scopes are readable concurrently —
    even inside one statement."""
    br = lake.create_branch("live")
    br.sql(spark, "INSERT INTO a VALUES (9, 'branchrow')")
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
    calls = _count_registers(monkeypatch)
    for _ in range(3):
        assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
        assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    assert calls == []
    # both scopes in ONE statement: the suffixed view is a real session
    # view, so a cross-scope audit query (pre-publish diff) just works
    suffix = lake._scope_suffix("branch:live")
    row = spark.sql(
        f"SELECT (SELECT COUNT(*) FROM a) AS n_main, "
        f"(SELECT COUNT(*) FROM a{suffix}) AS n_branch"
    ).first()
    assert (row.n_main, row.n_branch) == (1, 2)


def test_catalog_branch_sql_is_wap_via_sql(spark, lake):
    """The WAP-via-SQL shape: the SAME statement texts run on a catalog
    branch against branch state; main's views are untouched until merge;
    branch references resolve to scope-suffixed views under the hood."""
    br = lake.create_branch("wap9")
    # stage a write on the branch with the production statement
    br.sql(spark, "INSERT INTO a VALUES (77, 'staged')")
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    # main's view of the same name re-registers against main state
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
    # ...and switching back serves the branch again
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    # audit on the branch, then publish
    audit = br.sql(
        spark, "SELECT COUNT(*) AS n FROM a WHERE v = 'staged'"
    ).first().n
    assert audit == 1
    br.merge()
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    # catalog DDL is rejected on a branch
    with pytest.raises(RuntimeError, match="main catalog"):
        br.sql(spark, "CREATE TABLE nope (id BIGINT)")
    # branch DML on an UNTOUCHED table forks it lazily on first use
    br2 = lake.create_branch("wap9b")
    br2.sql(spark, "DELETE FROM b WHERE k = 1")
    assert br2.sql(spark, "SELECT COUNT(*) AS n FROM b").first().n == 0
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM b").first().n == 1


def test_branch_sql_reads_fork_state_before_first_branch_write(spark, lake):
    """A branch statement on a table the branch never WROTE must serve
    the fork-point data — not the declared-empty view (the branch fork
    has no branch head SEQUENCE, but its readable head is the fork;
    found by the round-10 catalog sweep, where branch reads returned 0
    rows on untouched tables)."""
    br = lake.create_branch("fork_read")
    # never written on the branch: serves the fork point (1 row from
    # the fixture), matching the branch handle's direct read()
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
    assert br.table("a").read(spark).count() == 1
    # a write moves the branch head and the view follows
    br.sql(spark, "INSERT INTO a VALUES (99, 'later')")
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    # main is untouched; a truly never-committed table still serves the
    # governed declared-empty view on the branch
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 1
    lake.create_table(_tpl("fresh_branchread"))
    assert br.sql(
        spark, "SELECT COUNT(*) AS n FROM fresh_branchread"
    ).first().n == 0


def test_branch_scope_composes_with_time_travel(spark, lake):
    """Cross-feature composition: FOR VERSION AS OF inside a BRANCH
    statement pins the as-of view through the branch accessor, and a
    branch DML whose SOURCE is a time-traveled read of its own target
    routes both rewrites correctly (as-of first, scope suffix second)."""
    t = lake.table("a")
    v1 = t.current_snapshot()["snapshot_id"]
    t.append(spark.createDataFrame([(2, "x")], "k LONG, v STRING"))
    br = lake.create_branch("tt_combo")
    br.sql(spark, "INSERT INTO a VALUES (3, 'br')")
    assert br.sql(
        spark, f"SELECT COUNT(*) AS n FROM a FOR VERSION AS OF '{v1}'"
    ).first().n == 1
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 3
    br.sql(
        spark,
        f"INSERT INTO a SELECT k + 100, v FROM a FOR VERSION AS OF '{v1}'",
    )
    assert sorted(
        r.k for r in br.sql(spark, "SELECT k FROM a").collect()
    ) == [1, 2, 3, 101]
    # main untouched by any of it
    assert sorted(
        r.k for r in lake.sql(spark, "SELECT k FROM a").collect()
    ) == [1, 2]


def test_branch_sql_serves_untouched_fork_without_reregistering(
    spark, lake, monkeypatch
):
    """A catalog-branch read of a table with no branch commits serves the
    fork's data (there is no branch head sequence yet); repeating it
    registers nothing, and the first branch commit is served next."""
    br = lake.create_branch("fork")
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM b").first().n == 1
    calls = _count_registers(monkeypatch)
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM b").first().n == 1
    assert calls == []
    br.table("b").append(
        spark.createDataFrame([(2, "branchrow")], "k LONG, v STRING")
    )
    rows = br.sql(spark, "SELECT v FROM b ORDER BY k").collect()
    assert [r.v for r in rows] == ["b", "branchrow"]
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM b").first().n == 1


@pytest.mark.parametrize("end", ["merge", "delete"])
def test_catalog_branch_end_forgets_branch_view_records(spark, lake, end):
    """Publishing or abandoning a catalog branch deletes its per-table
    branches, and with them the follow-head records of the branch views
    its statements registered: the next main commit refreshes none of
    them (a refresh would warn and fail to read the deleted branch ref),
    and the branch's temp view leaves the session."""
    import warnings

    from iceberg_quickstart_iac_spark.tables.snapstore import _HEAD_REGISTRATIONS

    br = lake.create_branch(f"end_{end}")
    br.sql(spark, "INSERT INTO a VALUES (9, 'staged')")
    assert br.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == 2
    view = "a" + lake._scope_suffix(f"branch:end_{end}")
    assert view in _HEAD_REGISTRATIONS
    getattr(br, end)()
    assert view not in _HEAD_REGISTRATIONS
    assert not spark.catalog.tableExists(view)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        lake.table("a").append(spark.createDataFrame([(5, "main")], "k LONG, v STRING"))
    expected = 3 if end == "merge" else 2
    assert lake.sql(spark, "SELECT COUNT(*) AS n FROM a").first().n == expected


def test_select_is_lexed_once_for_routing(spark, lake, monkeypatch):
    """A main-scope SELECT is scanned twice: once for the text the DDL,
    CALL and DML routers all read, once for its identifiers."""
    from iceberg_quickstart_iac_spark.tables import sql_text

    scans = []
    scan = sql_text.scan
    monkeypatch.setattr(sql_text, "scan", lambda sql: scans.append(sql) or scan(sql))
    df = lake.sql(spark, "SELECT v, count(*) AS n FROM a GROUP BY v")
    assert len(scans) == 2
    assert [tuple(r) for r in df.collect()] == [("a", 1)]
