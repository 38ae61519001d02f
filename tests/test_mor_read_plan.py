"""The merge-on-read read plan and the paths around it: one scan per
write epoch, typed from the log, and one sequence-scoped anti-join
whatever the number of outstanding delete files, reads that stay correct
through partition-scoped compaction and snapshot expiry, O(changes)
merge-on-read writes whose ``row_count`` counts data-file rows, one view
registration per commit through the lazy SQL front door, footer
statistics on decimal columns, and copy-on-write merges on
``timestamptz`` columns."""

from __future__ import annotations

from datetime import datetime
from decimal import Decimal

import pytest

from iceberg_quickstart_iac_spark.tables import SnapTable
from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse
from iceberg_quickstart_iac_spark.tables.snapstore import _footer_row_count, _list_data_files


def _mor_table(spark, root, partitioned=False):
    t = SnapTable.create(
        root,
        {
            "name": root.name, "namespace": "lakehouse",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "g", "type": "string"},
                {"name": "v", "type": "double"},
            ],
            "identifier_fields": ["k"],
            "partition_spec": (
                [{"column": "g", "transform": "identity"}] if partitioned else []
            ),
        },
    )
    t.append(spark.createDataFrame(
        [(i, "abc"[i % 3], float(i)) for i in range(30)],
        "k LONG, g STRING, v DOUBLE",
    ))
    return t, {i: ("abc"[i % 3], float(i)) for i in range(30)}


def _apply(spark, t, model, changes):
    """MoR changelog apply of ``(k, g, v, op)`` rows, mirrored on ``model``."""
    t.apply_changelog(
        spark,
        spark.createDataFrame(changes, "k LONG, g STRING, v DOUBLE, op STRING"),
        ["k"], mode="mor",
    )
    for k, g, v, op in changes:
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = (g, v)


def _state(spark, t):
    return {r.k: (r.g, r.v) for r in t.read(spark).collect()}


def _data_file_rows(t, snap=None):
    """Rows in the data files of ``snap`` (default the head), from footers."""
    snap = snap or t.current_snapshot()
    return sum(
        _footer_row_count(_list_data_files(t.data_dir / d)) for d in snap["data_dirs"]
    )


def _plan_shape(df):
    """(data file scans, delete-key file scans, anti joins) of ``df``'s
    optimized plan; a scan is a delete-key scan when it reads delete dirs."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    deletes = 0
    for i in range(leaves.size()):
        paths = leaves.apply(i).relation().location().rootPaths()
        roots = [paths.apply(j).toString() for j in range(paths.size())]
        deletes += all("/mordel-" in r for r in roots)
    return leaves.size() - deletes, deletes, plan.toString().count("LeftAnti")


def test_read_plan_is_one_scan_per_epoch_and_one_anti_join(spark, tmp_path):
    t, model = _mor_table(spark, tmp_path / "plan")
    for n in range(4):
        assert len(t.current_snapshot().get("delete_dirs") or []) == n
        data_scans, delete_scans, anti = _plan_shape(t.read(spark))
        assert data_scans == 1
        assert anti == (1 if n else 0)
        assert delete_scans == (1 if n else 0)
        assert _state(spark, t) == model
        # the same hot key changes in every batch: its key repeats across
        # delete files, and only its newest image may survive
        _apply(spark, t, model, [
            (0, "a", 100.0 + n, "U"), (3 * n + 1, "b", -1.0, "D"),
            (1000 + n, "c", 1.0, "I"),
        ])
    # a second write epoch is a second scan; the engine still builds one
    # anti join, which the optimizer pushes below the union into each
    # epoch's branch
    t.evolve_add_column("note", "string")
    t.append(spark.createDataFrame(
        [(2000, "a", 2.0, "x")], "k LONG, g STRING, v DOUBLE, note STRING"
    ))
    model[2000] = ("a", 2.0)
    df = t.read(spark)
    data_scans, _, anti = _plan_shape(df)
    assert data_scans == 2 and anti == 2
    assert df._jdf.queryExecution().analyzed().toString().count("LeftAnti") == 1
    assert _state(spark, t) == model


def test_read_plan_runs_no_schema_inference_job(spark, tmp_path):
    """Epoch scans carry the schema recorded in the log: building the read
    plan runs no Spark job (Spark infers a parquet schema in a job)."""
    t, model = _mor_table(spark, tmp_path / "nojob")
    _apply(spark, t, model, [(1, "b", 9.0, "U"), (2, None, None, "D")])
    tracker = spark.sparkContext.statusTracker()
    group = "mor-read-plan-probe"
    spark.sparkContext.setJobGroup(group, "plan only")
    try:
        t.read(spark)
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert _state(spark, t) == model


def _read_after_expiring_intro(spark, root, evolve, second):
    """Append ``(1, 1.5)`` under a float ``v``, ``evolve`` the table,
    append ``second``, expire everything but the head, then read."""
    t = SnapTable.create(
        root,
        {"name": root.name, "namespace": "lakehouse",
         "columns": [{"name": "k", "type": "long"}, {"name": "v", "type": "float"}]},
    )
    t.append(spark.createDataFrame([(1, 1.5)], "k LONG, v FLOAT"))
    schema = evolve(t)
    t.append(spark.createDataFrame([second], schema))
    t.expire_snapshots(older_than_ms=2**52)
    return sorted(tuple(r) for r in t.read(spark).collect())


def test_widened_column_reads_after_expiring_its_intro_entry(spark, tmp_path):
    """Expiry drops the entry that wrote the float file; the dir keeps the
    epoch it was written under and its values widen on read."""
    def widen(t):
        t.evolve_widen_column("v", "double")
        return "k LONG, v DOUBLE"

    assert _read_after_expiring_intro(spark, tmp_path / "widen", widen, (2, 2.25)) == [
        (1, 1.5), (2, 2.25)
    ]


def test_renamed_column_reads_after_expiring_its_intro_entry(spark, tmp_path):
    """Expiry drops the entry that wrote the pre-rename file; the dir keeps
    the epoch it was written under, so the renamed column still resolves
    to the old file column by field id instead of reading NULL."""
    def rename(t):
        t.evolve_rename_column("v", "w")
        return "k LONG, w FLOAT"

    assert _read_after_expiring_intro(spark, tmp_path / "rename", rename, (2, 2.25)) == [
        (1, 1.5), (2, 2.25)
    ]


def test_mor_reads_survive_scoped_compact_then_expire(spark, tmp_path):
    """Kept-leaf subpath references keep the intro sequence of the dir
    they were split from, through partition-scoped compaction and
    snapshot expiry: older deletes still apply to them, their rows never
    erase newer images, and newer deletes apply to them too."""
    t, model = _mor_table(spark, tmp_path / "pc", partitioned=True)
    # debt in a and b; a newer image of a b-key lands in a new dir
    _apply(spark, t, model, [(0, "a", 50.0, "U"), (1, None, None, "D"),
                             (4, "b", 44.0, "U")])
    _apply(spark, t, model, [(3, None, None, "D"), (7, "b", 77.0, "U")])
    e = t.compact(spark, partition_filter=[("g", "=", "a")])
    assert any("/" in d for d in e["data_dirs"])  # kept-leaf subpaths
    assert e.get("delete_dirs")  # b-debt keeps the delete files alive
    assert _state(spark, t) == model
    t.expire_snapshots(older_than_ms=2**52)
    assert _state(spark, t) == model
    _apply(spark, t, model, [(10, "b", 10.5, "U"), (13, None, None, "D"),
                             (0, "a", 51.0, "U")])
    assert _state(spark, t) == model
    t.expire_snapshots(older_than_ms=2**52)
    assert _state(spark, t) == model
    assert t.verify_integrity()["ok"]
    # the row accounting stayed exact through it all: reads serve the
    # model, row_count counts the data files' rows
    assert t.read(spark).count() == len(model)
    assert t.current_snapshot()["row_count"] == _data_file_rows(t)


def test_mor_accounting_matches_reads(spark, tmp_path):
    """After MoR applies and deletes a read serves the model, and
    ``row_count`` is the rows in the snapshot's data files (Iceberg's
    ``total-records``): the deleted images still sit in them until a
    compaction, and the writes never count the live table."""
    t, model = _mor_table(spark, tmp_path / "acct", partitioned=True)
    _apply(spark, t, model, [(5, "c", 5.5, "U"), (6, None, None, "D"),
                             (99, "a", 9.9, "I")])
    _apply(spark, t, model, [(5, None, None, "D"), (99, "b", 1.0, "U")])
    t.delete_where(spark, "g = 'c'", mode="mor")
    model = {k: r for k, r in model.items() if r[0] != "c"}
    assert _state(spark, t) == model
    assert t.read(spark).count() == len(model)
    # 30 base rows + 2 images from the first apply + 1 from the second
    assert t.current_snapshot()["row_count"] == _data_file_rows(t) == 33
    assert t.verify_integrity()["ok"]
    # a compaction materializes the deletes: both counts meet again
    t.compact(spark)
    assert t.current_snapshot()["row_count"] == _data_file_rows(t) == len(model)
    assert _state(spark, t) == model


def test_mor_writes_report_delete_keys(spark, tmp_path):
    """The MoR apply and delete report the keys they wrote (delete-file
    footers), not a count of the images those keys erase."""
    t, model = _mor_table(spark, tmp_path / "keys")
    e = t.apply_changelog(
        spark,
        spark.createDataFrame(
            [(1, "b", 1.5, "U"), (2, None, None, "D"), (77, "a", 7.0, "I")],
            "k LONG, g STRING, v DOUBLE, op STRING",
        ),
        ["k"], mode="mor",
    )
    assert e["merge_stats"] == {"upserted": 2, "delete_keys": 3, "mode": "mor"}
    assert e["row_count"] == 32
    e = t.delete_where(spark, "k < 10", mode="mor")
    assert e["row_count"] == 32 and t.read(spark).count() == 21


def test_mor_apply_never_reads_the_target(spark, tmp_path, monkeypatch):
    """A MoR changelog apply is O(changes): it writes the batch's keys and
    new images and reads nothing of the table it applies to."""
    t, model = _mor_table(spark, tmp_path / "noread")
    real_read = SnapTable._read_at

    def guarded_read(self, *args, **kwargs):
        if self.root == t.root:
            raise AssertionError("apply_changelog(mode='mor') read its target")
        return real_read(self, *args, **kwargs)

    monkeypatch.setattr(SnapTable, "_read_at", guarded_read)
    _apply(spark, t, model, [(3, "a", 3.5, "U"), (4, None, None, "D"),
                             (50, "c", 5.0, "I")])
    monkeypatch.setattr(SnapTable, "_read_at", real_read)
    assert _state(spark, t) == model


def test_mor_delete_scans_the_table_once(spark, tmp_path, monkeypatch):
    """A MoR delete reads the table once, to evaluate its condition."""
    from pyspark.sql import functions as F

    t, _ = _mor_table(spark, tmp_path / "once")
    scanned = spark.sparkContext.accumulator(0)

    def seen(_):
        scanned.add(1)
        return True

    count_rows = F.udf(seen, "boolean").asNondeterministic()
    real_read = SnapTable._read_at

    def counting_read(self, *args, **kwargs):
        return real_read(self, *args, **kwargs).filter(count_rows(F.col("k")))

    monkeypatch.setattr(SnapTable, "_read_at", counting_read)
    t.delete_where(spark, "g = 'a'", mode="mor")
    monkeypatch.setattr(SnapTable, "_read_at", real_read)
    assert scanned.value == 30
    assert sorted(r.k for r in t.read(spark).collect()) == [
        i for i in range(30) if i % 3
    ]


def test_mor_apply_race_keeps_row_count(spark, tmp_path):
    """Two handles each apply a changelog deleting keys 0–4; the second
    commits just before the first handle's ``_commit``. The raced table
    records what a race-free replay of the same two commits records,
    reads the same rows, and passes ``verify_integrity``."""
    deletes = [(k, None, None, "D") for k in range(5)]

    def changes():
        return spark.createDataFrame(deletes, "k LONG, g STRING, v DOUBLE, op STRING")

    raced, model = _mor_table(spark, tmp_path / "raced")
    other = SnapTable.load(raced.root)
    real_commit = raced._commit

    def commit_after_other(delta, *args, **kwargs):
        other.apply_changelog(spark, changes(), ["k"], mode="mor")
        return real_commit(delta, *args, **kwargs)

    raced._commit = commit_after_other
    raced.apply_changelog(spark, changes(), ["k"], mode="mor")
    replay, _ = _mor_table(spark, tmp_path / "replay")
    for _ in range(2):
        replay.apply_changelog(spark, changes(), ["k"], mode="mor")

    assert [e["row_count"] for e in raced._entries()] == [
        e["row_count"] for e in replay._entries()
    ]
    assert _state(spark, raced) == _state(spark, replay) == {
        k: r for k, r in model.items() if k >= 5
    }
    assert raced.verify_integrity()["ok"]


def test_verify_integrity_detects_lowered_mor_row_count(spark, tmp_path):
    """A merge-on-read entry's ``row_count`` is checked exactly against
    its footers: a count lowered by one is reported, not just a raised
    one."""
    import json

    t, model = _mor_table(spark, tmp_path / "tamper")
    _apply(spark, t, model, [(1, "b", 1.5, "U"), (2, None, None, "D")])
    assert t.verify_integrity()["ok"]
    path = t.log_dir / f"{t.current_snapshot()['sequence']:012d}.json"
    entry = json.loads(path.read_text())
    entry["row_count"] -= 1
    path.write_text(json.dumps(entry))
    report = t.verify_integrity()
    assert not report["ok"]
    assert report["row_count_mismatch"] == {"expected": 30, "actual": 31}


def test_sql_registers_own_commits_once(spark, tmp_path, monkeypatch):
    lh = Lakehouse(tmp_path / "lake")
    t = lh.create_table({
        "name": "once", "namespace": "lakehouse",
        "columns": [{"name": "k", "type": "long"}],
    })
    t.append(spark.createDataFrame([(1,)], "k LONG"))

    def count():
        return lh.sql(spark, "SELECT COUNT(*) AS n FROM once").first().n

    assert count() == 1
    calls = []
    real_register = SnapTable.register

    def counting_register(self, *args, **kwargs):
        calls.append(kwargs.get("name"))
        return real_register(self, *args, **kwargs)

    monkeypatch.setattr(SnapTable, "register", counting_register)
    # own-process commit: the commit-time refresh registers it ...
    t.append(spark.createDataFrame([(2,)], "k LONG"))
    assert calls == ["once"]
    # ... and the next statement serves it without registering again
    calls.clear()
    assert count() == 2
    assert calls == []
    # a commit through a second handle is refreshed the same way
    SnapTable.load(t.root).append(spark.createDataFrame([(3,)], "k LONG"))
    calls.clear()
    assert count() == 3
    assert calls == []
    # a commit that fires no refresh (as one from another process) is
    # caught by the head probe and registered by the next statement
    monkeypatch.setattr(SnapTable, "_refresh_head_registrations", lambda self: None)
    SnapTable.load(t.root).append(spark.createDataFrame([(4,)], "k LONG"))
    calls.clear()
    assert count() == 4
    assert calls == ["once"]
    calls.clear()
    assert count() == 4
    assert calls == []


def test_sql_reregisters_a_dropped_follow_head_view(spark, tmp_path):
    """A follow-head view dropped behind the memo's back is registered
    again even though the registry still holds it at the current head."""
    lh = Lakehouse(tmp_path / "lake")
    t = lh.create_table({
        "name": "dropped", "namespace": "lakehouse",
        "columns": [{"name": "k", "type": "long"}],
    })
    t.append(spark.createDataFrame([(1,)], "k LONG"))
    assert lh.sql(spark, "SELECT COUNT(*) AS n FROM dropped").first().n == 1
    t.append(spark.createDataFrame([(2,)], "k LONG"))
    spark.catalog.dropTempView("dropped")
    assert lh.sql(spark, "SELECT COUNT(*) AS n FROM dropped").first().n == 2


# -- decimal footer statistics ---------------------------------------------


@pytest.fixture()
def decimal_table(spark, tmp_path):
    t = SnapTable.create(
        tmp_path / "dec",
        {
            "name": "dec", "namespace": "lakehouse",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "amt", "type": "decimal(10,2)"},
            ],
        },
    )
    schema = "k LONG, amt DECIMAL(10,2)"
    t.append(spark.createDataFrame(
        [(1, Decimal("1.50")), (2, Decimal("9.25"))], schema
    ).coalesce(1))
    t.append(spark.createDataFrame(
        [(3, Decimal("100.00")), (4, Decimal("250.75"))], schema
    ).coalesce(1))
    return t


def test_files_table_reports_decimal_bounds(spark, decimal_table):
    import json

    rows = decimal_table.files(spark).collect()
    bounds = sorted(json.loads(r.column_bounds)["amt"] for r in rows)
    assert bounds == [["1.50", "9.25"], ["100.00", "250.75"]]


def test_filtered_read_on_decimal_table(spark, decimal_table):
    t = decimal_table
    got = sorted(r.k for r in t.read(spark, filters=[("k", ">=", 2)]).collect())
    assert got == [2, 3, 4]
    got = sorted(
        r.k for r in t.read(spark, filters=[("amt", ">", Decimal("50"))]).collect()
    )
    assert got == [3, 4]
    # the decimal stats prune: the low-amount file is provably disjoint
    from iceberg_quickstart_iac_spark.tables.snapstore import (
        _footer_stats_match,
        _list_data_files,
    )

    verdicts = sorted(
        _footer_stats_match(f, [("amt", ">", Decimal("50"))])
        for d in t.current_snapshot()["data_dirs"]
        for f in _list_data_files(t.data_dir / d)
    )
    assert verdicts == [False, True]


# -- copy-on-write merges on timestamptz ------------------------------------


def test_cow_changelog_and_merge_on_timestamptz(spark, tmp_path):
    t = SnapTable.create(
        tmp_path / "tz",
        {
            "name": "tz", "namespace": "lakehouse",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "at", "type": "timestamptz"},
            ],
        },
    )
    t0, t1 = datetime(2024, 1, 2, 3, 4, 5), datetime(2024, 6, 7, 8, 9, 10)
    t.append(spark.createDataFrame([(1, t0), (2, t0)], "k LONG, at TIMESTAMP"))
    t.apply_changelog(
        spark,
        spark.createDataFrame(
            [(1, t1, "U"), (2, None, "D"), (3, t1, "I")],
            "k LONG, at TIMESTAMP, op STRING",
        ),
        ["k"],
    )
    assert {r.k: r.at for r in t.read(spark).collect()} == {1: t1, 3: t1}
    t.merge_into(
        spark,
        spark.createDataFrame([(3, t0)], "k LONG, at TIMESTAMP"),
        "t.k = s.k",
        when_matched=[{"action": "update", "set": {"at": "s.at"}}],
    )
    assert {r.k: r.at for r in t.read(spark).collect()} == {1: t1, 3: t0}


# -- timestamptz footer statistics ------------------------------------------


def test_timestamptz_footer_stats_skip_files_and_int96_dirs_still_read(spark, tmp_path):
    """``timestamptz`` is written as INT64 TIMESTAMP_MICROS (Iceberg's
    physical type), which carries footer min/max, so a filter on it skips
    files. A dir written as INT96 before (Spark's default, no statistics)
    reads in the same epoch scan as the new ones."""
    import pyarrow.parquet as pq

    t = SnapTable.create(
        tmp_path / "tzs",
        {
            "name": "tzs", "namespace": "lakehouse",
            "columns": [{"name": "k", "type": "long"}, {"name": "at", "type": "timestamptz"}],
        },
    )

    def batch(day0):
        return spark.createDataFrame(
            [(day0 + i, datetime(2024, 1, day0 + i, 12)) for i in range(3)], "k LONG, at TIMESTAMP"
        ).coalesce(1)

    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    old = batch(1)
    old.write.parquet(str(tmp_path / "int96"))  # the dir an earlier engine wrote
    t.append(batch(1))
    old_dir = t.current_snapshot()["data_dirs"][0]
    for f in _list_data_files(t.data_dir / old_dir):
        f.unlink()
    for f in _list_data_files(tmp_path / "int96"):
        f.rename(t.data_dir / old_dir / f.name)
    t.append(batch(5))
    new_dir = t.current_snapshot()["data_dirs"][1]

    def column(d):
        [f] = _list_data_files(t.data_dir / d)
        return pq.ParquetFile(str(f)).metadata.row_group(0).column(1)

    assert column(old_dir).physical_type == "INT96" and not column(old_dir).is_stats_set
    assert column(new_dir).physical_type == "INT64" and column(new_dir).is_stats_set

    full = t.read(spark)
    assert full._jdf.queryExecution().executedPlan().toString().count("FileScan") == 1
    assert sorted((r.k, r.at) for r in full.collect()) == [
        (d, datetime(2024, 1, d, 12)) for d in (1, 2, 3, 5, 6, 7)
    ]
    early = t.read(spark, filters=[("at", "<", datetime(2024, 1, 4))])
    assert len(early.inputFiles()) == 1  # the INT96 file: no stats, kept
    assert sorted(r.k for r in early.collect()) == [1, 2, 3]
    late = t.read(spark, filters=[("at", ">=", datetime(2024, 1, 6))])
    assert len(late.inputFiles()) == 2 and sorted(r.k for r in late.collect()) == [6, 7]
