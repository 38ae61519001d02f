"""On-disk ``format_version``: ``SnapTable.load`` upgrades an older table
once, Spark-free, and reads and commits then see one layout. A layout from
before format 1 is built by stripping a record the writer stamps; a
format-1 table by putting back the live ``row_count`` format 1 recorded
for merge-on-read snapshots, where format 2 records data-file rows. The
upgrade must restore exactly what the writer writes, read the same rows
and pass ``verify_integrity``."""

from __future__ import annotations

import json
import os

import pytest

from iceberg_quickstart_iac_spark.tables import SnapTable
from iceberg_quickstart_iac_spark.tables.snapstore import _footer_row_count, _list_data_files

SCHEMA = "k LONG, g STRING, v DOUBLE"


def _table(spark, root, props=None):
    """A partitioned MoR table: two appends around an equality delete."""
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
            "partition_spec": [{"column": "g", "transform": "identity"}],
            "properties": props or {},
        },
    )
    t.append(spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(10)], SCHEMA
    ))
    t.delete_where(spark, "k < 4", mode="mor")
    t.append(spark.createDataFrame([(20, "a", 2.0), (21, "c", 1.0)], SCHEMA))
    return t


def _rows(spark, t):
    return sorted(tuple(r) for r in t.read(spark).collect())


def _state(t) -> dict:
    """Every record the upgrade may write, parsed."""
    out = {"table.json": json.loads((t.root / "table.json").read_text())}
    for p in sorted(t.log_dir.glob("[0-9]*.json")):
        out[p.name] = json.loads(p.read_text())
    for p in sorted(t.data_dir.glob("mordel-*/_key_*.json")):
        out[f"{p.parent.name}/{p.name}"] = json.loads(p.read_text())
    return out


def _edit(path, fn):
    obj = json.loads(path.read_text())
    fn(obj)
    path.write_text(json.dumps(obj))


def _entries(t, fn):
    for p in sorted(t.log_dir.glob("[0-9]*.json")):
        _edit(p, fn)


def _strip_ids(t):
    def meta(m):
        m.pop("next_field_id")
        for c in m["columns"]:
            c.pop("id")

    _edit(t.root / "table.json", meta)
    _entries(t, lambda e: e["column_ids"].update(dict.fromkeys(e["column_ids"])))
    for p in t.data_dir.glob("mordel-*/_key_ids.json"):
        _edit(p, lambda k: k.update(dict.fromkeys(k)))


def _strip_keys(*keys):
    def strip(t):
        _entries(t, lambda e: [e.pop(k, None) for k in keys])
    return strip


def _strip_sidecars(t):
    for p in t.data_dir.glob("mordel-*/_key_*.json"):
        p.unlink()


def _strip_meta(key):
    def strip(t):
        _edit(t.root / "table.json", lambda m: m.pop(key))
    return strip


STRIPS = {
    "expired_sequences": _strip_meta("expired_sequences"),
    "dir_sequences": _strip_keys("dir_sequences"),
    "column_ids": _strip_ids,
    "write_epoch": _strip_keys(
        "column_ids", "column_types", "partition_spec", "write_format"
    ),
    "column_types": _strip_keys("column_types"),
    "write_format": _strip_keys("write_format"),
    "key_sidecars": _strip_sidecars,
}


def _make_old(t, *strips):
    for strip in strips:
        strip(t)
    _edit(t.root / "table.json", lambda m: m.pop("format_version"))


@pytest.mark.parametrize("record", sorted(STRIPS))
def test_load_restores_each_stripped_record(spark, tmp_path, record):
    t = _table(spark, tmp_path / record)
    rows, before = _rows(spark, t), _state(t)
    assert rows == [(i, "ab"[i % 2], float(i)) for i in range(4, 10)] + [
        (20, "a", 2.0), (21, "c", 1.0)
    ]
    _make_old(t, STRIPS[record])
    t = SnapTable.load(t.root)
    assert _state(t) == before
    assert _rows(spark, t) == rows
    assert t.verify_integrity()["ok"]
    # and the table keeps working under format 1
    t.append(spark.createDataFrame([(30, "b", 3.0)], SCHEMA))
    t.delete_where(spark, "k = 20", mode="mor")
    assert _rows(spark, t) == sorted(
        [r for r in rows if r[0] != 20] + [(30, "b", 3.0)]
    )


def test_load_restores_dir_epochs_of_an_expired_log(spark, tmp_path):
    """A log expired before expiry recorded ``dir_epochs`` (a tag pins the
    first snapshot, so the log keeps a gap): ``load`` records each live
    dir's epoch as the first surviving reference, as reads dated it."""
    t = _table(spark, tmp_path / "gap")
    first = t._entries()[0]["snapshot_id"]
    t.create_tag("base", first)
    assert t.expire_snapshots(older_than_ms=t.current_snapshot()["committed_at_ms"]) == 1
    rows, before = _rows(spark, t), _state(t)
    assert [e["sequence"] for e in t._entries()] == [0, 2]
    _make_old(t, _strip_meta("dir_epochs"))
    t = SnapTable.load(t.root)
    assert _state(t) == before
    assert _rows(spark, t) == rows
    assert sorted(tuple(r) for r in t.read(spark, tag="base").collect()) == sorted(
        (i, "ab"[i % 2], float(i)) for i in range(10)
    )
    assert t.verify_integrity()["ok"]


def test_second_load_rewrites_nothing(spark, tmp_path):
    t = _table(spark, tmp_path / "twice")
    _make_old(t, *STRIPS.values())
    SnapTable.load(t.root)
    files = [t.root / "table.json", *sorted(t.log_dir.glob("[0-9]*.json"))]
    stamp = [(p.read_bytes(), os.stat(p).st_mtime_ns) for p in files]
    SnapTable.load(t.root)
    assert [(p.read_bytes(), os.stat(p).st_mtime_ns) for p in files] == stamp


def test_load_runs_no_spark_job(spark, tmp_path):
    t = _table(spark, tmp_path / "nojob")
    rows = _rows(spark, t)
    _make_old(t, *STRIPS.values())
    tracker = spark.sparkContext.statusTracker()
    group = "format-upgrade-probe"
    spark.sparkContext.setJobGroup(group, "load only")
    try:
        t = SnapTable.load(t.root)
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert _rows(spark, t) == rows


def test_newer_format_version_raises(tmp_path):
    t = SnapTable.create(tmp_path / "new", {"name": "new", "columns": []})
    _edit(t.root / "table.json", lambda m: m.update(format_version=3))
    with pytest.raises(ValueError, match="format_version 3.*format_version 2"):
        SnapTable.load(t.root)


def _footer_rows(t, e) -> int:
    return sum(_footer_row_count(_list_data_files(t.data_dir / d)) for d in e["data_dirs"])


def _format1_table(spark, root):
    """A format-2 table with merge-on-read, branch and partition-compaction
    history, turned into the format-1 table the same commits wrote: each
    entry's ``row_count`` is its snapshot's live row count. Returns the
    table and each snapshot's rows, main's and the branch's."""
    def changes(rows):
        return spark.createDataFrame(rows, SCHEMA + ", op STRING")

    t = _table(spark, root)
    t.apply_changelog(spark, changes([(5, "a", 5.5, "U"), (6, None, None, "D")]),
                      ["k"], mode="mor")
    b = t.create_branch("b")
    b.apply_changelog(spark, changes([(7, "c", 7.5, "U"), (8, None, None, "D")]),
                      ["k"], mode="mor")
    b.delete_where(spark, "k = 9", mode="mor")
    t.compact(spark, partition_filter=[("g", "=", "a")])
    t.delete_where(spark, "k = 9", mode="mor")
    views = {t.log_dir: t, b.log_dir: b}
    reads = {}
    for log_dir, view in views.items():
        for p in sorted(log_dir.glob("[0-9]*.json")):
            sid = json.loads(p.read_text())["snapshot_id"]
            reads[sid] = sorted(tuple(r) for r in view.read(spark, snapshot_id=sid).collect())
            _edit(p, lambda e: e.update(row_count=len(reads[sid])))
    _edit(t.root / "table.json", lambda m: m.update(format_version=1))
    return t, reads


def test_load_recounts_row_count_of_a_format_1_table(spark, tmp_path):
    t, reads = _format1_table(spark, tmp_path / "f1")
    b_log = t.branch("b").log_dir
    assert any(
        e["row_count"] != _footer_rows(t, e)
        for e in t._entries() + SnapTable._read_log(b_log)
    )
    tracker = spark.sparkContext.statusTracker()
    spark.sparkContext.setJobGroup("format-1-upgrade", "load only")
    try:
        t = SnapTable.load(t.root)
        assert list(tracker.getJobIdsForGroup("format-1-upgrade")) == []
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert t.meta["format_version"] == 2
    b = t.branch("b")
    for view, entries in ((t, t._entries()), (b, SnapTable._read_log(b_log))):
        for e in entries:
            assert e["row_count"] == _footer_rows(t, e), e["operation"]
            assert sorted(
                tuple(r) for r in view.read(spark, snapshot_id=e["snapshot_id"]).collect()
            ) == reads[e["snapshot_id"]]
            assert view.verify_integrity(e["snapshot_id"])["ok"]
    # a second load writes nothing
    files = [t.root / "table.json", *sorted(t.log_dir.glob("[0-9]*.json")),
             *sorted(b_log.glob("[0-9]*.json"))]
    stamp = [(p.read_bytes(), os.stat(p).st_mtime_ns) for p in files]
    SnapTable.load(t.root)
    assert [(p.read_bytes(), os.stat(p).st_mtime_ns) for p in files] == stamp


def test_underivable_record_raises_naming_dir_and_record(spark, tmp_path):
    """A dir whose footer type no declared type reads cannot be given an
    epoch without a guess."""
    t = _table(spark, tmp_path / "bad")
    dirs = t._entries()[0]["data_dirs"]
    _make_old(t, STRIPS["write_epoch"])
    _edit(t.root / "table.json", lambda m: m["columns"][2].update(type="string"))
    with pytest.raises(ValueError, match=f"column_types of dir {dirs[0]}"):
        SnapTable.load(t.root)


def test_first_commit_leaves_table_json_untouched(spark, tmp_path):
    t = SnapTable.create(
        tmp_path / "fresh",
        {"name": "fresh", "columns": [{"name": "k", "type": "long"}]},
    )
    path = t.root / "table.json"
    stamp = (path.read_bytes(), os.stat(path).st_mtime_ns)
    t.append(spark.createDataFrame([(1,)], "k LONG"))
    assert (path.read_bytes(), os.stat(path).st_mtime_ns) == stamp


def _diverged_merge(spark, root, fmt):
    """Append on main, append on a branch, append on main again, merge:
    the branch append is replayed onto the moved main."""
    t = SnapTable.create(
        root,
        {"name": root.name, "columns": [{"name": "k", "type": "long"}],
         "properties": {"write_format": fmt}},
    )
    t.append(spark.createDataFrame([(1,)], "k LONG"))
    t.create_branch("b").append(spark.createDataFrame([(2,)], "k LONG"))
    t.append(spark.createDataFrame([(3,)], "k LONG"))
    t.merge_branch("b")
    return t


@pytest.mark.parametrize("fmt", ["orc", "parquet"])
def test_replayed_branch_append_keeps_its_write_format(spark, tmp_path, fmt):
    t = _diverged_merge(spark, tmp_path / fmt, fmt)
    assert [e["write_format"] for e in t._entries()] == [fmt] * 3
    df = t.read(spark)
    assert sorted(r.k for r in df.collect()) == [1, 2, 3]
    # one write epoch, so one file scan
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    assert leaves.size() == 1


def test_load_fills_write_format_of_replayed_entries(spark, tmp_path):
    """Merges before the fix replayed branch appends without
    ``write_format``: ``load`` takes it from the dir's file suffix."""
    t = _diverged_merge(spark, tmp_path / "orcfix", "orc")
    _make_old(t, lambda t: _edit(
        t.log_dir / f"{t.current_snapshot()['sequence']:012d}.json",
        lambda e: e.pop("write_format"),
    ))
    t = SnapTable.load(t.root)
    assert t.current_snapshot()["write_format"] == "orc"
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]
