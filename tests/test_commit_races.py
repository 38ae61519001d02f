"""The commit-race matrix: one in-process race per write operation.

Each case lets a second ``SnapTable`` handle commit just before the
operation's ``_commit``, the window between what the operation read and
what it commits. A write commits a delta against the snapshot it read,
so the race either keeps the concurrent commit's effect — the rows equal
the serial model "the operation applied to what it read, then the
concurrent commit" — or, when both sides rewrite the same files, raises
``CommitConflictError`` and leaves the winner's head as it was. After
every race ``row_count`` equals the data files' footer rows and
``verify_integrity`` passes. ``overwrite`` and ``rollback_to`` are
whole-state replaces and are not in the matrix."""

from __future__ import annotations

import pytest

from iceberg_quickstart_iac_spark.tables import SnapTable
from iceberg_quickstart_iac_spark.tables.snapstore import (
    CommitConflictError,
    _footer_row_count,
    _list_data_files,
)

SCHEMA = "k LONG, g STRING, v DOUBLE"
BASE = {k: ("ab"[k % 2], float(k)) for k in range(10)}


def _table(spark, root, partitioned=False):
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
    t.append(_rows(spark, BASE))
    return t


def _rows(spark, model):
    return spark.createDataFrame(
        [(k, g, v) for k, (g, v) in sorted(model.items())], SCHEMA
    )


def _race(spark, t, op, concurrent):
    """Run ``op(spark, t)``; just before its first ``_commit``,
    ``concurrent(spark, other)`` commits through a second handle."""
    other = SnapTable.load(t.root)
    real_commit = t._commit
    fired = []

    def commit_after_other(*args, **kwargs):
        if not fired:
            fired.append(concurrent(spark, other))
        return real_commit(*args, **kwargs)

    t._commit = commit_after_other
    try:
        op(spark, t)
    finally:
        del t._commit


def _assert_consistent(spark, t, model):
    rows = sorted((r.k, r.g, r.v) for r in t.read(spark).collect())
    assert rows == sorted((k, g, v) for k, (g, v) in model.items())
    head = t.current_snapshot()
    files = [f for d in head["data_dirs"] for f in _list_data_files(t.data_dir / d)]
    assert head["row_count"] == _footer_row_count(files)
    assert head["file_count"] == len(files)
    report = t.verify_integrity()
    assert report["ok"], report


def _compact(spark, t):
    return t.compact(spark)


def _append(k):
    return lambda spark, t: t.append(_rows(spark, {k: ("a", float(k))}))


def _mor_delete(cond):
    return lambda spark, t: t.delete_where(spark, cond, mode="mor")


def _cdc(spark):
    return spark.createDataFrame([(1, "b", 100.0, "U")], SCHEMA + ", op STRING")


def _without(model, keys):
    return {k: r for k, r in model.items() if k not in keys}


ADDED = {10: ("a", 10.0)}
UPDATED = {1: ("b", 100.0)}

#: id -> (operation, concurrent commit, expected rows); every case keeps
#: the concurrent commit's effect
KEEPS = {
    # the six cases that lost the concurrent commit while each write
    # hand-built its log entry
    "compact-vs-append": (_compact, _append(10), {**BASE, **ADDED}),
    "compact-vs-mor-delete": (_compact, _mor_delete("k < 5"), _without(BASE, range(5))),
    "cow-delete-vs-append": (
        lambda spark, t: t.delete_where(spark, "k = 0"), _append(10),
        {**_without(BASE, {0}), **ADDED}),
    "update-vs-append": (
        lambda spark, t: t.update_where(spark, "k = 0", {"v": "-1.0"}), _append(10),
        {**BASE, 0: ("a", -1.0), **ADDED}),
    "cow-changelog-vs-append": (
        lambda spark, t: t.apply_changelog(spark, _cdc(spark), ["k"]), _append(10),
        {**BASE, **UPDATED, **ADDED}),
    "cow-delete-vs-mor-delete": (
        lambda spark, t: t.delete_where(spark, "k = 9"), _mor_delete("k < 5"),
        _without(BASE, {0, 1, 2, 3, 4, 9})),
    # pure adds, rebased onto whatever the head holds
    "append-vs-append": (_append(11), _append(10), {**BASE, 11: ("a", 11.0), **ADDED}),
    "mor-delete-vs-append": (
        _mor_delete("k < 5"), _append(10), {**_without(BASE, range(5)), **ADDED}),
    "mor-changelog-vs-append": (
        lambda spark, t: t.apply_changelog(spark, _cdc(spark), ["k"], mode="mor"),
        _append(10), {**BASE, **UPDATED, **ADDED}),
}


@pytest.mark.parametrize("case", list(KEEPS))
def test_race_keeps_concurrent_commit(spark, tmp_path, case):
    op, concurrent, expected = KEEPS[case]
    t = _table(spark, tmp_path / "t")
    _race(spark, t, op, concurrent)
    _assert_consistent(spark, t, expected)


def test_partition_compact_race_keeps_append(spark, tmp_path):
    """A partition-scoped compact rewrites only the dirs it read; a dir
    appended meanwhile carries forward."""
    t = _table(spark, tmp_path / "t", partitioned=True)
    _race(spark, t, lambda spark, t: t.compact(spark, partition_filter=[("g", "=", "a")]),
          _append(10))
    _assert_consistent(spark, t, {**BASE, **ADDED})


def test_rewrite_delete_files_race_keeps_mor_delete(spark, tmp_path):
    """Merging the delete files read keeps a delete file committed
    meanwhile: both the merged deletes and the new one apply."""
    t = _table(spark, tmp_path / "t")
    for k in (0, 1):
        t.delete_where(spark, f"k = {k}", mode="mor")
    _race(spark, t, lambda spark, t: t.rewrite_delete_files(spark), _mor_delete("k = 2"))
    assert len(t.current_snapshot()["delete_dirs"]) == 2
    _assert_consistent(spark, t, _without(BASE, {0, 1, 2}))


def test_cherrypick_race_keeps_append(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    base = t.current_snapshot()["snapshot_id"]
    picked = t.append(_rows(spark, {20: ("b", 20.0)}))["snapshot_id"]
    t.rollback_to(base)
    _race(spark, t, lambda spark, t: t.cherrypick_snapshot(picked), _append(10))
    _assert_consistent(spark, t, {**BASE, 20: ("b", 20.0), **ADDED})


def test_branch_replay_race_keeps_append(spark, tmp_path):
    """A merge onto a moved main replays the branch's appends as pure
    adds; a main append landing during the replay is kept."""
    t = _table(spark, tmp_path / "t")
    t.create_branch("b").append(_rows(spark, {20: ("b", 20.0)}))
    t.append(_rows(spark, {11: ("b", 11.0)}))
    _race(spark, t, lambda spark, t: t.merge_branch("b"), _append(10))
    _assert_consistent(spark, t, {**BASE, 11: ("b", 11.0), 20: ("b", 20.0), **ADDED})


@pytest.mark.parametrize("op", ["compact", "cow-delete", "partition-compact"])
def test_two_rewrites_conflict_and_winner_stands(spark, tmp_path, op):
    """Two rewrites of the same files: the second to commit removes files
    that are no longer live, so it raises, deletes the dir it wrote (not
    the kept leaves of a partition-scoped compaction, which are live
    dirs' subpaths), and the winner's head stands."""
    t = _table(spark, tmp_path / "t", partitioned=op == "partition-compact")
    run = {
        "compact": _compact,
        "cow-delete": lambda spark, t: t.delete_where(spark, "k = 0"),
        "partition-compact": lambda spark, t: t.compact(
            spark, partition_filter=[("g", "=", "a")]),
    }
    with pytest.raises(CommitConflictError):
        _race(spark, t, run[op], _compact)
    entries = t._entries()
    assert len(entries) == 2 and entries[-1]["operation"] == "compact"
    assert t.verify_integrity()["orphan_dirs"] == []
    _assert_consistent(spark, t, BASE)


#: id -> (write stamping ``txn``, expected rows): the batch applied once
TXN_RACES = {
    "append": (lambda spark, t, txn: t.append(_rows(spark, ADDED), txn=txn), {**BASE, **ADDED}),
    "merge-into": (
        lambda spark, t, txn: t.merge_into(
            spark, _cdc(spark).drop("op"), "t.k = s.k",
            when_matched=[{"action": "update", "set": "*"}], txn=txn),
        {**BASE, **UPDATED}),
    "mor-changelog": (
        lambda spark, t, txn: t.apply_changelog(spark, _cdc(spark), ["k"], mode="mor", txn=txn),
        {**BASE, **UPDATED}),
}


@pytest.mark.parametrize("case", list(TXN_RACES))
def test_same_txn_race_applies_once(spark, tmp_path, case):
    """Two writers stamping the same ``txn`` both pass the check before
    their write; the second to commit finds the version held at the head,
    deletes the dirs it wrote and returns the winner's entry. One entry
    holds the version and the rows are the batch applied once."""
    op, expected = TXN_RACES[case]
    t = _table(spark, tmp_path / "t")
    returned = []
    _race(spark, t, lambda spark, t: returned.append(op(spark, t, ("app", 1))),
          lambda spark, other: op(spark, other, ("app", 1)))
    holders = [e for e in t._entries() if (e.get("txn") or {}).get("app_id") == "app"]
    assert [e["txn"]["version"] for e in holders] == [1]
    assert returned == holders
    assert t.verify_integrity()["orphan_dirs"] == []
    _assert_consistent(spark, t, expected)
