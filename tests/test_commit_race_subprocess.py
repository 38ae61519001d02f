"""Multi-PROCESS optimistic-commit race (round 8).

The in-process race test (tests/test_tables.py::
test_concurrent_commits_both_land) exercises the seq-claim under the GIL;
a real lakehouse has separate writer *processes*. The commit protocol is
plain filesystem metadata (os.link claims the next sequence slot, EEXIST
loses the race), so it needs no shared JVM or lock server — this test
drives N python subprocesses, each committing M pyarrow-written appends
against the same table root, released together by a go-file barrier.

Spark-free on purpose: the workers write parquet with pyarrow and commit
through SnapTable._commit with the delta ``append`` declares (one added
dir, its row and file counts, the write epoch) — or, for the rewrite
workers, a rewrite delta that replaces two of their own dirs with one —
so the race is on the COMMIT PROTOCOL, not on Spark job scheduling.
Retries follow the table's ``commit_num_retries`` property — the public
knob (Iceberg's ``commit.retry.num-retries``).
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

import pyarrow.parquet as pq

from iceberg_quickstart_iac_spark.tables import SnapTable

REPO = Path(__file__).resolve().parents[1]

WORKER = textwrap.dedent(
    """
    import sys, time, uuid
    from pathlib import Path

    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_quickstart_iac_spark.tables import SnapTable
    from iceberg_quickstart_iac_spark.tables.snapstore import _Delta

    root, wid, n_commits = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    rewrite = sys.argv[4:] == ["rewrite"]
    go = Path(root) / "_go"
    while not go.exists():
        time.sleep(0.001)
    t = SnapTable.load(root)


    def write(keys):
        d = uuid.uuid4().hex
        out = t.data_dir / d
        out.mkdir(parents=True)
        pq.write_table(
            pa.table({"k": pa.array(keys, type=pa.int64())}),
            out / "part-00000.parquet",
        )
        return d


    own = []
    for i in range(n_commits):
        d = write([wid * 1000 + i])
        st = t._state()
        t._commit(st, _Delta("append", t._write_epoch(st.meta), add=[d], rows=1, files=1))
        own.append(d)
        if rewrite and len(own) == 2:
            # merge two of this worker's own dirs into one: a rewrite delta
            # against the snapshot it read them at, committed while the
            # other workers append and rewrite theirs
            st = t._state()
            read_at = st.head
            keys = [
                k for o in own
                for k in pq.read_table(t.data_dir / o).column("k").to_pylist()
            ]
            merged = write(keys)
            t._commit(st, _Delta(
                "compact", t._write_epoch(st.meta), read_at=read_at,
                add=[merged], remove=own, files=-1,
            ))
            own = [merged]
    print("ok", wid)
    """
)


def _run_workers(tmp_path, root, n_workers, n_commits, *mode):
    script = tmp_path / "worker.py"
    script.write_text(WORKER)
    env = {**os.environ, "PYTHONPATH": str(REPO)}
    procs = [
        subprocess.Popen(
            [sys.executable, str(script), str(root), str(w), str(n_commits), *mode],
            env=env, cwd=str(tmp_path),
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for w in range(n_workers)
    ]
    (root / "_go").touch()  # release the barrier once all workers spun up
    outs = [p.communicate(timeout=120) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, (out, err)


def _head_keys(t) -> list[int]:
    keys = []
    for d in t.current_snapshot()["data_dirs"]:
        for f in (t.data_dir / d).rglob("*.parquet"):
            keys += pq.read_table(f).column("k").to_pylist()
    return sorted(keys)


def test_subprocess_writers_race_cleanly(tmp_path):
    n_workers, n_commits = 4, 6
    root = tmp_path / "race"
    t = SnapTable.create(
        root,
        {
            "name": "race", "namespace": "lakehouse",
            "columns": [{"name": "k", "type": "long"}],
            # enough retries that every loser eventually lands (the race
            # is 4 writers deep; the property is the public Iceberg knob)
            "properties": {"commit_num_retries": 60},
        },
    )
    _run_workers(tmp_path, root, n_workers, n_commits)

    total = n_workers * n_commits
    entries = t._entries()
    # every commit landed exactly once, sequences contiguous, chain intact
    assert len(entries) == total
    assert [e["sequence"] for e in entries] == list(range(total))
    for prev, e in zip(entries, entries[1:]):
        assert e["parent_id"] == prev["snapshot_id"]
    head = entries[-1]
    assert head["row_count"] == total and head["file_count"] == total
    # no lost updates: every worker's every row is in the final state
    assert _head_keys(t) == sorted(
        w * 1000 + i for w in range(n_workers) for i in range(n_commits)
    )
    # fsck clean after the melee
    report = t.verify_integrity()
    assert report["ok"], report


def test_subprocess_writers_race_through_seeding(tmp_path):
    """Pre-upgrade table (no ``expired_sequences`` or ``format_version``
    key): every worker's ``load`` after the go barrier runs the upgrade —
    a table.json rewrite — while its rivals concurrently commit and READ
    table.json (meta for retry counts, write epochs, commit re-bases). The
    rewrite goes through temp-file + ``os.replace``, so no reader can ever
    observe a torn file; with a plain ``write_text`` this melee aborts
    otherwise-valid commits with JSONDecodeError."""
    import json

    n_workers, n_commits = 4, 6
    root = tmp_path / "seedrace"
    t = SnapTable.create(
        root,
        {
            "name": "seedrace", "namespace": "lakehouse",
            "columns": [{"name": "k", "type": "long"}],
            "properties": {"commit_num_retries": 60},
        },
    )
    # simulate the pre-tombstone on-disk layout the shim upgrades
    meta_path = root / "table.json"
    meta = json.loads(meta_path.read_text())
    meta.pop("expired_sequences", None)
    meta.pop("format_version")
    meta_path.write_text(json.dumps(meta, indent=2))

    _run_workers(tmp_path, root, n_workers, n_commits)

    total = n_workers * n_commits
    entries = t._entries()
    assert len(entries) == total
    assert [e["sequence"] for e in entries] == list(range(total))
    # the upgrade stamped the key (an intact, parseable table.json) and a
    # fresh table has no pre-existing gaps to grandfather
    meta = json.loads(meta_path.read_text())
    assert meta["expired_sequences"] == []
    report = t.verify_integrity()
    assert report["ok"], report


def test_subprocess_rewriters_race_cleanly(tmp_path):
    """Each worker appends and, after every append past its first,
    rewrites its two live dirs into one (a rewrite delta removing them).
    Rewrites rebase onto the other workers' appends and rewrites, so the
    final head holds every key exactly once in one dir per worker."""
    n_workers, n_commits = 4, 5
    root = tmp_path / "rewrite"
    t = SnapTable.create(
        root,
        {
            "name": "rewrite", "namespace": "lakehouse",
            "columns": [{"name": "k", "type": "long"}],
            "properties": {"commit_num_retries": 80},
        },
    )
    _run_workers(tmp_path, root, n_workers, n_commits, "rewrite")

    entries = t._entries()
    total = n_workers * (2 * n_commits - 1)
    assert [e["sequence"] for e in entries] == list(range(total))
    head = entries[-1]
    assert len(head["data_dirs"]) == n_workers
    assert head["row_count"] == n_workers * n_commits
    assert head["file_count"] == n_workers
    assert _head_keys(t) == sorted(
        w * 1000 + i for w in range(n_workers) for i in range(n_commits)
    )
    report = t.verify_integrity()
    assert report["ok"], report
