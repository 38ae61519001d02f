"""Snapshot-log tables: Iceberg-semantics storage on plain parquet.

The local environment has no Iceberg runtime jar, so the engine ships its
own minimal table format with the reference's metadata semantics
(SURVEY §2.10 M1-M3, §2.1 S6-S10):

- **atomic commits**: data files are written to a fresh directory, then a
  tiny JSON log entry is committed via atomic rename — readers see the old
  or the new snapshot, never a partial write (the same
  pointer-swap consistency the reference gets from Iceberg,
  ``docs/deep-dive.md:66-69``). Optimistic concurrency: a sequence-number
  collision retries with backoff (``commit_num_retries`` parity,
  ``_schema.json:109-111``);
- **snapshot listing** (M1): every commit records snapshot_id, sequence,
  committed_at, operation, row/file counts — queryable as a DataFrame,
  mirroring Athena's ``"t$snapshots"`` named query
  (``aws/modules/athena/main.tf:56-61``);
- **time-travel reads** (M2): by snapshot id or as-of timestamp
  (``FOR SYSTEM_VERSION AS OF`` / ``FOR SYSTEM_TIME AS OF``,
  ``aws/modules/athena/main.tf:62-65``);
- **snapshot expiration** (M3): ``expire_snapshots`` honors
  ``history_expire_max_snapshot_age_ms`` from the template and deletes
  unreferenced data directories (``expire_snapshots`` +
  ``remove_orphan_files`` in one);
- **full-refresh overwrite + append** (S7): ``overwrite`` replaces table
  contents atomically (the reference's only write mode); ``append`` adds a
  directory to the visible set (the event-stream pattern);
- **missing-table error mapping** (S9): actionable error naming the fix.

Scale design: all data stays in parquet directories read/written by Spark
executors — the only driver-side work is one JSON file per commit (exactly
Iceberg's design point: metadata ops are O(snapshots), data ops are
distributed). On an object store the atomic rename becomes a
conditional-put; swapping the commit primitive is one function.

On a cluster with the Iceberg runtime, all of this is replaced by
``df.writeTo(...)`` / ``VERSION AS OF`` / ``CALL system.expire_snapshots``
against the catalogs configured in ``catalog_conf.py``.
"""

from __future__ import annotations

import copy
import json
import os
import random
import re
import shutil
import struct
import time
import uuid
from dataclasses import dataclass, field
from functools import cached_property
from pathlib import Path
from typing import Callable
from urllib.parse import quote, unquote

from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession

from iceberg_quickstart_iac_spark.governance.audit import log_audit_event
from iceberg_quickstart_iac_spark.templates.loader import spark_type


class TableNotFoundError(RuntimeError):
    pass


class CommitConflictError(RuntimeError):
    pass


def _now_ms() -> int:
    return int(time.time() * 1000)


# -- hidden partitioning -----------------------------------------------------
#
# The reference's headline table optimization is transform partitioning:
# a query filtering on the SOURCE column reads only matching partition
# folders (docs/table-template-reference.md:133-168 — "only reads files in
# the hour=10 folder"; table-templates/event_stream.yaml:44-48 declares
# [day(ts), hour(ts)]). Here the template's partition_spec drives the
# physical parquet layout: writes derive one directory level per spec entry
# (Iceberg's human-readable path convention, e.g. ts_day=2024-01-02/
# ts_hour=2024-01-02-10), and reads prune directories driver-side from
# simple predicates on the source column — the same metadata-only pruning
# Iceberg does with manifest entries, so a day-filtered read of a year of
# events lists and scans ~1/365th of the files. Directory listing is
# O(partitions), driver-side, exactly the role Iceberg gives manifests.

#: partition transforms usable for ORDER comparisons after rendering
#: (rendered form is chronologically/numerically ordered)
_ORDERED_TRANSFORMS = {"identity", "year", "month", "day", "hour"}


def partition_field_name(column: str, transform: str) -> str:
    """Iceberg-style partition field name: ``ts`` + ``day`` → ``ts_day``."""
    if transform == "identity":
        return column
    base = transform.split("[")[0]
    return f"{column}_{base}"


def _partition_expr(column: str, transform: str):
    """The Spark column rendering one spec entry as its partition value.

    Time transforms render as sortable strings matching Iceberg's partition
    path convention (day → yyyy-MM-dd, hour → yyyy-MM-dd-HH) so pruning can
    compare them lexicographically; bucket/truncate delegate to the
    spec-exact scalar transforms.
    """
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.functions.transforms import (
        iceberg_bucket,
        iceberg_truncate,
    )

    c = F.col(column)
    if transform == "identity":
        return c.cast("string")
    if transform == "year":
        return F.year(c).cast("string")
    if transform == "month":
        return F.date_format(c, "yyyy-MM")
    if transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if transform == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    m = re.match(r"^bucket\[(\d+)\]$", transform)
    if m:
        return iceberg_bucket(c, int(m.group(1)), "long").cast("string")
    m = re.match(r"^truncate\[(\d+)\]$", transform)
    if m:
        return iceberg_truncate(c, int(m.group(1)), "string")
    raise ValueError(f"Unknown partition transform: {transform!r}")


def _coerce_ts(value) -> datetime:
    if isinstance(value, datetime):
        return value
    if isinstance(value, date):
        return datetime(value.year, value.month, value.day)
    if isinstance(value, (int, float)):
        return datetime.fromtimestamp(value, tz=timezone.utc).replace(tzinfo=None)
    return datetime.fromisoformat(str(value))


def transform_value(value, transform: str) -> str:
    """Driver-side twin of :func:`_partition_expr` for PREDICATE bounds:
    renders a filter value into the partition-value domain so directory
    names can be compared against it without touching any data."""
    if transform == "identity":
        return str(value)
    ts = _coerce_ts(value)
    if transform == "year":
        return str(ts.year)
    if transform == "month":
        return ts.strftime("%Y-%m")
    if transform == "day":
        return ts.strftime("%Y-%m-%d")
    if transform == "hour":
        return ts.strftime("%Y-%m-%d-%H")
    raise ValueError(f"No driver-side rendering for transform {transform!r}")


def _transform_bound(value, transform: str) -> str | None:
    """Render a predicate bound into the partition-value domain, or None
    when the transform has no driver-side ordered rendering (bucket)."""
    m = re.match(r"^truncate\[(\d+)\]$", transform)
    if m:
        w = int(m.group(1))
        if isinstance(value, str):
            return value[:w]
        v = int(value)
        return str(v - (((v % w) + w) % w))
    try:
        return transform_value(value, transform)
    except ValueError:
        return None


def _bucket_of(value, transform: str) -> str | None:
    """Driver-side spec-exact bucket value for equality pruning."""
    from iceberg_quickstart_iac_spark.functions.transforms import _murmur3_32_bytes

    m = re.match(r"^bucket\[(\d+)\]$", transform)
    if not m:
        return None
    n = int(m.group(1))
    if isinstance(value, str):
        raw = value.encode("utf-8")
    else:
        raw = struct.pack("<q", int(value))
    return str((_murmur3_32_bytes(raw) & 0x7FFFFFFF) % n)


def _at_partition_floor(value, transform: str) -> bool:
    """True when a predicate bound sits EXACTLY on the lower boundary of its
    partition — then a strict ``<`` may exclude the boundary partition
    entirely (the half-open time-range idiom: ``ts < '2024-01-12'`` must not
    scan the 2024-01-12 folder)."""
    try:
        ts = _coerce_ts(value)
    except (ValueError, TypeError):
        return False
    zero_time = ts.hour == ts.minute == ts.second == ts.microsecond == 0
    if transform == "hour":
        return ts.minute == ts.second == ts.microsecond == 0
    if transform == "day":
        return zero_time
    if transform == "month":
        return ts.day == 1 and zero_time
    if transform == "year":
        return ts.month == 1 and ts.day == 1 and zero_time
    return False


def _cmp_vals(a: str, b: str) -> int:
    """Numeric-aware comparison of two rendered partition values."""
    try:
        fa, fb = float(a), float(b)
        return (fa > fb) - (fa < fb)
    except ValueError:
        return (a > b) - (a < b)


def _normalize_merge_clauses(
    declared: list[str],
    when_matched: list[dict],
    when_not_matched: list[dict],
    when_not_matched_by_source: list[dict],
) -> tuple[list[dict], list[dict], list[dict]]:
    """Validate/expand MERGE clause dicts (shared by the local executor
    :meth:`SnapTable.merge_into` and the real-warehouse SQL renderer
    :meth:`SnapTable.merge_into_sql`). ``"*"`` shorthands expand against
    the declared columns; unknown columns and malformed actions raise."""

    def _norm(clause: dict, allowed: tuple, kind: str) -> dict:
        action = clause.get("action")
        if action not in allowed:
            raise ValueError(
                f"merge_into: {kind} clause action must be one of "
                f"{allowed}, got {action!r}"
            )
        exprs = clause.get("set" if action == "update" else "values")
        if action in ("update", "insert"):
            if exprs == "*":
                exprs = {c: f"s.{c}" for c in declared}
            if not isinstance(exprs, dict) or not exprs:
                raise ValueError(
                    f"merge_into: {kind} {action} clause needs a non-empty "
                    "'set'/'values' dict (or '*')"
                )
            unknown = set(exprs) - set(declared)
            if unknown:
                raise ValueError(
                    f"merge_into: unknown columns {sorted(unknown)}"
                )
        else:
            exprs = {}
        return {
            "action": action,
            "condition": clause.get("condition"),
            "exprs": exprs,
        }

    matched = [_norm(c, ("update", "delete"), "matched") for c in when_matched]
    not_matched = [_norm(c, ("insert",), "not-matched") for c in when_not_matched]
    by_source = [
        _norm(c, ("update", "delete"), "not-matched-by-source")
        for c in when_not_matched_by_source
    ]
    return matched, not_matched, by_source


def _footer_row_count(files: list[Path]) -> int:
    """Sum of file footer row counts (parquet or ORC, by extension) —
    metadata-only, no data read."""
    total = 0
    for f in files:
        if f.suffix == ".orc":
            import pyarrow.orc as po

            total += po.ORCFile(str(f)).nrows
        else:
            import pyarrow.parquet as pq

            total += pq.ParquetFile(str(f)).metadata.num_rows
    return total


#: tables already warned about the ORC no-file-skipping gap (once per
#: table per process — the warning is a configuration signal, not a
#: per-read nag)
_ORC_SKIP_WARNED: set[Path] = set()

#: the follow-head record, one per view name: what the view serves (table
#: handle and resolved root, session, access level, row policies,
#: metadata-tables flag, a changelog view's anchor, and the head sequence
#: it was resolved at). Every ``register``/``register_changes`` call writes
#: or clears its view's record; two triggers re-resolve a recorded view — a
#: commit made through this process (``_refresh_head_registrations``) and a
#: ``Lakehouse.sql`` statement whose head probe the record does not serve.
#: Process-local by design: Spark temp views are session objects.
_HEAD_REGISTRATIONS: dict[str, dict] = {}

#: the metadata views ``register`` adds next to a table's view
_METADATA_VIEWS = (
    "__snapshots", "__history", "__files", "__partitions", "__delete_files", "__refs"
)


def _head_reg_key(root: Path) -> str:
    """A table root's identity in the records: resolved, so two SnapTable
    handles opened through different path spellings (relative vs absolute,
    via a symlinked warehouse) refresh each other's registrations."""
    try:
        return str(Path(root).resolve())
    except OSError:
        return str(root)


def forget_head_registrations(views=(), root: Path | None = None) -> None:
    """Forget the follow-head records of ``views`` and every record on the
    table at ``root``: their views stop following commits, and the next
    ``Lakehouse.sql`` statement naming one registers it afresh."""
    key = _head_reg_key(root) if root is not None else None
    for name, rec in list(_HEAD_REGISTRATIONS.items()):
        if name in views or rec["root"] == key:
            del _HEAD_REGISTRATIONS[name]


def _row_group_stats(group) -> dict[str, tuple]:
    """``{column: (min, max)}`` from one parquet row group's footer
    statistics — the one reader both file skipping and ``__files`` use.

    Spark writes ``decimal(p<=18, s)`` as INT32/INT64, and pyarrow cannot
    convert those statistics (``statistics.min`` raises "Cannot extract
    statistics for type"): they decode from the raw integers with the
    column's logical scale. A column whose stats still cannot be read is
    left out, which keeps the file wherever it is filtered on."""
    out: dict[str, tuple] = {}
    for ci in range(group.num_columns):
        col = group.column(ci)
        st = col.statistics
        if st is None or not st.has_min_max:
            continue
        try:
            out[col.path_in_schema] = (st.min, st.max)
        except NotImplementedError:  # pyarrow's ArrowNotImplementedError
            logical = json.loads(st.logical_type.to_json())
            if logical.get("Type") == "Decimal" and isinstance(st.min_raw, int):
                scale = -int(logical["scale"])
                out[col.path_in_schema] = (
                    Decimal(st.min_raw).scaleb(scale),
                    Decimal(st.max_raw).scaleb(scale),
                )
    return out


def _footer_stats_match(f: Path, filters: list[tuple]) -> bool:
    """Can any row group of parquet file ``f`` satisfy every conjunct in
    ``filters``? Footer statistics only — no data read. Conservative:
    missing/unreadable/incomparable stats answer True (keep the file);
    only a provably-disjoint range skips it."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(str(f)).metadata
    except Exception:
        return True
    for rg in range(md.num_row_groups):
        if _range_matches(_row_group_stats(md.row_group(rg)), filters):
            return True  # one viable row group keeps the whole file
    return md.num_row_groups == 0


def _footer_bounds(f: Path) -> dict[str, list]:
    """File-level ``{column: [min, max]}`` from parquet footer statistics
    (merged across row groups); ``{}`` for ORC or unreadable footers."""
    if f.suffix != ".parquet":
        return {}
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(str(f)).metadata
    except Exception:
        return {}
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        for name, (lo, hi) in _row_group_stats(md.row_group(rg)).items():
            if name in out:
                try:
                    out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
                except TypeError:
                    out.pop(name, None)
            else:
                out[name] = [lo, hi]
    return out


def _as_utc(bound):
    """A datetime bound (or a list of them) as aware UTC, to compare with a
    ``timestamptz`` column's statistics; a naive one is local time, as
    PySpark reads it."""
    if isinstance(bound, (list, tuple)):
        return [_as_utc(b) for b in bound]
    return bound.astimezone(timezone.utc) if isinstance(bound, datetime) else bound


def _range_matches(stats: dict[str, tuple], filters: list[tuple]) -> bool:
    for col, op, bound in filters:
        if col not in stats:
            continue
        mn, mx = stats[col]
        if mn is None or mx is None:
            continue
        if isinstance(mn, datetime) and mn.tzinfo is not None:
            bound = _as_utc(bound)
        try:
            if op == "=":
                ok = mn <= bound <= mx
            elif op == ">=":
                ok = mx >= bound
            elif op == ">":
                ok = mx > bound
            elif op == "<=":
                ok = mn <= bound
            elif op == "<":
                ok = mn < bound
            elif op == "in":
                ok = any(mn <= b <= mx for b in bound)
            else:
                continue
        except TypeError:
            continue  # stats/bound types don't compare — keep the file
        if not ok:
            return False
    return True


#: per-row columns of the merge-on-read plan (see :meth:`SnapTable.read`):
#: the intro sequence of the data dir a row's file belongs to, and of the
#: delete dir an equality-delete key came from
_DATA_SEQ = "__sg_data_seq"
_DEL_SEQ = "__sg_del_seq"


def _seq_by_path(top_seqs: dict[str, int]):
    """Column: the sequence of the top-level dir (``data/<dir>/…``) the
    current row's file sits in, from ``_metadata.file_path``; -1 for a
    dir missing from ``top_seqs``. Must be applied to the file scan
    itself. The segment after the last ``/data/`` is the dir name: dir
    names are engine-generated hex, and partition dir names below it are
    ``__p_…=…`` with ``/`` escaped, so URL-encoding cannot disturb it."""
    from pyspark.sql import functions as F

    seqs = set(top_seqs.values())
    if len(seqs) == 1:
        return F.lit(seqs.pop()).cast("long")
    top = F.substring_index(
        F.substring_index(F.col("_metadata.file_path"), "/data/", -1), "/", 1
    )
    lookup = F.create_map(
        *[x for t, s in sorted(top_seqs.items()) for x in (F.lit(t), F.lit(s))]
    )
    return F.coalesce(lookup[top], F.lit(-1)).cast("long")


def _list_data_files(base: Path) -> list[Path]:
    """Every data file under ``base``, whichever columnar format the dir
    was written in (`write_format: parquet|orc`)."""
    return sorted(list(base.rglob("*.parquet")) + list(base.rglob("*.orc")))


def _write_atomic(path: Path, text: str) -> None:
    """Write ``text`` to ``path`` through a temp file and ``os.replace``: a
    concurrent reader sees the old file or the new one, never a torn one."""
    tmp = path.parent / f".tmp-{uuid.uuid4().hex}"  # never matches the log glob
    tmp.write_text(text)
    os.replace(tmp, path)


def _epoch_of(entry: dict) -> dict:
    """The write epoch a log entry carries (see :meth:`SnapTable._write_epoch`)."""
    return {k: entry[k] for k in ("column_ids", "column_types", "partition_spec", "write_format")}


@dataclass
class _Delta:
    """What one write changes in a table's state, declared once and
    applied by :meth:`SnapTable._commit` to whatever head the commit
    finds (ARCHITECTURE.md, "Commits").

    - ``read_at``: the snapshot the write read and rewrites part of; None
      for a pure add (``append``, the merge-on-read writes, a cherry-pick,
      a branch replay), which depends on nothing it read;
    - ``add``/``remove``: data dirs, ``add_deletes``/``remove_deletes``:
      equality-delete dirs;
    - ``rows``/``files``: the change in the snapshot's data-file rows
      and files (an entry counts them all, like Iceberg's snapshot
      summary totals);
    - ``epoch``: the write epoch (:func:`_epoch_of`) the entry carries;
      ``extra``: further entry fields (lineage, stats, txn, overrides);
    - ``replace``: ``add``/``add_deletes`` and ``rows``/``files`` are the
      whole new state, whatever the head holds (``overwrite``,
      ``rollback_to``)."""

    operation: str
    epoch: dict
    read_at: dict | None = None
    add: list[str] = field(default_factory=list)
    remove: list[str] = field(default_factory=list)
    add_deletes: list[str] = field(default_factory=list)
    remove_deletes: list[str] = field(default_factory=list)
    rows: int = 0
    files: int = 0
    replace: bool = False
    extra: dict = field(default_factory=dict)

    def apply(self, head: dict | None, table: str) -> dict:
        """The dirs and counts of ``head`` with this delta applied. A dir
        the delta removes that ``head`` no longer holds was removed or
        rewritten by a commit after ``read_at``: CommitConflictError."""
        if head is None or self.replace:
            head = {"data_dirs": [], "delete_dirs": [], "row_count": 0, "file_count": 0}
        data, deletes = head["data_dirs"], head.get("delete_dirs") or []
        gone = [d for d in self.remove if d not in data]
        gone += [d for d in self.remove_deletes if d not in deletes]
        if gone:
            raise CommitConflictError(
                f"{self.operation} on {table} conflicts: {sorted(gone)}, read at "
                f"snapshot {(self.read_at or {}).get('snapshot_id')}, were "
                "rewritten by a concurrent commit — re-run"
            )
        return {
            "data_dirs": [d for d in data if d not in self.remove] + self.add,
            "delete_dirs": [d for d in deletes if d not in self.remove_deletes]
            + self.add_deletes,
            "row_count": head["row_count"] + self.rows,
            "file_count": head["file_count"] + self.files,
        }


def _txn_holder(entries: list[dict], txn: dict | None) -> dict | None:
    """The one idempotent-write rule (Delta's ``txnAppId`` check): the
    newest entry whose ``txn`` names the same app at a version at or above
    ``txn``'s, i.e. the commit that already applied it; None when ``txn``
    is None or new."""
    if txn is None:
        return None
    return next((
        e for e in reversed(entries)
        if (e.get("txn") or {}).get("app_id") == txn["app_id"]
        and e["txn"]["version"] >= txn["version"]
    ), None)


@dataclass(frozen=True)
class _State:
    """One read of a table's state (ARCHITECTURE.md, "Table state"):
    ``meta`` is ``table.json`` (with a branch's schema override) as read
    when the state was taken; the log is read at most once, on first use
    of ``entries``. An operation takes one state at its start and decides
    everything from it; nothing mutates it (an evolution writes a modified
    copy of ``meta``). ``name`` is the audit name (``namespace.table``,
    plus ``@branch`` on a branch), ``ref`` a branch's ``branch.json``
    (None on main), and ``read_log`` the log reader, which
    :meth:`SnapTable._commit` calls afresh on every attempt."""

    meta: dict
    name: str
    read_log: Callable[[], list[dict]]
    ref: dict | None = None

    @cached_property
    def entries(self) -> list[dict]:
        return self.read_log()

    @property
    def head(self) -> dict | None:
        return self.entries[-1] if self.entries else None

    @property
    def columns(self) -> list[str]:
        """The declared column names."""
        return [c["name"] for c in self.meta.get("columns", [])]

    def snapshot(self, snapshot_id: str | None, as_of_ms: int | None) -> dict:
        """The snapshot ``snapshot_id`` names, else the newest committed at
        or before ``as_of_ms``, else the head."""
        if not self.entries:
            raise TableNotFoundError(f"Table {self.name} has no snapshots yet")
        if snapshot_id is not None:
            for e in self.entries:
                if e["snapshot_id"] == snapshot_id:
                    return e
            raise ValueError(f"No snapshot {snapshot_id!r} in {self.name}")
        if as_of_ms is not None:
            eligible = [e for e in self.entries if e["committed_at_ms"] <= as_of_ms]
            if not eligible:
                raise ValueError(f"No snapshot at or before {as_of_ms} in {self.name}")
            return eligible[-1]
        return self.entries[-1]

    @cached_property
    def dir_intro_seqs(self) -> dict[str, int]:
        """Directory (data or delete) → the sequence of the log entry that
        INTRODUCED it — the commit-sequence ordering Iceberg scopes
        delete-file applicability by.

        It is the head entry's ``dir_sequences`` map: every commit stamps
        the full map (its parent's plus the dirs it introduces, pruned to
        dirs some entry still references), so it covers every snapshot a
        read can select. A log scan would mis-date a dir once
        ``expire_snapshots`` drops its introducing entry (the dir then
        first appears at a surviving carry-forward entry, which can sit
        AFTER a MoR delete commit and un-apply it — resurrecting deleted
        rows)."""
        return dict(self.head["dir_sequences"]) if self.entries else {}

    @cached_property
    def dir_epochs(self) -> dict[str, dict]:
        """Data dir → the write epoch (:func:`_epoch_of`) it was WRITTEN
        under: that of the first log entry referencing the dir.

        Once :meth:`SnapTable.expire_snapshots` drops that entry, the first
        surviving reference can be a later epoch — after a rename it names
        the column by its new name and the dir's values would read as NULL
        — so expiry persists each live dir's epoch in ``table.json``
        (``dir_epochs``) and that record wins."""
        seen: dict[str, dict] = {}
        if self.entries and len(self.entries) != self.entries[-1]["sequence"] + 1:
            seen.update(self.meta.get("dir_epochs", {}))
        for e in self.entries:
            # dir_epoch_overrides: a partition-scoped compact keeps the
            # unmatched leaves of a split dir as subpath references; those
            # files were written under the SOURCE dir's epoch, not the
            # compact commit's — the override pins it (processed before
            # data_dirs so it wins for the entry that introduces them)
            for d, ep in (e.get("dir_epoch_overrides") or {}).items():
                seen.setdefault(d, ep)
            epoch = _epoch_of(e)
            for d in e["data_dirs"]:
                seen.setdefault(d, epoch)
        return seen


#: the on-disk layout this engine reads and writes (``table.json``
#: ``format_version``); :meth:`SnapTable.load` upgrades an older table once
_FORMAT_VERSION = 2


class SnapTable:
    """One snapshot-log table rooted at ``root`` (…/namespace/name)."""

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.log_dir = self.root / "_log"
        self.data_dir = self.root / "data"
        #: (snapshot id, :meth:`_delete_debt` of it): maintenance plans a
        #: scoped compaction and runs it from one debt query
        self._debt_memo: tuple[str, dict] | None = None

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        root: str | Path,
        template: dict | None = None,
        properties: dict | None = None,
    ) -> SnapTable:
        table = cls(root)
        # Iceberg-style field ids: every column gets a table-unique id at
        # declaration time; a dropped-then-re-added name is a NEW id, so old
        # data files never leak pre-drop values into the re-added column.
        columns = [dict(c) for c in (template or {}).get("columns", [])]
        for i, c in enumerate(columns):
            c.setdefault("id", i + 1)
            spark_type(c.get("type", "string"))  # an undeclarable type raises here
        meta = {
            "format_version": _FORMAT_VERSION,
            "name": (template or {}).get("name", table.root.name),
            "namespace": (template or {}).get("namespace", "default"),
            "columns": columns,
            "next_field_id": len(columns) + 1,
            "partition_spec": (template or {}).get("partition_spec", []) or [],
            "sort_order": (template or {}).get("sort_order", []) or [],
            # Iceberg identifier-field-ids analog: the row-key columns
            # merge-on-read equality deletes are keyed on
            "identifier_fields": (template or {}).get("identifier_fields", []) or [],
            "properties": {**((template or {}).get("properties") or {}), **(properties or {})},
            "expired_sequences": [],  # see expire_snapshots, verify_integrity
        }
        # partition/sort columns must exist in the declared schema —
        # Iceberg rejects an unknown source column at DDL time; accepting
        # it silently would declare a spec the writer then silently
        # ignores (data lands unpartitioned while metadata claims a spec)
        declared = {c["name"] for c in columns}
        for kind in ("partition_spec", "sort_order"):
            for entry in meta[kind]:
                col = entry["column"] if isinstance(entry, dict) else entry
                if col not in declared:
                    raise ValueError(
                        f"{kind} references column {col!r}, which is not "
                        f"in the declared schema {sorted(declared)} — "
                        "declare the column or fix the transform source"
                    )
        fmt = meta["properties"].get("write_format", "parquet")
        if fmt == "avro":
            # loud S5-style rejection, not a silent parquet fallback: row-
            # oriented avro needs the external spark-avro runtime jar,
            # which this build does not bundle
            raise ValueError(
                "write_format 'avro' requires the spark-avro runtime jar "
                "(org.apache.spark:spark-avro), which is not bundled — "
                "declare 'parquet' (default) or 'orc' (both built into "
                "Spark), or add the jar via spark.jars.packages"
            )
        if fmt not in ("parquet", "orc"):
            raise ValueError(
                f"Unsupported write_format {fmt!r} — the template schema "
                "allows parquet | orc | avro (table-template-reference.md)"
            )
        # directories land only after every validation passed — a
        # rejected template must not leave a half-created table root
        table.log_dir.mkdir(parents=True, exist_ok=True)
        table.data_dir.mkdir(parents=True, exist_ok=True)
        (table.root / "table.json").write_text(json.dumps(meta, indent=2))
        return table

    @classmethod
    def load(cls, root: str | Path) -> SnapTable:
        """Open the table at ``root``; one of an older ``format_version``
        (none read as 0) is upgraded first (:meth:`_upgrade`), a newer one
        raises."""
        table = cls(root)
        if not (table.root / "table.json").exists():
            raise TableNotFoundError(
                f"Table not found at '{root}'. Create it first with "
                "SnapTable.create(root, template) (the reference's "
                "equivalent: run `terraform apply`)."
            )
        meta = table.meta
        version = meta.get("format_version", 0)
        if version > _FORMAT_VERSION:
            raise ValueError(
                f"Table at '{root}' has format_version {version}; this engine "
                f"reads format_version {_FORMAT_VERSION} — open it with a newer one"
            )
        if version < _FORMAT_VERSION:
            table._upgrade(meta)
        return table

    def _upgrade(self, meta: dict) -> None:
        """Write every format-2 record (ARCHITECTURE.md, "On-disk format")
        an older table is missing or holds in an older shape, once: the
        only reader of older layouts. Format 1 counted a merge-on-read
        snapshot's live rows in ``row_count``; format 2 counts its data
        files' rows, so every entry's ``row_count`` is recomputed from the
        footers of its data dirs. Spark-free, from metadata and file
        footers, through :func:`_write_atomic` with ``table.json`` last, so
        an interrupted or concurrent upgrade reruns to the same bytes. A
        record that cannot be derived without a guess raises."""

        def fail(d: str, record: str, why: str):
            raise ValueError(
                f"Cannot upgrade table {meta.get('namespace')}.{meta.get('name')} "
                f"at '{self.root}' to format_version {_FORMAT_VERSION}: "
                f"{record} of dir {d} {why}"
            )

        def footer_schema(files: list[Path]):
            """The Spark schema parquet ``files`` were written with: the one
            Spark records in the footer, else the Arrow schema; None when
            there is no file or they disagree."""
            import pyarrow.parquet as pq
            from pyspark.sql import types as T
            from pyspark.sql.pandas.types import from_arrow_schema

            found = {}
            for f in files:
                arrow = pq.read_schema(str(f))
                spark = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
                schema = (
                    T.StructType.fromJson(json.loads(spark)) if spark else from_arrow_schema(arrow)
                )
                found[tuple((c.name, c.dataType.simpleString()) for c in schema.fields)] = schema
            return found.popitem()[1] if len(found) == 1 else None

        ref_paths = sorted(self.root.glob(f"{self._BRANCHES}/*/branch.json"))
        refs = {p: json.loads(p.read_text()) for p in ref_paths}
        by_name = {c["name"]: c["id"] for c in meta["columns"] if c.get("id") is not None}
        next_id = max([meta.get("next_field_id") or 1, *(i + 1 for i in by_name.values()),
                       *(r.get("next_field_id") or 1 for r in refs.values())])
        branch_cols = [c for r in refs.values() for c in r["base_columns"] + r.get("columns", [])]
        for c in meta["columns"] + branch_cols:
            if c.get("id") is None:  # pre-id columns are known by name
                c["id"] = by_name.setdefault(c["name"], next_id)
                next_id = max(next_id, c["id"] + 1)
        for m in [meta, *(r for r in refs.values() if "columns" in r)]:
            m["next_field_id"] = next_id
        spec = meta.get("partition_spec") or []
        start = self._write_epoch(meta)
        dir_rows: dict[str, int | None] = {}

        def footer_rows(d: str) -> int | None:
            """Rows in the files of data dir ``d``; None when it is missing
            (verify_integrity reports it)."""
            if d not in dir_rows:
                base = self.data_dir / d
                dir_rows[d] = _footer_row_count(_list_data_files(base)) if base.is_dir() else None
            return dir_rows[d]

        def complete(e: dict, new: list[str], prev: dict, cols: list[dict]) -> dict:
            """Fill ``e``'s missing write-epoch fields from the footers of
            the ``new`` dirs it introduced, else from ``prev``."""
            files = [f for d in new for f in _list_data_files(self.data_dir / d)]
            if e.get("partition_spec") is None:
                e["partition_spec"] = spec  # what reads assumed for none
            if e.get("write_format") is None:
                e["write_format"] = files[0].suffix[1:] if files else prev["write_format"]
            ids, types = e.get("column_ids") or {}, e.get("column_types") or {}
            if "column_ids" in e and None not in ids.values() and set(ids) <= set(types):
                return _epoch_of(e)
            if not files:
                e["column_ids"], e["column_types"] = prev["column_ids"], prev["column_types"]
                return _epoch_of(e)
            schema = footer_schema(files)
            if schema is None:
                fail(new[0], "column_types", "holds files of different schemas")
            by_id = {c["id"]: c for c in cols}
            e["column_ids"], e["column_types"] = {}, {}
            for f in schema.fields:
                col = by_id.get(ids.get(f.name) or by_name.get(f.name))
                if col is None:
                    continue  # no declared column reads it
                found = f.dataType.simpleString()
                # the declared type, or one it was safely widened from
                names = [col["type"], *sorted(a for a, b in self._SAFE_PROMOTIONS if b == col["type"])]
                typ = [n for n in names if spark_type(n).simpleString() == found]
                if not typ:
                    fail(new[0], "column_types", f"holds {f.name!r} as {found}, "
                         f"which declared type {col['type']!r} cannot read")
                e["column_ids"][f.name], e["column_types"][f.name] = col["id"], typ[0]
            return _epoch_of(e)

        def walk(entries: list[dict], cols: list[dict], log_dir: Path, own_from: int = 0):
            """Complete one log view (oldest first) in place, rewriting the
            changed entries from ``own_from`` on in ``log_dir``."""
            first_seq, persisted, prev = {}, {}, start
            for i, e in enumerate(entries):
                before = json.dumps(e, sort_keys=True)
                prev = complete(e, [d for d in e["data_dirs"] if d not in first_seq], prev, cols)
                rows = [footer_rows(d) for d in e["data_dirs"]]
                if None not in rows:
                    e["row_count"] = sum(rows)
                for d in self._entry_dirs(e):
                    first_seq.setdefault(d, e["sequence"])
                persisted = e.get("dir_sequences") or persisted
                e["dir_sequences"] = {
                    **persisted,
                    **{d: min(s, persisted.get(d, s)) for d, s in first_seq.items()},
                }
                if i >= own_from and json.dumps(e, sort_keys=True) != before:
                    _write_atomic(log_dir / f"{e['sequence']:012d}.json", json.dumps(e))

        main = self._read_log(self.log_dir)
        walk(main, meta["columns"], self.log_dir)
        logs = list(main)
        for path, ref in refs.items():
            if json.dumps(ref, indent=2) != path.read_text():
                _write_atomic(path, json.dumps(ref, indent=2))
            own = self._read_log(path.parent / "_log")
            view = [dict(e) for e in main if e["sequence"] <= ref["fork_sequence"]]
            walk(view + own, ref.get("columns", meta["columns"]), path.parent / "_log", len(view))
            logs += own
        for dd in sorted({d for e in logs for d in e.get("delete_dirs") or []}):
            base = self.data_dir / dd
            if not base.is_dir():
                continue  # verify_integrity reports the missing dir
            if not (base / self._KEY_SCHEMA).exists():
                schema = footer_schema(_list_data_files(base))
                if schema is None:
                    fail(dd, self._KEY_SCHEMA, "holds no single parquet footer schema")
                _write_atomic(base / self._KEY_SCHEMA, schema.json())  # as written
            path = base / "_key_ids.json"
            fields = json.loads((base / self._KEY_SCHEMA).read_text())["fields"]
            key_ids = dict.fromkeys(f["name"] for f in fields)
            if path.exists():
                key_ids = json.loads(path.read_text())
            filled = {c: by_name.get(c) if i is None else i for c, i in key_ids.items()}
            if None in filled.values():
                fail(dd, "_key_ids.json", "names a key column no declared column has")
            if filled != key_ids:
                _write_atomic(path, json.dumps(filled))
        seqs = {e["sequence"] for e in main}
        if len(seqs) != max(seqs, default=-1) + 1:
            # expired: a dir expiry did not record is dated by its first
            # surviving reference (the upgraded log), one recorded without
            # an epoch by its own footers
            meta["dir_epochs"] = {
                d: complete(dict(ep or {}), [d], start, meta["columns"])
                for d, ep in self._state().dir_epochs.items()
            }
        meta.setdefault(
            "expired_sequences", [s for s in range(max(seqs, default=0)) if s not in seqs]
        )
        meta["format_version"] = _FORMAT_VERSION
        if self.meta.get("format_version", 0) < _FORMAT_VERSION:  # else a concurrent upgrade won
            self._write_meta(meta)

    def _state(self) -> _State:
        """The table's one state read (:class:`_State`): ``table.json`` now,
        the log on first use."""
        meta = json.loads((self.root / "table.json").read_text())
        return _State(
            meta, f"{meta['namespace']}.{meta['name']}", lambda: self._read_log(self.log_dir)
        )

    # accessors for callers outside this module; each takes a state of its
    # own, so operations never use them

    @property
    def meta(self) -> dict:
        return self._state().meta

    @property
    def fq_name(self) -> str:
        return self._state().name

    def _entries(self) -> list[dict]:
        return self._state().entries

    def current_snapshot(self) -> dict | None:
        return self._state().head

    def _snapshot_for(self, snapshot_id: str | None, as_of_ms: int | None) -> dict:
        return self._state().snapshot(snapshot_id, as_of_ms)

    # -- log ---------------------------------------------------------------

    #: committed log entries only — pathlib's glob matches dot-prefixed
    #: names, so a bare ``*.json`` would read in-flight ``.tmp-…`` commit
    #: temp files as committed snapshots
    _LOG_GLOB = "[0-9]*.json"

    @classmethod
    def _read_log(cls, log_dir: Path) -> list[dict]:
        entries = []
        for path in sorted(log_dir.glob(cls._LOG_GLOB)):
            entries.append(json.loads(path.read_text()))
        return entries

    def _write_meta(self, meta: dict) -> None:
        # concurrent readers (commit retries, verify, reads in other
        # processes) must never observe a torn table.json
        _write_atomic(self.root / "table.json", json.dumps(meta, indent=2))

    def head_sequence(self) -> int | None:
        """Sequence of the newest committed entry in THIS log dir — a
        filename-only probe (no entry reads, one directory listing): the
        cheap staleness check the lazy SQL front door polls per statement
        to notice commits made by OTHER processes. On a branch view this
        probes the branch-local log only (None until the branch's first
        own commit)."""
        seqs = [int(p.stem) for p in self.log_dir.glob(self._LOG_GLOB)]
        return max(seqs) if seqs else None

    def _commit(self, st: _State, delta: _Delta) -> dict:
        """Atomic commit of one write's ``delta``, made from state ``st``:
        write a temp file, link it into the next sequence slot.

        The table name and ``commit_num_retries`` come from ``st``; the
        head does not: every attempt reads the log afresh
        (``st.read_log``), which optimistic concurrency needs, and decides
        from that head by two rules.

        - The txn rule (:func:`_txn_holder`): when the head's log already
          holds the delta's ``txn`` app at a version at or above its own,
          a concurrent commit applied it. The commit drops the dirs it
          added that no entry references and returns the entry holding the
          txn, as a replayed write does.
        - The conflict rule: the delta is applied to the head
          (:meth:`_Delta.apply`), so commits that landed after the snapshot
          the write read (``delta.read_at``) keep their dirs and counts: no
          lost updates. A dir the delta removes that is no longer live at
          the head was rewritten by a concurrent commit, so the commit
          raises CommitConflictError and leaves that head as it is.

        Data dirs a rewrite writes from what it read take ``read_at``'s
        sequence through ``dir_sequence_overrides`` (Iceberg's
        ``RewriteFiles`` data-sequence rule), so a delete committed after
        ``read_at`` still applies to them. A ``replace`` delta
        (``overwrite``, ``rollback_to``) is the whole new state: it checks
        and keeps nothing of the head. The slot is claimed with
        ``os.link`` (EEXIST when another writer won it): optimistic
        concurrency with bounded retry (``commit_num_retries`` parity).
        """
        retries = int(st.meta.get("properties", {}).get("commit_num_retries", 3))
        # no .json suffix: temp files must never match the log glob
        tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}"
        for attempt in range(retries + 1):
            entries = st.read_log()
            held = _txn_holder(entries, delta.extra.get("txn"))
            if held is not None:
                self._drop_unreferenced(delta.add + delta.add_deletes)
                return held
            try:
                full = self._next_entry(st.name, entries, delta)
            except CommitConflictError:
                self._drop_unreferenced(delta.add + delta.add_deletes)
                raise
            seq = full["sequence"]
            tmp.write_text(json.dumps(full))
            target = self.log_dir / f"{seq:012d}.json"
            try:
                os.link(tmp, target)
                tmp.unlink()
                self._refresh_head_registrations()
                return full
            except FileExistsError:
                if attempt == retries:
                    tmp.unlink(missing_ok=True)
                    self._drop_unreferenced(delta.add + delta.add_deletes)
                    raise CommitConflictError(
                        f"Commit to {st.name} lost {retries + 1} races (sequence {seq})"
                    ) from None
                time.sleep(min(0.05 * 2**attempt, 1.0) * (1 + random.random()))
        raise AssertionError("unreachable")

    def _next_entry(self, name: str, entries: list[dict], delta: _Delta) -> dict:
        """The log entry committing ``delta`` on ``entries`` (:meth:`_commit`)."""
        head = entries[-1] if entries else None
        seq = head["sequence"] + 1 if head else 0
        # an operation may pin a NEW dir to an inherited sequence: a
        # rewrite's output to the snapshot it read, a merged delete file
        # to its group's newest source, a kept leaf to its source dir
        overrides = {
            **{d: delta.read_at["sequence"] for d in (delta.add if delta.read_at else [])},
            **(delta.extra.get("dir_sequence_overrides") or {}),
        }
        full = {
            **delta.extra,
            **({"dir_sequence_overrides": overrides} if overrides else {}),
            "operation": delta.operation,
            **delta.apply(head, name),
            **delta.epoch,
            "sequence": seq,
            "snapshot_id": uuid.uuid4().hex[:16],
            "parent_id": head["snapshot_id"] if head else None,
            "committed_at_ms": _now_ms(),
        }
        # each dir's INTRO sequence (Iceberg's data_sequence_number, at
        # dir granularity; see _dir_intro_seqs): the parent's map plus
        # this commit's dirs, pruned to dirs a surviving entry references
        dir_seqs = dict(head["dir_sequences"] if head else {})
        for d in self._entry_dirs(full):
            dir_seqs.setdefault(d, overrides.get(d, seq))
        live = {d for e in entries for d in self._entry_dirs(e)}
        live |= set(self._entry_dirs(full))
        full["dir_sequences"] = {d: s for d, s in dir_seqs.items() if d in live}
        return full

    def _drop_unreferenced(self, dirs: list[str]) -> None:
        """Delete the dirs among ``dirs`` that no entry references: what a
        write that failed to commit materialized (Iceberg deletes a failed
        commit's new files too). A kept leaf (a subpath of a live dir) and
        a dir a cherry-pick, rollback or branch replay re-references
        stay."""
        whole, subs = self._referenced()
        for d in dirs:
            if "/" not in d and d not in whole and d not in subs:
                shutil.rmtree(self.data_dir / d, ignore_errors=True)

    def _commit_rewrite(
        self,
        st: _State,
        operation: str,
        written: tuple[str, int, int],
        extra: dict | None = None,
    ) -> dict:
        """Commit ``written`` (:meth:`_write_data`'s dir, rows, files),
        rewritten from every live row of ``st``'s head, in place of that
        head's data and delete files."""
        dir_name, rows, files = written
        read_at = st.head
        return self._commit(st, _Delta(
            operation, self._write_epoch(st.meta), read_at=read_at,
            add=[dir_name], remove=list(read_at["data_dirs"]),
            remove_deletes=list(read_at.get("delete_dirs") or []),
            rows=rows - read_at["row_count"], files=files - read_at["file_count"],
            extra=extra or {},
        ))

    # -- writes ------------------------------------------------------------

    #: partition directory levels are engine-managed derived columns; the
    #: prefix keeps them from ever colliding with a declared data column
    #: (identity transforms would otherwise shadow their source column and
    #: partitionBy would strip it from the data files)
    _PPREFIX = "__p_"

    def _partition_cols(self, spec: list[dict]) -> list[tuple[str, dict]]:
        """(physical partition column name, spec entry) per level of
        ``spec``: the table's current spec on the write path, each data
        directory's recorded write-time spec on reads."""
        return [
            (self._PPREFIX + partition_field_name(p["column"], p["transform"]), p)
            for p in spec
        ]

    def _write_data(
        self,
        st: _State,
        df: DataFrame,
        order_override: list | None = None,
        drop_cols: list[str] | None = None,
        distribution: str = "hash",
    ) -> tuple[str, int, int]:
        """Write one immutable data directory; return (dir, rows, files).

        Applies the physical layout ``st`` declares (the one the commit's
        write epoch stamps): columns cast to their declared types, the
        ``write_format`` property, one Hive-style directory
        level per partition_spec transform (hidden partitioning — reads
        prune on the SOURCE column, see :meth:`read`) and
        ``sortWithinPartitions`` for the declared sort_order (write-time
        clustering for compression + min/max file skipping, the
        ``WRITE ORDERED BY`` analog, ``docs/table-template-reference.md:
        180-191``). Row count comes from the written parquet footers — a
        driver-side metadata read, O(files), exactly what Iceberg stores in
        manifests — NOT from ``df.count()``, which would re-execute the
        entire input plan a second time.

        ``order_override``: sort expressions replacing the declared
        sort_order for THIS write (compaction's z-order path); columns in
        ``drop_cols`` are written out of the final projection (helper sort
        keys that must not land in the files).
        """
        dir_name = uuid.uuid4().hex
        out = self.data_dir / dir_name
        from pyspark.sql import functions as F

        # Normalize declared columns to their DECLARED Spark types before
        # writing: the read path groups dirs by write epoch and scans each
        # group with the epoch's declared types as the file schema, which
        # requires every file in the epoch to carry exactly those types (a
        # caller passing tz-µs timestamps next to an earlier ntz-ns write
        # would otherwise poison the group).
        declared_types = {c["name"]: c["type"] for c in st.meta.get("columns", [])}
        if declared_types:
            df = df.select(
                *[
                    F.col(c).cast(spark_type(declared_types[c])).alias(c)
                    if c in declared_types
                    else F.col(c)
                    for c in df.columns
                ]
            )
        # spec entries on absent columns only occur with schema enforcement
        # disabled (declared columns cleared); write unpartitioned for those
        pcols = [
            (n, p) for n, p in self._partition_cols(st.meta.get("partition_spec") or [])
            if p["column"] in df.columns
        ]
        wdf = df
        if pcols:
            wdf = wdf.select(
                "*",
                *[
                    _partition_expr(p["column"], p["transform"]).alias(name)
                    for name, p in pcols
                ],
            )
        if pcols:
            from pyspark.sql import functions as F

            if distribution == "range":
                # Iceberg's write.distribution-mode=range: range-partition
                # on (partition value, sort key) so ONE partition's rows
                # spread over many contiguous tasks — the right mode when
                # the write is a single-partition slice (partition-scoped
                # compaction rewrites the hot partition; hash mode would
                # serialize the whole rewrite onto one core). File count
                # per dir = tasks covering its range: bounded, sorted.
                # task ranges must be drawn on the SAME key the within-task
                # sort uses: under an order_override (z-order compaction)
                # ranging on the declared sort_order would give tasks whose
                # z-value bounding boxes overlap, weakening the multi-column
                # skipping the rewrite exists to provide
                if order_override is not None:
                    sort_keys = list(order_override)
                else:
                    sort_keys = [
                        F.col(o["column"])
                        for o in (st.meta.get("sort_order") or [])
                        if o["column"] in df.columns
                    ]
                range_cols = [F.col(name) for name, _ in pcols] + sort_keys
                n_tasks = wdf.sparkSession.sparkContext.defaultParallelism
                wdf = wdf.repartitionByRange(n_tasks, *range_cols)
            else:
                # hash-distribute by partition value before the partitioned
                # write (Iceberg's write.distribution-mode=hash): without it
                # every one of the N shuffle tasks writes a file into every
                # partition dir — N × dirs tiny files; with it each dir's
                # rows co-locate and the dir gets ONE well-sized file. At
                # 100 TB the shuffle is the price of a sane file count; a
                # hot partition concentrating in one task is the same
                # accepted tradeoff Iceberg's hash mode makes (range mode
                # is the skew-sensitive alternative, used by the
                # partition-scoped compactor).
                wdf = wdf.repartition(*[F.col(name) for name, _ in pcols])
        order = [
            o for o in (st.meta.get("sort_order") or []) if o["column"] in df.columns
        ]
        if order_override is not None:
            from pyspark.sql import functions as F

            wdf = wdf.sortWithinPartitions(
                *[F.col(name) for name, _ in pcols], *order_override
            )
        elif order or pcols:
            from pyspark.sql import functions as F

            sort_exprs = [F.col(name) for name, _ in pcols]
            for item in order:
                direction = item.get("direction", "asc")
                # default null order follows Iceberg/SQL: NULLS FIRST for
                # asc, NULLS LAST for desc; both explicit declarations are
                # honored (the reference's schema allows all four combos,
                # _schema.json:74-96 — Spark's bare asc() would silently
                # cluster an asc+nulls_last template nulls-first)
                null_order = item.get("null_order") or (
                    "nulls_first" if direction == "asc" else "nulls_last"
                )
                col = F.col(item["column"])
                c = {
                    ("asc", "nulls_first"): col.asc_nulls_first,
                    ("asc", "nulls_last"): col.asc_nulls_last,
                    ("desc", "nulls_first"): col.desc_nulls_first,
                    ("desc", "nulls_last"): col.desc_nulls_last,
                }[(direction, null_order)]()
                sort_exprs.append(c)
            wdf = wdf.sortWithinPartitions(*sort_exprs)
        if drop_cols:
            wdf = wdf.drop(*drop_cols)
        # the template's declared data-file format (``write_format``, the
        # reference's ``write.format.default``; ``_schema.json:97-104``):
        # parquet (default) or orc, both native Spark writers
        fmt = st.meta.get("properties", {}).get("write_format", "parquet")
        if fmt == "parquet":
            # timestamptz as INT64 TIMESTAMP_MICROS, Iceberg's physical type,
            # which carries footer min/max (Spark's default INT96 carries
            # none); a session-wide setting, so every write sets it. INT96
            # dirs written before read in the same scan.
            wdf.sparkSession.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        writer = wdf.write.format(fmt)
        if pcols:
            writer = writer.partitionBy(*[name for name, _ in pcols])
        writer.save(str(out))
        files = _list_data_files(out)
        rows = _footer_row_count(files)
        return dir_name, rows, len(files)

    @staticmethod
    def _check_columns(st: _State, df: DataFrame) -> None:
        if st.columns and set(df.columns) != set(st.columns):
            raise ValueError(
                f"Schema mismatch on write to {st.name}. "
                f"Table columns: {sorted(st.columns)}, Data columns: {sorted(df.columns)}"
            )

    def _staged_write(
        self, st: _State, df: DataFrame, audit: Callable | None, operation: str, **delta
    ) -> dict:
        """The one staged write of :meth:`append` and :meth:`overwrite`:
        write ``df`` as one dir, call ``audit(staged)``, then commit.
        ``staged()`` reads the state the commit would make from ``st`` (the
        head's rows plus the dir for an append, the dir alone for an
        overwrite), which no reader sees before ``_commit``. An audit that
        raises drops the dir (:meth:`_drop_unreferenced`, the
        losing-rewrite path) and re-raises: nothing commits or stays."""
        self._check_columns(st, df)
        dir_name, rows, files = self._write_data(st, df)
        d = _Delta(
            operation, self._write_epoch(st.meta), add=[dir_name], rows=rows, files=files, **delta
        )
        if audit is not None:
            def staged() -> DataFrame:
                entry = self._next_entry(st.name, st.entries, d)
                view = _State(st.meta, st.name, lambda: [*st.entries, entry], st.ref)
                return self._read_at(df.sparkSession, view, entry)

            try:
                audit(staged)
            except BaseException:
                self._drop_unreferenced([dir_name])
                raise
        entry = self._commit(st, d)
        log_audit_event("table_write", st.name, details={"row_count": rows, "mode": operation})
        return entry

    def overwrite(
        self, df: DataFrame, entry_extra: dict | None = None, audit: Callable | None = None
    ) -> dict:
        """Atomic full-refresh replace (the reference's write model,
        ``resources/iceberg.py:78``, ``docs/bring-your-own-data.md:220-224``).

        ``entry_extra`` — extra application fields recorded IN the commit
        entry (atomically with the data), e.g. an IVM watermark. ``audit``
        gates the commit (:meth:`_staged_write`)."""
        return self._staged_write(
            self._state(), df, audit, "overwrite", replace=True, extra=entry_extra or {}
        )

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest committed transaction version for ``app_id``, or None.

        The idempotent-write ledger (Delta's ``txnAppId``/``txnVersion``,
        Iceberg's WAP-id dedup): a writer that stamps commits with a
        monotonically increasing version can detect an already-applied
        batch after a crash-and-replay. Lives in the snapshot entries, so
        — like Delta — expiring ALL snapshots of an app also forgets its
        ledger; retention must outlast the replay window.
        """
        versions = [
            e["txn"]["version"]
            for e in self._state().entries
            if (e.get("txn") or {}).get("app_id") == app_id
        ]
        return max(versions) if versions else None

    @staticmethod
    def _txn_meta(txn: tuple[str, int] | None) -> dict:
        if txn is None:
            return {}
        return {"txn": {"app_id": txn[0], "version": int(txn[1])}}

    def _txn_applied(self, st: _State, txn: tuple[str, int] | None) -> dict | None:
        """The entry of ``st`` holding ``txn`` (:func:`_txn_holder`), checked
        BEFORE any data is written so a replay writes nothing; ``_commit``
        applies the same rule to the head on every attempt."""
        return _txn_holder(st.entries, self._txn_meta(txn).get("txn")) if txn else None

    def append(
        self, df: DataFrame, txn: tuple[str, int] | None = None, audit: Callable | None = None
    ) -> dict:
        """Append commit (the event-stream pattern, ``event_stream.yaml:4``).

        ``txn=(app_id, version)`` makes the append idempotent: a version
        at or below the app's last committed version is not applied again,
        and the entry holding it is returned (:func:`_txn_holder`) —
        exactly-once sinks for streaming ``foreachBatch`` replays. The rule
        is checked before the write and again on every commit attempt, so
        of two writers racing the same version one commits and the other
        drops its dirs and returns the winner's entry. ``audit`` gates the
        commit (:meth:`_staged_write`); a replay writes nothing and runs no
        audit.
        """
        st = self._state()
        skipped = self._txn_applied(st, txn)
        if skipped is not None:
            return skipped
        # a pure add: live equality-delete files carry forward (they scope
        # to STRICTLY LOWER sequences, so they never erase these rows)
        return self._staged_write(st, df, audit, "append", extra=self._txn_meta(txn))

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        hard: bool = False,
        mode: str = "cow",
    ) -> dict:
        """Row-level delete: commit a snapshot WITHOUT the rows matching
        ``condition`` (a SQL boolean expression) — the copy-on-write form
        of Iceberg's ``DELETE FROM`` (rewrite affected data; old snapshots
        keep serving the pre-delete rows for time travel).

        ``hard=True`` is the right-to-erasure composition the compliance
        guide's lifecycle rules imply (``docs/compliance.md:121-130``): a
        plain delete leaves the rows readable via time travel until
        retention expires them, so a GDPR/CCPA erase = delete + expire
        every pre-delete snapshot + drop the orphaned directories — after
        it returns, no snapshot can serve the deleted rows.

        Returns the commit entry; its audit record carries
        ``deleted_count`` (``delete_keys`` for ``mode='mor'``).
        Copy-on-write is the 100 TB-honest default here because
        snapstore tracks directory-granularity manifests; an engine with
        file-level manifests would rewrite only affected files
        (merge-on-read position deletes are the low-latency alternative).

        CAUTION (same as Iceberg's remove_orphan_files guidance): the
        hard path drops unreferenced directories with NO grace window —
        run it without concurrent writers, or an in-flight write that has
        materialized its directory but not yet committed can lose it.

        ``mode='mor'`` is the merge-on-read form (Iceberg v2 equality
        deletes — the low-write-amplification path the reference's engine
        comparison credits to Hudi for CDC workloads): instead of
        rewriting the table, the matched rows' identifier-field tuples
        land in a tiny delete file and every read anti-joins it until
        :meth:`compact` materializes. One scan of the table evaluates the
        condition; the write is O(deleted keys), not O(table). Requires ``identifier_fields`` in the table template;
        deletes at KEY granularity (every row sharing a matched row's key
        dies — identifier fields are expected unique, Iceberg's
        identifier-field contract). ``hard=True`` is CoW-only.

        Races (ARCHITECTURE.md, "Commits"): both forms keep rows appended
        after the delete read the table, matching or not. The copy-on-write
        form rewrites what it read, so a merge-on-read delete committed
        meanwhile still applies to its output, and a concurrent rewrite of
        the same files (a compaction, another copy-on-write DML) makes the
        second to commit raise CommitConflictError.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"delete_where: mode must be 'cow' or 'mor', got {mode!r}")
        st = self._state()
        if hard and getattr(self, "branch_name", None) is not None:
            # hard erasure expires history and drops dirs TABLE-WIDE; a
            # branch shares main's data dirs — erase on main, not a ref
            raise ValueError(
                "delete_where(hard=True) is table-wide erasure — run it on "
                f"the MAIN table, not branch {self.branch_name!r}"
            )
        if mode == "mor":
            if hard:
                raise ValueError(
                    "delete_where: hard erasure requires mode='cow' — a MoR "
                    "delete leaves the bytes in the data files by design"
                )
            return self._delete_where_mor(spark, st, condition)
        snap = st.snapshot(None, None)
        # SQL DELETE removes rows where the predicate is TRUE — rows where
        # it evaluates NULL (e.g. `region = 'us'` on a NULL region) are
        # KEPT. A bare NOT(cond) filter would silently drop them.
        kept = self._read_at(spark, st, snap).filter(f"NOT (({condition}) <=> TRUE)")
        written = self._write_data(st, kept)
        entry = self._commit_rewrite(st, "delete", written)
        # data-file rows the rewrite dropped: after MoR deletes these
        # include the erased images it materialized
        deleted = snap["row_count"] - written[1]
        log_audit_event("table_write", st.name, details={
            "mode": "delete", "condition": condition, "deleted_count": deleted, "hard": hard,
        })
        if hard:
            # expire EVERYTHING but the delete snapshot, then drop the
            # now-unreferenced data dirs immediately (no grace: the point
            # is that the bytes are gone)
            self.expire_snapshots(older_than_ms=_now_ms() + 1)
            self.remove_orphan_files(grace_ms=0)
        return entry

    #: sidecar holding a delete dir's written Spark schema (JSON), so
    #: reads pass it instead of inferring it in a Spark job
    _KEY_SCHEMA = "_key_schema.json"

    def _write_delete_keys(self, st: _State, keys: DataFrame) -> tuple[str, int]:
        """Write ``keys`` (identifier-column tuples) as one new
        equality-delete dir; return its name and its key count (from the
        written footers). Sidecars next to the data (underscore prefixes
        keep Spark's parquet scan from reading them):

        - ``_key_ids.json``: the key columns' name→field-id mapping AT
          WRITE TIME. Delete files are keyed by field id like data files:
          a later evolve_rename_column on an identifier field must not
          break the read-time anti-join — reads resolve these ids back to
          the then-current declared names (see :meth:`_read_delete_keys`);
        - ``_key_schema.json``: the written schema."""
        dir_name = f"mordel-{uuid.uuid4().hex}"
        out = self.data_dir / dir_name
        keys.write.parquet(str(out))
        col_ids = self._column_ids(st.meta)
        (out / "_key_ids.json").write_text(
            json.dumps({c: col_ids[c] for c in keys.columns})
        )
        (out / self._KEY_SCHEMA).write_text(keys.schema.json())
        return dir_name, _footer_row_count(_list_data_files(out))

    def _delete_where_mor(self, spark: SparkSession, st: _State, condition: str) -> dict:
        """MoR ``delete_where``: one scan of the table, for the condition,
        writes the matched keys as an equality-delete dir; the commit
        references it and leaves the data dirs, ``row_count`` and
        ``file_count`` as they were."""
        ids = st.meta.get("identifier_fields")
        if not ids:
            raise ValueError(
                "delete_where(mode='mor') needs 'identifier_fields' in the "
                f"table template of {st.name} — equality deletes are "
                "keyed on them (Iceberg identifier-field-ids)"
            )
        missing = [c for c in ids if c not in st.columns]
        if missing:
            raise ValueError(
                f"delete_where(mode='mor'): identifier fields {missing} "
                f"not table columns"
            )
        matched = (
            self._read_at(spark, st, st.snapshot(None, None))
            .filter(f"({condition}) <=> TRUE").select(*ids).dropDuplicates()
        )
        dir_name, delete_keys = self._write_delete_keys(st, matched)
        entry = self._commit(
            st, _Delta("delete", self._write_epoch(st.meta), add_deletes=[dir_name])
        )
        log_audit_event("table_write", st.name, details={
            "mode": "delete_mor", "condition": condition, "delete_keys": delete_keys,
        })
        return entry

    def update_where(
        self, spark: SparkSession, condition: str, set_exprs: dict[str, str]
    ) -> dict:
        """Row-level UPDATE: commit a snapshot where rows matching
        ``condition`` have each column in ``set_exprs`` replaced by its SQL
        expression (evaluated against the old row) — the copy-on-write
        ``UPDATE`` analog, completing the DML triad next to
        :meth:`delete_where` and the SCD2 MERGE. Unmatched rows carry
        over byte-identical; old snapshots keep the pre-update state.

        A race keeps rows appended after the update read the table (not
        updated) and deletes committed meanwhile; a concurrent rewrite of
        the same files makes the second to commit raise
        CommitConflictError (as :meth:`delete_where`).
        """
        from pyspark.sql import functions as F

        st = self._state()
        unknown = set(set_exprs) - set(st.columns)
        if unknown:
            raise ValueError(f"update_where: unknown columns {sorted(unknown)}")
        current = self._read_at(spark, st, st.snapshot(None, None))
        cond = F.expr(condition)
        updated = current.select(
            *[
                F.when(cond, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in current.columns
            ]
        )
        entry = self._commit_rewrite(st, "update", self._write_data(st, updated))
        log_audit_event("table_write", st.name, details={
            "mode": "update", "condition": condition, "set_columns": sorted(set_exprs),
        })
        return entry

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: str,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        txn: tuple[str, int] | None = None,
        entry_extra: dict | None = None,
    ) -> dict:
        """``MERGE INTO`` — the copy-on-write upsert completing the DML
        triad (Iceberg's flagship CDC write path; the reference weighs
        engines by exactly this: "Hudi has better upsert performance for
        CDC workloads", ``docs/deep-dive.md``).

        The table is aliased ``t`` and ``source`` is aliased ``s``; every
        SQL expression in ``on`` and the clause dicts references columns
        through those prefixes (``t.id = s.id``). Clause lists follow
        Spark's ``MergeIntoWriter`` shape, first-match-wins per row:

        - ``when_matched``: ``{"action": "update", "set": {col: expr}}``
          or ``{"action": "delete"}``, each with an optional
          ``"condition"`` expression. ``"set": "*"`` updates every
          target column from the same-named source column.
        - ``when_not_matched``: ``{"action": "insert", "values":
          {col: expr}}`` (``"values": "*"`` inserts by name; omitted
          columns become typed NULLs).
        - ``when_not_matched_by_source``: ``update``/``delete`` clauses
          whose expressions may only reference ``t`` (Spark 3.4+
          ``WHEN NOT MATCHED BY SOURCE``).

        A target row matched by more than one source row raises
        ``ValueError`` (Spark's MERGE_CARDINALITY_VIOLATION): the update
        would be non-deterministic. The check is one aggregate over the
        persisted join output, mirroring Spark's runtime assertion.

        Scale shape: ONE full-outer join on the ON condition is the only
        shuffle (AQE broadcast-optimizes a small CDC batch side), then a
        single projection derives every output column from a per-row
        clause verdict — no per-clause passes. Copy-on-write rewrite, same
        honesty note as :meth:`delete_where`; merge-on-read deletes are
        the low-latency alternative an engine with file-level manifests
        would pick. Races as :meth:`delete_where`'s copy-on-write form:
        rows appended after the merge read the target are kept as they
        are (a source key they share is not matched against them), and a
        concurrent rewrite of the same files raises CommitConflictError.
        """
        return self._merge_into(
            spark, self._state(), source, on, when_matched, when_not_matched,
            when_not_matched_by_source, txn, entry_extra,
        )

    def _merge_into(
        self,
        spark: SparkSession,
        st: _State,
        source: DataFrame,
        on: str,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        txn: tuple[str, int] | None = None,
        entry_extra: dict | None = None,
    ) -> dict:
        """:meth:`merge_into` against state ``st``."""
        from pyspark.sql import functions as F

        skipped = self._txn_applied(st, txn)
        if skipped is not None:
            return skipped
        declared = st.columns
        types = {c["name"]: c["type"] for c in st.meta.get("columns", [])}
        when_matched = list(when_matched or [])
        when_not_matched = list(when_not_matched or [])
        when_not_matched_by_source = list(when_not_matched_by_source or [])
        if not (when_matched or when_not_matched or when_not_matched_by_source):
            raise ValueError("merge_into: at least one WHEN clause is required")

        matched, not_matched, by_source = _normalize_merge_clauses(
            declared, when_matched, when_not_matched, when_not_matched_by_source
        )

        target = (
            self._read_at(spark, st, st.snapshot(None, None))
            .withColumn("__sg_t_id", F.monotonically_increasing_id())
            .alias("t")
        )
        src = source.withColumn("__sg_s_mark", F.lit(True)).alias("s")
        joined = target.join(src, F.expr(on), "full_outer").persist()
        try:
            t_here = F.col("t.__sg_t_id").isNotNull()
            s_here = F.col("s.__sg_s_mark").isNotNull()

            if matched or by_source:
                dup = (
                    joined.filter(t_here & s_here)
                    .groupBy("t.__sg_t_id")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .filter("n > 1")
                    .limit(1)
                    .count()
                )
                if dup:
                    raise ValueError(
                        "merge_into: MERGE cardinality violation — a target "
                        "row matches more than one source row; aggregate the "
                        "source to one row per key first"
                    )

            # one ordered verdict per row; every output column reads it
            verdict = None
            labels: dict[str, dict] = {}

            def _add(pred, label, clause):
                nonlocal verdict
                cond = pred
                if clause["condition"]:
                    cond = cond & F.expr(clause["condition"])
                # deletes keep a distinct label ("d"+label) so merge_stats
                # can tell deleted target rows from skipped source rows
                lab = "d" + label if clause["action"] == "delete" else label
                if clause["action"] != "delete":
                    labels[label] = clause
                verdict = (
                    F.when(cond, F.lit(lab))
                    if verdict is None
                    else verdict.when(cond, F.lit(lab))
                )

            for i, c in enumerate(matched):
                _add(t_here & s_here, f"m{i}", c)
            for i, c in enumerate(by_source):
                _add(t_here & ~s_here, f"b{i}", c)
            # unmatched-by-any-clause target rows carry over unchanged
            verdict = (
                F.when(t_here, F.lit("keep"))
                if verdict is None
                else verdict.when(t_here, F.lit("keep"))
            )
            for i, c in enumerate(not_matched):
                _add(s_here, f"i{i}", c)
            verdict = verdict.otherwise(F.lit("skip"))

            tagged = joined.withColumn("__sg_verdict", verdict)
            stats = {
                r["__sg_verdict"]: r["n"]
                for r in tagged.groupBy("__sg_verdict")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

            def _out(col: str):
                expr = None
                for label, clause in labels.items():
                    if clause["action"] == "update" and col not in clause["exprs"]:
                        continue  # update leaves unlisted columns at t.col
                    val = (
                        F.expr(clause["exprs"][col])
                        if col in clause["exprs"]
                        else F.lit(None)
                    ).cast(spark_type(types[col]))
                    pred = F.col("__sg_verdict") == label
                    expr = F.when(pred, val) if expr is None else expr.when(pred, val)
                base = F.col(f"t.{col}")
                return (base if expr is None else expr.otherwise(base)).alias(col)

            # rows to write: everything except deletes (dm*/db*) and
            # source rows no insert clause claimed (skip)
            result = tagged.filter(
                ~F.col("__sg_verdict").startswith("d")
                & (F.col("__sg_verdict") != "skip")
            ).select(*[_out(c) for c in declared])
            self._check_columns(st, result)
            written = self._write_data(st, result)
        finally:
            joined.unpersist()

        merge_stats = {
            "updated": sum(n for v, n in stats.items() if v[0] in "mb"),
            "inserted": sum(n for v, n in stats.items() if v[0] == "i"),
            "deleted": sum(n for v, n in stats.items() if v[0] == "d"),
            "unchanged": stats.get("keep", 0),
        }
        entry = self._commit_rewrite(st, "merge", written, {
            **(entry_extra or {}), "merge_stats": merge_stats, **self._txn_meta(txn),
        })
        log_audit_event("table_write", st.name, details={
            "mode": "merge", "on": on, **merge_stats,
        })
        return entry

    def merge_into_sql(
        self,
        source_view: str,
        on: str,
        when_matched: list[dict] | None = None,
        when_not_matched: list[dict] | None = None,
        when_not_matched_by_source: list[dict] | None = None,
        table_fq: str | None = None,
    ) -> str:
        """Render the equivalent ``MERGE INTO`` statement for a real
        warehouse (Iceberg/Delta on a cluster with the runtime jar; see
        ``tables/catalog_conf.py``) from the SAME clause dicts
        :meth:`merge_into` executes locally — the swap-in path: develop
        and test the merge locally, ship the rendered SQL to production.
        Same first-match-wins semantics (Spark evaluates MERGE clauses in
        order), same ``"*"`` expansion, same validation.
        """
        st = self._state()
        matched, not_matched, by_source = _normalize_merge_clauses(
            st.columns,
            list(when_matched or []),
            list(when_not_matched or []),
            list(when_not_matched_by_source or []),
        )
        if not (matched or not_matched or by_source):
            raise ValueError("merge_into_sql: at least one WHEN clause is required")

        def _when(prefix: str, clause: dict) -> str:
            head = prefix + (f" AND ({clause['condition']})" if clause["condition"] else "")
            if clause["action"] == "delete":
                return f"{head} THEN DELETE"
            if clause["action"] == "update":
                sets = ", ".join(
                    f"t.{c} = {e}" for c, e in clause["exprs"].items()
                )
                return f"{head} THEN UPDATE SET {sets}"
            cols = ", ".join(clause["exprs"])
            vals = ", ".join(clause["exprs"].values())
            return f"{head} THEN INSERT ({cols}) VALUES ({vals})"

        lines = [
            f"MERGE INTO {table_fq or st.name} t",
            f"USING {source_view} s",
            f"ON {on}",
        ]
        lines += [_when("WHEN MATCHED", c) for c in matched]
        lines += [_when("WHEN NOT MATCHED", c) for c in not_matched]
        lines += [_when("WHEN NOT MATCHED BY SOURCE", c) for c in by_source]
        return "\n".join(lines)

    def apply_changelog(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str | None = None,
        txn: tuple[str, int] | None = None,
        mode: str = "cow",
    ) -> dict:
        """Apply a CDC changelog (Debezium/Hudi-style ``I``/``U``/``D``
        rows) as ONE merge commit — the upsert workload the reference's
        engine comparison centers on (``docs/deep-dive.md``: "Hudi has
        better upsert performance for CDC workloads").

        ``changes`` carries the table's columns plus ``op_col`` (values
        ``I``/``U``/``D``) and optionally ``seq_col`` (LSN / commit
        timestamp). When ``seq_col`` is given, the batch is first
        compacted to the LATEST change per key (window over the keys,
        descending sequence) so replaying a multi-change batch lands on
        the end state — without it, a key appearing twice in one batch is
        a cardinality violation, which :meth:`merge_into` raises on
        rather than applying nondeterministically.

        I and U both upsert (insert if absent, update if present — CDC
        streams routinely replay inserts); D deletes when present and is
        a no-op when absent.
        """
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        st = self._state()
        declared = st.columns
        missing = [c for c in key_cols if c not in declared]
        if missing:
            raise ValueError(f"apply_changelog: keys {missing} not table columns")
        if mode not in ("cow", "mor"):
            raise ValueError(
                f"apply_changelog: mode must be 'cow' or 'mor', got {mode!r}"
            )
        if seq_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(
                F.col(seq_col).desc(), F.col(op_col).desc()
            )
            changes = (
                changes.withColumn("__sg_rn", F.row_number().over(w))
                .filter("__sg_rn = 1")
                .drop("__sg_rn")
            )
        if mode == "mor":
            return self._apply_changelog_mor(st, changes, key_cols, op_col, txn)
        on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
        data_cols = [c for c in declared if c not in key_cols]
        return self._merge_into(
            spark,
            st,
            changes,
            on,
            when_matched=[
                {"action": "delete", "condition": f"s.{op_col} = 'D'"},
                {"action": "update", "set": {c: f"s.{c}" for c in data_cols}},
            ],
            when_not_matched=[
                {
                    "action": "insert",
                    "condition": f"s.{op_col} <> 'D'",
                    "values": {c: f"s.{c}" for c in declared},
                }
            ],
            txn=txn,
        )

    def _apply_changelog_mor(
        self,
        st: _State,
        changes: DataFrame,
        key_cols: list[str],
        op_col: str,
        txn: tuple[str, int] | None,
    ) -> dict:
        """Merge-on-read CDC apply — the Hudi-MoR upsert shape the
        reference's engine comparison credits for CDC workloads
        (``docs/deep-dive.md:83``): ONE commit carrying (a) an
        equality-delete file with every changed key and (b) a data file
        with the new images of upserted rows. O(changes): it writes the
        batch's keys and new images and never reads the table —
        ``row_count`` grows by the new images (it counts data-file rows,
        Iceberg's ``total-records``), and ``merge_stats.delete_keys`` is
        the delete file's footer count. Reads resolve by sequence scoping:
        the delete file erases OLD images only (strictly lower commit
        sequence), so the same commit's new images survive;
        :meth:`compact` folds everything down.

        A key repeated in the batch is the cardinality violation the COW
        path raises on: the batch's row count, observed on the delete-key
        write, must equal that write's distinct key count.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        skipped = self._txn_applied(st, txn)
        if skipped is not None:
            return skipped
        # two small scans of the batch cost less than caching it, which
        # AQE materializes in a job of its own; every evaluation yields
        # the same key set, and the images come from one of them
        batch = Observation()
        del_dir, delete_keys = self._write_delete_keys(
            st, changes.select(*key_cols).observe(batch, F.count(F.lit(1)).alias("n"))
            .dropDuplicates()
        )
        if batch.get["n"] != delete_keys:
            self._drop_unreferenced([del_dir])
            raise ValueError(
                "apply_changelog: MERGE cardinality violation — a key appears "
                "more than once in the batch; pass seq_col or reduce the batch "
                "to one row per key first"
            )
        up_dir, up_rows, up_files = self._write_data(
            st, changes.filter(f"{op_col} <> 'D'").select(*st.columns)
        )

        entry = self._commit(st, _Delta(
            "merge", self._write_epoch(st.meta), add=[up_dir], add_deletes=[del_dir],
            rows=up_rows, files=up_files,
            extra={
                "merge_stats": {"upserted": up_rows, "delete_keys": delete_keys, "mode": "mor"},
                **self._txn_meta(txn),
            },
        ))
        log_audit_event("table_write", st.name, details={
            "mode": "merge_mor", "upserted": up_rows, "delete_keys": delete_keys,
        })
        return entry

    def rollback_to(self, snapshot_id: str) -> dict:
        """Roll the table back to an earlier snapshot — Iceberg's
        ``rollback_to_snapshot`` procedure: a NEW commit that re-references
        the old snapshot's data directories (metadata-only, nothing
        rewritten), so the rollback itself is in the history and can be
        rolled back in turn. The intervening snapshots stay
        time-travelable until retention expires them.
        """
        st = self._state()
        target = st.snapshot(snapshot_id, None)

        entry = self._commit(st, _Delta(
            # restore the WRITE EPOCH of the target so epoch-grouped reads
            # treat the re-referenced dirs under their original
            # schema/spec, not the current one
            "rollback", _epoch_of(target),
            add=list(target["data_dirs"]), add_deletes=list(target.get("delete_dirs") or []),
            rows=target["row_count"], files=target["file_count"], replace=True,
            # the target's sequence, so `history` can reconstruct the
            # current-ancestor chain (snapshots between the target and
            # this commit left the head lineage — Iceberg's
            # is_current_ancestor=false rows)
            extra={"rollback_of": target["sequence"]},
        ))
        log_audit_event("table_write", st.name, details={
            "mode": "rollback", "to_snapshot": snapshot_id,
        })
        return entry

    def cherrypick_snapshot(self, snapshot_id: str) -> dict:
        """Re-apply ONE append snapshot's delta onto the current head —
        Iceberg's ``cherrypick_snapshot`` procedure (metadata-only:
        the target's NEW data directories are re-referenced, nothing
        is rewritten). The recovery shape it exists for: after a
        ``rollback_to`` skipped past a bad commit, cherry-pick the good
        commits that followed it back one by one.

        Only ``append`` snapshots are cherry-pickable (Iceberg has the
        same restriction — a delete/overwrite delta is not expressible
        as a directory re-reference). Directories whose rows the head
        already references are skipped — DIRECTLY (the dir or one of its
        kept-leaf subpaths is in the head's ``data_dirs``) or through
        REWRITE LINEAGE (a compact/rewrite commit recorded the dir in its
        ``absorbed_dirs`` map and the rewrite's output is reachable from
        the head): without the lineage walk, cherry-picking an append
        whose delta a later ``rewrite_data_files`` absorbed would
        re-append rows the head already holds. Cherry-picking a fully
        covered snapshot is a no-op returning the current snapshot
        unchanged; a partially covered one re-references only the
        uncovered dirs, with ``row_count``/``file_count`` deltas computed
        from those dirs' file footers (metadata-only), never the full
        target-parent delta.

        Lineage survives expiry by construction: ``expire_snapshots``
        drops entries oldest-first, so a rewrite's ``absorbed_dirs``
        record can only leave the log AFTER every (older) snapshot it
        absorbed — i.e. after those targets stop being cherry-pickable
        at all.

        Known divergence (shared with Iceberg's procedure): coverage is
        DIRECTORY-level, not row-level — cherry-picking an append whose
        rows were later DML-DELETED (or whose partition-scoped rewrite
        materialized to nothing because every row was MoR-deleted)
        re-references the dirs and resurrects those rows; deletes are
        not part of an append's re-applicable delta.
        """
        st = self._state()
        target = st.snapshot(snapshot_id, None)
        if target.get("operation") != "append":
            raise ValueError(
                f"cherrypick_snapshot: {snapshot_id!r} is a "
                f"{target.get('operation')!r} snapshot — only append "
                "snapshots are cherry-pickable"
            )
        entries = st.entries
        idx = next(
            i for i, e in enumerate(entries)
            if e["sequence"] == target["sequence"]
        )
        parent = entries[idx - 1] if idx > 0 else None
        parent_dirs = set(parent["data_dirs"]) if parent else set()
        delta_dirs = [
            d for d in target["data_dirs"] if d not in parent_dirs
        ]
        current = entries[-1]
        # top-level dir segments whose rows the head can reach: seed with
        # the head's references, then walk rewrite lineage (absorbed_dirs
        # maps recorded by compact) to a fixed point. Conservative by
        # construction — over-covering turns a would-be duplicate append
        # into a no-op, never the reverse.
        absorbed_by: dict[str, set[str]] = {}
        for e in entries:
            for nd, ab in (e.get("absorbed_dirs") or {}).items():
                absorbed_by.setdefault(nd.split("/", 1)[0], set()).update(
                    p.split("/", 1)[0] for p in ab
                )
        reached = {d.split("/", 1)[0] for d in current["data_dirs"]}
        frontier = list(reached)
        while frontier:
            for t_ in absorbed_by.get(frontier.pop(), ()):
                if t_ not in reached:
                    reached.add(t_)
                    frontier.append(t_)
        new_dirs = [
            d for d in delta_dirs if d.split("/", 1)[0] not in reached
        ]
        if not new_dirs:
            return current
        # deltas from the dirs actually re-referenced — on partial
        # coverage the target-parent delta would overstate both counts
        new_files_list = [
            f for d in new_dirs for f in _list_data_files(self.data_dir / d)
        ]
        # the delta dirs were written under the TARGET's epoch: carry its
        # schema/spec stamps so epoch-grouped reads project them correctly
        # (same contract as the branch replay)
        entry = self._commit(st, _Delta(
            "append", _epoch_of(target), add=new_dirs,
            rows=_footer_row_count(new_files_list), files=len(new_files_list),
        ))
        log_audit_event("table_write", st.name, details={
            "mode": "cherrypick_snapshot", "source_snapshot": snapshot_id,
        })
        return entry

    def read_changes(
        self, spark: SparkSession, from_snapshot_id: str, to_snapshot_id: str | None = None
    ) -> DataFrame:
        """Row-level changelog between two snapshots (Delta CDF /
        Iceberg changelog-scan analog): every row only in the newer
        snapshot tagged ``insert``, every row only in the older tagged
        ``delete`` — an UPDATE surfaces as its delete+insert pair.
        Works across ANY operations (overwrite, delete, update, compact),
        where :meth:`read_incremental` covers only append-only chains.

        Cost honesty: without stored per-file diffs this is two
        ``exceptAll`` passes over both snapshots (multiset semantics, so
        duplicate rows diff correctly) — CDC-on-demand, O(|old| + |new|)
        shuffle. An engine with file-granular manifests diffs manifests
        first and scans only changed files; snapstore's
        directory-granular manifests make the data pass the honest price.
        """
        from pyspark.sql import functions as F

        st = self._state()
        old = self._read_at(spark, st, st.snapshot(from_snapshot_id, None))
        new = self._read_at(spark, st, st.snapshot(to_snapshot_id, None))

        inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return inserts.unionByName(deletes)

    # -- reads -------------------------------------------------------------

    @staticmethod
    def _entry_dirs(e: dict) -> list[str]:
        """Every directory a log entry references: data dirs plus any
        merge-on-read equality-delete dirs — retention/orphan logic must
        protect both."""
        return list(e.get("data_dirs", [])) + list(e.get("delete_dirs") or [])

    @staticmethod
    def _column_ids(meta: dict) -> dict[str, int]:
        """Declared column name → field id (every declared column has
        one)."""
        return {c["name"]: c["id"] for c in meta.get("columns", [])}

    @classmethod
    def _write_epoch(cls, meta: dict) -> dict:
        """The write-time metadata stamped on every commit entry, so reads
        can reconstruct how each data directory was PHYSICALLY written long
        after the declared schema/layout has evolved:

        - ``column_ids``: name → field id (field-id projection; rename /
          drop+re-add safety);
        - ``column_types``: name → declared type at write time — a widened
          column (int→long) leaves pre-widen files as int; grouping reads
          by type epoch gives each scan the one schema its files carry
          and lets each epoch cast up to the declared type independently;
        - ``partition_spec``: the layout this directory was written under —
          partition-spec evolution means new writes use the new layout
          while old dirs keep (and are pruned by) their own.
        """
        return {
            "column_ids": cls._column_ids(meta),
            "column_types": {c["name"]: c["type"] for c in meta.get("columns", [])},
            "partition_spec": meta.get("partition_spec") or [],
            # the file format the dir was physically written in — reads
            # must pick the matching Spark data source per epoch
            "write_format": meta.get("properties", {}).get("write_format", "parquet"),
        }

    @staticmethod
    def _project_declared(st: _State, df: DataFrame, written_ids: dict) -> DataFrame:
        """Project a frame of raw data files to the declared table schema:
        declared names, declared order, cast to declared types.

        Always applied, never gated on a name-set comparison, and resolved
        by FIELD ID, not name (``written_ids`` is the name→id mapping the
        files were written under): Iceberg's field-id semantics make a
        column that is dropped and later re-added a FRESH column — its
        pre-drop bytes still sit in old data files, and a name-based
        projection would silently resurrect them (a governance leak when
        the drop removed PII). A declared column reads from a file only when
        the file was written under the SAME field id; otherwise it reads as
        typed NULL.
        """
        declared = st.meta.get("columns", [])
        if not declared:
            return df
        from pyspark.sql import functions as F

        out = []
        for c in declared:
            typ = spark_type(c["type"])
            # the declared field reads from WHATEVER file column carries its
            # id — this is what makes RENAME safe (old files keep serving
            # the renamed column) while a dropped-then-re-added name (fresh
            # id) correctly reads NULL
            source = next(
                (f for f, fid in written_ids.items() if fid == c["id"] and f in df.columns),
                None,
            )
            value = F.col(source) if source is not None else F.lit(None)
            out.append(value.cast(typ).alias(c["name"]))
        # the MoR read plan's sequence tag rides through the projection
        return df.select(*out, *[c for c in (_DATA_SEQ,) if c in df.columns])

    def _leaf_dirs(
        self,
        roots: list[Path],
        filters: list[tuple] | None,
        spec: list[dict],
    ) -> list[str]:
        """Enumerate data directories under ``roots``, pruning partition
        levels that cannot match ``filters``.

        ``filters`` are simple conjunctive predicates ``(column, op, value)``
        with op in ``= >= > <= < in`` (``in`` takes an iterable of values —
        the probe-pruning shape: an IVF cell set, a key list) on the
        partition SOURCE columns (hidden
        partitioning: callers never name ``ts_day``, they constrain ``ts``).
        Range ops relax to the transformed granularity (``ts > X`` keeps the
        whole day-partition holding X); the residual row filter restores
        exactness. Listing is driver-side and O(partition dirs) — the same
        metadata-only role Iceberg gives manifest pruning. ``spec`` is the
        layout the dirs were written under.
        """
        pcols = self._partition_cols(spec)
        if not pcols:
            return [str(r) for r in roots]
        filters = filters or []

        def matches(val: str, p: dict) -> bool:
            for col, op, bound in filters:
                if col != p["column"]:
                    continue
                t = p["transform"]
                if op == "in":
                    # dir survives iff its value matches ANY member's
                    # rendering; an unrenderable member makes the whole
                    # IN unprunable (residual row filter restores exactness)
                    opts = []
                    prunable = True
                    for b in bound:
                        r = _bucket_of(b, t) if t.startswith("bucket[") else _transform_bound(b, t)
                        if r is None:
                            prunable = False
                            break
                        opts.append(r)
                    if prunable and all(_cmp_vals(val, r) != 0 for r in opts):
                        return False
                    continue
                if op == "=" and t.startswith("bucket["):
                    b = _bucket_of(bound, t)
                    if b is not None and val != b:
                        return False
                    continue
                rendered = _transform_bound(bound, t)
                if rendered is None:
                    continue
                c = _cmp_vals(val, rendered)
                if op == "=" and c != 0:
                    return False
                if op in (">=", ">") and c < 0:
                    return False
                if op in ("<=", "<") and c > 0:
                    return False
                # strict bounds are exact on injective transforms, and a
                # strict upper bound at the exact partition floor excludes
                # the boundary partition (half-open range idiom)
                if c == 0 and op in ("<", ">") and t == "identity":
                    return False
                if c == 0 and op == "<" and _at_partition_floor(bound, t):
                    return False
            return True

        leaves: list[str] = []

        def descend(path: Path, level: int) -> None:
            if level == len(pcols):
                leaves.append(str(path))
                return
            name, p = pcols[level]
            prefix = name + "="
            matched_any = False
            for child in sorted(path.iterdir()):
                if child.is_dir() and child.name.startswith(prefix):
                    matched_any = True
                    val = unquote(child.name[len(prefix):])
                    if matches(val, p):
                        descend(child, level + 1)
            if not matched_any:
                # dir written before this partition level existed (legacy /
                # enforcement-disabled write) — unprunable, scan it whole
                leaves.append(str(path))

        for root in roots:
            if not root.exists():
                continue
            # a root may itself be a partition SUBPATH (partition-scoped
            # compaction keeps a split dir's unmatched leaves as direct
            # references): resume the descent at the level the subpath
            # already sits at, and let filters prune on its own segments
            level = 0
            pruned = False
            try:
                rel_parts = root.relative_to(self.data_dir).parts[1:]
            except ValueError:
                rel_parts = ()
            for seg in rel_parts:
                if level < len(pcols) and seg.startswith(pcols[level][0] + "="):
                    name, p = pcols[level]
                    if not matches(unquote(seg[len(name) + 1:]), p):
                        pruned = True
                        break
                    level += 1
            if not pruned:
                descend(root, level)
        return leaves

    @staticmethod
    def _empty_declared(spark: SparkSession, meta: dict) -> DataFrame:
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField(c["name"], spark_type(c["type"])) for c in meta.get("columns", [])]
        )
        return spark.createDataFrame([], schema)

    @staticmethod
    def _apply_row_filters(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
        if not filters:
            return df
        from pyspark.sql import functions as F

        ops = {
            "=": lambda c, v: c == v,
            ">=": lambda c, v: c >= v,
            ">": lambda c, v: c > v,
            "<=": lambda c, v: c <= v,
            "<": lambda c, v: c < v,
        }
        for col, op, value in filters:
            if op == "in":
                vals = list(value)
                if not vals:
                    # Column.isin() with zero args raises; an empty IN list
                    # matches nothing — same verdict _dirs_survive reaches
                    # for directory pruning.
                    df = df.filter(F.lit(False))
                else:
                    df = df.filter(F.col(col).isin(*[F.lit(v) for v in vals]))
            else:
                df = df.filter(ops[op](F.col(col), F.lit(value)))
        return df

    def read(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        as_of_ms: int | None = None,
        filters: list[tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read the table — current state, or time-travel by id/timestamp,
        or at a named tag (Iceberg's ``VERSION AS OF 'v1'``).

        ``filters`` — optional ``(column, op, value)`` conjuncts — prune
        partition directories BEFORE Spark ever lists a file (hidden
        partitioning: predicates on the source column skip non-matching
        ``day(ts)``/``hour(ts)`` folders, the reference's headline read
        optimization, ``docs/table-template-reference.md:133-168``), then
        re-apply as row filters for exact semantics.

        After a schema evolution (:meth:`evolve_add_column`), directories
        written before the evolution lack the new columns; each write
        epoch is scanned with its own recorded schema and the
        unconditional declared-schema projection fills the gaps with typed
        NULLs — Iceberg's read-time schema resolution.
        """
        if tag is not None:
            if snapshot_id is not None or as_of_ms is not None:
                raise ValueError("read: pass at most one of tag/snapshot_id/as_of_ms")
            snapshot_id = self.tag(tag)["snapshot_id"]
        st = self._state()
        return self._read_at(spark, st, st.snapshot(snapshot_id, as_of_ms), filters)

    def _read_at(
        self, spark: SparkSession, st: _State, snap: dict, filters: list[tuple] | None = None
    ) -> DataFrame:
        """:meth:`read` of snapshot ``snap`` of state ``st``: also a
        rewrite's input, which therefore is exactly the head it commits
        against (``read_at``)."""
        log_audit_event("table_read", st.name, details={"snapshot_id": snap["snapshot_id"]})
        if not snap["data_dirs"]:
            # a committed snapshot CAN be legitimately empty (delete-all
            # then compact materializes to zero files): DELETE FROM t;
            # SELECT * must serve 0 typed rows, not an error
            return self._apply_row_filters(self._empty_declared(spark, st.meta), filters)
        return self._read_mor(
            spark, st, snap["data_dirs"], snap.get("delete_dirs") or [], filters
        )

    def _read_mor(
        self,
        spark: SparkSession,
        st: _State,
        dirs: list[str],
        ddirs: list[str],
        filters: list[tuple] | None,
        leaves: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """The merge-on-read plan: data ``dirs`` with the equality-delete
        files ``ddirs`` (Iceberg v2) applied. Each snapshot carries exactly
        the delete files committed up to it, so time travel before a MoR
        delete still serves the deleted rows.

        SEQUENCE SCOPING (Iceberg's rule): a delete file applies only to
        data files with a STRICTLY LOWER commit sequence — a MoR upsert
        commits its delete keys and replacement rows together, and the
        delete must not erase its own replacements. The plan is one scan
        per write epoch whose rows carry their dir's intro sequence, one
        scan of the delete keys carrying theirs, and ONE anti-join on
        ``keys equal AND del_seq > data_seq`` — flat in the number of
        delete files. Delete files no data dir sits below are dropped
        before planning; with none left the plan is the plain scan."""
        intro = st.dir_intro_seqs if ddirs else {}
        floor = min((intro.get(d, -1) for d in dirs), default=-1)
        ddirs = [dd for dd in ddirs if intro.get(dd, -1) > floor]
        if not ddirs:
            return self._read_dirs(spark, st, dirs, filters, leaves=leaves)
        data = self._read_dirs(spark, st, dirs, filters, seqs=intro, leaves=leaves)
        keys, _, cond = self._scoped_delete_keys(spark, st, ddirs)
        return data.join(keys, cond, "left_anti").drop(_DATA_SEQ)

    def _scoped_delete_keys(self, spark: SparkSession, st: _State, ddirs: list[str]):
        """The delete keys of ``ddirs`` as the build side of a
        sequence-scoped join with data rows tagged ``__sg_data_seq``:
        ``(keys, key column names, join condition)`` — keys equal AND the
        key's delete sequence above the row's data sequence."""
        from pyspark.sql import functions as F

        keys = self._read_delete_keys(spark, st, ddirs, seqs=st.dir_intro_seqs)
        kcols = [c for c in keys.columns if c != _DEL_SEQ]
        keys = keys.select(
            *[F.col(c).alias(f"__sg_key{i}") for i, c in enumerate(kcols)], _DEL_SEQ
        )
        cond = F.col(_DEL_SEQ) > F.col(_DATA_SEQ)
        for i, c in enumerate(kcols):
            cond = cond & (F.col(c) == F.col(f"__sg_key{i}"))
        return keys, kcols, cond

    def register(
        self,
        spark: SparkSession,
        name: str | None = None,
        access_level: str = "admin",
        row_policies: dict[str, str] | None = None,
        snapshot_id: str | None = None,
        as_of_ms: int | None = None,
        tag: str | None = None,
        metadata_tables: bool | None = None,
        follow_head: bool = False,
    ) -> str:
        """The SQL front door: expose the GOVERNED table read plus its
        Iceberg-style metadata tables to ``spark.sql`` as session temp
        views — the reference's user-facing promise is plain SQL against
        the lakehouse, including time travel (Athena named queries,
        ``aws/modules/athena/main.tf:26-67``; the flagship example,
        ``docs/bring-your-own-data.md:83-90``).

        Registers:

        - ``<name>`` — the governed read. ``access_level='reader'`` drops
          restricted columns INSIDE the view plan (Catalyst prunes them
          before the scan — ``spark.sql`` output can never name them) and
          applies ``row_policies`` ({policy: SQL predicate}) as pushed
          filters;
        - ``<name>__snapshots`` / ``__history`` / ``__files`` /
          ``__partitions`` / ``__delete_files`` / ``__refs`` — the
          metadata tables.
          ``metadata_tables=None`` (the default) resolves to True for
          admin/writer and **False for reader** — ``__files`` carries
          actual min/max data values in ``column_bounds`` and
          ``__partitions`` carries partition values, so publishing them
          to a reader by default would bypass the restricted-column
          guarantee through the side door. An explicit
          ``metadata_tables=True`` at reader level registers them with
          restricted columns REDACTED from both the bounds JSON and the
          partition values (never their names or values).

        Time travel registers the same way: ``snapshot_id``/``as_of_ms``/
        ``tag`` with a distinct ``name`` gives Athena's ``FOR TIMESTAMP AS
        OF`` named-query shape. Views are SESSION-scoped and by default pin
        the snapshot resolved at registration time — re-register after
        writes to serve the new head (the scheduled-refresh cadence the
        runbook's view maintenance uses). ``follow_head=True`` matches
        Athena's actual contract instead: the view serves the current
        committed state — including the MoR view after equality-delete
        commits — and, before the table's first commit, its declared
        empty schema (metadata tables need a snapshot and raise).
        Follow-head excludes the time-travel arguments (a pinned snapshot
        cannot also track the head) and costs one view re-resolution per
        commit (plus the metadata-table rebuild when those are registered
        — leave them off on hot write paths).

        Every call writes or clears the ONE follow-head record of its view
        name (``_HEAD_REGISTRATIONS``): a follow-head call records the table
        handle, settings and the head sequence it resolved; a pinned call
        clears the record, so no later commit, on this table or another,
        re-resolves a view the caller pinned. Two triggers re-register a
        recorded view: every commit made through this process (the write
        path funnels through ``_commit``), and ``Lakehouse.sql``, which
        head-probes the commit log per statement (one directory listing)
        and re-registers when the record does not serve the probed head —
        a commit from another process, whose refresh never fired here.
        Returns the base view name.

        Audit granularity: the underlying ``table_read`` plus a
        ``table_registered`` event log at REGISTRATION time; subsequent
        ``spark.sql`` statements against the view are not individually
        audited (Spark has no per-query view-access hook) — the same
        granularity the reference gets from Athena, where per-query audit
        lives in the engine's own CloudTrail/warehouse logs, not the
        application layer.
        """
        from iceberg_quickstart_iac_spark.governance.access import (
            AccessLevel,
            read_with_access_level,
            read_with_row_policies,
        )
        from iceberg_quickstart_iac_spark.templates.loader import (
            get_restricted_columns,
        )

        level = AccessLevel(access_level)
        if metadata_tables is None:
            metadata_tables = level is not AccessLevel.READER
        if follow_head and (snapshot_id or as_of_ms or tag):
            raise ValueError(
                "register(follow_head=True) tracks the current head — it "
                "cannot combine with snapshot_id/as_of_ms/tag pinning"
            )
        # probed BEFORE the state read: a commit landing in between makes
        # the recorded head older than the one served, never newer
        head = self.head_sequence() if follow_head else None
        st = self._state()
        base = name or st.meta["name"]
        try:
            # the rows come through the public read, the one entry point a
            # read trace instruments; it takes a state of its own
            df = self.read(spark, snapshot_id=snapshot_id, as_of_ms=as_of_ms, tag=tag)
        except TableNotFoundError:
            # no commits yet: a follow-head view serves the DECLARED empty
            # schema (`SELECT * FROM t` on a fresh table is 0 typed rows)
            # until the first commit re-resolves it
            if not follow_head:
                raise
            if metadata_tables:
                raise TableNotFoundError(
                    f"Table {st.meta['name']!r} has no commits yet — its "
                    f"metadata views ({base}__snapshots/…) only exist after "
                    "the first commit"
                ) from None
            df = self._empty_declared(spark, st.meta)
        df = read_with_access_level(df, st.meta, access_level, table=st.name)
        df = read_with_row_policies(df, row_policies or {}, access_level, table=st.name)
        df.createOrReplaceTempView(base)
        if metadata_tables:
            # each metadata table is a read of its own
            redact = (
                set(get_restricted_columns(st.meta))
                if level is AccessLevel.READER
                else None
            )
            self.snapshots(spark).createOrReplaceTempView(f"{base}__snapshots")
            self.history(spark).createOrReplaceTempView(f"{base}__history")
            self.files(spark, redact_columns=redact).createOrReplaceTempView(
                f"{base}__files"
            )
            self.partitions(
                spark, redact_columns=redact
            ).createOrReplaceTempView(f"{base}__partitions")
            self.delete_files(spark).createOrReplaceTempView(
                f"{base}__delete_files"
            )
            self.refs(spark).createOrReplaceTempView(f"{base}__refs")
        _HEAD_REGISTRATIONS.pop(base, None)
        if follow_head:
            _HEAD_REGISTRATIONS[base] = {
                "table": self,
                "root": _head_reg_key(self.root),
                "spark": spark,
                "access_level": access_level,
                "row_policies": dict(row_policies or {}),
                "metadata_tables": metadata_tables,
                # None before the first commit and on an untouched branch
                # fork (no branch-local log yet)
                "head": head,
            }
        log_audit_event("table_registered", st.name, details={
            "view": base, "access_level": str(access_level), "metadata_tables": metadata_tables,
            "time_travel": bool(snapshot_id or as_of_ms or tag), "follow_head": follow_head,
        })
        return base

    def follows_head_at(
        self,
        spark: SparkSession,
        name: str,
        head: int,
        access_level: str,
        metadata_tables: bool,
    ) -> bool:
        """Whether the record of view ``name`` is a follow-head
        registration of this table (root and branch), made in ``spark`` at
        ``access_level`` with no row policies (and with metadata tables,
        if asked), resolved at head sequence ``head`` — i.e. the view
        already serves that head. The commit-time refresh keeps this true
        after every commit made in this process, so the lazy SQL front
        door registers each such commit once, not twice."""
        rec = _HEAD_REGISTRATIONS.get(name)
        return (
            rec is not None
            and rec.get("kind") != "changes"
            and rec["head"] == head
            and rec["spark"] is spark
            and rec["root"] == _head_reg_key(self.root)
            and getattr(rec["table"], "branch_name", None)
            == getattr(self, "branch_name", None)
            and str(rec["access_level"]) == str(access_level)
            and not rec["row_policies"]
            and (rec["metadata_tables"] or not metadata_tables)
        )

    def register_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: str,
        to_snapshot_id: str | None = None,
        name: str | None = None,
        access_level: str = "admin",
        row_policies: dict[str, str] | None = None,
        follow_head: bool = False,
    ) -> str:
        """Register the row-level changelog between two snapshots
        (:meth:`read_changes` — Delta CDF / Iceberg changelog-scan
        analog) as a SQL view ``<name>__changes``: the front-door shape
        of "what changed since the last publish", queryable with plain
        SQL next to the head and time-travel views. Governance applies to
        the changelog exactly as to reads — a reader's restricted columns
        are dropped from the change rows inside the view plan, and row
        policies filter both the insert and delete sides (a reader must
        not learn a restricted row existed by seeing its delete).

        By default the view pins the two snapshots resolved here.
        ``follow_head=True`` is the live-CDC-feed shape (Delta CDF's
        ``readChangeFeed`` with ``startingVersion``): the interval START
        stays fixed at ``from_snapshot_id`` and the END re-resolves to
        the current head on every commit made through this process, so
        the view always serves "everything changed since the anchor".
        Follow-head excludes ``to_snapshot_id`` (a pinned end cannot also
        track the head). Like :meth:`register`, every call writes (follow-
        head) or clears (pinned) the one record of its view name, and the
        record is process-local — temp views are session objects."""
        from iceberg_quickstart_iac_spark.governance.access import (
            read_with_access_level,
            read_with_row_policies,
        )

        if follow_head and to_snapshot_id is not None:
            raise ValueError(
                "register_changes(follow_head=True) tracks the head as the "
                "interval end — it cannot combine with to_snapshot_id"
            )
        df = self.read_changes(spark, from_snapshot_id, to_snapshot_id)
        st = self._state()
        base = (name or st.meta["name"]) + "__changes"
        df = read_with_access_level(df, st.meta, access_level, table=st.name)
        df = read_with_row_policies(df, row_policies or {}, access_level, table=st.name)
        df.createOrReplaceTempView(base)
        _HEAD_REGISTRATIONS.pop(base, None)
        if follow_head:
            _HEAD_REGISTRATIONS[base] = {
                "table": self,
                "root": _head_reg_key(self.root),
                "spark": spark,
                "access_level": access_level,
                "row_policies": dict(row_policies or {}),
                "kind": "changes",
                "from_snapshot_id": from_snapshot_id,
                # strip the suffix: the refresh passes name= back in and
                # register_changes re-appends __changes
                "name": (name or st.meta["name"]),
            }
        log_audit_event("table_registered", st.name, details={
            "view": base, "access_level": str(access_level), "changelog": True,
            "from_snapshot": from_snapshot_id, "to_snapshot": to_snapshot_id,
        })
        return base

    def unregister(self, spark: SparkSession, name: str | None = None) -> None:
        """Drop a registration's views and forget their follow-head
        records (the head view's and the changelog view's)."""
        base = name or self._state().meta["name"]
        forget_head_registrations((base, base + "__changes"))
        for suffix in ("", *_METADATA_VIEWS, "__changes"):
            spark.catalog.dropTempView(base + suffix)

    def _refresh_head_registrations(self) -> None:
        """Re-resolve every follow-head record on this table root against
        the just-committed state — the commit trigger. Uses each record's
        OWN table handle (a branch view re-resolves its branch head, the
        main table its own), so a commit on either never serves the
        other's rows."""
        import warnings

        own = _head_reg_key(self.root)
        for base, spec in list(_HEAD_REGISTRATIONS.items()):
            if spec["root"] != own:
                continue
            try:
                if spec.get("kind") == "changes":
                    # live changelog view: fixed interval start, end
                    # re-resolves to the just-committed head
                    spec["table"].register_changes(
                        spec["spark"],
                        spec["from_snapshot_id"],
                        name=spec["name"],
                        access_level=spec["access_level"],
                        row_policies=spec["row_policies"],
                        follow_head=True,
                    )
                    continue
                spec["table"].register(
                    spec["spark"],
                    name=base,
                    access_level=spec["access_level"],
                    row_policies=spec["row_policies"],
                    metadata_tables=spec["metadata_tables"],
                    follow_head=True,
                )
            except Exception as exc:  # noqa: BLE001 — the COMMIT landed;
                # a dead SparkSession in the registry must not make the
                # write look failed. Drop the registration and warn loudly.
                _HEAD_REGISTRATIONS.pop(base, None)
                warnings.warn(
                    f"follow-head view {base!r} on {self.root} could not "
                    f"be refreshed and was dropped: {exc}",
                    stacklevel=2,
                )

    def _read_delete_keys(
        self,
        spark: SparkSession,
        st: _State,
        ddirs: list[str],
        seqs: dict[str, int] | None = None,
    ) -> DataFrame:
        """Load equality-delete key tuples from ``ddirs``, with every key
        column resolved BY FIELD ID to its CURRENT declared name — the
        same id-first resolution data files get in :meth:`_read_dirs`.
        Each delete dir carries a ``_key_ids.json`` sidecar (name→field id
        at write time); without it, a rename of an identifier field after
        a MoR delete would break every subsequent read (the anti-join
        would look for the old column name). Dirs sharing one rename map
        and written schema are scanned together, so the common no-rename
        case stays a single parquet scan regardless of delete-file count.
        The scan is given the schema recorded in ``_key_schema.json`` and
        runs no inference job.

        ``seqs`` (dir → intro sequence) tags every key with its own delete
        dir's sequence in a ``__sg_del_seq`` column, for the sequence-scoped
        anti-join in :meth:`_read_mor`. Keys are not deduplicated: a key
        repeated across delete files only repeats an anti-join match."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        id_to_name = {fid: name for name, fid in self._column_ids(st.meta).items()}
        groups: dict[tuple, tuple[dict, str, list[str]]] = {}
        for dd in ddirs:
            schema = (self.data_dir / dd / self._KEY_SCHEMA).read_text()
            renames: dict[str, str] = {}
            for written, fid in json.loads(
                (self.data_dir / dd / "_key_ids.json").read_text()
            ).items():
                if fid not in id_to_name:
                    raise ValueError(
                        f"MoR delete file {dd} on {st.name} is keyed "
                        f"on field id {fid} ({written!r} at write time), "
                        "which is no longer a declared column"
                    )
                renames[written] = id_to_name[fid]
            key = tuple(sorted(renames.items()))
            groups.setdefault((key, schema), (renames, schema, []))[2].append(dd)
        parts = []
        for renames, schema, dds in groups.values():
            # the schema the keys were written with: no inference job
            df = spark.read.schema(T.StructType.fromJson(json.loads(schema))).parquet(
                *[str(self.data_dir / dd) for dd in dds]
            )
            cols = [F.col(c).alias(renames.get(c, c)) for c in df.columns]
            if seqs is not None:
                cols.append(
                    _seq_by_path({dd: seqs.get(dd, -1) for dd in dds}).alias(_DEL_SEQ)
                )
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _translate_filters(
        self, st: _State, filters: list[tuple], written_ids: dict
    ) -> list[tuple] | None:
        """Rewrite filter column names into one dir epoch's WRITTEN names
        by field id, the rules of :meth:`_project_declared` (a filter on a
        renamed column must compare against the old file column in
        pre-rename dirs; a name the table does not declare passes through).
        None = some filtered column does not exist in this epoch — it reads
        as typed NULL, no comparison can hold, the whole epoch is prunable."""
        ids = self._column_ids(st.meta)
        out = []
        for col, op, value in filters:
            wname = col if col not in ids else next(
                (f for f, i in written_ids.items() if i == ids[col]), None
            )
            if wname is None:
                return None
            out.append((wname, op, value))
        return out

    def _read_dirs(
        self,
        spark: SparkSession,
        st: _State,
        dirs: list[str],
        filters: list[tuple] | None,
        seqs: dict[str, int] | None = None,
        leaves: dict[str, list[str]] | None = None,
    ) -> DataFrame:
        """Scan ``dirs``, grouped by the write epoch (field ids + declared
        types + partition spec) they were written under — almost always one
        group, so the plan stays a single parquet scan. Per group: filters
        are translated to the epoch's written column names, partition dirs
        are pruned against the epoch's own recorded layout, rows are
        filtered, and the result is field-id-projected (and cast) to the
        declared schema before ``unionByName`` across epochs. Separate
        type epochs keep a widened column (int files + long files) out of a
        single scan, whose one schema could not serve both.

        ``seqs`` (dir → intro sequence) adds a ``__sg_data_seq`` column
        holding the intro sequence of the ``dirs`` entry each row's file
        belongs to, for :meth:`_read_mor`'s sequence-scoped anti-join.
        ``leaves`` (dir → leaf paths) scans exactly those leaves of a dir
        instead of pruning it by ``filters`` (partition-scoped compaction
        picks its own leaves)."""
        from pyspark.sql import functions as F

        def top(d: str) -> str:
            return d.split("/", 1)[0]

        # rows are tagged by their top-level dir; kept-leaf subpath entries
        # of one dir inherit its sequence, so they share a tag — a dir
        # whose entries disagree is scanned entry by entry instead
        top_seqs: dict[str, set[int]] = {}
        for d in dirs if seqs is not None else ():
            top_seqs.setdefault(top(d), set()).add(seqs.get(d, -1))
        groups: dict[tuple, tuple[dict, list[str]]] = {}
        for d in dirs:
            epoch = st.dir_epochs[d]
            apart = d if len(top_seqs.get(top(d), ())) > 1 else None
            key = (json.dumps(epoch, sort_keys=True), apart)
            groups.setdefault(key, (epoch, []))[1].append(d)
        parts: list[DataFrame] = []
        for epoch, gdirs in groups.values():
            ids = epoch["column_ids"]
            gfilters = filters or []
            if filters:
                gfilters = self._translate_filters(st, filters, ids)
                if gfilters is None:
                    # a filtered column absent from this epoch's files reads
                    # as NULL — no comparison predicate can hold, skip
                    continue
            if leaves is not None:
                paths = [p for d in gdirs for p in leaves[d]]
            else:
                paths = self._leaf_dirs(
                    [self.data_dir / d for d in gdirs], gfilters, epoch["partition_spec"]
                )
            # a zero-row write on a PARTITIONED table lands a dir with no
            # data files at all (partitionBy emits nothing, not even a
            # schema-only file — TRUNCATE and full CoW DELETE both hit
            # this): loading it would fail schema inference. One driver
            # directory listing per leaf — the same listing the scan is
            # about to do anyway.
            paths = [p for p in paths if _list_data_files(Path(p))]
            if not paths:
                continue
            fmt = epoch["write_format"]
            scan: list[str] = list(paths)
            if gfilters and fmt == "orc":
                # ORC gets NO file-level min/max skipping: pyarrow.orc
                # exposes stripe-statistics lengths but not their values,
                # so there is nothing cheap to prune on. Losing the
                # read-side payoff of a sort_order silently would be worse
                # than the miss itself — warn loudly, once per table.
                import warnings

                if self.root not in _ORC_SKIP_WARNED:
                    _ORC_SKIP_WARNED.add(self.root)
                    warnings.warn(
                        f"Filtered read on ORC table {st.name}: "
                        "file-level min/max skipping is parquet-only "
                        "(pyarrow exposes no ORC stripe statistic values) "
                        "— every file in the pruned partitions will be "
                        "scanned. Prefer write_format: parquet for "
                        "read-heavy sorted tables.",
                        stacklevel=3,
                    )
            if gfilters and fmt == "parquet":
                # FILE-level min/max skipping (Iceberg manifest-stats
                # pruning at dir-manifest granularity): after partition
                # dirs are pruned, parquet footer statistics on the
                # filtered columns drop whole files — the read-side
                # payoff of write-time sort_order clustering. Driver-side
                # metadata only, O(files); unknown/missing stats keep the
                # file.
                files = [
                    f for p_ in paths for f in sorted(Path(p_).rglob("*.parquet"))
                ]
                kept = [
                    str(f) for f in files if _footer_stats_match(f, gfilters)
                ]
                if not kept:
                    continue
                if len(kept) < len(files):
                    scan = kept
            df = self._scan_epoch(spark, epoch, scan)
            if gfilters and any(col not in df.columns for col, _, _ in gfilters):
                continue
            if seqs is not None:
                df = df.withColumn(
                    _DATA_SEQ, _seq_by_path({top(d): seqs.get(d, -1) for d in gdirs})
                )
            df = self._apply_row_filters(df, gfilters)
            parts.append(self._project_declared(st, df, ids))
        if not parts:
            out = self._apply_row_filters(self._empty_declared(spark, st.meta), filters)
            if seqs is not None:
                out = out.withColumn(_DATA_SEQ, F.lit(-1).cast("long"))
            return out
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _scan_epoch(spark: SparkSession, epoch: dict, paths: list[str]) -> DataFrame:
        """One file scan of ``paths``, all written under ``epoch``.

        The write path casts every file to exactly the epoch's declared
        types (:meth:`_write_data`), so the epoch's ``column_ids`` and
        ``column_types`` ARE the files' schema: passing it explicitly skips
        the schema-inference job Spark otherwise runs on every load (it
        reads a footer in a job even with ``mergeSchema=false``). A table
        that declares no columns records no schema, and its files are
        inferred from one footer."""
        from pyspark.sql import types as T

        reader = spark.read.format(epoch["write_format"])
        types = epoch["column_types"]
        if not epoch["column_ids"]:
            return reader.option("mergeSchema", "false").load(paths)
        return reader.schema(
            T.StructType(
                [T.StructField(n, spark_type(types[n])) for n in epoch["column_ids"]]
            )
        ).load(paths)

    def snapshots(self, spark: SparkSession) -> DataFrame:
        """The snapshot-metadata table (M1), like Iceberg's ``t.snapshots``.
        Built from the log alone, no data read. ``row_count`` is the rows
        in the snapshot's data files (Iceberg's ``total-records``): with
        outstanding merge-on-read deletes it includes the erased images,
        and the live count is ``read(spark, snapshot_id=…).count()``."""
        entries = self._state().entries
        return spark.createDataFrame(
            [
                (
                    e["snapshot_id"],
                    e["parent_id"],
                    e["sequence"],
                    e["committed_at_ms"],
                    e["operation"],
                    e["row_count"],
                    len(e["data_dirs"]),
                )
                for e in entries
            ],
            "snapshot_id STRING, parent_id STRING, sequence LONG, committed_at_ms LONG, "
            "operation STRING, row_count LONG, data_dir_count INT",
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """The table-history metadata table (M1), like Iceberg's
        ``t.history``: one row per commit with ``is_current_ancestor``
        marking whether the HEAD's state still derives from it.

        Snapstore's log is linear (a rollback is itself a commit), so the
        divergence Iceberg expresses through parent pointers is encoded in
        the rollback entries' ``rollback_of`` stamp: walking back from the
        head, a rollback jumps to its target — everything between the two
        left the head lineage exactly like Iceberg snapshots orphaned by
        ``rollback_to_snapshot`` (is_current_ancestor = false). Entries
        committed before the stamp existed degrade to the linear walk
        (every commit ancestral — the pre-upgrade behavior, conservative).
        Metadata-only: reads the commit log, never data files.
        """
        entries = self._state().entries
        seq_to_idx = {e["sequence"]: i for i, e in enumerate(entries)}
        ancestors: set[int] = set()
        i = len(entries) - 1
        while i >= 0:
            e = entries[i]
            ancestors.add(e["sequence"])
            target = e.get("rollback_of")
            if (
                e.get("operation") == "rollback"
                and target in seq_to_idx
                and target < e["sequence"]  # set_current_snapshot can jump
                # FORWARD; only a backward jump orphans the span between
            ):
                i = seq_to_idx[target]
            else:
                i -= 1
        return spark.createDataFrame(
            [
                (
                    e["committed_at_ms"],
                    e["snapshot_id"],
                    e["parent_id"],
                    e["sequence"],
                    e["operation"],
                    e["sequence"] in ancestors,
                )
                for e in entries
            ],
            "made_current_at_ms LONG, snapshot_id STRING, parent_id STRING, "
            "sequence LONG, operation STRING, is_current_ancestor BOOLEAN",
        )

    def files(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        redact_columns: set[str] | None = None,
    ) -> DataFrame:
        """The per-file metadata table (M1), like Iceberg's ``t.files``:
        one row per data file of the selected (default current) snapshot
        with its partition values, record count, size, and per-column
        value bounds (Iceberg's ``lower_bounds``/``upper_bounds`` — the
        stats the file-skipping read path prunes on, surfaced for audits:
        "which files would a predicate touch?"). Driver-side metadata
        only (footers + paths), O(files), no data scan — exactly what
        Iceberg serves from manifests. Bounds are JSON ``{col: [lo, hi]}``
        strings (parquet files only; ORC reports ``{}``).

        ``redact_columns`` removes those columns' entries from BOTH the
        ``partition`` values and ``column_bounds`` JSON — min/max bounds
        are actual data values, so a reader-level registration must not
        publish them for restricted columns (Lake Formation redacts file
        stats the same way for cell-filtered tables).
        """
        snap = self._state().snapshot(snapshot_id, None)
        redact = redact_columns or set()

        def _partition_key_redacted(key: str) -> bool:
            # partition path keys are PHYSICAL field names: __p_<col> for
            # identity, __p_<col>_<transform> otherwise (any historical
            # spec) — a key derived from a restricted source column must
            # redact; startswith over-matching only ever over-redacts
            return any(
                key == self._PPREFIX + c or key.startswith(self._PPREFIX + c + "_")
                for c in redact
            )

        def _redact_path(p: str) -> str:
            # file_path and data_dir embed the same ``__p_<col>=<value>``
            # segments the partition JSON parses from — a restricted
            # partition column's VALUES must not leak through the path
            # columns either (the docstring's "never their names or
            # values" guarantee applies to every emitted column)
            if not redact:
                return p
            out = []
            for seg in p.split("/"):
                if "=" in seg:
                    k, _, _v = seg.partition("=")
                    if _partition_key_redacted(k):
                        seg = k + "=<redacted>"
                out.append(seg)
            return "/".join(out)

        rows = []
        for d in snap["data_dirs"]:
            base = self.data_dir / d
            # partition values parse from the path BELOW the top-level dir
            # so a subpath reference (partition-scoped compaction) still
            # reports the segments baked into the reference itself
            top = self.data_dir / d.split("/", 1)[0]
            for f in _list_data_files(base):
                parts = {}
                for seg in f.relative_to(top).parts[:-1]:
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        if not _partition_key_redacted(k):
                            parts[k] = unquote(v)
                bounds = {
                    c: b
                    for c, b in _footer_bounds(f).items()
                    if c not in redact
                }
                rows.append(
                    (
                        _redact_path(str(f.relative_to(self.root))),
                        _redact_path(d),
                        json.dumps(parts, sort_keys=True),
                        _footer_row_count([f]),
                        f.stat().st_size,
                        json.dumps(bounds, sort_keys=True, default=str),
                    )
                )
        return spark.createDataFrame(
            rows,
            "file_path STRING, data_dir STRING, partition STRING, "
            "record_count LONG, file_size_bytes LONG, column_bounds STRING",
        )

    def delete_files(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """The equality-delete-file metadata table (Iceberg's
        ``t.delete_files``): one row per delete file of the selected
        snapshot with its key count and the commit sequence scoping which
        data files it applies to — the read-amplification audit for MoR
        tables (big counts here = time to :meth:`compact`). Metadata-only:
        footers + paths, no data scan."""
        st = self._state()
        snap = st.snapshot(snapshot_id, None)
        intro = st.dir_intro_seqs
        rows = []
        for d in snap.get("delete_dirs") or []:
            base = self.data_dir / d
            files = _list_data_files(base) if base.is_dir() else []
            rows.append(
                (
                    d,
                    intro.get(d),
                    _footer_row_count(files) if files else 0,
                    sum(f.stat().st_size for f in files),
                )
            )
        return spark.createDataFrame(
            rows,
            "delete_dir STRING, applies_after_sequence LONG, "
            "key_count LONG, file_size_bytes LONG",
        )

    def partitions(
        self,
        spark: SparkSession,
        snapshot_id: str | None = None,
        redact_columns: set[str] | None = None,
    ) -> DataFrame:
        """The per-partition metadata table (M1), like Iceberg's
        ``t.partitions``: one row per live partition with its record/file
        counts and byte size — the skew/small-file audit surface (Athena
        exposes the same as ``"t$partitions"``). An aggregation over
        :meth:`files` (``redact_columns`` passes through — a restricted
        partition column's values must not appear in the partition key),
        so still metadata-only: footers and paths, never a data scan."""
        from pyspark.sql import functions as F

        return (
            self.files(spark, snapshot_id, redact_columns=redact_columns)
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("record_count").alias("record_count"),
                F.sum("file_size_bytes").alias("total_size_bytes"),
            )
        )

    # -- schema evolution --------------------------------------------------

    def _evolve(self, st: _State, meta: dict, details: dict) -> dict:
        """Write ``meta``, a modified copy of ``st.meta``, and audit the
        change. On a branch only the schema lands, in its ref
        (copy-on-evolve: "readers on main see the old schema",
        deep-dive.md:267-272)."""
        if st.ref is None:
            self._write_meta(meta)
        else:
            ref = {**st.ref, "columns": meta["columns"], "next_field_id": meta["next_field_id"]}
            _write_atomic(self._broot / "branch.json", json.dumps(ref, indent=2))
        log_audit_event("schema_evolution", st.name, details=details)
        return meta

    def evolve_add_column(self, name: str, col_type: str, doc: str = "") -> dict:
        """ADD COLUMN (Iceberg schema evolution, the capability the
        reference advertises via the table format, ``docs/architecture.md:
        8-11`` / ``docs/deep-dive.md:66-72``, but never implements).

        Metadata-only: no data files are rewritten. Existing snapshots stay
        readable — :meth:`read` resolves the new column to typed NULLs for
        pre-evolution files — and subsequent writes must carry the column
        (the write-side schema check enforces it).
        """
        spark_type(col_type)  # an undeclarable type raises before any write
        st = self._state()
        if name in st.columns:
            raise ValueError(f"Column {name!r} already exists on {st.name}")
        meta = copy.deepcopy(st.meta)
        fid = meta["next_field_id"]
        meta["columns"] = meta.get("columns", []) + [
            {"name": name, "type": col_type, "doc": doc, "id": fid}
        ]
        meta["next_field_id"] = fid + 1
        return self._evolve(
            st, meta, {"change": "add_column", "column": name, "type": col_type}
        )

    def evolve_drop_column(self, name: str) -> dict:
        """DROP COLUMN — metadata-only, like Iceberg: data files keep the
        bytes, reads project the declared schema so the column vanishes,
        and the write-side check stops accepting it."""
        st = self._state()
        if name not in st.columns:
            raise ValueError(f"Column {name!r} does not exist on {st.name}")
        meta = copy.deepcopy(st.meta)
        meta["columns"] = [c for c in meta["columns"] if c["name"] != name]
        return self._evolve(st, meta, {"change": "drop_column", "column": name})

    #: Iceberg-safe type promotions (spec §Schema Evolution): widening only,
    #: so every already-written value remains exactly representable
    _SAFE_PROMOTIONS = {
        ("int", "long"),
        ("float", "double"),
    }

    def evolve_rename_column(self, old: str, new: str) -> dict:
        """RENAME COLUMN — metadata-only and SAFE under field ids: the
        declared column keeps its id, and reads resolve file columns BY ID,
        so data written under the old name keeps serving the renamed
        column (Iceberg rename semantics — no rewrite, no data loss,
        unlike Hive-style name-based tables where a rename orphans every
        old file's values)."""
        st = self._state()
        if old not in st.columns:
            raise ValueError(f"Column {old!r} does not exist on {st.name}")
        if new in st.columns:
            raise ValueError(f"Column {new!r} already exists on {st.name}")
        meta = copy.deepcopy(st.meta)
        # partition_spec / sort_order entries are keyed by NAME here (unlike
        # Iceberg's id-based specs) — rename them too, or subsequent writes
        # silently become unpartitioned/unsorted (the spec filter drops
        # entries whose column is absent from the frame)
        for c in meta["columns"]:
            if c["name"] == old:
                c["name"] = new
        for entry in [*(meta.get("partition_spec") or []), *(meta.get("sort_order") or [])]:
            if entry.get("column") == old:
                entry["column"] = new
        # identifier_fields too — or the next MoR delete/upsert on a
        # renamed key column fails its declared-column validation
        if meta.get("identifier_fields"):
            meta["identifier_fields"] = [
                new if f == old else f for f in meta["identifier_fields"]
            ]
        return self._evolve(st, meta, {"change": "rename_column", "from": old, "to": new})

    def evolve_widen_column(self, name: str, new_type: str) -> dict:
        """Widen a column's type (int→long, float→double) — the promotions
        the Iceberg spec allows because every written value stays exactly
        representable. Metadata-only: the declared-schema projection casts
        old files up on read. Narrowing or cross-family changes raise."""
        st = self._state()
        meta = copy.deepcopy(st.meta)
        target = next((c for c in meta.get("columns", []) if c["name"] == name), None)
        if target is None:
            raise ValueError(f"Column {name!r} does not exist on {st.name}")
        if (target["type"], new_type) not in self._SAFE_PROMOTIONS:
            raise ValueError(
                f"Unsafe type change {target['type']!r} -> {new_type!r} on "
                f"{st.name}.{name}: only widening promotions "
                f"{sorted(self._SAFE_PROMOTIONS)} preserve written values"
            )
        target["type"] = new_type
        return self._evolve(
            st, meta, {"change": "widen_column", "column": name, "type": new_type}
        )

    _TRANSFORM_RE = re.compile(
        r"^(identity|year|month|day|hour|bucket\[\d+\]|truncate\[\d+\])$"
    )

    def evolve_sort_order(self, order: list[dict]) -> dict:
        """Replace the declared write-time sort order (Iceberg's
        ``ALTER TABLE … WRITE ORDERED BY``). Metadata-only and forward-
        looking: existing files keep their layout; subsequent writes and
        compactions cluster by the new order. Entries are
        ``{"column", "direction" (asc|desc), "null_order"
        (nulls_first|nulls_last)}`` — the template's sort_order shape."""
        st = self._state()
        for o in order:
            if o.get("column") not in st.columns:
                raise ValueError(
                    f"evolve_sort_order: unknown column {o.get('column')!r} "
                    f"on {st.name}"
                )
            if o.get("direction", "asc") not in ("asc", "desc"):
                raise ValueError(f"evolve_sort_order: bad direction in {o}")
            if o.get("null_order", "nulls_first") not in (
                "nulls_first", "nulls_last"
            ):
                raise ValueError(f"evolve_sort_order: bad null_order in {o}")
        meta = {**st.meta, "sort_order": [dict(o) for o in order]}
        return self._evolve(st, meta, {"change": "sort_order", "order": order})

    def evolve_partition_spec(self, new_spec: list[dict]) -> dict:
        """Change how the table is partitioned WITHOUT rewriting any data —
        the partition-spec evolution the reference advertises as a core
        Iceberg capability (``docs/architecture.md:11``,
        ``docs/deep-dive.md:66-72``) but never implements.

        Metadata-only, like Iceberg: every commit entry records the spec it
        was written under, so existing data directories keep their physical
        layout and are pruned by their OWN recorded spec, while writes from
        now on lay out (and prune) under the new spec. A query filtering on
        a newly added transform column prunes the new epoch's directories
        and falls back to scan-plus-row-filter on the old ones — exactly
        Iceberg's split-planning across specs.
        """
        st = self._state()
        for p in new_spec:
            if "column" not in p or "transform" not in p:
                raise ValueError(
                    f"Partition spec entries need 'column' and 'transform': {p!r}"
                )
            if st.columns and p["column"] not in st.columns:
                raise ValueError(
                    f"Partition column {p['column']!r} is not declared on {st.name}"
                )
            if not self._TRANSFORM_RE.match(p["transform"]):
                raise ValueError(f"Unknown partition transform: {p['transform']!r}")
        meta = {**st.meta, "partition_spec": list(new_spec)}
        return self._evolve(st, meta, {
            "change": "partition_spec",
            "from": st.meta.get("partition_spec") or [], "to": new_spec,
        })

    def set_properties(self, props: dict) -> dict:
        """Merge table properties (Iceberg's ``ALTER TABLE … SET
        TBLPROPERTIES``). Metadata-only; keys overwrite, others keep."""
        st = self._state()
        old = st.meta.get("properties", {})
        meta = {**st.meta, "properties": {**old, **{str(k): str(v) for k, v in props.items()}}}
        return self._evolve(st, meta, {
            "change": "set_properties", "from": old, "to": meta["properties"],
        })

    def unset_properties(self, keys: list[str]) -> dict:
        """Remove table properties (``ALTER TABLE … UNSET TBLPROPERTIES``).
        Unknown keys are ignored, like Iceberg's IF EXISTS behavior."""
        st = self._state()
        old = st.meta.get("properties", {})
        drop = {str(k) for k in keys}
        meta = {**st.meta, "properties": {k: v for k, v in old.items() if k not in drop}}
        return self._evolve(st, meta, {
            "change": "unset_properties", "from": old, "to": meta["properties"],
        })

    def set_identifier_fields(self, fields: list[str]) -> dict:
        """Declare the row-identity columns (Iceberg's ``ALTER TABLE …
        SET IDENTIFIER FIELDS`` — the fields MoR equality deletes key
        on). Fields must be declared columns; an empty list clears."""
        st = self._state()
        for f in fields:
            if f not in st.columns:
                raise ValueError(
                    f"Identifier field {f!r} is not a declared column of "
                    f"{st.name}"
                )
        meta = {k: v for k, v in st.meta.items() if k != "identifier_fields"}
        if fields:
            meta["identifier_fields"] = list(fields)
        return self._evolve(st, meta, {
            "change": "identifier_fields",
            "from": st.meta.get("identifier_fields"), "to": fields or None,
        })

    # -- incremental reads -------------------------------------------------

    def read_incremental(
        self,
        spark: SparkSession,
        from_snapshot_id: str,
        filters: list[tuple] | None = None,
        to_snapshot_id: str | None = None,
    ) -> DataFrame:
        """Rows appended AFTER ``from_snapshot_id`` (Iceberg's incremental
        append scan — the consumer side of CDC-style pipelines: checkpoint a
        snapshot id, read only what arrived since). ``to_snapshot_id``
        pins the UPPER bound (Iceberg's ``end-snapshot-id``): a streaming
        turn that captured a head must deliver exactly up to that head,
        or a commit landing mid-turn slips into the batch while the
        checkpoint records the older sequence — re-delivered next turn
        under a different batch id, un-dedupable downstream.

        Valid only across an append-only chain: an overwrite or compact
        rewrites the visible set, so "new rows" is no longer the directory
        delta — those chains raise and the caller falls back to a full read.

        Goes through the same scan path as :meth:`read` — partition pruning
        from ``filters``, field-id declared-schema projection — so
        incremental consumers see EXACTLY the schema a full read would give
        (a dropped column stays dropped; appends that predate an
        ``evolve_add_column`` carry the new column as typed NULLs).
        """
        st = self._state()
        entries = st.entries
        ids = [e["snapshot_id"] for e in entries]
        if from_snapshot_id not in ids:
            raise ValueError(f"No snapshot {from_snapshot_id!r} in {st.name}")
        start = ids.index(from_snapshot_id)
        if to_snapshot_id is not None:
            if to_snapshot_id not in ids:
                raise ValueError(
                    f"No snapshot {to_snapshot_id!r} in {st.name}"
                )
            end = ids.index(to_snapshot_id)
            if end < start:
                raise ValueError(
                    f"read_incremental: to_snapshot_id {to_snapshot_id!r} "
                    f"predates from_snapshot_id {from_snapshot_id!r} on "
                    f"{st.name}"
                )
            newer = entries[start + 1 : end + 1]
        else:
            newer = entries[start + 1 :]
        if not newer:
            return self._read_at(spark, st, entries[-1]).limit(0)
        non_append = [e["operation"] for e in newer if e["operation"] != "append"]
        if non_append:
            raise ValueError(
                f"Incremental read invalid across {non_append} snapshots on "
                f"{st.name}; re-baseline with a full read"
            )
        base_dirs = set(entries[start]["data_dirs"])
        new_dirs = [d for d in newer[-1]["data_dirs"] if d not in base_dirs]
        log_audit_event("table_read", st.name, details={
            "incremental_from": from_snapshot_id, "new_dirs": len(new_dirs),
        })
        if not new_dirs:
            return self._read_at(spark, st, entries[-1]).limit(0)
        return self._read_dirs(spark, st, new_dirs, filters)

    # -- maintenance -------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        target_files: int | None = None,
        zorder: list[str] | None = None,
        partition_filter: list[tuple] | None = None,
        partition_leaves: list[str] | None = None,
    ) -> dict:
        """Rewrite the current snapshot's data into fewer files — the
        ``rewrite_data_files`` analog (SURVEY §4; Iceberg calls this
        compaction). Many small append commits → one coalesced directory;
        history before the compaction snapshot remains time-travelable
        until expired.

        ``zorder=[col, …]`` rewrites with a Morton-interleaved layout
        instead of the declared linear sort (Iceberg's
        ``strategy => 'sort', sort_order => 'zorder(a, b)'``): every
        output file gets a tight min/max bounding box on ALL the z-order
        columns, so predicates on any of them skip files — a linear sort
        only ever skips on its leading column. Range stats come from one
        tiny aggregate; the key itself is codegen bit arithmetic
        (operators/zorder.py).

        ``partition_filter=[(col, op, val), …]`` / ``partition_leaves=
        [suffix, …]`` switch to PARTITION-SCOPED compaction (Iceberg's
        ``rewrite_data_files`` with a filter — the 100 TB maintenance
        shape: rewrite only where churn concentrates, O(hot partitions),
        never O(table)). Granularity is the partition DIRECTORY: every
        leaf dir the filter can match is rewritten whole (rows in a
        matched dir that fail a relaxed range predicate are rewritten
        too — nothing is dropped). Unmatched leaves of a split dir stay
        as direct subpath references pinned to the source dir's commit
        sequence and write epoch, so MoR delete applicability and
        schema-evolution projection are unchanged for them. Delete files
        whose whole debt (:meth:`_delete_debt`) lies in rewritten
        partitions are retired from the new snapshot.

        Races (ARCHITECTURE.md, "Commits"): dirs appended after the
        compaction read the table are kept, and delete files committed
        meanwhile still apply to the rewritten rows. When another commit
        rewrote a dir or delete file this compaction replaces, it raises
        CommitConflictError and that commit's head stands; re-run it.
        """
        st = self._state()
        if partition_filter is not None or partition_leaves is not None:
            if target_files is not None:
                raise ValueError(
                    "partition-scoped compaction does not combine with "
                    "target_files (file count follows the scoped slice)"
                )
            return self._compact_partitions(
                spark, st, partition_filter, partition_leaves, zorder
            )
        current = st.snapshot(None, None)
        df = self._read_at(spark, st, current)
        if target_files is not None and not zorder:
            df = df.coalesce(target_files)
        written = self._write_compacted(
            st, df, zorder, target_files or spark.sparkContext.defaultParallelism
        )
        dir_name, _, files = written
        # lineage: which directories this rewrite ABSORBED — a later
        # cherrypick_snapshot must treat an absorbed dir's rows as already
        # present wherever this dir is referenced
        entry = self._commit_rewrite(
            st, "compact", written, {"absorbed_dirs": {dir_name: sorted(current["data_dirs"])}}
        )
        log_audit_event("table_write", st.name, details={
            "mode": "compact", "file_count": files, "zorder": zorder or [],
        })
        # procedure-output counts (Iceberg's rewrite_data_files reports the
        # files it touched, not table totals) — returned on a COPY, never
        # persisted to the commit log; a full compact rewrites every file
        return {
            **entry,
            "rewritten_files": int(current["file_count"]),
            "added_files": int(files),
        }

    def _write_compacted(
        self,
        st: _State,
        df: DataFrame,
        zorder: list[str] | None,
        n_files: int,
        distribution: str = "hash",
    ) -> tuple[str, int, int]:
        """A compaction's write of ``df`` through :meth:`_write_data`, so the
        copy keeps ``st``'s physical layout (partition dirs, within-partition
        sort order). ``zorder=[col, …]`` replaces the sort with a Morton key
        over those columns: an unpartitioned table's z-curve IS its file
        layout, range-partitioned into ``n_files`` segments; a partitioned
        table z-sorts WITHIN each partition dir."""
        if not zorder:
            return self._write_data(st, df, distribution=distribution)
        from pyspark.sql import functions as F

        from iceberg_quickstart_iac_spark.operators.zorder import column_ranges, zorder_key

        ranges = column_ranges(df, zorder)
        df = df.withColumn("__z", zorder_key(zorder, [ranges[c] for c in zorder]))
        if not st.meta.get("partition_spec"):
            df = df.repartitionByRange(n_files, F.col("__z"))
        return self._write_data(
            st, df, order_override=[F.col("__z")], drop_cols=["__z"], distribution=distribution
        )

    def _leaf_suffix(self, top_dir: str, leaf: str) -> str:
        """A leaf dir's partition suffix relative to its TOP-LEVEL data
        dir, unescaped — '' for the (unpartitioned) dir itself. A data-dir
        entry that is itself a subpath (kept by an earlier partition-scoped
        compact) contributes its own partition segments, so suffixes stay
        comparable across compaction generations."""
        top = top_dir.split("/", 1)[0]
        rel = Path(leaf).relative_to(self.data_dir / top).parts
        return "/".join(unquote(s) for s in rel)

    @staticmethod
    def _suffixes_intersect(a: str, b: str) -> bool:
        """Whether two partition suffixes MAY share rows. Disjointness is
        provable only level-by-level under the SAME partition field name:
        equal names with different values → disjoint; a DIFFERENT field
        name (the suffixes render different partition-spec epochs, e.g.
        ``__p_ts_month=…`` vs ``__p_ts_day=…`` after spec evolution)
        proves nothing — the same row can live under both renderings, so
        the answer must be True (a retire check that treated cross-spec
        suffixes as disjoint would retire a delete file whose keys still
        have live rows in old-spec dirs and resurrect them)."""
        if a == "" or b == "":
            return True
        for sa, sb in zip(a.split("/"), b.split("/")):
            ka, _, va = sa.partition("=")
            kb, _, vb = sb.partition("=")
            if ka != kb:
                return True  # different spec levels — cannot prove disjoint
            if va != vb:
                return False  # same level, different value — disjoint
        return True  # one is a directory-prefix of the other

    def _delete_debt(self, spark: SparkSession, st: _State) -> dict[str, dict[str, int]]:
        """Each delete dir of ``st``'s head → {partition-leaf suffix: rows
        of the head's data files it erases}. One query: the data files' keys
        and partition columns joined to the delete keys under the
        sequence-scoping rule of :meth:`_read_mor`, grouped by (delete
        sequence, leaf). It scans the table's key and partition columns,
        so it runs only when a partition-scoped compaction is planned
        (maintenance, :meth:`_compact_partitions`), once per snapshot and
        handle. A leaf suffix renders the CURRENT spec's physical levels
        unescaped (``__p_day=2024-01-15``, nested with ``/``; ``""`` for an
        unpartitioned table)."""
        snap = st.head
        if self._debt_memo is not None and self._debt_memo[0] == snap["snapshot_id"]:
            return self._debt_memo[1]
        ddirs = list(snap.get("delete_dirs") or [])
        debt: dict[str, dict[str, int]] = {dd: {} for dd in ddirs}
        if ddirs and snap["data_dirs"]:
            intro = st.dir_intro_seqs
            keys, kcols, cond = self._scoped_delete_keys(spark, st, ddirs)
            data = self._read_dirs(spark, st, snap["data_dirs"], None, seqs=intro)
            pcols = [
                (n, p) for n, p in self._partition_cols(st.meta.get("partition_spec") or [])
                if p["column"] in data.columns
            ]
            data = data.select(
                *kcols,
                _DATA_SEQ,
                *[_partition_expr(p["column"], p["transform"]).cast("string").alias(n)
                  for n, p in pcols],
            )
            counts = data.join(keys, cond).groupBy(_DEL_SEQ, *[n for n, _ in pcols]).count()
            # delete dirs sharing a sequence share its debt: over-attributing
            # only keeps a delete file alive
            by_seq: dict[int, list[str]] = {}
            for dd in ddirs:
                by_seq.setdefault(intro.get(dd, -1), []).append(dd)
            for r in counts.collect():
                leaf = "/".join(
                    f"{n}={r[n] if r[n] is not None else '__HIVE_DEFAULT_PARTITION__'}"
                    for n, _ in pcols
                )
                for dd in by_seq.get(r[_DEL_SEQ], []):
                    debt[dd][leaf] = debt[dd].get(leaf, 0) + r["count"]
        self._debt_memo = (snap["snapshot_id"], debt)
        return debt

    def _compact_partitions(
        self,
        spark: SparkSession,
        st: _State,
        partition_filter: list[tuple] | None,
        partition_leaves: list[str] | None,
        zorder: list[str] | None = None,
    ) -> dict:
        """Partition-scoped ``rewrite_data_files``: see :meth:`compact`.
        ``zorder`` rewrites the scoped slice Morton-interleaved (Iceberg's
        ``strategy => 'sort', sort_order => 'zorder(…)'`` WITH a filter) —
        hot partitions get multi-column file bounding boxes while cold
        data is untouched."""
        current = st.snapshot(None, None)
        dir_epochs = st.dir_epochs
        intro = st.dir_intro_seqs
        ddirs = list(current.get("delete_dirs") or [])
        targets = set(partition_leaves or [])

        rewrite: dict[str, list[str]] = {}      # dir -> matched leaf paths
        kept_suffixes: dict[str, list[str]] = {}  # dir -> surviving suffixes
        kept_subpaths: dict[str, list[str]] = {}  # dir -> kept rel subpaths
        for d in current["data_dirs"]:
            root = self.data_dir / d
            epoch = dir_epochs[d]
            all_leaves = self._leaf_dirs([root], [], epoch["partition_spec"])
            if partition_leaves is not None:
                matched = [
                    leaf
                    for leaf in all_leaves
                    if any(
                        self._suffixes_intersect(self._leaf_suffix(d, leaf), t)
                        for t in targets
                    )
                ]
            else:
                gf = self._translate_filters(st, partition_filter, epoch["column_ids"])
                matched = (
                    self._leaf_dirs([root], gf, epoch["partition_spec"])
                    if gf is not None
                    else []
                )
            if not matched:
                kept_suffixes[d] = [self._leaf_suffix(d, l) for l in all_leaves]
                continue
            rewrite[d] = matched
            matched_set = set(matched)
            kept = [l for l in all_leaves if l not in matched_set]
            kept_suffixes[d] = [self._leaf_suffix(d, l) for l in kept]
            if kept:
                kept_subpaths[d] = [
                    str(Path(l).relative_to(self.data_dir)) for l in kept
                ]
        if not rewrite:
            # nothing matches — metadata no-op; the procedure output still
            # reports what the rewrite touched (nothing)
            return {**current, "rewritten_files": 0, "added_files": 0}

        # rewrite the matched leaves through the MoR read plan: each
        # source dir's leaves are scanned under its own write epoch and
        # anti-joined against exactly the delete files applicable to it
        old_files = [
            f for leaves in rewrite.values() for l in leaves for f in _list_data_files(Path(l))
        ]
        matched_files, matched_rows = len(old_files), _footer_row_count(old_files)
        slice_df = self._read_mor(spark, st, list(rewrite), ddirs, None, leaves=rewrite)
        # the range-distributed write samples its input before shuffling,
        # which would re-execute the scan + delete anti-join — persist so
        # the slice materializes once (unpersisted right after the write;
        # cached keeps the handle so derived frames don't orphan it)
        cached = slice_df.persist()
        # range distribution: the slice is typically ONE hot partition,
        # which hash mode would write on a single core
        new_dir, new_rows, new_files = self._write_compacted(
            st, cached, zorder, spark.sparkContext.defaultParallelism, distribution="range"
        )
        cached.unpersist()
        if new_rows == 0:
            # every row in the matched partitions was MoR-deleted: the
            # rewrite materializes to nothing — drop the empty dir AND its
            # file count (Spark may have emitted a schema-only empty file;
            # counting it would make the snapshot's file_count disagree
            # with what verify_integrity can see on disk)
            shutil.rmtree(self.data_dir / new_dir, ignore_errors=True)
            new_dir = None
            new_files = 0

        # a delete file can be retired when every partition it has debt in
        # was rewritten in EVERY data dir it applies to (a suffix is
        # uncovered in a dir iff a SURVIVING leaf of that dir can
        # intersect it)
        debt = self._delete_debt(spark, st)
        retired: set[str] = set()
        for dd in ddirs:
            applies_to = [
                d
                for d in current["data_dirs"]
                if intro.get(dd, -1) > intro.get(d, -1)
            ]
            if all(
                not any(
                    self._suffixes_intersect(s, k)
                    for k in kept_suffixes.get(d, [])
                )
                for s in debt[dd]
                for d in applies_to
            ):
                retired.add(dd)

        kept_dirs = [sp for d in current["data_dirs"] for sp in kept_subpaths.get(d, [])]
        extra = {
            # kept leaves keep their source dir's sequence and epoch
            "dir_sequence_overrides": {
                sp: intro.get(d, -1) for d, sps in kept_subpaths.items() for sp in sps
            },
            "dir_epoch_overrides": {
                sp: dir_epochs[d] for d, sps in kept_subpaths.items() for sp in sps
            },
        }
        if new_dir is not None:
            # lineage for cherrypick_snapshot: the matched leaves' rows now
            # live in new_dir (kept leaves stay as direct subpath
            # references, so they need no lineage entry)
            extra["absorbed_dirs"] = {new_dir: sorted(
                str(Path(l).relative_to(self.data_dir))
                for leaves in rewrite.values()
                for l in leaves
            )}
        # visible rows are unchanged; the data files lose the erased
        # images the rewrite materialized. The rewritten dir is written
        # under the CURRENT declared state (kept subpaths carry their own
        # epoch overrides).
        entry = self._commit(st, _Delta(
            "compact", self._write_epoch(st.meta), read_at=current,
            add=kept_dirs + ([new_dir] if new_dir is not None else []), remove=list(rewrite),
            remove_deletes=sorted(retired),
            rows=new_rows - matched_rows, files=new_files - matched_files, extra=extra,
        ))
        log_audit_event("table_write", st.name, details={
            "mode": "compact_partitions", "rewritten_dirs": len(rewrite),
            "rewritten_files": matched_files, "new_files": new_files,
            "retired_delete_files": len(retired),
        })
        # scoped procedure output: only the files the rewrite touched —
        # table-wide totals would misreport a where-scoped rewrite
        return {
            **entry,
            "rewritten_files": int(matched_files),
            "added_files": int(new_files),
        }

    def rewrite_delete_files(self, spark: SparkSession) -> dict:
        """Merge accumulated equality-delete files WITHOUT touching any
        data — Iceberg's ``rewrite_position_delete_files`` maintenance
        analog, the cheap tier between "leave the deletes deferred" and a
        full :meth:`compact`: cost is O(delete keys), never O(table).

        Correctness hinges on sequence scoping: a delete file applies
        only to data dirs with a STRICTLY LOWER intro sequence, so two
        delete files are mergeable only when the SAME data dirs sit below
        both (no data dir's intro falls between theirs). Delete dirs are
        grouped by that applicability cutpoint; each multi-file group is
        rewritten into one deduplicated key file whose intro sequence is
        pinned to the group's newest source via ``dir_sequence_overrides``
        — the merged file erases exactly what its sources erased, and
        never a row appended after them. (Any sequence in the group's span
        does that for the data dirs read; the newest also covers a
        rewrite's output committed concurrently, pinned to a snapshot
        inside the span, which the newer sources still apply to.)

        A race with another merge-on-read write keeps it: its delete file
        carries forward. A commit that rewrote a merged delete file
        meanwhile makes this one raise CommitConflictError.
        """
        import bisect

        st = self._state()
        snap = st.snapshot(None, None)
        ddirs = list(snap.get("delete_dirs") or [])
        if len(ddirs) < 2:
            return snap
        intro = st.dir_intro_seqs
        data_seqs = sorted(intro.get(d, -1) for d in snap["data_dirs"])
        groups: dict[int, list[str]] = {}
        for dd in ddirs:
            cut = bisect.bisect_left(data_seqs, intro.get(dd, -1))
            groups.setdefault(cut, []).append(dd)
        sources = [dds for dds in groups.values() if len(dds) > 1]
        if not sources:
            return snap
        overrides: dict[str, int] = {}
        for dds in sources:
            new_dir, _ = self._write_delete_keys(
                st, self._read_delete_keys(spark, st, sorted(dds)).dropDuplicates()
            )
            overrides[new_dir] = max(intro[dd] for dd in dds)
        entry = self._commit(st, _Delta(
            "rewrite_deletes", self._write_epoch(st.meta), read_at=snap,
            add_deletes=list(overrides), remove_deletes=[dd for dds in sources for dd in dds],
            extra={"dir_sequence_overrides": overrides},
        ))
        log_audit_event("table_write", st.name, details={
            "mode": "rewrite_deletes", "delete_files_before": len(ddirs),
            "delete_files_after": len(entry["delete_dirs"]),
        })
        return entry

    def remove_orphan_files(
        self, older_than_ms: int | None = None, grace_ms: int = 3 * 86400 * 1000
    ) -> list[str]:
        """Delete data directories referenced by NO snapshot — debris from
        writes that crashed between data materialization and log commit
        (the ``remove_orphan_files`` maintenance procedure; SURVEY §4 —
        distinct from :meth:`expire_snapshots`, which prunes directories
        that WERE referenced by now-expired history).

        A grace window protects in-flight writes: a concurrent writer has
        materialized its directory but not yet won the commit race, so only
        directories last modified before ``older_than_ms`` (default
        now − ``grace_ms``, Iceberg's 3-day default) are removed. Returns
        the removed directory names.
        """
        if older_than_ms is None:
            older_than_ms = _now_ms() - grace_ms
        ref_whole, ref_subs = self._referenced()
        removed: list[str] = []
        for child in sorted(self.data_dir.iterdir()):
            if (
                not child.is_dir()
                or child.name in ref_whole
                or child.name in ref_subs
            ):
                continue
            # truncate mtime to ms the same way _now_ms truncates: the raw
            # float keeps fractional milliseconds, so a dir created within
            # the same millisecond as the cutoff would compare as "newer
            # than now" and flakily survive a grace_ms=0 sweep
            if int(child.stat().st_mtime * 1000) > older_than_ms:
                continue
            shutil.rmtree(child)
            removed.append(child.name)
        if removed:
            log_audit_event(
                "table_write",
                self.fq_name,
                details={"mode": "remove_orphan_files", "removed_dirs": removed},
            )
        return removed

    def verify_integrity(self, snapshot_id: str | None = None) -> dict:
        """Metadata↔data consistency check — the fsck the reference's
        disaster-recovery runbook implies (restore a catalog store or
        un-delete S3 objects, then "after verification, swap the table",
        ``docs/operations-runbook.md:105-140``; this is the verification
        step). Driver-side metadata only: paths + parquet footers,
        O(files), no data scan.

        Checks, for the selected (default current) snapshot:

        - every referenced data directory exists and holds ≥1 parquet file
          (a missing dir = data loss the log doesn't know about — exactly
          what a partial S3 restore produces);
        - footer row counts sum to the entry's ``row_count`` exactly (it
          counts data-file rows, merge-on-read snapshots included);
        - physical file count matches ``file_count``;
        - the commit log itself is well-formed: wherever two surviving
          entries have CONSECUTIVE sequences, the later one's parent must
          chain to the earlier. Non-consecutive neighbors are NOT errors —
          tag-/fork-pinned ``expire_snapshots`` legitimately keeps e.g.
          {seq 0, seq 2} (Iceberg retention does the same), so gaps are
          reported informationally as ``retention_gaps`` without failing
          ``ok``.

        Also inventories orphan directories (referenced by NO snapshot or
        branch) — debris, not corruption; ``remove_orphan_files``
        territory. Returns a report dict with ``ok`` (orphans don't fail
        it) and per-category findings; raises nothing, so it is safe to
        run against a half-restored table.
        """
        st = self._state()
        report: dict = {
            "table": st.name,
            "ok": True,
            "missing_dirs": [],
            "empty_dirs": [],
            "row_count_mismatch": None,
            "file_count_mismatch": None,
            "log_errors": [],
            "retention_gaps": [],
            "orphan_dirs": [],
        }
        entries = st.entries
        if not entries:
            report["log_errors"].append("no snapshots")
            report["ok"] = False
            return report
        expired_seqs = set(st.meta["expired_sequences"])
        for prev, e in zip(entries, entries[1:]):
            if e["sequence"] == prev["sequence"] + 1:
                # adjacent survivors: the parent chain must hold exactly
                if e.get("parent_id") != prev["snapshot_id"]:
                    report["log_errors"].append(
                        f"sequence {e['sequence']} parent_id does not chain"
                    )
            else:
                # A gap is legitimate ONLY when expire_snapshots tombstoned
                # every missing sequence (tag-/fork-pinned retention keeps
                # e.g. {0, 2}); a sequence absent from both the log and the
                # tombstone list is a lost entry — the partial-restore
                # corruption fsck exists to catch.
                unexplained = [
                    s
                    for s in range(prev["sequence"] + 1, e["sequence"])
                    if s not in expired_seqs
                ]
                if unexplained:
                    report["log_errors"].append(
                        f"sequences {unexplained} missing from the log with "
                        "no expire_snapshots tombstone (lost entries?)"
                    )
                else:
                    report["retention_gaps"].append(
                        (prev["sequence"], e["sequence"])
                    )
        snap = st.snapshot(snapshot_id, None)
        total_rows = 0
        total_files = 0
        for d in snap["data_dirs"]:
            base = self.data_dir / d
            if not base.is_dir():
                report["missing_dirs"].append(d)
                continue
            files = _list_data_files(base)
            if not files:
                report["empty_dirs"].append(d)
                continue
            total_rows += _footer_row_count(files)
            total_files += len(files)
        for d in snap.get("delete_dirs") or []:
            if not (self.data_dir / d).is_dir():
                report["missing_dirs"].append(d)
        if not report["missing_dirs"] and not report["empty_dirs"]:
            if total_rows != snap["row_count"]:
                report["row_count_mismatch"] = {
                    "expected": snap["row_count"], "actual": total_rows,
                }
            if total_files != snap["file_count"]:
                report["file_count_mismatch"] = {
                    "expected": snap["file_count"], "actual": total_files,
                }
        ref_whole, ref_subs = self._referenced()
        if self.data_dir.is_dir():
            report["orphan_dirs"] = sorted(
                c.name for c in self.data_dir.iterdir()
                if c.is_dir()
                and c.name not in ref_whole
                and c.name not in ref_subs
            )
        report["ok"] = not (
            report["missing_dirs"]
            or report["empty_dirs"]
            or report["row_count_mismatch"]
            or report["file_count_mismatch"]
            or report["log_errors"]
        )
        return report

    def expire_snapshots(self, older_than_ms: int | None = None, max_age_ms: int | None = None) -> int:
        """Drop snapshots past the retention window; delete orphaned data.

        ``max_age_ms`` defaults to the template's
        ``history_expire_max_snapshot_age_ms``. The current snapshot always
        survives. Returns the number of snapshots removed.
        """
        st = self._state()
        if older_than_ms is None:
            if max_age_ms is None:
                max_age_ms = int(
                    st.meta.get("properties", {}).get(
                        "history_expire_max_snapshot_age_ms", 7 * 86400 * 1000
                    )
                )
            older_than_ms = _now_ms() - max_age_ms

        entries = st.entries
        if not entries:
            return 0
        keep = [e for e in entries if e["committed_at_ms"] > older_than_ms]
        if not keep or keep[-1]["sequence"] != entries[-1]["sequence"]:
            keep = keep + [entries[-1]] if entries[-1] not in keep else keep
        # a branch's merged view needs its fork entry (its base data_dirs
        # live there) — fork entries survive retention while the branch does
        forks = {b["fork_sequence"] for b in self.list_branches()}
        for e in entries:
            if e["sequence"] in forks and e not in keep:
                keep.append(e)
        # Iceberg expire semantics for named refs: tag refs past their own
        # max_ref_age_ms are dropped first, then every snapshot a LIVE tag
        # points at is pinned regardless of the age cutoff
        for ref in self.list_tags():
            age = ref.get("max_ref_age_ms")
            if age is not None and ref["created_at_ms"] + age <= _now_ms():
                self.delete_tag(ref["name"])
        tagged = {ref["sequence"] for ref in self.list_tags()}
        for e in entries:
            if e["sequence"] in tagged and e not in keep:
                keep.append(e)
        drop = [e for e in entries if e not in keep]

        referenced = {d for e in keep for d in self._entry_dirs(e)}
        referenced |= {
            d for e in self._all_branch_entries() for d in self._entry_dirs(e)
        }
        if drop:
            # Tombstone the dropped sequences in table metadata so
            # verify() can tell legitimate retention gaps from log entries
            # lost to a partial restore (which have no tombstone).
            tomb = set(st.meta["expired_sequences"]) | {e["sequence"] for e in drop}
            self._write_meta({
                **st.meta,
                "expired_sequences": sorted(tomb),
                # the entries that dated each dir's write epoch may be among
                # the dropped: keep the epochs of the dirs that stay live
                "dir_epochs": {d: ep for d, ep in st.dir_epochs.items() if d in referenced},
            })
        for e in drop:
            (self.log_dir / f"{e['sequence']:012d}.json").unlink(missing_ok=True)
        ref_whole, ref_subs = self._ref_index(referenced)
        for child in self.data_dir.iterdir():
            if not child.is_dir() or child.name in ref_whole:
                continue
            if child.name in ref_subs:
                # the dir survives only through kept subpath references
                # (partition-scoped compaction): GC the rewritten leaves
                # the moment no snapshot references the dir whole
                self._prune_unreferenced_leaves(child, ref_subs[child.name])
                continue
            shutil.rmtree(child)
        return len(drop)

    def _referenced(self) -> tuple[set[str], dict[str, set[tuple]]]:
        """:meth:`_ref_index` of every dir an entry of the main log or of a
        branch references (branch commits reference dirs main never
        will)."""
        entries = self._read_log(self.root / "_log") + self._all_branch_entries()
        return self._ref_index({d for e in entries for d in self._entry_dirs(e)})

    @staticmethod
    def _ref_index(dirs) -> tuple[set[str], dict[str, set[tuple]]]:
        """Split raw entry-dir references into whole top-level dirs and,
        for subpath references (partition-scoped compaction's kept
        leaves), {top dir: {segment tuples}}."""
        whole: set[str] = set()
        subs: dict[str, set[tuple]] = {}
        for d in dirs:
            if "/" in d:
                top, rest = d.split("/", 1)
                subs.setdefault(top, set()).add(tuple(rest.split("/")))
            else:
                whole.add(d)
        return whole, subs

    def _prune_unreferenced_leaves(self, base: Path, keep_rels: set[tuple]) -> None:
        """Remove partition subdirs of ``base`` not on any referenced
        subpath (files at each level are kept — sidecars, unpartitioned
        data). A zero-length rel means the whole subtree is referenced."""
        if any(len(k) == 0 for k in keep_rels):
            return
        firsts = {k[0] for k in keep_rels}
        for entry in sorted(base.iterdir()):
            if not entry.is_dir():
                continue
            if entry.name not in firsts:
                shutil.rmtree(entry)
                continue
            self._prune_unreferenced_leaves(
                entry, {k[1:] for k in keep_rels if k[0] == entry.name}
            )

    # -- tags (immutable named refs) ---------------------------------------
    #
    # Iceberg/Nessie tags: a tag names a snapshot forever (release audits,
    # "the exact data behind model v3"), unlike a branch whose head moves.
    # The reference's Nessie pitch covers both ref kinds
    # (docs/deep-dive.md:262-303); Iceberg itself exposes them as
    # `ALTER TABLE t CREATE TAG v1 [RETAIN ...]` + `VERSION AS OF 'v1'`.
    # A tag pins its snapshot against expire_snapshots until the tag is
    # deleted or its own max_ref_age_ms lapses — exactly Iceberg's
    # ref-retention rules.

    _TAGS = "_tags"

    def _tag_path(self, name: str) -> Path:
        return self.root / self._TAGS / (quote(name, safe="") + ".json")

    def create_tag(
        self,
        name: str,
        snapshot_id: str | None = None,
        max_ref_age_ms: int | None = None,
    ) -> dict:
        """Tag the current (or given) snapshot. Metadata-only; immutable —
        re-tagging an existing name raises (delete first, like Iceberg)."""
        st = self._state()
        path = self._tag_path(name)
        if path.exists():
            raise ValueError(f"Tag {name!r} already exists on {st.name}")
        snap = st.snapshot(snapshot_id, None)
        path.parent.mkdir(parents=True, exist_ok=True)
        ref = {
            "name": name,
            "snapshot_id": snap["snapshot_id"],
            "sequence": snap["sequence"],
            "created_at_ms": _now_ms(),
            "max_ref_age_ms": max_ref_age_ms,
        }
        tmp = path.parent / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(ref, indent=2))
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ValueError(f"Tag {name!r} already exists on {st.name}")
        finally:
            tmp.unlink(missing_ok=True)
        log_audit_event("schema_evolution", st.name, details={
            "change": "create_tag", "tag": name, "snapshot_id": snap["snapshot_id"],
        })
        return ref

    def tag(self, name: str) -> dict:
        path = self._tag_path(name)
        if not path.exists():
            raise ValueError(f"No tag {name!r} on {self.fq_name}")
        return json.loads(path.read_text())

    def list_tags(self) -> list[dict]:
        tdir = self.root / self._TAGS
        if not tdir.exists():
            return []
        return [
            json.loads(p.read_text()) for p in sorted(tdir.glob("[!.]*.json"))
        ]

    def delete_tag(self, name: str) -> None:
        path = self._tag_path(name)
        if not path.exists():
            raise ValueError(f"No tag {name!r} on {self.fq_name}")
        path.unlink()

    def refs(self, spark: SparkSession) -> DataFrame:
        """The named-refs metadata table, like Iceberg's ``t.refs``: one
        row per branch/tag with the snapshot it points at. Driver-side
        metadata only — O(refs), no data scan."""
        heads = [("main", self._state().head)] + [
            (b["name"], _BranchView(self.root, b["name"])._state().head)
            for b in self.list_branches()
        ]
        rows = [(name, "BRANCH", head and head["snapshot_id"], None) for name, head in heads]
        for ref in self.list_tags():
            rows.append(
                (ref["name"], "TAG", ref["snapshot_id"], ref.get("max_ref_age_ms"))
            )
        return spark.createDataFrame(
            rows, "name STRING, type STRING, snapshot_id STRING, max_ref_age_ms LONG"
        )

    # -- branches (Nessie-style data branching) ----------------------------
    #
    # The reference's Nessie catalog module exists FOR git-like data
    # branching (docs/deep-dive.md:262-303: test a schema migration on an
    # isolated branch while "readers on main see the old schema", merge
    # when ready, roll back by resetting the pointer). catalog_conf.py
    # carries the Nessie config; this gives the local snapstore the same
    # semantics: a branch is a lightweight ref — its own commit log + an
    # optional copy-on-evolve schema — sharing the main table's immutable
    # data directories, exactly how Nessie/Iceberg refs work (a branch is
    # metadata; data files are never copied).

    _BRANCHES = "_branches"

    def _branch_root(self, name: str) -> Path:
        from urllib.parse import quote

        return self.root / self._BRANCHES / quote(name, safe="")

    def _all_branch_entries(self) -> list[dict]:
        out: list[dict] = []
        bdir = self.root / self._BRANCHES
        if bdir.exists():
            for child in sorted(bdir.iterdir()):
                log = child / "_log"
                if log.exists():
                    out.extend(self._read_log(log))
        return out

    def list_branches(self) -> list[dict]:
        bdir = self.root / self._BRANCHES
        out = []
        if bdir.exists():
            for child in sorted(bdir.iterdir()):
                ref = child / "branch.json"
                if ref.exists():
                    out.append(json.loads(ref.read_text()))
        return out

    def create_branch(self, name: str, at_snapshot_id: str | None = None) -> "SnapTable":
        """Fork a branch at the current (or given) snapshot; returns the
        branch view — a full SnapTable interface whose writes, schema
        evolutions, time-travel, and snapshot listing are isolated from
        main. Data directories are shared (refs are metadata-only)."""
        st = self._state()
        broot = self._branch_root(name)
        if (broot / "branch.json").exists():
            raise ValueError(f"Branch {name!r} already exists on {st.name}")
        if at_snapshot_id is None:
            fork_seq = st.head["sequence"] if st.head else -1
        else:
            fork_seq = st.snapshot(at_snapshot_id, None)["sequence"]
        (broot / "_log").mkdir(parents=True, exist_ok=True)
        ref = {
            "name": name,
            "fork_sequence": fork_seq,
            # schema at fork time, for merge conflict detection
            "base_columns": st.meta.get("columns", []),
            "created_at_ms": _now_ms(),
        }
        (broot / "branch.json").write_text(json.dumps(ref, indent=2))
        return _BranchView(self.root, name)

    def branch(self, name: str) -> "SnapTable":
        if not (self._branch_root(name) / "branch.json").exists():
            raise ValueError(f"No branch {name!r} on {self.fq_name}")
        return _BranchView(self.root, name)

    def delete_branch(self, name: str) -> None:
        """Delete branch ``name``: its ref and log (the data dirs it shares
        are main's to expire), and the follow-head records of its views —
        each such temp view is dropped from the session that registered it,
        so no later commit tries to re-resolve a branch that is gone. A
        catalog-branch publish (``CatalogBranch.merge``) and abandon
        (``CatalogBranch.delete``) both end here."""
        broot = self._branch_root(name)
        if not (broot / "branch.json").exists():
            raise ValueError(f"No branch {name!r} on {self.fq_name}")
        own = _head_reg_key(self.root)
        for view, rec in list(_HEAD_REGISTRATIONS.items()):
            if rec["root"] == own and getattr(rec["table"], "branch_name", None) == name:
                del _HEAD_REGISTRATIONS[view]
                for suffix in ("", *(_METADATA_VIEWS if rec.get("metadata_tables") else ())):
                    rec["spark"].catalog.dropTempView(view + suffix)
        shutil.rmtree(broot)

    @staticmethod
    def _merge_conflict(
        branch: _State, columns: list[dict], main_entries: list[dict]
    ) -> str | None:
        """Why the branch in state ``branch`` cannot merge into a main that
        declares ``columns`` and logs ``main_entries``, or None: the one
        mergeability rule :meth:`merge_branch` enforces and a catalog
        publish validates every table with before it merges any. A branch
        schema change needs main still at the fork with the schema it
        forked from; on a moved main only appends on both sides commute
        (rewrites do not)."""
        fork = branch.ref["fork_sequence"]
        moved = (main_entries[-1]["sequence"] if main_entries else -1) != fork
        if "columns" in branch.ref and (moved or columns != branch.ref["base_columns"]):
            return (
                "it evolved the schema but main moved or changed its schema since "
                "the fork — manual resolution required"
            )
        # main's commits after the fork, then the branch's own
        if moved and any(
            e["operation"] != "append"
            for e in main_entries + branch.entries
            if e["sequence"] > fork
        ):
            return "non-append commits on a diverged history (appends commute; rewrites do not)"
        return None

    def merge_branch(self, name: str) -> dict:
        """Merge a branch into main.

        Fast-forward when main has not advanced past the fork: branch
        commits are adopted verbatim (atomic per-slot link claims), and a
        branch schema evolution is applied to the main table. When main HAS
        advanced, append-only histories on both sides rebase — each branch
        append replays as a pure-add commit (appends commute) — while
        rewrites or a branch schema change against a moved main raise
        CommitConflictError (:meth:`_merge_conflict`; resolve by hand,
        exactly Nessie's conflict model). A main writer that claims a slot
        mid-fast-forward turns the append remainder into a replay. After a
        successful merge the branch ref fast-forwards to the new main head
        and keeps working.
        """
        st = self._state()
        bv = _BranchView(self.root, name)
        bst = bv._state()
        ref = bst.ref
        fork = ref["fork_sequence"]
        branch_entries = [e for e in bst.entries if e["sequence"] > fork]
        main_entries = st.entries
        columns = st.meta.get("columns", [])
        problem = self._merge_conflict(bst, columns, main_entries)
        if problem is not None:
            raise CommitConflictError(f"Cannot merge branch {name!r}: {problem}")
        at_fork = [e for e in main_entries if e["sequence"] <= fork]

        def replay_appends(entries_to_replay: list[dict], prev_view: dict | None) -> dict | None:
            """Commit each branch append's dirs as a pure-add delta onto
            whatever main holds. The branch entry's write epoch rides
            along: the dirs keep the schema/layout they were physically
            written under."""
            last = None
            for e in entries_to_replay:
                prev_dirs = prev_view["data_dirs"] if prev_view else []
                last = self._commit(st, _Delta(
                    "append", _epoch_of(e),
                    add=[d for d in e["data_dirs"] if d not in prev_dirs],
                    rows=e["row_count"] - (prev_view["row_count"] if prev_view else 0),
                    files=e["file_count"] - (prev_view["file_count"] if prev_view else 0),
                ))
                prev_view = e
            return last

        if main_entries[-1:] == at_fork[-1:]:  # main is still at the fork
            # fast-forward: adopt branch entries verbatim, slot by slot. The
            # schema override is deferred until every entry has landed — a
            # half-failed merge must not leave main's schema changed.
            last = at_fork[-1] if at_fork else None
            raced_at: int | None = None
            for i, e in enumerate(branch_entries):
                tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}"
                tmp.write_text(json.dumps(e))
                target = self.log_dir / f"{e['sequence']:012d}.json"
                try:
                    os.link(tmp, target)
                    tmp.unlink()
                except FileExistsError:
                    tmp.unlink(missing_ok=True)
                    raced_at = i
                    break
                last = e
            if raced_at is not None:
                # a concurrent main writer claimed a slot mid-merge. Fall
                # back to rebasing the unmerged remainder instead of raising
                # with a partial publish: appends commute, so replaying them
                # after the racer's commit is exactly the diverged-merge
                # semantics. Non-append remainders are a genuine conflict.
                remaining = branch_entries[raced_at:]
                if any(e["operation"] != "append" for e in remaining):
                    raise CommitConflictError(
                        f"Merge of branch {name!r} lost a race on sequence "
                        f"{remaining[0]['sequence']} and the remainder holds "
                        f"non-append commits (rewrites do not commute) — "
                        f"{raced_at} leading commit(s) already merged; the "
                        f"branch still holds the full history for manual "
                        f"resolution"
                    )
                last = replay_appends(remaining, last)
            if "columns" in ref:
                # main's schema can change without a commit: read it again
                # for this write, and apply the rule against main as it
                # stood at the fork
                meta = self._state().meta
                problem = self._merge_conflict(bst, meta.get("columns", []), at_fork)
                if problem is not None:
                    raise CommitConflictError(f"Cannot merge branch {name!r}: {problem}")
                columns = ref["columns"]
                self._write_meta(
                    {**meta, "columns": columns, "next_field_id": ref["next_field_id"]}
                )
        else:
            last = replay_appends(branch_entries, at_fork[-1] if at_fork else None)
            if last is None:
                last = main_entries[-1]

        # fast-forward the branch ref to the merged head; branch keeps working
        new_head = last["sequence"] if last else -1
        for p in bv.log_dir.glob(self._LOG_GLOB):
            p.unlink()
        new_ref = {
            "name": name,
            "fork_sequence": new_head,
            "base_columns": columns,
            "created_at_ms": ref["created_at_ms"],
        }
        (self._branch_root(name) / "branch.json").write_text(json.dumps(new_ref, indent=2))
        log_audit_event("table_write", st.name, details={
            "mode": "merge_branch", "branch": name, "head_sequence": new_head,
        })
        # merge mutates the committed head outside _commit (fast-forward
        # links entries directly; the branch ref rewinds) — follow-head
        # views must re-resolve or they'd keep serving the pre-merge state
        self._refresh_head_registrations()
        return last if last else {}


class _BranchView(SnapTable):
    """A branch of a :class:`SnapTable` — the full table interface with the
    commit log and (after an evolution) the schema scoped to the branch.
    Inherits reads, writes, time-travel, snapshot listing, incremental
    scans, and schema evolution; only the log location and the state read
    (:meth:`_state`) differ. Table-wide maintenance (expire/orphan
    removal) stays on the main table."""

    def __init__(self, root: str | Path, name: str):
        super().__init__(root)
        self.branch_name = name
        self._broot = self._branch_root(name)
        self.log_dir = self._broot / "_log"

    def _state(self) -> _State:
        """Main's ``table.json`` with the schema override of the branch
        ref (``branch.json``), and a log of main's entries up to the fork
        followed by the branch's own."""
        main = super()._state()
        ref = json.loads((self._broot / "branch.json").read_text())
        meta = {**main.meta, **{k: ref[k] for k in ("columns", "next_field_id") if k in ref}}
        fork = ref["fork_sequence"]

        def read_log() -> list[dict]:
            return [
                e for e in self._read_log(self.root / "_log") if e["sequence"] <= fork
            ] + self._read_log(self.log_dir)

        return _State(meta, f"{main.name}@{self.branch_name}", read_log, ref)

    def reset(self, snapshot_id: str) -> None:
        """Move the branch pointer back to ``snapshot_id`` (rolling back bad
        changes by resetting the ref — deep-dive.md:279). Branch commits
        after the target are discarded; main is untouched."""
        target = self._state().snapshot(snapshot_id, None)
        for p in self.log_dir.glob(self._LOG_GLOB):
            if int(p.stem) > target["sequence"]:
                p.unlink()
        # head moved without a _commit — re-resolve follow-head views so a
        # registered branch view stops serving the discarded commits
        self._refresh_head_registrations()

    def _maintenance_unsupported(self, op: str):
        raise RuntimeError(
            f"{op} operates on shared data directories — run it on the main "
            f"table, not branch {self.branch_name!r}"
        )

    def expire_snapshots(self, older_than_ms: int | None = None, max_age_ms: int | None = None) -> int:
        self._maintenance_unsupported("expire_snapshots")

    def remove_orphan_files(self, older_than_ms: int | None = None, grace_ms: int = 3 * 86400 * 1000) -> list[str]:
        self._maintenance_unsupported("remove_orphan_files")

    def create_branch(self, name: str, at_snapshot_id: str | None = None) -> "SnapTable":
        raise RuntimeError("Branch a branch from the main table instead")

    def create_tag(
        self,
        name: str,
        snapshot_id: str | None = None,
        max_ref_age_ms: int | None = None,
    ) -> dict:
        # branch sequences continue from the fork and can collide with
        # later main sequences — a branch-scoped tag would pin the wrong
        # main snapshot at expire time. Tag from the main table.
        raise RuntimeError(
            "Tags are table-wide refs — create them on the main table, not "
            f"branch {self.branch_name!r}"
        )

    # a branch ref carries only a columns override: a branch-scoped
    # layout, property or identity change would be silently dropped at
    # merge, so these run on main only

    def _table_wide(self, what: str):
        raise RuntimeError(
            f"{what} is table-wide metadata — change it on the main table, "
            f"not branch {self.branch_name!r}"
        )

    def evolve_partition_spec(self, new_spec: list[dict]) -> dict:
        self._table_wide("Partition-spec evolution")

    def evolve_sort_order(self, order: list[dict]) -> dict:
        self._table_wide("Sort-order evolution")

    def set_properties(self, props: dict) -> dict:
        self._table_wide("A table property")

    def unset_properties(self, keys: list[str]) -> dict:
        self._table_wide("A table property")

    def set_identifier_fields(self, fields: list[str]) -> dict:
        self._table_wide("The identifier-field set")
