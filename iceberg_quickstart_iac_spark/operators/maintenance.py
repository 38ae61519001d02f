"""MoR maintenance policy: compact when read amplification crosses a
threshold (SURVEY §2.10 maintenance composition).

Merge-on-read defers delete application to read time. A read scans the
keys of every outstanding delete file together (one scan unless a rename
of a key column splits them) and applies them in one anti-join, so its
plan does not grow with the delete-file count; its cost grows with the
total deferred KEYS (the anti-join's build side). The policy bounds
both:

- ``max_delete_files`` — the per-read driver overhead knob (each delete
  file adds a directory to the delete-key scan and two sidecar reads);
- ``max_delete_ratio`` — deferred keys / data-file rows (the snapshot's
  ``row_count``, Iceberg's ``total-records``, which still counts the
  images the deferred deletes erase), the knob that bounds the
  anti-join's build side relative to the table.

Both dials read metadata only. Where the deferred deletes' debt lies —
which partition leaves hold the rows they erase — is not recorded at
write time (that would scan the table on every merge-on-read write); it
is computed by one query over the table's key and partition columns when
the ratio dial plans a partition-scoped compaction, which rewrites data
anyway.

This is the same dial Iceberg exposes as
``rewrite_data_files``/``rewrite_position_delete_files`` maintenance jobs
and Hudi runs as the compactor; the reference's operations runbook
schedules maintenance the same way (``docs/operations-runbook.md``). Run
it from the monitor loop (:mod:`..governance.drift`) or after a CDC
ingest cycle (:func:`..streaming.ingest.incremental_cdc_ingest`'s
documented cadence).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable, _footer_row_count


def mor_read_amplification(table: SnapTable) -> dict:
    """Metadata-only audit of the current snapshot's deferred-delete
    debt: delete-file count, total deferred keys, and the ratio of keys to
    data-file rows. O(delete files) footer reads, no data scan."""
    snap = table.current_snapshot()
    if snap is None:
        return {"delete_files": 0, "deferred_keys": 0, "ratio": 0.0}
    ddirs = snap.get("delete_dirs") or []
    keys = 0
    for d in ddirs:
        base = table.data_dir / d
        if base.is_dir():
            keys += _footer_row_count(sorted(base.rglob("*.parquet")))
    rows = max(int(snap.get("row_count") or 0), 1)
    return {
        "delete_files": len(ddirs),
        "deferred_keys": keys,
        "ratio": keys / rows,
    }


def mor_partition_debt(table: SnapTable, spark: SparkSession | None = None) -> dict:
    """Attribute the current snapshot's deferred-delete debt to partition
    leaves: one query joining the data files' keys and partition columns
    to the delete keys (:meth:`~..tables.snapstore.SnapTable._delete_debt`,
    shared with the scoped compaction it plans). Returns::

        {"attributed": True,          # the debt is computed, never unknown
         "leaves": {suffix: rows},    # erased data-file rows per leaf
         "debt_row_share": float}     # physical-row share of debt leaves

    ``debt_row_share`` is the fraction of the table's PHYSICAL rows living
    in partitions that carry any debt (parquet footer counts, O(files)) —
    the dial that decides whether a partition-scoped rewrite is cheaper
    than a full compact. ``spark`` defaults to the active session."""
    from pathlib import Path

    st = table._state()
    snap = st.head
    if snap is None:
        return {"attributed": True, "leaves": {}, "debt_row_share": 0.0}
    leaves: dict[str, int] = {}
    debt = table._delete_debt(spark or SparkSession.getActiveSession(), st)
    for per_leaf in debt.values():
        for leaf, n in per_leaf.items():
            leaves[leaf] = leaves.get(leaf, 0) + n
    if not leaves:
        return {"attributed": True, "leaves": {}, "debt_row_share": 0.0}
    dir_epochs = st.dir_epochs
    total_rows = 0
    debt_rows = 0
    debt_suffixes = list(leaves)
    for d in snap["data_dirs"]:
        spec = dir_epochs[d]["partition_spec"]
        for leaf in table._leaf_dirs([table.data_dir / d], [], spec):
            files = sorted(Path(leaf).rglob("*.parquet"))
            n = _footer_row_count(files) if files else 0
            total_rows += n
            suffix = table._leaf_suffix(d, leaf)
            if any(table._suffixes_intersect(suffix, s) for s in debt_suffixes):
                debt_rows += n
    share = debt_rows / total_rows if total_rows else 1.0
    return {"attributed": True, "leaves": leaves, "debt_row_share": share}


def maintain_mor(
    spark: SparkSession,
    table: SnapTable,
    max_delete_files: int | None = None,
    max_delete_ratio: float | None = None,
    partition_scope_max_share: float | None = None,
) -> dict:
    """Two-tier MoR maintenance, the Iceberg/Hudi compactor split:

    - deferred-KEY ratio over ``max_delete_ratio`` → materialize the
      deletes. When :func:`mor_partition_debt` shows the debt
      concentrated in partitions holding at most
      ``partition_scope_max_share`` of the table's physical rows, that is
      a PARTITION-SCOPED :meth:`~..tables.snapstore.SnapTable.compact` —
      O(hot partitions), the Iceberg ``rewrite_data_files(filter)``
      maintenance shape — falling back to the full O(table) compact only
      if the scoped rewrite could not restore a healthy ratio (keys
      matching no data row);
    - delete-FILE count over ``max_delete_files`` with the ratio still
      healthy → :meth:`~..tables.snapstore.SnapTable.rewrite_delete_files`
      (merge the files; O(delete keys)); falls through to a full compact
      only if merging could not get back under the file bound (heavily
      interleaved appends);
    - neither → metadata-only no-op.

    Returns the audit plus ``{"action": "none"|"rewrite_deletes"|
    "compact", "compacted": bool}`` (+ the commit's snapshot id when one
    happened) — idempotent and safe on a fresh or delete-free table.

    Every action is a rewrite commit against the snapshot it planned
    from: appends and merge-on-read writes that land meanwhile are kept
    (their delete files still apply to the rewritten rows), and a
    concurrent rewrite of the same files raises CommitConflictError
    with the winner's commit intact — the next run replans from it.

    Thresholds resolve template-first (the reference's single-source-of-
    truth philosophy): an explicit argument wins, else the table
    template's ``maintenance_max_delete_files`` /
    ``maintenance_max_delete_ratio`` /
    ``maintenance_partition_scope_max_share`` properties, else the
    measured sweep defaults (16 files / 5% / 50% share).
    """
    props = table.meta.get("properties", {})
    if max_delete_files is None:
        max_delete_files = int(props.get("maintenance_max_delete_files", 16))
    if max_delete_ratio is None:
        max_delete_ratio = float(props.get("maintenance_max_delete_ratio", 0.05))
    if partition_scope_max_share is None:
        partition_scope_max_share = float(
            props.get("maintenance_partition_scope_max_share", 0.5)
        )
    audit = mor_read_amplification(table)
    if audit["delete_files"] == 0:
        return {**audit, "compacted": False, "action": "none"}
    if audit["ratio"] >= max_delete_ratio:
        prof = mor_partition_debt(table, spark)
        if prof["leaves"] and prof["debt_row_share"] <= partition_scope_max_share:
            entry = table.compact(
                spark, partition_leaves=sorted(prof["leaves"])
            )
            after = mor_read_amplification(table)
            if after["ratio"] < max_delete_ratio:
                return {**audit, "compacted": True,
                        "action": "compact_partitions",
                        "debt_row_share": prof["debt_row_share"],
                        "ratio_after": after["ratio"],
                        "snapshot_id": entry["snapshot_id"]}
        entry = table.compact(spark)
        return {**audit, "compacted": True, "action": "compact",
                "snapshot_id": entry["snapshot_id"]}
    if audit["delete_files"] >= max_delete_files:
        entry = table.rewrite_delete_files(spark)
        after = mor_read_amplification(table)
        if after["delete_files"] >= max_delete_files:
            entry = table.compact(spark)
            return {**audit, "compacted": True, "action": "compact",
                    "snapshot_id": entry["snapshot_id"]}
        return {**audit, "compacted": False, "action": "rewrite_deletes",
                "delete_files_after": after["delete_files"],
                "snapshot_id": entry["snapshot_id"]}
    return {**audit, "compacted": False, "action": "none"}
