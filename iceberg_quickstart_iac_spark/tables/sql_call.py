"""SQL ``CALL`` front door: Iceberg-style stored procedures.

Iceberg's Spark integration ships its whole maintenance surface as
stored procedures — ``CALL catalog.system.expire_snapshots(table =>
't', …)`` (the public spark-procedures documentation) — and the
reference's operations runbook drives exactly this maintenance from a
warehouse session (``docs/operations-runbook.md``: snapshot expiry,
orphan cleanup, compaction, rollback after a bad write). This module
parses that dialect and routes each procedure to the
:class:`~iceberg_quickstart_iac_spark.tables.snapstore.SnapTable`
method that already implements it, returning the procedure's result as
a one-row (or result-set) DataFrame the way Spark does.

Procedures (named ``k => v`` or positional arguments; the first/
``table`` argument accepts ``[cat.][ns.]table`` with namespace
validation like the DML front door):

- ``expire_snapshots(table, older_than?, max_age_ms?)`` →
  ``(deleted_snapshots_count)``. ``older_than`` takes epoch-ms or a
  ``TIMESTAMP '<iso>'`` literal.
- ``remove_orphan_files(table, older_than?)`` → one row per removed
  directory ``(orphan_location)``; empty result when nothing was
  orphaned.
- ``rewrite_data_files(table, strategy?, sort_order?, where?,
  target_files?)`` → ``(rewritten_data_files_count,
  added_data_files_count)``. ``strategy => 'sort'`` with
  ``sort_order => 'zorder(a, b)'`` routes to the z-order rewrite;
  ``where => '<predicate>'`` routes to partition-scoped compaction
  (the predicate parses to partition-column filters).
- ``rewrite_position_delete_files(table)`` →
  ``(rewritten_delete_files_count, added_delete_files_count)``.
- ``rollback_to_snapshot(table, snapshot_id)`` /
  ``rollback_to_timestamp(table, timestamp)`` /
  ``set_current_snapshot(table, snapshot_id)`` →
  ``(previous_snapshot_id, current_snapshot_id)``. All three are the
  same metadata-only re-reference commit here (:meth:`rollback_to` —
  the rollback is itself history, so it can be rolled back); Iceberg
  distinguishes set-current (any snapshot) from rollback (ancestors
  only), a divergence documented rather than faked.
- ``ancestors_of(table)`` → the commit lineage of the current head,
  newest first: ``(snapshot_id, committed_at_ms, sequence,
  operation)``.
- ``create_changelog_view(table, from_snapshot_id, to_snapshot_id?,
  view?, follow_head?)`` → ``(changelog_view)`` — registers the
  governed ``<view>__changes`` CDC view (:meth:`register_changes`)
  and returns its name, like Iceberg's ``create_changelog_view``.
- ``cherrypick_snapshot(table, snapshot_id)`` →
  ``(source_snapshot_id, current_snapshot_id)`` — re-apply one append
  snapshot's delta onto the head (metadata-only; the recovery step
  after a rollback skipped past a bad commit). Append snapshots only,
  like Iceberg; an already-referenced delta is a no-op.
- ``fast_forward(table, branch => 'main', to => <branch>)`` →
  ``(branch_updated, previous_ref, updated_ref)`` — publish a table
  branch to main (:meth:`merge_branch`: validate-first, fast-forward
  or append-rebase; conflicts raise). Only main can be advanced —
  branch refs self-fast-forward when merged.

Governance: procedures that rewrite or erase state
(``expire_snapshots``, ``remove_orphan_files``, ``rollback_*``,
``set_current_snapshot``) are admin-only — same bar as ``DROP TABLE``;
``rewrite_data_files`` / ``rewrite_position_delete_files`` need writer
(they commit, but erase nothing — history stays time-travelable);
``ancestors_of`` / ``create_changelog_view`` are read surfaces open to
every level, with column/row governance applied inside the changelog
view plan. Every CALL is audited per statement like DML/DDL.
"""

from __future__ import annotations

import re

from iceberg_quickstart_iac_spark.tables.sql_text import (
    STRING,
    find_keyword,
    normalize,
    split_top_level,
    timestamp_ms,
    unquote,
)

_CALL_RE = re.compile(
    r"^call\s+((?:[\w.]+\.)?system)\s*\.\s*(\w+)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)

#: procedure name → minimum access level ('reader' means open to all)
_PROC_ACCESS = {
    "expire_snapshots": "admin",
    "remove_orphan_files": "admin",
    "rollback_to_snapshot": "admin",
    "rollback_to_timestamp": "admin",
    "set_current_snapshot": "admin",
    "rewrite_data_files": "writer",
    "rewrite_position_delete_files": "writer",
    "ancestors_of": "reader",
    "create_changelog_view": "reader",
    "fast_forward": "writer",
    "cherrypick_snapshot": "writer",
}

#: positional-argument order per procedure (Iceberg's documented order)
_PROC_POSITIONAL = {
    "expire_snapshots": ["table", "older_than"],
    "remove_orphan_files": ["table", "older_than"],
    "rewrite_data_files": ["table", "strategy", "sort_order", "where"],
    "rewrite_position_delete_files": ["table"],
    "rollback_to_snapshot": ["table", "snapshot_id"],
    "rollback_to_timestamp": ["table", "timestamp"],
    "set_current_snapshot": ["table", "snapshot_id"],
    "ancestors_of": ["table"],
    "create_changelog_view": ["table", "from_snapshot_id", "to_snapshot_id"],
    "fast_forward": ["table", "branch", "to"],
    "cherrypick_snapshot": ["table", "snapshot_id"],
}


def is_call(text: str) -> bool:
    """Whether ``text``, a statement through :func:`normalize`, is a CALL."""
    return bool(re.match(r"^call\b", text, re.IGNORECASE))


def _parse_value(raw: str):
    """A procedure argument literal → Python value. Strings keep their
    type (snapshot ids are strings); TIMESTAMP literals become epoch-ms;
    bare numerics become int; true/false become bool."""
    v = raw.strip()
    m = re.fullmatch(rf"timestamp\s+({STRING})", v, re.IGNORECASE)
    if m:
        return timestamp_ms(m.group(1))
    if re.fullmatch(STRING, v):
        return unquote(v)
    if v.lower() in ("true", "false"):
        return v.lower() == "true"
    if re.fullmatch(r"-?\d+", v):
        return int(v)
    raise ValueError(f"CALL: unsupported argument literal {raw!r}")


def parse_call(statement: str) -> tuple[str, dict]:
    """``(procedure, {arg: value})`` from a CALL statement. Raises
    ValueError for unknown procedures, malformed argument lists, or
    positional-after-named mixing."""
    m = _CALL_RE.match(normalize(statement))
    if not m:
        raise ValueError(
            f"CALL: unparseable statement {statement!r} — expected "
            "CALL [catalog.]system.<procedure>(arg => value, ...)"
        )
    _, proc, argsql = m.groups()
    proc = proc.lower()
    if proc not in _PROC_ACCESS:
        raise ValueError(
            f"CALL: unknown procedure {proc!r} — supported: "
            + ", ".join(sorted(_PROC_ACCESS))
        )
    args: dict = {}
    positional = _PROC_POSITIONAL[proc]
    seen_named = False
    items = split_top_level(argsql)
    for i, item in enumerate(items):
        nm = re.match(r"^\s*(\w+)\s*=>\s*(.+)$", item, re.DOTALL)
        if nm:
            seen_named = True
            key = nm.group(1).lower()
            args[key] = _parse_value(nm.group(2))
        else:
            if seen_named:
                raise ValueError(
                    "CALL: positional argument after a named argument"
                )
            if i >= len(positional):
                raise ValueError(
                    f"CALL {proc}: too many positional arguments"
                )
            args[positional[i]] = _parse_value(item)
    if "table" not in args:
        raise ValueError(f"CALL {proc}: missing required argument 'table'")
    return proc, args


def execute_call(lake, spark, statement: str, access_level: str = "admin"):
    """Parse and run a CALL statement; returns the procedure's result
    DataFrame. Raises PermissionError below the procedure's access bar."""
    from iceberg_quickstart_iac_spark.governance.access import AccessLevel
    from iceberg_quickstart_iac_spark.tables.sql_ddl import _table_name
    from iceberg_quickstart_iac_spark.tables.sql_dml import (
        _audit_statement,
        _resolve_table,
    )

    proc, args = parse_call(statement)
    level = AccessLevel(access_level)
    need = _PROC_ACCESS[proc]
    rank = {"reader": 0, "writer": 1, "admin": 2}
    if rank[level.value] < rank[need]:
        raise PermissionError(
            f"CALL {proc} requires {need} access (session is {level.value})"
        )
    _audit_statement("call", statement.strip(), access_level)

    dotted = str(args.pop("table"))
    name = _table_name(dotted)[0]
    t = _resolve_table(lake, dotted)

    if proc == "expire_snapshots":
        kwargs = {}
        if "older_than" in args:
            kwargs["older_than_ms"] = int(args.pop("older_than"))
        if "max_age_ms" in args:
            kwargs["max_age_ms"] = int(args.pop("max_age_ms"))
        _reject_extra(proc, args)
        n = t.expire_snapshots(**kwargs)
        return spark.createDataFrame(
            [(n,)], "deleted_snapshots_count BIGINT"
        )

    if proc == "remove_orphan_files":
        kwargs = {}
        if "older_than" in args:
            kwargs["older_than_ms"] = int(args.pop("older_than"))
        _reject_extra(proc, args)
        removed = t.remove_orphan_files(**kwargs)
        return spark.createDataFrame(
            [(d,) for d in removed], "orphan_location STRING"
        )

    if proc == "rewrite_data_files":
        kwargs = {}
        strategy = str(args.pop("strategy", "binpack")).lower()
        sort_order = args.pop("sort_order", None)
        if strategy == "sort" and sort_order:
            zm = re.fullmatch(
                r"\s*zorder\s*\(([^)]*)\)\s*", str(sort_order), re.IGNORECASE
            )
            if zm:
                kwargs["zorder"] = split_top_level(zm.group(1))
            # a linear sort_order re-sorts on the table's declared write
            # order during the rewrite — the declared order IS the sort
        elif strategy not in ("binpack", "sort"):
            raise ValueError(
                f"CALL rewrite_data_files: unknown strategy {strategy!r}"
            )
        if "where" in args:
            kwargs["partition_filter"] = _parse_where_filters(
                str(args.pop("where"))
            )
        if "target_files" in args:
            kwargs["target_files"] = int(args.pop("target_files"))
        _reject_extra(proc, args)
        after = t.compact(spark, **kwargs)
        # compact() reports the files the rewrite actually touched (scoped
        # rewrites count only matched partitions), matching Iceberg's
        # procedure output — NOT table-wide before/after totals
        return spark.createDataFrame(
            [(int(after["rewritten_files"]), int(after["added_files"]))],
            "rewritten_data_files_count BIGINT, "
            "added_data_files_count BIGINT",
        )

    if proc == "rewrite_position_delete_files":
        _reject_extra(proc, args)
        before = t.current_snapshot()
        n_before = len(before.get("delete_dirs") or [])
        after = t.rewrite_delete_files(spark)
        n_after = len(after.get("delete_dirs") or [])
        return spark.createDataFrame(
            [(n_before, n_after)],
            "rewritten_delete_files_count BIGINT, "
            "added_delete_files_count BIGINT",
        )

    if proc in (
        "rollback_to_snapshot", "set_current_snapshot", "rollback_to_timestamp"
    ):
        key = "timestamp" if proc == "rollback_to_timestamp" else "snapshot_id"
        target = _required(proc, args, key)
        _reject_extra(proc, args)
        if key == "timestamp":
            target = t._snapshot_for(None, int(target))["snapshot_id"]
        prev = t.current_snapshot()
        entry = t.rollback_to(str(target))
        return spark.createDataFrame(
            [(prev["snapshot_id"], entry["snapshot_id"])],
            "previous_snapshot_id STRING, current_snapshot_id STRING",
        )

    if proc == "ancestors_of":
        _reject_extra(proc, args)
        rows = [
            (
                e["snapshot_id"],
                int(e["committed_at_ms"]),
                int(e["sequence"]),
                str(e.get("operation", "")),
            )
            for e in reversed(t._entries())
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id STRING, committed_at_ms BIGINT, "
            "sequence BIGINT, operation STRING",
        )

    if proc == "cherrypick_snapshot":
        sid = _required(proc, args, "snapshot_id")
        _reject_extra(proc, args)
        entry = t.cherrypick_snapshot(str(sid))
        return spark.createDataFrame(
            [(str(sid), entry["snapshot_id"])],
            "source_snapshot_id STRING, current_snapshot_id STRING",
        )

    if proc == "fast_forward":
        # Iceberg's fast_forward(table, branch, to): advance `branch` to
        # `to`'s head. Here the only advanceable ref is main (branch
        # refs self-fast-forward on merge), so branch must be 'main' and
        # `to` names the table branch to publish — the WAP publish step
        # as a procedure. merge_branch validates first and rebases
        # append-only histories; conflicts raise (Nessie's model).
        branch = str(args.pop("branch", "main"))
        to = _required(proc, args, "to")  # the branch to publish
        _reject_extra(proc, args)
        if branch != "main":
            raise ValueError(
                "CALL fast_forward: only 'main' can be fast-forwarded — "
                "branch refs self-fast-forward when merged"
            )
        prev = t.current_snapshot()
        entry = t.merge_branch(str(to))
        return spark.createDataFrame(
            [(
                branch,
                prev["snapshot_id"] if prev else None,
                entry.get("snapshot_id"),
            )],
            "branch_updated STRING, previous_ref STRING, "
            "updated_ref STRING",
        )

    if proc == "create_changelog_view":
        kwargs = {
            "from_snapshot_id": str(_required(proc, args, "from_snapshot_id"))
        }
        if "to_snapshot_id" in args:
            kwargs["to_snapshot_id"] = str(args.pop("to_snapshot_id"))
        if args.pop("follow_head", False):
            kwargs["follow_head"] = True
        view = str(args.pop("view", name))
        _reject_extra(proc, args)
        registered = t.register_changes(
            spark, name=view, access_level=access_level, **kwargs
        )
        return spark.createDataFrame(
            [(registered,)], "changelog_view STRING"
        )

    raise AssertionError(f"unrouted procedure {proc}")  # pragma: no cover


def _required(proc: str, args: dict, key: str):
    """Pop required argument ``key``; raises when it is absent."""
    if args.get(key) is None:
        raise ValueError(f"CALL {proc}: missing required argument {key!r}")
    return args.pop(key)


def _reject_extra(proc: str, args: dict) -> None:
    if args:
        raise ValueError(
            f"CALL {proc}: unsupported argument(s) {sorted(args)}"
        )


def _parse_where_filters(where: str) -> list[tuple]:
    """A rewrite_data_files ``where`` predicate → partition_filter
    triples. Supports AND-conjoined ``col op literal`` comparisons
    (=, <, <=, >, >=) — the shape partition-scoped maintenance uses;
    anything else is a loud reject, never a silent full-table rewrite."""
    filters: list[tuple] = []
    ands = find_keyword(where, "and", all_hits=True)
    for a, b in zip([0] + [i + 3 for i in ands], ands + [len(where)]):
        clause = where[a:b]
        m = re.fullmatch(
            r"\s*(\w+)\s*(=|<=|>=|<|>)\s*(.+?)\s*", clause, re.DOTALL
        )
        if not m:
            raise ValueError(
                f"CALL rewrite_data_files: unsupported where clause "
                f"{clause!r} (AND-conjoined col-op-literal only)"
            )
        col, op, lit = m.groups()
        filters.append((col, op, _parse_value(lit)))
    return filters
