"""SQL DML front door: route INSERT/DELETE/UPDATE/MERGE statements to the
SnapTable executors.

The reference's user-facing promise is plain SQL against the lakehouse —
including writes (its named queries and runbooks submit DML to
Athena/BigQuery verbatim; the engine weighing in ``docs/deep-dive.md`` is
explicitly about upsert/DML behavior). Spark temp views are read-only, so
``spark.sql("DELETE FROM t …")`` can never reach a snapstore table on its
own; this module recognizes the four DML statement shapes, parses the
table-independent parts (conditions and expressions stay VERBATIM SQL —
they are evaluated by Spark inside the SnapTable executors, so anything
Spark SQL accepts in a WHERE/SET/ON position works here), and delegates:

- ``INSERT INTO t [(cols)] <query>``  → ``t.append(spark.sql(query))``
  (query output maps positionally, exactly ANSI semantics; a column
  subset fills the rest with typed NULLs);
  ``INSERT OVERWRITE [TABLE] t …``    → ``t.overwrite(…)``
- ``DELETE FROM t [WHERE cond]``      → ``t.delete_where(cond)`` — the
  physical strategy follows the table's Iceberg ``write.delete.mode``
  property (copy-on-write default; ``merge-on-read`` commits equality
  deletes), so statements stay engine-portable
- ``UPDATE t SET c = e, … [WHERE p]`` → ``t.update_where(p, {c: e})``
- ``MERGE INTO t [AS a] USING src [AS b] ON cond WHEN …``
                                       → ``t.merge_into(…)``

MERGE accepts arbitrary target/source aliases and rewrites them to the
executor's fixed ``t``/``s`` prefixes (word-boundary ``alias.`` matching,
applied in code only, never in a literal or comment). Clause grammar
follows Spark's own MERGE surface: WHEN MATCHED [AND c] THEN UPDATE SET
…|DELETE, WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT (cols) VALUES
(exprs)|INSERT *, WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET
…|DELETE.

Governance: DML requires writer/admin — a reader session raises before
any parse (column/row policies govern what a reader SEES; writes are a
capability, not a filter). Statements that are not DML return None and
fall through to the read path.
"""

from __future__ import annotations

import re

from iceberg_quickstart_iac_spark.tables.sql_text import (
    find_keyword,
    normalize,
    split_top_level,
    sub_code,
)

_DML_KW = re.compile(r"^(insert|delete|update|merge)\b", re.IGNORECASE)


def is_dml(text: str) -> bool:
    """Whether ``text``, a statement through :func:`normalize`, is DML."""
    return _DML_KW.match(text) is not None


def _rewrite_alias(expr: str, mapping: dict[str, str]) -> str:
    """Rewrite ``alias.`` column prefixes to the executor's fixed prefixes,
    in code only (never inside a literal or comment).

    All aliases rewrite in ONE pass (a single regex alternation with a
    lookup callback): sequential per-alias substitution would let a later
    rule re-capture an earlier rule's OUTPUT — ``MERGE INTO a AS x USING
    b AS t`` maps ``x→t, t→s``, and rewriting ``x.k`` to ``t.k`` first and
    then applying the ``t→s`` rule would silently turn every target
    reference into a source reference (``s.k = s.k``)."""
    if not mapping:
        return expr
    lookup = {a.lower(): tgt for a, tgt in mapping.items()}
    # longest-first so an alias that prefixes another can't shadow it
    alts = "|".join(
        re.escape(a) for a in sorted(mapping, key=len, reverse=True)
    )
    pat = re.compile(rf"\b({alts})\s*\.", re.IGNORECASE)
    return sub_code(pat, lambda m: lookup[m.group(1).lower()] + ".", expr)


def _parse_set_list(set_sql: str, alias_map: dict[str, str]) -> dict[str, str]:
    exprs: dict[str, str] = {}
    for item in split_top_level(set_sql):
        col, eq, rhs = item.partition("=")
        if not eq:
            raise ValueError(f"DML: malformed SET item {item!r}")
        name = col.strip()
        # accept (and drop) a target prefix on the assigned column
        name = re.sub(r"^\w+\s*\.\s*", "", name)
        if not re.fullmatch(r"\w+", name):
            raise ValueError(f"DML: malformed SET column {col.strip()!r}")
        exprs[name] = _rewrite_alias(rhs.strip(), alias_map)
    return exprs


# ---------------------------------------------------------------------------
# statement parsers — each returns a plan dict consumed by execute_dml
# ---------------------------------------------------------------------------


# table-name groups accept the qualified `[cat.][ns.]table` form the DDL
# side (and the reference's namespace.table named queries) use —
# `_resolve_table` strips the qualifier and validates the namespace.
# An INSERT column list holds bare names only, so a PARENTHESIZED source
# query (`INSERT INTO t (SELECT …)`) is read as the source
_INSERT_RE = re.compile(
    r"^insert\s+(into|overwrite)\s+(?:table\s+)?([\w.]+)\s*"
    r"(?:\((\s*\w+(?:\s*,\s*\w+)*\s*)\)\s*)?(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^delete\s+from\s+([\w.]+)(?:\s+where\s+(.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_HEAD_RE = re.compile(
    r"^update\s+([\w.]+)\s+set\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_HEAD_RE = re.compile(
    r"^merge\s+into\s+([\w.]+)(?:\s+(?:as\s+)?(\w+))?\s+using\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_SRC_RE = re.compile(
    r"^(\(.*\)|\w+)(?:\s+(?:as\s+)?(\w+))?$", re.IGNORECASE | re.DOTALL
)


def _parse_update(s: str):
    """(table, set_sql, cond|None) — the SET/WHERE boundary is found with
    the top-level scanner, so a literal containing ' where ' (or a CASE
    WHEN with a where-ish payload) in a SET expression never splits the
    statement early."""
    m = _UPDATE_HEAD_RE.match(s)
    if not m:
        return None
    table, tail = m.group(1), m.group(2)
    wi = find_keyword(tail, "where")
    if wi < 0:
        return table, tail.strip(), None
    return table, tail[:wi].strip(), tail[wi + 5 :].strip()


def _parse_merge_head(s: str):
    """(table, t_alias|None, src_sql, on_sql, when_tail) — the USING/ON
    and ON/WHEN boundaries are found with the top-level scanner: a
    subquery source can contain its own ON (inside parens), an ON
    condition can contain a string literal with ' when ' or a full
    CASE WHEN expression, and neither may split the statement early."""
    m = _MERGE_HEAD_RE.match(s)
    if not m:
        return None
    table, t_alias, rest = m.groups()
    oi = find_keyword(rest, "on")
    if oi < 0:
        return None
    src_sql = rest[:oi].strip()
    after = rest[oi + 2 :]
    wi = find_keyword(after, "when")
    if wi <= 0:
        return None
    return table, t_alias, src_sql, after[:wi].strip(), after[wi:].strip()


def _resolve_table(lake, dotted: str):
    """Resolve a possibly `cat.ns.table`-qualified DML name to the
    SnapTable, rejecting a namespace that contradicts the template —
    the reference's named queries address `namespace.table`
    (dagster/lakehouse/resources/iceberg.py:54-57), so the DML and CALL
    surfaces accept the same qualified form the DDL side already does."""
    from iceberg_quickstart_iac_spark.tables.sql_ddl import _table_name

    name, namespace = _table_name(dotted)
    t = lake.table(name)
    if namespace is not None:
        declared = str(t.meta.get("namespace", "default"))
        if namespace != declared:
            raise ValueError(
                f"table {name!r} belongs to namespace {declared!r}, "
                f"not {namespace!r} (statement addressed {dotted!r})"
            )
    return t


def _parse_merge_clauses(tail: str, alias_map: dict[str, str]) -> dict:
    """Split the ``WHEN …`` tail into merge_into's clause dicts. Clause
    boundaries are TOP-LEVEL ``WHEN`` keywords (never inside parens,
    string literals, or a CASE … END — so a CASE WHEN in a clause
    condition or SET expression, or an identifier like ``when_created``,
    never splits a clause)."""
    starts = find_keyword(tail, "when", all_hits=True)
    if starts[:1] != [0]:
        starts = [0] + starts
    pieces = [
        tail[a:b].strip() for a, b in zip(starts, starts[1:] + [len(tail)])
    ]

    matched: list[dict] = []
    not_matched: list[dict] = []
    by_source: list[dict] = []
    head_re = re.compile(
        r"^when\s+(matched|not\s+matched(?:\s+by\s+(target|source))?)\b",
        re.IGNORECASE,
    )
    for piece in pieces:
        hm = head_re.match(piece)
        if not hm:
            raise ValueError(f"MERGE: unparseable clause {piece!r}")
        kind_raw, by = hm.group(1), hm.group(2)
        # the condition/action boundary is the top-level THEN — found
        # with the scanner, so a CASE … THEN … END (or a literal
        # containing ' then ') inside the AND condition never splits it
        remainder = piece[hm.end():]
        ti = find_keyword(remainder, "then")
        if ti < 0:
            raise ValueError(f"MERGE: clause missing THEN {piece!r}")
        cond_part = remainder[:ti].strip()
        action_sql = remainder[ti + 4:]
        cond = None
        if cond_part:
            am = re.match(
                r"^and\s+(.+)$", cond_part, re.IGNORECASE | re.DOTALL
            )
            if not am:
                raise ValueError(
                    f"MERGE: unparseable clause condition {piece!r}"
                )
            cond = am.group(1)
        kind = "matched" if kind_raw.lower() == "matched" else (
            "by_source" if (by or "").lower() == "source" else "not_matched"
        )
        action_sql = action_sql.strip()
        clause: dict = {}
        if cond:
            clause["condition"] = _rewrite_alias(cond.strip(), alias_map)
        au = action_sql.upper()
        if au == "DELETE":
            clause["action"] = "delete"
        elif au.startswith("UPDATE"):
            set_m = re.match(r"^update\s+set\s+(.+)$", action_sql,
                             re.IGNORECASE | re.DOTALL)
            if not set_m:
                raise ValueError(f"MERGE: malformed UPDATE in {piece!r}")
            clause["action"] = "update"
            body = set_m.group(1).strip()
            clause["set"] = (
                "*" if body == "*" else _parse_set_list(body, alias_map)
            )
        elif au.startswith("INSERT"):
            if kind != "not_matched":
                raise ValueError("MERGE: INSERT is only valid WHEN NOT MATCHED")
            clause["action"] = "insert"
            body = action_sql[len("insert"):].strip()
            if body == "*":
                clause["values"] = "*"
            else:
                ins_m = re.match(r"^\(([^)]*)\)\s*values\s*\((.+)\)$", body,
                                 re.IGNORECASE | re.DOTALL)
                if not ins_m:
                    raise ValueError(f"MERGE: malformed INSERT in {piece!r}")
                cols = split_top_level(ins_m.group(1))
                vals = split_top_level(ins_m.group(2))
                if len(cols) != len(vals):
                    raise ValueError(
                        f"MERGE: INSERT column/value count mismatch in {piece!r}"
                    )
                clause["values"] = {
                    c: _rewrite_alias(v, alias_map) for c, v in zip(cols, vals)
                }
        else:
            raise ValueError(f"MERGE: unknown action {action_sql!r}")
        {"matched": matched, "not_matched": not_matched,
         "by_source": by_source}[kind].append(clause)
    return {
        "when_matched": matched,
        "when_not_matched": not_matched,
        "when_not_matched_by_source": by_source,
    }


def _audit_statement(kind: str, statement: str, access_level: str) -> None:
    """Per-STATEMENT audit record for the SQL front door (the warehouse
    CloudTrail analog). Only a hash + prefix of the statement is logged —
    literals can carry data values, which the audit stream must not
    republish; the executors' own table_write events carry the rest."""
    import hashlib

    from iceberg_quickstart_iac_spark.governance.audit import log_audit_event

    log_audit_event(
        "sql_statement",
        "catalog",
        details={
            "kind": kind,
            "access_level": str(access_level),
            "statement_sha256": hashlib.sha256(
                statement.encode()
            ).hexdigest()[:16],
            "statement_prefix": statement[:48],
        },
    )


def execute_dml(lake, spark, statement: str, access_level: str = "admin"):
    """Parse and run a DML statement against the catalog; returns the
    commit entry dict from the SnapTable executor. Raises on a reader
    session, an unknown table, or an unparseable statement."""
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.governance.access import AccessLevel

    if AccessLevel(access_level) is AccessLevel.READER:
        raise PermissionError(
            "reader sessions cannot execute DML — column/row policies "
            "govern what a reader sees; writes need writer/admin"
        )
    s = normalize(statement)
    kw = s.split(None, 1)[0].lower()
    _audit_statement(kw, s, access_level)

    if kw == "insert":
        m = _INSERT_RE.match(s)
        if not m:
            raise ValueError(f"DML: unparseable INSERT {statement!r}")
        mode, table, cols_sql, source_sql = m.groups()
        t = _resolve_table(lake, table)
        declared = [c["name"] for c in t.meta.get("columns", [])]
        df = spark.sql(source_sql.strip())
        if cols_sql:
            cols = split_top_level(cols_sql)
            unknown = set(cols) - set(declared)
            if unknown:
                raise ValueError(f"INSERT: unknown columns {sorted(unknown)}")
            if len(df.columns) != len(cols):
                raise ValueError(
                    f"INSERT: query returns {len(df.columns)} columns for "
                    f"{len(cols)} listed"
                )
            df = df.toDF(*cols)
            # ANSI: unlisted declared columns fill with typed NULLs (the
            # append path casts them to the declared types)
            for c in declared:
                if c not in cols:
                    df = df.withColumn(c, F.lit(None))
            df = df.select(*declared)
        else:
            if len(df.columns) != len(declared):
                raise ValueError(
                    f"INSERT: query returns {len(df.columns)} columns; "
                    f"{table} declares {len(declared)} — positional mapping "
                    f"needs all of them (or list the columns)"
                )
            df = df.toDF(*declared)
        if mode.lower() == "overwrite":
            return t.overwrite(df)
        return t.append(df)

    if kw == "delete":
        m = _DELETE_RE.match(s)
        if not m:
            raise ValueError(f"DML: unparseable DELETE {statement!r}")
        table, cond = m.groups()
        t = _resolve_table(lake, table)
        # Iceberg's write.delete.mode table property picks the physical
        # strategy for SQL deletes (copy-on-write default, merge-on-read
        # for low-latency deletes on identifier-keyed tables) — the same
        # knob real engines dispatch on, so a SQL user never hard-codes
        # the executor mode into a statement
        prop = str(
            t.meta.get("properties", {}).get(
                "write.delete.mode", "copy-on-write"
            )
        ).lower()
        mor = prop in ("merge-on-read", "mor")
        return t.delete_where(
            spark, cond or "true", mode="mor" if mor else "cow"
        )

    if kw == "update":
        parsed = _parse_update(s)
        if not parsed:
            raise ValueError(f"DML: unparseable UPDATE {statement!r}")
        table, set_sql, cond = parsed
        return _resolve_table(lake, table).update_where(
            spark, cond or "true", _parse_set_list(set_sql, {})
        )

    if kw == "merge":
        parsed = _parse_merge_head(s)
        if not parsed:
            raise ValueError(f"DML: unparseable MERGE {statement!r}")
        table, t_alias, src_sql, on_sql, when_tail = parsed
        src_m = _MERGE_SRC_RE.match(src_sql.strip())
        if not src_m:
            raise ValueError(f"MERGE: unparseable USING source {src_sql!r}")
        src_body, s_alias = src_m.groups()
        alias_map = {}
        if t_alias:
            alias_map[t_alias] = "t"
        if s_alias:
            alias_map[s_alias] = "s"
        # an un-aliased plain-table source is addressable by its name
        if not s_alias and re.fullmatch(r"\w+", src_body):
            alias_map[src_body] = "s"
        if not t_alias:
            # a qualified un-aliased target is addressable by its bare name
            alias_map.setdefault(table.split(".")[-1], "t")
        source = spark.sql(
            src_body[1:-1] if src_body.startswith("(") else
            f"SELECT * FROM {src_body}"
        )
        clauses = _parse_merge_clauses(when_tail, alias_map)
        return _resolve_table(lake, table).merge_into(
            spark,
            source,
            on=_rewrite_alias(on_sql.strip(), alias_map),
            **clauses,
        )

    raise ValueError(f"DML: unsupported statement {statement!r}")
