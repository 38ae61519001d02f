"""SQL DDL front door: CREATE/DROP/ALTER statements against the catalog.

Completes the SQL-only workflow next to :mod:`tables.sql_dml`: the
reference GENERATES Iceberg DDL strings (``templates/ddl.py`` —
``create_table_ddl`` / ``write_order_ddl`` / ``create_namespace_ddl``,
mirroring ``aws/modules/athena``'s named queries) and submits them to a
warehouse; this module parses that same dialect back, so the repo's own
generated DDL round-trips through ``Lakehouse.sql`` (pinned by test) and
a user can stand up and evolve tables with statements alone:

- ``CREATE TABLE [IF NOT EXISTS] [cat.][ns.]t (col TYPE [NOT NULL]
  [COMMENT '…'], …) [USING iceberg] [PARTITIONED BY (transform, …)]
  [TBLPROPERTIES ('k'='v', …)]`` → ``Lakehouse.create_table``
- ``CREATE NAMESPACE [IF NOT EXISTS] …`` → no-op acknowledgment
  (snapstore namespaces are template metadata, not directories)
- ``DROP TABLE [IF EXISTS] t`` → ``Lakehouse.drop_table`` (admin only)
- ``ALTER TABLE t ADD COLUMN c TYPE [COMMENT '…']``   → evolve_add_column
- ``ALTER TABLE t DROP COLUMN c``                      → evolve_drop_column
- ``ALTER TABLE t RENAME COLUMN a TO b``               → evolve_rename_column
- ``ALTER TABLE t ALTER COLUMN c TYPE T``              → evolve_widen_column
- ``ALTER TABLE t WRITE ORDERED BY c [ASC|DESC] [NULLS FIRST|LAST], …``
                                                       → evolve_sort_order
- ``CREATE TABLE [IF NOT EXISTS] t [USING iceberg] AS <query>`` (round
  10) → schema inferred from the query result, created + populated in
  one statement (Athena/Spark CTAS semantics; the source query reads
  through the governed front door)
- ``TRUNCATE TABLE t``   → one zero-file overwrite commit (history and
  time-travel to the pre-truncate state preserved — Iceberg semantics,
  not a destructive rm)
- ``SHOW TABLES`` / ``DESCRIBE [TABLE] t`` → catalog/template metadata
  as DataFrames (the Athena console surface)
- ``ALTER TABLE t CREATE TAG|BRANCH [IF NOT EXISTS] r [AS OF VERSION
  n] [RETAIN n DAYS]`` / ``REPLACE TAG r AS OF VERSION n`` /
  ``DROP TAG|BRANCH [IF EXISTS] r`` (round 10) → the Iceberg ref SQL
  surface over create_tag/create_branch/delete_tag/delete_branch;
  RETAIN maps to the tag's ``max_ref_age_ms``, AS OF VERSION resolves
  a commit SEQUENCE (the number ``FOR VERSION AS OF`` reads use)
- ``ALTER TABLE t ADD|DROP PARTITION FIELD <transform>`` /
  ``REPLACE PARTITION FIELD a WITH b`` (round 10) → metadata-only
  partition evolution (``evolve_partition_spec`` — old data keeps its
  recorded spec, Iceberg split-planning semantics)
- ``ALTER TABLE t SET|UNSET TBLPROPERTIES (…)`` (round 10) →
  ``set_properties``/``unset_properties`` with the same key mapping
  CREATE TABLE uses; UNSET of an unknown key is a no-op
- ``ALTER TABLE t SET IDENTIFIER FIELDS a[, b]`` / ``DROP IDENTIFIER
  FIELDS`` (round 10) → the MoR equality-delete key declaration

Types parse from the Spark DDL names the generator emits (BIGINT, INT,
DOUBLE, FLOAT, STRING, BOOLEAN, DATE, TIMESTAMP/_NTZ, BINARY,
DECIMAL(p,s), ARRAY<T>) back to the template's Iceberg names through the
one type mapper (``templates/loader.template_type``). Governance:
readers cannot run DDL; DROP TABLE additionally requires admin
(destructive — a writer can create and evolve, not erase history).
"""

from __future__ import annotations

import re

from iceberg_quickstart_iac_spark.tables.sql_text import (
    STRING,
    normalize,
    paren_group,
    split_top_level,
    unquote,
)
from iceberg_quickstart_iac_spark.templates.loader import template_type

#: only the statement shapes this module handles — CREATE TEMP VIEW,
#: CREATE FUNCTION, etc. fall through to spark.sql untouched
_DDL_KW = re.compile(
    r"^(?:create\s+(?:table|namespace)|drop\s+table|alter\s+table"
    r"|truncate\s+table|show\s+tables|show\s+create\s+table"
    r"|describe\b|desc\s+table"
    r"|create\s+(?:or\s+replace\s+)?view|drop\s+view|show\s+views)\b",
    re.IGNORECASE,
)

#: DDL TBLPROPERTIES key → template property key (reverse of ddl.py's map)
_REVERSE_PROPS = {
    "write.format.default": "write_format",
    "history.expire.max-snapshot-age-ms": "history_expire_max_snapshot_age_ms",
    "commit.retry.num-retries": "commit_num_retries",
}


def is_ddl(text: str) -> bool:
    """Whether ``text``, a statement through :func:`normalize`, is DDL."""
    return _DDL_KW.match(text) is not None


def _parse_coldef(item: str) -> dict:
    # the type's bracket group runs to the NOT NULL / COMMENT trailer and
    # must balance, so nested types (ARRAY<ARRAY<INT>>) parse
    m = re.match(
        r"^(\w+)\s+([A-Za-z_]+(?:\s*[(<][\w\s,()<>]*?[)>])?)"
        rf"(\s+not\s+null)?(?:\s+comment\s+({STRING}))?\s*$",
        item.strip(),
        re.IGNORECASE,
    )
    if not m or sum(map(m.group(2).count, "(<")) != sum(
        map(m.group(2).count, ")>")
    ):
        raise ValueError(f"DDL: unparseable column definition {item!r}")
    name, sql_type, not_null, comment = m.groups()
    col: dict = {"name": name, "type": template_type(sql_type)}
    if not_null:
        col["required"] = True
    if comment:
        col["description"] = unquote(comment)
    return col


def _parse_transform(entry: str) -> dict:
    e = entry.strip()
    m = re.fullmatch(r"(\w+)", e)
    if m:
        return {"column": m.group(1), "transform": "identity"}
    m = re.fullmatch(r"(years?|months?|days?|hours?)\s*\(\s*(\w+)\s*\)", e,
                     re.IGNORECASE)
    if m:
        return {
            "column": m.group(2),
            "transform": m.group(1).lower().rstrip("s"),
        }
    m = re.fullmatch(r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)", e,
                     re.IGNORECASE)
    if m:
        return {
            "column": m.group(3),
            "transform": f"{m.group(1).lower()}[{m.group(2)}]",
        }
    raise ValueError(f"DDL: unparseable partition transform {entry!r}")


def _table_name(dotted: str) -> tuple[str, str | None]:
    """(table, namespace) from a possibly catalog-qualified name."""
    parts = dotted.split(".")
    if len(parts) == 1:
        return parts[0], None
    # cat.ns.name or ns.name — the last segment is always the table
    return parts[-1], parts[-2]


_CREATE_TABLE_RE = re.compile(
    r"^create\s+table\s+(if\s+not\s+exists\s+)?([\w.]+)\s*", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(
    r"^truncate\s+table\s+([\w.]+)\s*$", re.IGNORECASE
)
_DESCRIBE_RE = re.compile(
    r"^(?:describe|desc)\s+(?:table\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_DROP_RE = re.compile(
    r"^drop\s+(table|view)\s+(if\s+exists\s+)?([\w.]+)\s*$", re.IGNORECASE
)
_ALTER_RE = re.compile(
    r"^alter\s+table\s+([\w.]+)\s+(.+)$", re.IGNORECASE | re.DOTALL
)


def _parse_props(props_sql: str) -> dict:
    """``TBLPROPERTIES('k'='v', …)`` body → template properties dict
    (public Iceberg property names mapped back to template keys)."""
    props = {}
    for pair in split_top_level(props_sql):
        k, eq, v = pair.partition("=")
        if not eq:
            raise ValueError(f"DDL: malformed property {pair!r}")
        key = unquote(k)
        props[_REVERSE_PROPS.get(key, key)] = unquote(v)
    return props


def _parse_create(s: str):
    """(if_not_exists, dotted_name, cols_sql, part_sql, props_sql, query)
    for ``CREATE TABLE t (cols) <clauses>`` (query None) or ``CREATE TABLE
    t <clauses> AS <query>`` (cols_sql None), or None for neither shape.
    The clauses are ``[USING fmt] [PARTITIONED BY (…)] [TBLPROPERTIES
    (…)]`` in Spark SQL's order; their bodies nest parens (``days(ts)``),
    so they parse with the balanced scan, not a regex."""
    m = _CREATE_TABLE_RE.match(s)
    if not m:
        return None
    if_not_exists, dotted = m.groups()
    tail, cols_sql = s[m.end() :], None
    if tail.startswith("("):
        cols_sql, pos = paren_group(s, m.end())
        tail = s[pos:].strip()
    tail = re.sub(r"^using\s+\w+\s*", "", tail, flags=re.IGNORECASE)
    bodies = []
    for clause in (r"partitioned\s+by", "tblproperties"):
        cm = re.match(rf"^{clause}\s*\(", tail, re.IGNORECASE)
        body = None
        if cm:
            body, pos = paren_group(tail, cm.end() - 1)
            tail = tail[pos:].strip()
        bodies.append(body)
    if cols_sql is not None:
        if tail:
            raise ValueError(f"DDL: unparseable CREATE TABLE trailer {tail!r}")
        return if_not_exists, dotted, cols_sql, *bodies, None
    am = re.match(r"^as\s+(.+)$", tail, re.IGNORECASE | re.DOTALL)
    if not am:
        return None
    return if_not_exists, dotted, None, *bodies, am.group(1).strip()


def _parse_ctas(s: str):
    """(if_not_exists, dotted_name, part_sql, props_sql, query) for a
    ``CREATE TABLE … AS <query>`` statement, or None."""
    parsed = _parse_create(s)
    if not parsed or parsed[-1] is None:
        return None
    if_not_exists, dotted, _, part_sql, props_sql, query = parsed
    return if_not_exists, dotted, part_sql, props_sql, query


def _ref_exists(t, kind: str, ref: str) -> bool:
    refs = t.list_tags() if kind == "tag" else t.list_branches()
    return any(r["name"] == ref for r in refs)


def _sequence_snapshot(t, seq: int, clause: str, name: str) -> str:
    """Snapshot id of ``t``'s commit with sequence ``seq`` — the number
    ``AS OF VERSION`` and ``FOR VERSION AS OF`` take."""
    for e in t._entries():
        if e["sequence"] == seq:
            return e["snapshot_id"]
    raise ValueError(f"{clause} {seq}: no commit with that sequence on {name!r}")


def _retract_session_views(spark, name: str) -> None:
    """A catalog DROP must retract the Spark temp views the lazy
    registration created for ``name`` — forgetting the memo and the
    follow-head records (``Lakehouse.drop_table`` / ``drop_view`` do that
    for every caller) leaves the session views resolvable, so a post-drop
    SELECT would silently serve the stale expansion instead of erroring.
    Drops the base view plus every derived variant: the ``name__asof_*``
    time-travel pins, ``name__scope_*`` branch views,
    ``name__snapshots``/… metadata views, and their combinations — all
    derived names start with ``name__`` by construction."""
    prefix = name + "__"
    for t in spark.catalog.listTables():
        if t.isTemporary and (t.name == name or t.name.startswith(prefix)):
            spark.catalog.dropTempView(t.name)


def execute_ddl(lake, spark, statement: str, access_level: str = "admin"):
    """Parse and run a DDL statement; returns a result dict. Raises for
    reader sessions, non-admin DROP, or unparseable statements."""
    from iceberg_quickstart_iac_spark.governance.access import AccessLevel

    level = AccessLevel(access_level)
    if level is AccessLevel.READER:
        raise PermissionError(
            "reader sessions cannot execute DDL — writes and schema "
            "changes need writer/admin"
        )
    s = normalize(statement)
    from iceberg_quickstart_iac_spark.tables.sql_dml import _audit_statement

    _audit_statement(s.split(None, 1)[0].lower(), s, access_level)

    parsed = _parse_create(s)
    if parsed:
        # a column list declares the schema; CREATE TABLE … AS <query>
        # INFERS it from the
        # query result (Spark dtypes → template types; a non-nullable
        # query column becomes a required/NOT NULL template column) and
        # the result populates the new table in the same statement —
        # Athena/Spark CTAS semantics, including partitioned CTAS
        # (PARTITIONED BY transforms) and TBLPROPERTIES. The source query
        # goes back through the front door (lake.sql), so it reads
        # catalog tables with the same lazy governed registration any
        # SELECT gets.
        if_not_exists, dotted, cols_sql, part_sql, props_sql, query = parsed
        op = "create_table" if query is None else "create_table_as"
        name, namespace = _table_name(dotted)
        if (lake.root / name / "table.json").exists():
            if if_not_exists:
                return {"operation": op, "table": name, "created": False}
            raise ValueError(f"Table {name!r} already exists")
        if query is None:
            columns = [_parse_coldef(c) for c in split_top_level(cols_sql)]
        else:
            df = lake.sql(spark, query, access_level=access_level)
            columns = [
                {
                    "name": f.name,
                    "type": template_type(f.dataType),
                    **({"required": True} if not f.nullable else {}),
                }
                for f in df.schema.fields
            ]
        template: dict = {
            "name": name,
            "namespace": namespace or "default",
            "columns": columns,
        }
        if part_sql:
            template["partition_spec"] = [
                _parse_transform(p) for p in split_top_level(part_sql)
            ]
        if props_sql:
            template["properties"] = _parse_props(props_sql)
        t = lake.create_table(template)
        result = {"operation": op, "table": name, "created": True}
        if query is not None:
            result["row_count"] = t.append(df)["row_count"]
        return result

    if re.match(r"^create\s+namespace\b", s, re.IGNORECASE):
        # namespaces are template metadata on snapstore tables — the
        # statement is accepted for script compatibility
        return {"operation": "create_namespace", "created": True}

    m = _TRUNCATE_RE.match(s)
    if m:
        name, _ = _table_name(m.group(1))
        t = lake.table(name)
        # one metadata commit with zero data files — history (and
        # time-travel to the pre-truncate state) is preserved, matching
        # Iceberg TRUNCATE semantics rather than a destructive rm
        commit = t.overwrite(t._empty_declared(spark, t.meta))
        return {
            "operation": "truncate_table",
            "table": name,
            "row_count": commit["row_count"],
        }

    # -- catalog views (round 10: versioned SQL text, Iceberg view spec) --
    m = re.match(
        r"^create\s+(or\s+replace\s+)?view\s+([\w.]+)\s+(.*)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        replace, dotted, rest = m.groups()
        name, namespace = _table_name(dotted)
        rest = rest.strip()
        comment = None
        cm = re.match(
            rf"^comment\s+({STRING})\s+(.*)$",
            rest,
            re.IGNORECASE | re.DOTALL,
        )
        if cm:
            comment = unquote(cm.group(1))
            rest = cm.group(2).strip()
        am = re.match(r"^as\s+(.+)$", rest, re.IGNORECASE | re.DOTALL)
        if not am:
            raise ValueError(
                f"DDL: CREATE VIEW {name} needs AS <query> (temp views "
                "go straight to spark.sql)"
            )
        return lake.create_view(
            name,
            am.group(1).strip(),
            replace=bool(replace),
            comment=comment,
            namespace=namespace or "default",
        )

    m = _DROP_RE.match(s)
    if m:
        kind, if_exists, dotted = m.groups()
        kind = kind.lower()
        if kind == "table" and level is not AccessLevel.ADMIN:
            raise PermissionError(
                "DROP TABLE erases committed history — admin only"
            )
        name, _ = _table_name(dotted)
        drop = lake.drop_table if kind == "table" else lake.drop_view
        dropped = drop(name, if_exists=bool(if_exists))
        if dropped:
            _retract_session_views(spark, name)
        return {"operation": f"drop_{kind}", kind: name, "dropped": dropped}

    if re.match(r"^show\s+views\s*$", s, re.IGNORECASE):
        rows = []
        for name in lake.list_views():
            doc = lake.view(name)
            cur = doc["versions"][doc["current_version"]]
            rows.append(
                (
                    str(doc.get("namespace", "default")),
                    name,
                    int(doc["current_version"]),
                    cur.get("comment") or "",
                )
            )
        return spark.createDataFrame(
            rows or [("", "", 0, "")],
            "namespace STRING, view_name STRING, current_version BIGINT, "
            "comment STRING",
        ).filter("view_name <> ''").orderBy("namespace", "view_name")

    m = re.match(
        r"^show\s+create\s+table\s+([\w.]+)\s*$", s, re.IGNORECASE
    )
    if m:
        # render the repo's OWN generated dialect (templates/ddl.py) —
        # the exact text this parser round-trips, so SHOW CREATE TABLE
        # output can be replayed through Lakehouse.sql verbatim
        from iceberg_quickstart_iac_spark.templates.ddl import (
            create_table_ddl,
            write_order_ddl,
        )

        name, _ = _table_name(m.group(1))
        meta = lake.table(name).meta
        stmts = [create_table_ddl(meta)]
        order = write_order_ddl(meta)
        if order:
            stmts.append(order)
        return spark.createDataFrame(
            [(name, ";\n".join(stmts))], "table_name STRING, ddl STRING"
        )

    if re.match(r"^show\s+tables\s*$", s, re.IGNORECASE):
        rows = []
        for name in lake.list_tables():
            meta = lake.table(name).meta
            rows.append((str(meta.get("namespace", "default")), name))
        return spark.createDataFrame(
            rows or [("", "")], "namespace STRING, table_name STRING"
        ).filter("table_name <> ''").orderBy("namespace", "table_name")

    m = _DESCRIBE_RE.match(s)
    if m:
        name, _ = _table_name(m.group(1))
        if not (lake.root / name / "table.json").exists():
            # not a catalog table — let Spark describe its own temp
            # views/functions rather than raising TableNotFound here
            return spark.sql(s)
        meta = lake.table(name).meta
        rows = [
            (
                c["name"],
                str(c["type"]),
                bool(c.get("required", False)),
                c.get("description", ""),
            )
            for c in meta.get("columns", [])
        ]
        return spark.createDataFrame(
            rows,
            "col_name STRING, data_type STRING, required BOOLEAN, "
            "comment STRING",
        )

    m = _ALTER_RE.match(s)
    if m:
        dotted, action = m.groups()
        name, _ = _table_name(dotted)
        t = lake.table(name)
        a = action.strip()
        am = re.match(r"^add\s+columns?\s+(.+)$", a, re.IGNORECASE | re.DOTALL)
        if am:
            body = am.group(1).strip()
            if body.startswith("(") and body.endswith(")"):
                body = body[1:-1]
            col = _parse_coldef(body)
            return t.evolve_add_column(
                col["name"], col["type"], doc=col.get("description", "")
            )
        am = re.match(r"^drop\s+columns?\s+(\w+)$", a, re.IGNORECASE)
        if am:
            return t.evolve_drop_column(am.group(1))
        am = re.match(r"^rename\s+column\s+(\w+)\s+to\s+(\w+)$", a,
                      re.IGNORECASE)
        if am:
            return t.evolve_rename_column(am.group(1), am.group(2))
        am = re.match(r"^alter\s+column\s+(\w+)\s+type\s+(.+)$", a,
                      re.IGNORECASE)
        if am:
            return t.evolve_widen_column(am.group(1), template_type(am.group(2)))
        am = re.match(r"^write\s+ordered\s+by\s+(.+)$", a, re.IGNORECASE)
        if am:
            order = []
            for item in split_top_level(am.group(1)):
                om = re.fullmatch(
                    r"(\w+)(?:\s+(asc|desc))?(?:\s+nulls\s+(first|last))?",
                    item.strip(), re.IGNORECASE,
                )
                if not om:
                    raise ValueError(f"DDL: malformed sort entry {item!r}")
                col, direction, nulls = om.groups()
                entry = {"column": col,
                         "direction": (direction or "asc").lower()}
                if nulls:
                    entry["null_order"] = "nulls_" + nulls.lower()
                order.append(entry)
            return t.evolve_sort_order(order)
        # partition evolution (Iceberg's ALTER TABLE partition-field SQL;
        # metadata-only — old data keeps its recorded spec)
        am = re.match(
            r"^(add|drop|replace)\s+partition\s+field\s+(.+?)"
            r"(?:\s+with\s+(.+))?$",
            a,
            re.IGNORECASE,
        )
        # WITH <new field> belongs to REPLACE, and only to it
        if am and (am.group(1).lower() == "replace") == bool(am.group(3)):
            verb, field, new_field = am.groups()
            verb, entry = verb.lower(), _parse_transform(field)
            spec = list(t.meta.get("partition_spec") or [])
            if verb == "add":
                if entry in spec:
                    raise ValueError(
                        f"DDL: partition field {field.strip()!r} is "
                        f"already on {name!r}"
                    )
                return t.evolve_partition_spec(spec + [entry])
            if entry not in spec:
                raise ValueError(
                    f"DDL: no partition field {field.strip()!r} on "
                    f"{name!r} (current: {spec})"
                )
            if verb == "drop":
                return t.evolve_partition_spec([p for p in spec if p != entry])
            new_entry = _parse_transform(new_field)
            return t.evolve_partition_spec(
                [new_entry if p == entry else p for p in spec]
            )
        # table properties
        am = re.match(
            r"^set\s+tblproperties\s*\((.+)\)\s*$",
            a,
            re.IGNORECASE | re.DOTALL,
        )
        if am:
            return t.set_properties(_parse_props(am.group(1)))
        am = re.match(
            r"^unset\s+tblproperties\s*(?:if\s+exists\s*)?\((.+)\)\s*$",
            a,
            re.IGNORECASE | re.DOTALL,
        )
        if am:
            keys = [
                _REVERSE_PROPS.get(unquote(k), unquote(k))
                for k in split_top_level(am.group(1))
            ]
            return t.unset_properties(keys)
        # identifier fields (the MoR equality-delete key declaration)
        am = re.match(
            r"^set\s+identifier\s+fields\s+(.+)$", a, re.IGNORECASE
        )
        if am:
            return t.set_identifier_fields(split_top_level(am.group(1)))
        if re.match(r"^drop\s+identifier\s+fields\s*$", a, re.IGNORECASE):
            return t.set_identifier_fields([])
        # Iceberg ref DDL (the public branching-and-tagging SQL surface):
        # ALTER TABLE t CREATE TAG|BRANCH [IF NOT EXISTS] r
        #   [AS OF VERSION <sequence>] [RETAIN <n> DAYS]
        # ALTER TABLE t REPLACE TAG r AS OF VERSION <sequence>
        # ALTER TABLE t DROP TAG|BRANCH [IF EXISTS] r
        am = re.match(
            r"^(create|replace)\s+(tag|branch)\s+(if\s+not\s+exists\s+)?"
            r"(\w+)(?:\s+as\s+of\s+version\s+(\d+))?"
            r"(?:\s+retain\s+(\d+)\s+days)?$",
            a,
            re.IGNORECASE,
        )
        if am:
            verb, kind, if_not_exists, ref, seq, days = am.groups()
            verb, kind = verb.lower(), kind.lower()
            snapshot_id = None
            if seq is not None:
                snapshot_id = _sequence_snapshot(
                    t, int(seq), "DDL: AS OF VERSION", name
                )
            exists = _ref_exists(t, kind, ref)
            if verb == "replace":
                if kind != "tag":
                    raise ValueError(
                        "DDL: REPLACE BRANCH is not supported — branches "
                        "carry commits; merge or drop-and-recreate instead"
                    )
                if seq is None:
                    # Iceberg's REPLACE TAG requires the target version —
                    # without this, an operator typo would silently move a
                    # retention-pinning tag off its snapshot to the head
                    raise ValueError(
                        "DDL: REPLACE TAG requires AS OF VERSION <n> — "
                        "an implicit head re-pin would silently move a "
                        "retention tag; state the target version"
                    )
                if exists:
                    t.delete_tag(ref)
            elif exists:
                if if_not_exists:
                    return {"operation": f"create_{kind}", "table": name,
                            "ref": ref, "created": False}
                raise ValueError(
                    f"DDL: {kind} {ref!r} already exists on {name!r}"
                )
            if kind == "tag":
                kwargs = {}
                if days is not None:
                    kwargs["max_ref_age_ms"] = int(days) * 86400 * 1000
                t.create_tag(ref, snapshot_id=snapshot_id, **kwargs)
            else:
                if days is not None:
                    raise ValueError(
                        "DDL: RETAIN applies to tags — branch retention "
                        "follows table history expiry"
                    )
                t.create_branch(ref, at_snapshot_id=snapshot_id)
            return {"operation": f"{verb}_{kind}", "table": name,
                    "ref": ref, "created": True}
        am = re.match(
            r"^drop\s+(tag|branch)\s+(if\s+exists\s+)?(\w+)$",
            a,
            re.IGNORECASE,
        )
        if am:
            kind, if_exists, ref = am.groups()
            kind = kind.lower()
            if not _ref_exists(t, kind, ref):
                if if_exists:
                    return {"operation": f"drop_{kind}", "table": name,
                            "ref": ref, "dropped": False}
                raise ValueError(f"DDL: no {kind} {ref!r} on {name!r}")
            if kind == "tag":
                t.delete_tag(ref)
            else:
                t.delete_branch(ref)
            return {"operation": f"drop_{kind}", "table": name,
                    "ref": ref, "dropped": True}
        raise ValueError(f"DDL: unsupported ALTER TABLE action {action!r}")

    raise ValueError(f"DDL: unsupported statement {statement!r}")
