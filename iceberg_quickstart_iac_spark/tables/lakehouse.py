"""Catalog-level data versioning: Nessie's actual value proposition.

The reference ships a Nessie catalog module whose reason to exist is
git-like versioning of the WHOLE lakehouse, not one table
(``docs/deep-dive.md:262-303``: test a schema migration on an isolated
branch, "readers on main see the old schema", merge when ready, roll back
by resetting the pointer). :class:`SnapTable` gives those semantics per
table; this module lifts them to the catalog:

- :class:`Lakehouse` — a directory of snapstore tables addressed by name;
- ``lakehouse.create_branch("migration")`` — a CATALOG branch: every
  table accessed through the branch resolves to a per-table branch forked
  lazily at first access, so branching a 1000-table catalog costs one
  ref file (+ one per table actually touched — exactly Nessie's
  commit-graph laziness, where untouched tables share the main pointer);
- ``branch.merge()`` — two-phase publish: every touched table is
  VALIDATED as mergeable first (schema conflicts, non-append rebases),
  then merged one commit per table. Validation-first shrinks the
  non-atomic window to the merge loop itself — a conflict is detected
  before anything lands on main (Nessie's whole-commit validation
  against a single store; with per-table logs this is the honest
  equivalent, and the remaining window is documented);
- cross-table WAP: stage multiple tables on one catalog branch, audit
  them together, publish together or drop the branch.

Scale notes: everything here is metadata-only (refs + per-commit JSON);
data files are never copied. Table discovery is a directory listing —
O(tables) on the driver, the same contract a real catalog serves.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from pathlib import Path

from iceberg_quickstart_iac_spark.tables.snapstore import (
    CommitConflictError,
    SnapTable,
    TableNotFoundError,
    forget_head_registrations,
)
from iceberg_quickstart_iac_spark.tables.sql_text import (
    STRING,
    identifiers,
    normalize,
    split_top_level,
    sub_code,
    timestamp_ms,
    unquote,
)

_REFS = "_catalog_refs"

#: Spark/Iceberg time-travel clause: <table> FOR [SYSTEM_]VERSION|
#: [SYSTEM_]TIME|TIMESTAMP AS OF <string-literal | integer>
_ASOF_RE = re.compile(
    r"\b(\w+)\s+FOR\s+(?:SYSTEM_)?(VERSION|TIMESTAMP|TIME)"
    rf"\s+AS\s+OF\s+({STRING}|\d+)",
    re.IGNORECASE,
)
_WORD_RE = re.compile(r"\w+")


def _digest(text: str) -> str:
    """Eight hex digits naming a derived view (scope and as-of pins)."""
    return hashlib.md5(text.encode()).hexdigest()[:8]


class _DmlScope:
    """Adapter handing the DML executor scope-resolved table handles (a
    catalog branch's ``table()`` forks lazily and returns branch views).
    ``strip_suffix`` undoes the scope-view rewrite: a branch statement's
    table references arrive suffixed (``orders__scope_ab12cd34``) so the
    READ side resolves per-scope views, but the executor needs the real
    catalog name to fork/load the per-table branch."""

    def __init__(self, accessor, strip_suffix: str = ""):
        self._accessor = accessor
        self._strip = strip_suffix

    def table(self, name: str):
        if self._strip and name.endswith(self._strip):
            name = name[: -len(self._strip)]
        return self._accessor(name)


class Lakehouse:
    """A directory of :class:`SnapTable` roots + catalog-level refs."""

    #: metadata-table view suffixes register() publishes per table
    _MD_SUFFIXES = (
        "__snapshots", "__history", "__files", "__partitions",
        "__delete_files", "__refs",
    )

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # the front door's memo of views it expands itself: time-travel
        # pins (``name__asof_*``) and catalog-view expansions. Table views
        # follow the head through the follow-head record in snapstore.
        self._sql_registry: dict[str, tuple] = {}
        self._view_stack: set[str] = set()  # views mid-expansion

    # -- tables ------------------------------------------------------------

    def create_table(self, template: dict) -> SnapTable:
        name = template["name"]
        if (self.root / name / "table.json").exists():
            raise ValueError(f"Table {name!r} already exists in {self.root}")
        if (self.root / name / "view.json").exists():
            raise ValueError(
                f"{name!r} is a view in {self.root} — view and table "
                "names share the catalog namespace"
            )
        return SnapTable.create(self.root / name, template)

    def table(self, name: str) -> SnapTable:
        try:
            return SnapTable.load(self.root / name)
        except TableNotFoundError:
            if (self.root / name / "view.json").exists():
                raise TableNotFoundError(
                    f"{name!r} is a VIEW — read it with SELECT; views "
                    "are read-only (no DML, no table handle)"
                )
            raise

    def drop_table(self, name: str, if_exists: bool = False) -> bool:
        """Remove a table — its metadata, commit log, and data files.
        Destructive and unversioned (there is no catalog-level log to
        time-travel a drop); the SQL front door additionally gates it to
        admin. Forgets every follow-head record on the dropped table, so
        no later commit — to a re-created table of the same name — re-
        resolves one of its views; the temp views themselves keep serving
        their already-resolved snapshot (SQL ``DROP TABLE`` also drops
        them from the statement's session)."""
        import shutil

        root = self.root / name
        if not (root / "table.json").exists():
            if if_exists:
                return False
            raise TableNotFoundError(f"No table {name!r} in {self.root}")
        forget_head_registrations(root=root)
        shutil.rmtree(root)
        # purge EVERY registry entry derived from this table, not just the
        # base view: memoized pinned `name__asof_*` views would otherwise
        # survive a DROP + CREATE of the same name and silently serve the
        # dropped table's data on a repeated FOR … AS OF with the same
        # literal (the re-registration only happens on a registry miss)
        self._purge_registry(name)
        return True

    def list_tables(self) -> list[str]:
        return sorted(
            p.parent.name for p in self.root.glob("*/table.json")
        )

    # -- views (round 10: the Iceberg view-spec analog) ----------------------
    #
    # A catalog view is VERSIONED SQL TEXT (the Iceberg view spec's model:
    # view metadata holds a version list, each version a representation of
    # the query; engines re-resolve the text at read time). Serving is
    # invoker-rights macro expansion through the same governed front door
    # every SELECT uses: the stored SQL re-plans whenever a referenced
    # table's head moves (heads are part of the expansion memo key), so a
    # view always serves current data under the READER'S access level —
    # never a definer's snapshot.

    def create_view(
        self,
        name: str,
        sql: str,
        replace: bool = False,
        comment: str | None = None,
        namespace: str = "default",
    ) -> dict:
        """Store (or, with ``replace``, version-bump) a catalog view.
        Each replace APPENDS a version — the full definition history
        stays readable (``FOR VERSION AS OF <n>`` serves version n's
        text), like Iceberg view versions."""
        import os
        import uuid

        if (self.root / name / "table.json").exists():
            raise ValueError(
                f"{name!r} is a table in {self.root} — view and table "
                "names share the catalog namespace"
            )
        path = self.root / name / "view.json"
        doc: dict | None = None
        if path.exists():
            if not replace:
                raise ValueError(
                    f"View {name!r} already exists (CREATE OR REPLACE "
                    "VIEW appends a new version)"
                )
            doc = json.loads(path.read_text())
        if doc is None:
            doc = {
                "name": name,
                "namespace": namespace,
                "versions": [],
                "current_version": -1,
            }
        version = doc["current_version"] + 1
        doc["versions"].append(
            {
                "version": version,
                "sql": sql.strip(),
                "comment": comment,
                "created_at_ms": int(time.time() * 1000),
            }
        )
        doc["current_version"] = version
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.parent / f".tmp-view-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(doc, indent=2))
        os.replace(tmp, path)
        self._purge_registry(name)
        return {
            "operation": "create_view",
            "view": name,
            "version": version,
        }

    def view(self, name: str) -> dict:
        path = self.root / name / "view.json"
        if not path.exists():
            raise TableNotFoundError(f"No view {name!r} in {self.root}")
        return json.loads(path.read_text())

    def list_views(self) -> list[str]:
        return sorted(p.parent.name for p in self.root.glob("*/view.json"))

    def drop_view(self, name: str, if_exists: bool = False) -> bool:
        import shutil

        path = self.root / name / "view.json"
        if not path.exists():
            if if_exists:
                return False
            raise TableNotFoundError(f"No view {name!r} in {self.root}")
        shutil.rmtree(self.root / name)
        self._purge_registry(name)
        return True

    def _purge_registry(self, name: str) -> None:
        """Forget every memoized view derived from ``name`` (a catalog
        view's expansion, its branch-scope expansions, and pinned as-of
        views) so the next statement re-resolves against the new
        definition/state."""
        stale = [
            k
            for k in self._sql_registry
            if k == name
            or k.startswith(f"{name}__asof_")
            or k.startswith(f"{name}__scope_")
        ]
        for k in stale:
            self._sql_registry.pop(k, None)

    def register_all(
        self,
        spark,
        access_level: str = "admin",
        metadata_tables: bool | None = None,
    ) -> list[str]:
        """SQL front door for the whole catalog: register every table's
        governed read (+ metadata tables) as Spark SQL temp views — after
        this, the reference's named queries run verbatim through
        ``spark.sql``. Tables without snapshots are skipped. Returns the
        registered view names."""
        out: list[str] = []
        for name in self.list_tables():
            t = self.table(name)
            if t.current_snapshot() is None:
                continue
            out.append(
                t.register(
                    spark,
                    access_level=access_level,
                    metadata_tables=metadata_tables,
                )
            )
        return out

    def _rewrite_time_travel(
        self,
        spark,
        statement: str,
        access_level: str,
        accessor=None,
        scope: str = "main",
    ) -> str:
        """Rewrite ``t FOR VERSION|TIMESTAMP AS OF x`` clauses (Spark's and
        Iceberg's native time-travel syntax — Athena's ``FOR SYSTEM_VERSION
        AS OF`` named-query shape) into registered PINNED views, so the
        statement runs verbatim against temp views that cannot express the
        clause natively. VERSION accepts a snapshot id ('hex'), a tag name
        (string that isn't a snapshot), or an integer commit sequence;
        TIMESTAMP accepts an ISO-8601 string (naive = UTC) or epoch
        milliseconds. Pinned views are immutable, so each (table, clause)
        registers once per session and memoizes."""
        from iceberg_quickstart_iac_spark.tables.sql_ddl import (
            _sequence_snapshot,
        )

        tables: set[str] | None = None

        def sub(m: "re.Match[str]") -> str:
            nonlocal tables
            name, kind, raw = m.group(1), m.group(2).upper(), m.group(3)
            if tables is None:
                tables = set(self.list_tables())
            if name not in tables:
                if (self.root / name / "view.json").exists():
                    return self._pin_view_version(
                        spark, name, kind, raw, access_level,
                        accessor or self.table, scope,
                    )
                return m.group(0)  # not ours — let Spark error naturally
            value = unquote(raw)
            # keyed on the clause as written: VERSION AS OF '1' (a tag or
            # snapshot id) and VERSION AS OF 1 (a sequence) pin apart
            view = f"{name}__asof_" + _digest(f"{scope}|{kind}|{raw}")
            want = (scope, str(access_level), False, -1)
            if self._sql_registry.get(view) != want:
                t = (accessor or self.table)(name)
                kwargs: dict = {}
                if kind == "VERSION":
                    if not raw.isdigit():
                        try:
                            t._snapshot_for(value, None)
                            kwargs["snapshot_id"] = value
                        except ValueError:
                            # not a snapshot id — resolve as a tag name
                            kwargs["tag"] = value
                    else:
                        kwargs["snapshot_id"] = _sequence_snapshot(
                            t, int(raw), "FOR VERSION AS OF", name
                        )
                else:  # TIMESTAMP / TIME
                    kwargs["as_of_ms"] = timestamp_ms(raw)
                t.register(
                    spark,
                    name=view,
                    access_level=access_level,
                    metadata_tables=False,
                    **kwargs,
                )
                self._sql_registry[view] = want
            return view

        return sub_code(_ASOF_RE, sub, statement)

    def _pin_view_version(
        self,
        spark,
        name: str,
        kind: str,
        raw: str,
        access_level: str,
        accessor,
        scope: str,
    ) -> str:
        """``v FOR VERSION AS OF <n>`` on a catalog VIEW pins the
        DEFINITION, not the data (Iceberg view versions are definition
        history): version n's SQL text expands against the CURRENT table
        heads under the invoker's access level. TIMESTAMP resolves the
        newest version created at or before the instant. The registered
        pin re-expands when underlying heads move (heads are in the memo
        key) — a pinned definition still serves live data."""
        doc = self.view(name)
        if kind == "VERSION":
            if not raw.isdigit():
                raise ValueError(
                    f"FOR VERSION AS OF on view {name!r} takes an integer "
                    "view version (views have no snapshot ids or tags)"
                )
            version = int(raw)
            entry = next(
                (v for v in doc["versions"] if v["version"] == version),
                None,
            )
            if entry is None:
                raise ValueError(
                    f"FOR VERSION AS OF {version}: view {name!r} has "
                    f"versions 0..{doc['current_version']}"
                )
        else:
            ts = timestamp_ms(raw)
            candidates = [
                v for v in doc["versions"] if v["created_at_ms"] <= ts
            ]
            if not candidates:
                raise ValueError(
                    f"FOR TIMESTAMP AS OF {ts}: view {name!r} did not "
                    "exist yet"
                )
            entry = candidates[-1]
        view = f"{name}__asof_" + _digest(f"{scope}|VIEWV|{entry['version']}")
        self._expand_view(
            spark, view, name, entry, access_level, accessor, scope
        )
        return view

    def _expand_view(
        self, spark, view, name, entry, access_level, accessor, scope
    ) -> None:
        """Register ``view`` as version ``entry`` of catalog view ``name``:
        its SQL text expanded through this same front door (invoker's
        access level, same scope). The memo key carries the view version
        AND the head sequence of every table the definition
        (transitively) references, so a commit to an underlying table —
        or a CREATE OR REPLACE of the view — re-expands on the next
        statement; otherwise the expansion is free. Cycles raise instead
        of recursing."""
        heads = self._view_head_key(entry["sql"], accessor, {name})
        want = ("view", scope, str(access_level), entry["version"], heads)
        if self._sql_registry.get(view) == want:
            return
        if name in self._view_stack:
            raise ValueError(f"View cycle detected through {name!r}")
        self._view_stack.add(name)
        try:
            df = self.sql(
                spark, entry["sql"], access_level, _scope=scope,
                _accessor=None if accessor == self.table else accessor,
            )
        finally:
            self._view_stack.discard(name)
        df.createOrReplaceTempView(view)
        self._sql_registry[view] = want

    def _view_head_key(
        self, view_sql: str, accessor, seen: set
    ) -> tuple:
        """The freshness key of a view definition: a sorted tuple of
        (table, head_sequence) for every catalog table the SQL text
        (transitively, through nested views) references. One cheap
        filename-only head probe per referenced table — the same probe
        the lazy table registration pays per statement."""
        tokens = identifiers(view_sql)
        heads: list[tuple] = []
        for tname in self.list_tables():
            if tname in tokens or any(
                tname + s in tokens for s in self._MD_SUFFIXES
            ):
                heads.append((tname, accessor(tname).head_sequence()))
        for vname in self.list_views():
            if vname in tokens and vname not in seen:
                doc = self.view(vname)
                cur = doc["versions"][doc["current_version"]]
                heads.append((vname, f"v{doc['current_version']}"))
                heads.extend(
                    self._view_head_key(
                        cur["sql"], accessor, seen | {vname}
                    )
                )
        return tuple(sorted(heads))

    @staticmethod
    def _scope_suffix(scope: str) -> str:
        """Per-scope view-name suffix: '' on main, a stable hash of the
        scope name on a catalog branch. Branch statements rewrite their
        table references to suffixed views, so one Spark session serves
        main AND any number of branches concurrently — no per-statement
        re-registration when consecutive statements switch scopes."""
        return "" if scope == "main" else "__scope_" + _digest(scope)

    def _rewrite_scope_refs(self, statement: str, suffix: str) -> str:
        """Rewrite catalog-table identifier tokens (and their metadata-view
        tokens ``name__snapshots``/…) and catalog-view tokens to their
        scope-suffixed view names, in code and backtick identifiers only
        (never inside a literal or comment) — the same lexer the
        time-travel rewriter uses. Non-catalog identifiers (session temp
        views, columns, aliases) never match; a COLUMN that shares its
        name with a catalog table would — same word-shaped-identifier
        caveat as the main-scope lazy registration, which already binds
        such a token to the table."""
        tables, views = set(self.list_tables()), set(self.list_views())

        def scoped(m: "re.Match[str]") -> str:
            w = m.group()
            if w in tables or w in views:
                return w + suffix
            for s in self._MD_SUFFIXES:
                if w.endswith(s) and w[: -len(s)] in tables:
                    return w[: -len(s)] + suffix + s
            return w

        return sub_code(_WORD_RE, scoped, statement)

    def sql(
        self,
        spark,
        statement: str,
        access_level: str = "admin",
        *,
        _scope: str = "main",
        _accessor=None,
    ):
        """Catalog-scale SQL front door: register ONLY the tables the
        statement references, lazily, then run it through ``spark.sql``.

        ``register_all`` is O(catalog) up front — an eager ``read()`` per
        table plus metadata-view builds; fine for tens of tables, waste
        for a 1000-table catalog serving a query that touches two. This
        path scans the statement for catalog table names (and their
        ``__snapshots``/``__files``/… metadata views — those register
        only when actually named, so footer-stat builds are never paid
        unreferenced), and registers the hits with ``follow_head=True``.
        What each view serves lives in ONE place, its follow-head record
        (:meth:`SnapTable.register`), fed by two triggers. A commit made
        in THIS process re-registers the view at commit time and records
        the head it resolved. Each statement probes every referenced
        table's head SEQUENCE (a filename-only probe, one directory
        listing) and asks :meth:`SnapTable.follows_head_at` whether the
        record already serves it — so repeat statements re-register
        nothing and each own-process commit is registered exactly once.
        A commit made by ANOTHER process never fires the refresh, so no
        record serves its head and the next statement re-registers: this
        path can never serve a stale head.

        Name matching is identifier-token based, through the front
        door's one lexer (:mod:`tables.sql_text`): a table or view whose
        name appears only inside a string literal or a comment registers
        nothing; a name in backticks registers like a bare one.
        Statements are routed on their text with comments removed, so a
        leading comment never hides a DDL, DML or CALL statement; a
        statement that goes to ``spark.sql`` keeps its text (comments and
        ``/*+ hint */``s included) apart from the scope and time-travel
        rewrites.

        DML goes through the same front door: ``INSERT INTO`` /
        ``DELETE FROM`` / ``UPDATE`` / ``MERGE INTO`` statements are
        recognized and routed to the SnapTable executors
        (:mod:`tables.sql_dml` — conditions/expressions pass through as
        verbatim Spark SQL), returning the commit entry dict instead of
        a DataFrame. The statement's source tables (an INSERT's SELECT,
        a MERGE's USING subquery) resolve through the same lazy
        registration, and a registered follow-head view of the target
        picks the write up immediately (the executors commit through
        ``_commit``). Reader sessions cannot execute DML.

        Time travel runs with Spark's native syntax: ``FROM t FOR
        [SYSTEM_]VERSION AS OF '<snapshot-id>'|'<tag>'|<sequence>`` and
        ``FOR [SYSTEM_]TIMESTAMP AS OF '<iso>'|<epoch-ms>`` rewrite to
        pinned registered views before execution
        (:meth:`_rewrite_time_travel`), so the Athena named-query texts
        run verbatim.

        DDL too (:mod:`tables.sql_ddl`): ``CREATE TABLE`` /
        ``CREATE NAMESPACE`` / ``DROP TABLE`` (admin-only) /
        ``ALTER TABLE ADD|DROP|RENAME|ALTER COLUMN`` /
        ``ALTER TABLE … WRITE ORDERED BY`` parse the same Iceberg DDL
        dialect ``templates/ddl.py`` GENERATES — the repo's own rendered
        DDL round-trips through this method (pinned by test).
        """
        from iceberg_quickstart_iac_spark.tables.sql_ddl import (
            execute_ddl,
            is_ddl,
        )
        from iceberg_quickstart_iac_spark.tables.sql_dml import (
            execute_dml,
            is_dml,
        )

        accessor = _accessor or self.table
        routed = normalize(statement)  # the one text every router reads
        if is_ddl(routed):
            if _scope != "main":
                raise RuntimeError(
                    "Catalog DDL is table-wide metadata — run it on the "
                    "main catalog, not a catalog branch (branch refs carry "
                    "only per-table data/schema overrides)"
                )
            return execute_ddl(self, spark, statement, access_level)

        from iceberg_quickstart_iac_spark.tables.sql_call import (
            execute_call,
            is_call,
        )

        if is_call(routed):
            # Iceberg-style stored procedures (CALL system.expire_snapshots
            # etc. — tables/sql_call.py). Maintenance rewrites main-catalog
            # state; a branch runs reads and DML only.
            if _scope != "main":
                raise RuntimeError(
                    "CALL procedures maintain main-catalog state — run "
                    "them on the main catalog, not a catalog branch"
                )
            return execute_call(self, spark, statement, access_level)

        if re.search(r"\bas\s+of\b", statement, re.IGNORECASE):
            statement = self._rewrite_time_travel(
                spark, statement, access_level, accessor=accessor,
                scope=_scope,
            )
        # branch statements read per-scope views: rewrite table tokens to
        # suffixed names so main and branches coexist in one session
        suffix = self._scope_suffix(_scope)
        if suffix:
            statement = self._rewrite_scope_refs(statement, suffix)
        tokens = identifiers(statement)

        # (table, view, names a metadata view) per referenced catalog table
        refs = []
        for name in self.list_tables():
            view = name + suffix
            wants_md = any(view + s in tokens for s in self._MD_SUFFIXES)
            if view in tokens or wants_md:
                refs.append((name, view, wants_md))

        def ensure_registered() -> None:
            for name, view, wants_md in refs:
                t = accessor(name)
                # the statement trigger: a filename-only head probe (one
                # directory listing, no reads) catches a commit whose
                # commit-time refresh never fired here — one made by
                # another process — and the view's follow-head record
                # says whether it already serves that head
                head = t.head_sequence()
                if not t.follows_head_at(spark, view, head, access_level, wants_md):
                    t.register(
                        spark,
                        name=view,
                        access_level=access_level,
                        metadata_tables=wants_md,
                        follow_head=True,
                    )

        def ensure_views() -> None:
            # catalog views are versioned SQL text: the CURRENT version
            # expands through this same front door
            for vname in self.list_views():
                if vname + suffix in tokens:
                    doc = self.view(vname)
                    self._expand_view(
                        spark, vname + suffix, vname,
                        doc["versions"][doc["current_version"]],
                        access_level, accessor, _scope,
                    )

        from pyspark.errors import AnalysisException

        ensure_views()
        ensure_registered()
        if is_dml(routed):
            return execute_dml(
                _DmlScope(accessor, suffix) if _accessor else self,
                spark, statement, access_level,
            )
        try:
            return spark.sql(statement)
        except AnalysisException:
            # a view can be dropped behind the records' back (a manual
            # dropTempView, a new session): forget what the statement
            # names, re-register once, and let a real error re-raise
            for name in list(self._sql_registry):
                if name in tokens:
                    self._sql_registry.pop(name, None)
            forget_head_registrations([view for _, view, _ in refs])
            ensure_views()
            ensure_registered()
            return spark.sql(statement)

    def sql_script(self, spark, script: str, access_level: str = "admin"):
        """Run a ``;``-separated statement script through :meth:`sql` in
        order (the runbook shape — the reference's operational docs are
        sequences of SQL statements submitted to the warehouse one after
        another). The split respects string literals, quoted identifiers,
        comments and parentheses, so a semicolon inside any of them never
        breaks a statement; a piece that holds only comments is dropped.
        Returns the LAST statement's result (DataFrame for a read, commit
        entry dict for DML); earlier DML statements commit as they run —
        like any warehouse session, a failing statement leaves the
        preceding ones committed (surface the error, never roll back
        silently). :class:`CatalogBranch` runs this same body through its
        branch-scoped :meth:`CatalogBranch.sql` — the WAP runbook."""
        statements = [
            stmt for stmt in split_top_level(script, sep=";")
            if normalize(stmt)
        ]
        if not statements:
            raise ValueError("sql_script: no statements in script")
        result = None
        for stmt in statements:
            result = self.sql(spark, stmt, access_level=access_level)
        return result

    # -- catalog branches --------------------------------------------------

    def _ref_path(self, name: str) -> Path:
        from urllib.parse import quote

        return self.root / _REFS / (quote(name, safe="") + ".json")

    def create_branch(self, name: str) -> "CatalogBranch":
        """Fork a catalog branch at every table's CURRENT state. One ref
        file; per-table branches materialize lazily at first access."""
        path = self._ref_path(name)
        if path.exists():
            raise ValueError(f"Catalog branch {name!r} already exists")
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"name": name}, indent=2))
        return CatalogBranch(self, name)

    def branch(self, name: str) -> "CatalogBranch":
        if not self._ref_path(name).exists():
            raise ValueError(f"No catalog branch {name!r} in {self.root}")
        return CatalogBranch(self, name)

    def list_branches(self) -> list[str]:
        refs = self.root / _REFS
        if not refs.exists():
            return []
        return sorted(json.loads(p.read_text())["name"] for p in refs.glob("*.json"))

    def maintain_all(
        self,
        spark,
        max_delete_files: int | None = None,
        max_delete_ratio: float | None = None,
        expire: bool = False,
        remove_orphans: bool = False,
        orphan_grace_ms: int = 3 * 86400 * 1000,
    ) -> dict[str, dict]:
        """Run the maintenance policy over EVERY table — the catalog-wide
        sweep the reference's operations runbook schedules (and ST4's
        monitor loop can drive): per table, a metadata-only audit decides
        between no-op, delete-file merge, partition-scoped rewrite, and
        full compact. ``expire=True`` additionally runs each table's
        retention (``expire_snapshots`` at its template-declared max age);
        ``remove_orphans=True`` sweeps crash debris (grace-windowed) —
        the runbook's weekly jobs, composable into one scheduled call.
        Tables without snapshots are skipped. Returns
        {table: policy report (+ expired/orphans counts when enabled)}."""
        from iceberg_quickstart_iac_spark.operators.maintenance import (
            maintain_mor,
        )

        out: dict[str, dict] = {}
        for name in self.list_tables():
            t = self.table(name)
            if t.current_snapshot() is None:
                continue
            report = maintain_mor(
                spark, t,
                max_delete_files=max_delete_files,
                max_delete_ratio=max_delete_ratio,
            )
            if expire:
                report["expired_snapshots"] = t.expire_snapshots()
            if remove_orphans:
                report["orphans_removed"] = len(
                    t.remove_orphan_files(grace_ms=orphan_grace_ms)
                )
            out[name] = report
        return out


class CatalogBranch:
    """A catalog-level branch: table access scoped to per-table branches
    forked lazily from main. Tables never touched on the branch keep
    reading main directly — zero per-table cost until first access."""

    def __init__(self, lakehouse: Lakehouse, name: str):
        self.lakehouse = lakehouse
        self.name = name
        self._table_branch = f"cat-{name}"

    def _touched(self) -> list[str]:
        out = []
        for tname in self.lakehouse.list_tables():
            t = self.lakehouse.table(tname)
            if any(b["name"] == self._table_branch for b in t.list_branches()):
                out.append(tname)
        return out

    def table(self, name: str) -> SnapTable:
        t = self.lakehouse.table(name)
        if not any(b["name"] == self._table_branch for b in t.list_branches()):
            t.create_branch(self._table_branch)
        return t.branch(self._table_branch)

    def sql(self, spark, statement: str, access_level: str = "admin"):
        """The SQL front door, scoped to this catalog branch: the SAME
        statement texts that run on main run here against the branch's
        table state — reads register branch views lazily, DML commits to
        the per-table branches — which is WAP via SQL: stage writes with
        the production statements, audit on the branch, ``merge()`` to
        publish. Statement texts keep their main names; under the hood
        each table reference rewrites to a scope-suffixed view
        (``name__scope_<hash>``, the same pattern the time-travel
        rewriter uses for pinned as-of views), so main and any number of
        branches serve CONCURRENTLY in one Spark session — interleaving
        scopes re-registers nothing, and two live cursors on different
        scopes never thrash. Catalog DDL is rejected on a branch
        (branch refs carry only per-table data/schema overrides)."""
        return self.lakehouse.sql(
            spark,
            statement,
            access_level=access_level,
            _scope=f"branch:{self.name}",
            _accessor=self.table,
        )

    sql_script = Lakehouse.sql_script

    def merge(self) -> dict:
        """Publish the branch: merge every touched table into main.

        Two-phase: (1) VALIDATE all touched tables are mergeable by the
        rule :meth:`SnapTable.merge_branch` enforces — a schema conflict,
        or rewrites on either side of a moved main, fails the whole
        publish before anything lands; (2) merge each.
        The validation is a point-in-time check, so the remaining
        non-atomic window is the merge loop itself. A concurrent main
        writer racing INTO that window is RETRIED per table with
        backoff — :meth:`SnapTable.merge_branch` re-bases append-only
        branches on every attempt, so commuting races resolve instead of
        stopping mid-loop with earlier tables already published. Only a
        genuine conflict (non-append remainder against a moved main, or
        retry exhaustion) raises, and the error then reports exactly
        which tables merged and that the remainder keeps its branch
        state for manual resolution."""
        touched = self._touched()
        problems = []
        for tname in touched:
            st = self.lakehouse.table(tname)._state()
            problem = SnapTable._merge_conflict(
                self.table(tname)._state(), st.meta.get("columns", []), st.entries
            )
            if problem is not None:
                problems.append(f"{tname}: {problem}")
        if problems:
            raise CommitConflictError(
                f"Catalog branch {self.name!r} cannot publish — nothing was "
                f"merged: " + "; ".join(problems)
            )
        merged = {}
        for tname in touched:
            t = self.lakehouse.table(tname)
            last_err: Exception | None = None
            entry = None
            for attempt in range(4):
                try:
                    entry = t.merge_branch(self._table_branch)
                    last_err = None
                    break
                except CommitConflictError as e:
                    # a main writer claimed a slot mid-merge; merge_branch
                    # re-bases from the new head on the next attempt
                    last_err = e
                    time.sleep(0.05 * 2**attempt)
            if last_err is not None:
                raise CommitConflictError(
                    f"Catalog branch {self.name!r}: {tname} failed to merge "
                    f"after retries ({last_err}). Already merged: "
                    f"{sorted(merged)}; {tname} and later tables keep their "
                    "full branch state for manual resolution."
                )
            t.delete_branch(self._table_branch)
            merged[tname] = entry["snapshot_id"] if entry else None
        self.lakehouse._ref_path(self.name).unlink(missing_ok=True)
        return {"branch": self.name, "merged_tables": merged}

    def delete(self) -> None:
        """Drop the branch and every per-table branch under it — main is
        untouched (the abandon path of cross-table WAP)."""
        for tname in self._touched():
            self.lakehouse.table(tname).delete_branch(self._table_branch)
        self.lakehouse._ref_path(self.name).unlink(missing_ok=True)
