"""Data-quality checks as native Spark aggregations (SURVEY §2.4 A1-A4).

Parity target: the reference's SodaCL check files
(``dagster/lakehouse/quality/soda_checks/*.yaml``) executed via a Soda
subprocess over DuckDB (``quality/runner.py:37-50``). Here the same four
check primitives — ``row_count``, ``missing_count``, ``duplicate_count``,
``freshness`` — compile into ONE aggregation per table, whatever the
number of checks: no subprocess, no second engine. It is one scan with
map-side partial aggregation; ``duplicate_count`` is the only check that
shuffles (exact COUNT DISTINCT, which with AQE runs as 3 jobs), and an
``approx`` flag trades it for a sketch. :func:`observe_checks` computes
the same metrics inside the query that writes the data.

Improvement over the reference (SURVEY §5 notes the latent bug): check
columns are validated against the table schema up front — the reference
ships a compliance check on ``event_stream.email``, a column that does not
exist in that table, and nothing catches it.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

_AGE_RE = re.compile(r"^(\d+)([dhms])$")
_AGE_SECONDS = {"d": 86400, "h": 3600, "m": 60, "s": 1}

_OPS = {
    ">": lambda v, t: v > t,
    ">=": lambda v, t: v >= t,
    "=": lambda v, t: v == t,
    "==": lambda v, t: v == t,
    "<=": lambda v, t: v <= t,
    "<": lambda v, t: v < t,
}

KINDS = ("row_count", "missing_count", "duplicate_count", "freshness")


def parse_age(age: str) -> int:
    """'1d' / '12h' / '30m' / '45s' → seconds."""
    m = _AGE_RE.match(age)
    if not m:
        raise ValueError(f"Unparseable age {age!r} (expected e.g. '1d', '12h')")
    return int(m.group(1)) * _AGE_SECONDS[m.group(2)]


@dataclass(frozen=True)
class Check:
    """One declarative check, SodaCL-equivalent.

    ``row_count > 0``                 → Check("row_count", op=">", threshold=0)
    ``missing_count(event_id) = 0``   → Check("missing_count", "event_id")
    ``duplicate_count(event_id) = 0`` → Check("duplicate_count", "event_id")
    ``freshness(ts) < 1d``            → Check("freshness", "ts", max_age="1d")
    """

    kind: str
    column: str | None = None
    op: str = "="
    threshold: int = 0
    max_age: str | None = None
    name: str | None = None
    #: optional SodaCL warn clause, carried through verbatim (e.g.
    #: "when missing_count(email) > 0") — informational, not evaluated
    warn: str | None = None

    def label(self) -> str:
        if self.name:
            return self.name
        target = f"({self.column})" if self.column else ""
        if self.kind == "freshness":
            return f"freshness{target} < {self.max_age}"
        return f"{self.kind}{target} {self.op} {self.threshold}"


@dataclass
class CheckResult:
    check: Check
    value: float
    passed: bool
    detail: str = ""

    @property
    def label(self) -> str:
        return self.check.label()


@dataclass
class QualityReport:
    table: str
    results: list[CheckResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)

    def failures(self) -> list[CheckResult]:
        return [r for r in self.results if not r.passed]


class QualityGateError(RuntimeError):
    def __init__(self, report: QualityReport):
        self.report = report
        failures = "; ".join(r.label for r in report.failures())
        super().__init__(f"Quality gate failed for {report.table}: {failures}")


#: SodaCL check expression: kind, optional (column), operator, value
_SODACL_EXPR_RE = re.compile(
    r"^(\w+)\s*(?:\(\s*([^)]+?)\s*\))?\s*(>=|<=|==|=|<|>)\s*(\S+)$"
)


def parse_sodacl(text: str) -> dict[str, list[Check]]:
    """Parse a SodaCL-subset YAML document into per-table ``Check`` lists.

    The subset is exactly what the reference's check files use
    (``quality/soda_checks/*.yaml``, executed by Soda via
    ``quality/runner.py:37-50``): ``checks for <table>:`` sections whose
    items are either bare check expressions or expressions with a
    ``name``/``warn`` attribute block. Supported expressions::

        row_count > 0
        missing_count(col) = 0
        duplicate_count(col) = 0
        freshness(col) < 1d

    The YAML is the source of truth (reference parity); the Python
    constants below are the compiled form of the same files. Parsing does
    NOT validate columns — run :func:`validate_checks` against the target
    schema afterwards, which is how the reference's email-on-event_stream
    bug (``compliance_checks.yaml:7-9``) gets caught here.
    """
    import yaml

    doc = yaml.safe_load(text)
    if not isinstance(doc, dict):
        raise ValueError("SodaCL document must be a mapping of 'checks for <table>'")
    out: dict[str, list[Check]] = {}
    for section, items in doc.items():
        m = re.match(r"^checks\s+for\s+(\S+)$", str(section))
        if not m:
            raise ValueError(f"Unrecognized SodaCL section {section!r}")
        table = m.group(1)
        checks: list[Check] = []
        for item in items or []:
            if isinstance(item, str):
                expr, attrs = item, {}
            elif isinstance(item, dict) and len(item) == 1:
                expr, attrs = next(iter(item.items()))
                attrs = attrs or {}
            else:
                raise ValueError(f"Unparseable check item {item!r} in {section!r}")
            em = _SODACL_EXPR_RE.match(expr.strip())
            if not em:
                raise ValueError(f"Unparseable check expression {expr!r}")
            kind, column, op, value = em.groups()
            if kind == "freshness":
                checks.append(
                    Check(
                        "freshness",
                        column,
                        max_age=value,
                        name=attrs.get("name"),
                        warn=attrs.get("warn"),
                    )
                )
            else:
                checks.append(
                    Check(
                        kind,
                        column,
                        op=op,
                        threshold=int(value),
                        name=attrs.get("name"),
                        warn=attrs.get("warn"),
                    )
                )
        out[table] = checks
    return out


def validate_checks(checks: list[Check], columns: list[str]) -> list[str]:
    """Return one error string per check that names a non-existent column or
    an unknown kind. (The reference has no such validation — SURVEY §5.)"""
    errors = []
    colset = set(columns)
    for check in checks:
        if check.kind not in KINDS:
            errors.append(f"{check.label()}: unknown check kind {check.kind!r}")
        elif check.kind != "row_count" and check.column not in colset:
            errors.append(
                f"{check.label()}: column {check.column!r} does not exist "
                f"(available: {sorted(colset)})"
            )
        if check.kind == "freshness" and not check.max_age:
            errors.append(f"{check.label()}: freshness requires max_age")
    return errors


def _metric_expr(check: Check, idx: int, as_of: Column, approx: bool) -> Column:
    key = f"m{idx}"
    if check.kind == "row_count":
        return F.count(F.lit(1)).alias(key)
    if check.kind == "missing_count":
        return (F.count(F.lit(1)) - F.count(check.column)).alias(key)
    if check.kind == "duplicate_count":
        distinct = (
            F.approx_count_distinct(check.column) if approx else F.countDistinct(check.column)
        )
        return (F.count(check.column) - distinct).alias(key)
    if check.kind == "freshness":
        # age in seconds at evaluation time; the inner cast to TIMESTAMP makes
        # this work for TIMESTAMP_NTZ columns too (parquet timestamp[us]
        # without UTC adjustment infers as NTZ, and ANSI mode forbids a direct
        # NTZ → BIGINT cast)
        return (
            as_of.cast("timestamp").cast("long")
            - F.max(F.col(check.column).cast("timestamp")).cast("long")
        ).alias(key)
    raise ValueError(f"Unknown check kind: {check.kind!r}")


def _passes(check: Check, value):
    """The one verdict rule, for a Python value and a Column alike. A NULL
    freshness age (no rows: nothing to be fresh) fails; other NULLs read 0."""
    if check.kind == "freshness":
        return value < parse_age(check.max_age)
    return _OPS[check.op](value, check.threshold)


def _report(checks: list[Check], metrics, table: str) -> QualityReport:
    """The report of ``checks`` from their metrics (``m<i>`` per check)."""
    report = QualityReport(table=table)
    for i, check in enumerate(checks):
        value = metrics[f"m{i}"]
        if check.kind != "freshness":
            value = 0 if value is None else value
            detail = f"value {value} {check.op} {check.threshold}"
        elif value is None:
            value, detail = float("inf"), f"no rows / all-null {check.column}: nothing to be fresh"
        else:
            detail = f"age {value}s vs limit {parse_age(check.max_age)}s"
        report.results.append(
            CheckResult(check=check, value=value, passed=_passes(check, value), detail=detail)
        )
    return report


def _metrics(df: DataFrame, checks: list[Check], as_of: Column | None, approx: bool) -> list:
    """The metric expressions of ``checks``, valid on ``df`` (else ValueError)."""
    errors = validate_checks(checks, df.columns)
    if errors:
        raise ValueError("Invalid checks: " + "; ".join(errors))
    as_of = as_of if as_of is not None else F.current_timestamp()
    return [_metric_expr(c, i, as_of, approx) for i, c in enumerate(checks)]


def run_checks(
    df: DataFrame,
    checks: list[Check],
    table: str = "",
    as_of: Column | None = None,
    approx: bool = False,
    strict: bool = True,
) -> QualityReport:
    """Evaluate every check in ONE aggregation over ``df`` (one collect).

    ``as_of`` pins the freshness reference instant (default: now) — tests
    and backfills pass a literal for determinism. ``approx=True`` swaps the
    exact COUNT DISTINCT in duplicate_count for HLL (no exact-distinct
    shuffle — the 100 TB mode). ``strict`` raises on invalid check specs.
    """
    valid = checks if strict else [c for c in checks if not validate_checks([c], df.columns)]
    exprs = _metrics(df, valid, as_of, approx)
    if not exprs:
        return QualityReport(table=table)
    return _report(valid, df.agg(*exprs).collect()[0], table)


def observe_checks(
    df: DataFrame, checks: list[Check], table: str = "", as_of: Column | None = None
) -> tuple[DataFrame, Callable[[], QualityReport]]:
    """``df`` carrying the metrics of ``checks`` as observed metrics
    (``DataFrame.observe``) of the query that consumes it, and a function
    returning :func:`run_checks`' report from them once that query ran (it
    waits for them). Observed metrics take no DISTINCT, so
    ``duplicate_count`` counts the non-null rows a ``row_number`` over the
    column marks as repeats, a shuffle inside the consuming query."""
    exprs = _metrics(df, checks, as_of, approx=False)
    marks: dict[str, str] = {}
    for i, check in enumerate(checks):
        if check.kind == "duplicate_count":
            mark = marks.setdefault(check.column, f"__sg_dup{len(marks)}")
            exprs[i] = F.count(F.when(F.col(mark) > 1, F.col(check.column))).alias(f"m{i}")
    for column, mark in marks.items():
        df = df.withColumn(
            mark, F.row_number().over(Window.partitionBy(column).orderBy(F.lit(0)))
        )
    obs = Observation()
    observed = df.observe(obs, *exprs).drop(*marks.values())
    return observed, lambda: _report(checks, obs.get, table)


def checks_report_df(
    df: DataFrame,
    checks: list[Check],
    as_of: Column | None = None,
    approx: bool = False,
) -> DataFrame:
    """The DataFrame twin of :func:`run_checks`: one row per check with
    (check_name, value, passed) — everything stays JVM-side (one
    aggregation, then a literal explode of the metric row), so the
    report composes into larger plans and driver oracles.

    Freshness value is the age in whole seconds at ``as_of``; a NULL metric
    (zero rows / all-null column) fails freshness and reads value NULL.
    """
    row_df = df.agg(*_metrics(df, checks, as_of, approx))
    structs = []
    for i, check in enumerate(checks):
        v = F.col(f"m{i}").cast("long")
        if check.kind == "freshness":
            passed = F.when(v.isNull(), F.lit(False)).otherwise(_passes(check, v))
        else:
            v = F.coalesce(v, F.lit(0)).cast("long")
            passed = _passes(check, v)
        structs.append(
            F.struct(
                F.lit(check.label()).alias("check_name"),
                v.alias("value"),
                passed.alias("passed"),
            )
        )
    return (
        row_df.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.*")
        .orderBy("check_name")
    )


# ---------------------------------------------------------------------------
# Default check sets — direct re-expression of the reference's SodaCL files
# (quality/soda_checks/{event_stream,scd,feature,compliance}_checks.yaml).
# The compliance set FIXES the reference's email-on-event_stream bug by
# declaring email checks on scd_type2, where the column actually exists.
# ---------------------------------------------------------------------------

EVENT_STREAM_CHECKS = [
    Check("row_count", op=">", threshold=0, name="Event stream has data"),
    Check("missing_count", "event_id", name="event_id is never null"),
    Check("missing_count", "event_type", name="event_type is never null"),
    Check("missing_count", "event_timestamp", name="event_timestamp is never null"),
    Check("duplicate_count", "event_id", name="event_id is unique"),
    Check("freshness", "event_timestamp", max_age="1d", name="Data is fresh (< 1 day)"),
]

SCD_TYPE2_CHECKS = [
    Check("row_count", op=">", threshold=0, name="SCD table has data"),
    Check("missing_count", "surrogate_key", name="surrogate_key is never null"),
    Check("missing_count", "natural_key", name="natural_key is never null"),
    Check("missing_count", "effective_from", name="effective_from is never null"),
    Check("missing_count", "is_current", name="is_current is never null"),
    Check("duplicate_count", "surrogate_key", name="surrogate_key is unique"),
]

FEATURE_TABLE_CHECKS = [
    Check("row_count", op=">", threshold=0, name="Feature table has data"),
    Check("missing_count", "entity_id", name="entity_id is never null"),
    Check("missing_count", "feature_timestamp", name="feature_timestamp is never null"),
    Check("missing_count", "feature_set", name="feature_set is never null"),
    Check("freshness", "computed_at", max_age="2d", name="Features are fresh (< 2 days)"),
]

COMPLIANCE_CHECKS = {
    "event_stream": [
        Check("missing_count", "user_id", name="Compliance: user_id is never null (PII tracking)"),
        Check(
            "freshness",
            "event_timestamp",
            max_age="7d",
            name="Compliance: event data not stale (< 7 days)",
        ),
    ],
    "scd_type2": [
        # the reference declared this on event_stream, which has no email
        # column (compliance_checks.yaml:7-9) — validated + relocated here
        Check("missing_count", "email", name="Compliance: email is never null (PII tracking)"),
        Check(
            "missing_count",
            "effective_from",
            name="Compliance: SCD effective_from is never null (audit trail)",
        ),
        Check(
            "freshness",
            "effective_from",
            max_age="30d",
            name="Compliance: dimension data not stale (< 30 days)",
        ),
    ],
}

DEFAULT_CHECKS = {
    "event_stream": EVENT_STREAM_CHECKS,
    "scd_type2": SCD_TYPE2_CHECKS,
    "feature_table": FEATURE_TABLE_CHECKS,
}
