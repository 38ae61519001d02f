"""Helpers shared by the workloads: table templates, input files, result
normalisation, statistics, and the unit of every metric."""

from __future__ import annotations

import copy
import datetime as dt
import hashlib
import math
import statistics
from decimal import Decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.trace import LAYERS, MAINTENANCE_ACTIONS

#: every benchmark table lives in this catalog namespace
NAMESPACE = "lakehouse"


def event_template(**properties) -> dict:
    from iceberg_quickstart_iac_spark.templates import get_template

    t = copy.deepcopy(get_template("event_stream"))
    t["properties"] = {**t.get("properties", {}), **properties}
    return t


def event_checks():
    """The template's own quality gate, with the freshness limit widened
    so generated (fixed-date) inputs stay deterministic."""
    from iceberg_quickstart_iac_spark.operators.quality import EVENT_STREAM_CHECKS, Check

    return [
        Check(c.kind, c.column, max_age="36500d", name=c.name) if c.kind == "freshness" else c
        for c in EVENT_STREAM_CHECKS
    ]


def col(name: str, typ: str, required: bool = False) -> dict:
    return {"name": name, "type": typ, "required": required}


ORDERS_COLUMNS = [
    col("o_orderkey", "long", True), col("o_custkey", "long", True),
    col("o_orderstatus", "string"), col("o_totalprice", "decimal(12,2)"),
    col("o_orderdate", "date"), col("o_orderpriority", "string"),
]


def orders_template(**properties) -> dict:
    return {
        "name": "orders", "namespace": NAMESPACE, "columns": ORDERS_COLUMNS,
        "partition_spec": [{"column": "o_orderdate", "transform": "year"}],
        "sort_order": [{"column": "o_orderdate", "direction": "asc"}],
        "identifier_fields": ["o_orderkey"],
        "properties": {"write_format": "parquet", **properties},
    }


def write_input(table: pa.Table, path: Path) -> str:
    """Write a generated table as the parquet input Spark reads; naive
    timestamps are stamped UTC so Spark reads them as TIMESTAMP."""
    fields = []
    for f in table.schema:
        if pa.types.is_timestamp(f.type):
            f = pa.field(f.name, pa.timestamp("us", tz="UTC"))
        fields.append(f)
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table.cast(pa.schema(fields)), path)
    return str(path)


def norm_value(v):
    if isinstance(v, Decimal):
        return v.normalize() if v else Decimal(0)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def norm_rows(rows) -> list[tuple]:
    return [tuple(norm_value(v) for v in r) for r in rows]


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result."""
    acc = 0
    n = 0
    for r in norm_rows(rows):
        h = int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "big")
        acc = (acc + h) % 2**64
        n += 1
    return n, f"{acc:016x}"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q / 100.0 * len(s)) - 1))
    return s[k]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def round_means(records: list[dict], key: str) -> list[float]:
    """Per round, the mean of ``key`` over the round's operations."""
    rounds: dict[int, list[float]] = {}
    for r in records:
        if key in r:
            rounds.setdefault(r["round"], []).append(r[key])
    return [sum(v) / len(v) for _, v in sorted(rounds.items())]


def tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


#: unit of every metric the benchmark can report (BENCHMARK.json agrees)
UNITS = {
    # end to end (--trace 0)
    "setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB",
    # per layer (--trace 1)
    "session.start_s": "s",
    "lakehouse.sql.self_ms": "ms", "lakehouse.register.ms": "ms",
    "lakehouse.register.per_stmt": "count", "lakehouse.registry_hit_ratio": "ratio",
    "exec.collect_ms": "ms", "exec.jobs_per_op": "count", "exec.tasks_per_op": "count",
    "snapstore.read.ms": "ms", "snapstore.read.delete_files": "count",
    "snapstore.apply_changelog.self_ms": "ms", "snapstore.append.ms": "ms",
    "snapstore.bytes_written": "bytes", "snapstore.files_written": "count",
    "maintenance.ms": "ms",
    **{f"maintenance.actions.{a}": "count" for a in MAINTENANCE_ACTIONS},
    "maintenance.bytes_rewritten": "bytes",
    "pipeline.materialize.self_ms": "ms", "quality.run_checks.ms": "ms",
    "dedup.admit_batch.self_ms": "ms", "dedup.admitted_ratio": "ratio",
    **{f"{layer}.errors": "count" for layer in LAYERS},
    "trace.overhead_pct": "%", "trace.round_delta_pct": "%", "trace.self_sum_ratio": "ratio",
    "trace.bench_self_ms": "ms", "trace.instrument_ms": "ms", "trace.traced_ops": "count",
}
