"""Span tracing around the engine's public layer functions.

The wrappers live here, in the benchmark, and are installed by
monkeypatching the engine's module attributes and class methods for the
traced run only; the engine itself carries no tracing code. Each span
records ``(name, start, end, parent, op)``; spans stay in memory and are
reduced to per-layer metrics when the run ends. A span's *self time* is
its duration minus the durations of its direct children (one thread, so
children never overlap), which makes the self times of one operation add
up to its wall time exactly.

Work the tracer itself does inside an operation (listing the warehouse to
count written bytes, reading the snapshot log to count delete files) runs
in its own ``trace.instrument`` spans, so it is attributed, not hidden in
a layer's self time.
"""

from __future__ import annotations

import functools
import os
import re
import statistics
import time
from collections import Counter
from contextlib import contextmanager
from pathlib import Path

#: layers reporting ``<layer>.errors``; an exception leaving a span counts
#: against the layer its name starts with
LAYERS = ("session", "lakehouse", "exec", "snapstore", "maintenance",
          "pipeline", "quality", "dedup")
MAINTENANCE_ACTIONS = ("none", "rewrite_deletes", "compact", "compact_partitions")
_MD_SUFFIXES = ("__snapshots", "__history", "__files", "__partitions",
                "__delete_files", "__refs")
_ASOF = re.compile(r"\bFOR\s+(?:SYSTEM_)?(?:VERSION|TIMESTAMP|TIME)\s+AS\s+OF\b", re.I)


class Tracer:
    """In-memory span recorder; records only while ``enabled``."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self.errors: Counter = Counter()
        self._stack: list[int] = []
        self._patches: list[tuple] = []
        self.op: int | None = None

    # -- recording -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield attrs
        except Exception:
            self.errors[name.split(".", 1)[0]] += 1
            raise
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanning wrapper. ``before(*args,
        **kw)`` and ``after(result)`` return span attributes; both run in
        ``trace.instrument`` spans."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            pre = {}
            if before is not None:
                with tracer.span("trace.instrument"):
                    pre = before(*args, **kwargs)
            with tracer.span(name, **pre) as attrs:
                out = orig(*args, **kwargs)
            if after is not None:
                with tracer.span("trace.instrument"):
                    attrs.update(after(out))
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def _tree_files(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith((".parquet", ".orc")):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def install(tracer: Tracer, warehouse: Path) -> None:
    """Wrap every layer's public entry points (see README for the table)."""
    from iceberg_quickstart_iac_spark import pipeline
    from iceberg_quickstart_iac_spark.operators import dedup, maintenance
    from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse
    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    def sql_before(lh, spark, statement, *a, **kw):
        tokens = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", statement))
        lookups = sum(
            1 for t in lh.list_tables()
            if t in tokens or any(t + s in tokens for s in _MD_SUFFIXES)
        )
        return {"lookups": lookups + len(_ASOF.findall(statement))}

    def read_before(table, spark, snapshot_id=None, as_of_ms=None, *a, tag=None, **kw):
        # the same snapshot resolution read() starts with
        if tag is not None:
            snapshot_id = table.tag(tag)["snapshot_id"]
        snap = table._snapshot_for(snapshot_id, as_of_ms)
        return {"delete_files": len(snap.get("delete_dirs") or [])}

    def files_before(*a, **kw):
        return {"files_before": _tree_files(warehouse)}

    def files_after(_out):
        return {"files_after": _tree_files(warehouse)}

    def maint_after(out):
        return {"action": out.get("action", "none"), **files_after(out)}

    tracer.patch(Lakehouse, "sql", "lakehouse.sql", before=sql_before)
    tracer.patch(SnapTable, "register", "snapstore.register")
    tracer.patch(SnapTable, "read", "snapstore.read", before=read_before)
    tracer.patch(SnapTable, "append", "snapstore.append",
                 before=files_before, after=files_after)
    tracer.patch(SnapTable, "apply_changelog", "snapstore.apply_changelog",
                 before=files_before, after=files_after)
    tracer.patch(maintenance, "maintain_mor", "maintenance.maintain_mor",
                 before=files_before, after=maint_after)
    tracer.patch(pipeline, "materialize", "pipeline.materialize")
    # pipeline binds run_checks at import: wrap the name it calls
    tracer.patch(pipeline, "run_checks", "quality.run_checks")
    tracer.patch(dedup, "admit_batch", "dedup.admit_batch")


def job_counts(spark, groups: list[str]) -> tuple[float, float]:
    """Mean Spark jobs and completed tasks per job group (one per op)."""
    if not groups:
        return 0.0, 0.0
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for g in groups:
        for j in tracker.getJobIdsForGroup(g):
            jobs += 1
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else []):
                st = tracker.getStageInfo(s)
                tasks += st.numCompletedTasks if st else 0
    return jobs / len(groups), tasks / len(groups)


def span_cost_s(n: int = 2000) -> float:
    """Measured cost of recording one empty span."""
    t = Tracer()
    t.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, op_groups: list[str], spark,
                  traced_round_s: list[float], plain_round_s: list[float],
                  session_start_s: float, extra: dict) -> dict[str, float]:
    spans = tracer.spans
    dur = [s["end"] - s["start"] for s in spans]
    child = [0.0] * len(spans)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            child[s["parent"]] += dur[i]
    self_t = [d - c for d, c in zip(dur, child)]

    def idx(name):
        return [i for i, s in enumerate(spans) if s["name"] == name]

    def under(i, name):
        p = spans[i]["parent"]
        while p is not None:
            if spans[p]["name"] == name:
                return True
            p = spans[p]["parent"]
        return False

    def written(ids):
        nbytes = nfiles = 0
        for i in ids:
            a = spans[i]["attrs"]
            before, after = a.get("files_before", {}), a.get("files_after", {})
            new = [p for p in after if p not in before]
            nfiles += len(new)
            nbytes += sum(after[p] for p in new)
        return nbytes, nfiles

    ops = idx("op")
    n_ops = max(1, len(ops))
    sql = idx("lakehouse.sql")
    reg_in_sql = [i for i in idx("snapstore.register") if under(i, "lakehouse.sql")]
    lookups = sum(spans[i]["attrs"].get("lookups", 0) for i in sql)
    reads = idx("snapstore.read")
    writes = idx("snapstore.append") + idx("snapstore.apply_changelog")
    wbytes, wfiles = written(writes)
    maint = idx("maintenance.maintain_mor")
    mbytes, _ = written(maint)
    actions = Counter(spans[i]["attrs"].get("action", "none") for i in maint)
    jobs, tasks = job_counts(spark, op_groups)
    op_wall = sum(dur[i] for i in ops)
    in_ops = sum(self_t[i] for i, s in enumerate(spans) if s["op"] is not None)
    instrument = sum(dur[i] for i in idx("trace.instrument"))
    tracing = instrument + len(spans) * span_cost_s()
    plain = statistics.median(plain_round_s) if plain_round_s else 0.0
    traced = statistics.median(traced_round_s) if traced_round_s else 0.0

    m = {
        "session.start_s": session_start_s,
        "lakehouse.sql.self_ms": 1e3 * _mean(self_t[i] for i in sql),
        "lakehouse.register.ms": 1e3 * sum(dur[i] for i in reg_in_sql) / max(1, len(sql)),
        "lakehouse.register.per_stmt": len(reg_in_sql) / max(1, len(sql)),
        "lakehouse.registry_hit_ratio": (
            max(0.0, 1.0 - len(reg_in_sql) / lookups) if lookups else 0.0
        ),
        "exec.collect_ms": 1e3 * _mean(dur[i] for i in idx("exec.collect")),
        "exec.jobs_per_op": jobs,
        "exec.tasks_per_op": tasks,
        "snapstore.read.ms": 1e3 * _mean(dur[i] for i in reads),
        "snapstore.read.delete_files": _mean(spans[i]["attrs"].get("delete_files", 0) for i in reads),
        "snapstore.apply_changelog.self_ms": 1e3 * _mean(self_t[i] for i in idx("snapstore.apply_changelog")),
        "snapstore.append.ms": 1e3 * _mean(dur[i] for i in idx("snapstore.append")),
        "snapstore.bytes_written": wbytes / n_ops,
        "snapstore.files_written": wfiles / n_ops,
        "maintenance.ms": 1e3 * _mean(dur[i] for i in maint),
        **{f"maintenance.actions.{a}": float(actions.get(a, 0)) for a in MAINTENANCE_ACTIONS},
        "maintenance.bytes_rewritten": mbytes / max(1, len(maint)),
        "pipeline.materialize.self_ms": 1e3 * _mean(self_t[i] for i in idx("pipeline.materialize")),
        "quality.run_checks.ms": 1e3 * _mean(dur[i] for i in idx("quality.run_checks")),
        "dedup.admit_batch.self_ms": 1e3 * _mean(self_t[i] for i in idx("dedup.admit_batch")),
        **{f"{layer}.errors": float(tracer.errors.get(layer, 0)) for layer in LAYERS},
        "trace.overhead_pct": 100.0 * tracing / op_wall if op_wall else 0.0,
        "trace.round_delta_pct": 100.0 * (traced / plain - 1.0) if plain else 0.0,
        "trace.self_sum_ratio": in_ops / op_wall if op_wall else 0.0,
        "trace.bench_self_ms": 1e3 * _mean(self_t[i] for i in ops),
        "trace.instrument_ms": 1e3 * instrument / n_ops,
        "trace.traced_ops": float(len(ops)),
    }
    m.update(extra)
    return m
