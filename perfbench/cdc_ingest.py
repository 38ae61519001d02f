"""``cdc_ingest``: micro-batch appends, merge-on-read CDC and maintenance,
each followed by a read-after-commit.

One closed-loop client; one operation is one turn:

1. append a seeded ``event_stream`` micro-batch with
   ``pipeline.materialize(mode="append")`` (quality gate + audit);
2. apply a seeded ``orders`` changelog (I/U/D, Zipf-skewed keys) with
   ``SnapTable.apply_changelog(mode="mor")``;
3. run ``maintenance.maintain_mor`` under the table's own template
   policy (``maintenance_max_delete_files=2``), so every second turn
   folds the deferred deletes;
4. read the fresh head through ``Lakehouse.sql``. The head moved, so the
   registration memo misses on every read.

Each read is compared with the state derived in Python from the generated
changelogs; at the end the whole ``orders`` table is compared (row count
plus an order-insensitive hash) and the ``event_stream`` row count too.
A round is two turns, one full maintenance cycle; a run measures at
least two rounds.
"""

from __future__ import annotations

import time
from decimal import Decimal
from pathlib import Path

import pyarrow as pa

from perfbench import datagen
from perfbench.common import (
    NAMESPACE, event_checks, event_template, median, norm_rows, orders_template,
    round_means, rows_digest, tree_bytes, write_input,
)

N_ORDERS = 20_000
N_CUSTOMERS = 2_000
N_EVENTS0 = 5_000
N_EVENTS_TURN = 500
N_CHANGES = 400
TURNS_PER_ROUND = 2
MAINTENANCE = {"maintenance_max_delete_files": 2, "maintenance_max_delete_ratio": 0.05}
HOUR_US = 3_600 * 1_000_000

READ_SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")


def _aggregate(state: dict) -> list[tuple]:
    acc: dict[str, list] = {}
    for _key, (status, price) in state.items():
        a = acc.setdefault(status, [0, Decimal(0)])
        a[0] += 1
        a[1] += price
    return norm_rows((s, n, t) for s, (n, t) in sorted(acc.items()))


class CdcIngest:
    name = "cdc_ingest"
    builds = 2
    c1_jit = True
    min_rounds = 2

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.inputs = work / "inputs"
        self.failures: list[str] = []

    # -- inputs --------------------------------------------------------------

    def generate(self) -> str:
        s = self.seed
        self.orders0 = datagen.orders(datagen.rng_for(s, 1), N_ORDERS, N_CUSTOMERS)
        self.events0 = datagen.events(datagen.rng_for(s, 2), N_EVENTS0, 0, 24 * HOUR_US, "e0")
        self.paths = {
            "orders": write_input(self.orders0, self.inputs / "orders.parquet"),
            "events": write_input(self.events0, self.inputs / "events.parquet"),
        }
        self.pool = self.orders0.column("o_orderkey").to_numpy()
        # hot keys: a seeded permutation ranks the keys, Zipf weights by rank
        self.pool = datagen.rng_for(s, 3).permutation(self.pool)
        self.weights = datagen.zipf_weights(len(self.pool))
        first = [self._turn_inputs(t) for t in range(2)]
        return datagen.fingerprint(self.orders0, self.events0, *[x for f in first for x in f])

    def _turn_inputs(self, turn: int) -> tuple[pa.Table, pa.Table]:
        rng = datagen.rng_for(self.seed, 10, turn)
        events = datagen.events(rng, N_EVENTS_TURN, (24 + turn) * HOUR_US, HOUR_US, f"t{turn}")
        changes = datagen.changelog(rng, N_CHANGES, self.pool, self.weights,
                                    N_ORDERS + 1 + turn * N_CHANGES, N_CUSTOMERS)
        return events, changes

    # -- setup ---------------------------------------------------------------

    def build(self, spark, root: Path) -> None:
        from iceberg_quickstart_iac_spark import pipeline
        from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse

        self.root = root
        self.lh = Lakehouse(root / NAMESPACE)
        pipeline.materialize(spark, event_template(), root, df=spark.read.parquet(self.paths["events"]),
                             mode="append", checks=event_checks())
        self.lh.create_table(orders_template(**MAINTENANCE)).append(
            spark.read.parquet(self.paths["orders"]))
        self.state = {
            k: (st, p) for k, st, p in zip(
                self.orders0.column("o_orderkey").to_pylist(),
                self.orders0.column("o_orderstatus").to_pylist(),
                self.orders0.column("o_totalprice").to_pylist())
        }
        self.event_rows = N_EVENTS0
        self.turn = 0

    def warmup(self, spark, tracer) -> None:
        """No warm-up turn: the second build already ran the append path,
        and with the C1-only JIT the first cycle's CPU time repeats from
        run to run as well as later cycles' do."""
        self.bytes0 = tree_bytes(self.root)

    # -- operations ----------------------------------------------------------

    def _prepare(self) -> dict:
        """Write the turn's inputs and derive the state it must leave."""
        t = self.turn
        self.turn += 1
        events, changes = self._turn_inputs(t)
        ev_path = write_input(events, self.inputs / f"events-{t}.parquet")
        ch_path = write_input(changes, self.inputs / f"changes-{t}.parquet")
        for k, op, st, p in zip(changes.column("o_orderkey").to_pylist(),
                                changes.column("op").to_pylist(),
                                changes.column("o_orderstatus").to_pylist(),
                                changes.column("o_totalprice").to_pylist()):
            if op == "D":
                self.state.pop(k, None)
            else:
                self.state[k] = (st, p)
        self.event_rows += events.num_rows
        return {"events": ev_path, "changes": ch_path, "expected": _aggregate(self.state),
                "rows": events.num_rows + changes.num_rows}

    def round(self, r: int) -> list:
        return [self._prepare() for _ in range(TURNS_PER_ROUND)]

    def run_op(self, spark, tracer, op) -> dict:
        from iceberg_quickstart_iac_spark import pipeline
        from iceberg_quickstart_iac_spark.operators import maintenance

        t0 = time.perf_counter()
        pipeline.materialize(spark, event_template(), self.root, df=spark.read.parquet(op["events"]),
                             mode="append", checks=event_checks())
        orders = self.lh.table("orders")
        orders.apply_changelog(spark, spark.read.parquet(op["changes"]), ["o_orderkey"],
                               op_col="op", mode="mor")
        maintenance.maintain_mor(spark, orders)
        t1 = time.perf_counter()
        df = self.lh.sql(spark, READ_SQL)
        with tracer.span("exec.collect"):
            rows = df.collect()
        t2 = time.perf_counter()
        return {"ok": norm_rows(rows) == op["expected"], "batch_ms": 1e3 * (t1 - t0),
                "read_ms": 1e3 * (t2 - t1), "rows": op["rows"]}

    def finish(self, spark) -> list[str]:
        self.bytes_written = tree_bytes(self.root) - self.bytes0
        got = rows_digest(self.lh.table("orders").read(spark).select(
            "o_orderkey", "o_orderstatus", "o_totalprice").collect())
        want = rows_digest((k, st, p) for k, (st, p) in self.state.items())
        if got != want:
            self.failures.append(f"final orders state {got} != expected {want}")
        n = self.lh.sql(spark, "SELECT count(*) FROM event_stream").collect()[0][0]
        if n != self.event_rows:
            self.failures.append(f"event_stream has {n} rows, expected {self.event_rows}")
        return self.failures

    # -- metrics -------------------------------------------------------------

    def metrics(self, records: list[dict], wall: float) -> tuple[dict, dict]:
        # turns inside a maintenance cycle differ (deferred vs folded
        # deletes), so medians run over per-cycle means
        batch = median(round_means(records, "batch_ms"))
        rows = sum(r.get("rows", 0) for r in records)
        changes = N_CHANGES * len(records)
        e2e = {"op_cpu_ms": median(round_means(records, "cpu_ms"))}
        human = {
            "op_p50_ms": batch, "ops_per_s": len(records) / wall, "batch_p50_ms": batch,
            "fresh_read_p50_ms": median(round_means(records, "read_ms")),
            "change_rows_per_s": changes / wall,
            "bytes_written_per_row": self.bytes_written / max(1, rows), "turns": len(records),
        }
        return e2e, human

    def layer_extra(self) -> dict:
        return {"dedup.admitted_ratio": 0.0}

