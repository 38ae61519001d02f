"""``sql_serving``: governed SELECTs through ``Lakehouse.sql``.

One closed-loop client. Setup materializes ``event_stream`` (three daily
appends through ``pipeline.materialize``, so versions 0..2 exist for time
travel) plus ``orders``, ``lineitem`` and ``customer``. Each round is a
seeded shuffle of a fixed weighted mix of 19 statements whose literals
come from a seeded pool; every answer is compared with DuckDB run on the
same generated inputs (sums are exact decimals in both engines). Event
statements run at ``reader`` level, so restricted columns are redacted;
the star-schema statements run at ``admin`` level. After warm-up every
registration is memoised and no write happens, so the registry always
hits.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import duckdb
import pyarrow as pa

from perfbench import datagen
from perfbench.common import (
    NAMESPACE, col, event_checks, event_template, median,
    norm_rows, orders_template, percentile, write_input,
)

N_DAY_EVENTS = 20_000
N_CUSTOMERS = 2_000
N_ORDERS = 20_000
POOL = 4
READER_HIDDEN = ("user_id", "ip_address")

CUSTOMER_TEMPLATE = {
    "name": "customer", "namespace": NAMESPACE, "partition_spec": [],
    "columns": [
        col("c_custkey", "long", True), col("c_name", "string"),
        col("c_nationkey", "int"), col("c_mktsegment", "string"),
        col("c_acctbal", "decimal(12,2)"),
    ],
}
LINEITEM_TEMPLATE = {
    "name": "lineitem", "namespace": NAMESPACE, "partition_spec": [],
    "sort_order": [{"column": "l_shipdate", "direction": "asc"}],
    "columns": [
        col("l_orderkey", "long", True), col("l_linenumber", "int", True),
        col("l_quantity", "long"), col("l_extendedprice", "decimal(12,2)"),
        col("l_discount", "decimal(4,2)"), col("l_returnflag", "string"),
        col("l_linestatus", "string"), col("l_shipdate", "date"),
    ],
}


def _ts(hours: int) -> str:
    return (datagen.EVENT_BASE + dt.timedelta(hours=int(hours))).isoformat(sep=" ")


def _day(days: int) -> str:
    return (datagen.ORDER_BASE + dt.timedelta(days=int(days))).isoformat()


def _window(rng) -> dict:
    t0 = int(rng.integers(0, 66))
    return {"t0": _ts(t0), "t1": _ts(t0 + int(rng.integers(2, 7)))}


# name, weight, access level, SQL (catalog names), parameter draw.
# DuckDB runs the same text with ``FOR VERSION AS OF v`` rewritten to the
# ``event_stream_v<v>`` view holding the first v+1 daily batches.
TEMPLATES = [
    ("ev_type_window", 3, "reader",
     "SELECT event_type, count(*) AS n FROM event_stream "
     "WHERE event_timestamp >= TIMESTAMP '{t0}' AND event_timestamp < TIMESTAMP '{t1}' "
     "GROUP BY event_type ORDER BY n DESC, event_type",
     _window),
    ("ev_hourly_sessions", 2, "reader",
     "SELECT hour(event_timestamp) AS h, count(*) AS n, count(DISTINCT session_id) AS s "
     "FROM event_stream WHERE event_type = '{etype}' "
     "AND event_timestamp >= TIMESTAMP '{t0}' AND event_timestamp < TIMESTAMP '{t1}' "
     "GROUP BY hour(event_timestamp) ORDER BY h",
     lambda rng: {**_window(rng), "etype": datagen.EVENT_TYPES[int(rng.integers(0, 6))]}),
    ("ev_redacted_rows", 2, "reader",
     "SELECT * FROM event_stream WHERE event_type = '{etype}' "
     "AND event_timestamp >= TIMESTAMP '{t0}' AND event_timestamp < TIMESTAMP '{t1}' "
     "ORDER BY event_id LIMIT 20",
     lambda rng: {**_window(rng), "etype": datagen.EVENT_TYPES[int(rng.integers(0, 10))]}),
    ("ev_time_travel", 2, "reader",
     "SELECT event_type, count(*) AS n FROM event_stream FOR VERSION AS OF {v} "
     "WHERE event_timestamp < TIMESTAMP '{t1}' GROUP BY event_type ORDER BY event_type",
     lambda rng: {"v": int(rng.integers(0, 2)), "t1": _ts(int(rng.integers(6, 48)))}),
    ("ev_snapshots", 1, "reader",
     "SELECT count(*) AS commits, max(sequence) AS head, sum(row_count) AS total "
     "FROM event_stream__snapshots WHERE sequence <= {v}",
     lambda rng: {"v": int(rng.integers(0, 3))}),
    ("orders_status_range", 3, "admin",
     "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders "
     "WHERE o_orderdate >= DATE '{d0}' AND o_orderdate < DATE '{d1}' "
     "GROUP BY o_orderstatus ORDER BY o_orderstatus",
     lambda rng: (lambda d: {"d0": _day(d), "d1": _day(d + int(rng.integers(30, 400)))})(
         int(rng.integers(0, 1900)))),
    ("q3_shipping_priority", 2, "admin",
     "SELECT o.o_orderkey, o.o_orderdate, "
     "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue "
     "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
     "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
     "WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < DATE '{d}' "
     "AND l.l_shipdate > DATE '{d}' "
     "GROUP BY o.o_orderkey, o.o_orderdate ORDER BY revenue DESC, o.o_orderkey LIMIT 10",
     lambda rng: {"seg": datagen.SEGMENTS[int(rng.integers(0, 5))],
                  "d": _day(int(rng.integers(800, 1600)))}),
    ("q1_pricing_summary", 2, "admin",
     "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS qty, "
     "sum(l_extendedprice) AS base, sum(l_extendedprice * (1 - l_discount)) AS disc, "
     "count(*) AS n FROM lineitem WHERE l_shipdate <= DATE '{d}' "
     "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
     lambda rng: {"d": _day(int(rng.integers(1500, 2400)))}),
    ("nation_balance", 1, "admin",
     "SELECT c_nationkey, count(*) AS n, sum(c_acctbal) AS bal FROM customer "
     "WHERE c_acctbal > {x} GROUP BY c_nationkey ORDER BY c_nationkey",
     lambda rng: {"x": f"{int(rng.integers(-500, 9000))}.{int(rng.integers(0, 100)):02d}"}),
    ("ev_files", 1, "reader",
     "SELECT count(*) AS files, sum(record_count) AS total FROM event_stream__files",
     lambda rng: {}),
]


class SqlServing:
    name = "sql_serving"
    builds = 2
    c1_jit = False
    min_rounds = 1

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.failures: list[str] = []

    # -- inputs --------------------------------------------------------------

    def generate(self) -> str:
        s = self.seed
        day_us = 86_400 * 1_000_000
        self.days = [
            datagen.events(datagen.rng_for(s, 1, d), N_DAY_EVENTS, d * day_us, day_us, f"e{d}")
            for d in range(3)
        ]
        self.customer = datagen.customers(datagen.rng_for(s, 2), N_CUSTOMERS)
        self.orders = datagen.orders(datagen.rng_for(s, 3), N_ORDERS, N_CUSTOMERS)
        self.lineitem = datagen.lineitems(datagen.rng_for(s, 4), self.orders)
        inputs = self.work / "inputs"
        self.paths = {
            **{f"day{d}": write_input(t, inputs / f"events_day{d}.parquet")
               for d, t in enumerate(self.days)},
            "customer": write_input(self.customer, inputs / "customer.parquet"),
            "orders": write_input(self.orders, inputs / "orders.parquet"),
            "lineitem": write_input(self.lineitem, inputs / "lineitem.parquet"),
        }
        self.pool = self._pool()
        return datagen.fingerprint(*self.days, self.customer, self.orders, self.lineitem)

    def _pool(self) -> dict[str, list[tuple[str, str, list]]]:
        """Per template: POOL (statement, level, expected rows) entries."""
        con = duckdb.connect()
        for d in range(3):
            con.register(f"event_stream_v{d}", pa.concat_tables(self.days[: d + 1]))
        con.execute("CREATE VIEW event_stream AS SELECT * FROM event_stream_v2")
        for name in ("customer", "orders", "lineitem"):
            con.register(name, getattr(self, name))
        reader_cols = [c for c in self.days[0].column_names if c not in READER_HIDDEN]
        rows_per_day = [t.num_rows for t in self.days]
        pool = {}
        for name, _w, level, sql, draw in TEMPLATES:
            rng = datagen.rng_for(self.seed, 5, len(pool))
            entries = []
            for _ in range(POOL):
                p = draw(rng)
                stmt = sql.format(**p)
                if name == "ev_snapshots":
                    v = p["v"]
                    cum = [sum(rows_per_day[: i + 1]) for i in range(v + 1)]
                    expected = [(v + 1, v, sum(cum))]
                elif name == "ev_files":
                    expected = None  # file count is known only after the build
                else:
                    duck = stmt.replace("SELECT * FROM", f"SELECT {', '.join(reader_cols)} FROM")
                    if "FOR VERSION AS OF" in duck:
                        duck = duck.replace(f"event_stream FOR VERSION AS OF {p['v']}",
                                            f"event_stream_v{p['v']}")
                    expected = norm_rows(con.execute(duck).fetchall())
                entries.append((stmt, level, expected))
            pool[name] = entries
        con.close()
        self.reader_cols = reader_cols
        return pool

    # -- setup ---------------------------------------------------------------

    def build(self, spark, root: Path) -> None:
        from iceberg_quickstart_iac_spark import pipeline
        from iceberg_quickstart_iac_spark.tables.lakehouse import Lakehouse

        self.lh = Lakehouse(root / NAMESPACE)
        tmpl, checks = event_template(), event_checks()
        for d in range(3):
            pipeline.materialize(spark, tmpl, root, df=spark.read.parquet(self.paths[f"day{d}"]),
                                 mode="append", checks=checks)
        for tmpl in (CUSTOMER_TEMPLATE, orders_template(), LINEITEM_TEMPLATE):
            t = self.lh.create_table(tmpl)
            t.append(spark.read.parquet(self.paths[tmpl["name"]]))
        files = sorted((root / NAMESPACE / "event_stream" / "data").rglob("*.parquet"))
        expected = [(len(files), 3 * N_DAY_EVENTS)]
        self.pool["ev_files"] = [(s, lvl, expected) for s, lvl, _ in self.pool["ev_files"]]

    def warmup(self, spark, tracer) -> None:
        """One statement per template plus every pinned time-travel
        version, so each view the mix uses is registered once."""
        for name, *_ in TEMPLATES:
            entries = self.pool[name] if name == "ev_time_travel" else self.pool[name][:1]
            for e in entries:
                if not self._execute(spark, tracer, e):
                    self.failures.append(f"warm-up {name} wrong")

    # -- operations ----------------------------------------------------------

    def round(self, r: int) -> list:
        rng = datagen.rng_for(self.seed, 6, r)
        slots = [name for name, w, *_ in TEMPLATES for _ in range(w)]
        return [(n, self.pool[n][int(rng.integers(0, POOL))]) for n in
                (slots[i] for i in rng.permutation(len(slots)))]

    def _execute(self, spark, tracer, entry) -> bool:
        stmt, level, expected = entry
        df = self.lh.sql(spark, stmt, access_level=level)
        with tracer.span("exec.collect"):
            rows = df.collect()
        if level == "reader" and stmt.startswith("SELECT *") and df.columns != self.reader_cols:
            return False
        return norm_rows(rows) == expected

    def run_op(self, spark, tracer, op) -> dict:
        _name, entry = op
        return {"ok": self._execute(spark, tracer, entry)}

    def finish(self, spark) -> list[str]:
        return self.failures

    # -- metrics -------------------------------------------------------------

    def metrics(self, records: list[dict], wall: float) -> tuple[dict, dict]:
        ms = [r["ms"] for r in records]
        e2e = {"op_cpu_ms": median([r["cpu_ms"] for r in records])}
        human = {"op_p50_ms": median(ms), "ops_per_s": len(ms) / wall,
                 "query_p50_ms": median(ms), "query_p90_ms": percentile(ms, 90),
                 "queries_per_s": len(ms) / wall, "statements": len(ms)}
        return e2e, human

    def layer_extra(self) -> dict:
        return {"dedup.admitted_ratio": 0.0}

