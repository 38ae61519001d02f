"""The analytics query catalog — every operator from SURVEY.md §2 as a
(PySpark DataFrame implementation, ANSI-SQL DuckDB oracle) pair.

Design notes (scale-first):

- Everything is declarative DataFrame API / SQL: Catalyst gets predicate
  pushdown into the parquet scans, column pruning, join-strategy selection,
  and AQE re-planning for free. No RDDs, no driver-side loops.
- Broadcast hints are reserved for FIXED-cardinality dimensions (region 5,
  nation 25, bounded blocks, scalar aggregates). part/supplier/customer GROW
  with scale factor, so they carry no hint: Catalyst's size stats broadcast
  them while they're small and AQE re-plans at runtime — a forced hint
  passes at sf0.1 and OOMs the driver at SF 10^5. Fact-fact joins stay
  shuffle joins keyed on the join column so they scale horizontally.
- **Cross-engine float determinism**: double SUMs are order-sensitive, and
  Spark's partial aggregation order differs from DuckDB's. Every money/value
  aggregate therefore casts the (deterministic, per-row) double expression to
  DECIMAL(18,6), sums exactly, and casts the exact result back to DOUBLE.
  Both engines then produce bit-identical values with no tolerance games.
  This mirrors what a production TPC-H schema does anyway (money is decimal).
- Timestamps are emitted as epoch microseconds (``unix_micros`` /
  ``epoch_us``) and dates as ISO 'yyyy-MM-dd' strings — raw timestamp/date
  objects cross the Arrow boundary with engine-specific types.
- Every computed column is aliased identically in the Spark plan and the
  oracle SQL (driver hashes after sorting columns by name).

Reference parity anchors are cited per query (file:line into
/root/reference).
"""

from __future__ import annotations

import json
import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.datasets import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}
#: oracles GENERATED from the gate data (centroid/plane literals) register
#: as callables and render lazily at :func:`oracle_sql` call time, keyed to
#: the sf_dir in effect THEN — an import-time render would pin literals from
#: whatever SPARK_GRAFT_TEST_SF_DIR held at import and report spurious
#: mismatches when the run later targets a different scale
_LAZY_ORACLE: dict[str, Callable[[], str]] = {}
_LAZY_CACHE: dict[tuple[str, str], str] = {}
#: why a generated oracle degraded to a rows-only check, by query name —
#: keeps a future rows-only CORRECTNESS regression diagnosable
_ORACLE_SKIPPED: dict[str, str] = {}

#: exact intermediate type for order-insensitive money/value sums
DEC = "decimal(18,6)"


def query(
    name: str, oracle: str | Callable[[], str] | None = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a catalog query (and optionally its DuckDB oracle SQL —
    a string, or a zero-arg generator rendered lazily per sf_dir)."""

    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = fn
        if callable(oracle):
            _LAZY_ORACLE[name] = oracle
        elif oracle is not None:
            _ORACLE[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


def _gate_sf_dir() -> str:
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


def _resolved_oracles() -> dict[str, str]:
    """Static oracles plus lazy ones rendered against the CURRENT gate
    sf_dir (cached per sf_dir). A generator that fails — e.g. the gate
    parquet is unreachable in some harness — degrades that query to a
    rows-only check, never breaks the call, and records WHY in
    :data:`_ORACLE_SKIPPED`."""
    out = dict(_ORACLE)
    sf_dir = _gate_sf_dir()
    for name, gen in _LAZY_ORACLE.items():
        key = (name, sf_dir)
        if key not in _LAZY_CACHE:
            try:
                _LAZY_CACHE[key] = textwrap.dedent(gen()).strip()
            except Exception as exc:
                _ORACLE_SKIPPED[name] = f"{type(exc).__name__}: {exc}"
                continue
        # clear any stale skip record even on a cache hit: a prior call
        # against an unreachable sf_dir must not leave this (now resolved)
        # oracle marked degraded
        _ORACLE_SKIPPED.pop(name, None)
        out[name] = _LAZY_CACHE[key]
    return out


#: retired from the driver catalog to pytest-oracle-only coverage
#: (recorded in COVERAGE.md before retirement).
#: `bm25_doc_search` — a single-query special case fully subsumed by
#: `bm25_batch_search` (same retrieval.py scoring path).
#: `event_peak_hour_value` — its own dense-key sweep measured alpha 1.80
#: (519 s at 16x bot density): an event-grain per-key RANGE frame cannot
#: be salted, so the entry fails the catalog's 100 TB bar by measurement.
#: `event_peak_minute_rollup` is the scale-safe successor (same
#: trailing-hour-peak semantics at minute grain, alpha -0.16 on the same
#: sweep, 274x faster at 16x). The oracle still replays exact-value via
#: include_retired=True and the one-exchange plan shape stays pinned in
#: tests/test_plans.py.
_RETIRED: frozenset[str] = frozenset({"bm25_doc_search", "event_peak_hour_value"})


def _catalog(d: dict, include_retired: bool) -> dict:
    return {n: v for n, v in d.items() if include_retired or n not in _RETIRED}


def queries(include_retired: bool = False) -> dict[str, QueryFn]:
    """The driver catalog. Retired entries (pytest-oracle-only coverage,
    :data:`_RETIRED`) are excluded unless ``include_retired`` — the oracle
    parity suite passes True so retirement never weakens verification."""
    return _catalog(_REGISTRY, include_retired)


def oracle_sql(include_retired: bool = False) -> dict[str, str]:
    return _catalog(_resolved_oracles(), include_retired)


def dsum(col: F.Column | str, alias: str) -> F.Column:
    """Order-insensitive SUM of a double expression: exact decimal internally,
    double externally (identical bits in Spark and DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Flagship: the reference's own example analytics query —
# filter + group + count + sort over the event stream
# (docs/bring-your-own-data.md:83-90; SURVEY §2 P3+A5+O3).
# ---------------------------------------------------------------------------


@query(
    "flagship_event_type_counts",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15'
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    """,
)
def flagship_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # time filter applied at the raw scan (pushed to parquet row groups)
    ev = load_table(spark, sf_dir, "events", events_ts_at_least="2024-01-15")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy(F.desc("n_events"), "event_type")
    )


# ---------------------------------------------------------------------------
# Rich aggregation (TPC-H Q1 shape): scan-heavy groupBy with many aggregates.
# Partial (map-side) aggregation + AQE handle this at any scale; the group
# cardinality is tiny so the final shuffle is negligible. (SURVEY §2.4 A5.)
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / n).alias("avg_qty"),
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / n).alias("avg_price"),
            (F.sum(F.col("l_discount").cast(DEC)).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# 3-way join + group + top-k (TPC-H Q3 shape). customer is broadcast (small
# dim at every SF ratio); orders⋈lineitem shuffles on the order key.
# Deterministic top-k tie-break on o_orderkey. (SURVEY §2.3 J1, §2.6 O2/O3.)
# ---------------------------------------------------------------------------


@query(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'MACHINERY'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    # customer scales with SF — no forced broadcast; AQE converts to
    # broadcast at runtime when the filtered side is actually small
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# 6-way star join (TPC-H Q5 shape): all dimensions broadcast, single shuffle
# over the fact tables. (SURVEY §2.3 J1.)
# ---------------------------------------------------------------------------


@query(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # supplier/nation/region are fixed-size tiny dims → always broadcast;
    # customer grows with SF → leave the choice to stats + AQE
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# Semi join (EXISTS, TPC-H Q4 shape) — the CDC "changed-row detection" shape
# from SURVEY §2.3 J2 (assets/dimensions.py:22-27).
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Anti join (NOT EXISTS) — the CDC "new-key detection" shape (SURVEY §2.3 J2).
# ---------------------------------------------------------------------------


@query(
    "customers_without_big_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def customers_without_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Enrichment equi-join (SURVEY §2.3 J1, docs/bring-your-own-data.md:203):
# fact ⋈ broadcast(dimension) → rollup.
# ---------------------------------------------------------------------------


@query(
    "enrich_orders_by_segment",
    oracle="""
    SELECT c_mktsegment,
           o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_orderstatus
    ORDER BY c_mktsegment, o_orderstatus
    """,
)
def enrich_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_total"))
        .orderBy("c_mktsegment", "o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Quality-check aggregate (SURVEY §2.4 A1-A4): the Soda check set
# (quality/soda_checks/event_stream_checks.yaml:1-13) computed as ONE
# single-pass native aggregation — no subprocess, no second engine.
# Freshness uses a fixed as-of instant for determinism; epoch-µs integers
# avoid engine timestamp formatting entirely.
# ---------------------------------------------------------------------------


@query(
    "quality_checks_events",
    oracle="""
    SELECT COUNT(*) AS row_count,
           COUNT(*) - COUNT(props) AS missing_props,
           COUNT(event_id) - COUNT(DISTINCT event_id) AS duplicate_event_ids,
           epoch_us(MAX(ts)) AS max_ts_us,
           (epoch_us(TIMESTAMP '2024-02-01') - epoch_us(MAX(ts))) // 3600000000 AS freshness_hours
    FROM events
    """,
)
def quality_checks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    as_of = F.unix_micros(F.lit("2024-02-01").cast("timestamp"))
    return ev.agg(
        F.count(F.lit(1)).alias("row_count"),
        (F.count(F.lit(1)) - F.count("props")).alias("missing_props"),
        (F.count("event_id") - F.countDistinct("event_id")).alias("duplicate_event_ids"),
        F.unix_micros(F.max("ts")).alias("max_ts_us"),
        ((as_of - F.unix_micros(F.max("ts"))) / F.lit(3600000000)).cast("long").alias("freshness_hours"),
    )


# ---------------------------------------------------------------------------
# Declarative SodaCL checks (SURVEY §2.4): the YAML
# check document is the source of truth — parsed by quality.parse_sodacl
# (the reference executes the same files via a Soda subprocess,
# quality/runner.py:37-50), compiled to ONE single-pass aggregation, and
# emitted one row per check. Freshness pins a fixed as-of instant and
# whole-second age arithmetic so both engines agree exactly.
# ---------------------------------------------------------------------------

_SODA_EVENTS_YAML = """\
checks for events:
  - row_count > 0:
      name: a_events_has_data
  - missing_count(props) = 0:
      name: b_props_never_null
  - duplicate_count(event_id) = 0:
      name: c_event_id_unique
  - freshness(ts) < 30d:
      name: d_events_fresh
"""


@query(
    "soda_yaml_checks",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             COUNT(*) - COUNT(props) AS miss,
             COUNT(event_id) - COUNT(DISTINCT event_id) AS dup,
             (epoch_us(TIMESTAMP '2024-02-01') // 1000000
              - epoch_us(MAX(ts)) // 1000000) AS age_s
      FROM events
    )
    SELECT check_name, value, passed FROM (
      SELECT 'a_events_has_data' AS check_name, CAST(n AS BIGINT) AS value, n > 0 AS passed FROM m
      UNION ALL SELECT 'b_props_never_null', CAST(miss AS BIGINT), miss = 0 FROM m
      UNION ALL SELECT 'c_event_id_unique', CAST(dup AS BIGINT), dup = 0 FROM m
      UNION ALL SELECT 'd_events_fresh', CAST(age_s AS BIGINT), age_s < 2592000 FROM m
    ) ORDER BY check_name
    """,
)
def soda_yaml_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.quality import (
        checks_report_df,
        parse_sodacl,
    )

    ev = load_table(spark, sf_dir, "events")
    checks = parse_sodacl(_SODA_EVENTS_YAML)["events"]
    return checks_report_df(ev, checks, as_of=F.lit("2024-02-01").cast("timestamp"))


# ---------------------------------------------------------------------------
# Window / current-version selection (SURVEY §2.5 W1-W2): row_number over a
# key ordered by recency — the SCD2 "is_current" and feature-store
# "latest per entity" shape (scd_type2.yaml:54-58, feature_table.yaml:43-47).
# ---------------------------------------------------------------------------


@query(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    )
    WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Top-k (SURVEY §2.6 O2): ORDER BY ... LIMIT — Catalyst plans
# TakeOrderedAndProject (per-partition heap + driver merge; no full sort).
# ---------------------------------------------------------------------------


@query(
    "topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7): INTERSECT / EXCEPT over key cohorts.
# ---------------------------------------------------------------------------


@query(
    "setops_customer_cohorts",
    oracle="""
    (SELECT o_custkey FROM orders WHERE o_totalprice > 300000
     INTERSECT
     SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_custkey
    """,
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    final = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return big.intersect(final).subtract(urgent).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# JSON payload functions (SURVEY §2.8 F5): the reference carries structured
# payloads as JSON strings (event_stream.yaml:36-38) — extract, cast, rollup.
# ---------------------------------------------------------------------------


@query(
    "json_props_rollup",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY k_bucket
    ORDER BY k_bucket
    """,
)
def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Date-part scalar functions (SURVEY §2.8 F2): year/month extraction, the
# scalar analogs of Iceberg's partition transforms.
# ---------------------------------------------------------------------------


@query(
    "monthly_order_stats",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY o_year, o_month
    ORDER BY o_year, o_month
    """,
)
def monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"), F.month("o_orderdate").alias("o_month")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_total"))
        .orderBy("o_year", "o_month")
    )


# ---------------------------------------------------------------------------
# PII-safe projection (SURVEY §2.2 P1, §2.11 G1): the reader access level
# excludes restricted columns (user_id here, mirroring
# resources/iceberg.py:132-153) — the drop happens BEFORE the scan action,
# so Catalyst never reads the restricted columns from parquet at all.
# ---------------------------------------------------------------------------


@query(
    "pii_safe_events",
    oracle="""
    SELECT event_id, event_type, value, epoch_us(ts) AS ts_us
    FROM events
    WHERE event_id % 97 = 0
    ORDER BY event_id
    """,
)
def pii_safe_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").drop("user_id", "props")
    return (
        ev.filter(F.col("event_id") % 97 == 0)
        .select("event_id", "event_type", "value", F.unix_micros("ts").alias("ts_us"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Exact keyed dedup (SURVEY §2.13 X1): canonical-representative selection —
# min id per group + group size. At 100 TB this is a single hash shuffle on
# the dedup key (map-side partial aggregation shrinks it first).
# ---------------------------------------------------------------------------


@query(
    "dedup_docs_by_key",
    oracle="""
    SELECT lang, source, MIN(doc_id) AS keep_doc_id, COUNT(*) AS group_size
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def dedup_docs_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("group_size"))
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Text statistics (SURVEY §2.13 X4): whitespace tokenization + char counts,
# entirely JVM-side (split/size — no Python in the hot path).
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", r"\s+"))).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Point-in-time / as-of join (SURVEY §2.3 J4): for each purchase event, the
# most recent prior click by the same user. Implemented with the engine's
# union+window as-of operator (one shuffle, no range explosion); the oracle
# is DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------


@query(
    "asof_last_click_before_purchase",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_event_id,
           epoch_us(p.ts) AS purchase_ts_us,
           c.event_id AS click_event_id,
           epoch_us(c.ts) AS click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    ORDER BY p.user_id, purchase_ts_us
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
    )
    joined = as_of_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts",
        value_cols=["click_event_id"],
    )
    return joined.select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.unix_micros("ts").alias("purchase_ts_us"),
        "click_event_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    ).orderBy("user_id", "purchase_ts_us")


# ---------------------------------------------------------------------------
# SCD2 version-chain construction (SURVEY §2.3 J3 / §2.5 W1): rebuild a
# type-2 dimension from an ordered change history — effective_from/to via
# LEAD, is_current on the open row. The merge operator itself
# (operators/scd2.py) is exercised in tests; this query pins the windowed
# chain semantics against SQL.
# ---------------------------------------------------------------------------


@query(
    "scd2_chain_from_orders",
    oracle="""
    SELECT o_custkey AS natural_key,
           o_orderstatus AS status,
           strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
           strftime(
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             '%Y-%m-%d'
           ) AS effective_to,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             IS NULL AS is_current
    FROM orders
    ORDER BY natural_key, effective_from, status
    """,
)
def scd2_chain_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    lead_date = F.lead("o_orderdate").over(w)
    return (
        orders.select(
            F.col("o_custkey").alias("natural_key"),
            F.col("o_orderstatus").alias("status"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("effective_from"),
            F.date_format(lead_date, "yyyy-MM-dd").alias("effective_to"),
            lead_date.isNull().alias("is_current"),
        )
        .orderBy("natural_key", "effective_from", "status")
    )


# ---------------------------------------------------------------------------
# Content-hash exact dedup (SURVEY §2.13 X1): canonical representative per
# normalized-content fingerprint. MD5 of the normalized text is the
# cross-engine-stable key (xxhash64 is Spark-only).
# ---------------------------------------------------------------------------


@query(
    "doc_fingerprint_dedup",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY fp
    ORDER BY fp
    """,
)
def doc_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(content_md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("fp")
    )


# ---------------------------------------------------------------------------
# Incremental dedup (SURVEY §2.13 X1, continuous-ingest form): a NEW batch
# (docs with doc_id % 5 == 0 stand in for the increment) dedups against the
# fingerprint store of the already-ingested corpus (the other 4/5). Work is
# linear in the batch; the store contributes one distinct-fingerprint
# anti-join side — at 100 TB the store is written bucketed by fingerprint
# so only the batch shuffles (operators/dedup.py::incremental_dedup).
# ---------------------------------------------------------------------------


@query(
    "incremental_dedup_new_docs",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, lang, source,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS __fp
      FROM documents
    ),
    seen AS (SELECT DISTINCT __fp FROM fp WHERE doc_id % 5 <> 0),
    batch_reps AS (
      SELECT __fp,
             MIN({'doc_id': doc_id, 'lang': lang, 'source': source}) AS keep
      FROM fp WHERE doc_id % 5 = 0
      GROUP BY __fp
    )
    SELECT keep.doc_id AS doc_id, keep.lang AS lang, keep.source AS source
    FROM batch_reps
    WHERE __fp NOT IN (SELECT __fp FROM seen)
    ORDER BY doc_id
    """,
)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import incremental_dedup
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    seen = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(content_md5(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return (
        incremental_dedup(batch, seen, "doc_id", "text")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental NEAR-dup admission (round 8; the minhash analog of
# incremental_dedup_new_docs, operators/dedup.py::incremental_near_dup):
# a new batch scores against the full corpus's persisted signature store
# — the store is banded map-only and pruned to the batch's broadcast
# bucket footprint, so corpus-vs-corpus pairs never form. Planted exact
# copies (jaccard 1.0 ⇒ est 1.0 deterministically — all 64 minima equal)
# + an in-batch duplicate pair give a table-derived oracle at a 0.9
# threshold that natural cross-doc similarity (≤0.31 true jaccard at
# this sf) cannot reach.
# ---------------------------------------------------------------------------


@query(
    "incremental_near_dup_admission",
    oracle="""
    SELECT CAST(10000 + doc_id AS BIGINT) AS new_id,
           CAST(doc_id AS BIGINT) AS dup_of,
           CAST(1.0 AS DOUBLE) AS est_jaccard,
           'store' AS source
    FROM documents WHERE doc_id IN (1, 7, 42)
    UNION ALL
    SELECT CAST(30002 AS BIGINT), CAST(30001 AS BIGINT),
           CAST(1.0 AS DOUBLE), 'batch'
    ORDER BY new_id
    """,
)
def incremental_near_dup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import tempfile
    from pathlib import Path

    from iceberg_quickstart_iac_spark.operators.dedup import (
        incremental_near_dup,
        load_or_build_signature_store,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the store is a PERSISTED SnapTable (fit-once/load-many, same shape
    # as the ivfpq index root above): the first run per sf_dir pays the
    # corpus signature fit; every later run loads the table — the cost a
    # production deployment amortizes into the store's append loop
    # (operators/dedup.py::admit_batch; certified by
    # near_dup_store_lifecycle)
    key = hashlib.md5(
        json.dumps(
            {"sf_dir": str(Path(sf_dir).resolve()), "num_perm": 64,
             "bands": 16, "shingle_k": 5},
            sort_keys=True,
        ).encode()
    ).hexdigest()[:12]
    root = Path(tempfile.gettempdir()) / f"sgraft_sig_store_{key}"
    store = load_or_build_signature_store(
        spark, docs, root, "doc_id", "text", num_perm=64
    )
    store_sigs = store.read(spark)
    copies = docs.filter(F.col("doc_id").isin(1, 7, 42)).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    extras = spark.createDataFrame(
        [
            (20001, "zq7 xvw fresh admission text one with nothing shared"),
            (20002, "brand new unseen content block two qxj plv wnt"),
            (30001, "identical in batch payload row for the duplicate pair"),
            (30002, "identical in batch payload row for the duplicate pair"),
        ],
        "doc_id LONG, text STRING",
    )
    batch = copies.unionByName(extras)
    return incremental_near_dup(
        batch, store_sigs, "doc_id", "text", threshold=0.9
    ).orderBy("new_id")


# ---------------------------------------------------------------------------
# Persisted signature-store admission LIFECYCLE (round 9;
# operators/dedup.py::admit_batch): the production loop around
# incremental_near_dup made first-class. Wave 1 admits a batch against an
# EMPTY store and appends the admitted docs' signatures (txn-stamped);
# wave 2 (trimmed to a SCORE-ONLY probe — the
# store-only-catch property needs one append, not two full turns) plants
# exact copies of wave-1 admissions — including one whose text exists
# NOWHERE in the corpus, so it can only be caught if the wave-1 append
# actually landed — and must reject them FROM THE UPDATED STORE.
# store_rows_after pins the append accounting: wave 1 reports the commit
# row_count, wave 2 the READ-BACK count of the persisted store (both 5).
# Identical text ⇒ identical signatures ⇒ est 1.0 deterministically;
# natural cross-doc similarity at this sf can't reach the 0.9 threshold.
# ---------------------------------------------------------------------------


@query(
    "near_dup_store_lifecycle",
    oracle="""
    SELECT CAST(1 AS INT) AS wave,
           CAST(30002 AS BIGINT) AS new_id,
           CAST(30001 AS BIGINT) AS dup_of,
           CAST(1.0 AS DOUBLE) AS est_jaccard,
           'batch' AS source,
           CAST(5 AS BIGINT) AS store_rows_after
    UNION ALL
    SELECT CAST(2 AS INT), CAST(50000 + doc_id AS BIGINT),
           CAST(doc_id AS BIGINT), CAST(1.0 AS DOUBLE), 'store',
           CAST(5 AS BIGINT)
    FROM documents WHERE doc_id IN (1, 7, 42)
    UNION ALL
    SELECT CAST(2 AS INT), CAST(60001 AS BIGINT), CAST(20001 AS BIGINT),
           CAST(1.0 AS DOUBLE), 'store', CAST(5 AS BIGINT)
    ORDER BY wave, new_id
    """,
)
def near_dup_store_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from iceberg_quickstart_iac_spark.operators.dedup import (
        admit_batch,
        create_signature_store,
        incremental_near_dup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # fresh root each run: the lifecycle IS the append loop; it must not
    # pollute the fit-once store the admission query serves from
    store = create_signature_store(
        Path(tempfile.mkdtemp(prefix="sigstore_")) / "sig_store", "doc_id"
    )
    # 3 rows, scanned by both waves and their match recomputes — pin them
    corpus3 = docs.filter(F.col("doc_id").isin(1, 7, 42)).localCheckpoint()
    wave1 = corpus3.unionByName(
        spark.createDataFrame(
            [
                (20001, "unique wave one payload zq7 xvw nothing shared"),
                (30001, "identical in batch payload row for the duplicate pair"),
                (30002, "identical in batch payload row for the duplicate pair"),
            ],
            "doc_id LONG, text STRING",
        )
    )
    r1 = admit_batch(
        store, wave1, "doc_id", "text", threshold=0.9, txn=("lifecycle", 1)
    )
    # wave 2: exact copies of wave-1 ADMISSIONS — corpus docs under
    # 50000+id, the literal 20001 doc under 60001 — plus one novel doc
    wave2 = corpus3.select(
        (F.col("doc_id") + 50000).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [
                (60001, "unique wave one payload zq7 xvw nothing shared"),
                (70001, "fresh wave two content qxj plv wnt totally new"),
            ],
            "doc_id LONG, text STRING",
        )
    )
    # wave 2 is a SCORE-ONLY probe: one append certifies the store-only
    # catch (60001 matches 20001 only if wave 1 landed); the read-back
    # count is the persisted-append assertion, no second commit needed
    store_after = store.read(spark)
    n_store = store_after.count()
    m2 = incremental_near_dup(
        wave2, store_after, "doc_id", "text", threshold=0.9
    )

    def waved(matches: DataFrame, wave: int, rows_after: int) -> DataFrame:
        return matches.select(
            F.lit(wave).cast("int").alias("wave"),
            "new_id",
            "dup_of",
            "est_jaccard",
            "source",
            F.lit(rows_after).cast("long").alias("store_rows_after"),
        )

    return (
        waved(r1["matches"], 1, r1["commit"]["row_count"])
        .unionByName(waved(m2, 2, n_store))
        .orderBy("wave", "new_id")
    )


# ---------------------------------------------------------------------------
# SQL DML front door lifecycle (round 9; tables/sql_dml.py): the
# reference's users submit DML to their warehouse as SQL STRINGS (Athena
# named queries / runbook statements) — this certifies the same surface
# against snapstore: UPDATE, DELETE, INSERT-SELECT (self-referential,
# pre-insert snapshot semantics), and a full MERGE (aliased target,
# subquery source, matched-update + guarded not-matched-insert) all run
# as statements through Lakehouse.sql; the follow-head registration keeps
# each statement reading the previous statement's committed state. The
# oracle replays the four statements relationally in DuckDB. Float
# mutations are +const only (bit-exact IEEE on both engines).
# ---------------------------------------------------------------------------


@query(
    "sql_dml_lifecycle",
    oracle="""
    WITH seed AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey < 900
    ),
    s1 AS (  -- UPDATE … SET o_totalprice = o_totalprice + 1.5 WHERE status='F'
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1.5
                  ELSE o_totalprice END AS o_totalprice
      FROM seed
    ),
    s2 AS (  -- DELETE … WHERE o_orderkey % 10 = 0
      SELECT * FROM s1 WHERE o_orderkey % 10 <> 0
    ),
    s3 AS (  -- INSERT … SELECT +100000 shifted copies of keys < 100
      SELECT * FROM s2
      UNION ALL
      SELECT o_orderkey + 100000, o_orderstatus, o_totalprice + 0.25
      FROM s2 WHERE o_orderkey < 100
    ),
    u AS (   -- the MERGE source: matched half + shifted unmatched half
      SELECT o_orderkey AS k, o_totalprice AS p FROM s3 WHERE o_orderkey < 100
      UNION ALL
      SELECT o_orderkey + 500000, o_totalprice FROM s3 WHERE o_orderkey < 100
    ),
    s4 AS (
      SELECT t.o_orderkey, t.o_orderstatus,
             CASE WHEN u.k IS NOT NULL THEN u.p + 100.0
                  ELSE t.o_totalprice END AS o_totalprice
      FROM s3 t LEFT JOIN u ON t.o_orderkey = u.k
      UNION ALL
      SELECT u.k, 'M', u.p FROM u LEFT JOIN s3 t ON t.o_orderkey = u.k
      WHERE t.o_orderkey IS NULL AND u.k >= 500000
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM s4
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def sql_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="sqldml_") + "/lake")
    t = lake.create_table(
        {
            "name": "orders_sqldml",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long", "required": True},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
            "identifier_fields": ["o_orderkey"],
        }
    )
    t.overwrite(
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 900)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    lake.sql(spark, """
        UPDATE orders_sqldml SET o_totalprice = o_totalprice + 1.5
        WHERE o_orderstatus = 'F'
    """)
    lake.sql(spark, "DELETE FROM orders_sqldml WHERE o_orderkey % 10 = 0")
    lake.sql(spark, """
        INSERT INTO orders_sqldml
        SELECT o_orderkey + 100000, o_orderstatus, o_totalprice + 0.25
        FROM orders_sqldml WHERE o_orderkey < 100
    """)
    lake.sql(spark, """
        MERGE INTO orders_sqldml AS tgt
        USING (
            SELECT o_orderkey AS k, o_totalprice AS p
            FROM orders_sqldml WHERE o_orderkey < 100
            UNION ALL
            SELECT o_orderkey + 500000, o_totalprice
            FROM orders_sqldml WHERE o_orderkey < 100
        ) AS u
        ON tgt.o_orderkey = u.k
        WHEN MATCHED THEN UPDATE SET o_totalprice = u.p + 100.0
        WHEN NOT MATCHED AND u.k >= 500000 THEN
            INSERT (o_orderkey, o_orderstatus, o_totalprice)
            VALUES (u.k, 'M', u.p)
    """)
    out = lake.sql(spark, """
        SELECT o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_sqldml
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """).localCheckpoint()
    t.unregister(spark, "orders_sqldml")
    return out


# ---------------------------------------------------------------------------
# SQL DDL front door lifecycle (round 9; tables/sql_ddl.py): stand up,
# evolve, and retire a table with STATEMENTS alone — CREATE TABLE
# (partitioned), INSERT-SELECT, ALTER ADD COLUMN (pre-evolution rows
# read as typed NULLs), WRITE ORDERED BY, a second INSERT carrying the
# evolved column, and DROP TABLE. The oracle replays both waves
# relationally; the '<pre-evolution>' bucket certifies the read-time
# schema resolution through the SQL surface.
# ---------------------------------------------------------------------------


@query(
    "sql_ddl_lifecycle",
    oracle="""
    WITH w1 AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
      FROM orders WHERE o_orderkey < 400
    ),
    w2 AS (
      SELECT o_orderkey + 100000, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 800
    ),
    t AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
    SELECT COALESCE(o_orderstatus, '<pre-evolution>') AS status_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM t
    GROUP BY 1
    ORDER BY status_bucket
    """,
)
def sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="sqlddl_") + "/lake")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("orders_src")
    lake.sql_script(spark, """
        CREATE NAMESPACE IF NOT EXISTS lakehouse.sales;
        CREATE TABLE lakehouse.sales.orders_ddl (
          o_orderkey BIGINT NOT NULL,
          o_totalprice DOUBLE
        ) USING iceberg;
        INSERT INTO orders_ddl
          SELECT o_orderkey, o_totalprice FROM orders_src
          WHERE o_orderkey < 400;
        ALTER TABLE orders_ddl ADD COLUMN o_orderstatus STRING;
        ALTER TABLE orders_ddl WRITE ORDERED BY o_orderkey DESC NULLS LAST;
        INSERT INTO orders_ddl
          SELECT o_orderkey + 100000, o_totalprice, o_orderstatus
          FROM orders_src
          WHERE o_orderkey >= 400 AND o_orderkey < 800
    """)
    out = lake.sql(spark, """
        SELECT COALESCE(o_orderstatus, '<pre-evolution>') AS status_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_ddl
        GROUP BY 1
        ORDER BY status_bucket
    """).localCheckpoint()
    lake.table("orders_ddl").unregister(spark, "orders_ddl")
    lake.sql(spark, "DROP TABLE orders_ddl")
    spark.catalog.dropTempView("orders_src")
    return out


# ---------------------------------------------------------------------------
# SQL CALL maintenance lifecycle (round 10; tables/sql_call.py): the
# Iceberg stored-procedure surface the reference's operations runbook
# drives from a warehouse session (docs/operations-runbook.md — snapshot
# expiry, compaction, rollback after a bad write), here as one statement
# sequence: build a table with 3 inserts, ALTER TABLE CREATE TAG the
# good state, DELETE (the "bad write"), CALL rewrite_data_files, CALL
# ancestors_of, CALL rollback_to_snapshot back to the tagged snapshot,
# CALL expire_snapshots — proving the tag pins its snapshot through the
# expiry while everything else is erased. Emitted values are either
# relational (row counts DuckDB replays) or commit-count integers fixed
# by the statement sequence itself.
# ---------------------------------------------------------------------------


@query(
    "sql_call_maintenance_lifecycle",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600
                 AND o_orderkey % 10 <> 0) AS BIGINT) AS n_after_delete,
           TRUE AS compact_preserved_rows,
           TRUE AS compaction_bounded,
           CAST(5 AS BIGINT) AS n_commits_after_compact,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600)
                AS BIGINT) AS n_after_rollback,
           CAST(4 AS BIGINT) AS deleted_snapshots,
           CAST(2 AS BIGINT) AS n_commits_after_expire,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600)
                AS BIGINT) AS n_tag_rows_after_expire
    """,
)
def sql_call_maintenance_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="sqlcall_") + "/lake")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).createOrReplaceTempView("orders_src_call")
    lake.sql_script(spark, """
        CREATE TABLE orders_maint (
          o_orderkey BIGINT NOT NULL,
          o_totalprice DOUBLE
        );
        INSERT INTO orders_maint
          SELECT * FROM orders_src_call WHERE o_orderkey < 200;
        INSERT INTO orders_maint
          SELECT * FROM orders_src_call
          WHERE o_orderkey >= 200 AND o_orderkey < 400;
        INSERT INTO orders_maint
          SELECT * FROM orders_src_call
          WHERE o_orderkey >= 400 AND o_orderkey < 600;
        ALTER TABLE orders_maint CREATE TAG pre_delete
    """)
    lake.sql(
        spark, "DELETE FROM orders_maint WHERE o_orderkey % 10 = 0"
    )
    n_after_delete = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_maint"
    ).first().n
    rw = lake.sql(
        spark, "CALL system.rewrite_data_files(table => 'orders_maint')"
    ).first()
    n_after_compact = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_maint"
    ).first().n
    anc = lake.sql(
        spark, "CALL system.ancestors_of('orders_maint')"
    ).collect()
    # roll back to the tagged pre-delete snapshot (metadata-only)
    t = lake.table("orders_maint")
    tag_sid = t.tag("pre_delete")["snapshot_id"]
    lake.sql(
        spark,
        f"CALL system.rollback_to_snapshot(table => 'orders_maint', "
        f"snapshot_id => '{tag_sid}')",
    )
    n_after_rollback = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_maint"
    ).first().n
    # head-only retention: the live tag pins its snapshot through it
    n_deleted = lake.sql(
        spark,
        "CALL system.expire_snapshots(table => 'orders_maint', "
        "max_age_ms => 0)",
    ).first().deleted_snapshots_count
    n_commits_after = len(
        lake.sql(spark, "CALL system.ancestors_of('orders_maint')")
        .collect()
    )
    n_tag_rows = lake.sql(
        spark,
        "SELECT COUNT(*) AS n FROM orders_maint "
        "FOR VERSION AS OF 'pre_delete'",
    ).first().n
    out = spark.createDataFrame(
        [(
            int(n_after_delete),
            bool(n_after_compact == n_after_delete),
            bool(
                rw.added_data_files_count <= rw.rewritten_data_files_count
            ),
            len(anc),
            int(n_after_rollback),
            int(n_deleted),
            int(n_commits_after),
            int(n_tag_rows),
        )],
        "n_after_delete BIGINT, compact_preserved_rows BOOLEAN, "
        "compaction_bounded BOOLEAN, n_commits_after_compact BIGINT, "
        "n_after_rollback BIGINT, deleted_snapshots BIGINT, "
        "n_commits_after_expire BIGINT, n_tag_rows_after_expire BIGINT",
    )
    t.unregister(spark, "orders_maint")
    spark.catalog.dropTempView("orders_src_call")
    return out


# ---------------------------------------------------------------------------
# Catalog views (round 10; lakehouse.py::create_view + sql_ddl.py): the
# Iceberg view-spec analog — versioned SQL text resolved at read time
# under the invoker's governance. The lifecycle pins the four properties
# that make a view a view: it FOLLOWS the head (new commits appear with
# no re-create), CREATE OR REPLACE appends a definition version, old
# versions stay readable via FOR VERSION AS OF (definition pinned, data
# live), and views compose (a view over a view re-expands through both).
# ---------------------------------------------------------------------------


@query(
    "sql_view_registry_lifecycle",
    oracle="""
    WITH cur AS (SELECT * FROM orders WHERE o_orderkey < 1000)
    SELECT CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey < 500 AND o_totalprice > 100000)
                AS BIGINT) AS n_v0_initial,
           CAST((SELECT COUNT(*) FROM cur WHERE o_totalprice > 100000)
                AS BIGINT) AS n_v0_after_append,
           CAST((SELECT COUNT(*) FROM cur WHERE o_totalprice > 150000)
                AS BIGINT) AS n_v1,
           CAST((SELECT COUNT(*) FROM cur WHERE o_totalprice > 100000)
                AS BIGINT) AS n_v0_pinned,
           CAST((SELECT COUNT(*) FROM cur WHERE o_totalprice > 150000
                 AND o_orderkey % 2 = 0)
                AS BIGINT) AS n_nested
    """,
)
def sql_view_registry_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="sqlview_") + "/lake")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).createOrReplaceTempView("orders_src_view")
    lake.sql_script(spark, """
        CREATE TABLE orders_vsrc (
          o_orderkey BIGINT NOT NULL,
          o_totalprice DOUBLE
        );
        INSERT INTO orders_vsrc
          SELECT * FROM orders_src_view WHERE o_orderkey < 500;
        CREATE VIEW big_orders COMMENT 'orders above 100k'
          AS SELECT o_orderkey, o_totalprice FROM orders_vsrc
             WHERE o_totalprice > 100000
    """)
    n_v0_initial = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM big_orders"
    ).first().n
    # the view follows the head: a new commit appears without re-create
    lake.sql(spark, """
        INSERT INTO orders_vsrc
          SELECT * FROM orders_src_view
          WHERE o_orderkey >= 500 AND o_orderkey < 1000
    """)
    n_v0_after = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM big_orders"
    ).first().n
    # REPLACE appends version 1; version 0 stays readable (definition
    # pinned, data LIVE — both versions see the full current table)
    lake.sql(spark, """
        CREATE OR REPLACE VIEW big_orders
          AS SELECT o_orderkey, o_totalprice FROM orders_vsrc
             WHERE o_totalprice > 150000
    """)
    n_v1 = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM big_orders"
    ).first().n
    n_v0_pinned = lake.sql(
        spark,
        "SELECT COUNT(*) AS n FROM big_orders FOR VERSION AS OF 0",
    ).first().n
    # views compose: a view over the (current) view
    lake.sql(spark, """
        CREATE VIEW big_even
          AS SELECT * FROM big_orders WHERE o_orderkey % 2 = 0
    """)
    n_nested = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM big_even"
    ).first().n
    out = spark.createDataFrame(
        [(
            int(n_v0_initial),
            int(n_v0_after),
            int(n_v1),
            int(n_v0_pinned),
            int(n_nested),
        )],
        "n_v0_initial BIGINT, n_v0_after_append BIGINT, n_v1 BIGINT, "
        "n_v0_pinned BIGINT, n_nested BIGINT",
    )
    lake.sql_script(
        spark, "DROP VIEW big_even; DROP VIEW big_orders"
    )
    lake.table("orders_vsrc").unregister(spark, "orders_vsrc")
    spark.catalog.dropTempView("orders_src_view")
    return out


# ---------------------------------------------------------------------------
# WAP via SQL (round 9; lakehouse.py::CatalogBranch.sql): stage a write
# on a catalog branch with the SAME statement text production runs,
# audit it there while main serves the pre-write state, publish with
# merge(), and verify main now serves the staged rows — the
# write-audit-publish pattern the reference's Nessie module exists for
# (docs/deep-dive.md:262-303), driven entirely through SQL statements.
# Counts pin isolation during staging AND the post-publish state.
# ---------------------------------------------------------------------------


@query(
    "wap_sql_branch_lifecycle",
    oracle="""
    SELECT CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600)
                AS BIGINT) AS n_main_staging,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600)
                + (SELECT COUNT(*) FROM orders WHERE o_orderkey < 300)
                AS BIGINT) AS n_branch_staged,
           CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 600)
                + (SELECT COUNT(*) FROM orders WHERE o_orderkey < 300)
                AS BIGINT) AS n_main_published,
           TRUE AS wap_isolated
    """,
)
def wap_sql_branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="wapsql_") + "/lake")
    t = lake.create_table(
        {
            "name": "orders_wap",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long", "required": True},
                {"name": "o_totalprice", "type": "double"},
            ],
        }
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t.overwrite(orders.filter(F.col("o_orderkey") < 600))
    orders.filter(F.col("o_orderkey") < 300).select(
        (F.col("o_orderkey") + 200000).alias("o_orderkey"), "o_totalprice"
    ).createOrReplaceTempView("wap_incoming")
    br = lake.create_branch("audit9")
    # stage with the production statement text, ON THE BRANCH
    br.sql(spark, "INSERT INTO orders_wap SELECT * FROM wap_incoming")
    n_branch = br.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_wap"
    ).first().n
    # main is untouched while the audit runs
    n_main_staging = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_wap"
    ).first().n
    # the audit gate, two-sided: every staged row lands in the expected
    # shifted key range [200000, 200300) — n_bad counts escapees above it
    # — and the staged-row count equals the incoming count (a dropped or
    # duplicated row fails the audit, not just a corrupted key)
    n_incoming = spark.table("wap_incoming").count()
    n_staged_new = br.sql(
        spark,
        "SELECT COUNT(*) AS n FROM orders_wap WHERE o_orderkey >= 200000",
    ).first().n
    n_bad = br.sql(
        spark,
        "SELECT COUNT(*) AS n FROM orders_wap WHERE o_orderkey >= 200300",
    ).first().n
    br.merge()
    n_main_published = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM orders_wap"
    ).first().n
    t.unregister(spark, "orders_wap")
    spark.catalog.dropTempView("wap_incoming")
    return spark.createDataFrame(
        [
            (
                n_main_staging,
                n_branch,
                n_main_published,
                bool(
                    n_main_staging < n_branch
                    and n_main_published == n_branch
                    and n_bad == 0
                    and n_staged_new == n_incoming
                ),
            )
        ],
        "n_main_staging LONG, n_branch_staged LONG, "
        "n_main_published LONG, wap_isolated BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (round 9; SURVEY §2.13 X4 extension —
# operators/text.py::remove_boilerplate_lines): the CCNet/RefinedWeb
# cleaning stage. Multi-line docs are built deterministically from the
# table (per-source NAV header + body + copyright footer), so the
# planted boilerplate is known: header/footer lines are shared by every
# doc in a source (df >> 2, removed), body lines recur only where the
# corpus itself has exact-dup texts (removed on BOTH engines
# identically). The oracle replays the frequency/anti-join/reassembly
# arithmetic; clean-text length pins the reassembly without string
# ordering concerns.
# ---------------------------------------------------------------------------


@query(
    "doc_boilerplate_removal",
    oracle="""
    WITH built AS (
      SELECT doc_id, source,
             'NAV ' || source || chr(10) || text || chr(10)
               || 'Footer (c) ' || source AS t
      FROM documents WHERE doc_id < 400
    ),
    lines AS (
      SELECT doc_id, source,
             unnest(string_split(t, chr(10))) AS line
      FROM built
    ),
    nl AS (
      SELECT doc_id, source, COUNT(*) AS n_lines
      FROM lines GROUP BY doc_id, source
    ),
    boiler AS (
      SELECT source, line FROM lines WHERE trim(line) <> ''
      GROUP BY source, line HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT l.doc_id, l.line FROM lines l
      ANTI JOIN boiler b USING (source, line)
    ),
    perdoc AS (
      SELECT nl.doc_id, nl.source, nl.n_lines,
             COALESCE(k.n_kept, 0) AS n_kept,
             COALESCE(k.kept_chars, 0) AS kept_chars
      FROM nl LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_kept,
               SUM(length(line)) AS kept_chars
        FROM kept GROUP BY doc_id
      ) k USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_lines) AS BIGINT) AS total_lines,
           CAST(SUM(n_lines - n_kept) AS BIGINT) AS total_removed,
           CAST(SUM(kept_chars + GREATEST(n_kept - 1, 0)) AS BIGINT)
             AS sum_clean_chars
    FROM perdoc
    GROUP BY source
    ORDER BY source
    """,
)
def doc_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import (
        remove_boilerplate_lines,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 400
    ).select("doc_id", "source", "text")
    built = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("NAV "), F.col("source"), F.lit("\n"), F.col("text"),
            F.lit("\nFooter (c) "), F.col("source"),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(
        built, "doc_id", "text", scope_col="source", min_df=2
    )
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_lines").alias("total_lines"),
            F.sum("n_removed").alias("total_removed"),
            F.sum(F.length("text_clean")).alias("sum_clean_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Bigram novelty scoring (round 8; SURVEY §2.13 X4 extension —
# operators/text.py::bigram_novelty): the integer-exact cousin of CCNet's
# LM-perplexity quality filter. Corpus bigram frequencies come from the
# FULL table; output is bounded to doc_id < 300. The oracle rebuilds the
# same normalize → split → adjacent-pair pipeline with DuckDB list
# functions — integer counts only, no float log-prob order hazards.
# ---------------------------------------------------------------------------


@query(
    "doc_bigram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    cnt AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) FILTER (WHERE c >= 2) AS BIGINT) AS n_common,
           CAST(COUNT(*) FILTER (WHERE c < 2) AS BIGINT) AS n_novel
    FROM bg JOIN cnt USING (bigram)
    WHERE doc_id < 300
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import bigram_novelty

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        bigram_novelty(docs, "doc_id", "text", min_df=2)
        .filter(F.col("doc_id") < 300)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-frequency rarity scoring (SURVEY §2.13 X4 extension): per-doc
# token count + sum of corpus document frequencies — the CCNet-style
# frequency signal (ubiquitous-token docs score high, rare-token docs
# low) kept integer-exact so the oracle hash-matches. The vocab cap is a
# distributed top-k (heap, no global sort); off-cap tokens floor at df=1.
# ---------------------------------------------------------------------------


@query(
    "doc_token_rarity",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t, COUNT(*) AS df FROM tok GROUP BY t
      ORDER BY df DESC, t LIMIT 50000
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(v.df, 1)) AS BIGINT) AS df_sum
    FROM tok LEFT JOIN vocab v USING (t)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import corpus_df_rarity

    docs = load_table(spark, sf_dir, "documents")
    return corpus_df_rarity(docs, "doc_id", "text", top_k=50_000).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal header round-trip (SURVEY §2.13 X5): REAL codec-free metadata
# decode, driver-certified. Valid PNG IHDR headers are constructed
# JVM-side with dimensions derived from document columns, then parsed
# BACK by operators/multimodal.py::png_meta (signature check + big-endian
# byte arithmetic — whole-stage codegen, no codec, no Python). The oracle
# computes the planted dimensions arithmetically, so a parser regression
# (offset slip, endianness, signature) breaks the hash. Map-only at any
# scale.
# ---------------------------------------------------------------------------


@query(
    "media_header_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(n_chars % 512 + 16 AS INTEGER) AS width,
           CAST((doc_id * 7) % 512 + 16 AS INTEGER) AS height,
           CAST(29 AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id < 3000
    ORDER BY doc_id
    """,
)
def media_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.multimodal import png_meta

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 3000)
    w = (F.col("n_chars") % 512 + 16).cast("long")
    h = ((F.col("doc_id") * 7) % 512 + 16).cast("long")
    be4 = lambda v: F.unhex(F.lpad(F.hex(v), 8, "0"))  # noqa: E731
    png = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # signature
        F.unhex(F.lit("0000000D")),          # IHDR length
        F.unhex(F.lit("49484452")),          # "IHDR"
        be4(w),
        be4(h),
        F.unhex(F.lit("0802000000")),        # bit depth / color / trailer
    )
    built = docs.select("doc_id", png.alias("content"))
    parsed = png_meta(F.col("content"))
    return built.select(
        "doc_id",
        parsed["width"].alias("width"),
        parsed["height"].alias("height"),
        F.length("content").cast("long").alias("n_bytes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Document quality scoring (SURVEY §2.13 X4): pure column arithmetic — the
# oracle replicates the exact same IEEE expression tree in DuckDB SQL.
# ---------------------------------------------------------------------------


@query(
    "doc_quality_scores",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             length(text) AS n_chars,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
             len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
             len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 10000 THEN 1.0
                        ELSE least(n_chars / 50.0, 1.0) END)
         + 0.25 * (n_alpha / greatest(n_chars, 1))
         + 0.15 * (CASE WHEN (n_punct / greatest(n_chars, 1)) <= 0.1 THEN 1.0 ELSE 0.2 END)
         + 0.15 * (CASE WHEN n_chars / greatest(len(toks), 1) >= 3
                         AND n_chars / greatest(len(toks), 1) <= 12 THEN 1.0 ELSE 0.3 END)
         + 0.20 * (len(list_distinct(toks)) / greatest(len(toks), 1)) AS quality
    FROM base
    ORDER BY doc_id
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Embedding cosine top-k (SURVEY §2.13 X3): exact brute force, JVM-side
# zip_with/aggregate dot products. The oracle replicates the identical
# double-precision fold in DuckDB list lambdas.
# ---------------------------------------------------------------------------


@query(
    "embedding_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id,
             c.vec_id,
             list_sum(list_transform(list_zip(c.embedding, q.qv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(c.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                * sqrt(list_sum(list_transform(q.qv,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
      FROM embeddings c, q
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """,
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_topk(emb, queries_df, k=10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Hyperplane-LSH ANN (SURVEY §2.13 X3): random-hyperplane sign signatures
# bucket the corpus; only the query's bucket (+ hamming-1 probes) is scored.
# The planes are driver-side float constants, so the ENTIRE pipeline —
# signature fold, multi-probe XOR, cosine scoring, ranking — is replayable
# in DuckDB; the oracle below is generated from the same plane constants
# (repr() round-trips doubles exactly; both engines fold the dot product in
# element order, verified bit-identical by embedding_cosine_topk).
# ---------------------------------------------------------------------------

_LSH_N_PLANES = 6


def _lsh_planes() -> list[list[float]]:
    from iceberg_quickstart_iac_spark.operators.similarity import make_planes

    return make_planes(64, n_planes=_LSH_N_PLANES, seed=202)


def _lsh_oracle_sql() -> str:
    planes = _lsh_planes()
    n = len(planes)

    def dot(vec_expr: str, plane: list[float]) -> str:
        # string→DOUBLE literals: DuckDB's plain-decimal literal path can
        # parse 1 ulp off the correctly-rounded double; VARCHAR→DOUBLE is
        # exact (same hardening as the PQ oracle)
        lits = (
            "CAST([" + ", ".join("'" + repr(float(x)) + "'" for x in plane)
            + "] AS DOUBLE[])"
        )
        return (
            f"list_sum(list_transform(list_zip({vec_expr}, {lits}), "
            f"p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )

    def bucket(vec_expr: str) -> str:
        terms = [
            f"(CASE WHEN {dot(vec_expr, p)} >= 0 THEN {1 << (n - 1 - i)} ELSE 0 END)"
            for i, p in enumerate(planes)
        ]
        return "(" + " + ".join(terms) + ")"

    probes = ", ".join(["qb"] + [f"xor(qb, {1 << b})" for b in range(n)])
    cos = (
        "list_sum(list_transform(list_zip(c.embedding, q.qv), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) "
        "/ (sqrt(list_sum(list_transform(c.embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
        "* sqrt(list_sum(list_transform(q.qv, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding, {bucket("embedding")} AS bucket FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv, {bucket("embedding")} AS qb
      FROM embeddings WHERE vec_id < 5
    ), probes AS (
      SELECT query_id, qv, unnest([{probes}]) AS pb FROM q
    ), cand AS (
      SELECT DISTINCT p.query_id, p.qv, c.vec_id, c.embedding
      FROM probes p JOIN corpus c ON c.bucket = p.pb
    ), scored AS (
      SELECT query_id, vec_id, {cos.replace('q.qv', 'cand.qv').replace('c.embedding', 'cand.embedding')} AS cosine
      FROM cand
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    ORDER BY query_id, rank
    """


@query("embedding_lsh_topk", oracle=_lsh_oracle_sql())
def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbors via random-hyperplane LSH with hamming-1
    multi-probe — the 100 TB path: the bucket equi-join scores only
    ~|corpus| * (n_planes+1) / 2^n_planes candidates per query instead of
    the full corpus (reference has no ANN surface; SURVEY §2.13 X3)."""
    from iceberg_quickstart_iac_spark.operators.similarity import hyperplane_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hyperplane_lsh_topk(emb, queries_df, _lsh_planes(), k=10).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# MinHash/LSH near-duplicate detection (SURVEY §2.13 X2), production shape:
# a three-stage funnel whose verified output is engine-portable, so the
# DuckDB oracle replays the exact all-pairs Jaccard join (was rows-only in
# r2: the old output exposed xxhash-dependent estimates).
#
#   1. LSH banding, bands=21 x r=3 over 63 minhashes: P(miss | j>=0.7)
#      = (1-0.7^3)^21 ~ 1.5e-4 per pair, while unrelated pairs (j~0.1)
#      collide at only ~2% — the band sensitivity that keeps candidate
#      volume linear-ish. (r=2 banding was tried first: at j~0.1 a pair
#      collides with probability 1-(1-0.01)^32 ~ 27%, which made the
#      candidate set quadratic and the verify stage a full all-pairs
#      shingle join — 404 s at sf0.1 vs ~6 s for this funnel.)
#   2. Signature screen (est_jaccard >= 0.4 from the 63 minhashes): pure
#      codegen comparisons, kills the surviving false candidates;
#      P(est < 0.4 | j = 0.7) = P(Binom(63,0.7) < 25) ~ 1e-7.
#   3. Exact Jaccard verify (>= 0.7) on the screened pairs only — shingle
#      cost follows candidate volume, not corpus size.
# ---------------------------------------------------------------------------


def _verified_near_dup_pairs(
    spark: SparkSession, sf_dir: str, block: int | None = None
) -> DataFrame:
    """Stage 0 before the funnel: collapse EXACT duplicates (by normalized
    content fingerprint) and run MinHash only on one representative per
    unique text — on a dup-heavy corpus (what dedup exists for) this cuts
    the shingle/banding volume by the duplication factor. Verified rep-level
    pairs then expand back through the duplicate groups: identical texts
    have identical Jaccard to everything, so the expanded set IS the
    all-pairs truth (within-group pairs are exactly 1.0)."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        lsh_screened_pairs,
        minhash_signatures,
        verify_pairs_exact_jaccard,
    )
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    docs = load_table(spark, sf_dir, "documents")
    if block is not None:
        docs = docs.filter(F.col("doc_id") < block)
    fp = docs.select("doc_id", content_md5(F.col("text")).alias("__fp"))
    # doc -> its group representative (tiny, reused by both expansion
    # joins): min-over-window = ONE shuffle on the fingerprint, vs the
    # groupBy+re-join form's two
    m = fp.select(
        "doc_id", F.min("doc_id").over(W.partitionBy("__fp")).alias("rep")
    ).localCheckpoint()
    rep_docs = docs.join(
        m.filter(F.col("doc_id") == F.col("rep")).select("doc_id"), "doc_id", "left_semi"
    )

    sigs = minhash_signatures(rep_docs, "doc_id", "text", num_perm=63)
    # materialized: the verify stage references the screened set three
    # times (two id projections + the semi-join) — without a checkpoint it
    # would re-run the fused banding+screen join per reference
    screened = lsh_screened_pairs(
        sigs, "doc_id", bands=21, num_perm=63, min_est=0.4
    ).localCheckpoint()
    rep_pairs = verify_pairs_exact_jaccard(
        screened, rep_docs, "doc_id", "text", threshold=0.7
    )

    cross = (
        rep_pairs.join(
            m.select(F.col("rep").alias("id_a"), F.col("doc_id").alias("__a")), "id_a"
        )
        .join(m.select(F.col("rep").alias("id_b"), F.col("doc_id").alias("__b")), "id_b")
        .select(
            F.least("__a", "__b").alias("id_a"),
            F.greatest("__a", "__b").alias("id_b"),
            "jaccard",
        )
    )
    within = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.rep") == F.col("y.rep")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


@query(
    "near_dup_minhash_pairs",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(t, CAST(u.i AS INTEGER), 5) AS s
      FROM norm, LATERAL unnest(range(1, greatest(length(t) - 4, 1) + 1)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c / (na.n + nb.n - c) AS jaccard
    FROM shared
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE c / (na.n + nb.n - c) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def near_dup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _verified_near_dup_pairs(spark, sf_dir).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Near-duplicate CLUSTERS (SURVEY §2.13 X2 cluster tier): connected
# components over the verified near-dup pair graph via iterative min-label
# propagation — each iteration one join + aggregate, O(log diameter)
# rounds. The oracle replays the same components with a recursive
# reachability CTE (the pair set is the engine-portable verified one, so
# both engines see the same graph).
#
# r14: this entry now FORCES the distributed path
# (`driver_edge_threshold=0`) — the min-label propagation a real 100 TB
# dedup runs when the edge set exceeds the driver bound. Until r13 only
# the driver-side union-find fast path ever had a driver row; the oracle
# is unchanged, so the driver's hash match certifies the distributed
# propagation against first-principles reachability. The union-find fast
# path stays the PUBLIC default (near_dup_clusters' adaptive contract)
# and stays covered by the dedup equivalence tests + the capstone
# pipeline entry, which still exercises it.
# ---------------------------------------------------------------------------


@query(
    "near_dup_doc_clusters",
    oracle=r"""
    WITH RECURSIVE norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 2000
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(t, CAST(u.i AS INTEGER), 5) AS s
      FROM norm, LATERAL unnest(range(1, greatest(length(t) - 4, 1) + 1)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE c / (na.n + nb.n - c) >= 0.7
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src ORDER BY doc_id
    """,
)
def near_dup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import near_dup_clusters

    # materialize the verified pair set ONCE (tiny): it feeds the edge set
    # and every propagation iteration. ids=None = pair members only.
    # driver_edge_threshold=0 forces the DISTRIBUTED min-label propagation
    # (one join + aggregate per round, O(log diameter) rounds) — the path
    # a 100 TB edge set takes; the recursive-CTE oracle certifies it.
    pairs = _verified_near_dup_pairs(spark, sf_dir, block=2000).localCheckpoint()
    return (
        near_dup_clusters(pairs, None, "doc_id", driver_edge_threshold=0)
        .select("doc_id", "cluster_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Language identification (SURVEY §2.13 X4): stopword/charset heuristic —
# Spark-side expression; accuracy pinned in tests against the truth column.
# The oracle re-expresses the SAME heuristic in DuckDB SQL (list_intersect
# dedups like array_intersect; list_aggregate 'max' over (score, lang)
# structs reproduces array_max's lexicographic tie-break), so the driver
# gets a full hash-compare, not just a rows-only check.
# ---------------------------------------------------------------------------


@query(
    "doc_language_id",
    oracle=r"""
    WITH tok AS (
      SELECT lang, text,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ), scored AS (
      SELECT lang, text,
        list_aggregate([
          {'score': len(list_intersect(toks, ['der','die','das','und','ist','von','mit','auf','nicht','ein'])), 'lang': 'de'},
          {'score': len(list_intersect(toks, ['the','and','of','to','in','is','that','for','with','on'])), 'lang': 'en'},
          {'score': len(list_intersect(toks, ['el','la','los','de','que','es','para','con','una','por'])), 'lang': 'es'},
          {'score': len(list_intersect(toks, ['le','la','les','et','est','pour','dans','que','une','des'])), 'lang': 'fr'}
        ], 'max') AS best,
        (length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))) AS n_cjk
      FROM tok
    )
    SELECT lang,
           CASE WHEN n_cjk * 2 > length(text) / 4.0 THEN 'zh'
                WHEN best.score > 0 THEN best.lang
                ELSE 'unknown' END AS predicted,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY lang, predicted
    ORDER BY lang, predicted
    """,
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import _spread
    from iceberg_quickstart_iac_spark.operators.text import language_id

    # _spread: one small parquet file scans as ONE partition — fan the
    # regex-heavy classification out to every core before the cheap agg
    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("doc_id", "lang", language_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Gap-based sessionization, batch form (SURVEY §2.9 / pyspark guide's
# classic): lag → new-session flag → running sum = session id. One window
# shuffle on user_id. The streaming analog is
# streaming.session_windows (native session_window).
# ---------------------------------------------------------------------------


@query(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           epoch_us(MIN(ts)) AS start_us,
           epoch_us(MAX(ts)) AS end_us
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap_us > 1800000000, 1).when(F.lag("ts").over(w).isNull(), 1).otherwise(0),
    )
    wsum = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wsum))
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
        .orderBy("user_id", "session_id")
    )


# ---------------------------------------------------------------------------
# Tumbling-window rollup, batch form (SURVEY §2.9 ST3): 15-minute windows as
# portable integer window ids (epoch-µs floor-division — identical in both
# engines; streaming form uses F.window + watermark).
# ---------------------------------------------------------------------------


@query(
    "event_minute_windows",
    oracle="""
    SELECT epoch_us(ts) // 900000000 AS window_id,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY window_id, event_type
    ORDER BY window_id, event_type
    """,
)
def event_minute_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.expr("unix_micros(ts) div 900000000").alias("window_id"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("window_id", "event_type")
    )


# ---------------------------------------------------------------------------
# Sliding RANGE-interval window (round 11; SURVEY §2.5): per event, the
# trailing-one-hour value total for the same user — the time-based frame
# (`RANGE BETWEEN <interval> PRECEDING`) that rows-based frames can't
# express (peers at the same instant must aggregate together; event
# density varies). The frame key is epoch MICROSECONDS, so both engines
# bound the frame with the same integer arithmetic; the inner SUM is
# decimal-exact per the float policy, and the per-user MAX on top keeps
# the result one row per user (spike detection — the alerting shape a
# reference user's monitoring SQL computes). One shuffle (user_id), one
# window pass, one partial-aggregated MAX. At 100 TB the partition is a
# single user's events — bounded by construction FOR HUMAN KEYS; a
# bot/spam key breaks that bound and this event-grain frame then goes
# near-quadratic on one task (measured alpha 1.80 on the dense-key
# sweep, 519 s at 16x bot density). Dense-key workloads must use the
# `event_peak_minute_rollup` form below — grain reduction before the
# window; a trailing frame cannot be salted.
#
# RETIRED r13 (in `_RETIRED`, pytest-oracle-only since): the alpha-1.80
# measurement means this plan does NOT meet the catalog's 100 TB bar on
# adversarial key densities, and the minute-rollup successor covers the
# same trailing-hour-peak semantics scale-safely (ledger in
# COVERAGE.md). Kept registered: the oracle
# replays exact-value each suite run and the event-grain form remains
# available to callers who KNOW their key densities are human-bounded.
# ---------------------------------------------------------------------------


@query(
    "event_peak_hour_value",
    oracle="""
    WITH w AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
             ) AS DOUBLE) AS hour_value
      FROM events
    )
    SELECT user_id,
           MAX(hour_value) AS peak_hour_value,
           COUNT(*) AS n_events
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def event_peak_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    hour_value = F.sum(F.col("value").cast(DEC)).over(w).cast("double")
    return (
        ev.select("user_id", hour_value.alias("hour_value"))
        .groupBy("user_id")
        .agg(
            F.max("hour_value").alias("peak_hour_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Skew-hardened trailing-window variant (round 12): the
# RANGE window above is one task per user — correct, but a bot/spam key
# with 10× everyone's event density makes that ONE task the straggler.
# The standard mitigation is grain reduction BEFORE the window: pre-
# aggregate per (user, minute) with a partial-aggregated groupBy (map-side
# combine collapses the hot key's density inside every input partition
# BEFORE any shuffle), then run the trailing-hour RANGE frame over MINUTE
# rows — the window partition is now bounded by active minutes (<= 60 per
# hour of span however hot the key), not by events. Two exchanges by
# design: the groupBy shuffles on the FINE key (user_id, minute_idx), so
# the hot user spreads across all reducers instead of hammering one; the
# window's exchange on user_id then moves only minute-grain rows. A
# trailing frame cannot be salted (frame continuity breaks), so grain
# reduction IS the skew recipe. Decimal-exact sums both stages per the
# float policy. Measured on the dense-user axis: alpha -0.16, 274x faster
# than the event-grain form at 16x bot density.
# ---------------------------------------------------------------------------


@query(
    "event_peak_minute_rollup",
    oracle="""
    WITH m AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT) AS minute_idx,
             SUM(CAST(value AS DECIMAL(18,6))) AS minute_value
      FROM events
      GROUP BY user_id, CAST(FLOOR(epoch_us(ts) / 60000000) AS BIGINT)
    ), w AS (
      SELECT user_id,
             CAST(SUM(minute_value) OVER (
               PARTITION BY user_id ORDER BY minute_idx
               RANGE BETWEEN 59 PRECEDING AND CURRENT ROW
             ) AS DOUBLE) AS hour_value
      FROM m
    )
    SELECT user_id,
           MAX(hour_value) AS peak_hour_value,
           COUNT(*) AS n_active_minutes
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def event_peak_minute_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    minute_idx = F.floor(F.unix_micros("ts") / 60_000_000).cast("long")
    pre = ev.groupBy(
        "user_id", minute_idx.alias("minute_idx")
    ).agg(F.sum(F.col("value").cast(DEC)).alias("minute_value"))
    w = (
        W.partitionBy("user_id")
        .orderBy("minute_idx")
        .rangeBetween(-59, 0)
    )
    hour_value = F.sum("minute_value").over(w).cast("double")
    return (
        pre.select("user_id", hour_value.alias("hour_value"))
        .groupBy("user_id")
        .agg(
            F.max("hour_value").alias("peak_hour_value"),
            F.count(F.lit(1)).alias("n_active_minutes"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# UNPIVOT / melt (round 11; SURVEY §2.7 family): lineitem's four measure
# columns unpivoted to (measure, value) rows, then aggregated per
# return-flag × measure — the wide-to-long reshape the reference's BI
# exports use (PIVOT's inverse; `pivot_segment_status` certifies the
# other direction). Spark side is the native DataFrame.unpivot (one
# Expand node — a single scan emits all four measures, never four scans);
# the oracle states the same semantics as a UNION ALL. Decimal-exact
# sums per the float policy.
# ---------------------------------------------------------------------------


@query(
    "lineitem_unpivot_measures",
    oracle="""
    WITH u AS (
      SELECT l_returnflag, 'discount' AS measure, l_discount AS v
      FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'quantity', l_quantity FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, measure,
           COUNT(*) AS n,
           CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS total,
           CAST(MIN(v) AS DOUBLE) AS v_min,
           CAST(MAX(v) AS DOUBLE) AS v_max
    FROM u GROUP BY l_returnflag, measure
    ORDER BY l_returnflag, measure
    """,
)
def lineitem_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_discount", "l_extendedprice", "l_quantity", "l_tax"],
        variableColumnName="measure",
        valueColumnName="v",
    ).withColumn("measure", F.expr("substring(measure, 3)"))
    return (
        long.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("v", "total"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
        )
        .orderBy("l_returnflag", "measure")
    )


# ---------------------------------------------------------------------------
# Second-wave analytics coverage: outer joins, correlated subqueries,
# HAVING, distinct aggregates, ROLLUP, pivot — shapes a reference user's
# Athena/BigQuery SQL would hit that the first wave didn't exercise.
# ---------------------------------------------------------------------------


@query(
    "q13_customer_order_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "above_customer_avg_orders",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n_above
    FROM orders o
    WHERE o_totalprice > (
      SELECT 1.2 * AVG(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def above_customer_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # correlated scalar subquery — decorrelated by Catalyst into an
    # aggregate + join; expressed via spark.sql for the exact SQL shape
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_corr")
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_above
        FROM __orders_corr o
        WHERE o_totalprice > (
          SELECT 1.2 * AVG(o2.o_totalprice) FROM __orders_corr o2
          WHERE o2.o_custkey = o.o_custkey
        )
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
    GROUP BY o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # aggregate lineitem BEFORE the join: per-order quantity is map-side
    # combinable, and the >150 HAVING survives on almost no orders
    # (o_orderdate/o_totalprice are functionally dependent on o_orderkey,
    # so grouping after the join is equivalent). NO forced broadcast hint:
    # the surviving set grows linearly with SF — AQE converts to broadcast
    # at runtime exactly when the filtered aggregate is actually small
    qty = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("__qty"))
        .filter(F.col("__qty") > 150)
    )
    return (
        orders.join(qty, orders.o_orderkey == qty.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("__qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .withColumn("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd"))
    )


@query(
    "distinct_customers_per_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def distinct_customers_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "rollup_order_status",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def rollup_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "sum_total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "pivot_segment_status",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def pivot_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pivoted = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return (
        pivoted.select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (SURVEY §2.13 X2, embedding tier): all
# pairs above a cosine threshold within a bounded id block (the full-corpus
# scale path is hyperplane LSH in operators/similarity.py; the blocked
# brute force here is the oracle-checkable exact form).
# ---------------------------------------------------------------------------


@query(
    "embedding_near_dup_pairs",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(a.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
      AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(b.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import _dot, _norm

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    # hoist the norms to one column per ROW (vs recomputing both per PAIR in
    # the nested-loop join — 3 folds/pair → 1); same expression tree per
    # value, so results stay bit-identical to the oracle's formula
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cosine = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Cross-domain enrichment: events ⋈ customer ⋈ nation — the "enrich the
# event stream with dimensions" pattern (docs/bring-your-own-data.md:203).
# ---------------------------------------------------------------------------


@query(
    "event_value_by_nation",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def event_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Third-wave analytics: Q10/Q14 shapes, CUBE with grouping indicators,
# LIKE-predicate pushdown.
# ---------------------------------------------------------------------------


@query(
    "q10_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue_pct",
    oracle="""
    SELECT CAST(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
           AS promo_pct
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate < TIMESTAMP '1999-02-01'
    """,
)
def q14_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(disc).cast("double")
            ).alias("promo_pct")
        )
    )


@query(
    "cube_status_year",
    oracle="""
    SELECT o_orderstatus,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(year(o_orderdate)) AS INT) AS g_year,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, year(o_orderdate))
    ORDER BY g_status, g_year, o_orderstatus NULLS FIRST, o_year NULLS FIRST
    """,
)
def cube_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").withColumn("o_year", F.year("o_orderdate"))
    return (
        orders.cube("o_orderstatus", "o_year")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_year").cast("int").alias("g_year"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("o_orderstatus", "o_year", "g_status", "g_year", "n_orders")
        .orderBy(
            "g_status",
            "g_year",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_year").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS (round 11; §2.4 family): the arbitrary-subset
# grouping shape between ROLLUP (`rollup_order_status`) and CUBE
# (`cube_status_year`) — here (status, priority), (priority), (): the
# per-cell detail, the priority margin WITHOUT a status margin, and the
# grand total, in one pass (one Expand + one aggregate, same plan family
# as rollup/cube — never three scans). GROUPING() markers disambiguate
# real NULLs from margin rows, same convention as the CUBE entry.
# ---------------------------------------------------------------------------


@query(
    "orders_grouping_sets",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    ORDER BY g_status, g_priority,
             o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
            "n_orders", "total_price",
        )
        .orderBy(
            "g_status",
            "g_priority",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "brand_size_stats",
    oracle="""
    SELECT p_brand,
           COUNT(DISTINCT p_size) AS n_sizes,
           CAST(MIN(p_retailprice) AS DOUBLE) AS min_price,
           CAST(MAX(p_retailprice) AS DOUBLE) AS max_price,
           COUNT(*) AS n_parts
    FROM part
    WHERE p_type LIKE '%BRASS%' OR p_name LIKE '%red%'
       OR p_type IN ('PROMO', 'ECONOMY')
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)
def brand_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_type").like("%BRASS%")
            | F.col("p_name").like("%red%")
            | F.col("p_type").isin("PROMO", "ECONOMY")
        )
        .groupBy("p_brand")
        .agg(
            F.countDistinct("p_size").alias("n_sizes"),
            F.min("p_retailprice").cast("double").alias("min_price"),
            F.max("p_retailprice").cast("double").alias("max_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Remaining dedup tiers as driver-visible queries (SURVEY §2.13 X2). Both are
# engine-hash-specific → rows-only driver checks; correctness is pinned in
# tests against planted duplicates. Id-bounded blocks keep bench cost flat
# across SFs (the cap is in the name, not silent).
# ---------------------------------------------------------------------------


# SimHash blocking + exact verification: identical normalized text implies
# identical token multiset implies hamming 0, so every true duplicate pair
# is ALWAYS a candidate (no probabilistic caveat); the md5 verify then
# removes any hash-coincidence pair. The verified output — duplicate pairs
# by normalized content — is exactly replayable in DuckDB. (Was rows-only
# in r2: raw hamming distances are xxhash-dependent.)
@query(
    "simhash_near_pairs_block2k",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id < 2000
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM norm a JOIN norm b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
)
def simhash_near_pairs_block2k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import (
        simhash,
        simhash_candidate_pairs,
    )
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    sig = simhash(docs, "doc_id", "text")
    cand = simhash_candidate_pairs(sig, "doc_id", max_bucket_df=2000).filter(
        F.col("hamming") == 0
    )
    fp = docs.select(F.col("doc_id"), content_md5(F.col("text")).alias("__fp"))
    return (
        cand.join(fp.select(F.col("doc_id").alias("id_a"), F.col("__fp").alias("__fa")), "id_a")
        .join(fp.select(F.col("doc_id").alias("id_b"), F.col("__fp").alias("__fb")), "id_b")
        .filter(F.col("__fa") == F.col("__fb"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@query(
    "ngram_jaccard_dups_block1k",
    # The oracle recomputes the EXACT Jaccard from raw shingle strings
    # (Spark-side shingles are 64-bit-hashed for shuffle width — collisions
    # are ~n²/2⁶⁵, so the outputs agree bit-for-bit; the single int/int
    # division is the only float op and is exact in both engines).
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 1000
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(t, CAST(u.i AS INTEGER), 5) AS s
      FROM norm, LATERAL unnest(range(1, greatest(length(t) - 4, 1) + 1)) u(i)
    ),
    rare AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 1000),
    shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shr GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, c / (na.n + nb.n - c) AS jaccard
    FROM shared
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE c / (na.n + nb.n - c) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def ngram_jaccard_dups_block1k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Hidden-partition pruning as a driver-visible query (reference
# promise: docs/table-template-reference.md:133-168 — "only reads
# files in the hour=10 folder"). Builds a day-partitioned snapshot table
# from the events testdata, reads it with a 2-day ts predicate, and emits
# WHAT THE PHYSICAL LAYOUT DID: total day-partition dirs written, day dirs
# actually scanned (from inputFiles), and the rows returned. The oracle
# derives the same three numbers from pure data semantics — equality proves
# the transform write layout AND the driver-side pruning are correct.
# ---------------------------------------------------------------------------


@query(
    "partitioned_table_pruning",
    oracle="""
    SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS total_day_dirs,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) FILTER (
             WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
               AND ts <  TIMESTAMP '2024-01-12 00:00:00') AS BIGINT) AS scanned_day_dirs,
           CAST(COUNT(*) FILTER (
             WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
               AND ts <  TIMESTAMP '2024-01-12 00:00:00') AS BIGINT) AS window_rows
    FROM events
    """,
)
def partitioned_table_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    ev = load_table(spark, sf_dir, "events")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="prune_") + "/events_p",
        {
            "name": "events_partitioned",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
                {"name": "props", "type": "string"},
            ],
            "partition_spec": [{"column": "ts", "transform": "day"}],
            "sort_order": [{"column": "ts", "direction": "asc"}],
        },
    )
    t.overwrite(ev)
    total_dirs = len({p.name for p in t.data_dir.glob("*/__p_ts_day=*")})
    pruned = t.read(
        spark,
        filters=[("ts", ">=", "2024-01-10 00:00:00"), ("ts", "<", "2024-01-12 00:00:00")],
    )
    scanned_days = {
        m.group(1)
        for f in pruned.inputFiles()
        for m in [_re.search(r"__p_ts_day=([0-9-]+)", f)]
        if m
    }
    return spark.createDataFrame(
        [(total_dirs, len(scanned_days), pruned.count())],
        "total_day_dirs LONG, scanned_day_dirs LONG, window_rows LONG",
    )


# ---------------------------------------------------------------------------
# Partition-spec evolution lifecycle (SURVEY §2.10 M7+; reference promise
# "change how data is partitioned without rewriting files",
# docs/architecture.md:11, docs/deep-dive.md:66-72). Writes events under
# day(ts), evolves the spec to day(ts)+hour(ts), appends the rest, then
# reads an hour window: the new epoch prunes at HOUR granularity while the
# old dirs keep (and are pruned by) their day-only layout — no rewrite. The
# oracle derives the same facts from pure data semantics; the physical
# day-only/old vs hour/new layout split is emitted as a pinned boolean.
# ---------------------------------------------------------------------------


@query(
    "partition_evolution_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(*) FILTER (
             WHERE ts >= TIMESTAMP '2024-01-20 06:00:00'
               AND ts <  TIMESTAMP '2024-01-20 12:00:00') AS BIGINT) AS window_rows,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) FILTER (
             WHERE ts >= TIMESTAMP '2024-01-20 06:00:00'
               AND ts <  TIMESTAMP '2024-01-20 12:00:00') AS BIGINT) AS scanned_hour_dirs,
           TRUE AS old_dirs_kept_day_layout
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-14 00:00:00'
      AND ts <  TIMESTAMP '2024-01-21 00:00:00'
    """,
)
def partition_evolution_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re as _re
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    # a deterministic 7-day slice: the lifecycle (old epoch keeps day
    # layout, new epoch prunes at hour grain) is identical on 5+2 days,
    # and the hour epoch then writes 48 partition dirs instead of ~360 —
    # dir-creation overhead dominated this query's bench cost (7.3 s of
    # tiny-file writes for layout facts that ~2 s demonstrates equally)
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= "2024-01-14 00:00:00") & (F.col("ts") < "2024-01-21 00:00:00")
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="specevo_") + "/events_evo",
        {
            "name": "events_spec_evolved",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
                {"name": "props", "type": "string"},
            ],
            "partition_spec": [{"column": "ts", "transform": "day"}],
        },
    )
    split = "2024-01-19 00:00:00"
    t.append(ev.filter(F.col("ts") < split))
    t.evolve_partition_spec(
        [{"column": "ts", "transform": "day"}, {"column": "ts", "transform": "hour"}]
    )
    t.append(ev.filter(F.col("ts") >= split))
    lo, hi = "2024-01-20 06:00:00", "2024-01-20 12:00:00"
    window = t.read(spark, filters=[("ts", ">=", lo), ("ts", "<", hi)])
    scanned_hours = {
        m.group(1)
        for f in window.inputFiles()
        for m in [_re.search(r"__p_ts_hour=([0-9-]+)", f)]
        if m
    }
    day_dirs = list(t.data_dir.glob("*/__p_ts_day=*"))
    day_only = [d for d in day_dirs if not list(d.glob("__p_ts_hour=*"))]
    hour_dirs = list(t.data_dir.glob("*/__p_ts_day=*/__p_ts_hour=*"))
    old_kept = bool(day_only) and bool(hour_dirs)
    return spark.createDataFrame(
        [(t.read(spark).count(), window.count(), len(scanned_hours), old_kept)],
        "total_rows LONG, window_rows LONG, scanned_hour_dirs LONG, "
        "old_dirs_kept_day_layout BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Co-located bucketed join (SURVEY §4 shuffle control; J7). The reference
# pitches bucket[N] for "high-cardinality columns you join on"
# (docs/table-template-reference.md:144) but never exploits it; here both
# fact tables are written bucketBy(16) + sortBy on the join key, so the
# orders⋈lineitem sort-merge join runs with ZERO Exchange and ZERO Sort on
# either side — each task streams bucket i of both tables. Write-once
# layout cost, amortized over every later join on the key; at 100 TB this
# removes the recurring fact-table shuffle entirely. Plan shape pinned in
# tests/test_plans.py (no Exchange hashpartitioning on the join key).
# ---------------------------------------------------------------------------


@query(
    "bucketed_join_orders_lineitem",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def bucketed_join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iceberg_quickstart_iac_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for name in ("bkt_orders", "bkt_lineitem"):
        # a managed-table location can survive from an earlier session whose
        # (ephemeral) catalog is gone — drop both the entry and the dir
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        shutil.rmtree(f"{loc.removeprefix('file:')}/{name}", ignore_errors=True)
    write_bucketed(orders, "bkt_orders", "o_orderkey", 16, sort_col="o_orderkey")
    write_bucketed(li, "bkt_lineitem", "l_orderkey", 16, sort_col="l_orderkey")
    joined = bucketed_join(
        spark,
        "bkt_orders",
        "bkt_lineitem",
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Drift-sensor loop as a driver-visible query (SURVEY §2.9 ST4; parity:
# sensors/schema_drift.py:36-110): two sensor cycles over a deterministic
# drift scenario — cycle 1 detects drift on event_stream (one missing, one
# extra column) and alerts; cycle 2 sees the SAME drift and does NOT
# re-alert (fingerprint cursor); the clean feature_table never alerts. The
# whole contract is deterministic, so the oracle pins it as VALUES.
# ---------------------------------------------------------------------------


@query(
    "drift_sensor_cycle",
    oracle="""
    SELECT CAST(cycle AS INTEGER) AS cycle, table_name, has_drift, alerted,
           CAST(n_missing AS INTEGER) AS n_missing,
           CAST(n_extra AS INTEGER) AS n_extra
    FROM (VALUES (1, 'lakehouse.event_stream', TRUE,  TRUE,  1, 1),
                 (1, 'lakehouse.feature_table', FALSE, FALSE, 0, 0),
                 (2, 'lakehouse.event_stream', TRUE,  FALSE, 1, 1),
                 (2, 'lakehouse.feature_table', FALSE, FALSE, 0, 0))
         t(cycle, table_name, has_drift, alerted, n_missing, n_extra)
    ORDER BY cycle, table_name
    """,
)
def drift_sensor_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from iceberg_quickstart_iac_spark.governance.drift import run_drift_cycle
    from iceberg_quickstart_iac_spark.templates import get_template
    from iceberg_quickstart_iac_spark.templates.loader import iceberg_type_to_spark

    ev, ft = get_template("event_stream"), get_template("feature_table")

    def live(t: dict, drop: str | None = None, extra: str | None = None) -> T.StructType:
        fields = [
            T.StructField(c["name"], iceberg_type_to_spark(c["type"]))
            for c in t["columns"]
            if c["name"] != drop
        ]
        if extra:
            fields.append(T.StructField(extra, T.StringType()))
        return T.StructType(fields)

    schemas = {
        "event_stream": live(ev, drop="user_agent", extra="debug_flag"),
        "feature_table": live(ft),
    }
    cursor = tempfile.mkdtemp(prefix="driftcur_") + "/cursor.json"
    rows = []
    for cycle in (1, 2):
        res = run_drift_cycle(
            schemas,
            {"event_stream": ev, "feature_table": ft},
            cursor,
            alert_fn=lambda subject, message: None,
            now_ms=cycle,
        )
        for table_id, rep in sorted(res.reports.items()):
            rows.append(
                (
                    cycle,
                    table_id,
                    rep.has_drift,
                    table_id in res.alerted,
                    len(rep.missing_columns),
                    len(rep.extra_columns),
                )
            )
    return spark.createDataFrame(
        rows,
        "cycle INT, table_name STRING, has_drift BOOLEAN, alerted BOOLEAN, "
        "n_missing INT, n_extra INT",
    ).orderBy("cycle", "table_name")


# ---------------------------------------------------------------------------
# Snapshot metadata / time-travel as a driver-visible query (SURVEY §2.10
# M1-M2): builds a throwaway snapshot table, commits overwrite + append +
# compact, and returns the deterministic metadata columns (ids/timestamps,
# which are nondeterministic by nature, are projected out). The expected
# lifecycle is itself deterministic — 5-row overwrite, append to 10 rows/2
# dirs, compact back to 1 dir, time-travel read of the first snapshot still
# seeing 5 rows — so the oracle pins it as literal VALUES and the driver
# hash-compares the full contract.
# ---------------------------------------------------------------------------


@query(
    "snapshot_metadata_lifecycle",
    oracle="""
    SELECT CAST(sequence AS BIGINT) AS sequence, operation,
           CAST(row_count AS BIGINT) AS row_count,
           CAST(data_dir_count AS BIGINT) AS data_dir_count,
           CAST(time_travel_rows AS BIGINT) AS time_travel_rows
    FROM (VALUES (0, 'overwrite', 5, 1, 5),
                 (1, 'append',   10, 2, 5),
                 (2, 'compact',  10, 1, 5))
         t(sequence, operation, row_count, data_dir_count, time_travel_rows)
    ORDER BY sequence
    """,
)
def snapshot_metadata_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.create(
        tempfile.mkdtemp(prefix="snapmeta_") + "/t",
        {"name": "meta_demo", "namespace": "lakehouse", "columns": [], "partition_spec": []},
    )
    region = load_table(spark, sf_dir, "region")
    first = t.overwrite(region)
    t.append(region)
    t.compact(spark, target_files=1)
    # time-travel assertion folded into the result: the first snapshot must
    # still read 5 rows after compaction
    tt_rows = t.read(spark, snapshot_id=first["snapshot_id"]).count()
    return (
        t.snapshots(spark)
        .select(
            F.col("sequence").cast("long").alias("sequence"),
            "operation",
            F.col("row_count").cast("long").alias("row_count"),
            F.col("data_dir_count").cast("long").alias("data_dir_count"),
            F.lit(tt_rows).cast("long").alias("time_travel_rows"),
        )
        .orderBy("sequence")
    )


# ---------------------------------------------------------------------------
# Table-history metadata table (round 12; M1 completion): Iceberg's
# `t.history` with is_current_ancestor — after a rollback, the snapshots
# between the rollback target and the rollback commit left the head
# lineage (Iceberg marks them is_current_ancestor=false; Spark surface:
# `SELECT * FROM cat.db.t.history`). Snapstore reconstructs the chain
# from the rollback entries' `rollback_of` stamps (snapstore.py:history).
# The lifecycle is deterministic — overwrite, two appends, rollback past
# both, re-append — so the oracle pins it as literal VALUES; the read is
# served through the SQL front door's `__history` view (the same lazy
# token-based registration as `__snapshots`), certifying the register()
# wiring, not just the method.
# ---------------------------------------------------------------------------


@query(
    "table_history_lifecycle",
    oracle="""
    SELECT CAST(sequence AS BIGINT) AS sequence, operation,
           is_current_ancestor,
           CAST(head_rows AS BIGINT) AS head_rows
    FROM (VALUES (0, 'overwrite', TRUE,  10),
                 (1, 'append',    FALSE, 10),
                 (2, 'append',    FALSE, 10),
                 (3, 'rollback',  TRUE,  10),
                 (4, 'append',    TRUE,  10))
         t(sequence, operation, is_current_ancestor, head_rows)
    ORDER BY sequence
    """,
)
def table_history_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.create(
        tempfile.mkdtemp(prefix="histmeta_") + "/t",
        {
            "name": "hist_demo",
            "namespace": "lakehouse",
            "columns": [],
            "partition_spec": [],
        },
    )
    region = load_table(spark, sf_dir, "region")
    base = t.overwrite(region)  # seq 0: 5 rows, head ancestor
    t.append(region)  # seq 1: 10 rows — orphaned by the rollback below
    t.append(region)  # seq 2: 15 rows — orphaned too
    t.rollback_to(base["snapshot_id"])  # seq 3: back to 5 rows
    t.append(region)  # seq 4: 10 rows, the new head
    t.register(spark, name="hist_demo", metadata_tables=True)
    head_rows = spark.sql("SELECT COUNT(*) AS n FROM hist_demo").first().n
    return spark.sql(
        f"""
        SELECT CAST(sequence AS BIGINT) AS sequence, operation,
               is_current_ancestor,
               CAST({head_rows} AS BIGINT) AS head_rows
        FROM hist_demo__history
        ORDER BY sequence
        """
    )


# ---------------------------------------------------------------------------
# Statistical profile (SURVEY §2.4 extension): exact percentiles (Spark
# `percentile` ≡ DuckDB `quantile_cont`, both linear interpolation on the
# sorted set — order-insensitive by construction) and variance/stddev
# computed from exact decimal sums via the explicit formula — the naive
# stddev aggregate is float-order-sensitive and can't hash-match.
# ---------------------------------------------------------------------------


@query(
    "order_price_stats",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_price,
           round((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
            - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
              * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1), 3) AS var_price,
           round(sqrt((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(24,6))) AS DOUBLE)
            - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
              * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
           / (COUNT(*) - 1)), 3) AS stddev_price,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def order_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    s = F.sum(F.col("o_totalprice").cast(DEC)).cast("double")
    s2 = F.sum((F.col("o_totalprice") * F.col("o_totalprice")).cast("decimal(24,6)")).cast(
        "double"
    )
    var = (s2 - s * s / n) / (n - F.lit(1))
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            (s / n).alias("mean_price"),
            # both engines agree to ~1 ulp on the variance formula but not
            # bitwise; round(3) both sides puts the grain 10 orders above it
            F.round(var, 3).alias("var_price"),
            F.round(F.sqrt(var), 3).alias("stddev_price"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("median_price"),
            F.percentile("o_totalprice", F.lit(0.9)).alias("p90_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Fourth wave — remaining classic TPC-H join/aggregate shapes adapted to the
# trimmed star schema (no partsupp/shipmode/phone columns in the testdata),
# plus window-function analytics (running totals, LAG gaps, NTILE tiers).
# Parity anchor: the reference delegates exactly this class of SQL to
# Athena/BigQuery/DuckDB (docs/bring-your-own-data.md:83-90); these prove the
# Spark engine covers the same declarative surface.
# ---------------------------------------------------------------------------


@query(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: volume of trade between two nations per ship year.

    Scale notes: the two fact tables join on their natural shuffle keys
    (orderkey); supplier + both nation roles are broadcast so the
    nation-pair predicate prunes rows before the fact-fact shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_8'
                         THEN CAST(volume AS DECIMAL(18,6)) ELSE 0 END) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    ) t
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_8's share of EUROPE's ECONOMY-part market per
    year. Share = exact-decimal conditional sum / exact-decimal total, both
    cast to double before the (IEEE-deterministic) division."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_8", vol.cast(DEC)).otherwise(
            F.lit(0).cast(DEC)
        )
    ).cast("double")
    den = F.sum(vol.cast(DEC)).cast("double")
    # customer/nation/region contribute NO output columns — they are pure
    # filters, so they collapse to semi-joins applied BEFORE the fact-fact
    # join: orders shrinks to EU customers' orders first, and the one big
    # shuffle (lineitem⋈orders) runs against the reduced side. c_custkey
    # and n_nationkey are unique, so semi ≡ inner here.
    eu_nations = n2.join(F.broadcast(region), n2.n_regionkey == region.r_regionkey).select(
        "n_nationkey"
    )
    cust_eu = cust.join(
        F.broadcast(eu_nations), cust.c_nationkey == F.col("n_nationkey"), "left_semi"
    ).select("c_custkey")
    orders_eu = orders.join(
        cust_eu, orders.o_custkey == cust_eu.c_custkey, "left_semi"
    ).select("o_orderkey", "o_orderdate")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(orders_eu, li.l_orderkey == orders_eu.o_orderkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg((num / den).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp, absent from the schema): profit on
    'gear' parts by supplier nation and order year. The p_name LIKE filter
    broadcasts a pruned part dim, shrinking the probe before the fact
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-column predicate across both join
    sides. The part-side disjuncts (brand+size) are pushed below the join to
    prune the broadcast build; the mixed l_quantity conjuncts evaluate as the
    join residual — exactly where Catalyst puts them."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(part, part.p_partkey == li.l_partkey)
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#17")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q22_dormant_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (mktsegment instead of the absent phone prefix):
    above-average-balance customers dormant since 2000. The scalar average
    is a 1-row broadcast cross join — no driver-side collect — and the NOT
    EXISTS is a left_anti join on the (date-pruned) order scan."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
                "avg_bal"
            )
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "customer_running_totals",
    oracle="""
    SELECT o_custkey,
           o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_spend,
           COALESCE(CAST(date_diff('day',
                CAST(LAG(o_orderdate) OVER w AS DATE),
                CAST(o_orderdate AS DATE)) AS BIGINT), -1) AS gap_days
    FROM orders
    WHERE o_custkey % 50 = 7
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, order_seq
    """,
)
def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytics (SURVEY §2.5 extension): per-customer order sequence,
    running spend, and days-since-previous-order. One shuffle on o_custkey
    serves all three window functions; the running sum is an exact decimal
    prefix sum (cast to double per row) so both engines agree bitwise."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 7)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            F.row_number().over(w).cast("long").alias("order_seq"),
            F.sum(F.col("o_totalprice").cast(DEC)).over(wr).cast("double").alias(
                "running_spend"
            ),
            F.coalesce(
                F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).cast("long"),
                F.lit(-1).cast("long"),
            ).alias("gap_days"),
        )
        .orderBy("o_custkey", "order_seq")
    )


@query(
    "customer_spend_quartiles",
    oracle="""
    SELECT c_mktsegment,
           quartile,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(total_spend AS DECIMAL(18,6))) AS DOUBLE) AS segment_spend
    FROM (
      SELECT c_mktsegment,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend,
             CAST(NTILE(4) OVER (ORDER BY CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) DESC,
                                 c_custkey) AS BIGINT) AS quartile
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_mktsegment
    ) t
    GROUP BY c_mktsegment, quartile
    ORDER BY c_mktsegment, quartile
    """,
)
def customer_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE tiering (SURVEY §2.5 extension): customers ranked into spend
    quartiles (deterministic tie-break on c_custkey), then re-aggregated per
    segment.

    Scale design — two-phase distributed NTILE, no single-partition sort
    (Spark's ``ntile`` over an unpartitioned window moves EVERY row through
    one task): range-repartition on the rank order, ``row_number`` within
    each range partition, then global rank = local rank + the partition's
    cumulative offset. The offsets come from the per-partition counts (one
    row per partition, broadcast back), and the NTILE bucket is computed
    arithmetically from (rank, total) with standard NTILE remainder
    semantics — bit-identical to the oracle's NTILE(4). The range exchange
    feeding both the counts branch and the final join is one ReusedExchange,
    so the per-customer aggregate is computed once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_spend"))
    )
    parts = per_cust.repartitionByRange(
        F.desc("total_spend"), F.col("c_custkey")
    ).withColumn("_pid", F.spark_partition_id())
    wp = W.partitionBy("_pid").orderBy(F.desc("total_spend"), "c_custkey")
    local = parts.withColumn("_rn", F.row_number().over(wp))
    # per-partition counts: ~one row per shuffle partition — the tiny frame
    # the cumulative-offset window runs over (partitioned by a literal, so
    # no unpartitioned-window fallback)
    pc = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
    # single-group window over the ~32 count rows; the key is constant-valued
    # but not constant-FOLDABLE, so Catalyst keeps a real partition spec
    # (a literal would fold to an unpartitioned window and its warning)
    grp = F.col("_pid") % F.lit(1)
    w0 = W.partitionBy(grp).orderBy("_pid")
    off = pc.select(
        "_pid",
        F.coalesce(
            F.sum("_cnt").over(w0.rowsBetween(W.unboundedPreceding, -1)), F.lit(0)
        ).alias("_off"),
        F.sum("_cnt").over(W.partitionBy(grp)).alias("_n"),
    )
    r = F.col("_rn") + F.col("_off") - 1  # 0-based global rank
    n, k = F.col("_n"), F.lit(4)
    base, rem = F.floor(n / k), n % k
    cut = rem * (base + 1)
    quartile = (
        F.when(r < cut, F.floor(r / (base + 1))).otherwise(
            rem + F.floor((r - cut) / F.greatest(base, F.lit(1)))
        )
        + 1
    ).cast("long")
    return (
        local.join(F.broadcast(off), "_pid")
        .select("c_mktsegment", "total_spend", quartile.alias("quartile"))
        .groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("total_spend", "segment_spend"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


# ---------------------------------------------------------------------------
# Fifth wave: the remaining classic TPC-H shapes expressible on this schema
# (no partsupp / receiptdate / shipmode columns — each query notes its
# adaptation). Reference parity target: the ad-hoc analytics the reference
# delegates to Athena/BigQuery (docs/deep-dive.md:843,864); shapes follow
# the public TPC-H spec.
# ---------------------------------------------------------------------------


@query(
    "q6_flat_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_flat_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate, zero joins. The whole predicate
    (date range, discount band, quantity cap) pushes to the parquet scan;
    the plan is one WholeStageCodegen map + a single-row partial/final agg —
    the shape that saturates IO at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue (view + scalar MAX).
    Revenue is the exact-decimal sum cast to double, so the equality against
    MAX is bit-deterministic in both engines. The 1-row MAX broadcasts; no
    second pass over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "total_revenue"))
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#12'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem as the part-supplier bridge, partsupp being
    absent): distinct suppliers per surviving (brand, size). The excluded
    suppliers (negative balance) anti-join before the distinct agg; part
    predicates prune the broadcast build side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        li.join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@query(
    "q17_small_qty_avg_yearly",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey
      )
    """,
)
def q17_small_qty_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: lines below 20% of their part's average quantity. The
    correlated AVG decorrelates to a per-part aggregate joined back to the
    fact — Catalyst's own strategy for the SQL form, written explicitly.
    AVG of integer-valued doubles is exact, so the threshold compare is
    engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part_avg = (
        li.groupBy(F.col("l_partkey").alias("avg_partkey"))
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part_avg, li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q20_heavy_shippers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, CAST(SUM(l_quantity) AS DOUBLE) AS total_qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE '%bolt%'
        AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM shipped
      WHERE total_qty > (SELECT 1.5 * AVG(total_qty) FROM shipped)
    )
    ORDER BY s_name
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (threshold vs the fleet average instead of the
    absent partsupp availability): suppliers that shipped 1.5x the average
    'bolt' volume in 1997. Sums of integer-valued quantities are exact in
    double, so the scalar threshold is engine-stable; the qualifying-key
    set semi-joins into supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
    )
    threshold = shipped.agg((F.lit(1.5) * F.avg("total_qty")).alias("qty_cut"))
    heavy = (
        shipped.crossJoin(F.broadcast(threshold))
        .filter(F.col("total_qty") > F.col("qty_cut"))
        .select("l_suppkey")
    )
    return (
        supp.join(heavy, supp.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q21_sole_late_shippers",
    oracle="""
    WITH order_profile AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                 THEN l_suppkey END) AS n_late_supp
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN order_profile USING (l_orderkey)
    WHERE o_orderstatus = 'F'
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND n_supp >= 2 AND n_late_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
)
def q21_sole_late_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (late = shipped >90 days after order date, receipt/
    commit dates being absent): suppliers who were the ONLY late shipper on
    a multi-supplier finalized order. The EXISTS / NOT EXISTS pair is
    reformulated as one per-order profile aggregate (n_supp, n_late_supp)
    joined back — one shuffle on orderkey instead of two correlated
    self-joins of the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    # ONE pass over the fact join: reduce to (order, supplier, late-line
    # count) first — the order profile and the final per-supplier count both
    # derive from this tiny aggregate, so the lineitem⋈orders join is
    # planned (and shuffled) once instead of twice
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(late, 1).otherwise(0)).alias("__n_late_lines"))
    )
    profile = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum((F.col("__n_late_lines") > 0).cast("int")).alias("n_late_supp"),
    )
    return (
        per_supp.filter(F.col("__n_late_lines") > 0)
        .join(profile, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("__n_late_lines").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM costs
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 9
      AND unit_cost = (SELECT MIN(unit_cost) FROM costs c2 WHERE c2.l_partkey = costs.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (observed unit price from lineitem standing in for the
    absent partsupp supplycost): for each size-9 part, the supplier(s) with
    the minimum unit cost. The correlated per-part MIN is a window MIN over
    the already-grouped costs — no second aggregation pass; identical
    double division in both engines keeps the equality exact."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 9)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # semi-join the fact table down to size-9 parts BEFORE the aggregation:
    # each part's min cost depends only on its own rows, so pre-filtering is
    # semantics-preserving and the groupBy + window shuffle ~2% of lineitem
    # instead of all of it (the oracle filters after the CTE — same result)
    li = li.join(
        part.select("p_partkey"),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    best = F.min("unit_cost").over(W.partitionBy("l_partkey"))
    return (
        costs.withColumn("best_cost", best)
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor (SURVEY §2.13 X3 scale path), FULLY
# oracle-verified. The coarse quantizer is pure seeded numpy over a
# deterministic ORDER BY vec_id sample, so the oracle generator refits the
# IDENTICAL centroids (same shared fit_centroids, same sample rows, same
# order) by reading the gate's parquet with DuckDB — and embeds them as
# literals, exactly like the hyperplane-LSH oracle embeds its planes. Cell
# assignment, probe routing, and cosine scoring all fold in element order
# on both engines (the bit-identical pattern proven by
# embedding_cosine_topk), so the whole ANN pipeline hash-matches. Recall
# vs the exact top-k is additionally pinned in
# tests/test_dedup_similarity_text.py.
# ---------------------------------------------------------------------------

_IVF_CONF = {"n_cells": 16, "max_iter": 8, "seed": 42, "fit_sample": 100_000,
             "k": 10, "nprobe": 6}


def _ivf_oracle_centroids() -> list[list[float]]:
    """Refit the query's centroids from the correctness-gate parquet.

    Reads the SAME rows in the SAME order the Spark query samples
    (ORDER BY vec_id LIMIT fit_sample) and runs the SAME pure-numpy
    Lloyd's — bit-identical output. The gate scale factor is pinned by
    SPARK_GRAFT_TEST_SF_DIR (default sf0.01, the driver's compare scale).
    """
    import os

    import duckdb
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import fit_centroids

    sf_dir = _gate_sf_dir()
    con = duckdb.connect()
    try:
        rows = con.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT {_IVF_CONF['fit_sample']}"
        ).fetchall()
    finally:
        con.close()
    mat = np.array([r[0] for r in rows], dtype="float64")
    return fit_centroids(
        mat, _IVF_CONF["n_cells"], _IVF_CONF["max_iter"], _IVF_CONF["seed"]
    ).tolist()


_IVF_CENT_CACHE: dict[str, list] = {}


def _ivf_oracle_parts() -> tuple[str, "Callable[[str, str], str]"]:
    """Shared oracle fragments for every IVF-centroid-based query: the
    `cells` + `corpus` CTE text (cell-tagged embeddings, identical bits to
    the Spark `assign='fold'` plan) and a cosine-expression builder.
    Centroids are refit (and cached) PER gate sf_dir — the literals must
    come from the same scale the comparison runs at."""
    from iceberg_quickstart_iac_spark.operators.similarity import centroid_sq_norms

    sf_dir = _gate_sf_dir()
    if sf_dir not in _IVF_CENT_CACHE:
        _IVF_CENT_CACHE[sf_dir] = _ivf_oracle_centroids()
    cents = _IVF_CENT_CACHE[sf_dir]
    sq = centroid_sq_norms(cents)

    def arr(c: list[float]) -> str:
        # string→DOUBLE casts: exact literal parse (see the PQ oracle note)
        return (
            "CAST([" + ", ".join("'" + repr(float(x)) + "'" for x in c)
            + "] AS DOUBLE[])"
        )

    cell_structs = ", ".join(
        "{'cell': %d, 'cv': %s, 'c2': CAST('%s' AS DOUBLE)}"
        % (i, arr(c), repr(float(s)))
        for i, (c, s) in enumerate(zip(cents, sq))
    )
    dot = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )

    def cos(a: str, b: str) -> str:
        return (
            f"{dot.format(a=a, b=b)} / (sqrt({dot.format(a=a, b=a)}) "
            f"* sqrt({dot.format(a=b, b=b)}))"
        )

    # d² via the same ‖v‖² − 2·v·c + ‖c‖² expansion the Spark plan folds:
    # vn2 computed once per row, dot folded in element order, ‖c‖² a
    # shared literal — identical expression tree, identical bits
    d2 = (
        "vn2 - 2.0 * list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), u.cv), "
        "p -> p[1] * p[2])) + u.c2"
    )
    corpus_cte = f"""cells(u) AS (SELECT unnest([{cell_structs}])),
    corpus AS (
      SELECT vec_id, embedding,
             (SELECT u.cell FROM cells ORDER BY {d2}, u.cell LIMIT 1) AS cell
      FROM (
        SELECT vec_id, embedding,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS vn2
        FROM embeddings
      )
    )"""
    return corpus_cte, cos


def _ivf_oracle_sql() -> str:
    corpus_cte, cos = _ivf_oracle_parts()
    return f"""
    WITH {corpus_cte}, q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), routed AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, u.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {cos("qv", "u.cv")} DESC, u.cell
               ) AS cr
        FROM q, cells
      ) WHERE cr <= {_IVF_CONF["nprobe"]}
    ), scored AS (
      SELECT r.query_id, c.vec_id,
             {cos("c.embedding", "r.qv")} AS cosine
      FROM corpus c JOIN routed r ON c.cell = r.cell
    )
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_IVF_CONF["k"]}
    ORDER BY query_id, rank
    """


def _ann_recall_oracle_sql() -> str:
    corpus_cte, cos = _ivf_oracle_parts()
    return f"""
    WITH {corpus_cte}, q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), routed AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, u.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {cos("qv", "u.cv")} DESC, u.cell
               ) AS cr
        FROM q, cells
      ) WHERE cr <= {_IVF_CONF["nprobe"]}
    ), ivf_hits AS (
      SELECT query_id, vec_id FROM (
        SELECT r.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY r.query_id
                 ORDER BY {cos("c.embedding", "r.qv")} DESC, c.vec_id
               ) AS rank
        FROM corpus c JOIN routed r ON c.cell = r.cell
      ) WHERE rank <= {_IVF_CONF["k"]}
    ), exact_hits AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos("c.embedding", "q.qv")} DESC, c.vec_id
               ) AS rank
        FROM corpus c, q
      ) WHERE rank <= {_IVF_CONF["k"]}
    )
    SELECT e.query_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_found,
           CAST(COUNT(i.vec_id) AS DOUBLE) / {_IVF_CONF["k"]} AS recall_at_k
    FROM exact_hits e
    LEFT JOIN ivf_hits i
      ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


# ---------------------------------------------------------------------------
# ANN serving-quality audit (round 9): recall@k of the IVF tier against
# the exact brute-force ground truth, per query, in ONE catalog entry —
# the dashboard a serving owner watches when tuning nprobe/n_cells.
# Both sides are deterministic (seeded fit, fold assignment, vec_id tie
# breaks), so the DuckDB oracle replays approximate AND exact paths and
# the recall numbers hash-match exactly.
# ---------------------------------------------------------------------------


@query("embedding_ann_recall_audit", oracle=_ann_recall_oracle_sql)
def embedding_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    tagged, centroids = ivf_index(
        emb,
        n_cells=_IVF_CONF["n_cells"],
        max_iter=_IVF_CONF["max_iter"],
        seed=_IVF_CONF["seed"],
        fit_sample=_IVF_CONF["fit_sample"],
        order_col="vec_id",
        assign="fold",
    )
    ivf_hits = ivf_topk(
        tagged, centroids, queries_df,
        k=_IVF_CONF["k"], nprobe=_IVF_CONF["nprobe"],
    ).select("query_id", "vec_id")
    exact_hits = cosine_topk(emb, queries_df, k=_IVF_CONF["k"]).select(
        "query_id", "vec_id"
    )
    return (
        exact_hits.alias("e")
        .join(
            ivf_hits.alias("i"),
            (F.col("e.query_id") == F.col("i.query_id"))
            & (F.col("e.vec_id") == F.col("i.vec_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(
            F.count(F.col("i.vec_id")).alias("n_found"),
            (
                F.count(F.col("i.vec_id")).cast("double")
                / F.lit(_IVF_CONF["k"])
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def _cluster_sample_oracle_sql() -> str:
    corpus_cte, _ = _ivf_oracle_parts()
    return f"""
    WITH {corpus_cte}
    SELECT cell, vec_id, sample_rank FROM (
      SELECT cell, vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY cell
               ORDER BY (vec_id * 2654435761) % 4294967296, vec_id
             ) AS sample_rank
      FROM corpus
    ) WHERE sample_rank <= 10
    ORDER BY cell, sample_rank
    """


# ---------------------------------------------------------------------------
# Cluster-balanced sampling (round 9; SURVEY §2.13 X3×X24 composition):
# diversity-balanced corpus subsetting — k-means cells over the embedding
# space act as LEARNED strata, then an exact-k deterministic draw per
# cell. The pretraining-data shape: a uniform corpus draw over-samples
# the dense embedding regions; sampling per cluster keeps the tails.
# Reuses the IVF fold assignment (the generated-centroid oracle replays
# it bit-exactly) and the Knuth-hash stratified draw.
# ---------------------------------------------------------------------------


@query("embedding_cluster_balanced_sample", oracle=_cluster_sample_oracle_sql)
def embedding_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.sampling import (
        stratified_sample,
    )
    from iceberg_quickstart_iac_spark.operators.similarity import ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    tagged, _centroids = ivf_index(
        emb,
        n_cells=_IVF_CONF["n_cells"],
        max_iter=_IVF_CONF["max_iter"],
        seed=_IVF_CONF["seed"],
        fit_sample=_IVF_CONF["fit_sample"],
        order_col="vec_id",
        assign="fold",
    )
    return (
        stratified_sample(tagged.select("vec_id", "cell"), ["cell"], 10, "vec_id")
        .select("cell", "vec_id", "sample_rank")
        .orderBy("cell", "sample_rank")
    )


@query("embedding_ann_ivf", oracle=_ivf_oracle_sql)
def embedding_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import ivf_index, ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    tagged, centroids = ivf_index(
        emb,
        n_cells=_IVF_CONF["n_cells"],
        max_iter=_IVF_CONF["max_iter"],  # recall flat past ~8 iters
        seed=_IVF_CONF["seed"],
        fit_sample=_IVF_CONF["fit_sample"],
        order_col="vec_id",   # replayable fit sample (ORDER BY vec_id LIMIT n)
        assign="fold",        # element-order assignment an oracle can replay
    )
    return ivf_topk(
        tagged, centroids, queries_df, k=_IVF_CONF["k"], nprobe=_IVF_CONF["nprobe"]
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Product-quantization ANN (SURVEY §2.13 X3 extension; FAISS IVF-PQ's
# compression half, Jégou et al. TPAMI 2011): 64-dim float vectors
# compress to m=8 one-byte codes (32x), queries score the compressed
# corpus via ADC table lookups — no decompression. The Spark query uses
# the fold paths (element-order float accumulation) so the oracle can
# replay encode + ADC bit-exactly: codebooks refit from the gate parquet
# by the same pure-numpy k-means (cached per sf_dir, lazily), distance
# tables shared as python-float literals on both sides.
# ---------------------------------------------------------------------------

_PQ_CONF = {
    "m": 8,
    "n_codes": 16,
    "max_iter": 8,
    "seed": 7,
    "fit_sample": 100_000,
    "k": 10,
    "n_queries": 4,
}

_PQ_BOOK_CACHE: dict[str, list] = {}


def _pq_oracle_books_and_queries() -> tuple[list, list]:
    """Refit the query's codebooks from the correctness-gate parquet (same
    rows, same order, same seeded numpy — bit-identical to the Spark
    query's fit) and fetch the fixed query vectors. Cached per sf_dir."""
    import duckdb
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import fit_centroids

    sf_dir = _gate_sf_dir()
    if sf_dir not in _PQ_BOOK_CACHE:
        con = duckdb.connect()
        try:
            rows = con.sql(
                f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
                f"ORDER BY vec_id LIMIT {_PQ_CONF['fit_sample']}"
            ).fetchall()
            qrows = con.sql(
                f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
                f"WHERE vec_id < {_PQ_CONF['n_queries']} ORDER BY vec_id"
            ).fetchall()
        finally:
            con.close()
        mat = np.array([r[0] for r in rows], dtype="float64")
        dim = mat.shape[1]
        m = _PQ_CONF["m"]
        sub = dim // m
        books = [
            fit_centroids(
                mat[:, j * sub : (j + 1) * sub],
                _PQ_CONF["n_codes"],
                _PQ_CONF["max_iter"],
                _PQ_CONF["seed"] + j,
            ).tolist()
            for j in range(m)
        ]
        _PQ_BOOK_CACHE[sf_dir] = (
            books,
            [(int(q[0]), [float(x) for x in q[1]]) for q in qrows],
        )
    return _PQ_BOOK_CACHE[sf_dir]


def _pq_oracle_sql() -> str:
    from iceberg_quickstart_iac_spark.operators.similarity import (
        adc_tables,
        centroid_sq_norms,
    )

    books, queries = _pq_oracle_books_and_queries()
    tables = adc_tables(books, [qv for _, qv in queries])
    m = len(books)
    sub = len(books[0][0])

    def arr(c) -> str:
        # string→DOUBLE casts: DuckDB's numeric-literal path types plain
        # decimals as DECIMAL and its conversion can land 1 ulp off the
        # correctly-rounded double; the VARCHAR→DOUBLE cast is exact, so
        # the literals match python/Spark bit-for-bit
        return (
            "CAST(["
            + ", ".join("'" + repr(float(x)) + "'" for x in c)
            + "] AS DOUBLE[])"
        )

    def dbl(x) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    cb_ctes = []
    sub_cols = []
    code_cols = []
    for j in range(m):
        structs = ", ".join(
            "{'code': %d, 'cv': %s, 'c2': %s}" % (i, arr(c), dbl(s))
            for i, (c, s) in enumerate(zip(books[j], centroid_sq_norms(books[j])))
        )
        cb_ctes.append(f"cb{j}(u) AS (SELECT unnest([{structs}]))")
        lo, hi = j * sub + 1, (j + 1) * sub
        sub_cols.append(
            f"CAST(embedding[{lo}:{hi}] AS DOUBLE[]) AS sv{j}, "
            f"list_sum(list_transform(CAST(embedding[{lo}:{hi}] AS DOUBLE[]), "
            f"x -> x * x)) AS vn{j}"
        )
        code_cols.append(
            f"(SELECT u.code FROM cb{j} ORDER BY vn{j} - 2.0 * "
            f"list_sum(list_transform(list_zip(sv{j}, u.cv), p -> p[1] * p[2]))"
            f" + u.c2, u.code LIMIT 1) AS c{j}"
        )
    scored_arms = []
    for (qid, _), per_q in zip(queries, tables):
        terms = " + ".join(
            f"list_extract({arr(per_q[j])}, c{j} + 1)" for j in range(m)
        )
        scored_arms.append(
            f"SELECT vec_id, {qid} AS query_id, {terms} AS adc_d2 FROM enc"
        )
    return f"""
    WITH {', '.join(cb_ctes)},
    enc AS (
      SELECT vec_id, {', '.join(code_cols)}
      FROM (SELECT vec_id, {', '.join(sub_cols)} FROM embeddings)
    ),
    scored AS ({' UNION ALL '.join(scored_arms)})
    SELECT query_id, vec_id, adc_d2, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_CONF["k"]}
    ORDER BY query_id, rank
    """


@query("embedding_pq_topk", oracle=_pq_oracle_sql)
def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(
        emb,
        m=_PQ_CONF["m"],
        n_codes=_PQ_CONF["n_codes"],
        max_iter=_PQ_CONF["max_iter"],
        seed=_PQ_CONF["seed"],
        fit_sample=_PQ_CONF["fit_sample"],
        order_col="vec_id",  # replayable fit sample
    )
    encoded = pq_encode(emb, books, assign="fold")  # oracle-replayable codes
    qrows = (
        emb.filter(F.col("vec_id") < _PQ_CONF["n_queries"])
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    queries_list = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    return pq_adc_topk(encoded, books, queries_list, k=_PQ_CONF["k"]).orderBy(
        "query_id", "rank"
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed funnel (the full FAISS pipeline): route each query to
# its nprobe nearest IVF cells (L2, pure-python folds on the driver —
# queries are a bounded broadcast set), then ADC over PQ codes ONLY
# within probed cells. Candidate volume = (nprobe/n_cells) × corpus per
# query; nothing decompressed. The oracle re-derives routing RELATIONALLY
# (rank cells per query in SQL), re-encodes via the shared codebook
# literals, and re-scores the probed cells — the composed analog of the
# two parent oracles.
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 6


def _ivfpq_oracle_sql() -> str:
    from iceberg_quickstart_iac_spark.operators.similarity import (
        adc_tables,
        centroid_sq_norms,
    )

    books, queries = _pq_oracle_books_and_queries()
    sf_dir = _gate_sf_dir()
    if sf_dir not in _IVF_CENT_CACHE:
        _IVF_CENT_CACHE[sf_dir] = _ivf_oracle_centroids()
    cents = _IVF_CENT_CACHE[sf_dir]
    tables = adc_tables(books, [qv for _, qv in queries])
    m = len(books)
    sub = len(books[0][0])

    def arr(c) -> str:
        return (
            "CAST(["
            + ", ".join("'" + repr(float(x)) + "'" for x in c)
            + "] AS DOUBLE[])"
        )

    def dbl(x) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    cell_structs = ", ".join(
        "{'cell': %d, 'cv': %s, 'c2': %s}" % (i, arr(c), dbl(s))
        for i, (c, s) in enumerate(zip(cents, centroid_sq_norms(cents)))
    )
    cb_ctes, sub_cols, code_cols = [], [], []
    for j in range(m):
        structs = ", ".join(
            "{'code': %d, 'cv': %s, 'c2': %s}" % (i, arr(c), dbl(s))
            for i, (c, s) in enumerate(zip(books[j], centroid_sq_norms(books[j])))
        )
        cb_ctes.append(f"cb{j}(u) AS (SELECT unnest([{structs}]))")
        lo, hi = j * sub + 1, (j + 1) * sub
        sub_cols.append(
            f"CAST(embedding[{lo}:{hi}] AS DOUBLE[]) AS sv{j}, "
            f"list_sum(list_transform(CAST(embedding[{lo}:{hi}] AS DOUBLE[]), "
            f"x -> x * x)) AS vn{j}"
        )
        code_cols.append(
            f"(SELECT u.code FROM cb{j} ORDER BY vn{j} - 2.0 * "
            f"list_sum(list_transform(list_zip(sv{j}, u.cv), p -> p[1] * p[2]))"
            f" + u.c2, u.code LIMIT 1) AS c{j}"
        )
    zipdot = "list_sum(list_transform(list_zip({a}, u.cv), p -> p[1] * p[2]))"
    scored_arms = []
    for (qid, _), per_q in zip(queries, tables):
        terms = " + ".join(
            f"list_extract({arr(per_q[j])}, e.c{j} + 1)" for j in range(m)
        )
        scored_arms.append(
            f"SELECT e.vec_id, {qid} AS query_id, {terms} AS adc_d2 "
            f"FROM enc e JOIN routed r ON r.query_id = {qid} AND e.cell = r.cell"
        )
    return f"""
    WITH cells(u) AS (SELECT unnest([{cell_structs}])),
    {', '.join(cb_ctes)},
    base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
             list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x)) AS vnf,
             {', '.join(sub_cols)}
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id,
             (SELECT u.cell FROM cells
              ORDER BY vnf - 2.0 * {zipdot.format(a='ev')} + u.c2, u.cell
              LIMIT 1) AS cell,
             {', '.join(code_cols)}
      FROM base
    ),
    q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
             list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> x * x)) AS qn
      FROM embeddings WHERE vec_id < {_PQ_CONF["n_queries"]}
    ),
    routed AS (
      SELECT query_id, cell FROM (
        SELECT q.query_id, u.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY q.qn - 2.0 *
                   list_sum(list_transform(list_zip(q.qv, u.cv),
                                           p -> p[1] * p[2])) + u.c2,
                   u.cell
               ) AS cr
        FROM q, cells
      ) WHERE cr <= {_IVFPQ_NPROBE}
    ),
    scored AS ({' UNION ALL '.join(scored_arms)})
    SELECT query_id, vec_id, adc_d2, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_PQ_CONF["k"]}
    ORDER BY query_id, rank
    """


@query("embedding_ivfpq_topk", oracle=_ivfpq_oracle_sql)
def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serves from a PERSISTED index (fit-once/load-many, the production
    ANN shape — operators/ann_index.py): the first run per (sf_dir,
    config) trains IVF centroids + PQ codebooks from one shared sample
    and materializes (vec_id, cell, codes) partitioned by cell; every
    later run loads the model from the index table's properties and
    ADC-scores the stored codes — no fit, no encode. Deterministic
    seeded fits make the persisted index bit-identical to a refit, which
    is why the DuckDB oracle (which refits from raw parquet) still
    replays it exactly."""
    import hashlib
    import tempfile
    from pathlib import Path

    from iceberg_quickstart_iac_spark.operators.ann_index import (
        load_or_build_ivfpq_index,
    )
    from iceberg_quickstart_iac_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    conf = {
        "n_cells": _IVF_CONF["n_cells"], "m": _PQ_CONF["m"],
        "n_codes": _PQ_CONF["n_codes"],
        "ivf_max_iter": _IVF_CONF["max_iter"],
        "pq_max_iter": _PQ_CONF["max_iter"],
        "ivf_seed": _IVF_CONF["seed"], "pq_seed": _PQ_CONF["seed"],
        "fit_sample": _IVF_CONF["fit_sample"], "assign": "fold",
    }
    key = hashlib.md5(
        json.dumps({**conf, "sf_dir": str(Path(sf_dir).resolve())},
                   sort_keys=True).encode()
    ).hexdigest()[:12]
    root = Path(tempfile.gettempdir()) / f"sgraft_ann_ivfpq_{key}"
    t, centroids, books = load_or_build_ivfpq_index(spark, emb, root, **conf)
    qrows = (
        emb.filter(F.col("vec_id") < _PQ_CONF["n_queries"])
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    queries_list = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    return ivfpq_topk(
        t.read(spark), centroids, books, queries_list,
        k=_PQ_CONF["k"], nprobe=_IVFPQ_NPROBE,
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Bucketed range join (SURVEY §2.3 extension): follow-up events within one
# hour of an anchor event by the same user — the interval-join shape OSS
# Spark would otherwise plan as a per-key near-cartesian product.
# ---------------------------------------------------------------------------


@query(
    "event_followup_pairs",
    oracle="""
    SELECT a.event_type AS type_a,
           b.event_type AS type_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS total_gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY type_a, type_b
    ORDER BY type_a, type_b
    """,
)
def event_followup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor type, follow-up type) pair counts + total gap for same-user
    events <= 1 hour apart. The strict lower bound rides in as lo = ts+1µs
    (timestamps are µs precision); gaps sum exactly as int64 µs.

    DENSITY-BOUND CONTRACT (r14, from this entry's OWN r13 sweep): the
    bucketed range join enumerates Ω(pairs) per dense (user, hour-bucket)
    cell on a single shuffle task — measured α 1.22 (2.15 s → 63.5 s,
    29.5× time for 8.5× data) at 16× bot-key density on the hot-pair
    axis. BOUND: this entry is for human-key densities (bounded
    events per user per hour), where the candidate volume is linear and
    the join is the cheaper plan on benign data (~0.8 s vs 1.54 s at
    sf0.1). Dense/bot-key workloads must use the join-free exact
    equivalent ``event_followup_pairs_rollup`` (identical oracle, zero
    joins, α −0.02 on the same bot axis). See also
    ``operators.rangejoin.range_join``'s contract."""
    from iceberg_quickstart_iac_spark.operators.rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    points = ev.select("user_id", F.col("event_type").alias("type_b"), F.col("ts").alias("ts_b"))
    anchors = ev.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("ts_a"),
        F.timestamp_micros(F.unix_micros("ts") + 1).alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
    )
    return (
        range_join(points, anchors, ["user_id"], "ts_b", "lo", "hi", bucket_s=3600)
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.unix_micros("ts_b") - F.unix_micros("ts_a")).alias("total_gap_us"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Skew-hardened follow-up pair rollup (round 13).
#
# `event_followup_pairs` above joins events to events through the bucketed
# range join — correct, but the number of CANDIDATE PAIRS for one key is
# quadratic in that key's density (f× events in the same hour span → f²
# pairs), and all of a (user, hour-bucket) cell's pair products land on one
# shuffle task. The r13 dense-key sweep measures that straggler directly.
#
# This variant computes the IDENTICAL aggregate (exact pair counts + exact
# total gap) with ZERO joins and no pair materialization, by decomposing
# on HOUR-ALIGNED blocks hb = floor(t / 1h), r = t mod 1h: a qualifying
# pair (0 < t_b − t_a <= 1h) has block distance 0 or 1 by construction,
# and each band is a pure prefix condition on r:
#
#   same block      — gap = r_b − r_a; qualifies iff r_b > r_a (strict):
#                     a GROWING window per (key, block) ordered by r
#                     (RANGE .. −1 µs — incremental, never a sliding
#                     lower bound) yields each event's per-type prefix
#                     counts and r-sums; per event b and anchor type τ:
#                       n += cnt_τ,  gaps += r_b·cnt_τ − Σr_τ
#   adjacent blocks — gap = 1h + r_b − r_a; qualifies iff r_b <= r_a
#                     (equality IS the inclusive 1h boundary): union
#                     block-hb a-rows keyed to block hb+1 with that
#                     block's b-rows and run the symmetric growing
#                     window on −r;  gaps += cnt_τ·(1h + r_b) − Σr_τ
#   distance >= 2   — gap > 1h, never qualifies.
#
# Per-key cost: O(events · T) window work, two shuffles (the two window
# partitionings), ZERO joins. A bot key degrades to one LINEAR task per
# hot hour — never a quadratic cell. (The first r13 cut decomposed at
# MINUTE grain with a d∈[1,59] cell join; its 59× explode cost 14× the
# naive join on the benign axis — 72.8 s vs 1.5 s at 10× rel — so the
# hour-block form replaced it before certification.) The per-type prefix
# columns are generated from the distinct event types — a dimension-like
# driver collect, limit-bounded and loudly guarded at 64 distinct values
# (r14: the result grain is type×type, so anything beyond dimension
# cardinality is a misuse and raises instead of exploding the plan). Gap
# accumulation uses DECIMAL(38,0) (µs sums overflow int64 at ~1e19) and
# casts the exact total back to BIGINT. The oracle is the NAIVE pair
# join — DuckDB verifies the decomposition against first principles.
# ---------------------------------------------------------------------------

_HOUR_US = 3_600_000_000
_D38 = "decimal(38,0)"


@query(
    "event_followup_pairs_rollup",
    oracle="""
    SELECT a.event_type AS type_a,
           b.event_type AS type_b,
           COUNT(*) AS n_pairs,
           CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS total_gap_us
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY type_a, type_b
    ORDER BY type_a, type_b
    """,
)
def event_followup_pairs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    return followup_pair_rollup(ev, "user_id", "event_type", "ts")


#: cardinality bound for :func:`followup_pair_rollup`'s anchor-type axis.
#: The result grain is T×T and every row carries a T-struct prefix array,
#: so the helper is only meaningful for dimension-cardinality type
#: columns; beyond this bound the plan is a silent O(rows·T) blowup and
#: the repo's convention is a loud reject instead.
_ROLLUP_MAX_TYPES = 64


def followup_pair_rollup(
    ev: DataFrame, key: str, typ: str, ts: str, max_types: int = _ROLLUP_MAX_TYPES
) -> DataFrame:
    """Exact (type_a, type_b) follow-up pair counts + total gap for
    same-key pairs 0 < gap <= 1h — ZERO joins, zero pair
    materialization, two growing-window passes.

    Preconditions (both enforced loudly): the ``typ`` column must be
    non-null on every row (the naive pair join the DuckDB oracle runs
    WOULD pair null-typed rows, so silently dropping them here would
    diverge — callers with nullable type columns must filter or fill
    first), and its distinct cardinality must not exceed ``max_types``
    (default 64): the result grain is T×T and each input row carries a
    T-struct prefix array, so high-cardinality type columns are a
    misuse, not a workload.

    Decompose on HOUR-ALIGNED blocks hb = floor(t / 1h), r = t mod 1h:
    a qualifying pair's block distance is 0 or 1 by construction
    (0 < t_b − t_a <= 1h bounds floor(t_b/H) − floor(t_a/H) to {0, 1}),
    and each band is a pure prefix condition on the intra-block offset:

      same block      gap = r_b − r_a      qualifies iff r_b > r_a
      adjacent blocks gap = 1h + r_b − r_a qualifies iff r_b <= r_a
                      (equality = the inclusive 1h boundary exactly)

    Both bands reduce to per-type prefix counts/offset-sums under a
    GROWING window frame (unbounded preceding — incremental in Spark,
    never the sliding lower bound that made the event-grain RANGE frame
    quadratic). Per-key work is O(events · T) with the per-(key, block)
    partition spreading across reducers; a bot key degrades to one
    LINEAR task per hot hour, never a quadratic cell. This supersedes
    the first r13 cut (minute cells + a d∈[1,59] cell join): its 59×
    explode cost 14× the naive join on the BENIGN axis (72.8 s vs 1.5 s
    at 10×, rel sweep) — the hour-block form deletes the join entirely.
    """
    # Block decomposition in EXACT integer arithmetic: r = pmod(t, H) is
    # non-negative by definition and t − r is a multiple of H, so the
    # long `div` is exact and hb·H + r == t holds for EVERY timestamp —
    # including pre-1970 (negative t, where a truncating cast is not
    # floor) and far-future values past 2^53 µs (where double division
    # can bump the quotient across an integer).
    t = F.unix_micros(F.col(ts))
    base = (
        ev.select(
            F.col(key).alias("k"),
            F.col(typ).alias("tp"),
            t.alias("tus"),
            F.pmod(t, F.lit(_HOUR_US)).alias("r"),
        )
        .withColumn("hb", F.expr(f"(tus - r) div {_HOUR_US}"))
        .drop("tus")
    )

    # The anchor-type axis for the prefix windows: dimension-like collect,
    # BOUNDED before it reaches the driver — limit(max_types + 1) caps the
    # collected rows (CollectLimit), and exceeding the bound or a NULL
    # type raises instead of silently building an O(rows·T) plan /
    # dropping anchors the naive-join oracle would pair.
    rows = base.select("tp").distinct().limit(max_types + 1).collect()
    if any(row.tp is None for row in rows):
        raise ValueError(
            f"followup_pair_rollup: column {typ!r} contains NULLs; the "
            "naive pair-join semantics this helper reproduces would pair "
            "null-typed rows — filter or fill them explicitly first"
        )
    if len(rows) > max_types:
        raise ValueError(
            f"followup_pair_rollup: column {typ!r} has more than "
            f"{max_types} distinct values; the result grain is T×T and "
            "every row carries a T-struct prefix array, so this helper is "
            "for dimension-cardinality type columns (raise max_types "
            "explicitly if the blowup is intended)"
        )
    types = sorted(row.tp for row in rows)

    rdec = F.col("r").cast(_D38)

    # ---- same block: strict order via a growing window on r ------------
    w0 = (
        W.partitionBy("k", "hb")
        .orderBy("r")
        .rangeBetween(W.unboundedPreceding, -1)
    )
    prefix0 = base.select(
        "tp",
        rdec.alias("rd"),
        F.array(
            *(
                F.struct(
                    F.lit(tv).alias("ta"),
                    F.sum(F.when(F.col("tp") == tv, 1).otherwise(0))
                    .over(w0)
                    .alias("cnt"),
                    F.sum(F.when(F.col("tp") == tv, rdec)).over(w0).alias("sr"),
                )
                for tv in types
            )
        ).alias("pre"),
    )
    band0 = (
        prefix0.select("tp", "rd", F.explode("pre").alias("p"))
        .filter(F.col("p.cnt") > 0)
        .select(
            F.col("p.ta").alias("type_a"),
            F.col("tp").alias("type_b"),
            F.col("p.cnt").alias("n"),
            (
                F.col("rd") * F.col("p.cnt").cast(_D38)
                - F.coalesce(F.col("p.sr"), F.lit(0).cast(_D38))
            ).alias("g"),
        )
    )

    # ---- adjacent blocks: the inclusive 1h boundary (r_b <= r_a) -------
    # union a-rows keyed to the NEXT block with b-rows keyed to their own;
    # a growing window on −r then yields, per b-row, the a-side prefix
    # with r_a >= r_b (RANGE + currentRow keeps ties, so r_b == r_a — the
    # exact-1h pair — is included)
    adj = base.select(
        "k",
        "tp",
        "r",
        F.lit(1).alias("is_a"),
        (F.col("hb") + 1).alias("j"),
    ).unionByName(
        base.select(
            "k", "tp", "r", F.lit(0).alias("is_a"), F.col("hb").alias("j")
        )
    )
    w1 = (
        W.partitionBy("k", "j")
        .orderBy(F.col("neg_r"))
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    prefix1 = adj.withColumn("neg_r", -F.col("r")).select(
        "tp",
        "is_a",
        rdec.alias("rd"),
        F.array(
            *(
                F.struct(
                    F.lit(tv).alias("ta"),
                    F.sum(
                        F.when((F.col("tp") == tv) & (F.col("is_a") == 1), 1)
                        .otherwise(0)
                    )
                    .over(w1)
                    .alias("cnt"),
                    F.sum(
                        F.when(
                            (F.col("tp") == tv) & (F.col("is_a") == 1), rdec
                        )
                    )
                    .over(w1)
                    .alias("sr"),
                )
                for tv in types
            )
        ).alias("pre"),
    )
    band1 = (
        prefix1.filter(F.col("is_a") == 0)
        .select("tp", "rd", F.explode("pre").alias("p"))
        .filter(F.col("p.cnt") > 0)
        .select(
            F.col("p.ta").alias("type_a"),
            F.col("tp").alias("type_b"),
            F.col("p.cnt").alias("n"),
            (
                (F.lit(_HOUR_US).cast(_D38) + F.col("rd"))
                * F.col("p.cnt").cast(_D38)
                - F.coalesce(F.col("p.sr"), F.lit(0).cast(_D38))
            ).alias("g"),
        )
    )

    return (
        band0.unionByName(band1)
        .groupBy("type_a", "type_b")
        .agg(
            F.sum("n").alias("n_pairs"),
            F.sum("g").cast("long").alias("total_gap_us"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Hypertable-style continuous aggregate (SURVEY §2.5/§2.9 extension): one
# pass produces every time grain (minute ⊂ hour ⊂ day ⊂ total) via ROLLUP —
# the batch form of a multi-resolution materialized rollup.
# ---------------------------------------------------------------------------


@query(
    "event_time_hierarchy_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(minute_b) = 0 THEN 'minute'
                WHEN GROUPING(hour_b)   = 0 THEN 'hour'
                WHEN GROUPING(day_b)    = 0 THEN 'day'
                ELSE 'total' END AS grain,
           CAST(epoch_us(day_b)    AS BIGINT) AS day_us,
           CAST(epoch_us(hour_b)   AS BIGINT) AS hour_us,
           CAST(epoch_us(minute_b) AS BIGINT) AS minute_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT value,
             date_trunc('day', ts)    AS day_b,
             date_trunc('hour', ts)   AS hour_b,
             date_trunc('minute', ts) AS minute_b
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-20' AND ts < TIMESTAMP '2024-01-22'
    ) t
    GROUP BY ROLLUP (day_b, hour_b, minute_b)
    ORDER BY grain, day_us NULLS FIRST, hour_us NULLS FIRST, minute_us NULLS FIRST
    """,
)
def event_time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minute/hour/day/total aggregates in ONE aggregation pass (ROLLUP
    expands the grouping sets; partial aggregation still combines map-side).
    The scale path for \"keep every resolution materialized\": at 100 TB
    this replaces 3 separate scans with one, and the output is exactly the
    multi-grain table a serving layer reads with grain = filter."""
    ev = load_table(spark, sf_dir, "events", events_ts_at_least="2024-01-20").filter(
        F.col("ts") < F.lit("2024-01-22").cast("timestamp")
    )
    day_b = F.date_trunc("day", F.col("ts"))
    hour_b = F.date_trunc("hour", F.col("ts"))
    minute_b = F.date_trunc("minute", F.col("ts"))
    grain = (
        F.when(F.grouping(minute_b) == 0, "minute")
        .when(F.grouping(hour_b) == 0, "hour")
        .when(F.grouping(day_b) == 0, "day")
        .otherwise("total")
    )
    return (
        ev.rollup(day_b, hour_b, minute_b)
        .agg(
            grain.alias("grain"),
            F.unix_micros(day_b).alias("day_us"),
            F.unix_micros(hour_b).alias("hour_us"),
            F.unix_micros(minute_b).alias("minute_us"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "sum_value"),
        )
        .select("grain", "day_us", "hour_us", "minute_us", "n_events", "sum_value")
        .orderBy("grain", F.asc_nulls_first("day_us"), F.asc_nulls_first("hour_us"),
                 F.asc_nulls_first("minute_us"))
    )


# ---------------------------------------------------------------------------
# Row-level governance (SURVEY §2.11 G1 row tier): the reader-session scan
# with row policies applied — predicates reach the parquet scan exactly
# like user filters (tests/test_governance.py asserts PushedFilters).
# ---------------------------------------------------------------------------


@query(
    "row_policy_events",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE value >= 0 AND event_type <> 'error'
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def row_policy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.governance.access import read_with_row_policies

    ev = load_table(spark, sf_dir, "events")
    governed = read_with_row_policies(
        ev,
        {"non_negative_value": "value >= 0", "no_error_rows": "event_type <> 'error'"},
        table="events",
    )
    return (
        governed.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q11 shape (partsupp value → supplier-nation revenue share): groups kept
# only if they exceed a fraction of the GLOBAL total. The global scalar is
# a 1-row aggregate over the 25-row nation aggregate, broadcast-joined
# back — one pass over the fact table, no second scan, no driver
# round-trip, and no empty-partition window (the earlier window form was
# harmless on 25 rows but planned a single-partition WindowExec and was
# the catalog's last source of Spark's No-Partition-Defined warning).
# ---------------------------------------------------------------------------


@query(
    "q11_top_nation_share",
    oracle="""
    WITH nation_value AS (
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
               AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, value
    FROM nation_value
    WHERE value > (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 0.04 FROM nation_value
    )
    ORDER BY value DESC, n_name
    """,
)
def q11_top_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier nations holding > 4% of global line revenue. The decimal
    re-sum of the per-nation doubles keeps the global threshold bit-equal
    across engines; the nation aggregate is materialized once and feeds
    both the scalar total (broadcast back) and the filter."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    nation_value = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), "value"))
        .localCheckpoint()  # 25 rows; feeds the scalar AND the filter
    )
    total = nation_value.agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("__total")
    )
    return (
        nation_value.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("__total") * F.lit(0.04))
        .select("n_name", "value")
        .orderBy(F.desc("value"), "n_name")
    )


# ---------------------------------------------------------------------------
# Multimodal pipeline (SURVEY §2.13 X5): documents deterministically wrapped
# as media rows (binary payload + typed metadata), run through the REAL
# operators — attach_byte_metadata and the sample_frames fan-out — with the
# byte/frame arithmetic replicated in SQL for the oracle.
# ---------------------------------------------------------------------------


@query(
    "multimodal_media_stats",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n_bytes,
             ['image/png', 'audio/wav', 'video/mp4'][CAST(doc_id % 3 AS INT) + 1]
               AS mime_type
      FROM documents
    )
    SELECT mime_type,
           COUNT(*) AS n_media,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(CASE WHEN mime_type = 'video/mp4'
                         THEN (n_bytes % 10000) // 1000 + 1 ELSE 0 END) AS BIGINT)
             AS n_frames
    FROM media
    GROUP BY mime_type
    ORDER BY mime_type
    """,
)
def multimodal_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mime corpus stats + video frame-sampling volume. The frame count
    comes from the actual sample_frames posexplode (1 frame/s of synthetic
    duration = n_bytes % 10000 ms), not from arithmetic — the oracle does
    the arithmetic, pinning the fan-out's row-count semantics."""
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        attach_byte_metadata,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    mimes = F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4"))
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("content"),
        F.element_at(mimes, (F.col("doc_id") % 3).cast("int") + 1).alias("mime_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )
    media = attach_byte_metadata(media)
    videos = media.filter(F.col("mime_type") == "video/mp4").withColumn(
        "meta",
        F.struct(
            F.col("meta.width"),
            F.col("meta.height"),
            (F.col("meta.n_bytes") % 10000).alias("duration_ms"),
            F.col("meta.n_bytes"),
        ),
    )
    frames_per_video = (
        sample_frames(videos, every_ms=1000)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_frames"))
    )
    return (
        media.join(frames_per_video, "media_id", "left")
        .groupBy("mime_type")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("meta.n_bytes").alias("total_bytes"),
            F.sum(F.coalesce(F.col("n_frames"), F.lit(0))).alias("n_frames"),
        )
        .orderBy("mime_type")
    )


# ---------------------------------------------------------------------------
# Cohort retention + conversion funnel — the two classic product-analytics
# shapes on top of the event/order streams (SURVEY §2.4/§2.5 extension).
# ---------------------------------------------------------------------------


@query(
    "cohort_retention",
    oracle="""
    WITH first_order AS (
      SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(epoch_us(cohort_month) AS BIGINT) AS cohort_us,
           CAST(datediff('month', cohort_month, date_trunc('month', o_orderdate)) AS INT)
             AS months_since,
           COUNT(DISTINCT o_custkey) AS active_customers
    FROM orders JOIN first_order USING (o_custkey)
    GROUP BY cohort_us, months_since
    ORDER BY cohort_us, months_since
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly acquisition-cohort retention triangle. One extra shuffle
    (first-order per customer) feeding a broadcast-joined reaggregation;
    months_between on month-truncated stamps is integral, so the INT cast
    is exact in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    first_order = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    return (
        orders.join(first_order, "o_custkey")
        .select(
            F.unix_micros("cohort_month").alias("cohort_us"),
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")), F.col("cohort_month")
            )
            .cast("int")
            .alias("months_since"),
            "o_custkey",
        )
        .groupBy("cohort_us", "months_since")
        .agg(F.count_distinct("o_custkey").alias("active_customers"))
        .orderBy("cohort_us", "months_since")
    )


@query(
    "funnel_click_to_purchase",
    oracle="""
    WITH first_click AS (
      SELECT user_id, MIN(ts) AS click_ts
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), first_purchase AS (
      SELECT f.user_id, MIN(e.ts) AS purchase_ts
      FROM first_click f
      JOIN events e ON e.user_id = f.user_id
                   AND e.event_type = 'purchase' AND e.ts > f.click_ts
      GROUP BY f.user_id
    )
    SELECT COUNT(*) AS n_clickers,
           COUNT(p.purchase_ts) AS n_purchasers,
           CAST(SUM(CASE WHEN p.purchase_ts <= f.click_ts + INTERVAL 24 HOURS
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_24h
    FROM first_click f LEFT JOIN first_purchase p USING (user_id)
    """,
)
def funnel_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click → purchase funnel: first click per user, first later purchase,
    conversions within 24h. Both stages are per-user MIN aggregates on the
    SAME user_id shuffle partitioning — Catalyst reuses the exchange."""
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        first_click.join(first_purchase, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_clickers"),
            F.count("purchase_ts").alias("n_purchasers"),
            F.sum(
                F.when(
                    F.col("purchase_ts")
                    <= F.col("click_ts") + F.expr("INTERVAL 24 HOURS"),
                    1,
                ).otherwise(0)
            ).alias("n_converted_24h"),
        )
    )


# ---------------------------------------------------------------------------
# Latest-event-per-user via aggregate struct-max (SURVEY §2.5 W2 scale
# variant). Contrast with `latest_order_per_customer` (window row_number):
# the aggregate form needs NO per-partition sort — partial max(struct)
# combines map-side, so at 100 TB it moves one struct per (partition, user)
# through the shuffle instead of sorting every row group.
# ---------------------------------------------------------------------------


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id,
           CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
           event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic top-1 per key without a window: max of a
    (ts, event_id, …) struct is lexicographic, so the (ts, event_id)
    prefix is the same total order the oracle's ROW_NUMBER uses — the
    payload columns ride along in the struct."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max(F.struct("ts", "event_id", "event_type", "value")).alias("m")
        )
        .select(
            "user_id",
            F.unix_micros("m.ts").alias("last_ts_us"),
            F.col("m.event_type").alias("last_event_type"),
            F.col("m.value").alias("last_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: fact-fact join + two-way conditional counts (CASE-sum)
# under a date-range scan filter. The synthetic lineitem has no
# shipmode/commitdate/receiptdate columns, so the shape is expressed on the
# available ones: returnflag plays the ship-class axis, "shipped after the
# order date" plays the late-delivery predicate. Both CASE branches reduce
# map-side; the join shuffles on orderkey only after the pushed date filter
# prunes lineitem row groups. (SURVEY §2.3 J1 + §2.4 A5.)
# ---------------------------------------------------------------------------


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, (li.l_orderkey == orders.o_orderkey) & (li.l_shipdate > orders.o_orderdate))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: document chunking (SURVEY §2.13 X4 extension).
# Fixed-width overlapping character chunks — the pre-tokenization step every
# LLM data pipeline runs before packing context windows. Map-only
# (sequence + explode + substr), so it scales linearly with no shuffle; the
# md5 gives the oracle a content-exact handle on every chunk boundary.
# ---------------------------------------------------------------------------


@query(
    "doc_chunks",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, text,
             greatest(CAST(ceil((length(text) - 64) / 192.0) AS BIGINT), 1) AS n_chunks
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
           CAST(length(substr(text, CAST(u.i * 192 + 1 AS INTEGER), 256)) AS BIGINT) AS n_chars,
           md5(substr(text, CAST(u.i * 192 + 1 AS INTEGER), 256)) AS chunk_md5
    FROM base, LATERAL unnest(range(0, n_chunks)) u(i)
    ORDER BY doc_id, chunk_idx
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import chunk_text

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = chunk_text(docs, "doc_id", "text", chunk_chars=256, overlap=64)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").cast("long").alias("n_chars"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_idx")


# ---------------------------------------------------------------------------
# Training-data pipeline: deterministic train/val/test split. A Knuth
# multiplicative hash on the doc id ((id · 2654435761) mod 2³² mod 100) is
# pure integer arithmetic — identical in every engine, stable across runs
# and re-partitioning, and (unlike rand(seed)) independent of row order, so
# the assignment is reproducible at 100 TB and auditable in plain SQL.
# 90/5/5 by hash bucket.
# ---------------------------------------------------------------------------


@query(
    "doc_hash_split",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, text,
             (doc_id * 2654435761) % 4294967296 % 100 AS h
      FROM documents
    )
    SELECT CASE WHEN h < 90 THEN 'train' WHEN h < 95 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM tagged
    GROUP BY 1
    ORDER BY split
    """,
)
def doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), F.length("text").alias("__n"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_chars"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: benchmark decontamination (SURVEY §2.13
# extension). Every doc whose id is a multiple of 50 plays the held-out
# benchmark; the rest of the corpus is scored by the fraction of its
# distinct 5-shingles that appear anywhere in the benchmark. Spark hashes
# shingles to longs (broadcast semi-join probe, one corpus-side shuffle);
# the oracle recomputes from raw strings — same sets, same single int/int
# division, bit-identical rates.
# ---------------------------------------------------------------------------


@query(
    "doc_benchmark_contamination",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM documents WHERE doc_id < 400
    ),
    sh AS (
      SELECT DISTINCT doc_id, substr(t, CAST(u.i AS INTEGER), 5) AS s
      FROM norm, LATERAL unnest(range(1, greatest(length(t) - 4, 1) + 1)) u(i)
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0)
    SELECT c.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*) AS rate
    FROM corpus c LEFT JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def doc_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import contamination_rates

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_rates(corpus, benchmark, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Training-data pipeline: vocabulary building — top-100 whitespace tokens
# by corpus frequency (tie-break on token for determinism). The classic
# first pass of tokenizer training; partial aggregation reduces each input
# partition to its local token counts before the single exchange.
# ---------------------------------------------------------------------------


@query(
    "token_vocabulary",
    oracle=r"""
    SELECT t.tok AS token, COUNT(*) AS freq
    FROM documents,
         LATERAL unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) t(tok)
    WHERE t.tok <> ''
    GROUP BY t.tok
    ORDER BY freq DESC, token
    LIMIT 100
    """,
)
def token_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import _spread
    from iceberg_quickstart_iac_spark.operators.text import word_tokens

    docs = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Dataset curation: exact-n stratified sampling (SURVEY §2.13 extension).
# First n docs per language by multiplicative-hash order — reproducible
# across engines/runs/partitionings and exact per stratum, which
# fraction-based sampleBy can't guarantee. One window per stratum; at
# 100 TB pre-filter by hash threshold first (see operators/sampling.py).
# ---------------------------------------------------------------------------


@query(
    "stratified_doc_sample",
    oracle="""
    SELECT lang, doc_id, sample_rank
    FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 4294967296, doc_id
             ) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= 20
    ORDER BY lang, sample_rank
    """,
)
def stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, ["lang"], 20, "doc_id")
        .select("lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank"))
        .orderBy("lang", "sample_rank")
    )


# ---------------------------------------------------------------------------
# Weight-proportional sampling WITHOUT replacement (SURVEY §2.13
# extension): Efraimidis–Spirakis A-Res via the exponential race — take
# the k smallest -ln(u)/w with u derived from the Knuth id hash, so the
# draw is reproducible across engines/runs/partitionings (rand() is
# none of those). Here: documents sampled proportional to length, the
# standard length-weighted corpus subset. Global form plans
# TakeOrderedAndProject (per-partition heaps, NO global sort).
# ---------------------------------------------------------------------------


@query(
    "weighted_doc_sample",
    oracle="""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             -ln((((doc_id * 2654435761) % 4294967296) + 0.5)
                 / 4294967296.0) / n_chars AS pri
      FROM documents WHERE n_chars > 0
      ORDER BY pri, doc_id
      LIMIT 500
    )
    ORDER BY doc_id
    """,
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, "n_chars", 500, "doc_id")
        .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# REAL PCM sample decode (round 8; SURVEY §2.13 X5 — the codec-free half
# of pixel/sample decode, operators/multimodal.py::decode_wav_samples):
# RIFF/WAVE PCM is a container, not a codec — chunk-walk + numpy
# frombuffer, no audio library. Payloads are synthesized from a closed
# form (build_pcm_wav) so the DuckDB oracle replays the DECODE with pure
# integer arithmetic; stats are integer-exact (peak, sum of squares) to
# avoid float-order hazards. Compressed WAVE still raises the loud
# real-decoder error — the stub boundary is now only true codecs.
# ---------------------------------------------------------------------------


@query(
    "media_pcm_stats",
    oracle="""
    SELECT t.id AS media_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(64 AS BIGINT) AS n_samples,
           CAST(MAX(ABS(((t.id*31 + s.i*17) % 4001) - 2000)) AS BIGINT) AS peak,
           CAST(SUM((((t.id*31 + s.i*17) % 4001) - 2000)
                    * (((t.id*31 + s.i*17) % 4001) - 2000)) AS BIGINT) AS sum_sq
    FROM range(50) t(id) CROSS JOIN range(64) s(i)
    GROUP BY t.id
    ORDER BY media_id
    """,
)
def media_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        build_pcm_wav,
        decode_wav_samples,
    )

    rows = [
        (
            mid,
            bytearray(
                build_pcm_wav(
                    [((mid * 31 + i * 17) % 4001) - 2000 for i in range(64)],
                    sample_rate=8000,
                )
            ),
        )
        for mid in range(50)
    ]
    media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    return decode_wav_samples(media).orderBy("media_id")


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (round 8; the Gopher/LLaMA data-recipe
# op, operators/sampling.py::temperature_mixture_sample): sample so each
# group's share ∝ n^alpha — alpha=0.5 down-weights the dominant language
# without dropping it. Per-row weight n_lang^(alpha-1) from one broadcast
# count join, then the deterministic E-S draw; the oracle replays the
# window count + priority arithmetic exactly.
# ---------------------------------------------------------------------------


@query(
    "temperature_mixture_sample",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             -ln((((doc_id * 2654435761) % 4294967296) + 0.5)
                 / 4294967296.0)
               / pow(CAST(COUNT(*) OVER (PARTITION BY lang) AS DOUBLE),
                     -0.5) AS pri
      FROM documents
      ORDER BY pri, doc_id
      LIMIT 200
    )
    ORDER BY doc_id
    """,
)
def temperature_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        temperature_mixture_sample(docs, "lang", 200, "doc_id", alpha=0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Text-level PII scrubbing (SURVEY §2.13 / §2.11 G1 complement): redact
# email/SSN/phone spans inside free text before corpus assembly. The md5 of
# the redacted text pins the exact replacement semantics cross-engine; the
# patterns avoid lookaround so Java regex and RE2 agree.
# ---------------------------------------------------------------------------


@query(
    "doc_pii_redaction",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[PII]', 'g'),
               '\+?(?:\d{7,15}|\(?\d{1,4}\)?(?:[\s.-]\(?\d{2,4}\)?){2,4})', '[PII]', 'g')) AS redacted_md5
    FROM documents
    WHERE doc_id < 300
    ORDER BY doc_id
    """,
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    counts = pii_counts("text")
    return docs.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ssn"].alias("n_ssn"),
        F.md5(redact_pii("text")).alias("redacted_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE-ish token accounting (SURVEY §2.13 X4): the token budget a tokenizer
# pipeline actually bills — word pieces plus single non-space symbols —
# aggregated per language. Java regex and RE2 agree on the \w+|[^\w\s]
# pretokenizer (verified corpus-wide), so the oracle replays it exactly.
# ---------------------------------------------------------------------------


@query(
    "doc_bpe_token_stats",
    oracle=r"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS DOUBLE) / COUNT(*)
             AS avg_bpe_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count("text", "bpe").alias("__n"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").cast("long").alias("total_bpe_tokens"),
            (F.sum("__n").cast("double") / F.count(F.lit(1))).alias("avg_bpe_tokens"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization audit (SURVEY §2.13 X3 storage path): per
# vector, the symmetric-scale int8 form plus its exact reconstruction
# error. floor(x/scale + 0.5) half-up rounding is bit-identical across
# engines (round()'s half convention is not); the error fold is the same
# sequential double chain on both sides.
# ---------------------------------------------------------------------------


@query(
    "embedding_int8_audit",
    oracle="""
    WITH scaled AS (
      SELECT vec_id, embedding,
             CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
                  THEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0
                  ELSE 1.0 END AS scale
      FROM embeddings WHERE vec_id < 200
    )
    SELECT vec_id, scale,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))) AS BIGINT) AS q_sum,
           list_sum(list_transform(embedding,
                x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)
                   * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale)))
             AS sq_err
    FROM scaled
    ORDER BY vec_id
    """,
)
def embedding_int8_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import quantize_embeddings_int8

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    q = quantize_embeddings_int8(emb)
    orig = emb.select("vec_id", "embedding")
    j = q.join(orig, "vec_id")
    dq = F.zip_with(
        F.col("embedding"),
        F.col("qvec"),
        lambda x, qv: x.cast("double") - qv.cast("double") * F.col("scale"),
    )
    return j.select(
        "vec_id",
        "scale",
        F.aggregate(
            F.col("qvec"), F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long")
        ).alias("q_sum"),
        F.aggregate(F.transform(dq, lambda e: e * e), F.lit(0.0), lambda a, v: a + v).alias(
            "sq_err"
        ),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Keyed pseudonymization (SURVEY §2.11 G1 depth): GDPR-style stable
# pseudonyms — sha256(salt || user_id) replaces the identifier while
# preserving joinability/groupability. The same map-only expression works
# in any engine, so the oracle replays it; analytics on pseudonyms match
# analytics on raw ids exactly.
# ---------------------------------------------------------------------------


@query(
    "pseudonymized_user_activity",
    oracle="""
    SELECT sha256('corpus-v1:' || CAST(user_id AS VARCHAR)) AS user_pseud,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id % 29 = 0
    GROUP BY user_pseud
    ORDER BY user_pseud
    """,
)
def pseudonymized_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 29 == 0)
    pseud = F.sha2(F.concat(F.lit("corpus-v1:"), F.col("user_id").cast("string")), 256)
    return (
        ev.groupBy(pseud.alias("user_pseud"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .orderBy("user_pseud")
    )


# ---------------------------------------------------------------------------
# Context-window packing (SURVEY §2.13 extension): assign chunks to
# fixed-budget training windows by running-total bucketing — the streaming
# form of sequence packing (each item lands in the bin its preceding
# cumulative size dictates; bins can overflow by at most one item, the
# standard online-packing bound). One window sort per shard, deterministic
# order (doc_id, chunk_idx), and the whole construction is plain SQL, so
# the oracle replays it exactly.
# ---------------------------------------------------------------------------


@query(
    "packed_context_windows",
    oracle="""
    WITH chunks AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
             length(substr(text, CAST(u.i * 192 + 1 AS INTEGER), 256)) AS n_chars
      FROM (
        SELECT doc_id, text,
               greatest(CAST(ceil((length(text) - 64) / 192.0) AS BIGINT), 1) AS n_chunks
        FROM documents WHERE doc_id < 400
      ), LATERAL unnest(range(0, n_chunks)) u(i)
    ),
    placed AS (
      SELECT doc_id % 8 AS shard, doc_id, chunk_idx, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM chunks
    )
    SELECT shard, CAST(cum_before // 2048 AS BIGINT) AS win_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_chars) AS BIGINT) AS win_chars
    FROM placed
    GROUP BY shard, win_id
    ORDER BY shard, win_id
    """,
)
def packed_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import (
        chunk_text,
        pack_context_windows,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    chunks = chunk_text(docs, "doc_id", "text", chunk_chars=256, overlap=64).select(
        "doc_id", "chunk_idx", F.length("chunk").alias("n_chars")
    )
    # n_shards pinned to 8 so the oracle can replay doc_id % 8; the
    # operator's default scales shards with cluster parallelism instead
    placed = pack_context_windows(chunks, budget_chars=2048, n_shards=8)
    return (
        placed.groupBy("shard", "win_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chars").cast("long").alias("win_chars"),
        )
        .orderBy("shard", "win_id")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition quality signals (SURVEY §2.13 X4 extension):
# duplicate-line fraction, duplicate-line CHARACTER fraction, and
# top-bigram fraction per document — the repetition filters of Gopher
# (Rae et al. 2021 §A1.1) and the C4 cleaning pipeline. Every fraction is
# one division of two exact integers, so values are bit-identical across
# engines. Scale shape: two explode→groupBy branches keyed (doc, line) /
# (doc, bigram) with map-side partial aggregation; the final joins are
# keyed on doc_id only.
# ---------------------------------------------------------------------------


@query(
    "doc_repetition_signals",
    oracle=r"""
    WITH lines AS (
      SELECT doc_id, trim(u.l) AS line
      FROM documents, unnest(string_split(text, chr(10))) AS u(l)
    ), per_line AS (
      SELECT doc_id, line, COUNT(*) AS c, COUNT(*) * length(line) AS ch
      FROM lines WHERE line <> '' GROUP BY doc_id, line
    ), line_stats AS (
      SELECT doc_id,
             SUM(c) AS n_lines,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
             SUM(CASE WHEN c > 1 THEN ch ELSE 0 END) AS dup_chars,
             SUM(ch) AS tot_chars
      FROM per_line GROUP BY doc_id
    ), toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
      FROM documents
    ), bigrams AS (
      SELECT doc_id, u.bg
      FROM toks, unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS u(bg)
    ), bg_counts AS (
      SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg
    ), bg_stats AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bigrams FROM bg_counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(ls.n_lines, 0) AS BIGINT) AS n_lines,
           CASE WHEN ls.n_lines > 0
                THEN CAST(ls.dup_lines AS DOUBLE) / ls.n_lines ELSE 0.0 END AS dup_line_frac,
           CASE WHEN ls.tot_chars > 0
                THEN CAST(ls.dup_chars AS DOUBLE) / ls.tot_chars ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN bs.n_bigrams > 0
                THEN CAST(bs.top_c AS DOUBLE) / bs.n_bigrams ELSE 0.0 END AS top_bigram_frac
    FROM documents d
    LEFT JOIN line_stats ls USING (doc_id)
    LEFT JOIN bg_stats bs USING (doc_id)
    ORDER BY doc_id
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs, "doc_id", "text").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture weights (SURVEY §2.13 extension): the
# multilingual-training sampling scheme (weight ∝ tokens^α, here α = 0.5)
# that up-weights small sources. sqrt is IEEE-correctly-rounded in both
# engines; the rounded sqrt is summed EXACTLY as decimal so the normalizer
# is order-insensitive, and the final weight is one double division.
# Post-aggregation cardinality is |sources| (a handful), so the scalar
# total is a 1-row broadcast — no global window, no single-partition sort.
# ---------------------------------------------------------------------------


@query(
    "source_mixture_weights",
    oracle=r"""
    WITH src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), wt AS (
      SELECT source, n_docs, n_tokens,
             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS srt
      FROM src
    )
    SELECT source, n_docs, n_tokens,
           CAST(srt AS DOUBLE) / CAST((SELECT SUM(srt) FROM wt) AS DOUBLE) AS weight
    FROM wt
    ORDER BY source
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text", "whitespace")).cast("long").alias("n_tokens"),
    )
    wt = src.withColumn(
        "srt", F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(DEC)
    )
    total = wt.agg(F.sum("srt").alias("srt_total"))
    return (
        wt.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.col("srt").cast("double") / F.col("srt_total").cast("double")).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Token-budget planning (round 9; SURVEY §2.13 X17 extension): the table
# a pipeline owner actually reads before a run — given the
# temperature-scaled mixture weights and a total token budget, how many
# tokens does each source contribute and how many EPOCHS over that
# source does the allocation imply (allocation / available)? epochs > 1
# flags sources the schedule would repeat (the standard data-mixing
# overfit warning); integer token math + one decimal division keeps the
# oracle exact. Budget is a fixed planning constant (2^24 tokens here),
# not data-derived — the oracle replays it as the same literal.
# ---------------------------------------------------------------------------


@query(
    "source_token_budgets",
    oracle=r"""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ), wt AS (
      SELECT source, n_tokens,
             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS srt
      FROM src
    )
    SELECT source, n_tokens,
           CAST(srt AS DOUBLE) / CAST((SELECT SUM(srt) FROM wt) AS DOUBLE)
             AS weight,
           CAST(FLOOR(16777216.0 * CAST(srt AS DOUBLE)
                      / CAST((SELECT SUM(srt) FROM wt) AS DOUBLE))
                AS BIGINT) AS alloc_tokens,
           CAST(FLOOR(16777216.0 * CAST(srt AS DOUBLE)
                      / CAST((SELECT SUM(srt) FROM wt) AS DOUBLE))
                AS DOUBLE) / n_tokens AS epochs,
           CAST(FLOOR(16777216.0 * CAST(srt AS DOUBLE)
                      / CAST((SELECT SUM(srt) FROM wt) AS DOUBLE))
                AS BIGINT) > n_tokens AS repeats_data
    FROM wt
    ORDER BY source
    """,
)
def source_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import token_count

    budget = 16_777_216  # planning constant: 2^24 tokens
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(token_count("text", "whitespace")).cast("long").alias("n_tokens"),
    )
    wt = src.withColumn(
        "srt", F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).cast(DEC)
    )
    total = wt.agg(F.sum("srt").alias("srt_total"))
    weight = F.col("srt").cast("double") / F.col("srt_total").cast("double")
    alloc = F.floor(F.lit(float(budget)) * weight).cast("long")
    return (
        wt.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            weight.alias("weight"),
            alloc.alias("alloc_tokens"),
            (alloc.cast("double") / F.col("n_tokens")).alias("epochs"),
            (alloc > F.col("n_tokens")).alias("repeats_data"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus filter funnel (SURVEY §2.13 extension): the per-stage survivor
# accounting every production cleaning pipeline reports (how many docs /
# tokens each filter removed). Stages cascade: length gate → token gate →
# alphabetic-ratio gate → exact-dedup keep-first. All stage flags are
# computed in ONE scan pass (plus the dedup window keyed on the content
# hash); the funnel itself is a single aggregation over boolean masks, then
# a constant-size unpivot — no per-stage re-scan of the corpus.
# ---------------------------------------------------------------------------


@query(
    "corpus_filter_funnel",
    oracle=r"""
    WITH flagged AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n_tok,
             length(text) AS n_ch,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ) AS is_first
      FROM documents
    ), staged AS (
      SELECT n_tok,
             TRUE AS f0,
             n_ch >= 100 AND n_ch <= 20000 AS f1,
             n_ch >= 100 AND n_ch <= 20000 AND n_tok >= 20 AS f2,
             n_ch >= 100 AND n_ch <= 20000 AND n_tok >= 20
               AND CAST(n_alpha AS DOUBLE) / n_ch >= 0.5 AS f3,
             n_ch >= 100 AND n_ch <= 20000 AND n_tok >= 20
               AND CAST(n_alpha AS DOUBLE) / n_ch >= 0.5 AND is_first AS f4
      FROM flagged
    ), agg AS (
      SELECT SUM(CASE WHEN f0 THEN 1 ELSE 0 END) AS s0,
             SUM(CASE WHEN f0 THEN n_tok ELSE 0 END) AS t0,
             SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS s1,
             SUM(CASE WHEN f1 THEN n_tok ELSE 0 END) AS t1,
             SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS s2,
             SUM(CASE WHEN f2 THEN n_tok ELSE 0 END) AS t2,
             SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS s3,
             SUM(CASE WHEN f3 THEN n_tok ELSE 0 END) AS t3,
             SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS s4,
             SUM(CASE WHEN f4 THEN n_tok ELSE 0 END) AS t4
      FROM staged
    )
    SELECT u.stage_idx, u.stage,
           CAST(u.n_docs AS BIGINT) AS n_docs,
           CAST(u.n_tokens AS BIGINT) AS n_tokens
    FROM agg, LATERAL (
      SELECT * FROM (VALUES
        (0, 'ingest', s0, t0),
        (1, 'length_100_20k', s1, t1),
        (2, 'min_20_tokens', s2, t2),
        (3, 'alpha_ratio_50', s3, t3),
        (4, 'exact_dedup_keep_first', s4, t4)
      ) AS v(stage_idx, stage, n_docs, n_tokens)
    ) u
    ORDER BY stage_idx
    """,
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import content_md5, token_count

    docs = load_table(spark, sf_dir, "documents")
    n_ch = F.length("text")
    n_alpha = n_ch - F.length(F.regexp_replace(F.col("text"), "[A-Za-z]", ""))
    is_first = F.col("doc_id") == F.min("doc_id").over(W.partitionBy(content_md5("text")))
    flagged = docs.select(
        token_count("text", "whitespace").alias("n_tok"),
        n_ch.alias("n_ch"),
        n_alpha.alias("n_alpha"),
        is_first.alias("is_first"),
    )
    f1 = (F.col("n_ch") >= 100) & (F.col("n_ch") <= 20000)
    f2 = f1 & (F.col("n_tok") >= 20)
    f3 = f2 & (F.col("n_alpha").cast("double") / F.col("n_ch") >= 0.5)
    f4 = f3 & F.col("is_first")
    agg = flagged.agg(
        F.count(F.lit(1)).alias("s0"),
        F.sum("n_tok").alias("t0"),
        *[
            e
            for i, f in enumerate([f1, f2, f3, f4], start=1)
            for e in (
                F.sum(f.cast("long")).alias(f"s{i}"),
                F.sum(F.when(f, F.col("n_tok")).otherwise(F.lit(0))).alias(f"t{i}"),
            )
        ],
    )
    names = ["ingest", "length_100_20k", "min_20_tokens", "alpha_ratio_50",
             "exact_dedup_keep_first"]
    stack_args = ", ".join(
        f"{i}, '{n}', s{i}, t{i}" for i, n in enumerate(names)
    )
    return agg.select(
        F.expr(
            f"stack({len(names)}, {stack_args}) AS (stage_idx, stage, n_docs, n_tokens)"
        )
    ).select(
        "stage_idx",
        "stage",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    ).orderBy("stage_idx")


# ---------------------------------------------------------------------------
# Per-label embedding centroids (SURVEY §2.13 X3 extension): the cluster
# summary a semantic-dedup / curriculum pipeline maintains per label —
# count and dimension-wise mean. posexplode keys the aggregation by
# (label, dim): partial sums collapse map-side, the shuffle carries only
# |labels| × dim rows, and the decimal-sum trick makes the double mean
# bit-identical across engines (single division at the end).
# ---------------------------------------------------------------------------


@query(
    "embedding_label_centroids",
    oracle="""
    SELECT label,
           CAST(d.dim AS INTEGER) AS dim,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(CAST(embedding[CAST(d.dim AS INTEGER) + 1] AS DOUBLE)
                         AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS centroid
    FROM embeddings, unnest(range(0, len(embedding))) AS d(dim)
    GROUP BY label, d.dim
    ORDER BY label, dim
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    n = F.count(F.lit(1))
    return (
        ex.groupBy("label", F.col("dim").cast("int").alias("dim"))
        .agg(
            n.alias("n_vecs"),
            (F.sum(F.col("v").cast(DEC)).cast("double") / n).alias("centroid"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# Inter-source contamination overlap (SURVEY §2.13 X1 extension): how much
# of each source pair is the same content — distinct content fingerprints
# per source, pairwise shared counts, Jaccard. The fingerprint is a
# 64-char-prefix hash of the normalized text (snippet-level overlap: full
# hashes only catch byte-identical mirrors; a prefix key also catches
# same-lede syndication). The join runs on the fingerprint (already deduped
# per source, so each key appears at most once per source — worst case
# |sources| per key, never a quadratic bucket), and the per-source totals
# are a broadcast-size dimension.
# ---------------------------------------------------------------------------


@query(
    "inter_source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64)) AS fp
      FROM documents
    ), per_src AS (
      SELECT source, COUNT(*) AS n FROM fp GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE) / (pa.n + pb.n - s.n_shared) AS jaccard
    FROM shared s
    JOIN per_src pa ON pa.source = s.source_a
    JOIN per_src pb ON pb.source = s.source_b
    ORDER BY source_a, source_b
    """,
)
def inter_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "source", F.md5(normalize_text("text").substr(1, 64)).alias("fp")
    ).distinct()
    per_src = fp.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = fp.alias("a")
    b = fp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    pa = per_src.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    pb = per_src.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Semantic dedup over embedding clusters (SemDeDup, Abbas et al. 2023;
# SURVEY §2.13 X2/X3 fusion): reuse the IVF coarse quantizer to bound the
# pairwise cosine comparison to WITHIN-cell pairs (the n² never
# materializes — cells cap the quadratic, which is the entire SemDeDup
# point), then drop every vector that is ≥ τ-similar to a lower-id vector
# in its cell. The oracle replays the identical centroid literals, cell
# assignment, and element-order cosine folds (same machinery as
# embedding_ann_ivf's generated oracle).
# ---------------------------------------------------------------------------


def _semantic_dedup_oracle_sql() -> str:
    corpus_cte, cos = _ivf_oracle_parts()
    return f"""
    WITH {corpus_cte}, blk AS (
      SELECT * FROM corpus WHERE vec_id < 2000
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM blk a JOIN blk b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos("a.embedding", "b.embedding")} >= 0.4
    )
    SELECT c.vec_id, c.cell, d.vec_id IS NULL AS is_kept
    FROM blk c LEFT JOIN drops d ON d.vec_id = c.vec_id
    ORDER BY c.vec_id
    """


@query("semantic_dedup_cells_gemm", oracle=_semantic_dedup_oracle_sql)
def semantic_dedup_cells_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SemDeDup path under the same oracle: cell assignment
    stays fold-based (bit-replayable), but the within-cell pairwise runs
    as one numpy GEMM per cell via applyInPandas. The output carries no
    floats — only (vec_id, cell, is_kept) — so BLAS accumulation order
    cannot leak into the hash, and the drop DECISIONS provably match the
    fold's (threshold sits away from float boundaries; equivalence also
    pinned by test_semantic_dedup_gemm_matches_fold). This gives the
    alpha-0.40 scale path (measured on the round-4 scale sweep) its own driver
    certification instead of certifying only the interpreted fold."""
    from iceberg_quickstart_iac_spark.operators.similarity import (
        ivf_index,
        semantic_dedup,
    )

    full = load_table(spark, sf_dir, "embeddings")
    tagged, _ = ivf_index(
        full,
        n_cells=_IVF_CONF["n_cells"],
        max_iter=_IVF_CONF["max_iter"],
        seed=_IVF_CONF["seed"],
        fit_sample=_IVF_CONF["fit_sample"],
        order_col="vec_id",
        assign="fold",
    )
    return (
        semantic_dedup(
            tagged.filter(F.col("vec_id") < 2000), threshold=0.4, method="gemm"
        )
        .orderBy("vec_id")
    )


@query("semantic_dedup_cells", oracle=_semantic_dedup_oracle_sql)
def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.similarity import (
        ivf_index,
        semantic_dedup,
    )

    full = load_table(spark, sf_dir, "embeddings")
    tagged, _ = ivf_index(
        full,
        n_cells=_IVF_CONF["n_cells"],
        max_iter=_IVF_CONF["max_iter"],
        seed=_IVF_CONF["seed"],
        fit_sample=_IVF_CONF["fit_sample"],
        order_col="vec_id",
        assign="fold",
    )
    # method='fold': element-order cosine folds the DuckDB oracle replays
    # bit-exactly. The production path is semantic_dedup(method='gemm') —
    # one numpy GEMM per cell via applyInPandas; the 10x scale sweep
    # measured fold at alpha~1.5 vs gemm's linear (round 4).
    return (
        semantic_dedup(
            tagged.filter(F.col("vec_id") < 2000), threshold=0.4, method="fold"
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# DML lifecycle (SURVEY §2.10 M12/M13): append → row-level DELETE →
# row-level UPDATE → changelog scan against the first snapshot. Every
# output number is derivable from pure orders-table semantics, so the
# oracle computes the same facts relationally: the changelog's deletes
# are the removed F-status rows PLUS the pre-update images of the VIP
# rows, its inserts are the VIP rows' new images.
# ---------------------------------------------------------------------------


@query(
    "dml_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_initial,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
             AS rows_after_delete,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F'
                                   AND o_totalprice > 100000) AS BIGINT)
             AS n_vip,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F'
                                   AND o_totalprice > 100000) AS BIGINT)
             AS changelog_inserts,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F'
                                    OR o_totalprice > 100000) AS BIGINT)
             AS changelog_deletes
    FROM orders WHERE o_orderkey < 4000
    """,
)
def dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 4000
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="dml_") + "/orders_dml",
        {
            "name": "orders_dml",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    first = t.append(orders)
    rows_initial = t.read(spark).count()
    t.delete_where(spark, "o_orderstatus = 'F'")
    rows_after_delete = t.read(spark).count()
    t.update_where(
        spark, "o_totalprice > 100000", {"o_orderstatus": "'VIP'"}
    )
    n_vip = t.read(spark).filter("o_orderstatus = 'VIP'").count()
    ch = t.read_changes(spark, first["snapshot_id"])
    counts = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return spark.createDataFrame(
        [(
            rows_initial,
            rows_after_delete,
            n_vip,
            counts.get("insert", 0),
            counts.get("delete", 0),
        )],
        "rows_initial LONG, rows_after_delete LONG, n_vip LONG, "
        "changelog_inserts LONG, changelog_deletes LONG",
    )


# ---------------------------------------------------------------------------
# Z-order compaction lifecycle (SURVEY §2.10 M11): append a shuffled
# two-key fact slice, rewrite with compact(zorder=[suppkey, partkey]),
# and report layout FACTS that are deterministic under a fixed input:
# row fidelity through the rewrite, the multi-file split, and the tight
# per-file bounding boxes on BOTH keys (parquet footer min/max) that are
# the entire point of the z-curve. The oracle derives the same facts
# relationally (counts) + pins the layout booleans.
# ---------------------------------------------------------------------------


@query(
    "zorder_compact_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_sum,
           TRUE AS multi_file,
           TRUE AS boxes_tight
    FROM lineitem WHERE l_orderkey < 2000
    """,
)
def zorder_compact_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    import pyarrow.parquet as pq

    from iceberg_quickstart_iac_spark.tables import SnapTable

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 2000
    ).select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="zc_") + "/li_z",
        {
            "name": "li_z",
            "namespace": "lakehouse",
            "columns": [
                {"name": "l_orderkey", "type": "long"},
                {"name": "l_partkey", "type": "long"},
                {"name": "l_suppkey", "type": "long"},
                {"name": "l_quantity", "type": "double"},
            ],
        },
    )
    t.append(li.orderBy(F.xxhash64("l_orderkey", "l_partkey")))  # shuffled layout
    entry = t.compact(spark, target_files=8, zorder=["l_suppkey", "l_partkey"])

    # layout facts from the parquet footers of the compacted directory
    files = list((t.data_dir / entry["data_dirs"][0]).rglob("*.parquet"))
    stats = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        mm = {}
        for rg in range(md.num_row_groups):
            for i, n in enumerate(names):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    continue
                lo, hi = mm.get(n, (st.min, st.max))
                mm[n] = (min(lo, st.min), max(hi, st.max))
        stats.append(mm)
    ranges = {
        c: (min(s[c][0] for s in stats), max(s[c][1] for s in stats))
        for c in ("l_suppkey", "l_partkey")
    }

    def frac(s, c):
        lo, hi = ranges[c]
        return (s[c][1] - s[c][0]) / max(hi - lo, 1)

    areas = [frac(s, "l_suppkey") * frac(s, "l_partkey") for s in stats]
    avg_area = sum(areas) / len(areas)
    df = t.read(spark)
    return spark.createDataFrame(
        [(
            df.count(),
            float(
                df.agg(dsum("l_quantity", "q")).collect()[0]["q"]
            ),
            len(files) >= 4,
            avg_area < 0.6,  # random layout would sit at ~1.0 per file
        )],
        "n_rows LONG, qty_sum DOUBLE, multi_file BOOLEAN, boxes_tight BOOLEAN",
    )


# ---------------------------------------------------------------------------
# MERGE INTO lifecycle (SURVEY §2.10 M14): the copy-on-write upsert over
# a CDC-style batch — conditional delete, update, and insert clauses in
# one commit. The reference weighs table formats by exactly this
# workload (docs/deep-dive.md: "Hudi has better upsert performance for
# CDC workloads"). The oracle derives the merged end state relationally:
# matched non-D rows take the source image with status 'U', unmatched
# source non-D rows insert as 'N', matched D rows disappear, untouched
# target rows carry over.
# ---------------------------------------------------------------------------


@query(
    "merge_upsert_lifecycle",
    oracle="""
    WITH t AS (SELECT o_orderkey k, o_orderstatus st, o_totalprice p
               FROM orders WHERE o_orderkey < 3000),
         s AS (SELECT o_orderkey k, o_totalprice * 2 p,
                      CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END op
               FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 5000),
         m AS (
           SELECT t.k,
                  CASE WHEN s.k IS NULL THEN t.st ELSE 'U' END AS st,
                  CASE WHEN s.k IS NULL THEN t.p ELSE s.p END AS p
           FROM t LEFT JOIN s ON t.k = s.k
           WHERE s.k IS NULL OR s.op <> 'D'
           UNION ALL
           SELECT s.k, 'N', s.p FROM s
           WHERE s.op <> 'D'
             AND NOT EXISTS (SELECT 1 FROM t WHERE t.k = s.k)
         )
    SELECT st AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM m GROUP BY st ORDER BY st
    """,
)
def merge_upsert_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") < 3000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    source = (
        orders.filter((F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 5000))
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("price"),
            F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="mrg_") + "/orders_merge",
        {
            "name": "orders_merge",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    t.append(target)
    t.merge_into(
        spark,
        source,
        "t.o_orderkey = s.o_orderkey",
        when_matched=[
            {"action": "delete", "condition": "s.op = 'D'"},
            {
                "action": "update",
                "set": {"o_totalprice": "s.price", "o_orderstatus": "'U'"},
            },
        ],
        when_not_matched=[
            {
                "action": "insert",
                "condition": "s.op <> 'D'",
                "values": {
                    "o_orderkey": "s.o_orderkey",
                    "o_orderstatus": "'N'",
                    "o_totalprice": "s.price",
                },
            }
        ],
    )
    return (
        t.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# CDC changelog apply (SURVEY §2.10 M14b): a Debezium-style I/U/D batch
# with TWO sequenced changes per key — apply_changelog must compact to
# the latest change per key (window over keys by seq desc) before the
# merge, or the stale seq-1 images (status 'old', original price) leak
# into the table and the hash breaks. The oracle models only the END
# state: keys %4==0 in the change range are deleted-or-skipped, the rest
# upsert to status 'chg' at double price.
# ---------------------------------------------------------------------------


_CDC_APPLY_ORACLE = """
    WITH t AS (SELECT o_orderkey k, o_orderstatus st, o_totalprice p
               FROM orders WHERE o_orderkey < 2500),
         c AS (SELECT o_orderkey k,
                      CASE WHEN o_orderkey % 4 = 0 THEN 'D' ELSE 'U' END op,
                      'chg' st, o_totalprice * 2 p
               FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 4500),
         m AS (
           SELECT t.k,
                  CASE WHEN c.k IS NULL THEN t.st ELSE c.st END AS st,
                  CASE WHEN c.k IS NULL THEN t.p ELSE c.p END AS p
           FROM t LEFT JOIN c ON t.k = c.k
           WHERE c.k IS NULL OR c.op <> 'D'
           UNION ALL
           SELECT c.k, c.st, c.p FROM c
           WHERE c.op <> 'D'
             AND NOT EXISTS (SELECT 1 FROM t WHERE t.k = c.k)
         )
    SELECT st AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM m GROUP BY st ORDER BY st
    """


@query("cdc_changelog_apply", oracle=_CDC_APPLY_ORACLE)
def cdc_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_changelog_demo(spark, sf_dir, mode="cow")


@query("cdc_changelog_apply_mor", oracle=_CDC_APPLY_ORACLE)
def cdc_changelog_apply_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sequenced changelog applied MERGE-ON-READ
    (`apply_changelog(mode='mor')`: one commit = delete keys + new
    images, sequence-scoped — O(batch) write cost, the Hudi-MoR upsert
    shape; the CoW-vs-MoR cost divergence was measured in round 5). End state
    is identical by design, so both modes share one oracle — the
    equivalence IS the certification."""
    return _cdc_changelog_demo(spark, sf_dir, mode="mor")


def _cdc_changelog_demo(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    target = orders.filter(F.col("o_orderkey") < 2500).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    in_range = orders.filter(
        (F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 4500)
    )
    # seq 1: a stale update image every key; seq 2: the final change —
    # D for keys %4==0, else the real update. Compaction must pick seq 2.
    stale = in_range.select(
        "o_orderkey",
        F.lit("old").alias("o_orderstatus"),
        F.col("o_totalprice").alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    final = in_range.select(
        "o_orderkey",
        F.lit("chg").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 4 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.lit(2).alias("seq"),
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="cdc_") + "/orders_cdc",
        {
            "name": "orders_cdc",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    t.append(target)
    t.apply_changelog(
        spark,
        stale.unionByName(final),
        key_cols=["o_orderkey"],
        op_col="op",
        seq_col="seq",
        mode=mode,
    )
    return (
        t.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Tag retention lifecycle (SURVEY §2.10 M1/M3 + Nessie parity,
# deep-dive.md:262-303; Iceberg `CREATE TAG v1` + `VERSION AS OF 'v1'`):
# append a first slice, tag it `v1`, append a second slice, then expire
# EVERY snapshot older than the far future — the tagged snapshot must
# survive solely because the tag pins it (Iceberg ref-retention). The
# output compares the tag-read against the current read per order status;
# the pinned boolean certifies the tag still resolved AFTER expiration.
# ---------------------------------------------------------------------------


@query(
    "tag_retention_lifecycle",
    oracle="""
    WITH t1 AS (SELECT o_orderstatus st FROM orders WHERE o_orderkey < 2000),
         t2 AS (SELECT o_orderstatus st, o_totalprice p
                FROM orders WHERE o_orderkey < 4000)
    SELECT b.st AS status,
           COALESCE(a.n, 0) AS tag_rows,
           b.n AS cur_rows,
           CAST(b.sp AS DOUBLE) AS cur_sum_price,
           TRUE AS tag_survived_expire
    FROM (SELECT st, CAST(COUNT(*) AS BIGINT) n,
                 SUM(CAST(p AS DECIMAL(18,6))) sp FROM t2 GROUP BY st) b
    LEFT JOIN (SELECT st, CAST(COUNT(*) AS BIGINT) n FROM t1 GROUP BY st) a
      ON a.st = b.st
    ORDER BY status
    """,
)
def tag_retention_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="tagret_") + "/orders_tagged",
        {
            "name": "orders_tagged",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    t.append(orders.filter(F.col("o_orderkey") < 2000).select(*cols))
    t.create_tag("v1")
    t.append(
        orders.filter(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000)
        ).select(*cols)
    )
    # expire everything older than the far future: only the current
    # snapshot and the v1-tagged one may survive
    t.expire_snapshots(older_than_ms=2**52)
    survived = len(t._entries()) == 2
    at_tag = (
        t.read(spark, tag="v1")
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("tag_rows"))
    )
    current = (
        t.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("cur_rows"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
                "cur_sum_price"
            ),
        )
    )
    return (
        current.join(at_tag, "status", "left")
        .select(
            "status",
            F.coalesce("tag_rows", F.lit(0)).alias("tag_rows"),
            "cur_rows",
            "cur_sum_price",
            F.lit(survived).alias("tag_survived_expire"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Partition-stats metadata table (SURVEY §2.10 M1; Iceberg `t.partitions`,
# Athena `"t$partitions"`): write a week of events day-partitioned, then
# serve per-partition record counts purely from parquet FOOTERS + paths —
# no data scan. The oracle recomputes the same counts from the raw rows,
# certifying the metadata table agrees with the data it describes.
# ---------------------------------------------------------------------------


@query(
    "partition_stats_table",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS record_count,
           TRUE AS has_files
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-14 00:00:00'
      AND ts <  TIMESTAMP '2024-01-21 00:00:00'
    GROUP BY 1 ORDER BY day
    """,
)
def partition_stats_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("ts") >= "2024-01-14 00:00:00") & (F.col("ts") < "2024-01-21 00:00:00")
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="pstats_") + "/events_pstats",
        {
            "name": "events_pstats",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
                {"name": "props", "type": "string"},
            ],
            "partition_spec": [{"column": "ts", "transform": "day"}],
        },
    )
    t.overwrite(ev)
    return (
        t.partitions(spark)
        .select(
            F.get_json_object("partition", "$.__p_ts_day").alias("day"),
            F.col("record_count"),
            (F.col("file_count") > 0).alias("has_files"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Merge-on-read delete lifecycle (SURVEY §2.10 M12 extension; Iceberg v2
# equality deletes — the low-write-amplification path the reference's
# engine comparison credits to Hudi for CDC workloads,
# docs/deep-dive.md:83): a MoR delete writes ONLY the matched keys (no
# data rewrite — pinned by the no_rewrite boolean from the commit
# entries), reads anti-join the delete file, time travel still serves
# pre-delete rows, and compact() materializes. Output: end-state rollup
# plus physical facts the oracle pins as booleans.
# ---------------------------------------------------------------------------


@query(
    "mor_delete_lifecycle",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
           TRUE AS delete_was_metadata_only,
           TRUE AS time_travel_served_predelete,
           TRUE AS compact_cleared_deletes
    FROM orders
    WHERE o_orderkey < 3000 AND o_orderkey % 5 <> 0
    GROUP BY status ORDER BY status
    """,
)
def mor_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="mor_") + "/orders_mor",
        {
            "name": "orders_mor",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
            "identifier_fields": ["o_orderkey"],
        },
    )
    t.append(
        orders.filter(F.col("o_orderkey") < 3000).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
    )
    pre = t._entries()[-1]
    e = t.delete_where(spark, "o_orderkey % 5 = 0", mode="mor")
    no_rewrite = (
        e["data_dirs"] == pre["data_dirs"] and e["file_count"] == pre["file_count"]
    )
    pre_rows_served = (
        t.read(spark, snapshot_id=pre["snapshot_id"]).count() == pre["row_count"]
    )
    ce = t.compact(spark)
    compact_clear = not ce.get("delete_dirs")
    return (
        t.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .select(
            "status",
            "n_rows",
            "sum_price",
            F.lit(no_rewrite).alias("delete_was_metadata_only"),
            F.lit(pre_rows_served).alias("time_travel_served_predelete"),
            F.lit(compact_clear).alias("compact_cleared_deletes"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance (SURVEY §2.4/§2.10 composition): a
# materialized rollup refreshed from the snapshot CHANGELOG — deltas
# only, merged per group (Delta CDF → MERGE, the lakehouse IVM recipe).
# Lifecycle: full refresh, then delete+append on the source, then an
# INCREMENTAL refresh whose result must equal the full GROUP BY over the
# source's end state EXACTLY (decimal accumulators are order-free). The
# oracle computes that end-state rollup relationally.
# ---------------------------------------------------------------------------


@query(
    "incremental_rollup_maintenance",
    oracle="""
    WITH final_src AS (
      SELECT o_orderstatus st, o_totalprice p FROM orders
      WHERE (o_orderkey < 4000 AND o_orderkey % 7 <> 0)
         OR (o_orderkey >= 4000 AND o_orderkey < 5000)
    )
    SELECT st AS status,
           CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE) AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS second_refresh_incremental
    FROM final_src GROUP BY st ORDER BY status
    """,
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.operators.ivm import (
        refresh_rollup,
        rollup_template,
    )
    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="ivm_")
    src = SnapTable.create(
        base + "/orders_src",
        {
            "name": "orders_src",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    src.append(orders.filter(F.col("o_orderkey") < 4000).select(*cols))
    measures = {"total_price": ("o_totalprice", "sum")}
    dst = SnapTable.create(
        base + "/orders_rollup",
        rollup_template(src, "orders_rollup", ["o_orderstatus"], measures),
    )
    refresh_rollup(spark, src, dst, ["o_orderstatus"], measures)
    src.delete_where(spark, "o_orderkey % 7 = 0")
    src.append(
        orders.filter(
            (F.col("o_orderkey") >= 4000) & (F.col("o_orderkey") < 5000)
        ).select(*cols)
    )
    r2 = refresh_rollup(spark, src, dst, ["o_orderstatus"], measures)
    return (
        dst.read(spark)
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("total_price").cast("double").alias("total_price"),
            F.col("_n_rows").alias("n_rows"),
            F.lit(r2["mode"] == "incremental").alias("second_refresh_incremental"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Streaming CDC ingest lifecycle (SURVEY §2.9 ST1/ST2 + §2.10 M14): two
# waves of Debezium-style changelog files drained by
# streaming.incremental_cdc_ingest (AvailableNow) into a snapstore table —
# each micro-batch is ONE merge commit stamped with a txn id (Delta
# txnAppId/txnVersion exactly-once). The reference stubs exactly this
# ingestion point (assets/event_streams.py:22-24) and weighs engines by
# this workload (docs/deep-dive.md: CDC upserts). The oracle replays both
# waves relationally: wave-1 upserts, then wave-2 deletes/upserts over the
# wave-1 state.
# ---------------------------------------------------------------------------


@query(
    "streaming_cdc_ingest_lifecycle",
    oracle="""
    WITH t AS (SELECT o_orderkey k, o_orderstatus st, o_totalprice p
               FROM orders WHERE o_orderkey < 2500),
         w1 AS (SELECT o_orderkey k, 'u1' st, o_totalprice * 1.5 p
                FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 3500),
         w2 AS (SELECT o_orderkey k,
                       CASE WHEN o_orderkey % 5 = 0 THEN 'D' ELSE 'U' END op,
                       'u2' st, o_totalprice * 2 p
                FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000),
         s1 AS (
           SELECT t.k, COALESCE(w1.st, t.st) st, COALESCE(w1.p, t.p) p
           FROM t LEFT JOIN w1 ON t.k = w1.k
           UNION ALL
           SELECT w1.k, w1.st, w1.p FROM w1
           WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.k = w1.k)
         ),
         s2 AS (
           SELECT s1.k, COALESCE(w2.st, s1.st) st, COALESCE(w2.p, s1.p) p
           FROM s1 LEFT JOIN w2 ON s1.k = w2.k
           WHERE w2.k IS NULL OR w2.op <> 'D'
           UNION ALL
           SELECT w2.k, w2.st, w2.p FROM w2
           WHERE w2.op <> 'D'
             AND NOT EXISTS (SELECT 1 FROM s1 WHERE s1.k = w2.k)
         )
    SELECT st AS status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM s2 GROUP BY st ORDER BY status
    """,
)
def streaming_cdc_ingest_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from iceberg_quickstart_iac_spark.streaming import incremental_cdc_ingest
    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="scdc_")
    src, ckpt = base + "/src", base + "/ckpt"
    t = SnapTable.create(
        base + "/orders_scdc",
        {
            "name": "orders_scdc",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    t.append(orders.filter(F.col("o_orderkey") < 2500).select(*cols))

    cdc_schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("op", T.StringType()),
        ]
    )
    wave1 = orders.filter(
        (F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 3500)
    ).select(
        "o_orderkey",
        F.lit("u1").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.5).alias("o_totalprice"),
        F.lit("U").alias("op"),
    )
    wave2 = orders.filter(
        (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000)
    ).select(
        "o_orderkey",
        F.lit("u2").alias("o_orderstatus"),
        (F.col("o_totalprice") * 2).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    for wave in (wave1, wave2):
        wave.coalesce(1).write.mode("append").parquet(src)
        q = incremental_cdc_ingest(
            spark, src, cdc_schema, t, ckpt, key_cols=["o_orderkey"]
        )
        q.awaitTermination(300)
    return (
        t.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sum_price"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Table-as-stream mirror lifecycle (round 11; SURVEY §2.9 ST5 —
# streaming/ingest.py::table_change_feed + mirror_into): a source table
# streams into a mirror with exactly-once table→table delivery — the
# Delta `startingVersion: 0` contract (initial full batch, then one
# batch per turn covering exactly the commits since the checkpoint, with
# the head commit SEQUENCE as the deterministic batch id). The lifecycle
# certifies: initial load, a two-commit increment delivered as ONE
# batch pinned to the captured head, the drained no-op turn, and the
# exactly-once txn ledger (replaying the increment's (feed, batch_id)
# stamp is a no-op — the crash-between-append-and-checkpoint path). The
# oracle replays the mirrored rows relationally plus the contract
# constants (batch ids are commit sequences: 0 then 2).
# ---------------------------------------------------------------------------


@query(
    "table_mirror_feed_lifecycle",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price,
           CAST(0 AS BIGINT) AS initial_batch_id,
           CAST(2 AS BIGINT) AS incr_batch_id,
           TRUE AS drained_noop,
           TRUE AS replay_noop
    FROM orders WHERE o_orderkey < 4000
    GROUP BY o_orderstatus ORDER BY status
    """,
)
def table_mirror_feed_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.streaming.ingest import (
        mirror_into,
        table_change_feed,
    )
    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders")
    base = tempfile.mkdtemp(prefix="feedmirror_")
    template = {
        "name": "orders_feed",
        "namespace": "lakehouse",
        "columns": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "o_totalprice", "type": "double"},
        ],
    }
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    src = SnapTable.create(base + "/src", template)
    tgt = SnapTable.create(
        base + "/tgt", {**template, "name": "orders_feed_mirror"}
    )
    src.append(orders.filter(F.col("o_orderkey") < 2000).select(*cols))
    ck = base + "/ck"
    r1 = table_change_feed(spark, src, ck, mirror_into(tgt, "feed"))
    # two commits arrive; the next turn delivers BOTH as one batch whose
    # id is the head sequence (2)
    src.append(orders.filter(
        (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 3000)
    ).select(*cols))
    src.append(orders.filter(
        (F.col("o_orderkey") >= 3000) & (F.col("o_orderkey") < 4000)
    ).select(*cols))
    r2 = table_change_feed(spark, src, ck, mirror_into(tgt, "feed"))
    r3 = table_change_feed(spark, src, ck, mirror_into(tgt, "feed"))
    n_before_replay = tgt.read(spark).count()
    # exactly-once: re-delivering the increment under its txn stamp (the
    # crash-between-append-and-checkpoint replay) is a ledger no-op
    tgt.append(
        orders.filter(
            (F.col("o_orderkey") >= 2000) & (F.col("o_orderkey") < 4000)
        ).select(*cols),
        txn=("feed", r2["batch_id"]),
    )
    replay_noop = tgt.read(spark).count() == n_before_replay
    return (
        tgt.read(spark)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_price"),
        )
        .withColumn(
            "initial_batch_id", F.lit(int(r1["batch_id"])).cast("long")
        )
        .withColumn(
            "incr_batch_id", F.lit(int(r2["batch_id"])).cast("long")
        )
        .withColumn("drained_noop", F.lit(r3["batches"] == 0))
        .withColumn("replay_noop", F.lit(bool(replay_noop)))
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Branch lifecycle (SURVEY §2.10 + Nessie parity, deep-dive.md:262-303):
# fork a branch, evolve + write on it in isolation, verify main is
# untouched, merge, verify main adopted data + schema. Deterministic
# end-state summary pinned against a VALUES oracle, like the snapshot
# lifecycle query.
# ---------------------------------------------------------------------------


@query(
    "catalog_branch_lifecycle",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nat FROM nation),
         r AS (SELECT CAST(COUNT(*) AS BIGINT) AS reg FROM region)
    SELECT stage, main_nation, main_region, branch_nation, branch_region,
           region_untouched_on_branch
    FROM (
      SELECT 'forked' AS stage, n.nat AS main_nation, r.reg AS main_region,
             n.nat AS branch_nation, r.reg AS branch_region,
             TRUE AS region_untouched_on_branch
      FROM n, r
      UNION ALL
      SELECT 'branch_write', n.nat, r.reg, n.nat * 2, r.reg, TRUE FROM n, r
      UNION ALL
      SELECT 'published', n.nat * 2, r.reg, n.nat * 2, r.reg, TRUE FROM n, r
    ) ORDER BY stage
    """,
)
def catalog_branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level (multi-table) branching — the Nessie pitch lifted to
    the whole lakehouse (deep-dive.md:262-303): fork ONE catalog branch
    over nation+region, double nation on the branch while region is never
    touched (lazy per-table refs: no branch materializes for it), verify
    main is isolated, then publish. Oracle derives every count
    relationally from the source tables."""
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    lake = Lakehouse(tempfile.mkdtemp(prefix="cat_") + "/lake")
    tn = lake.create_table(
        {
            "name": "nation",
            "namespace": "lakehouse",
            "columns": [
                {"name": "n_nationkey", "type": "long"},
                {"name": "n_name", "type": "string"},
                {"name": "n_regionkey", "type": "long"},
            ],
        }
    )
    tn.append(nation)
    tr = lake.create_table(
        {
            "name": "region",
            "namespace": "lakehouse",
            "columns": [
                {"name": "r_regionkey", "type": "long"},
                {"name": "r_name", "type": "string"},
            ],
        }
    )
    tr.append(region)
    br = lake.create_branch("expansion")

    def snap(stage: str) -> tuple:
        return (
            stage,
            lake.table("nation").read(spark).count(),
            lake.table("region").read(spark).count(),
            br.table("nation").read(spark).count() if stage != "published" else lake.table("nation").read(spark).count(),
            br.table("region").read(spark).count() if stage != "published" else lake.table("region").read(spark).count(),
        )

    rows = [snap("forked")]
    br.table("nation").append(
        nation.withColumn("n_nationkey", F.col("n_nationkey") + 1000)
    )
    # region was READ through the branch (which materializes its ref) but
    # never written: its branch log must hold zero commits
    rb = lake.table("region").branch("cat-expansion")
    region_clean = len(lake.table("region")._read_log(rb.log_dir)) == 0
    rows.append(snap("branch_write"))
    br.merge()
    rows.append(snap("published"))
    return spark.createDataFrame(
        rows,
        "stage STRING, main_nation LONG, main_region LONG, "
        "branch_nation LONG, branch_region LONG",
    ).withColumn("region_untouched_on_branch", F.lit(bool(region_clean))).orderBy(
        "stage"
    )


@query(
    "branch_lifecycle",
    oracle="""
    SELECT stage,
           CAST(main_rows AS BIGINT) AS main_rows,
           CAST(branch_rows AS BIGINT) AS branch_rows,
           main_has_col, branch_has_col
    FROM (VALUES ('forked',      5,  5, false, false),
                 ('branch_write', 5, 10, false, true),
                 ('merged',      10, 10, true,  true))
         t(stage, main_rows, branch_rows, main_has_col, branch_has_col)
    ORDER BY stage
    """,
)
def branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.create(
        tempfile.mkdtemp(prefix="branchdemo_") + "/t",
        {
            "name": "branch_demo",
            "namespace": "lakehouse",
            "columns": [
                {"name": "r_regionkey", "type": "int"},
                {"name": "r_name", "type": "string"},
            ],
            "partition_spec": [],
        },
    )
    region = load_table(spark, sf_dir, "region")
    t.overwrite(region)
    br = t.create_branch("feature/add-note")

    def snap(stage: str) -> tuple:
        main_df, br_df = t.read(spark), br.read(spark)
        return (
            stage,
            main_df.count(),
            br_df.count(),
            "note" in main_df.columns,
            "note" in br_df.columns,
        )

    rows = [snap("forked")]
    br.evolve_add_column("note", "string")
    br.append(region.withColumn("note", F.lit("on-branch")))
    rows.append(snap("branch_write"))
    t.merge_branch("feature/add-note")
    rows.append(snap("merged"))
    return spark.createDataFrame(
        rows,
        "stage STRING, main_rows LONG, branch_rows LONG, "
        "main_has_col BOOLEAN, branch_has_col BOOLEAN",
    ).orderBy("stage")


# ---------------------------------------------------------------------------
# ORC write-format lifecycle (SURVEY §2.1 S7 + template property
# `write_format: orc`, reference `_schema.json:97-104` /
# `docs/table-template-reference.md:195-210`): the declared format is
# EXECUTED, not just mapped to DDL — the table's data files are physically
# ORC, hidden-partition pruning and row-level DELETE work identically to
# the parquet path, and the layout facts (all-ORC, pruned scan) are pinned
# as booleans. The oracle derives every count relationally from orders.
# ---------------------------------------------------------------------------


@query(
    "orc_table_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(COUNT(*) FILTER (WHERE o_orderdate >= DATE '1999-01-01')
                AS BIGINT) AS rows_recent,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus <> 'F') AS BIGINT)
             AS rows_after_delete,
           TRUE AS all_orc,
           TRUE AS scan_pruned
    FROM orders WHERE o_orderkey < 3000
    """,
)
def orc_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 3000
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="orc_") + "/orders_orc",
        {
            "name": "orders_orc",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
                {"name": "o_orderdate", "type": "date"},
            ],
            "partition_spec": [{"column": "o_orderdate", "transform": "year"}],
            "sort_order": [
                {"column": "o_orderkey", "direction": "asc",
                 "null_order": "nulls_last"}
            ],
            "properties": {"write_format": "orc"},
        },
    )
    t.append(orders)
    full = t.read(spark)
    rows_total = full.count()
    all_orc = all(f.endswith(".orc") for f in full.inputFiles()) and not any(
        p.suffix == ".parquet" for p in t.data_dir.rglob("*")
    )
    from datetime import date

    recent = t.read(spark, filters=[("o_orderdate", ">=", date(1999, 1, 1))])
    rows_recent = recent.count()
    # hidden partitioning: the filtered scan must touch strictly fewer
    # year directories than the full scan lists
    scan_pruned = 0 < len(set(recent.inputFiles())) < len(set(full.inputFiles()))
    t.delete_where(spark, "o_orderstatus = 'F'")
    rows_after_delete = t.read(spark).count()
    return spark.createDataFrame(
        [(rows_total, rows_recent, rows_after_delete, all_orc, scan_pruned)],
        "rows_total LONG, rows_recent LONG, rows_after_delete LONG, "
        "all_orc BOOLEAN, scan_pruned BOOLEAN",
    )


# ---------------------------------------------------------------------------
# MoR maintenance lifecycle (SURVEY §2.10 maintenance + the MoR
# read-amplification compact-cadence dial): accumulate three
# equality-delete files, audit the deferred-delete debt from metadata
# (delete-file count + deferred keys), then let the policy
# (operators/maintenance.py::maintain_mor) trip its file threshold and
# materialize. Every count is pure orders-table arithmetic for the
# oracle; the file counts are structural invariants of the lifecycle.
# ---------------------------------------------------------------------------


@query(
    "mor_maintenance_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_initial,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 IN (0, 1, 2))
                AS BIGINT) AS deferred_keys,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 7 NOT IN (0, 1, 2))
                AS BIGINT) AS rows_after,
           CAST(3 AS BIGINT) AS files_before,
           CAST(1 AS BIGINT) AS files_after_rewrite,
           TRUE AS compacted,
           CAST(0 AS BIGINT) AS files_final
    FROM orders WHERE o_orderkey < 2500
    """,
)
def mor_maintenance_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.operators.maintenance import (
        maintain_mor,
        mor_read_amplification,
    )
    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2500
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="mormaint_") + "/orders_mm",
        {
            "name": "orders_mm",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
            "identifier_fields": ["o_orderkey"],
        },
    )
    t.overwrite(orders)
    rows_initial = t.read(spark).count()
    for i in range(3):
        t.delete_where(spark, f"o_orderkey % 7 = {i}", mode="mor")
    audit = mor_read_amplification(t)
    # below both thresholds: the policy must not act
    noop = maintain_mor(spark, t, max_delete_files=10, max_delete_ratio=0.9)
    if noop["action"] != "none":
        raise RuntimeError(f"maintenance acted below thresholds: {noop}")
    # file threshold trips with a healthy key ratio -> CHEAP tier: the 3
    # delete files (one applicability group) merge into 1, no data rewrite
    tier1 = maintain_mor(spark, t, max_delete_files=3, max_delete_ratio=0.9)
    if tier1["action"] != "rewrite_deletes" or tier1["compacted"]:
        raise RuntimeError(f"expected the cheap rewrite tier, got: {tier1}")
    files_after_rewrite = len(t.current_snapshot().get("delete_dirs") or [])
    # ratio threshold trips -> full compact materializes the deletes
    tier2 = maintain_mor(spark, t, max_delete_files=10, max_delete_ratio=0.0)
    files_final = len(t.current_snapshot().get("delete_dirs") or [])
    return spark.createDataFrame(
        [(
            rows_initial,
            audit["deferred_keys"],
            t.read(spark).count(),
            audit["delete_files"],
            files_after_rewrite,
            bool(tier2["compacted"]),
            files_final,
        )],
        "rows_initial LONG, deferred_keys LONG, rows_after LONG, "
        "files_before LONG, files_after_rewrite LONG, compacted BOOLEAN, "
        "files_final LONG",
    )


# ---------------------------------------------------------------------------
# Partition-scoped compaction lifecycle (SURVEY §2.10 maintenance; Iceberg's
# rewrite_data_files-with-filter shape — the 100 TB compactor:
# delete debt concentrated in ONE day partition is materialized by
# rewriting ONLY that day's directory; every other day's files are kept as
# untouched subpath references, byte-for-byte identical by path comparison,
# and the fully-covered delete file retires from the new snapshot
# (tables/snapstore.py::_compact_partitions +
# operators/maintenance.py::maintain_mor partition tier).
# ---------------------------------------------------------------------------


@query(
    "partition_compaction_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_initial,
           CAST(COUNT(*) FILTER (WHERE CAST(ts AS DATE) = DATE '2024-01-17'
                                   AND event_type = 'click')
                AS BIGINT) AS deferred_keys,
           CAST(COUNT(*) FILTER (WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-17'
                                   AND event_type = 'click'))
                AS BIGINT) AS rows_after,
           TRUE AS debt_attributed,
           CAST(1 AS BIGINT) AS debt_leaves,
           TRUE AS partition_scoped,
           TRUE AS cold_files_untouched,
           CAST(0 AS BIGINT) AS delete_files_final,
           TRUE AS fsck_ok
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
    """,
)
def partition_compaction_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.operators.maintenance import (
        maintain_mor,
        mor_partition_debt,
    )
    from iceberg_quickstart_iac_spark.tables import SnapTable

    ev = (
        load_table(spark, sf_dir, "events", events_ts_at_least="2024-01-15")
        .filter(F.col("ts") < "2024-01-22")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="partcomp_") + "/events_pc",
        {
            "name": "events_pc",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "user_id", "type": "long"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
            "identifier_fields": ["event_id"],
            "partition_spec": [{"column": "ts", "transform": "day"}],
        },
    )
    t.overwrite(ev)
    rows_initial = t.read(spark).count()
    [d0] = t.current_snapshot()["data_dirs"]

    def _cold_files() -> list[str]:
        return sorted(
            str(p)
            for day in ("2024-01-15", "2024-01-16", "2024-01-18",
                        "2024-01-19", "2024-01-20", "2024-01-21")
            for p in (t.data_dir / d0 / f"__p_ts_day={day}").rglob("*.parquet")
        )

    cold_before = _cold_files()
    t.delete_where(
        spark,
        "CAST(ts AS DATE) = DATE '2024-01-17' AND event_type = 'click'",
        mode="mor",
    )
    prof = mor_partition_debt(t)
    out = maintain_mor(spark, t, max_delete_ratio=0.001)
    return spark.createDataFrame(
        [(
            rows_initial,
            out["deferred_keys"],
            t.read(spark).count(),
            bool(prof["attributed"]),
            len(prof["leaves"]),
            out["action"] == "compact_partitions",
            _cold_files() == cold_before,
            len(t.current_snapshot().get("delete_dirs") or []),
            bool(t.verify_integrity()["ok"]),
        )],
        "rows_initial LONG, deferred_keys LONG, rows_after LONG, "
        "debt_attributed BOOLEAN, debt_leaves LONG, partition_scoped BOOLEAN, "
        "cold_files_untouched BOOLEAN, delete_files_final LONG, fsck_ok BOOLEAN",
    )


# ---------------------------------------------------------------------------
# SQL front door (SURVEY §2 M-surface; the reference's user-facing promise
# is plain SQL against the lakehouse — the flagship example runs verbatim
# through an Athena view, docs/bring-your-own-data.md:83-90, and the
# snapshot-listing named query through a metadata table,
# aws/modules/athena/main.tf:26-67). Here: a governed SnapTable registers
# itself + its metadata tables as Spark SQL views
# (tables/snapstore.py::SnapTable.register), and the flagship SQL TEXT —
# including a metadata-table subquery — executes through spark.sql. The
# registration is reader-level, so the view plan itself drops the
# restricted user_id column before the scan.
# ---------------------------------------------------------------------------


@query(
    "flagship_sql_front_door",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(1 AS BIGINT) AS n_snapshots
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
    GROUP BY event_type
    ORDER BY n_events DESC, event_type
    """,
)
def flagship_sql_front_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    ev = (
        load_table(spark, sf_dir, "events", events_ts_at_least="2024-01-15")
        .filter(F.col("ts") < "2024-01-22")
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="sqlfd_") + "/events_fd",
        {
            "name": "events_fd",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "user_id", "type": "long", "access_level": "restricted"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
        },
    )
    t.overwrite(ev)
    # metadata_tables now defaults OFF for reader registrations (their
    # __files bounds/__partitions values are redacted when opted in); this
    # query joins __snapshots, so opt in explicitly
    t.register(
        spark, name="events_fd", access_level="reader", metadata_tables=True
    )
    # reader governance holds at the SQL surface: the restricted column is
    # not even nameable through the view (explicit raise, not assert — the
    # gate query must keep checking under python -O)
    if "user_id" in spark.sql("SELECT * FROM events_fd").columns:
        raise RuntimeError(
            "reader registration leaked restricted column user_id"
        )
    # the flagship query text, verbatim SQL, with the snapshot-listing
    # metadata table joined in the same statement
    return spark.sql(
        """
        SELECT e.event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
               MAX(s.n) AS n_snapshots
        FROM events_fd e
        CROSS JOIN (SELECT COUNT(*) AS n FROM events_fd__snapshots) s
        GROUP BY e.event_type
        ORDER BY n_events DESC, event_type
        """
    )


# ---------------------------------------------------------------------------
# Head-following SQL registrations (round 8; Athena's contract is that a
# query always reads the table's CURRENT committed state,
# aws/modules/athena/main.tf:26-67 — a view that pins registration-time
# snapshots serves stale rows after the next ingest). register(
# follow_head=True) re-resolves the view on every commit through _commit
# (tables/snapstore.py::_refresh_head_registrations): the same spark.sql
# text serves v1 before the append, v2 after it, and the MoR state after
# an equality-delete commit — no manual re-register anywhere.
# ---------------------------------------------------------------------------


@query(
    "sql_view_follows_head",
    oracle="""
    SELECT
      CAST(COUNT(*) FILTER (WHERE event_id % 3 <> 0) AS BIGINT) AS n_v1,
      CAST(COUNT(*) AS BIGINT) AS n_v2,
      CAST(COUNT(*) FILTER (WHERE event_id % 2 <> 0) AS BIGINT) AS n_after_delete,
      TRUE AS followed_without_reregister
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
    """,
)
def sql_view_follows_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    ev = (
        load_table(spark, sf_dir, "events", events_ts_at_least="2024-01-15")
        .filter(F.col("ts") < "2024-01-22")
        .select("event_id", "ts", "event_type", "value")
    )
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="fhview_") + "/events_fh",
        {
            "name": "events_fh",
            "namespace": "lakehouse",
            "columns": [
                {"name": "event_id", "type": "long"},
                {"name": "ts", "type": "timestamp"},
                {"name": "event_type", "type": "string"},
                {"name": "value", "type": "double"},
            ],
            "identifier_fields": ["event_id"],
        },
    )
    t.overwrite(ev.filter(F.col("event_id") % 3 != 0))
    t.register(
        spark, name="events_fh", follow_head=True, metadata_tables=False
    )
    count_sql = "SELECT COUNT(*) AS n FROM events_fh"
    n_v1 = spark.sql(count_sql).first().n
    # ingest lands; the SAME SQL text must see the new rows
    t.append(ev.filter(F.col("event_id") % 3 == 0))
    n_v2 = spark.sql(count_sql).first().n
    # the MoR path: an equality-delete commit surfaces through the view too
    t.delete_where(spark, "event_id % 2 = 0", mode="mor")
    n_after_delete = spark.sql(count_sql).first().n
    t.unregister(spark, "events_fh")
    return spark.createDataFrame(
        [(n_v1, n_v2, n_after_delete, n_v2 > n_v1 and n_after_delete < n_v2)],
        "n_v1 LONG, n_v2 LONG, n_after_delete LONG, "
        "followed_without_reregister BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Time-travel named query through the SQL front door (round 8): the Athena
# named-query set includes FOR SYSTEM_VERSION AS OF
# (aws/modules/athena/main.tf:62-65). Here both the current head and a
# pinned earlier snapshot register as views, and ONE SQL statement joins
# them to prove the per-status delta between the two versions — the
# "compare what changed since the last publish" audit shape.
# ---------------------------------------------------------------------------


@query(
    "time_travel_sql_named_query",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_current,
           CAST(COUNT(*) FILTER (WHERE o_orderkey < 1000) AS BIGINT) AS n_v1,
           CAST(COUNT(*) FILTER (WHERE o_orderkey >= 1000) AS BIGINT) AS delta
    FROM orders
    WHERE o_orderkey < 2000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def time_travel_sql_named_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="ttsql_") + "/orders_tt",
        {
            "name": "orders_tt",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    t.overwrite(orders.filter(F.col("o_orderkey") < 1000))
    v1 = t.current_snapshot()["snapshot_id"]
    t.append(orders.filter(F.col("o_orderkey") >= 1000))
    t.register(spark, name="tt_orders", metadata_tables=False)
    t.register(
        spark, name="tt_orders_v1", snapshot_id=v1, metadata_tables=False
    )
    # one statement over both versions: FOR SYSTEM_VERSION AS OF, rendered
    # as a registered as-of view joined against the head
    return spark.sql(
        """
        SELECT cur.o_orderstatus,
               cur.n AS n_current,
               COALESCE(v1.n, CAST(0 AS BIGINT)) AS n_v1,
               cur.n - COALESCE(v1.n, CAST(0 AS BIGINT)) AS delta
        FROM (SELECT o_orderstatus, COUNT(*) AS n
              FROM tt_orders GROUP BY o_orderstatus) cur
        LEFT JOIN (SELECT o_orderstatus, COUNT(*) AS n
                   FROM tt_orders_v1 GROUP BY o_orderstatus) v1
          ON cur.o_orderstatus = v1.o_orderstatus
        ORDER BY cur.o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# Changelog through the SQL front door (round 8): read_changes (Delta CDF /
# Iceberg changelog-scan analog, tables/snapstore.py::read_changes)
# registers as a <name>__changes view, so "what changed since the last
# publish" is a plain SQL GROUP BY — the audit query a downstream consumer
# runs before accepting a new version. The overwrite here both deletes
# (every 5th key) and inserts (a new key range); UPDATE pairs would
# surface as delete+insert.
# ---------------------------------------------------------------------------


@query(
    "changelog_sql_view",
    oracle="""
    SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey < 1500 AND o_orderkey % 5 = 0
    UNION ALL
    SELECT 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 1800
    ORDER BY change_type
    """,
)
def changelog_sql_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 1800
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="clview_") + "/orders_cl",
        {
            "name": "orders_cl",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long"},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
        },
    )
    t.overwrite(orders.filter(F.col("o_orderkey") < 1500))
    v1 = t.current_snapshot()["snapshot_id"]
    # the next publish drops every 5th key and lands a new key range
    t.overwrite(
        orders.filter(
            ((F.col("o_orderkey") < 1500) & (F.col("o_orderkey") % 5 != 0))
            | (F.col("o_orderkey") >= 1500)
        )
    )
    t.register_changes(spark, from_snapshot_id=v1, name="orders_cl")
    return spark.sql(
        """
        SELECT _change_type AS change_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_cl__changes
        GROUP BY _change_type
        ORDER BY change_type
        """
    )


# ---------------------------------------------------------------------------
# Follow-head changelog view (round 9;
# snapstore.py::register_changes(follow_head=True)): the live-CDC-feed
# shape, Delta CDF's readChangeFeed + startingVersion. The view is
# registered ONCE after the anchor snapshot; two later commits (an
# append, then a MoR delete) must surface through it with NO re-register
# — the interval end re-resolves per commit. The oracle replays both
# commits' deltas from the orders table.
# ---------------------------------------------------------------------------


@query(
    "changelog_follow_head_view",
    oracle="""
    SELECT 'insert' AS change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_price
    FROM orders
    WHERE o_orderkey >= 900 AND o_orderkey < 1200
    UNION ALL
    SELECT 'delete',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
    FROM orders
    WHERE o_orderkey < 900 AND o_orderkey % 7 = 0
    ORDER BY change_type
    """,
)
def changelog_follow_head_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import SnapTable

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 1200
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = SnapTable.create(
        tempfile.mkdtemp(prefix="clfh_") + "/orders_clfh",
        {
            "name": "orders_clfh",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long", "required": True},
                {"name": "o_orderstatus", "type": "string"},
                {"name": "o_totalprice", "type": "double"},
            ],
            "identifier_fields": ["o_orderkey"],
        },
    )
    t.overwrite(orders.filter(F.col("o_orderkey") < 900))
    v1 = t.current_snapshot()["snapshot_id"]
    # register ONCE at the anchor…
    t.register_changes(
        spark, from_snapshot_id=v1, name="orders_clfh", follow_head=True
    )
    # …then commit twice: the view must pick BOTH up with no re-register
    t.append(orders.filter(F.col("o_orderkey") >= 900))
    t.delete_where(spark, "o_orderkey % 7 = 0 AND o_orderkey < 900", mode="mor")
    out = spark.sql(
        """
        SELECT _change_type AS change_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS sum_price
        FROM orders_clfh__changes
        GROUP BY _change_type
        ORDER BY change_type
        """
    )
    # the temp view survives the query (the driver collects later); the
    # registration spec dies with the table's temp root — but drop the
    # follow-head tracking now so later commits in shared test sessions
    # never touch a stale SparkSession
    out = out.localCheckpoint()
    t.unregister(spark, "orders_clfh")
    return out


# ---------------------------------------------------------------------------
# Training-shard export (round 8; the LLM pipeline's last mile,
# operators/sampling.py::assign_training_shards / shard_manifest):
# deterministic hash-mod sharding of the curated corpus into trainer
# streams — expected-balanced, zero global coordination, engine-portable
# (the oracle replays the exact Knuth arithmetic), with a per-shard
# manifest a data loader validates before a run.
# ---------------------------------------------------------------------------


@query(
    "training_shard_stats",
    oracle="""
    SELECT CAST(((doc_id * 2654435761) % 4294967296) % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY 1
    ORDER BY shard
    """,
)
def training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.sampling import (
        assign_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_training_shards(docs, n_shards=8, id_col="doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Persisted ANN index lifecycle (SURVEY §2.13 X26 production shape,
# operators/ann_index.py): train+materialize an IVF-PQ index table, then
# ADD a batch with the STORED model (FAISS add-after-train — no refit, no
# touch of existing rows), and verify a clone of an indexed vector is
# found by the search. Built in a fresh temp root each run (the extend
# commit must not pollute the shared fit-once index the topk query
# serves from). Counts are pure embeddings-table arithmetic; the model
# invariants are structural booleans.
# ---------------------------------------------------------------------------


@query(
    "ann_index_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_indexed,
           CAST(COUNT(*) FILTER (WHERE vec_id < 40) AS BIGINT) AS n_added,
           TRUE AS model_stable,
           TRUE AS added_by_append,
           TRUE AS clone_found
    FROM embeddings WHERE vec_id < 1200
    """,
)
def ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    from pathlib import Path

    from iceberg_quickstart_iac_spark.operators.ann_index import (
        extend_ivfpq_index,
        load_ivfpq_index,
        load_or_build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 1200
    )
    conf = {
        "n_cells": _IVF_CONF["n_cells"], "m": _PQ_CONF["m"],
        "n_codes": _PQ_CONF["n_codes"],
        "ivf_max_iter": _IVF_CONF["max_iter"],
        "pq_max_iter": _PQ_CONF["max_iter"],
        "ivf_seed": _IVF_CONF["seed"], "pq_seed": _PQ_CONF["seed"],
        # production encode path (Arrow-batched GEMM): this lifecycle's
        # oracle pins counts + structural booleans, not code values (the
        # gemm==fold equivalence is pinned separately in tests), so the
        # certified query exercises the path a cluster would run
        "fit_sample": _IVF_CONF["fit_sample"], "assign": "gemm",
    }
    root = Path(tempfile.mkdtemp(prefix="annlc_")) / "idx"
    t, centroids, books = load_or_build_ivfpq_index(spark, emb, root, **conf)
    n_indexed = t.read(spark).count()
    # add-after-train: clones of the first 40 vectors under fresh ids
    clones = emb.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"), "embedding"
    )
    pre_snap = t.current_snapshot()["snapshot_id"]
    extend_ivfpq_index(spark, root, clones)
    t2, cent2, books2 = load_ivfpq_index(root)
    model_stable = (cent2 == centroids) and (books2 == books)
    head = t2.current_snapshot()
    added_by_append = (
        head["operation"] == "append" and head["parent_id"] == pre_snap
    )
    n_added = head["row_count"] - n_indexed
    # the clone of vec 7 carries vec 7's exact vector: identical ADC
    # distance, so both must surface in the top-k of that vector's query
    qv = [float(x) for x in
          emb.filter("vec_id = 7").collect()[0]["embedding"]]
    hits = {
        r["vec_id"]
        for r in query_ivfpq_index(
            spark, root, [(7, qv)], k=10, nprobe=conf["n_cells"]
        ).collect()
    }
    clone_found = 10_000_007 in hits and 7 in hits
    return spark.createDataFrame(
        [(n_indexed, n_added, bool(model_stable), bool(added_by_append),
          bool(clone_found))],
        "n_indexed LONG, n_added LONG, model_stable BOOLEAN, "
        "added_by_append BOOLEAN, clone_found BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate spans (round 10; SURVEY §2.13 extension X38 —
# operators/dedup.py::repeated_window_spans): the window-hash cluster
# formulation of suffix-array exact-substring dedup (Lee et al. 2022).
# Every 5-token window occurring >= 2 times anywhere in the corpus marks
# a duplicated region; marked windows merge into maximal per-doc spans.
# Integer-exact throughout (positions, counts, coverage) — the oracle
# replays the identical window/frequency/gaps-and-islands arithmetic.
# ---------------------------------------------------------------------------


@query(
    "doc_repeated_substrings",
    oracle=r"""
    WITH arrs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    docs2 AS (SELECT doc_id, toks, len(toks) AS n FROM arrs WHERE len(toks) >= 5),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(toks[i : i + 4], ' ') AS win
      FROM docs2, LATERAL unnest(generate_series(1, n - 4)) g(i)
    ),
    dup AS (SELECT win FROM wins GROUP BY win HAVING COUNT(*) >= 2),
    marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (win)),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > 5 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM marked)
    ),
    spans AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e, COUNT(*) AS nw
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
           CAST(SUM(e - s + 5) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import (
        repeated_window_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_window_spans(
        docs, "doc_id", "text", w=5, min_count=2
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25 lexical search (round 10; SURVEY §2.13 extension X39 —
# operators/retrieval.py): term-weighted corpus search with the ratio-idf
# BM25 variant chosen for cross-engine bit-exactness (all inputs exact
# integers; only correctly-rounded IEEE double * and / — no ln). The
# oracle evaluates the byte-identical scoring expression.
# ---------------------------------------------------------------------------

_BM25_TERMS = ("vector", "merge", "window")
_BM25_TERM_SQL = """
         (((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
          * (2.2 * CAST(tf AS DOUBLE)))
         / (CAST(tf AS DOUBLE) + 0.3
            + (0.9 * ((CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
                      / CAST(total_tokens AS DOUBLE))))
"""
_BM25_CTES = rf"""
    toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           LATERAL unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) t(tok)
      WHERE t.tok <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('vector', 'merge', 'window')
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id, {_BM25_TERM_SQL} AS term_score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), corpus
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS score,
             COUNT(*) AS matched_terms
      FROM scored GROUP BY doc_id
    )
"""


@query(
    "bm25_doc_search",
    oracle=f"""
    WITH {_BM25_CTES}
    SELECT doc_id, score, matched_terms, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 15
    ORDER BY rank
    """,
)
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.retrieval import (
        bm25_scores,
        top_k_ranks,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = bm25_scores(docs, list(_BM25_TERMS))
    return top_k_ranks(scored, 15).select(
        "doc_id", "score", "matched_terms", "rank"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Hybrid retrieval via reciprocal-rank fusion (round 10; X39 —
# operators/retrieval.py::rrf_fuse): the BM25 top-100 fused with the
# exact-cosine top-100 for one query (terms + the embedding of vec 3),
# rrf = sum of 1/(60+rank) over the lists — the standard hybrid-search
# serving shape. Reciprocals are exact-integer IEEE divisions, so the
# fused score hashes identically across engines.
# ---------------------------------------------------------------------------


@query(
    "hybrid_rrf_search",
    oracle=f"""
    WITH {_BM25_CTES},
    lex AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_lex
      FROM agg QUALIFY rank_lex <= 100
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 3),
    cos AS (
      SELECT vec_id AS doc_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank_vec
      FROM (
        SELECT c.vec_id,
               list_sum(list_transform(list_zip(c.embedding, q.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(c.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                  * sqrt(list_sum(list_transform(q.qv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cosine
        FROM embeddings c, q
      ) QUALIFY rank_vec <= 100
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, cos.doc_id) AS doc_id, rank_lex, rank_vec,
             (CASE WHEN rank_lex IS NULL THEN 0.0
                   ELSE 1.0 / (60.0 + CAST(rank_lex AS DOUBLE)) END)
             + (CASE WHEN rank_vec IS NULL THEN 0.0
                     ELSE 1.0 / (60.0 + CAST(rank_vec AS DOUBLE)) END) AS rrf
      FROM lex FULL OUTER JOIN cos ON lex.doc_id = cos.doc_id
    )
    SELECT doc_id, rank_lex, rank_vec, rrf,
           ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank
    FROM fused QUALIFY rank <= 10
    ORDER BY rank
    """,
)
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.retrieval import (
        bm25_scores,
        rrf_fuse,
        top_k_ranks,
    )
    from iceberg_quickstart_iac_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lex = top_k_ranks(bm25_scores(docs, list(_BM25_TERMS)), 100)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    vec = cosine_topk(emb, queries_df, k=100).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = rrf_fuse(lex, vec, "doc_id", k=60)
    from pyspark.sql import Window as _W

    ranked = fused.withColumn(
        "rank", F.row_number().over(_W.orderBy(F.desc("rrf"), F.col("doc_id")))
    )
    return ranked.filter(F.col("rank") <= 10).select(
        "doc_id", "rank_lex", "rank_vec", "rrf", "rank"
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# CTAS / TRUNCATE lifecycle (round 10, extended round 11;
# tables/sql_ddl.py): CREATE TABLE AS SELECT infers the schema from the
# query and populates the table in one statement (Athena/Spark CTAS —
# the reference's named-query users create derived tables exactly this
# way; the reference's own Athena CTAS workflow in
# docs/bring-your-own-data.md creates PARTITIONED tables, so the round-11
# form is a PARTITIONED BY + TBLPROPERTIES CTAS whose partition dirs are
# proven through the __partitions metadata view and whose inferred schema
# carries source nullability: COUNT(*) is non-nullable → required).
# TRUNCATE is a zero-file overwrite commit that PRESERVES history, and
# the re-INSERT + aggregate certify the statement sequence end-to-end.
# The oracle replays the statements relationally. Float sums follow the
# decimal policy.
# ---------------------------------------------------------------------------


@query(
    "sql_ctas_lifecycle",
    oracle="""
    WITH ctas AS (
      SELECT o_orderstatus AS status,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS total_price
      FROM orders WHERE o_orderkey < 700
      GROUP BY o_orderstatus
    ),
    reinsert AS (
      SELECT status, n, total_price FROM ctas WHERE status = 'O'
    )
    SELECT CAST((SELECT COUNT(*) FROM ctas) AS BIGINT) AS n_after_ctas,
           CAST((SELECT SUM(n) FROM ctas) AS BIGINT) AS rows_summed,
           CAST((SELECT COUNT(DISTINCT status) FROM ctas) AS BIGINT)
             AS n_partition_dirs,
           CAST(1 AS BIGINT) AS n_required_cols,
           TRUE AS props_roundtrip,
           CAST(0 AS BIGINT) AS n_after_truncate,
           CAST((SELECT COUNT(*) FROM reinsert) AS BIGINT)
             AS n_after_reinsert,
           CAST((SELECT SUM(CAST(total_price AS DECIMAL(18,6)))
                 FROM reinsert) AS DOUBLE) AS reinserted_price
    """,
)
def sql_ctas_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="ctas_") + "/lake")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("orders_ctas_src")
    r = lake.sql(spark, """
        CREATE TABLE status_rollup
        PARTITIONED BY (status)
        TBLPROPERTIES ('commit.retry.num-retries'='7')
        AS
        SELECT o_orderstatus AS status,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                 AS total_price
        FROM orders_ctas_src WHERE o_orderkey < 700
        GROUP BY o_orderstatus
    """)
    n_after_ctas = r["row_count"]
    meta = lake.table("status_rollup").meta
    n_required_cols = sum(
        1 for c in meta["columns"] if c.get("required")
    )
    props_roundtrip = (
        meta.get("properties", {}).get("commit_num_retries") == "7"
    )
    # partitioned CTAS writes hidden-partition dirs: the __partitions
    # metadata view (one row per live partition) proves the layout
    n_partition_dirs = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM status_rollup__partitions"
    ).first().n
    rows_summed = lake.sql(
        spark, "SELECT CAST(SUM(n) AS BIGINT) AS s FROM status_rollup"
    ).first().s
    lake.sql(spark, "TRUNCATE TABLE status_rollup")
    n_after_truncate = lake.sql(
        spark, "SELECT COUNT(*) AS n FROM status_rollup"
    ).first().n
    # re-populate THROUGH the DML front door from the pre-truncate
    # snapshot via time travel (version 0 = the CTAS commit)
    lake.sql(spark, """
        INSERT INTO status_rollup
        SELECT status, n, total_price
        FROM status_rollup FOR VERSION AS OF 0
        WHERE status = 'O'
    """)
    row = lake.sql(spark, """
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(total_price AS DECIMAL(18,6))) AS DOUBLE) AS p
        FROM status_rollup
    """).first()
    out = spark.createDataFrame(
        [(
            n_after_ctas,
            rows_summed,
            int(n_partition_dirs),
            int(n_required_cols),
            bool(props_roundtrip),
            n_after_truncate,
            row.n,
            row.p,
        )],
        "n_after_ctas LONG, rows_summed LONG, n_partition_dirs LONG, "
        "n_required_cols LONG, props_roundtrip BOOLEAN, "
        "n_after_truncate LONG, n_after_reinsert LONG, "
        "reinserted_price DOUBLE",
    ).localCheckpoint()
    lake.table("status_rollup").unregister(spark, "status_rollup")
    lake.sql(spark, "DROP TABLE status_rollup")
    spark.catalog.dropTempView("orders_ctas_src")
    return out


# ---------------------------------------------------------------------------
# Canonical-representative selection (round 10, rebuilt round 11;
# SURVEY §2.13 X40 — operators/dedup.py::canonical_per_cluster): the
# 'keep the best copy' step a dedup pipeline ends with — per near-dup
# cluster keep the highest-quality member (ties → lowest id), report
# what got removed. The r10 form re-ran the full shingle/LSH funnel to
# get its clusters — the SAME cost center `near_dup_doc_clusters` and
# `corpus_curation_pipeline` already certify, paid a third time (~4 s of
# bench for zero new verification). The
# r11 form builds PLANTED chain clusters instead (doc_id % 97 groups,
# consecutive-member edges), which still forces real transitive closure
# through near_dup_clusters (a ~20-hop chain per group — min-label must
# propagate end to end) but costs one window instead of a shingle
# self-join. The NEW logic this entry certifies — the quality join +
# sort-free max(struct(quality, -id)) selection + tie-breaks — is
# unchanged and runs on the same real quality scores.
# ---------------------------------------------------------------------------


@query(
    "near_dup_canonical_docs",
    oracle=r"""
    WITH members AS (
      SELECT doc_id, doc_id % 97 AS g
      FROM documents WHERE doc_id < 2000
    ),
    clusters AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY g) AS cluster_id
      FROM members
    ),
    quality AS (
      SELECT doc_id,
             0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 10000 THEN 1.0
                          ELSE least(n_chars / 50.0, 1.0) END)
           + 0.25 * (n_alpha / greatest(n_chars, 1))
           + 0.15 * (CASE WHEN (n_punct / greatest(n_chars, 1)) <= 0.1
                          THEN 1.0 ELSE 0.2 END)
           + 0.15 * (CASE WHEN n_chars / greatest(len(toks), 1) >= 3
                           AND n_chars / greatest(len(toks), 1) <= 12
                          THEN 1.0 ELSE 0.3 END)
           + 0.20 * (len(list_distinct(toks)) / greatest(len(toks), 1))
             AS quality
      FROM (
        SELECT doc_id,
               length(text) AS n_chars,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
               len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
               len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
        FROM documents WHERE doc_id < 2000
      )
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY q.quality DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN quality q USING (doc_id)
    )
    SELECT cluster_id,
           doc_id AS canonical_id,
           quality AS canonical_quality,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_removed
    FROM ranked WHERE rn = 1
    ORDER BY cluster_id
    """,
)
def near_dup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.dedup import (
        canonical_per_cluster,
        near_dup_clusters,
    )
    from iceberg_quickstart_iac_spark.operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2000
    )
    # planted chain clusters: consecutive members of each doc_id%97 group
    # pair up, so components only resolve through REAL transitive closure
    # (each cluster is a ~20-hop chain, never a direct clique)
    members = docs.select("doc_id", (F.col("doc_id") % 97).alias("g"))
    w = W.partitionBy("g").orderBy("doc_id")
    pairs = (
        members.withColumn("prev", F.lag("doc_id").over(w))
        .filter(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    clusters = near_dup_clusters(pairs, None, "doc_id")
    scores = docs.select(
        "doc_id", quality_score("text").alias("quality")
    )
    return canonical_per_cluster(
        clusters.select("doc_id", "cluster_id"), scores
    ).orderBy("cluster_id")


# ---------------------------------------------------------------------------
# PCA projection (round 10; SURVEY §2.13 X41 —
# operators/similarity.py::fit_pca/pca_project): dimensionality
# reduction over the embedding corpus — fit on a driver-bounded sample
# (ORDER BY vec_id LIMIT 200, the same fit-once shape as the IVF/PQ
# quantizers), project every vector map-only (codegen fold per
# component, no shuffle). The oracle refits the SAME sample with the
# SAME pure-numpy eigh (sign-fixed) and renders the component/mean-dot
# literals, so pc values hash bit-identically (the fold parity is the
# LSH plane-dot pattern, already pinned).
# ---------------------------------------------------------------------------

_PCA_FIT_N = 200
_PCA_K = 2


def _pca_fit_for_gate() -> tuple[list, list, list]:
    import duckdb
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import fit_pca

    sf_dir = _gate_sf_dir()
    con = duckdb.connect()
    try:
        rows = con.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
            f"ORDER BY vec_id LIMIT {_PCA_FIT_N}"
        ).fetchall()
    finally:
        con.close()
    mat = np.array([r[0] for r in rows], dtype="float64")
    return fit_pca(mat, _PCA_K)


def _pca_oracle_sql() -> str:
    mean, comps, _ = _pca_fit_for_gate()

    def dot(plane: list) -> str:
        lits = (
            "CAST(["
            + ", ".join("'" + repr(float(x)) + "'" for x in plane)
            + "] AS DOUBLE[])"
        )
        return (
            f"list_sum(list_transform(list_zip(embedding, {lits}), "
            f"p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )

    pcs = []
    for i, comp in enumerate(comps, start=1):
        const = float(sum(m * c for m, c in zip(mean, comp)))
        pcs.append(
            f"({dot(comp)} - CAST('{repr(const)}' AS DOUBLE)) AS pc{i}"
        )
    return f"""
    SELECT vec_id, label, {', '.join(pcs)}
    FROM embeddings
    ORDER BY vec_id
    """


@query("embedding_pca_projection", oracle=_pca_oracle_sql)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import (
        fit_pca,
        pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.orderBy("vec_id").limit(_PCA_FIT_N).collect()
    mat = np.array(
        [[float(x) for x in r["embedding"]] for r in sample], dtype="float64"
    )
    mean, comps, _ = fit_pca(mat, _PCA_K)
    return (
        pca_project(emb.select("vec_id", "label", "embedding"), "embedding",
                    mean, comps)
        .select("vec_id", "label", "pc1", "pc2")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation pipeline (round 10; X42 — the capstone
# composition of the certified dedup/quality stages, in production
# order): planted exact copies → exact dedup (min-id per content
# fingerprint) → near-dup clustering over the survivors (the same
# LSH-then-verify funnel + connected components) → canonical keep
# (highest quality per cluster) → quality threshold → per-source
# survival accounting + surviving token volume. Exact copies are
# PLANTED (doc_id+10000 for doc_id % 5 = 0) because the base corpus has
# none — without them the exact stage would be a vacuous pass-through,
# certifying nothing. All counts integer; quality is bit-identical
# across engines (pinned by doc_quality_scores), so the threshold
# filter agrees row-for-row.
# ---------------------------------------------------------------------------


@query(
    "corpus_curation_pipeline",
    oracle=r"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, source, text FROM documents WHERE doc_id < 2000
      UNION ALL
      SELECT doc_id + 10000, source, text FROM documents
      WHERE doc_id < 2000 AND doc_id % 5 = 0
    ),
    base AS (
      SELECT doc_id, source, text,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM raw
    ),
    reps AS (
      SELECT doc_id, source, text, t,
             MIN(doc_id) OVER (PARTITION BY md5(t)) AS rep
      FROM base
    ),
    s1 AS (SELECT doc_id, source, text, t FROM reps WHERE doc_id = rep),
    sh AS (
      SELECT DISTINCT doc_id, substr(t, CAST(u.i AS INTEGER), 5) AS s
      FROM s1, LATERAL unnest(range(1, greatest(length(t) - 4, 1) + 1)) u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE c / (na.n + nb.n - c) >= 0.7
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
      FROM reach GROUP BY src
    ),
    quality AS (
      SELECT doc_id,
             0.25 * (CASE WHEN n_chars >= 50 AND n_chars <= 10000 THEN 1.0
                          ELSE least(n_chars / 50.0, 1.0) END)
           + 0.25 * (n_alpha / greatest(n_chars, 1))
           + 0.15 * (CASE WHEN (n_punct / greatest(n_chars, 1)) <= 0.1
                          THEN 1.0 ELSE 0.2 END)
           + 0.15 * (CASE WHEN n_chars / greatest(len(toks), 1) >= 3
                           AND n_chars / greatest(len(toks), 1) <= 12
                          THEN 1.0 ELSE 0.3 END)
           + 0.20 * (len(list_distinct(toks)) / greatest(len(toks), 1))
             AS quality
      FROM (
        SELECT doc_id, length(text) AS n_chars,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks,
               len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
               len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
        FROM s1
      )
    ),
    canon AS (
      SELECT cluster_id, doc_id AS canonical_id FROM (
        SELECT c.cluster_id, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM clusters c JOIN quality q USING (doc_id)
      ) WHERE rn = 1
    ),
    s2 AS (
      SELECT s1.* FROM s1
      LEFT JOIN clusters cl USING (doc_id)
      LEFT JOIN canon ON canon.canonical_id = s1.doc_id
      WHERE cl.doc_id IS NULL OR canon.canonical_id IS NOT NULL
    ),
    s3 AS (
      SELECT s2.* FROM s2 JOIN quality q USING (doc_id)
      WHERE q.quality >= 0.85
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(*) FILTER (WHERE EXISTS
             (SELECT 1 FROM s1 WHERE s1.doc_id = b.doc_id)) AS BIGINT)
             AS n_after_exact,
           CAST(COUNT(*) FILTER (WHERE EXISTS
             (SELECT 1 FROM s2 WHERE s2.doc_id = b.doc_id)) AS BIGINT)
             AS n_after_near_dup,
           CAST(COUNT(*) FILTER (WHERE EXISTS
             (SELECT 1 FROM s3 WHERE s3.doc_id = b.doc_id)) AS BIGINT)
             AS n_after_quality,
           CAST(SUM(CASE WHEN EXISTS
             (SELECT 1 FROM s3 WHERE s3.doc_id = b.doc_id)
             THEN len(string_split(b.t, ' ')) ELSE 0 END) AS BIGINT)
             AS surviving_tokens
    FROM base b GROUP BY b.source ORDER BY b.source
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2000
    ).select("doc_id", "source", "text")
    planted = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "source", "text"
    )
    return curation_stages(docs.unionByName(planted))


def curation_stages(raw: DataFrame) -> DataFrame:
    """The composed curation pipeline over any (doc_id, source, text)
    corpus: exact dedup → near-dup canonical keep → quality gate →
    per-source survival rollup. Split out from the catalog entry (which
    caps its input for oracle-replay cost) so the SAME composition can
    run unblocked at factor× corpora — the localCheckpoint feeding 4
    consumers is exactly what changes behavior at 100 TB."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        canonical_per_cluster,
        lsh_screened_pairs,
        minhash_signatures,
        near_dup_clusters,
        verify_pairs_exact_jaccard,
    )
    from iceberg_quickstart_iac_spark.operators.text import (
        content_md5,
        quality_score,
        word_tokens,
    )
    from pyspark.sql import Window as _W

    # stage 1: exact dedup — min-id representative per content fingerprint
    reps = raw.withColumn(
        "__rep",
        F.min("doc_id").over(_W.partitionBy(content_md5(F.col("text")))),
    )
    s1 = reps.filter(F.col("doc_id") == F.col("__rep")).drop("__rep")
    s1 = s1.localCheckpoint()  # feeds 4 downstream consumers

    # stage 2: near-dup canonical keep over the survivors (the funnel)
    sigs = minhash_signatures(s1, "doc_id", "text", num_perm=63)
    screened = lsh_screened_pairs(
        sigs, "doc_id", bands=21, num_perm=63, min_est=0.4
    ).localCheckpoint()
    pairs = verify_pairs_exact_jaccard(
        screened, s1, "doc_id", "text", threshold=0.7
    )
    clusters = near_dup_clusters(pairs, None, "doc_id").select(
        "doc_id", "cluster_id"
    )
    quality = s1.select("doc_id", quality_score("text").alias("quality"))
    canon = canonical_per_cluster(clusters, quality)
    s2 = s1.join(clusters, "doc_id", "left_anti").unionByName(
        s1.join(
            canon.select(F.col("canonical_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
    )

    # stage 3: quality gate
    s3 = s2.join(quality, "doc_id").filter(F.col("quality") >= 0.85)

    def per_source(df: DataFrame, alias: str) -> DataFrame:
        return df.groupBy("source").agg(F.count(F.lit(1)).alias(alias))

    tokens = s3.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_after_quality"),
        F.sum(F.size(word_tokens(F.col("text")))).alias("surviving_tokens"),
    )
    out = (
        per_source(raw, "n_raw")
        .join(per_source(s1, "n_after_exact"), "source", "left")
        .join(per_source(s2, "n_after_near_dup"), "source", "left")
        .join(tokens, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_after_exact", F.lit(0)).alias("n_after_exact"),
            F.coalesce("n_after_near_dup", F.lit(0)).alias(
                "n_after_near_dup"
            ),
            F.coalesce("n_after_quality", F.lit(0)).alias("n_after_quality"),
            F.coalesce("surviving_tokens", F.lit(0)).alias(
                "surviving_tokens"
            ),
        )
        .orderBy("source")
    )
    return out


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten lifecycle (round 10; G6 — the governance
# flow the reference's column-policy + retention knobs exist to serve):
# row-level DELETE of a data subject's rows (CoW rewrite), then the
# COMPLIANCE GAP made explicit — the pre-delete snapshot still serves
# the erased rows through time travel — then retention-expire closes it
# (expire_snapshots(max_age_ms=0) keeps only the head, deletes the
# orphaned pre-delete files) and the old snapshot becomes unreachable.
# Counts + reachability booleans pin every step; the oracle replays the
# counts relationally.
# ---------------------------------------------------------------------------


@query(
    "gdpr_erasure_lifecycle",
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey < 800) AS BIGINT)
        AS n_before,
      CAST((SELECT COUNT(*) FROM orders
            WHERE o_orderkey < 800 AND o_custkey % 50 = 7) AS BIGINT)
        AS n_subject_rows,
      CAST((SELECT COUNT(*) FROM orders
            WHERE o_orderkey < 800 AND o_custkey % 50 <> 7) AS BIGINT)
        AS n_after,
      TRUE AS pre_delete_still_visible,
      CAST(1 AS BIGINT) AS snapshots_after_expire,
      TRUE AS erased_everywhere
    """,
)
def gdpr_erasure_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="gdpr_") + "/lake")
    t = lake.create_table(
        {
            "name": "orders_gdpr",
            "namespace": "lakehouse",
            "columns": [
                {"name": "o_orderkey", "type": "long", "required": True},
                {"name": "o_custkey", "type": "long"},
                {"name": "o_totalprice", "type": "double"},
            ],
        }
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).filter(F.col("o_orderkey") < 800)
    t.overwrite(orders)
    pre = t.current_snapshot()["snapshot_id"]
    n_before = t.read(spark).count()
    subject = "o_custkey % 50 = 7"
    n_subject = t.read(spark).filter(subject).count()
    t.delete_where(spark, subject, mode="cow")
    n_after = t.read(spark).count()
    # the compliance gap: time travel still serves the erased rows
    pre_visible = (
        t.read(spark, snapshot_id=pre).filter(subject).count() == n_subject
    )
    # close it: retention-expire everything but the head
    t.expire_snapshots(max_age_ms=0)
    n_snapshots = t.snapshots(spark).count()
    try:
        t.read(spark, snapshot_id=pre)
        old_reachable = True
    except Exception:
        old_reachable = False
    erased_everywhere = (
        not old_reachable
        and t.read(spark).filter(subject).count() == 0
    )
    return spark.createDataFrame(
        [
            (
                n_before,
                n_subject,
                n_after,
                bool(pre_visible),
                n_snapshots,
                bool(erased_everywhere),
            )
        ],
        "n_before LONG, n_subject_rows LONG, n_after LONG, "
        "pre_delete_still_visible BOOLEAN, snapshots_after_expire LONG, "
        "erased_everywhere BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Batch BM25 serving (round 10; X39b —
# operators/retrieval.py::bm25_batch_scores): the queries arrive as a
# (query_id, term) TABLE and one pass scores all of them — the
# production serving shape (per-query literal pivots don't scale to a
# query LOG). Top-5 per query through a per-query window (partial
# WindowGroupLimit). Same bit-exact arithmetic as bm25_doc_search.
# Oracle-replayed by pytest.
# ---------------------------------------------------------------------------


@query(
    "bm25_batch_search",
    oracle=rf"""
    WITH qt AS (
      SELECT * FROM (VALUES
        (1, 'vector'), (1, 'merge'),
        (2, 'window'), (2, 'stream'), (2, 'hash'),
        (3, 'spark')
      ) AS v(query_id, tok)
    ),
    toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           LATERAL unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) t(tok)
      WHERE t.tok <> ''
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    corpus AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN (SELECT DISTINCT tok FROM qt)
      GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT qt.query_id, tf.doc_id, {_BM25_TERM_SQL} AS term_score
      FROM tf JOIN df USING (tok) JOIN qt USING (tok)
           JOIN dl USING (doc_id), corpus
    ),
    agg AS (
      SELECT query_id, doc_id,
             CAST(SUM(CAST(term_score AS DECIMAL(18,6))) AS DOUBLE) AS score,
             COUNT(*) AS matched_terms
      FROM scored GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, score, matched_terms, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id) AS rank
      FROM agg
    ) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def bm25_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iceberg_quickstart_iac_spark.operators.retrieval import (
        bm25_batch_scores,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qt = spark.createDataFrame(
        [
            (1, "vector"), (1, "merge"),
            (2, "window"), (2, "stream"), (2, "hash"),
            (3, "spark"),
        ],
        "query_id INT, term STRING",
    )
    scored = bm25_batch_scores(docs, qt)
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "doc_id", "score", "matched_terms", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Deterministic seeded corpus shuffle + shard assignment (round 10): the
# global-shuffle step every training run starts with, made reproducible
# and cluster-scale. A seeded Knuth multiplicative hash over doc_id gives
# every doc a pseudo-random 32-bit position; the shard is the hash's HIGH
# RANGE (floor(h / 2^32 * n_shards)) and the within-shard read order is
# the hash itself — so the pipeline is ONE map-only projection + ONE
# exchange partitioned by shard + a per-partition local sort. No global
# rank, no single-partition window, no driver state: the exact plan that
# survives 100 TB (a windowed row_number over the whole corpus would
# serialize on one task). Same seed ⇒ byte-identical order on any
# cluster; a new seed reshuffles every epoch. The oracle replays the
# integer hash arithmetic exactly.
# ---------------------------------------------------------------------------


@query(
    "deterministic_corpus_shuffle",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ((doc_id % 2147483648) * 2654435761 + 99991)
               % 4294967296 AS pos
      FROM documents
    )
    SELECT CAST(pos // 536870912 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(MIN(pos) AS BIGINT) AS first_pos,
           CAST(MAX(pos) AS BIGINT) AS last_pos
    FROM h
    GROUP BY 1
    ORDER BY shard
    """,
)
def deterministic_corpus_shuffle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seeded reproducible shuffle: hash-position every doc, shard by
    hash range, summarize per shard. Reference parity: the reference's
    pipeline materializes ingest order as-is (dagster assets append in
    partition order); a training exporter needs the decorrelated order
    this provides. At scale the write would be
    ``.repartition('shard').sortWithinPartitions('pos')`` streamed to
    one file set per shard — the aggregate here certifies the exact
    same (shard, pos) assignment the writer would use."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n_shards = 8
    # overflow-safe at ANY id scale: reduce mod 2^31 BEFORE the Knuth
    # multiply so the product tops out at 2^31 * 2654435761 ≈ 5.7e18 <
    # 2^63-1 — the unreduced form errors under ANSI mode (and in the
    # DuckDB oracle) once doc_id exceeds ~3.5e9, i.e. exactly at the
    # corpus sizes this op exists for. Ids ≥ 2^31 fold into the same
    # position classes, which only interleaves their shuffle order.
    pos = (
        (F.col("doc_id") % F.lit(2147483648)) * F.lit(2654435761)
        + F.lit(99991)
    ) % F.lit(4294967296)
    return (
        docs.select("doc_id", pos.alias("pos"))
        .groupBy(
            (F.col("pos") / F.lit(4294967296 // n_shards))
            .cast("long")
            .alias("shard")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.min("pos").alias("first_pos"),
            F.max("pos").alias("last_pos"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 10): the standard re-identification metric
# for a release candidate — a row is k-anonymous when at least k rows
# share its quasi-identifier tuple. The reference's compliance guide
# drops/masks direct PII columns (docs/compliance.md; governance/access
# implements that tier); this audits what masking does NOT fix: rare
# (event_type, day) combinations that single someone out. One partial-agg
# group count + one conditional re-aggregation — two shuffles total on
# the QI key, fully codegen, O(groups) output at any scale.
# ---------------------------------------------------------------------------


@query(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS grp_n
      FROM events
      WHERE user_id IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(COALESCE(SUM(CASE WHEN grp_n < 5 THEN grp_n END), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(grp_n) AS BIGINT) AS smallest_group,
           CAST(SUM(grp_n) AS BIGINT) AS n_rows_audited
    FROM qi
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    qi = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("grp_n"))
    )
    risky = F.col("grp_n") < 5
    return qi.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(risky, 1).otherwise(0)).alias("n_risky_groups"),
        F.coalesce(
            F.sum(F.when(risky, F.col("grp_n"))), F.lit(0)
        ).alias("n_rows_at_risk"),
        F.min("grp_n").alias("smallest_group"),
        F.sum("grp_n").alias("n_rows_audited"),
    )


def _sketch_audit_agg(events: DataFrame) -> DataFrame:
    """The bounded-state sketch+exact aggregate ``sketch_accuracy_audit``
    materializes once (checkpointed — one sketch value feeds both the
    rank re-scan and the output row). Split out so the plan-pin test can
    assert the percentile_approx sketch on THIS lineage: the checkpoint
    that guarantees audited == reported also truncates the final plan,
    which would otherwise hide the aggregate from the pin.

    r14 (guide §2.5, input skew): the sketch build (QuantileSummaries
    inserts at accuracy 10⁴ + the countDistinct Expand) is the expensive
    per-row work here, and a single small parquet file — or a post-filter
    collapse — hands it to ONE task while every other core idles
    (measured 6.9 s → 1.9 s at sf0.1). Spread to full parallelism ONLY
    when the scan's split count is below the core count: the 100 TB path
    keeps its natural scan parallelism and map-side partial aggregation,
    no extra full-table shuffle. Output-identical: countDistinct/min/max/
    counts are partition-independent, HLL register-max merge is
    commutative/idempotent, and percentile_approx's VALUE (which may
    shift with partitioning) never leaves the query — only its
    rank-bracket contract does, which holds under any partitioning."""
    sc = events.sparkSession.sparkContext
    if events.rdd.getNumPartitions() < sc.defaultParallelism:
        events = events.repartition(sc.defaultParallelism)
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("hll_users"),
        F.expr("percentile_approx(value, 0.5, 10000)").alias("p50_approx"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") <= 0, 1).otherwise(0)).alias(
            "n_nonpos"
        ),
    )


# ---------------------------------------------------------------------------
# Sketch accuracy audit (round 10): the 100 TB cardinality/quantile story
# is SKETCHES (HLL++ for distinct counts, KLL-style for percentiles —
# fixed memory per partition, one merge, no exact-distinct shuffle
# explosion), but a sketch you haven't audited is a number you can't
# trust. This runs Spark's approx_count_distinct (rsd 2%) and
# percentile_approx NEXT TO the exact computations per event_type and
# emits the exact values plus within-tolerance booleans. The oracle
# replays the exact side and asserts the booleans — the sketch values
# themselves are engine-specific and deliberately not hashed.
# ---------------------------------------------------------------------------


@query(
    "sketch_accuracy_audit",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_5pct,
           CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonpos,
           TRUE AS p50_within_range
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def sketch_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit the sketches a 100 TB run relies on (HLL++ distinct counts,
    KLL/GK approximate percentiles) against bounded-state exact checks.

    Reworked r13 (the gate's touched slot): the original audited the
    approx median against ``percentile(value, 0.5)`` — EXACT percentile
    buffers every group value in executor memory, the catalog's one
    unbounded-per-group-state aggregate (at 100 TB a single event_type
    group holds billions of values; the buffer, not the data, OOMs the
    executor). The audit now verifies the sketch's OWN contract instead:
    percentile_approx(accuracy=10000) guarantees rank error <= n/10000,
    so the approx median must sit inside [v_min, v_max] with its rank
    bracket [n_lt/n, n_le/n] covering 0.5 within a 0.5% tolerance (50x
    the sketch's bound; the bracket form is tie-safe where a midrank
    comparison is not). Exact ranks need two counters per group — pass 2
    re-scans events against the broadcast 6-row stats. Two scans, all
    aggregates bounded-state; exact_users stays EXACT (count-distinct
    shuffles (type, user) pairs — distributed, never a per-group buffer).
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    )
    agg = _sketch_audit_agg(events)
    # Pin the 6-row aggregate before BOTH consumers (r14):
    # percentile_approx's sketch merge is completion-order sensitive, so
    # re-executing this lineage for the broadcast rank side could audit a
    # p50_approx that differs from the one the final projection reports.
    # localCheckpoint(eager) materializes one set of sketch values that
    # feeds both the rank re-scan and the output row.
    agg = agg.localCheckpoint(eager=True)
    ranks = (
        events.join(
            F.broadcast(agg.select("event_type", "p50_approx")), "event_type"
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("value") < F.col("p50_approx"), 1).otherwise(0)
            ).alias("n_lt"),
            F.sum(
                F.when(F.col("value") <= F.col("p50_approx"), 1).otherwise(0)
            ).alias("n_le"),
        )
    )
    return (
        agg.join(ranks, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("hll_users") - F.col("exact_users"))
                <= F.col("exact_users") * 0.05
            ).alias("hll_within_5pct"),
            "n_nonpos",
            (
                (F.col("p50_approx") >= F.col("v_min"))
                & (F.col("p50_approx") <= F.col("v_max"))
                & (F.col("n_lt") <= F.col("n_rows") * 0.505)
                & (F.col("n_le") >= F.col("n_rows") * 0.495)
            ).alias("p50_within_range"),
        )
        .orderBy("event_type")
    )
