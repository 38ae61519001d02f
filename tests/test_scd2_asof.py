"""SCD2 merge + as-of join operator tests (SURVEY §2.3 J3/J4, §2.5 W1)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.operators.asof import as_of_join
from iceberg_quickstart_iac_spark.operators.scd2 import (
    scd2_current,
    scd2_merge,
    scd2_merge_sql,
)

TS = datetime.datetime


@pytest.fixture(scope="module")
def dim(spark):
    rows = [
        (1, "k1", "alice", "active", TS(2024, 1, 1), None, True),
        (2, "k2", "bob", "active", TS(2024, 1, 1), None, True),
        (3, "k3", "carol", "active", TS(2023, 1, 1), TS(2024, 1, 1), False),
        (4, "k3", "carol", "inactive", TS(2024, 1, 1), None, True),
    ]
    return spark.createDataFrame(
        rows,
        "surrogate_key LONG, natural_key STRING, name STRING, status STRING, "
        "effective_from TIMESTAMP, effective_to TIMESTAMP, is_current BOOLEAN",
    )


@pytest.fixture(scope="module")
def merged(spark, dim):
    updates = spark.createDataFrame(
        [
            ("k1", "alice", "inactive", TS(2024, 6, 1)),  # changed status
            ("k2", "bob", "active", TS(2024, 6, 1)),      # unchanged
            ("k4", "dave", "active", TS(2024, 6, 1)),     # brand new key
        ],
        "natural_key STRING, name STRING, status STRING, effective_from TIMESTAMP",
    )
    out = scd2_merge(dim, updates, "natural_key", ["name", "status"])
    return out.cache()


def test_one_current_row_per_key(merged):
    counts = (
        merged.filter("is_current").groupBy("natural_key").count().collect()
    )
    assert all(r["count"] == 1 for r in counts)
    assert {r.natural_key for r in counts} == {"k1", "k2", "k3", "k4"}


def test_changed_key_closed_and_reopened(merged):
    k1 = merged.filter("natural_key = 'k1'").orderBy("effective_from").collect()
    assert len(k1) == 2
    closed, current = k1
    assert closed.is_current is False
    assert closed.effective_to == TS(2024, 6, 1)  # closed AT the new version's start
    assert current.is_current is True and current.status == "inactive"
    assert current.effective_from == TS(2024, 6, 1) and current.effective_to is None


def test_unchanged_key_untouched(merged, dim):
    k2 = merged.filter("natural_key = 'k2'").collect()
    assert len(k2) == 1
    assert k2[0].surrogate_key == 2 and k2[0].is_current is True


def test_new_key_inserted(merged):
    k4 = merged.filter("natural_key = 'k4'").collect()
    assert len(k4) == 1 and k4[0].is_current is True and k4[0].name == "dave"
    assert k4[0].surrogate_key is not None


def test_history_preserved(merged):
    assert merged.filter("natural_key = 'k3'").count() == 2  # closed + open rows kept
    assert merged.count() == 4 + 2  # original 4 + k1 new version + k4


def test_merge_idempotent(spark, dim, merged):
    updates = spark.createDataFrame(
        [("k1", "alice", "inactive", TS(2024, 6, 1))],
        "natural_key STRING, name STRING, status STRING, effective_from TIMESTAMP",
    )
    once = scd2_merge(dim, updates, "natural_key", ["name", "status"])
    twice = scd2_merge(once, updates, "natural_key", ["name", "status"])
    # re-applying the same batch is a no-op (same digest → untouched)
    assert twice.count() == once.count()
    assert twice.filter("is_current").count() == once.filter("is_current").count()


def test_scd2_current(merged):
    assert scd2_current(merged).count() == 4


def test_merge_sql_rendering():
    merge, insert = scd2_merge_sql(
        "lakehouse.lakehouse.scd_type2", "updates", "natural_key", ["name", "status"]
    )
    assert merge.startswith("MERGE INTO lakehouse.lakehouse.scd_type2 t")
    assert "t.is_current" in merge and "NOT (t.name <=> s.name)" in merge
    assert insert.startswith("INSERT INTO lakehouse.lakehouse.scd_type2")


# --- as-of join -----------------------------------------------------------


@pytest.fixture(scope="module")
def asof_frames(spark):
    quotes = spark.createDataFrame(
        [
            ("A", TS(2024, 1, 1, 10, 0, 0), 100.0),
            ("A", TS(2024, 1, 1, 10, 0, 5), 101.0),
            ("A", TS(2024, 1, 1, 10, 1, 0), 102.0),
            ("B", TS(2024, 1, 1, 10, 0, 2), 50.0),
        ],
        "sym STRING, qts TIMESTAMP, px DOUBLE",
    )
    trades = spark.createDataFrame(
        [
            ("A", TS(2024, 1, 1, 10, 0, 3), 10),   # matches 10:00:00 quote
            ("A", TS(2024, 1, 1, 10, 0, 5), 20),   # equal ts → inclusive match
            ("A", TS(2024, 1, 1, 9, 59, 0), 30),   # before any quote → null
            ("B", TS(2024, 1, 1, 11, 0, 0), 40),   # old quote, tolerance target
            ("C", TS(2024, 1, 1, 10, 0, 0), 50),   # key with no quotes
        ],
        "sym STRING, tts TIMESTAMP, qty INT",
    )
    return quotes, trades


def test_asof_backward_inclusive(spark, asof_frames):
    quotes, trades = asof_frames
    out = as_of_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts").collect()
    by = {(r.sym, r.qty): r for r in out}
    assert len(out) == 5  # left join keeps all trades
    assert by[("A", 10)].px == 100.0
    assert by[("A", 20)].px == 101.0  # equal-timestamp quote matches (inclusive)
    assert by[("A", 30)].px is None
    assert by[("B", 40)].px == 50.0
    assert by[("C", 50)].px is None


def test_asof_inner(asof_frames):
    quotes, trades = asof_frames
    out = as_of_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts", how="inner")
    assert out.count() == 3


def test_asof_tolerance(asof_frames):
    quotes, trades = asof_frames
    out = as_of_join(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts", tolerance_seconds=300
    ).collect()
    by = {(r.sym, r.qty): r for r in out}
    assert by[("A", 10)].px == 100.0
    assert by[("B", 40)].px is None  # 1h-old quote outside 5m tolerance


def test_asof_matches_pandas_merge_asof(spark, sf_dir_small):
    """Cross-check the union+window implementation against pandas.merge_asof
    on real event data."""
    import pandas as pd

    from iceberg_quickstart_iac_spark.datasets import load_table

    ev = load_table(spark, sf_dir_small, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    ours = (
        as_of_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="cts")
        .orderBy("user_id", "ts")
        .toPandas()
    )
    p = purchases.toPandas().sort_values("ts")
    c = clicks.toPandas().sort_values("cts")
    expected = pd.merge_asof(
        p, c, left_on="ts", right_on="cts", by="user_id", direction="backward"
    ).sort_values(["user_id", "ts"], ignore_index=True)
    assert ours["click_id"].fillna(-1).tolist() == expected["click_id"].fillna(-1).tolist()


def test_multi_row_batch_per_key_applies_only_latest(spark, dim):
    """A batch with several rows for one natural key must
    not fan out the open-row join — only the latest row per key applies, and
    exactly one is_current version survives."""
    updates = spark.createDataFrame(
        [
            ("k1", "alice", "paused", TS(2024, 3, 1)),
            ("k1", "alice", "inactive", TS(2024, 6, 1)),  # latest wins
            ("k1", "alice", "retired", TS(2024, 5, 1)),
        ],
        "natural_key STRING, name STRING, status STRING, effective_from TIMESTAMP",
    )
    out = scd2_merge(dim, updates, "natural_key", ["name", "status"]).cache()
    k1 = out.filter("natural_key = 'k1'").orderBy("effective_from").collect()
    assert len(k1) == 2  # old version closed + one new version, no duplicates
    closed, current = k1
    assert closed.is_current is False
    assert closed.effective_to == TS(2024, 6, 1)
    assert current.is_current is True
    assert current.status == "inactive"
    assert current.effective_from == TS(2024, 6, 1)
    # total row count: no duplicated untouched/superseded copies anywhere
    assert out.count() == dim.count() + 1
    assert out.filter("is_current").groupBy("natural_key").count().filter(
        "count > 1"
    ).count() == 0


def test_asof_right_column_collision_raises(spark):
    left = spark.createDataFrame(
        [(1, TS(2024, 1, 2), "x")], "k INT, ts TIMESTAMP, payload STRING"
    )
    right = spark.createDataFrame(
        [(1, TS(2024, 1, 1), "y")], "k INT, rts TIMESTAMP, payload STRING"
    )
    with pytest.raises(ValueError, match="collide"):
        as_of_join(left, right, on="k", left_ts="ts", right_ts="rts")
    # renaming clears it
    ok = as_of_join(
        left, right.withColumnRenamed("payload", "r_payload"),
        on="k", left_ts="ts", right_ts="rts",
    )
    row = ok.collect()[0]
    assert row.payload == "x" and row.r_payload == "y"
