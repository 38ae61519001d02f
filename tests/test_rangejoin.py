"""Bucketed range join (SURVEY §2.3 extension): equivalence with the naive
theta-join on every bucket-boundary configuration that matters."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.operators.rangejoin import range_join


def _ts(s):
    return datetime.fromisoformat(s)


def test_range_join_matches_naive_theta_join(spark):
    # intervals chosen to hit: same-bucket, straddling a bucket edge,
    # multi-bucket span, empty (hi < lo), exact-boundary inclusivity
    points = spark.createDataFrame(
        [
            (1, 101, _ts("2024-01-01 00:10:00")),
            (1, 102, _ts("2024-01-01 01:00:00")),
            (1, 103, _ts("2024-01-01 02:59:59")),
            (2, 201, _ts("2024-01-01 00:10:00")),
        ],
        "k long, pid long, ts timestamp",
    )
    intervals = spark.createDataFrame(
        [
            (1, 11, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:30:00")),
            (1, 12, _ts("2024-01-01 00:50:00"), _ts("2024-01-01 01:10:00")),
            (1, 13, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 03:00:00")),
            (1, 14, _ts("2024-01-01 01:00:00"), _ts("2024-01-01 01:00:00")),
            (1, 15, _ts("2024-01-01 02:00:00"), _ts("2024-01-01 01:00:00")),  # empty
            (2, 21, _ts("2024-01-01 00:10:00"), _ts("2024-01-01 00:10:00")),
        ],
        "k long, iid long, lo timestamp, hi timestamp",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(points, intervals, ["k"], "ts", "lo", "hi", bucket_s=1800).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (points.k == intervals.k) & (points.ts >= intervals.lo) & (points.ts <= intervals.hi),
        ).collect()
    )
    assert got == naive
    assert (101, 11) in got and (102, 12) in got and (102, 14) in got
    assert all(iid != 15 for _, iid in got)


def test_range_join_on_events_matches_theta_join(spark, sf_dir_small):
    from iceberg_quickstart_iac_spark.datasets import load_table

    ev = load_table(spark, sf_dir_small, "events")
    points = ev.select("user_id", F.col("event_id").alias("eid_b"), F.col("ts").alias("ts_b"))
    anchors = ev.select(
        "user_id",
        F.col("event_id").alias("eid_a"),
        F.timestamp_micros(F.unix_micros("ts") + 1).alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("hi"),
    )
    got = range_join(points, anchors, ["user_id"], "ts_b", "lo", "hi", bucket_s=3600)
    naive = (
        ev.alias("a")
        .join(
            ev.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
    )
    assert got.count() == naive.count()
    assert sorted((r.eid_a, r.eid_b) for r in got.select("eid_a", "eid_b").collect()) == sorted(
        (r.na, r.nb)
        for r in naive.select(
            F.col("a.event_id").alias("na"), F.col("b.event_id").alias("nb")
        ).collect()
    )


# ---------------------------------------------------------------------------
# followup_pair_rollup (round 13): the hour-block decomposition must equal
# the naive pair join EXACTLY — counts and µs gap sums — on data that hits
# every band edge: within-minute ties and strict order (d=0), cross-minute
# cells (d 1..59), the inclusive 1h boundary with r_b == r_a and the
# just-over-1h exclusion (d=60), multi-key isolation, dense same-minute
# bursts (the bot shape the decomposition exists for).
# ---------------------------------------------------------------------------


def _naive_pairs(ev):
    a = ev.select(
        F.col("user_id").alias("k"),
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("ts_a"),
    )
    b = ev.select(
        F.col("user_id").alias("kb"),
        F.col("event_type").alias("type_b"),
        F.col("ts").alias("ts_b"),
    )
    return (
        a.join(
            b,
            (a.k == b.kb)
            & (b.ts_b > a.ts_a)
            & (F.unix_micros(b.ts_b) <= F.unix_micros(a.ts_a) + 3_600_000_000),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.unix_micros("ts_b") - F.unix_micros("ts_a")
            ).alias("total_gap_us"),
        )
    )


def _rollup_rows(ev):
    from iceberg_quickstart_iac_spark.plans.queries import followup_pair_rollup

    return sorted(
        (r.type_a, r.type_b, r.n_pairs, r.total_gap_us)
        for r in followup_pair_rollup(ev, "user_id", "event_type", "ts").collect()
    )


def _check(spark, rows):
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    naive = sorted(
        (r.type_a, r.type_b, r.n_pairs, r.total_gap_us)
        for r in _naive_pairs(ev).collect()
    )
    assert _rollup_rows(ev) == naive


def test_followup_rollup_band_edges(spark):
    us = lambda base, micros: datetime.fromtimestamp(base + micros / 1e6)
    import calendar

    base = calendar.timegm((2024, 1, 1, 0, 0, 0))
    rows = [
        # d=0: same-minute strict order incl. an exact tie (no pair)
        (1, "a", us(base, 1_000_000)),
        (1, "b", us(base, 1_000_000)),      # tie with the row above
        (1, "b", us(base, 2_500_000)),
        # d=60 boundary: gap exactly 1h (r_b == r_a, inclusive) and
        # gap 1h + 1µs (excluded)
        (1, "c", us(base + 3600, 1_000_000)),
        (1, "c", us(base + 3600, 1_000_001)),
        # d in [1,59]: cross-minute cells
        (1, "a", us(base + 90, 0)),
        (1, "b", us(base + 1800, 123_456)),
        # second key: must not pair with key 1
        (2, "a", us(base, 500_000)),
        (2, "b", us(base + 30, 500_000)),
    ]
    _check(spark, rows)


def test_followup_rollup_matches_naive_on_random_bursts(spark):
    # seeded random corpus biased toward the adversarial shape: a hot key
    # with dense same-minute bursts, sparse keys, multi-hour spread
    import random

    rng = random.Random(20240113)
    rows = []
    for _ in range(260):
        k = rng.choice([7, 7, 7, 8, 9])      # key 7 is the bot
        typ = rng.choice(["a", "b", "c"])
        if k == 7 and rng.random() < 0.6:
            sec = rng.choice([30, 31, 3599, 3600, 3661])
            micros = rng.randrange(0, 2_000_000)
        else:
            sec = rng.randrange(0, 7200)
            micros = rng.randrange(0, 60_000_000)
        rows.append(
            (k, typ, datetime(2024, 1, 1) + __import__("datetime").timedelta(
                seconds=sec, microseconds=micros))
        )
    _check(spark, rows)


def test_followup_rollup_matches_range_join_query(spark, sf_dir_small):
    from iceberg_quickstart_iac_spark.plans.queries import queries

    q = queries(include_retired=True)
    got = sorted(
        tuple(r) for r in q["event_followup_pairs_rollup"](spark, sf_dir_small).collect()
    )
    want = sorted(
        tuple(r) for r in q["event_followup_pairs"](spark, sf_dir_small).collect()
    )
    assert got == want


def test_followup_rollup_plan_has_zero_joins(spark, sf_dir_small):
    """The hour-block decomposition is join-free: two growing-frame
    window passes (never a sliding lower bound, the alpha-1.80 shape)
    plus the final pair-type aggregate. ANY join node would mean the
    pair enumeration leaked back in."""
    from iceberg_quickstart_iac_spark.plans.queries import queries

    df = queries(include_retired=True)["event_followup_pairs_rollup"](
        spark, sf_dir_small
    )
    import re

    p = df._jdf.queryExecution().executedPlan().toString()
    assert "unboundedpreceding" in p.lower()
    joins = re.findall(
        r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|NestedLoop|CartesianProduct",
        p,
    )
    assert joins == [], joins
    assert p.count("Window") >= 2  # the two prefix bands
    assert "HashAggregate" in p


# ---------------------------------------------------------------------------
# Property check: for ANY event placement the decomposition equals the
# naive join. The strategy concentrates mass on the band boundaries
# (minutes 0/1/59/60/61 and intra-minute offsets 0/1µs/59.999999s) where
# an off-by-one in the d=0 strict order or the d=60 inclusive bound
# would hide from uniform sampling.
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_EDGE_MINUTES = [0, 1, 59, 60, 61, 120]
_EDGE_MICROS = [0, 1, 30_000_000, 59_999_999]


@settings(max_examples=10, deadline=None)
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from([1, 2]),
            st.sampled_from(["a", "b"]),
            st.one_of(
                st.sampled_from(_EDGE_MINUTES),
                st.integers(min_value=0, max_value=125),
            ),
            st.one_of(
                st.sampled_from(_EDGE_MICROS),
                st.integers(min_value=0, max_value=59_999_999),
            ),
        ),
        min_size=2,
        max_size=24,
    )
)
def test_followup_rollup_property_vs_naive(spark, events):
    from datetime import timedelta

    rows = [
        (k, t, datetime(2024, 3, 1) + timedelta(minutes=m, microseconds=us))
        for (k, t, m, us) in events
    ]
    _check(spark, rows)


def test_followup_rollup_pre_epoch_and_far_future(spark):
    """hb*H + r == t must hold for EVERY timestamp: a
    truncating cast is not floor for pre-1970 (negative µs) values, and
    double division can misround past 2^53 µs (~year 2255). The r14
    pmod + exact long `div` decomposition is verified against the naive
    join on pairs straddling the epoch and in the far-future range."""
    rows = [
        # pre-epoch block straddle: 23:30 -> 00:15 is > 1h (no pair);
        # 23:59:59 -> 00:15 and 23:30 -> 23:59:59 qualify
        (1, "a", datetime(1969, 12, 31, 23, 30, 0)),
        (1, "b", datetime(1969, 12, 31, 23, 59, 59)),
        (1, "b", datetime(1970, 1, 1, 0, 15, 0)),
        # exact 1h boundary entirely pre-epoch (inclusive)
        (2, "a", datetime(1969, 6, 1, 12, 0, 0)),
        (2, "c", datetime(1969, 6, 1, 13, 0, 0)),
        # far future, past 2^53 µs: same-block + adjacent-block pairs
        (3, "a", datetime(2260, 1, 1, 0, 10, 0)),
        (3, "b", datetime(2260, 1, 1, 0, 40, 0)),
        (3, "c", datetime(2260, 1, 1, 1, 5, 0)),
    ]
    _check(spark, rows)


def test_followup_rollup_rejects_null_types(spark):
    """NULL type values raise loudly: the naive-join semantics this
    helper reproduces WOULD pair null-typed rows, so silently dropping
    them (or crashing in the driver sort) would diverge."""
    import pytest

    from iceberg_quickstart_iac_spark.plans.queries import followup_pair_rollup

    ev = spark.createDataFrame(
        [
            (1, None, datetime(2024, 1, 1, 0, 0, 0)),
            (1, "a", datetime(2024, 1, 1, 0, 10, 0)),
        ],
        "user_id long, event_type string, ts timestamp",
    )
    with pytest.raises(ValueError, match="NULL"):
        followup_pair_rollup(ev, "user_id", "event_type", "ts")


def test_followup_rollup_rejects_high_type_cardinality(spark):
    """The distinct-type collect is limit-bounded and guarded: beyond
    max_types the helper raises instead of building an O(rows·T) plan;
    at the bound it still runs."""
    import pytest

    from iceberg_quickstart_iac_spark.plans.queries import followup_pair_rollup

    ev = spark.createDataFrame(
        [
            (1, f"t{i}", datetime(2024, 1, 1, 0, 0, i))
            for i in range(5)
        ],
        "user_id long, event_type string, ts timestamp",
    )
    with pytest.raises(ValueError, match="distinct"):
        followup_pair_rollup(ev, "user_id", "event_type", "ts", max_types=4)
    ok = followup_pair_rollup(ev, "user_id", "event_type", "ts", max_types=5)
    assert ok.count() > 0
