"""Benchmark runner: every catalog query at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is the total across the FULL catalog. The inline ``queries`` dict
carries the headline subset only — the harness that records this line keeps
a bounded tail of stdout (2000 chars observed), so the line must stay well
under that; the complete per-query map is written to ``bench_detail.json``
next to this file.

Each query is timed end-to-end (plan + execute + collect-count via a cheap
``count()`` action over the final result). A warm-up pass on sf0.001 JIT-warms
the JVM and primes the parquet footer cache so timings reflect steady state.

Materialization semantics (documented round 12): under ``count()`` Catalyst
prunes final projections the row count doesn't need — a window or aggregate
VALUE column feeding no filter is optimized away, so for a handful of
pure-projection entries this measures the pruned plan, not every output
byte (the driver's correctness gate separately executes every query with a
full value collect). This action is kept DELIBERATELY: the recorded
baselines were all taken under it, so switching actions would re-baseline
148 queries mid-series. This runner is not a source of performance claims:
those come from ``perfbench/`` (see ``perfbench/README.md``).

Since round 13 every run ALSO records a noop-sink
sweep — ``noop_value`` in the JSON line, per-query in bench_detail.json —
so the honest every-column-computed total is a standing series beside the
count series and a regression in pruned-away compute can never hide. The
noop sweep defaults to one pass (``SPARK_GRAFT_BENCH_NOOP_REPEATS``): it
is a level gauge, not the primary timing signal.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iceberg_quickstart_iac_spark import plans
from iceberg_quickstart_iac_spark.session import get_spark

# Queries reported inline in the one-line JSON (the full TPC-H suite, the
# flagship, and the extension headliners). Everything else still runs and is
# totalled in "value" + persisted to bench_detail.json — the inline dict is
# capped so the output line fits the harness's 2000-char stdout tail.
HEADLINE = frozenset(
    {
        "flagship_event_type_counts",
        *{f"q{i}_" + s for i, s in enumerate(
            [
                "pricing_summary", "min_cost_supplier", "top_revenue_orders",
                "order_priority", "region_revenue", "flat_revenue",
                "nation_volume", "market_share", "product_profit",
                "returned_item_customers", "top_nation_share",
                "shipmode_priority", "customer_order_histogram",
                "promo_revenue_pct", "top_supplier", "supplier_variety",
                "small_qty_avg_yearly", "large_orders", "disjunctive_revenue",
                "heavy_shippers", "sole_late_shippers", "dormant_rich_customers",
            ],
            start=1,
        )},
        "near_dup_minhash_pairs",
        "simhash_near_pairs_block2k",
        "ngram_jaccard_dups_block1k",
        "embedding_cosine_topk",
        "embedding_ann_ivf",
        "asof_last_click_before_purchase",
        "scd2_chain_from_orders",
        "user_sessions",
        "doc_language_id",
        "doc_quality_scores",
    }
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.sql.legacy.parquet.nanosAsLong": "true"},
    )
    catalog = plans.queries()

    # warm-up: JVM JIT + codegen caches, tiny data
    for fn in catalog.values():
        try:
            fn(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    # best-of-N per query: JVM/GC timing noise on a shared box is ±60% for
    # sub-second queries; the min is the stable signal
    # best-of-N with WHOLE-CATALOG sweeps (not back-to-back reps of one
    # query): a transient GC/CPU stall then lands on the same query in at
    # most one sweep, so the per-query min across sweeps filters it out
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    samples: dict[str, list[float]] = {name: [] for name in catalog}
    for _ in range(repeats):
        for name, fn in catalog.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            samples[name].append(time.perf_counter() - t0)
            # queries that .cache() intermediates would otherwise accumulate
            # storage across 48 queries x sweeps in this one JVM — the
            # memory pressure + GC stalls show up as 10x outliers later
            spark.catalog.clearCache()
    timings = {name: round(min(ts), 3) for name, ts in samples.items()}
    # per-query dispersion: min is the reported signal, median/max let a
    # reader separate ambient box load (uniform median inflation) from a
    # real regression (the min itself moved)
    dispersion = {
        name: {
            "min": round(min(ts), 3),
            "median": round(sorted(ts)[len(ts) // 2], 3),
            "max": round(max(ts), 3),
        }
        for name, ts in samples.items()
    }

    # the standing noop-materialization series (round 13): same catalog,
    # every output column computed — the count-vs-noop gap on record each
    # round instead of once
    noop_repeats = int(os.environ.get("SPARK_GRAFT_BENCH_NOOP_REPEATS", "1"))
    noop_samples: dict[str, list[float]] = {name: [] for name in catalog}
    for _ in range(noop_repeats):
        for name, fn in catalog.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            noop_samples[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    noop_timings = {name: round(min(ts), 3) for name, ts in noop_samples.items()}

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "queries": timings,
                "noop_queries": noop_timings,
                "dispersion": dispersion,
                "sf": sf_val,
                "cpus": int(cpus),
            },
            fh, indent=1, sort_keys=True,
        )

    headline = {n: t for n, t in timings.items() if n in HEADLINE}
    line = json.dumps(
        {
            "metric": "catalog_total_runtime",
            "value": round(sum(timings.values()), 3),
            "noop_value": round(sum(noop_timings.values()), 3),
            "unit": "sec",
            "n_queries": len(timings),
            "queries": headline,
            "detail": "bench_detail.json",
            "sf": sf_val,
        },
        separators=(",", ":"),
    )
    # hard guard: a line longer than the harness tail buffer is unparseable
    assert len(line) < 1900, f"bench line {len(line)} chars exceeds tail budget"
    print(line)


if __name__ == "__main__":
    main()
