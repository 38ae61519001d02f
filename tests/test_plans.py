"""Plan-regression tests: the physical plans we designed for, asserted so a
refactor can't silently trade them away. All assertions are on explain output — no query executes except
the few whose construction is eager (IVF fit, table lifecycle)."""

from __future__ import annotations

from pathlib import Path

import pytest

from iceberg_quickstart_iac_spark.plans.queries import queries


def _plan(spark, df, mode: str = "formatted") -> str:
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jm)


def test_no_cartesian_product_anywhere(spark, sf_dir_small):
    """A CartesianProduct in any catalog plan is a scale bug: it means a
    join lost its equi-condition (or a broadcast hint) somewhere."""
    offenders = []
    for name, fn in queries().items():
        if "CartesianProduct" in _plan(spark, fn(spark, sf_dir_small)):
            offenders.append(name)
    assert offenders == []


def test_flagship_filter_reaches_parquet_scan(spark, sf_dir_small):
    p = _plan(spark, queries()["flagship_event_type_counts"](spark, sf_dir_small))
    assert "GreaterThanOrEqual(ts," in p  # raw-nanos predicate, pushed
    # pruned scan: the unused event_id/user_id/props columns are not read
    assert "props" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q6_whole_predicate_pushes_down(spark, sf_dir_small):
    p = _plan(spark, queries()["q6_flat_revenue"](spark, sf_dir_small))
    scan = p.split("PushedFilters")[1].splitlines()[0]
    for field in ("l_shipdate", "l_discount", "l_quantity"):
        assert field in scan, f"{field} not pushed: {scan}"


def test_q3_broadcasts_dims_and_heaps_topk(spark, sf_dir_small):
    p = _plan(spark, queries()["q3_top_revenue_orders"](spark, sf_dir_small))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # top-k: per-partition heap, no global sort


def test_pii_columns_never_scanned(spark, sf_dir_small):
    p = _plan(spark, queries()["pii_safe_events"](spark, sf_dir_small))
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema and "user_id" not in read_schema


def test_aggregates_are_partial_then_final(spark, sf_dir_small):
    """Map-side combine: every groupBy plans partial + final HashAggregate."""
    p = _plan(spark, queries()["q1_pricing_summary"](spark, sf_dir_small))
    assert p.count("HashAggregate") >= 2


def test_range_join_is_equi_join_not_band(spark, sf_dir_small):
    """The bucketed decomposition must plan as a hash/sort-merge equi-join;
    a BroadcastNestedLoopJoin would mean the band condition leaked back in."""
    p = _plan(spark, queries()["event_followup_pairs"](spark, sf_dir_small))
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    assert "NestedLoop" not in p


def test_chunking_is_map_only(spark, sf_dir_small):
    """Chunk explosion must plan with zero Exchanges — it's the map-only
    stage a 100 TB pipeline runs on every document."""
    p = _plan(spark, queries()["doc_chunks"](spark, sf_dir_small))
    body = p.split("Sort")[0]  # the final presentation orderBy is allowed
    assert "Exchange" not in body.replace("rangepartitioning", "")


def test_contamination_probe_is_broadcast(spark, sf_dir_small):
    """The benchmark membership probe must broadcast the (tiny) benchmark
    shingle set — a shuffled join here would move the full corpus."""
    p = _plan(spark, queries()["doc_benchmark_contamination"](spark, sf_dir_small))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_q2_aggregates_only_filtered_parts(spark, sf_dir_small):
    """The size-9 semi-join must run BELOW the cost aggregation (the round-2
    rewrite); if the aggregate consumed the raw lineitem again, the semi
    join would appear above the first HashAggregate."""
    import re

    p = _plan(spark, queries()["q2_min_cost_supplier"](spark, sf_dir_small))
    # formatted explain numbers operators depth-first: deeper = smaller id.
    # The semi join must be DEEPER than every aggregate (it feeds them).
    semi_ids = [int(m) for m in re.findall(r"LeftSemi \w+ \((\d+)\)", p)]
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", p)]
    assert semi_ids and agg_ids
    assert max(semi_ids) < min(agg_ids), (semi_ids, agg_ids)


def test_semantic_dedup_pairs_join_is_equi_on_cell(spark, sf_dir_small):
    """The SemDeDup pairwise comparison must plan as a hash/sort-merge
    equi-join keyed on the cell (the quadratic is bounded per cell); a
    NestedLoop would mean the cell condition degenerated to a filter."""
    p = _plan(spark, queries()["semantic_dedup_cells"](spark, sf_dir_small))
    assert "CartesianProduct" not in p
    # at least one non-broadcast-nested-loop join keyed on the cell
    assert "cell" in p and ("SortMergeJoin" in p or "BroadcastHashJoin" in p)


def test_repetition_signals_aggregates_are_partial(spark, sf_dir_small):
    """Both explode->groupBy branches must plan map-side partial
    aggregation (per-doc repeats collapse before the shuffle)."""
    p = _plan(spark, queries()["doc_repetition_signals"](spark, sf_dir_small))
    assert p.count("HashAggregate") >= 4  # 2 branches x partial+final


def test_filter_funnel_is_single_scan(spark, sf_dir_small):
    """All five funnel stages derive from ONE pass over documents (plus
    the dedup window): exactly one parquet scan of documents in the plan."""
    p = _plan(spark, queries()["corpus_filter_funnel"](spark, sf_dir_small))
    assert p.count("documents.parquet") == 1


def test_bucketed_join_has_no_exchange_or_sort_on_key(spark, sf_dir_small):
    """J7: both sides bucketBy(16)+sortBy on the join key — the sort-merge
    join must plan with NO Exchange and NO Sort on either side (each task
    streams bucket i of both tables)."""
    p = _plan(spark, queries()["bucketed_join_orders_lineitem"](spark, sf_dir_small))
    assert "SortMergeJoin" in p
    key_exchanges = [
        line
        for line in p.splitlines()
        if "Exchange hashpartitioning" in line and "orderkey" in line
    ]
    assert key_exchanges == []
    # the join consumes pre-sorted buckets (sortBy metadata satisfies its
    # ordering requirement): the ONLY Sort in the plan is the final
    # presentation orderBy — per-side join sorts would make it 3
    import re

    assert len(re.findall(r"\bSort \(\d+\)", p)) == 1, p


def test_ntile_has_no_unpartitioned_window(spark, sf_dir_small):
    """customer_spend_quartiles runs the two-phase distributed NTILE: the
    plan must contain no unpartitioned Window (single-partition sort) and
    must reuse the range exchange across the counts/join branches."""
    df = queries()["customer_spend_quartiles"](spark, sf_dir_small)
    p = _plan(spark, df)
    for line in p.splitlines():
        if "windowspecdefinition(" in line:
            inner = line.split("windowspecdefinition(")[1]
            # first argument list = partition spec; must not be empty
            assert not inner.startswith("specifiedwindowframe"), line
    # the range exchange feeds both the counts branch and the final join —
    # exchange/stage reuse means the per-customer aggregate computes once.
    # AQE decides reuse at runtime, so execute first, then read the final
    # adaptive plan.
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_generated_oracle_degradation_records_reason(monkeypatch):
    """When the gate parquet is unreachable, generated oracles degrade to
    rows-only AND the reason is recorded (a silent swallow made
    a future rows-only regression undiagnosable). With real data present,
    the oracle resolves and the skip record clears."""
    from iceberg_quickstart_iac_spark.plans.queries import _ORACLE_SKIPPED, oracle_sql

    monkeypatch.setenv("SPARK_GRAFT_TEST_SF_DIR", "/nonexistent/sfX")
    out = oracle_sql()
    assert "embedding_ann_ivf" not in out
    assert "embedding_ann_ivf" in _ORACLE_SKIPPED
    assert "semantic_dedup_cells" in _ORACLE_SKIPPED
    assert _ORACLE_SKIPPED["embedding_ann_ivf"]  # non-empty reason string

    monkeypatch.setenv("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    out = oracle_sql()
    assert "embedding_ann_ivf" in out and "semantic_dedup_cells" in out
    assert "embedding_ann_ivf" not in _ORACLE_SKIPPED


def test_incremental_dedup_plans_anti_join_with_pruned_store(spark, sf_dir_small):
    """incremental_dedup_new_docs must plan the store side as a LEFT ANTI
    hash join (broadcast while small; shuffle beyond the threshold — never
    a nested loop) with the store scan pruned to the fingerprint inputs,
    and the in-batch collapse as a partial-then-final aggregate."""
    from iceberg_quickstart_iac_spark.plans.queries import incremental_dedup_new_docs

    df = incremental_dedup_new_docs(spark, sf_dir_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "partial_min" in plan  # map-side combine for the batch collapse
    # the store side never reads payload columns — fingerprinting needs
    # only (doc_id, text)
    store_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "doc_id:bigint,text:string>" in ln
    ]
    assert store_scans, plan


def test_training_shards_plan_is_one_partial_final_agg_no_window(
    spark, sf_dir_small
):
    """Shard stats must plan as a single scan -> partial+final hash agg on
    the derived shard key: no window (global or per-shard), no join — the
    zero-coordination contract the operator advertises."""
    p = _plan(spark, queries()["training_shard_stats"](spark, sf_dir_small))
    assert p.count("HashAggregate") >= 2  # map-side combine
    assert "Window" not in p
    assert "Join" not in p


def test_temperature_mixture_plans_broadcast_count_and_topk_heap(
    spark, sf_dir_small
):
    """The mixing weight comes from a BROADCAST-joined per-source count
    (|sources| rows — never a shuffle join), and the k-smallest draw is a
    TakeOrderedAndProject heap, not a global sort."""
    p = _plan(
        spark, queries()["temperature_mixture_sample"](spark, sf_dir_small)
    )
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_shard_position_window_is_per_shard_not_global(spark, sf_dir_small):
    """with_position partitions its window BY SHARD — an unpartitioned
    window would serialize the corpus through one task."""
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.sampling import (
        assign_training_shards,
    )

    docs = load_table(spark, sf_dir_small, "documents").select("doc_id")
    p = _plan(spark, assign_training_shards(docs, 8, "doc_id", with_position=True))
    assert "Window" in p
    # the window's partition spec names the shard key (no empty PartitionBy)
    win = [ln for ln in p.splitlines() if "Window" in ln or "windowspecdefinition" in ln]
    assert any("shard" in ln for ln in win), win


def test_cosine_topk_fold_shuffles_only_k_per_partition(spark, sf_dir_small):
    """The fold cosine_topk's rank<=k window must plan a PARTIAL
    WindowGroupLimit BEFORE the exchange: Spark's
    rank-limit rewrite prunes each input partition to k rows per query
    map-side, so only k*P rows per query shuffle and the final task sorts
    k*P rows, never |corpus|. An explicit two-level window was measured
    and rejected (it adds a second exchange for the same prune); this
    test pins the optimizer behavior the operator relies on instead."""
    df = queries()["embedding_cosine_topk"](spark, sf_dir_small)
    p = _plan(spark, df)
    lines = p.splitlines()
    partial_at = next(
        (i for i, ln in enumerate(lines)
         if "row_number()" in ln and "Partial" in ln), None
    )
    final_at = next(
        (i for i, ln in enumerate(lines)
         if "row_number()" in ln and "Final" in ln), None
    )
    assert partial_at is not None and final_at is not None, p
    exchange_between = any(
        "Exchange" in ln for ln in lines[partial_at:final_at]
    )
    assert exchange_between, p


def test_corpus_shuffle_plan_no_window_one_agg_exchange(
    spark, sf_dir_small
):
    """deterministic_corpus_shuffle must stay map-only + one hash
    aggregate: a global rank (Window with empty partition spec) would
    serialize the whole corpus through one task — the exact shape the
    op exists to avoid. The orderBy on the 8-row result is fine; a
    Window or a rangepartitioning over the raw docs is not."""
    df = queries()["deterministic_corpus_shuffle"](spark, sf_dir_small)
    p = _plan(spark, df)
    assert "Window" not in p
    # exactly one aggregate exchange over the derived shard key (plus
    # the final tiny rangepartitioning for the ORDER BY)
    hash_exchanges = [
        ln for ln in p.splitlines() if "hashpartitioning(" in ln
    ]
    assert len(hash_exchanges) == 1, p
    assert sum("rangepartitioning(" in ln for ln in p.splitlines()) == 1


def test_unpivot_is_one_scan_with_expand(spark, sf_dir_small):
    """lineitem_unpivot_measures must unpivot via ONE Expand over one
    lineitem scan — the UNION-ALL formulation (the oracle's semantics
    statement) would re-scan the fact table once per measure, a 4×
    read-amplification bug at 100 TB."""
    p = _plan(spark, queries()["lineitem_unpivot_measures"](spark, sf_dir_small))
    assert "Expand" in p
    # one scan NODE — formatted explain prints each node twice (tree +
    # detail), so count the per-scan Location lines
    assert p.count("Location: InMemoryFileIndex") == 1, p


def test_peak_hour_window_is_one_user_exchange(spark, sf_dir_small):
    """event_peak_hour_value: one hash exchange on user_id feeds BOTH the
    RANGE window and the per-user MAX (the aggregate reuses the window's
    partitioning — no second shuffle), plus only the final ORDER BY's
    range exchange. Retired from the driver catalog r13 (dense-key alpha
    1.80 — see _RETIRED) but the plan shape stays pinned here."""
    p = _plan(
        spark,
        queries(include_retired=True)["event_peak_hour_value"](
            spark, sf_dir_small
        ),
    )
    assert "Window" in p
    hash_exchanges = [
        ln for ln in p.splitlines() if "hashpartitioning(" in ln
    ]
    assert len(hash_exchanges) == 1, p


def test_peak_minute_rollup_preagg_before_window(spark, sf_dir_small):
    """event_peak_minute_rollup (the skew-hardened variant): a PARTIAL
    HashAggregate must run before the first exchange (map-side combine is
    what absorbs a hot key's density), the first shuffle must be on the
    FINE (user_id, minute_idx) key — spreading the hot user across
    reducers — and exactly one further hash exchange (user_id) feeds the
    window + per-user MAX. Two hash exchanges total, both over
    minute-grain rows or finer."""
    p = _plan(spark, queries()["event_peak_minute_rollup"](spark, sf_dir_small))
    assert "Window" in p
    lines = p.splitlines()
    hash_exchanges = [ln for ln in lines if "hashpartitioning(" in ln]
    assert len(hash_exchanges) == 2, p
    # the fine-key exchange carries the minute grouping expression (Spark
    # materializes the computed key as _groupingexpression#N); the
    # window's exchange carries only user_id
    assert any("_groupingexpression" in ln for ln in hash_exchanges), p
    # map-side combine: the partial decimal sum runs BEFORE the fine-key
    # exchange — that's what collapses a hot key inside input partitions
    assert "partial_sum(cast(value" in p, p


def test_grouping_sets_is_one_scan_expand_agg(spark, sf_dir_small):
    """orders_grouping_sets must compute all three grouping sets from ONE
    orders scan through one Expand + partial/final aggregate — never a
    scan per set (the UNION-ALL formulation's 3× read amplification)."""
    p = _plan(spark, queries()["orders_grouping_sets"](spark, sf_dir_small))
    assert "Expand" in p
    assert p.count("Location: InMemoryFileIndex") == 1, p


def test_sketch_audit_has_no_unbounded_percentile_buffer(spark, sf_dir_small):
    """sketch_accuracy_audit (r13 rework + r14 checkpoint): the exact
    `percentile` aggregate buffered every group value in executor memory —
    the aggregate lineage must contain ONLY the bounded-state
    percentile_approx sketch. Since r14 that lineage is checkpointed
    (one sketch value feeds both the rank re-scan and the
    output row), which truncates the FINAL plan — so the sketch is pinned
    on the shared agg helper the query materializes, and the final plan is
    pinned on the checkpoint scan + broadcast rank re-scan shape."""
    import re

    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.plans.queries import _sketch_audit_agg

    events = load_table(spark, sf_dir_small, "events").select(
        "event_type", "user_id", "value"
    )
    agg_plan = _plan(spark, _sketch_audit_agg(events))
    assert "percentile_approx" in agg_plan
    assert re.search(r"\bpercentile\(", agg_plan) is None, "exact percentile is back"

    p = _plan(spark, queries()["sketch_accuracy_audit"](spark, sf_dir_small))
    assert re.search(r"\bpercentile\(", p) is None, "exact percentile is back"
    assert "BroadcastExchange" in p  # 6-row stats side of the rank re-scan
    # the checkpointed 6-row agg feeds the final join as a lineage-free
    # scan — the guarantee that the audited sketch value IS the emitted one
    assert "ExistingRDD" in p, p


def test_catalog_stores_resolve_in_the_session_tempdir(
    spark, sf_dir_small, session_tempdir, monkeypatch
):
    """The fit-once/load-many catalog tables (signature store, IVF-PQ
    index) resolve under this test session's own temp root, so a store an
    earlier run left in the system temp dir is never loaded."""
    from iceberg_quickstart_iac_spark.operators import ann_index, dedup

    system, own = session_tempdir
    roots = []

    class Loaded(Exception):
        pass

    def capture(spark_, df, root, *args, **kwargs):
        roots.append(Path(root))
        raise Loaded

    monkeypatch.setattr(dedup, "load_or_build_signature_store", capture)
    monkeypatch.setattr(ann_index, "load_or_build_ivfpq_index", capture)
    for name in ("incremental_near_dup_admission", "embedding_ivfpq_topk"):
        with pytest.raises(Loaded):
            queries()[name](spark, sf_dir_small)
    assert [r.parent for r in roots] == [Path(own)] * 2
    assert Path(own) != Path(system)
