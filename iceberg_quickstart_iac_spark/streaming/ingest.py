"""Incremental ingest + streaming analytics (SURVEY §2.9).

The reference is batch-only: its event-stream asset is a stub that says
"replace with your actual ingestion logic (Kafka consumer, S3 event
notification…)" (``assets/event_streams.py:22-24``) and incremental loads
are listed as the follow-up enhancement (``docs/bring-your-own-data.md:
226-228``). This module IS that follow-up, Spark-native:

- **ST1** :func:`incremental_file_ingest` — Structured Streaming file
  source (exactly-once file tracking via the checkpoint) appended to a
  snapshot-log table through ``foreachBatch``. ``Trigger.AvailableNow``
  gives batch-cadence incremental runs: each invocation processes only
  files not yet seen, then stops — the drop-in upgrade for the
  reference's full-refresh model.
- **ST2** append-only event-stream semantics (``outputMode("append")``).
- **ST3** :func:`windowed_event_counts` / :func:`freshness_monitor` —
  watermarked tumbling/sliding windows; the continuous analog of the
  freshness quality check.
- :func:`session_windows` — native ``session_window`` gap sessionization
  (the streaming analog of the batch ``user_sessions`` catalog query).
- **ST5** :func:`table_change_feed` — a snapstore TABLE as the stream
  SOURCE (the Delta/Iceberg ``readStream.table``/``startingVersion``
  shape): each turn delivers the commits since the checkpointed
  snapshot (append scan or CDC changelog); :func:`mirror_into` composes
  it with the txn ledger into exactly-once table→table mirroring.

Scale notes: the file source lists + tracks files on the driver but reads
them in executors; windowed aggs shuffle on (window, key) with state kept
in the state store — watermarks bound state size, which is what makes these
viable as always-on jobs at event-stream volumes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of a file directory with a declared schema."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def incremental_file_ingest(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    table: SnapTable,
    checkpoint_dir: str,
    fmt: str = "parquet",
    available_now: bool = True,
) -> StreamingQuery:
    """Incrementally append new source files into a snapshot-log table.

    Exactly-once at the file level: the checkpoint records processed files;
    each micro-batch lands as one atomic append commit. With
    ``available_now`` the query drains everything currently available and
    stops (scheduled-batch cadence); without it, it runs continuously.
    """
    stream = read_file_stream(spark, source_path, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append(batch_df)

    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_wap_ingest(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    table: SnapTable,
    checkpoint_dir: str,
    checks: list | None = None,
    fmt: str = "parquet",
    available_now: bool = True,
    on_blocked=None,
) -> StreamingQuery:
    """Streaming write-audit-publish: every micro-batch is a staged
    append (:meth:`SnapTable.append`'s audit hook) whose quality checks
    run on the staged TABLE STATE (the head's rows plus the batch); only a
    passing audit commits. A bad micro-batch is quarantined (its dir
    dropped, the table untouched, ``on_blocked(batch_id, report)``
    notified) instead of poisoning the table. Exactly-once file tracking
    stays with the checkpoint. Per micro-batch the data is written once
    and audited with one aggregation: the Iceberg WAP cadence for streams.
    """
    from iceberg_quickstart_iac_spark.operators.quality import QualityGateError, run_checks

    stream = read_file_stream(spark, source_path, schema, fmt)

    def audit(staged) -> None:
        report = run_checks(staged(), checks, table=table.fq_name)
        if not report.passed:
            raise QualityGateError(report)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            table.append(batch_df, audit=audit if checks else None)
        except QualityGateError as blocked:
            if on_blocked is not None:
                on_blocked(batch_id, blocked.report)  # quarantined: nothing committed

    writer = stream.writeStream.foreachBatch(sink).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_near_dup_admission(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    store: SnapTable,
    docs_table: SnapTable | None,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    fmt: str = "parquet",
    available_now: bool = True,
    txn_app_id: str = "stream_near_dup",
    on_rejected=None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous near-dup admission control: every micro-batch of
    incoming documents scores against the PERSISTED signature store
    (:func:`operators.dedup.admit_batch`), admitted docs land in
    ``docs_table`` and their signatures append to the store — so the
    NEXT micro-batch admits against the updated corpus. The round-9
    store lifecycle composed with the streaming tier: the reference's
    "incremental loads" follow-up (docs/bring-your-own-data.md:226-228)
    as a running pipeline.

    Exactly-once under crash replay: both appends are txn-stamped with
    the micro-batch id (``<txn_app_id>:signatures`` /
    ``<txn_app_id>:docs``), and admit_batch's scoring is
    replay-deterministic by construction (matches pin the pre-append
    snapshot; a replayed batch's own signatures in the store are
    self-excluded) — so a batch that crashed between the two appends
    replays to the identical admitted set and the missing append lands
    while the completed one skips. ``on_rejected(batch_id, matches_df)``
    surfaces the rejected rows (bounded by the batch size) for
    quarantine/audit sinks.

    ``compact_every=k`` rewrites the store into one file whenever its
    commit count reaches a multiple of k — continuous ingest appends one
    small signature file per batch, and an uncompacted store makes every
    later admission scan pay the small-file open cost (the standard
    streaming-into-lakehouse maintenance cadence; compaction commits are
    time-travel-safe like any other)."""
    from iceberg_quickstart_iac_spark.operators.dedup import admit_batch

    stream = read_file_stream(spark, source_path, schema, fmt)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        r = admit_batch(
            store,
            batch_df,
            id_col,
            text_col,
            threshold=threshold,
            txn=(f"{txn_app_id}:signatures", batch_id),
        )
        if docs_table is not None:
            docs_table.append(
                r["admitted"], txn=(f"{txn_app_id}:docs", batch_id)
            )
        if on_rejected is not None:
            on_rejected(batch_id, r["matches"])
        # maintenance cadence: bound the store's file count so the next
        # admissions' store scan stays one-file-per-compaction instead
        # of one-per-batch. Keyed on the BATCH id (monotone per
        # checkpoint), not the commit count — compaction commits must
        # not count toward their own cadence.
        if compact_every and (batch_id + 1) % compact_every == 0:
            store.compact(spark)

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_cdc_ingest(
    spark: SparkSession,
    source_path: str,
    schema: T.StructType,
    table: SnapTable,
    checkpoint_dir: str,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    fmt: str = "parquet",
    available_now: bool = True,
    mode: str = "cow",
    maintenance_every: int | None = None,
    max_delete_files: int | None = None,
    max_delete_ratio: float | None = None,
) -> StreamingQuery:
    """Continuously apply a CDC changelog stream (Debezium-style I/U/D
    rows landing as files) to a snapshot-log table — each micro-batch is
    ONE merge commit via :meth:`SnapTable.apply_changelog`, turning the
    reference's "replace with your actual ingestion logic" stub
    (``assets/event_streams.py:22-24``) into the upsert pipeline its
    engine comparison centers on ("Hudi has better upsert performance for
    CDC workloads", ``docs/deep-dive.md``).

    Exactly-once END-TO-END, not just at the file level: the checkpoint
    dedups source files, and each merge commit is stamped with
    ``txn=(checkpoint-scoped app id, batch_id)`` so a micro-batch
    replayed after a crash between commit and checkpoint-write is
    recognized in the table's own transaction ledger and skipped —
    Delta's ``txnAppId``/``txnVersion`` pattern. Upserts are additionally
    idempotent by construction (re-merging the same end-state image is a
    no-op), so even a forgotten ledger (snapshots expired past the replay
    window) degrades to correct-but-rewritten, never to wrong.

    Scale: each micro-batch shuffles once on the merge keys (the
    full-outer join inside ``merge_into``); state lives in the table, not
    the state store, so watermarks are unnecessary and batch size is the
    only memory knob. ``mode='mor'`` lands each micro-batch as a
    merge-on-read commit instead — delete keys + new images, O(batch)
    write cost, no table rewrite (the Hudi-MoR streaming-upsert shape).

    ``maintenance_every=N`` runs the two-tier MoR maintenance policy
    (:func:`..operators.maintenance.maintain_mor`, thresholds
    ``max_delete_files``/``max_delete_ratio``) after every N-th
    micro-batch — Hudi's inline-compaction cadence: the stream itself
    keeps its read amplification bounded instead of relying on an
    external maintenance job. Maintenance commits carry no txn stamp
    (they are pure rewrites — replaying one is wasteful, never wrong).
    """
    import hashlib

    stream = read_file_stream(spark, source_path, schema, fmt)
    # checkpoint-scoped writer identity: a NEW checkpoint restarts
    # batch_ids at 0, so the ledger key must restart with it
    app_id = "cdc-" + hashlib.sha256(
        f"{checkpoint_dir}::{table.fq_name}".encode()
    ).hexdigest()[:16]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.apply_changelog(
            spark,
            batch_df,
            key_cols=key_cols,
            op_col=op_col,
            seq_col=seq_col,
            txn=(app_id, batch_id),
            mode=mode,
        )
        if maintenance_every and (batch_id + 1) % maintenance_every == 0:
            from iceberg_quickstart_iac_spark.operators.maintenance import (
                maintain_mor,
            )

            maintain_mor(
                spark, table,
                max_delete_files=max_delete_files,
                max_delete_ratio=max_delete_ratio,
            )

    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling (or sliding) per-key counts — the streaming
    analog of the flagship group-count query (A5)."""
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def session_windows(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native gap-based sessionization (``session_window``)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sess"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def freshness_monitor(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Continuous freshness: latest event timestamp per window (ST3) — the
    always-on version of the freshness quality check (A4)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"))
        .agg(F.max(ts_col).alias("max_ts"), F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.end").alias("window_end"), "max_ts", "n_events")
    )


# ---------------------------------------------------------------------------
# Table-as-stream source (round 10): consume a snapstore TABLE as an
# incremental feed — the Delta/Iceberg "streaming read from a table"
# shape (spark.readStream.table / startingVersion), at AvailableNow
# cadence: each invocation delivers exactly the commits made since the
# checkpointed snapshot, then stops.
# ---------------------------------------------------------------------------


def mirror_into(target: SnapTable, feed_id: str = "table_change_feed"):
    """A ``batch_fn`` that txn-stamped-appends each batch into ``target``
    — with :func:`table_change_feed`'s deterministic batch ids this
    composes to exactly-once table→table mirroring (a crash between the
    append and the checkpoint write re-delivers the batch; the
    ``txn=(feed_id, batch_id)`` ledger makes the replay a no-op)."""

    def fn(df: DataFrame, batch_id: int) -> None:
        target.append(df, txn=(feed_id, batch_id))

    return fn


def table_change_feed(
    spark: SparkSession,
    source: SnapTable,
    checkpoint_dir,
    batch_fn,
    mode: str = "append",
) -> dict:
    """One AvailableNow turn of a table-source stream: deliver everything
    committed to ``source`` since the checkpoint, as ONE batch whose
    ``batch_id`` is the head commit SEQUENCE, then advance the
    checkpoint atomically (temp + ``os.replace``).

    - First run (no checkpoint): the batch is the FULL current table —
      Delta's ``startingVersion: 0`` contract (existing data first, then
      increments).
    - ``mode='append'``: the batch is the appended rows via the
      incremental append scan (:meth:`SnapTable.read_incremental` —
      partition pruning + declared-schema projection intact). A
      non-append commit in the window (overwrite/delete/compact) raises
      with guidance, never silently drops or double-counts — switch to
      ``mode='cdc'`` for those chains.
    - ``mode='cdc'``: the batch is the row-level changelog
      (:meth:`read_changes` — ``_change_type`` insert/delete rows), so
      any commit chain feeds downstream merges.

    Delivery is at-least-once with DETERMINISTIC batch ids: the
    checkpoint advances only after ``batch_fn`` returns, so a crash
    between the two re-delivers the same (rows, batch_id) — the same
    contract ``foreachBatch`` gives, and a txn-stamped sink
    (:func:`mirror_into`) upgrades it to exactly-once. Driver cost is
    one directory probe + one JSON read; data moves only in executors.

    Returns ``{"batches": 0|1, "batch_id": …, "from_sequence": …}``.
    """
    import json
    import os
    from pathlib import Path

    if mode not in ("append", "cdc"):
        raise ValueError(f"table_change_feed: unknown mode {mode!r}")
    ckpt_dir = Path(checkpoint_dir)
    ckpt_dir.mkdir(parents=True, exist_ok=True)
    ckpt = ckpt_dir / "feed.json"
    entries = source._entries()
    if not entries:
        return {"batches": 0, "batch_id": None, "from_sequence": None}
    head = entries[-1]
    state = json.loads(ckpt.read_text()) if ckpt.exists() else None
    # every read below pins to the CAPTURED head snapshot: a commit
    # landing between the head probe and the read would otherwise be
    # delivered in this batch while the checkpoint records the older
    # sequence — next turn re-delivers those rows under a different
    # batch_id, which the txn ledger cannot dedupe (duplicates in a
    # mirror target)
    if state is None:
        batch = source.read(spark, snapshot_id=head["snapshot_id"])
        from_seq = None
    else:
        if state["last_sequence"] >= head["sequence"]:
            return {
                "batches": 0,
                "batch_id": None,
                "from_sequence": state["last_sequence"],
            }
        from_seq = state["last_sequence"]
        if mode == "append":
            try:
                batch = source.read_incremental(
                    spark,
                    state["last_snapshot_id"],
                    to_snapshot_id=head["snapshot_id"],
                )
            except ValueError as e:
                raise ValueError(
                    f"table_change_feed(mode='append') on {source.fq_name}: "
                    f"{e} — use mode='cdc' for chains with non-append "
                    "commits"
                ) from e
        else:
            batch = source.read_changes(
                spark,
                state["last_snapshot_id"],
                to_snapshot_id=head["snapshot_id"],
            )
    batch_fn(batch, int(head["sequence"]))
    tmp = ckpt_dir / ".feed.json.tmp"
    tmp.write_text(
        json.dumps(
            {
                "last_sequence": int(head["sequence"]),
                "last_snapshot_id": head["snapshot_id"],
            }
        )
    )
    os.replace(tmp, ckpt)
    return {
        "batches": 1,
        "batch_id": int(head["sequence"]),
        "from_sequence": from_seq,
    }
