"""Structured Streaming tests (SURVEY §2.9 ST1-ST3): incremental file
ingest into snapshot tables, watermarked windows, sessionization,
freshness — driven to completion with AvailableNow / memory sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_quickstart_iac_spark.streaming import (
    freshness_monitor,
    incremental_file_ingest,
    read_file_stream,
    session_windows,
    windowed_event_counts,
)
from iceberg_quickstart_iac_spark.tables import SnapTable

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("user_id", T.LongType()),
    ]
)


def _write_batch(spark, path, start_id, n, day="2024-01-01"):
    rows = [
        (
            start_id + i,
            f"{day} 10:{i % 60:02d}:00",
            "click" if i % 2 == 0 else "view",
            float(i),
            i % 3,
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "event_id LONG, ts_s STRING, event_type STRING, value DOUBLE, user_id LONG")
    df.withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").select(
        "event_id", "ts", "event_type", "value", "user_id"
    ).coalesce(1).write.mode("append").parquet(path)


def test_incremental_ingest_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = SnapTable.create(
        tmp_path / "tbl",
        {"name": "stream_events", "namespace": "lakehouse", "columns": [], "partition_spec": []},
    )

    _write_batch(spark, src, 0, 10)
    q = incremental_file_ingest(spark, src, SCHEMA, table, ckpt)
    q.awaitTermination(120)
    assert table.read(spark).count() == 10

    # second run: only NEW files are processed (file-level exactly-once)
    _write_batch(spark, src, 100, 5)
    q = incremental_file_ingest(spark, src, SCHEMA, table, ckpt)
    q.awaitTermination(120)
    assert table.read(spark).count() == 15
    ids = {r.event_id for r in table.read(spark).select("event_id").collect()}
    assert len(ids) == 15  # no duplicates from re-reading old files

    # third run with nothing new: no extra snapshot commits
    snaps_before = table.snapshots(spark).count()
    q = incremental_file_ingest(spark, src, SCHEMA, table, ckpt)
    q.awaitTermination(120)
    assert table.snapshots(spark).count() == snaps_before


def _run_stream_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 20)
    stream = read_file_stream(spark, src, SCHEMA)
    agg = windowed_event_counts(stream, window="5 minutes", watermark="10 minutes")
    out = _run_stream_to_memory(spark, agg, "win_counts", "append").collect()
    # AvailableNow + append emits only watermark-closed windows; verify shape
    # and totals on what was emitted
    assert all(r.window_end > r.window_start for r in out)
    assert all(r.event_type in ("click", "view") for r in out)
    total = sum(r.n_events for r in out)
    assert total > 0


def test_session_windows(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 12)  # minutes 0..11, 3 users interleaved
    stream = read_file_stream(spark, src, SCHEMA)
    sess = session_windows(stream, gap="2 minutes", watermark="1 hour")
    # complete mode: the 1h watermark would hold every session open under
    # AvailableNow, so append mode would emit nothing by design
    out = _run_stream_to_memory(spark, sess, "sessions", "complete").collect()
    # users 0,1,2 each hit minutes k, k+3, k+6, k+9 → 3-minute gaps > 2m gap
    # close each event into its own session... gap '2 minutes' means strictly
    # beyond 2m closes; 3m apart → separate sessions per event
    assert all(r.n_events == 1 for r in out)
    assert len(out) == 12


def test_freshness_monitor(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_batch(spark, src, 0, 10)
    stream = read_file_stream(spark, src, SCHEMA)
    fresh = freshness_monitor(stream, window="1 hour", watermark="1 hour")
    out = _run_stream_to_memory(spark, fresh, "fresh", "append").collect()
    if out:  # single window may be held open by the watermark under AvailableNow
        assert max(r.n_events for r in out) <= 10


def test_batch_and_streaming_sessionization_agree(spark, sf_dir_small):
    """The batch user_sessions catalog query and the native session_window
    streaming operator must produce the same session count per user."""
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.plans import queries

    batch = queries()["user_sessions"](spark, sf_dir_small)
    batch_counts = {
        r.user_id: r.n for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    ev = load_table(spark, sf_dir_small, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    native_counts = {r.user_id: r.n for r in native.collect()}
    assert batch_counts == native_counts


def test_map_only_corpus_ops_run_on_streams(spark, tmp_path):
    """chunk_text / redact_pii / quality_score are pure projections, so the
    SAME operator code runs unmodified on a stream — the batch/streaming
    unification Spark promises, verified against the batch result."""
    from iceberg_quickstart_iac_spark.operators.text import (
        chunk_text,
        quality_score,
        redact_pii,
    )

    src = str(tmp_path / "docs")
    rows = [
        (1, "email me at alice@example.com " + "lorem ipsum " * 30),
        (2, "plain document " * 25),
    ]
    batch_df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    batch_df.coalesce(1).write.mode("append").parquet(src)

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(src)

    def pipeline(df):
        cleaned = df.select("doc_id", redact_pii("text").alias("text"))
        return chunk_text(cleaned, "doc_id", "text", chunk_chars=128, overlap=16).select(
            "doc_id", "chunk_idx", F.md5("chunk").alias("chunk_md5"),
            quality_score("chunk").alias("q"),
        )

    streamed = _run_stream_to_memory(spark, pipeline(stream), "chunked_docs", "append").collect()
    batch = pipeline(batch_df.select("doc_id", "text")).collect()
    key = lambda r: (r.doc_id, r.chunk_idx, r.chunk_md5, round(r.q, 12))
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(streamed) > 2  # chunking fan-out happened on the stream
    # PII never reaches the sink
    full = _run_stream_to_memory(
        spark,
        stream.select(redact_pii("text").alias("t")),
        "redacted_docs",
        "append",
    ).collect()
    assert all("@" not in r.t for r in full)


def test_streaming_wap_quarantines_bad_batches(spark, tmp_path):
    """Streaming write-audit-publish: a failing micro-batch is staged,
    audited, and dropped — main only ever contains audited commits."""
    from iceberg_quickstart_iac_spark.operators.quality import Check
    from iceberg_quickstart_iac_spark.streaming import incremental_wap_ingest

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = SnapTable.create(
        tmp_path / "tbl",
        {"name": "wap_events", "namespace": "lakehouse", "columns": [], "partition_spec": []},
    )
    checks = [Check("row_count", op="<", threshold=15)]  # blocks once total >= 15
    blocked = []

    _write_batch(spark, src, 0, 10)
    q = incremental_wap_ingest(
        spark, src, SCHEMA, table, ckpt, checks=checks,
        on_blocked=lambda bid, rep: blocked.append(bid),
    )
    q.awaitTermination(120)
    assert table.read(spark).count() == 10 and blocked == []

    # next batch takes the staged state to 30 -> audit fails -> quarantined
    import os

    def listing():
        head = table.current_snapshot()["snapshot_id"]
        return head, sorted(os.listdir(table.log_dir)), sorted(os.listdir(table.data_dir))

    before = listing()
    _write_batch(spark, src, 100, 20)
    q = incremental_wap_ingest(
        spark, src, SCHEMA, table, ckpt, checks=checks,
        on_blocked=lambda bid, rep: blocked.append(bid),
    )
    q.awaitTermination(120)
    assert table.read(spark).count() == 10    # main untouched by the bad batch
    assert len(blocked) == 1
    assert listing() == before                # no commit, no orphan dir
    assert table.list_branches() == []        # no staging branch is made
    # a small good batch (10 + 4 = 14 < 15) publishes
    _write_batch(spark, src, 500, 4)
    q = incremental_wap_ingest(
        spark, src, SCHEMA, table, ckpt, checks=checks,
        on_blocked=lambda bid, rep: blocked.append(bid),
    )
    q.awaitTermination(120)
    assert table.read(spark).count() == 14


CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _write_cdc(spark, path, rows):
    spark.createDataFrame(
        rows, "id LONG, status STRING, amount DOUBLE, op STRING, seq LONG"
    ).coalesce(1).write.mode("append").parquet(path)


def test_streaming_cdc_ingest_upserts_each_batch(spark, tmp_path):
    from iceberg_quickstart_iac_spark.streaming import incremental_cdc_ingest

    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")
    table = SnapTable.create(
        tmp_path / "cdc_tbl",
        {
            "name": "accounts_cdc", "namespace": "lakehouse",
            "columns": [
                {"name": "id", "type": "long"},
                {"name": "status", "type": "string"},
                {"name": "amount", "type": "double"},
            ],
        },
    )
    table.append(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id LONG, status STRING, amount DOUBLE"
    ))

    # wave 1: update id=2, insert id=3
    _write_cdc(spark, src, [(2, "b2", 21.0, "U", 1), (3, "c", 30.0, "I", 1)])
    q = incremental_cdc_ingest(spark, src, CDC_SCHEMA, table, ckpt,
                               key_cols=["id"], seq_col="seq")
    q.awaitTermination(120)
    assert {r.id: (r.status, r.amount) for r in table.read(spark).collect()} == {
        1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0)
    }

    # wave 2: delete id=1, then two sequenced changes to id=3 — the later
    # seq must win; restart with the same checkpoint processes ONLY new files
    _write_cdc(spark, src, [
        (1, None, None, "D", 2),
        (3, "stale", 0.0, "U", 2),
        (3, "final", 33.0, "U", 3),
    ])
    q = incremental_cdc_ingest(spark, src, CDC_SCHEMA, table, ckpt,
                               key_cols=["id"], seq_col="seq")
    q.awaitTermination(120)
    assert {r.id: (r.status, r.amount) for r in table.read(spark).collect()} == {
        2: ("b2", 21.0), 3: ("final", 33.0)
    }
    # each micro-batch landed as one merge commit with a txn stamp
    merges = [e for e in table._entries() if e["operation"] == "merge"]
    assert len(merges) == 2
    assert all(e.get("txn") for e in merges)
    assert merges[0]["txn"]["app_id"] == merges[1]["txn"]["app_id"]


def test_streaming_cdc_ingest_batch_replay_is_idempotent(spark, tmp_path):
    """A replayed micro-batch (crash between table commit and checkpoint
    write) must not double-apply: the txn ledger skips it."""
    from iceberg_quickstart_iac_spark.streaming import incremental_cdc_ingest

    src = str(tmp_path / "r_src")
    table = SnapTable.create(
        tmp_path / "r_tbl",
        {
            "name": "accounts_replay", "namespace": "lakehouse",
            "columns": [
                {"name": "id", "type": "long"},
                {"name": "status", "type": "string"},
                {"name": "amount", "type": "double"},
            ],
        },
    )
    table.append(spark.createDataFrame(
        [(1, "a", 10.0)], "id LONG, status STRING, amount DOUBLE"
    ))
    _write_cdc(spark, src, [(2, "b", 20.0, "I", 1)])

    # same source processed under TWO different checkpoints but the same
    # table: checkpoint A commits batch 0; checkpoint B replays the same
    # file set as ITS batch 0 under a different app id — applied (new
    # writer), but the upsert itself is idempotent, so the state is equal
    q = incremental_cdc_ingest(spark, src, CDC_SCHEMA, table,
                               str(tmp_path / "ck_a"), key_cols=["id"])
    q.awaitTermination(120)
    state_once = {r.id: (r.status, r.amount) for r in table.read(spark).collect()}
    # simulate the in-checkpoint replay: directly re-apply with the SAME txn
    import hashlib
    app_id = "cdc-" + hashlib.sha256(
        f"{tmp_path / 'ck_a'}::{table.fq_name}".encode()
    ).hexdigest()[:16]
    n = len(table._entries())
    table.apply_changelog(
        spark,
        spark.read.schema(CDC_SCHEMA).parquet(src),
        key_cols=["id"], txn=(app_id, 0),
    )
    assert len(table._entries()) == n  # ledger skipped the replay
    assert {r.id: (r.status, r.amount) for r in table.read(spark).collect()} == state_once


def test_streaming_cdc_mor_inline_maintenance(spark, tmp_path):
    """mode='mor' with maintenance_every=1: every micro-batch lands as an
    O(batch) MoR commit and the inline policy keeps read amplification
    bounded — with an aggressive ratio threshold the delete files are
    materialized away right inside the stream (Hudi inline compaction)."""
    from iceberg_quickstart_iac_spark.streaming import incremental_cdc_ingest

    src = str(tmp_path / "cdcm_src")
    ckpt = str(tmp_path / "cdcm_ckpt")
    table = SnapTable.create(
        tmp_path / "cdcm_tbl",
        {
            "name": "accounts_cdcm", "namespace": "lakehouse",
            "columns": [
                {"name": "id", "type": "long"},
                {"name": "status", "type": "string"},
                {"name": "amount", "type": "double"},
            ],
            "identifier_fields": ["id"],
        },
    )
    table.append(spark.createDataFrame(
        [(i, "a", float(i)) for i in range(8)],
        "id LONG, status STRING, amount DOUBLE",
    ))
    _write_cdc(spark, src, [(0, None, None, "D", 1), (1, "u", 11.0, "U", 1)])
    q = incremental_cdc_ingest(
        spark, src, CDC_SCHEMA, table, ckpt, key_cols=["id"], seq_col="seq",
        mode="mor", maintenance_every=1, max_delete_files=64,
        max_delete_ratio=0.0,
    )
    q.awaitTermination(120)
    # correctness: delete applied, update applied
    state = {r.id: (r.status, r.amount) for r in table.read(spark).collect()}
    assert 0 not in state and state[1] == ("u", 11.0) and len(state) == 7
    # the inline compact ran: no delete files remain at the head
    assert not (table.current_snapshot().get("delete_dirs") or [])
    assert table.current_snapshot()["operation"] == "compact"
    # and the MoR merge commit is still in history (time-travel intact)
    assert any(e["operation"] == "merge" for e in table._entries())


def test_streaming_ingest_keeps_follow_head_view_fresh(spark, tmp_path):
    """The streaming sink commits through _commit, so a follow-head SQL
    registration serves each micro-batch's result as soon as the run
    finishes — the live-dashboard shape: readStream → table → spark.sql
    with no re-register between ingest runs."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    table = SnapTable.create(
        tmp_path / "tbl_fh",
        {"name": "stream_fh", "namespace": "lakehouse", "columns": [],
         "partition_spec": []},
    )
    _write_batch(spark, src, 0, 10)
    q = incremental_file_ingest(spark, src, SCHEMA, table, ckpt)
    q.awaitTermination(120)
    table.register(spark, name="stream_fh_view", follow_head=True,
                   metadata_tables=False)
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM stream_fh_view"
    ).first().n == 10
    _write_batch(spark, src, 100, 5)
    q = incremental_file_ingest(spark, src, SCHEMA, table, ckpt)
    q.awaitTermination(120)
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM stream_fh_view"
    ).first().n == 15
    table.unregister(spark, "stream_fh_view")


def test_streaming_near_dup_admission_lifecycle(spark, tmp_path):
    """Continuous admission (round 9): wave-1 admits against an empty
    store and lands docs + signatures; wave-2 contains an exact copy of a
    wave-1 ADMISSION — catchable only from the UPDATED store — plus a
    fresh doc; re-running the drained stream is a no-op (checkpoint +
    txn ledger)."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        create_signature_store,
    )
    from iceberg_quickstart_iac_spark.streaming.ingest import (
        streaming_near_dup_admission,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "docs_src")
    ckpt = str(tmp_path / "adm_ckpt")
    store = create_signature_store(tmp_path / "sig", "doc_id")
    docs_table = SnapTable.create(
        tmp_path / "docs_tbl",
        {
            "name": "admitted_docs", "namespace": "lakehouse",
            "columns": [
                {"name": "doc_id", "type": "long"},
                {"name": "text", "type": "string"},
            ],
        },
    )
    rejected: dict[int, list] = {}

    def run():
        q = streaming_near_dup_admission(
            spark, src, doc_schema, store, docs_table, ckpt,
            threshold=0.9,
            on_rejected=lambda bid, m: rejected.setdefault(bid, []).extend(
                tuple(r) for r in m.collect()
            ),
        )
        q.awaitTermination(120)

    wave1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different content about catalyst optimizer plans"),
            (3, "completely different content about catalyst optimizer plans"),
        ],
        doc_schema,
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    run()
    assert sorted(r.doc_id for r in docs_table.read(spark).collect()) == [1, 2]
    assert store.read(spark).count() == 2
    # wave 2: a copy of admitted doc 1 (only the UPDATED store knows it)
    # and a genuinely new doc
    spark.createDataFrame(
        [
            (50, "the quick brown fox jumps over the lazy dog again and again"),
            (51, "fresh wave two content totally new material here"),
        ],
        doc_schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert sorted(r.doc_id for r in docs_table.read(spark).collect()) == [1, 2, 51]
    assert store.read(spark).count() == 3
    flat = [m for ms in rejected.values() for m in ms]
    assert (50, 1, 1.0, "store") in flat and any(
        m[0] == 3 and m[3] == "batch" for m in flat
    )
    # drained checkpoint: re-running admits nothing twice
    run()
    assert docs_table.read(spark).count() == 3
    assert store.read(spark).count() == 3


def test_streaming_admission_compaction_cadence(spark, tmp_path):
    """compact_every bounds the store's file count under continuous
    ingest: after the cadence fires, the store reads from the compacted
    layout and admissions still work (the compaction commit is just
    another snapshot)."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        create_signature_store,
    )
    from iceberg_quickstart_iac_spark.streaming.ingest import (
        streaming_near_dup_admission,
    )

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "c_src")
    ckpt = str(tmp_path / "c_ckpt")
    store = create_signature_store(tmp_path / "c_sig", "doc_id")

    def run():
        q = streaming_near_dup_admission(
            spark, src, doc_schema, store, None, ckpt,
            threshold=0.9, compact_every=2,
        )
        q.awaitTermination(120)

    for i, text in enumerate(
        ["alpha content first wave", "beta content second wave",
         "gamma content third wave"]
    ):
        spark.createDataFrame([(100 + i, text)], doc_schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        run()
    entries = store._entries()
    # 3 admission appends + 1 compaction fired at the 2-commit mark
    assert [e["operation"] for e in entries].count("compact") == 1
    assert store.read(spark).count() == 3
    # a later batch still admits against the compacted store
    spark.createDataFrame(
        [(200, "alpha content first wave")], doc_schema
    ).coalesce(1).write.mode("append").parquet(src)
    hits = []
    q = streaming_near_dup_admission(
        spark, src, doc_schema, store, None, ckpt, threshold=0.9,
        on_rejected=lambda bid, m: hits.extend(tuple(r) for r in m.collect()),
    )
    q.awaitTermination(120)
    assert (200, 100, 1.0, "store") in hits
    assert store.read(spark).count() == 3  # the dup was not admitted


# -------------------------------------------- table-as-stream source (r10)


def _mk_table(lakeroot, name="feed_src", ids=None):
    from iceberg_quickstart_iac_spark.tables.snapstore import SnapTable

    return SnapTable.create(
        lakeroot / name,
        {
            "name": name,
            "namespace": "default",
            "identifier_fields": ids or [],
            "columns": [
                {"name": "k", "type": "long", "required": True},
                {"name": "v", "type": "double"},
            ],
        },
    )


def test_table_change_feed_initial_then_increments_then_drained(
    spark, tmp_path
):
    from iceberg_quickstart_iac_spark.streaming.ingest import (
        mirror_into,
        table_change_feed,
    )

    src = _mk_table(tmp_path)
    tgt = _mk_table(tmp_path, "feed_tgt")
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(0, 5)"))
    ck = tmp_path / "ck"
    # first turn: full current table (startingVersion-0 contract)
    r1 = table_change_feed(spark, src, ck, mirror_into(tgt))
    assert r1 == {"batches": 1, "batch_id": 0, "from_sequence": None}
    assert tgt.read(spark).count() == 5
    # two more commits arrive; ONE turn delivers both as one batch
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(5, 8)"))
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(8, 12)"))
    r2 = table_change_feed(spark, src, ck, mirror_into(tgt))
    assert r2 == {"batches": 1, "batch_id": 2, "from_sequence": 0}
    assert tgt.read(spark).count() == 12
    # drained: no-op turn, nothing re-delivered
    r3 = table_change_feed(spark, src, ck, mirror_into(tgt))
    assert r3["batches"] == 0
    assert tgt.read(spark).count() == 12


def test_read_incremental_to_snapshot_pins_the_upper_bound(
    spark, tmp_path
):
    """table_change_feed pins its reads to the head it checkpointed:
    read_incremental(to_snapshot_id=…) must exclude commits past the
    bound, or a commit landing mid-turn is delivered under a batch id
    the checkpoint never records (re-delivered next turn → duplicates
    the txn ledger cannot dedupe)."""
    import pytest

    src = _mk_table(tmp_path)
    for lo in (0, 5, 8):
        src.append(spark.sql(
            f"SELECT id AS k, CAST(id AS DOUBLE) AS v "
            f"FROM range({lo}, {lo + 3})"
        ))
    e = src._entries()
    bounded = src.read_incremental(
        spark, e[0]["snapshot_id"], to_snapshot_id=e[1]["snapshot_id"]
    )
    assert {r.k for r in bounded.collect()} == {5, 6, 7}
    # unbounded still reads to the live head
    assert src.read_incremental(spark, e[0]["snapshot_id"]).count() == 6
    # a bound that predates the start is a loud reject
    with pytest.raises(ValueError, match="predates"):
        src.read_incremental(
            spark, e[1]["snapshot_id"], to_snapshot_id=e[0]["snapshot_id"]
        )
    # a non-append commit BEYOND the bound no longer poisons the window
    src.delete_where(spark, "k = 0")
    ok = src.read_incremental(
        spark, e[0]["snapshot_id"], to_snapshot_id=e[2]["snapshot_id"]
    )
    assert {r.k for r in ok.collect()} == {5, 6, 7, 8, 9, 10}


def test_table_change_feed_crash_replay_is_exactly_once(spark, tmp_path):
    import json

    from iceberg_quickstart_iac_spark.streaming.ingest import (
        mirror_into,
        table_change_feed,
    )

    src = _mk_table(tmp_path)
    tgt = _mk_table(tmp_path, "feed_tgt")
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(0, 5)"))
    ck = tmp_path / "ck"
    table_change_feed(spark, src, ck, mirror_into(tgt))
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(5, 9)"))
    state_before = json.loads((ck / "feed.json").read_text())
    table_change_feed(spark, src, ck, mirror_into(tgt))
    assert tgt.read(spark).count() == 9
    # simulate a crash AFTER the sink append but BEFORE the checkpoint
    # advanced: roll the checkpoint back and replay the turn
    (ck / "feed.json").write_text(json.dumps(state_before))
    r = table_change_feed(spark, src, ck, mirror_into(tgt))
    assert r["batches"] == 1  # re-delivered...
    assert tgt.read(spark).count() == 9  # ...but the txn ledger de-duped


def test_table_change_feed_cdc_mode_and_append_reject(spark, tmp_path):
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.streaming.ingest import (
        table_change_feed,
    )

    src = _mk_table(tmp_path, ids=["k"])
    src.append(spark.sql("SELECT id AS k, CAST(id AS DOUBLE) AS v "
                         "FROM range(0, 6)"))
    ck = tmp_path / "ck"
    got: list = []
    fn = lambda df, bid: got.append((bid, df))  # noqa: E731
    table_change_feed(spark, src, ck, fn, mode="cdc")
    # a delete makes the chain non-append
    src.delete_where(spark, "k >= 4")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mode='cdc'"):
        table_change_feed(spark, src, ck, fn, mode="append")
    r = table_change_feed(spark, src, ck, fn, mode="cdc")
    assert r["batches"] == 1
    bid, df = got[-1]
    rows = {
        (x.k, x._change_type)
        for x in df.select("k", "_change_type").collect()
    }
    assert rows == {(4, "delete"), (5, "delete")}
