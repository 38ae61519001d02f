"""Property-based tests (hypothesis) for the invariant-heavy operators:
as-of join vs pandas.merge_asof, SCD2 merge invariants under arbitrary
update sequences, Murmur3 vectorized-vs-scalar agreement, quality-metric
identities. Data is generated small and driven through the real Spark
operators."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from iceberg_quickstart_iac_spark.functions.transforms import (
    _murmur3_32,
    _murmur3_32_bytes,
)

SETTINGS = dict(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=200))
@settings(max_examples=100, deadline=None)
def test_murmur3_vectorized_equals_scalar(values):
    arr = np.array(values, dtype="<i8")
    vec = _murmur3_32(np.frombuffer(arr.tobytes(), dtype=np.uint8))
    for v, h in zip(values, vec):
        assert h == _murmur3_32_bytes(np.array([v], dtype="<i8").tobytes())


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=200, deadline=None)
def test_murmur3_bytes_is_deterministic_int32(data):
    h = _murmur3_32_bytes(data)
    assert -(2**31) <= h < 2**31
    assert h == _murmur3_32_bytes(data)


@st.composite
def _asof_case(draw):
    n_keys = draw(st.integers(1, 3))
    right = []
    left = []
    for k in range(n_keys):
        r_ts = sorted(set(draw(st.lists(st.integers(0, 1000), min_size=0, max_size=8))))
        right += [(f"k{k}", t, float(i)) for i, t in enumerate(r_ts)]
        l_ts = draw(st.lists(st.integers(0, 1000), min_size=1, max_size=8))
        left += [(f"k{k}", t) for t in l_ts]
    return left, right


@given(_asof_case())
@settings(**SETTINGS)
def test_asof_join_matches_merge_asof(spark, case):
    from iceberg_quickstart_iac_spark.operators.asof import as_of_join

    left_rows, right_rows = case
    base = datetime.datetime(2024, 1, 1)

    def ts(s):
        return base + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(k, ts(t), i) for i, (k, t) in enumerate(left_rows)], "k STRING, lts TIMESTAMP, lid INT"
    )
    if right_rows:
        right = spark.createDataFrame(
            [(k, ts(t), v) for k, t, v in right_rows], "k STRING, rts TIMESTAMP, rv DOUBLE"
        )
    else:
        right = spark.createDataFrame([], "k STRING, rts TIMESTAMP, rv DOUBLE")

    ours = (
        as_of_join(left, right, on="k", left_ts="lts", right_ts="rts")
        .orderBy("k", "lts", "lid")
        .toPandas()
    )
    lp = left.toPandas().sort_values("lts", kind="stable")
    rp = right.toPandas().sort_values("rts", kind="stable")
    expected = pd.merge_asof(lp, rp, left_on="lts", right_on="rts", by="k").sort_values(
        ["k", "lts", "lid"], ignore_index=True
    )
    assert ours["rv"].fillna(-1).tolist() == expected["rv"].fillna(-1).tolist()


@st.composite
def _scd2_batches(draw):
    keys = [f"k{i}" for i in range(draw(st.integers(1, 4)))]
    n_batches = draw(st.integers(1, 3))
    batches = []
    for b in range(n_batches):
        batch = []
        for k in draw(st.lists(st.sampled_from(keys), min_size=1, max_size=4, unique=True)):
            batch.append((k, draw(st.sampled_from(["a", "b", "c"]))))
        batches.append(batch)
    return batches


@given(_scd2_batches())
@settings(**SETTINGS)
def test_scd2_invariants_hold_under_any_batch_sequence(spark, batches):
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [],
        "surrogate_key LONG, natural_key STRING, status STRING, "
        "effective_from TIMESTAMP, effective_to TIMESTAMP, is_current BOOLEAN",
    )
    base = datetime.datetime(2024, 1, 1)
    for i, batch in enumerate(batches):
        updates = spark.createDataFrame(
            [(k, s, base + datetime.timedelta(days=i)) for k, s in batch],
            "natural_key STRING, status STRING, effective_from TIMESTAMP",
        )
        dim = scd2_merge(dim, updates, "natural_key", ["status"]).localCheckpoint()

    pdf = dim.toPandas()
    seen_keys = {k for batch in batches for k, _ in batch}
    # exactly one current row per key ever seen
    current = pdf[pdf.is_current]
    assert set(current.natural_key) == seen_keys
    assert current.natural_key.is_unique
    # open rows have no effective_to; closed rows do
    assert current.effective_to.isna().all()
    assert pdf[~pdf.is_current].effective_to.notna().all()
    # per key: version intervals are chronologically ordered and contiguous
    for k, grp in pdf.groupby("natural_key"):
        grp = grp.sort_values("effective_from")
        ends = grp.effective_to.tolist()
        starts = grp.effective_from.tolist()
        for j in range(len(grp) - 1):
            assert ends[j] == starts[j + 1]  # closed exactly at successor start


@given(
    st.lists(
        st.tuples(st.booleans(), st.integers(0, 5)), min_size=1, max_size=30
    )
)
@settings(**SETTINGS)
def test_quality_metric_identities(spark, rows):
    """missing + present = total; duplicate_count = rows-with-value − distinct."""
    from iceberg_quickstart_iac_spark.operators.quality import Check, run_checks

    data = [(str(v) if present else None,) for present, v in rows]
    df = spark.createDataFrame(data, "x STRING")
    rep = run_checks(
        df,
        [
            Check("row_count", op=">=", threshold=0),
            Check("missing_count", "x", op=">=", threshold=0),
            Check("duplicate_count", "x", op=">=", threshold=0),
        ],
    )
    by = {r.check.kind: r.value for r in rep.results}
    present_vals = [v for v in (d[0] for d in data) if v is not None]
    assert by["row_count"] == len(data)
    assert by["missing_count"] == len(data) - len(present_vals)
    assert by["duplicate_count"] == len(present_vals) - len(set(present_vals))


_GATE_TS = [
    None,
    datetime.datetime(2023, 12, 31, 23, 0),
    datetime.datetime(2024, 1, 1, 10, 0),
    datetime.datetime(2024, 1, 2, 0, 30),
]


@given(
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 4)), st.sampled_from(_GATE_TS)),
        max_size=12,
    )
)
@example([])  # an empty batch
@example([(None, None), (None, None), (1, None)])  # duplicate nulls, all-null timestamps
@settings(**SETTINGS)
def test_gated_write_report_equals_run_checks(spark, tmp_path, rows):
    """The gate a staged write computes from its own query's observed
    metrics reports exactly what ``run_checks`` reports on the same input,
    for all four check kinds."""
    import uuid

    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.operators.quality import (
        Check,
        observe_checks,
        run_checks,
    )
    from iceberg_quickstart_iac_spark.tables import SnapTable

    df = spark.createDataFrame(
        [(None if k is None else f"k{k}", ts) for k, ts in rows], "k STRING, ts TIMESTAMP"
    )
    checks = [
        Check("row_count", op=">", threshold=0),
        Check("missing_count", "k"),
        Check("duplicate_count", "k"),
        Check("freshness", "ts", max_age="1d"),
    ]
    as_of = F.lit("2024-01-02 12:00:00").cast("timestamp")
    t = SnapTable.create(
        tmp_path / uuid.uuid4().hex,
        {"name": "g", "namespace": "p", "partition_spec": [],
         "columns": [{"name": "k", "type": "string"}, {"name": "ts", "type": "timestamptz"}]},
    )
    observed, report = observe_checks(df, checks, table="g", as_of=as_of)
    gated = []
    t.append(observed, audit=lambda _staged: gated.append(report()))
    assert gated == [run_checks(df, checks, table="g", as_of=as_of)]


def test_compaction_preserves_data_and_history(spark, tmp_path):
    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.create(
        tmp_path / "t", {"name": "t", "namespace": "ns", "columns": [], "partition_spec": []}
    )
    df = spark.createDataFrame([(i,) for i in range(10)], "v LONG")
    for _ in range(3):
        t.append(df.repartition(4))
    assert t.current_snapshot()["file_count"] >= 4
    pre_compact = t.current_snapshot()["snapshot_id"]

    entry = t.compact(spark, target_files=1)
    assert entry["operation"] == "compact"
    assert entry["file_count"] == 1
    assert t.read(spark).count() == 30
    # pre-compaction snapshot still time-travelable
    assert t.read(spark, snapshot_id=pre_compact).count() == 30


@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FA1, exclude_categories=("Cs",)),
            min_size=1,
            max_size=700,
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(80, 300),
    st.integers(0, 60),
)
@settings(**SETTINGS)
def test_chunking_reassembles_exactly(spark, texts, chunk_chars, overlap):
    """Invariant: chunk(0) + chunk(i)[overlap:] for i>0 == original text,
    for ANY text (unicode incl. CJK) and any (chunk, overlap) geometry."""
    from iceberg_quickstart_iac_spark.operators.text import chunk_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    rows = chunk_text(df, "doc_id", "text", chunk_chars=chunk_chars, overlap=overlap).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk))
    for i, t in enumerate(texts):
        chunks = [c for _, c in sorted(by_doc[i])]
        rebuilt = chunks[0] + "".join(c[overlap:] for c in chunks[1:])
        assert rebuilt == t, (t, chunks)
        # every chunk except possibly the last is full width
        assert all(len(c) == chunk_chars for c in chunks[:-1])


@given(st.lists(st.integers(0, 10**9), min_size=5, max_size=60, unique=True), st.integers(1, 5))
@settings(**SETTINGS)
def test_stratified_sample_is_prefix_stable(spark, ids, n):
    """Growing a stratum never changes which of the surviving rows rank
    first: the hash order is a fixed total order, so the n-sample of a
    superset contains the n-sample of any subset's top picks that remain."""
    from iceberg_quickstart_iac_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id LONG, stratum STRING")
    picks = [
        r.doc_id
        for r in stratified_sample(df, ["stratum"], n, "doc_id")
        .orderBy("sample_rank")
        .collect()
    ]
    assert len(picks) == min(n, len(ids))
    # recompute the expected order in plain python — the contract is pure
    # integer arithmetic, so it must agree exactly
    expected = sorted(ids, key=lambda i: ((i * 2654435761) % 4294967296, i))[: n]
    assert picks == expected


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50), st.text(max_size=5)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_exact_dedup_keeps_min_id_per_key(spark, rows):
    from iceberg_quickstart_iac_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(rows, "k LONG, id LONG, payload STRING")
    out = exact_dedup(df, ["k"], "id").collect()
    expected_min = {}
    for k, i, _ in rows:
        expected_min[k] = min(expected_min.get(k, i), i)
    assert {r.k: r.id for r in out} == expected_min
    assert len(out) == len(expected_min)  # exactly one row per key


# --- randomized MoR lifecycle model check ----------------------------------


def test_mor_lifecycle_matches_model_under_random_interleavings(spark, tmp_path):
    """Model-based check of merge-on-read semantics: random interleavings
    of append / MoR key-delete / rewrite_delete_files / compact /
    expire_snapshots must always read back exactly what a dict model
    says. Catches sequence-scoping mistakes (a delete erasing rows
    appended after it; a merge widening applicability; expiration
    collapsing intro sequences) that example tests can miss."""
    import random

    from iceberg_quickstart_iac_spark.tables import SnapTable

    for seed in (11, 23, 47):
        rng = random.Random(seed)
        t = SnapTable.create(
            tmp_path / f"model-{seed}",
            {
                "name": f"model{seed}", "namespace": "x",
                "columns": [
                    {"name": "k", "type": "long"},
                    {"name": "v", "type": "long"},
                ],
                "identifier_fields": ["k"],
            },
        )
        model: dict[int, int] = {}
        next_k = 0

        def rows_df(pairs):
            return spark.createDataFrame(pairs, "k LONG, v LONG")

        # seed rows
        first = [(i, seed) for i in range(6)]
        t.append(rows_df(first))
        model.update(dict(first))
        next_k = 6

        for step in range(12):
            op = rng.choice(["append", "mor_delete", "rewrite", "compact", "expire"])
            if op == "append":
                batch = [(next_k + j, seed * 100 + step) for j in range(rng.randint(1, 3))]
                # occasionally re-append a previously deleted key: the old
                # delete file must NOT erase the fresh row
                dead = [k for k in range(next_k) if k not in model]
                if dead and rng.random() < 0.5:
                    batch.append((rng.choice(dead), seed * 100 + step))
                t.append(rows_df(batch))
                model.update(dict(batch))
                next_k += len(batch)
            elif op == "mor_delete":
                live = sorted(model)
                if not live:
                    continue
                victims = rng.sample(live, min(len(live), rng.randint(1, 3)))
                cond = "k IN (" + ",".join(map(str, victims)) + ")"
                t.delete_where(spark, cond, mode="mor")
                for k in victims:
                    model.pop(k, None)
            elif op == "rewrite":
                t.rewrite_delete_files(spark)
            elif op == "compact":
                t.compact(spark)
            else:
                t.expire_snapshots(older_than_ms=2**52)
            got = {(r.k, r.v) for r in t.read(spark).collect()}
            assert got == set(model.items()), (
                f"seed={seed} step={step} op={op}: {got ^ set(model.items())}"
            )


def test_footer_skipping_never_changes_results(spark, tmp_path):
    """File-level min/max skipping is an optimization, not a semantics
    change: for random multi-file tables and random predicates, a
    filtered read must equal filtering the full read — regardless of
    which files the stats pruned."""
    import random

    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.tables import SnapTable

    for seed in (5, 17):
        rng = random.Random(seed)
        t = SnapTable.create(
            tmp_path / f"skip-{seed}",
            {"name": f"skip{seed}", "namespace": "x",
             "columns": [{"name": "k", "type": "long"},
                         {"name": "s", "type": "string"}]},
        )
        for _ in range(4):
            lo = rng.randint(-50, 400)
            t.append(spark.createDataFrame(
                [(lo + j, f"x{(lo + j) % 37}") for j in range(rng.randint(5, 40))],
                "k LONG, s STRING",
            ).coalesce(1))
        full = t.read(spark).persist()
        try:
            for _ in range(8):
                op = rng.choice(["=", ">=", ">", "<=", "<", "in"])
                if op == "in":
                    bound = rng.sample(range(-60, 460), rng.randint(1, 4))
                    expected = full.filter(F.col("k").isin(bound))
                else:
                    bound = rng.randint(-60, 460)
                    expected = full.filter(f"k {op} {bound}")
                got = t.read(spark, filters=[("k", op, bound)])
                assert sorted(map(tuple, got.collect())) == \
                    sorted(map(tuple, expected.collect())), (seed, op, bound)
        finally:
            full.unpersist()


def test_partition_scoped_compact_matches_model_under_random_interleavings(
    spark, tmp_path
):
    """Model-based check of PARTITION-SCOPED compaction semantics: random
    interleavings of append / MoR key-delete / scoped compact (random
    partition) / full compact / rewrite_delete_files / expire must always
    read back exactly what a dict model says. Catches subpath-reference
    mistakes (kept leaves losing their intro sequence or epoch; a scoped
    rewrite un-applying a delete for cold partitions; retire-check
    retiring a delete file whose debt lives elsewhere).

    A follow-head SQL registration rides along: after EVERY commit type
    the registered view must serve exactly the model too (round 8 —
    pins that _refresh_head_registrations fires on every commit path,
    not just append)."""
    import random

    from iceberg_quickstart_iac_spark.tables import SnapTable

    for seed in (5, 31):
        rng = random.Random(seed)
        t = SnapTable.create(
            tmp_path / f"pmodel-{seed}",
            {
                "name": f"pmodel{seed}", "namespace": "x",
                "columns": [
                    {"name": "k", "type": "long"},
                    {"name": "g", "type": "string"},
                    {"name": "v", "type": "long"},
                ],
                "identifier_fields": ["k"],
                "partition_spec": [{"column": "g", "transform": "identity"}],
            },
        )
        parts = ["p0", "p1", "p2"]
        model: dict[int, tuple[str, int]] = {}
        next_k = 0

        def rows_df(triples):
            return spark.createDataFrame(triples, "k LONG, g STRING, v LONG")

        first = [(i, parts[i % 3], seed) for i in range(9)]
        t.append(rows_df(first))
        model.update({k: (g, v) for k, g, v in first})
        next_k = 9
        t.register(spark, name=f"pm_fh{seed}", follow_head=True,
                   metadata_tables=False)

        for step in range(14):
            op = rng.choice(
                ["append", "mor_delete", "scoped_compact", "compact",
                 "rewrite", "expire"]
            )
            if op == "append":
                batch = [
                    (next_k + j, rng.choice(parts), seed * 100 + step)
                    for j in range(rng.randint(1, 3))
                ]
                dead = [k for k in range(next_k) if k not in model]
                if dead and rng.random() < 0.5:
                    batch.append(
                        (rng.choice(dead), rng.choice(parts), seed * 100 + step)
                    )
                t.append(rows_df(batch))
                model.update({k: (g, v) for k, g, v in batch})
                next_k += len(batch)
            elif op == "mor_delete":
                live = sorted(model)
                if not live:
                    continue
                victims = rng.sample(live, min(len(live), rng.randint(1, 3)))
                t.delete_where(
                    spark, "k IN (" + ",".join(map(str, victims)) + ")",
                    mode="mor",
                )
                for k in victims:
                    model.pop(k, None)
            elif op == "scoped_compact":
                t.compact(
                    spark, partition_filter=[("g", "=", rng.choice(parts))]
                )
            elif op == "compact":
                t.compact(spark)
            elif op == "rewrite":
                t.rewrite_delete_files(spark)
            else:
                t.expire_snapshots(older_than_ms=2**52)
            got = {(r.k, r.g, r.v) for r in t.read(spark).collect()}
            want = {(k, g, v) for k, (g, v) in model.items()}
            assert got == want, (
                f"seed={seed} step={step} op={op}: {got ^ want}"
            )
            via_sql = {
                (r.k, r.g, r.v)
                for r in spark.sql(f"SELECT * FROM pm_fh{seed}").collect()
            }
            assert via_sql == want, (
                f"seed={seed} step={step} op={op} (follow-head view): "
                f"{via_sql ^ want}"
            )
        assert t.verify_integrity()["ok"]
        t.unregister(spark, f"pm_fh{seed}")


def test_reader_registration_never_leaks_restricted_columns(spark, tmp_path):
    """For random schemas and random restricted subsets, a reader-level
    registration must expose exactly the non-restricted columns — in the
    view's result AND in its scan's ReadSchema."""
    import random

    from iceberg_quickstart_iac_spark.tables import SnapTable

    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    import json as _json

    from pyspark.errors import AnalysisException

    for seed in (3, 17, 29):
        rng = random.Random(seed)
        n_cols = rng.randint(3, 7)
        names = [f"c{i}" for i in range(n_cols)]
        restricted = {n for n in names[1:] if rng.random() < 0.4}
        # partition by a RESTRICTED column when one exists — the partition
        # values land in directory names, so __files/__partitions would
        # republish them unless the registration redacts
        pcol = sorted(restricted)[0] if restricted else None
        t = SnapTable.create(
            tmp_path / f"leak{seed}",
            {
                "name": f"leak{seed}", "namespace": "x",
                "columns": [
                    {"name": n, "type": "long",
                     **({"access_level": "restricted"} if n in restricted else {})}
                    for n in names
                ],
                **(
                    {"partition_spec": [{"column": pcol, "transform": "identity"}]}
                    if pcol
                    else {}
                ),
            },
        )
        t.append(spark.createDataFrame(
            [tuple(range(i, i + n_cols)) for i in range(5)],
            ", ".join(f"{n} LONG" for n in names),
        ))
        t.register(spark, name=f"v_leak{seed}", access_level="reader",
                   metadata_tables=False)
        out = spark.sql(f"SELECT * FROM v_leak{seed}")
        assert set(out.columns) == set(names) - restricted
        plan = out._jdf.queryExecution().explainString(jm)
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
        assert read_schema
        for col in restricted:
            assert all(
                f"{col}:" not in ln and f"{col}," not in ln and not ln.rstrip().endswith(col)
                for ln in read_schema
            ), (col, read_schema)
        # reader default: NO metadata views (their bounds/partition values
        # would republish restricted data)
        with pytest.raises(AnalysisException):
            spark.sql(f"SELECT * FROM v_leak{seed}__files").collect()
        # explicit opt-in: metadata views register with restricted columns
        # redacted from bounds AND partition values
        t.register(spark, name=f"v_leakmd{seed}", access_level="reader",
                   metadata_tables=True)
        def _derives_from_restricted(key: str) -> bool:
            # partition JSON keys are physical field names (__p_<col> /
            # __p_<col>_<transform>)
            return any(
                key == f"__p_{c}" or key.startswith(f"__p_{c}_")
                for c in restricted
            )

        frows = spark.sql(
            f"SELECT partition, column_bounds FROM v_leakmd{seed}__files"
        ).collect()
        assert frows
        for r in frows:
            assert not restricted & set(_json.loads(r.column_bounds)), r
            assert not any(
                _derives_from_restricted(k) for k in _json.loads(r.partition)
            ), r
            # non-restricted stats still serve their audit purpose
            assert "c0" in _json.loads(r.column_bounds), r
        for r in spark.sql(
            f"SELECT partition FROM v_leakmd{seed}__partitions"
        ).collect():
            assert not any(
                _derives_from_restricted(k) for k in _json.loads(r.partition)
            ), r
        # the PATH columns embed the same __p_<col>=<value> segments the
        # partition JSON parses from — a restricted partition column's
        # values must not republish through file_path/data_dir either
        for r in spark.sql(f"SELECT * FROM v_leakmd{seed}__files").collect():
            for field in ("file_path", "data_dir"):
                for seg in r[field].split("/"):
                    if "=" in seg:
                        k, _, v = seg.partition("=")
                        if _derives_from_restricted(k):
                            assert v == "<redacted>", (field, seg)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_media_byte_parsers_never_crash_on_garbage(payload):
    """The WAV/BMP parsers run on UNTRUSTED bytes inside executor batches:
    any input must yield a parse, None, or the loud real-decoder error —
    never an IndexError/struct.error that would kill the Spark task."""
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        _parse_bmp_pixels, _parse_wav_pcm,
    )

    for parse in (_parse_wav_pcm, _parse_bmp_pixels):
        try:
            out = parse(payload)
        except NotImplementedError:
            continue  # the documented compressed-format refusal
        assert out is None or isinstance(out, tuple)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_media_parsers_never_crash_on_prefixed_garbage(payload):
    """Valid magic bytes followed by garbage must also degrade cleanly —
    the adversarial half (signature passes, structure lies)."""
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        _parse_bmp_pixels, _parse_wav_pcm,
    )

    for prefix, parse in (
        (b"RIFF\x10\x00\x00\x00WAVE", _parse_wav_pcm),
        (b"BM", _parse_bmp_pixels),
    ):
        try:
            out = parse(prefix + payload)
        except NotImplementedError:
            continue
        assert out is None or isinstance(out, tuple)


@given(st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_jpeg_marker_scan_never_crashes_on_garbage(payload):
    """The JPEG SOF scan runs on UNTRUSTED crawl bytes inside executor
    batches (round 9): raw garbage AND valid-magic
    prefixed garbage must both yield (w, h) or None — never an exception,
    never a non-terminating scan."""
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        _parse_jpeg_dims,
    )

    for blob in (payload, b"\xff\xd8" + payload):
        out = _parse_jpeg_dims(blob)
        assert out is None or (isinstance(out, tuple) and len(out) == 2)


def test_header_expressions_survive_garbage_batch(spark):
    """png_meta/gif_meta/wav_duration_ms are JVM column expressions over
    untrusted bytes: one batch of seeded-random garbage + adversarial
    magic-prefixed garbage (truncated headers, giant fields) must run to
    completion under ANSI mode with NULL-or-struct results — a malformed
    crawl blob must never kill a task."""
    import random

    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.operators.multimodal import (
        gif_meta,
        png_meta,
        wav_duration_ms,
    )

    rng = random.Random(9)
    payloads = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 200)))
                for _ in range(200)]
    magics = [
        bytes.fromhex("89504E470D0A1A0A"),  # PNG
        b"GIF87a", b"GIF89a",
        b"RIFF\xff\xff\xff\xffWAVE",
        b"RIFF", b"GIF", b"\x89PN",
    ]
    for m in magics:
        for _ in range(30):
            payloads.append(m + bytes(rng.randrange(256)
                                      for _ in range(rng.randrange(0, 60))))
        payloads.append(m)          # bare magic, truncated header
        payloads.append(m + b"\xff" * 40)  # max-value fields
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "i LONG, content BINARY"
    )
    out = df.select(
        "i",
        png_meta(F.col("content")).alias("png"),
        gif_meta(F.col("content")).alias("gif"),
        wav_duration_ms(F.col("content")).alias("wav_ms"),
    ).collect()
    # completion IS the property (no ANSI cast/conv task kill); spot-check
    # the shapes: every non-null result is a well-typed struct/long
    assert len(out) == len(payloads)
    for r in out:
        if r.png is not None:
            assert r.png.width is None or r.png.width >= 0
        if r.wav_ms is not None:
            assert isinstance(r.wav_ms, int)


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=32, max_codepoint=126,
                exclude_characters="',()\"`",
            ),
            min_size=0, max_size=12,
        ).filter(lambda p: "--" not in p and "/*" not in p),
        min_size=1, max_size=6,
    ),
    st.lists(st.sampled_from(["(a, b)", "'x,y'", "f(1, '2,3')", "''",
                              '"x,y"', "`a,b`", "/* c, d */"]),
             max_size=3),
)
@settings(max_examples=200, deadline=None)
def test_split_top_level_roundtrips(parts, decorations):
    """The SQL front door's comma splitter must treat commas inside
    parens, string literals, quoted identifiers and comments as content:
    joining parts (each possibly decorated with a nested-comma fragment)
    and splitting again yields the same non-empty parts. Parts themselves
    carry no quote or comment opener — those start a literal or comment
    that runs on past the next comma."""
    from iceberg_quickstart_iac_spark.tables.sql_text import split_top_level

    decorated = []
    for i, p in enumerate(parts):
        frag = decorations[i % len(decorations)] if decorations else ""
        decorated.append((p + " " + frag).strip())
    joined = ", ".join(d for d in decorated if d)
    expect = [d for d in decorated if d]
    assert split_top_level(joined) == expect


@given(st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=60,
))
@settings(max_examples=300, deadline=None)
def test_alias_rewrite_never_touches_string_literals(payload):
    """Alias rewriting applies outside single-quoted literals only: a
    literal containing 'u.' survives byte-for-byte, while a real 'u.'
    prefix outside quotes rewrites."""
    from iceberg_quickstart_iac_spark.tables.sql_dml import _rewrite_alias

    # build a literal from the payload (''-escape any quotes)
    lit = "'" + payload.replace("'", "''") + "'"
    expr = f"u.col = {lit} AND u.other > 1"
    out = _rewrite_alias(expr, {"u": "s"})
    assert out == f"s.col = {lit} AND s.other > 1"


# -- whole-statement SQL front-door fuzz (round 10) ------------------------

_SQL_PAYLOAD = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=0, max_size=24,
)
_SQL_RESERVED = frozenset(
    "merge into using on when matched not by then update set delete insert"
    " values and or as case end target source where from select".split()
)
_SQL_ALIAS = st.from_regex(r"[a-z][a-z0-9_]{0,7}", fullmatch=True).filter(
    lambda a: a not in _SQL_RESERVED
)


def _sql_lit(payload: str) -> str:
    return "'" + payload.replace("'", "''") + "'"


@given(ta=_SQL_ALIAS, sa=_SQL_ALIAS, payload=_SQL_PAYLOAD)
@settings(max_examples=300, deadline=None)
def test_merge_statement_fuzz_roundtrip(ta, sa, payload):
    """Whole-statement MERGE fuzz: arbitrary alias choices (including the
    executor's own t/s names and cross-collisions) and a hostile literal
    carrying WHEN/THEN/ON/;/parens placed in the ON condition, a clause
    condition, SET expressions, and INSERT VALUES. The parser must route
    every piece to the right slot with literals byte-intact — never
    mis-assign target/source references or split at keyword lookalikes."""
    from hypothesis import assume

    from iceberg_quickstart_iac_spark.tables.sql_dml import (
        _parse_merge_clauses,
        _parse_merge_head,
        _rewrite_alias,
    )

    assume(ta != sa)
    lit = _sql_lit(payload)
    stmt = (
        f"merge into accounts as {ta} using src as {sa} "
        f"on {ta}.id = {sa}.id and {ta}.note <> {lit} "
        f"when matched and {sa}.flag = {lit} then "
        f"update set balance = {ta}.balance + {sa}.delta, note = {lit} "
        f"when not matched then insert (id, note) values ({sa}.id, {lit})"
    )
    parsed = _parse_merge_head(stmt)
    assert parsed is not None
    table, t_alias, src_sql, on_sql, when_tail = parsed
    assert (table, t_alias, src_sql) == ("accounts", ta, f"src as {sa}")
    amap = {ta: "t", sa: "s"}
    assert _rewrite_alias(on_sql, amap) == f"t.id = s.id and t.note <> {lit}"
    clauses = _parse_merge_clauses(when_tail, amap)
    wm = clauses["when_matched"][0]
    assert wm["condition"] == f"s.flag = {lit}"
    assert wm["set"] == {"balance": "t.balance + s.delta", "note": lit}
    assert clauses["when_not_matched"][0]["values"] == {
        "id": "s.id", "note": lit,
    }


@given(payload=_SQL_PAYLOAD, payload2=_SQL_PAYLOAD)
@settings(max_examples=300, deadline=None)
def test_update_statement_fuzz_case_when_and_literals(payload, payload2):
    """UPDATE fuzz: literals containing ' where '/' then ' and a CASE WHEN
    in a SET expression must not split the statement early; every SET
    item and the real WHERE route intact."""
    from iceberg_quickstart_iac_spark.tables.sql_dml import (
        _parse_set_list,
        _parse_update,
    )

    lit1, lit2 = _sql_lit(payload), _sql_lit(payload2)
    parsed = _parse_update(
        f"update t set a = {lit1}, "
        f"b = case when x > 1 then {lit2} else b end "
        f"where k = {lit1}"
    )
    assert parsed is not None
    table, set_sql, cond = parsed
    assert table == "t" and cond == f"k = {lit1}"
    assert _parse_set_list(set_sql, {}) == {
        "a": lit1,
        "b": f"case when x > 1 then {lit2} else b end",
    }


@given(payload=_SQL_PAYLOAD)
@settings(max_examples=200, deadline=None)
def test_sql_script_split_keeps_semicolons_in_literals(payload):
    """The runbook splitter: a ';' inside a string literal — '…' or
    "…" — or inside a comment never breaks a statement; real separators
    do."""
    from iceberg_quickstart_iac_spark.tables.sql_text import split_top_level

    lit = _sql_lit(payload)
    dq_lit = '"' + payload.replace('"', '""') + '"'
    stmts = [
        f"insert into t values (1, {lit})",
        f"select {lit} as x from t",
        f"select {dq_lit} as y -- {payload}\nfrom t",
        "delete from t",
    ]
    if "*/" not in payload and "/*" not in payload:  # comments nest
        stmts.append(f"select /* {payload} */ 1")
    assert split_top_level(" ; ".join(stmts), sep=";") == stmts


@given(payload=_SQL_PAYLOAD)
@settings(max_examples=150, deadline=None)
def test_scope_rewrite_spares_literals_and_prefixed_names(payload):
    """The branch-scope view rewriter: catalog-table tokens rewrite to
    suffixed views EVERYWHERE outside string literals; a literal carrying
    a table name survives byte-for-byte; a table name that prefixes
    another (a / ab) never mangles the longer one."""
    import tempfile

    from iceberg_quickstart_iac_spark.tables import Lakehouse

    lake = Lakehouse(tempfile.mkdtemp(prefix="scoperw_") + "/lake")
    for n in ("a", "ab"):
        lake.create_table({
            "name": n, "namespace": "lakehouse",
            "columns": [{"name": "k", "type": "long"}],
        })
    lit = _sql_lit(payload + " a ab a.x ")
    stmt = f"SELECT a.k, ab.k FROM a JOIN ab ON a.k = ab.k WHERE v = {lit}"
    out = lake._rewrite_scope_refs(stmt, "__scope_zz")
    assert out == (
        f"SELECT a__scope_zz.k, ab__scope_zz.k FROM a__scope_zz "
        f"JOIN ab__scope_zz ON a__scope_zz.k = ab__scope_zz.k "
        f"WHERE v = {lit}"
    )


@given(payload=_SQL_PAYLOAD)
@settings(max_examples=150, deadline=None)
def test_ctas_regex_extracts_query_with_hostile_literals(payload):
    """The CTAS head split: the AS <query> boundary is the first
    top-level 'as' after the name/USING/PARTITIONED BY/TBLPROPERTIES
    clauses, so literals inside the query (carrying ' as ', parens,
    quotes) arrive in the query group byte-intact — and clause bodies
    with nested parens parse via the balanced scan, not a regex."""
    from iceberg_quickstart_iac_spark.tables.sql_ddl import _parse_ctas

    lit = _sql_lit(payload + " as x ")
    for stmt, want_name, want_part, want_props in [
        (f"create table t9 as select {lit} as c from src",
         "t9", None, None),
        (f"create table if not exists ns.t9 using iceberg as "
         f"select {lit} as c", "ns.t9", None, None),
        (f"create table t9 partitioned by (days(ts), bucket(4, k)) "
         f"tblproperties ('write.format.default'='orc') as "
         f"select {lit} as c from src",
         "t9", "days(ts), bucket(4, k)",
         "'write.format.default'='orc'"),
        # a property VALUE carrying ' as ', parens, and quotes must not
        # shift the clause boundaries (the balanced scan is literal-aware)
        (f"create table t9 tblproperties ('comment'={lit}) as "
         f"select 1 as c",
         "t9", None, f"'comment'={lit}"),
    ]:
        parsed = _parse_ctas(stmt)
        assert parsed, stmt
        _ine, name, part_sql, props_sql, query = parsed
        assert name == want_name
        assert part_sql == want_part
        assert props_sql == want_props
        assert query.startswith("select ")
        # the literal lands byte-intact wherever the statement put it
        assert lit in (props_sql if props_sql and lit in props_sql else query)


# -- CALL procedure-statement fuzz (round 10; tables/sql_call.py) ------------


@given(
    payload=_SQL_PAYLOAD,
    proc=st.sampled_from(
        ["expire_snapshots", "rewrite_data_files", "ancestors_of",
         "rollback_to_snapshot", "create_changelog_view"]
    ),
    qualifier=st.sampled_from(["system", "lakehouse.system", "c.n.system"]),
)
@settings(max_examples=300, deadline=None)
def test_call_parse_fuzz_string_args_survive(payload, proc, qualifier):
    """CALL argument parsing is string-literal-safe: a quoted argument
    containing commas, arrows, parens, or procedure-ish text survives
    byte-for-byte, and the procedure/table route never shifts."""
    from iceberg_quickstart_iac_spark.tables.sql_call import parse_call

    lit = _sql_lit(payload)
    stmt = (
        f"CALL {qualifier}.{proc}(table => 't1', snapshot_id => {lit})"
    )
    got_proc, args = parse_call(stmt)
    assert got_proc == proc
    assert args["table"] == "t1"
    assert args["snapshot_id"] == payload


@given(garbage=_SQL_PAYLOAD)
@settings(max_examples=300, deadline=None)
def test_call_parse_never_misroutes(garbage):
    """Arbitrary text after CALL either parses to a known procedure with
    a table argument or raises ValueError — never returns a bogus route
    and never raises anything else."""
    from iceberg_quickstart_iac_spark.tables.sql_call import (
        _PROC_ACCESS,
        parse_call,
    )

    try:
        proc, args = parse_call("CALL " + garbage)
    except ValueError:
        return
    assert proc in _PROC_ACCESS
    assert "table" in args


@given(payload=_SQL_PAYLOAD, payload2=_SQL_PAYLOAD)
@settings(max_examples=200, deadline=None)
def test_create_view_comment_literal_never_confuses_as_split(
    payload, payload2
):
    """CREATE VIEW parsing must find the real AS keyword even when the
    COMMENT literal contains ' as ', quotes, or query-ish text: the
    stored SQL is exactly the text after AS, and the comment round-trips
    byte-for-byte."""
    from unittest.mock import MagicMock

    from iceberg_quickstart_iac_spark.tables.sql_ddl import execute_ddl

    comment = (payload + " as " + payload2).strip()
    body = "SELECT 1 AS one"
    lake = MagicMock()
    stmt = f"CREATE VIEW vfz COMMENT {_sql_lit(comment)} AS {body}"
    execute_ddl(lake, None, stmt, "admin")
    lake.create_view.assert_called_once_with(
        "vfz", body, replace=False, comment=comment, namespace="default"
    )


def test_cherrypick_never_duplicates_under_random_interleavings(
    spark, tmp_path
):
    """Model check for cherry-pick safety: random
    interleavings of append / compact / rollback_to / cherrypick must
    NEVER duplicate a key — a cherry-pick of an append whose delta a
    later rewrite absorbed has to resolve through the lineage walk to a
    no-op, while one whose rows genuinely left the head (rollback past
    it) is a true re-reference. Every appended key is globally unique,
    so duplication is directly observable; row_count is re-asserted
    against the actual read each step (the footer-based delta math)."""
    import random

    from iceberg_quickstart_iac_spark.tables import SnapTable

    for seed in (7, 29):
        rng = random.Random(seed)
        t = SnapTable.create(
            tmp_path / f"cp-{seed}",
            {
                "name": f"cp{seed}", "namespace": "x",
                "columns": [
                    {"name": "k", "type": "long"},
                    {"name": "v", "type": "long"},
                ],
            },
        )
        next_k = 0

        def add(n):
            nonlocal next_k
            batch = [(next_k + j, seed) for j in range(n)]
            next_k += n
            t.append(spark.createDataFrame(batch, "k LONG, v LONG"))

        add(4)
        for step in range(10):
            entries = t._entries()
            op = rng.choice(["append", "compact", "rollback", "cherrypick"])
            if op == "append":
                add(rng.randint(1, 3))
            elif op == "compact":
                t.compact(spark)
            elif op == "rollback":
                t.rollback_to(rng.choice(entries)["snapshot_id"])
            else:
                cands = [e for e in entries if e["operation"] == "append"]
                if cands:
                    t.cherrypick_snapshot(
                        rng.choice(cands)["snapshot_id"]
                    )
            ks = [r.k for r in t.read(spark).select("k").collect()]
            assert len(ks) == len(set(ks)), (seed, step, op)
            assert t.current_snapshot()["row_count"] == len(ks), (
                seed, step, op,
            )


def test_cherrypick_expired_parent_under_random_interleavings(spark, tmp_path):
    """Same model as above with `expire` in the op mix: expiring the oldest
    entries makes a surviving append's list-parent vanish, so its
    cherry-pick delta becomes its full CUMULATIVE dir list (multiple
    top-level segments) — the precondition for PARTIAL lineage coverage.
    The no-duplicate-key and row_count==read-count invariants must survive
    those multi-dir re-references too."""
    import random
    import time

    from iceberg_quickstart_iac_spark.tables import SnapTable

    for seed in (11, 41):
        rng = random.Random(seed)
        t = SnapTable.create(
            tmp_path / f"cpe-{seed}",
            {
                "name": f"cpe{seed}", "namespace": "x",
                "columns": [
                    {"name": "k", "type": "long"},
                    {"name": "v", "type": "long"},
                ],
            },
        )
        next_k = 0

        def add(n):
            nonlocal next_k
            batch = [(next_k + j, seed) for j in range(n)]
            next_k += n
            t.append(spark.createDataFrame(batch, "k LONG, v LONG"))
            time.sleep(0.002)  # distinct committed_at_ms per entry

        add(4)
        for step in range(12):
            entries = t._entries()
            op = rng.choice(
                ["append", "compact", "rollback", "cherrypick", "expire"]
            )
            if op == "append":
                add(rng.randint(1, 3))
            elif op == "compact":
                t.compact(spark)
            elif op == "rollback":
                t.rollback_to(rng.choice(entries)["snapshot_id"])
            elif op == "expire":
                if len(entries) > 2:
                    t.expire_snapshots(
                        older_than_ms=entries[0]["committed_at_ms"]
                    )
            else:
                cands = [e for e in entries if e["operation"] == "append"]
                if cands:
                    t.cherrypick_snapshot(
                        rng.choice(cands)["snapshot_id"]
                    )
            ks = [r.k for r in t.read(spark).select("k").collect()]
            assert len(ks) == len(set(ks)), (seed, step, op)
            assert t.current_snapshot()["row_count"] == len(ks), (
                seed, step, op,
            )


def test_cherrypick_partial_overlap_footer_exact_delta(spark, tmp_path):
    """Pin the partial-coverage arithmetic specifically:
    cherry-pick an append whose delta spans TWO top-level dir segments,
    one reached through rewrite lineage (compact absorbed it), one not.
    snapstore.py computes delta_rows/delta_files from the UNREACHED dirs'
    file footers only — the full target-parent delta would double-count
    the absorbed segment's rows.

    Construction: append A (keys 0-3, dir c0) → append B (keys 4-5, dirs
    [c0, c1]) → rollback to A → compact (c2 absorbs c0) → expire A. B is
    now the oldest surviving entry, so its list-parent is gone and its
    delta is its full cumulative [c0, c1]; the head reaches c0 via the
    c2 lineage record but not c1."""
    import time

    from iceberg_quickstart_iac_spark.tables import SnapTable

    t = SnapTable.create(
        tmp_path / "cp-partial",
        {
            "name": "cppartial", "namespace": "x",
            "columns": [
                {"name": "k", "type": "long"},
                {"name": "v", "type": "long"},
            ],
        },
    )
    t.append(spark.createDataFrame([(k, 0) for k in range(4)], "k LONG, v LONG"))
    snap_a = t.current_snapshot()
    time.sleep(0.005)
    t.append(spark.createDataFrame([(4, 0), (5, 0)], "k LONG, v LONG"))
    snap_b = t.current_snapshot()
    assert len(snap_b["data_dirs"]) == 2
    t.rollback_to(snap_a["snapshot_id"])
    t.compact(spark)
    dropped = t.expire_snapshots(older_than_ms=snap_a["committed_at_ms"])
    assert dropped >= 1
    entries = t._entries()
    # B is the oldest survivor: its delta is now its full cumulative dirs
    assert entries[0]["snapshot_id"] == snap_b["snapshot_id"]
    pre = t.current_snapshot()
    assert pre["row_count"] == 4

    picked = t.cherrypick_snapshot(snap_b["snapshot_id"])

    # footer-exact: only c1's 2 rows re-referenced, never B's cumulative 6
    assert picked["row_count"] == pre["row_count"] + 2
    assert picked["file_count"] > pre["file_count"]
    ks = sorted(r.k for r in t.read(spark).select("k").collect())
    assert ks == [0, 1, 2, 3, 4, 5]
    # and the re-reference was metadata-only: c1's dir adopted verbatim
    new_dirs = set(picked["data_dirs"]) - set(pre["data_dirs"])
    assert new_dirs == set(snap_b["data_dirs"]) - set(snap_a["data_dirs"])
