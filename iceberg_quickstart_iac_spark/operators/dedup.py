"""Deduplication operators for training-data pipelines (SURVEY §2.13 X1-X2).

Four tiers, all shuffle-frugal by construction:

- **exact** (:func:`exact_dedup`): hash-groupBy on the dedup key, keep the
  smallest id. One shuffle, map-side partial aggregation.
- **MinHash + LSH** (:func:`minhash_signatures`, :func:`lsh_candidate_pairs`,
  :func:`near_dup_clusters`): character-shingle MinHash signatures computed
  via explode + groupBy-min (one shuffle, 1 row per doc), banded into
  buckets; only docs sharing a band bucket become candidate pairs — the
  O(n²) pair space never materializes. Candidates verified by signature
  agreement, clustered by iterative min-label propagation (converges in
  O(log(cluster diameter)) joins).
- **SimHash** (:func:`simhash`): 64-bit near-dup fingerprint via signed
  bit-count aggregation over token hashes; hamming-adjacent docs collide on
  at least one of 4 16-bit chunks (used as its own banding scheme).
- **n-gram Jaccard** (:func:`ngram_jaccard_pairs`): exact Jaccard over
  shingle sets for candidate pairs, with a document-frequency cap that
  drops ubiquitous shingles before the pair join (the classic skew guard —
  a stop-shingle shared by 1M docs would otherwise emit 10¹² pairs).

All JVM-side column/aggregation ops; no Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.operators.text import (
    normalize_text,
    word_tokens,
)


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition to full parallelism before CPU-heavy per-row work.

    Small tables arrive as ONE partition (one small parquet file = one
    split), which would serialize the shingle/hash pipeline onto a single
    core — measured 20s → <1s at sf0.1 from this alone. Keyed by id so the
    downstream per-doc groupBy reuses the partitioning.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target, id_col)


def _band_bucket_array(r: int, bands: int, sig_col: str = "minhash"):
    """``array<long>`` of the ``bands`` banded bucket hashes of a minhash
    signature: band ``b`` is
    ``xxhash64(concat_ws(',', cast(slice(m, b·r + 1, r) as array<string>)))``,
    the same value as hashing its ``r`` ``element_at`` terms (pinned in
    tests). One slice per band instead of one ``element_at`` per value:
    banding 300k signatures on ``local[2]`` took 3.7–4.1 s against
    7.8–8.7 s for the per-element form. Built as ONE parsed SQL
    expression: constructing it term by term through the Python Column
    API costs thousands of py4j round-trips (about 2 s of driver time
    per admission at bands=16)."""
    parts = ", ".join(
        f"xxhash64(concat_ws(',', cast(slice({sig_col}, {b * r + 1}, {r}) "
        "AS array<string>)))"
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def _agreement_fraction(a_col: str, b_col: str, num_perm: int):
    """Fraction of agreeing minhash positions between two signature
    columns: ``zip_with`` marks each agreeing position 1, ``aggregate``
    sums the marks. On 500k pairs on ``local[2]`` it took 2.9–3.4 s
    against 14.3–16.4 s for a sum of ``num_perm`` unrolled
    ``element_at`` comparisons, whose projection generates about 40x
    as much Java (236k characters against 6k at num_perm=64). One
    parsed SQL expression, for the driver-cost reason in
    :func:`_band_bucket_array`."""
    return F.expr(
        f"aggregate(zip_with({a_col}, {b_col}, (x, y) -> IF(x = y, 1, 0)), "
        f"0, (acc, v) -> acc + v) / {num_perm}"
    )


def _with_bands(signatures: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """``signatures`` plus ``__bands``, the ``bands`` bucket hashes of each
    row's minhash (:func:`_band_bucket_array`)."""
    if num_perm % bands:
        raise ValueError("num_perm must divide evenly into bands")
    return signatures.withColumn(
        "__bands", _band_bucket_array(num_perm // bands, bands)
    )


def _has_unorderable(dtype) -> bool:
    """True when a type cannot participate in a MIN/MAX aggregate (maps,
    possibly nested inside arrays/structs)."""
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _has_unorderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_unorderable(f.dataType) for f in dtype.fields)
    return False


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly one row (smallest ``id_col``) per dedup key.

    Aggregate struct-min (``min(struct(id, payload...))``), not a row_number
    window: the aggregate gets map-side partial reduction (each input
    partition pre-reduces to ≤1 row per local key before the exchange) and
    no per-partition sort — the shape that survives 100 TB. Ties on
    ``id_col`` break deterministically by the remaining columns.

    Constraint: the struct-min requires every carried column to be of an
    ORDERABLE type. A payload containing a map (at any nesting depth) falls
    back to the row_number-window path automatically — one per-partition
    sort instead of map-side combine, but no analysis error.
    """
    payload = [id_col, *[c for c in df.columns if c != id_col and c not in key_cols]]
    if any(_has_unorderable(df.schema[c].dataType) for c in payload):
        from pyspark.sql import Window as W

        w = W.partitionBy(*key_cols).orderBy(F.col(id_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    kept = df.groupBy(*key_cols).agg(F.min(F.struct(*payload)).alias("__keep"))
    return kept.select(
        *[F.col(f"__keep.{c}").alias(c) if c not in key_cols else F.col(c) for c in df.columns]
    )


def incremental_dedup(
    new_df: DataFrame,
    seen_fps: DataFrame,
    id_col: str,
    text_col: str,
    fp_col: str = "fingerprint",
) -> DataFrame:
    """Exact-dedup a NEW batch against an already-ingested corpus — the
    shape a continuously-fed training pipeline actually runs (the full
    corpus is never re-deduped; each increment lands against a fingerprint
    store).

    Two stages, both linear in the BATCH (never the corpus):

    1. in-batch collapse: smallest-id row per content fingerprint
       (:func:`exact_dedup` — struct-min agg, map-side combine);
    2. anti-join the survivors against ``seen_fps`` (one ``fp_col``
       column, typically the store's fingerprint index) on the md5 key.

    At 100 TB the store side is the big one: keep it written bucketed by
    ``fp_col`` so the anti-join shuffles ONLY the new batch into the
    store's layout (storage-partitioned join); the batch side is whatever
    the increment is. Output keeps the input columns plus ``__fp`` (the
    fingerprint the store should now also ingest to absorb this batch).
    """
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    batch = new_df.withColumn("__fp", content_md5(F.col(text_col)))
    reps = exact_dedup(batch, ["__fp"], id_col)
    store = seen_fps.select(F.col(fp_col).alias("__fp"))
    return reps.join(store, "__fp", "left_anti")


def incremental_near_dup(
    new_docs: DataFrame,
    store_signatures: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_bucket_df: int = 1000,
) -> DataFrame:
    """NEAR-dup admission control for continuous ingest — the minhash
    analog of :func:`incremental_dedup`: score a NEW batch against the
    already-ingested corpus's persisted signature store (one
    ``(id, minhash)`` row per corpus doc, the table the store should
    append each admitted batch's signatures to) plus against the batch
    itself, without ever re-pairing the corpus with itself.

    Returns ``(new_id, dup_of, est_jaccard, source)`` — the BEST match at
    or above ``threshold`` per new doc (max estimate, min partner id on
    ties), ``source`` ∈ {'store', 'batch'}. New docs with no row are
    admissible as novel.

    Scale shape (the part worth reading): the batch's bands are
    computed once, with its signatures. The store is read and banded in
    ONE map-only pass that probes the batch's (id, band, bucket) rows
    BROADCAST (|batch|·bands skinny rows, no signature) and carries each
    candidate's stored signature through the join, so no second store
    scan fetches it; corpus-vs-corpus pairs never exist. In-batch pairs
    come from the capped LSH self-join on the same skinny band rows.
    The batch's own signatures (|batch| rows) are attached to both
    candidate sets by broadcast joins on id, and both are scored in one
    projection.

    The production loop around this op is :func:`admit_batch` (persisted
    SnapTable store, txn-stamped appends).
    """
    new_sigs = _with_bands(
        minhash_signatures(
            new_docs, id_col, text_col, num_perm=num_perm, shingle_k=shingle_k
        ),
        num_perm,
        bands,
    ).localCheckpoint()
    return _near_dup_matches(
        new_sigs,
        store_signatures,
        id_col,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        max_bucket_df=max_bucket_df,
    )


def _near_dup_matches(
    new_sigs: DataFrame,
    store_signatures: DataFrame,
    id_col: str,
    *,
    num_perm: int,
    bands: int,
    threshold: float,
    max_bucket_df: int,
) -> DataFrame:
    """Signature-level core of :func:`incremental_near_dup` — takes the
    batch's (id, minhash, __bands) rows directly (:func:`_with_bands`,
    checkpointed by the caller) so :func:`admit_batch` can compute them
    ONCE and reuse them for both scoring and the store append.

    Each stored signature row is its own candidate, scored only when it
    shares a band with the new doc: a store that holds an id twice
    scores that id by its rows that share a band, not by all of them.
    Store matches exclude same-id pairs: a crash-replayed admission (the
    batch's signatures already appended) must return the same matches as
    the original run, not flag every admitted doc as a dup of itself.

    Broadcast sizes grow with the batch only: the band probe is
    |batch|·bands (id, band, bucket) rows, and the signature side is
    |batch| (id, minhash) rows of about 0.5 KB each at num_perm=64."""
    batch_bands = new_sigs.select(
        id_col, F.posexplode("__bands").alias("band", "bucket")
    )

    def batch_sigs(id_alias: str, sig_alias: str) -> DataFrame:
        return F.broadcast(
            new_sigs.select(
                F.col(id_col).alias(id_alias), F.col("minhash").alias(sig_alias)
            )
        )

    store_cands = (
        store_signatures.select(
            F.col(id_col).alias("dup_of"),
            F.col("minhash").alias("__ss"),
            F.posexplode(_band_bucket_array(num_perm // bands, bands)).alias(
                "band", "bucket"
            ),
        )
        .join(
            F.broadcast(batch_bands.withColumnRenamed(id_col, "new_id")),
            ["band", "bucket"],
        )
        # same-id store pairs only arise on crash replay (the batch's own
        # signatures already landed) — excluding them keeps replay
        # deterministic instead of rejecting every admitted doc as a
        # dup of itself
        .filter(F.col("new_id") != F.col("dup_of"))
        .select("new_id", "dup_of", "__ss", F.lit("store").alias("source"))
    )
    # in-batch near-dups: the later (greater-id) doc defers to the earlier
    batch_cands = (
        _capped_bucket_pairs(batch_bands, id_col, ["band", "bucket"], max_bucket_df)
        .select(F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"))
        .join(batch_sigs("dup_of", "__ss"), "dup_of")
        .withColumn("source", F.lit("batch"))
    )
    # a pair sharing several bands is scored once per shared band; the
    # best-row window below keeps one of the identical rows
    all_matches = (
        store_cands.unionByName(batch_cands)
        .join(batch_sigs("new_id", "__sn"), "new_id")
        .select(
            "new_id",
            "dup_of",
            _agreement_fraction("__sn", "__ss", num_perm).alias("est_jaccard"),
            "source",
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    from pyspark.sql import Window

    best = Window.partitionBy("new_id").orderBy(
        F.col("est_jaccard").desc(), F.col("dup_of").asc(), F.col("source").asc()
    )
    return (
        all_matches.withColumn("__rk", F.row_number().over(best))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def create_signature_store(
    root,
    id_col: str = "doc_id",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    namespace: str = "pipeline",
) -> "SnapTable":
    """Create the persisted minhash signature store :func:`admit_batch`
    admits against: a SnapTable of one ``(id, minhash array<long>)`` row
    per ingested doc. The minhash configuration is stamped into the table
    properties so every later admission derives batch signatures with
    EXACTLY the store's parameters — signatures computed under a
    different ``num_perm``/``shingle_k`` never agree, so a config drift
    would silently admit everything; pinning it in the store makes the
    drift impossible. (The reference's own follow-up for incremental
    loads: ``docs/bring-your-own-data.md:226-228``.)"""
    from pathlib import Path

    from iceberg_quickstart_iac_spark.tables import SnapTable

    root = Path(root)
    return SnapTable.create(
        root,
        {
            "name": root.name,
            "namespace": namespace,
            "columns": [
                {"name": id_col, "type": "long", "required": True},
                {"name": "minhash", "type": "list<long>", "required": True},
            ],
            "properties": {
                "minhash_num_perm": int(num_perm),
                "minhash_bands": int(bands),
                "minhash_shingle_k": int(shingle_k),
            },
        },
    )


def load_or_build_signature_store(
    spark,
    docs: DataFrame,
    root,
    id_col: str,
    text_col: str,
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> "SnapTable":
    """Fit-once/load-many for the signature store: the first call per
    ``root`` creates the table and appends the corpus signatures (the
    expensive shingle-explode + minhash fit); every later call loads the
    persisted table — no fit, no corpus scan. Signatures are
    deterministic (xxhash64 mins of the same text), so a rebuilt store
    is bit-identical to a loaded one. A crash between create and the
    seed append leaves head_sequence None; the next call re-seeds."""
    from iceberg_quickstart_iac_spark.tables import SnapTable, TableNotFoundError

    try:
        store = SnapTable.load(root)
    except TableNotFoundError:
        store = create_signature_store(
            root, id_col, num_perm=num_perm, bands=bands, shingle_k=shingle_k
        )
    if store.head_sequence() is None:
        seed = minhash_signatures(
            docs, id_col, text_col, num_perm=num_perm, shingle_k=shingle_k
        )
        store.append(seed.select(id_col, "minhash"), txn=("sig_store_seed", 0))
    return store


def admit_batch(
    store: "SnapTable",
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    max_bucket_df: int = 1000,
    txn: tuple[str, int] | None = None,
) -> dict:
    """One turn of the production near-dup admission loop: score a new
    batch against the PERSISTED signature store (:func:`create_signature_
    store`), then append the ADMITTED docs' signatures so the next batch
    admits against the updated store.

    Returns ``{"matches": DataFrame, "admitted": DataFrame, "commit":
    dict}`` — ``matches`` is :func:`incremental_near_dup`'s
    ``(new_id, dup_of, est_jaccard, source)`` rows, ``admitted`` the
    batch rows with no match, ``commit`` the store's append entry.

    Exactly-once: pass ``txn=(app_id, version)`` — the store's
    idempotent-write ledger skips a replayed append, and the scoring is
    replay-deterministic by construction: matches are pinned to the
    pre-append snapshot (``read`` resolves data dirs eagerly), same-id
    store pairs are excluded (the replayed batch's own signatures), and
    a batch-pair loser that IS in the store after replay still reports
    ``source='batch'`` (the best-row window breaks the est/partner tie
    on source ascending). The batch's signatures and bands are computed
    ONCE (checkpointed) and reused for scoring and the append.

    Scale: work is linear in the STORE, not the batch — every admission
    reads and bands every stored signature once, in the pass that probes
    the batch's broadcast band rows. Measured for a 200-doc batch before
    the store was read in one pass: 5.2 s against a 2k-row store, 16 s
    against 202k, 148 s against 2M (about 65 ms per 1k store rows). The
    append is one map-only write of |admitted| rows. ``perfbench/``'s
    ``corpus_admission`` workload times it against a 2k-row store."""
    spark = new_docs.sparkSession
    props = store.meta.get("properties", {})
    num_perm = int(props.get("minhash_num_perm", 64))
    bands = int(props.get("minhash_bands", 16))
    shingle_k = int(props.get("minhash_shingle_k", 5))
    new_sigs = _with_bands(
        minhash_signatures(
            new_docs, id_col, text_col, num_perm=num_perm, shingle_k=shingle_k
        ),
        num_perm,
        bands,
    ).localCheckpoint()
    store_sigs = (
        store.read(spark)
        if store.head_sequence() is not None
        else store._empty_declared(spark, store.meta)
    )
    # materialize the admission decisions ONCE (bounded by |batch| rows):
    # they drive the admitted-signature append AND the caller's read of
    # matches/admitted — without the checkpoint each consumer re-runs the
    # full scoring DAG (store banding + joins) from scratch
    matches = _near_dup_matches(
        new_sigs,
        store_sigs,
        id_col,
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        max_bucket_df=max_bucket_df,
    ).localCheckpoint()
    rejected = matches.select(F.col("new_id").alias(id_col)).distinct()
    admitted_sigs = new_sigs.join(rejected, id_col, "left_anti").select(
        id_col, "minhash"
    )
    commit = store.append(admitted_sigs, txn=txn)
    admitted = new_docs.join(rejected, id_col, "left_anti")
    return {"matches": matches, "admitted": admitted, "commit": commit}


def shingles(col, k: int = 5):
    """Character k-shingles of the normalized text (array<string>).

    NOTE: convenient for small inputs/tests, but the lambda re-evaluates the
    normalization expression per element. The bulk operators below use
    :func:`_exploded_shingles` instead (normalize once per row, explode
    positions, substring an attribute — measured 8x faster)."""
    norm = normalize_text(col)
    n = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: F.substr(norm, i, F.lit(k)))


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """One row per (id, shingle position): normalization runs once per doc
    (materialized before the Generate), substring runs on the attribute."""
    base = _spread(df, id_col).select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    )
    pos = base.select(
        id_col,
        "__norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__norm") - (k - 1), F.lit(1)))
        ).alias("__i"),
    )
    return pos.select(id_col, F.substr("__norm", F.col("__i"), F.lit(k)).alias("__sh"))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, minhash array<long> of length num_perm) per document.

    Shingles explode to one row each (dedup within doc), then ``num_perm``
    seeded xxhash64 minima aggregate back to one row per doc — a single
    shuffle keyed on the doc id.
    """
    # duplicate shingles within a doc can't change a MIN — no distinct needed
    sh = _exploded_shingles(df, id_col, text_col, shingle_k)
    # hash the variable-length shingle string ONCE, then derive the num_perm
    # "permutations" by re-hashing the resulting fixed-width long with the
    # seed — xxhash64 over 8 bytes is far cheaper than over the string, and
    # re-hashing (vs multiply-add mixing) stays correct under ANSI mode
    # (no signed-overflow risk) while remaining a proper independent hash
    # family (measured ~2x on the signature stage at sf0.1)
    sh = sh.select(id_col, F.xxhash64("__sh").alias("__h"))
    # one F.expr per aggregate (and one for the array) instead of nested
    # Column construction: same expression tree, a fraction of the py4j
    # round-trips — see _band_bucket_array for the measurement
    mins = sh.groupBy(id_col).agg(
        *[F.expr(f"min(xxhash64(__h, {p}))").alias(f"mh{p}") for p in range(num_perm)]
    )
    arr = "array(" + ", ".join(f"mh{p}" for p in range(num_perm)) + ")"
    return mins.select(id_col, F.expr(arr).alias("minhash"))


def _capped_bucket_pairs(
    keyed: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    max_bucket_df: int,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Self-join rows on shared bucket keys, with the standard LSH bucket-size
    guard: a bucket holding m > ``max_bucket_df`` rows would emit m²/2 pairs
    — and the duplicate-heavy corpora dedup targets are EXACTLY where such
    buckets appear (a 1M-copy boilerplate cluster lands in one bucket).

    Under-cap buckets self-join exactly as before. Over-cap buckets switch
    to a STAR join against the bucket's min-id representative: every member
    still pairs with the representative, so connected components (and thus
    dedup clusters) are preserved, but the pair count is O(m) per bucket —
    O(cap·m) overall instead of O(m²). Both the over-cap bucket list and the
    per-bucket representative table are bounded by n/cap rows, so they
    broadcast at any corpus size.

    ``payload_cols``: columns carried through for both pair sides (e.g. the
    simhash signature for hamming scoring).
    """
    payload_cols = payload_cols or []
    sizes = keyed.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("__m"))
    big = sizes.filter(F.col("__m") > max_bucket_df).select(*bucket_cols)

    small = keyed.join(F.broadcast(big), bucket_cols, "left_anti")
    a, b = small.alias("a"), small.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs_small = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in payload_cols],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in payload_cols],
    )

    members = keyed.join(F.broadcast(big), bucket_cols)
    reps = members.groupBy(*bucket_cols).agg(
        F.min(F.struct(id_col, *payload_cols)).alias("__rep")
    )
    pairs_big = (
        members.join(F.broadcast(reps), bucket_cols)
        .filter(F.col(id_col) != F.col(f"__rep.{id_col}"))
        .select(
            F.least(F.col(id_col), F.col(f"__rep.{id_col}")).alias("id_a"),
            F.greatest(F.col(id_col), F.col(f"__rep.{id_col}")).alias("id_b"),
            *[
                F.when(F.col(id_col) < F.col(f"__rep.{id_col}"), F.col(c))
                .otherwise(F.col(f"__rep.{c}"))
                .alias(f"{c}_a")
                for c in payload_cols
            ],
            *[
                F.when(F.col(id_col) < F.col(f"__rep.{id_col}"), F.col(f"__rep.{c}"))
                .otherwise(F.col(c))
                .alias(f"{c}_b")
                for c in payload_cols
            ],
        )
    )
    return pairs_small.unionByName(pairs_big)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 16,
    num_perm: int = 64,
    max_bucket_df: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on at least one LSH band.

    Returns distinct (id_a, id_b) with id_a < id_b. With r = num_perm/bands
    rows per band, the usual S-curve applies (bands=16, r=4 → ~50% catch at
    Jaccard ≈ 0.55). Buckets larger than ``max_bucket_df`` are linked
    through a representative instead of all-pairs (see
    :func:`_capped_bucket_pairs`) — the guard that keeps a duplicate-heavy
    corpus from emitting O(m²) candidates.
    """
    # Materialize the signatures with their bands first: the capped bucket
    # join scans its input 3-5x (sizes, under-cap side, both self-join
    # sides, over-cap members), and without the checkpoint each scan
    # re-runs the FULL shingle-explode + num_perm-hash signature DAG and
    # the banding.
    signatures = _with_bands(signatures, num_perm, bands).localCheckpoint()
    banded = signatures.select(
        F.col(id_col), F.posexplode("__bands").alias("band", "bucket")
    )
    return _capped_bucket_pairs(
        banded, id_col, ["band", "bucket"], max_bucket_df
    ).distinct()


def lsh_screened_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 21,
    num_perm: int = 63,
    min_est: float = 0.4,
    max_bucket_df: int = 1000,
) -> DataFrame:
    """Banding then signature screening of the candidate pairs.

    The band self-join runs on skinny (id, band, bucket) rows only — no
    signature payload rides through it (a 63-long array on each side of
    600k+ raw band pairs is hundreds of MB of array churn; measured 2x
    slower than screening after the fact). The screen then joins each
    pair to both signatures and scores them with
    :func:`_agreement_fraction`: on 500k pairs on ``local[2]`` it took
    2.5–2.9 s against 8.1–8.3 s for one flat long column per
    permutation summed by ``num_perm`` ``when`` terms. When the
    signature table fits the session's broadcast threshold the probe is
    an exchange-free broadcast hash join; beyond it (billions of docs) it
    degrades to a plain shuffle join on the pair ids — the shape that
    scales.

    Bucket caps apply as in :func:`_capped_bucket_pairs`; ``min_est``
    kills sub-threshold candidates before the distinct shuffle.
    """
    # checkpoint before the multi-scan bucket join so the signature DAG
    # (shingle explode + num_perm hash minima) runs once, not once per scan
    # (measured 4x on the screened stage at sf0.1)
    signatures = _with_bands(signatures, num_perm, bands).localCheckpoint()
    banded = signatures.select(
        F.col(id_col), F.posexplode("__bands").alias("band", "bucket")
    )
    pairs = _capped_bucket_pairs(banded, id_col, ["band", "bucket"], max_bucket_df)

    # post-checkpoint count() is a cached-partition sum — cheap — and lets
    # us pin the broadcast decision to the session threshold instead of
    # hoping the optimizer guesses the size of a derived projection
    sig_bytes = signatures.count() * (num_perm * 8 + 16)
    try:
        threshold = int(
            signatures.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        )
    except (TypeError, ValueError):
        threshold = 10 * 1024 * 1024
    sigs = signatures.select(id_col, "minhash")
    if 0 < sig_bytes <= max(threshold, 0):
        sigs = F.broadcast(sigs)
    return (
        signature_similarity(pairs, sigs, id_col, num_perm=num_perm)
        .filter(F.col("est_jaccard") >= min_est)
        .select("id_a", "id_b")
        .distinct()
    )


def signature_similarity(
    pairs: DataFrame, signatures: DataFrame, id_col: str, num_perm: int = 64
) -> DataFrame:
    """Estimated Jaccard per candidate pair = fraction of agreeing minhashes,
    scored by :func:`_agreement_fraction` (one ``zip_with`` over the two
    signature arrays, about 5x faster on 500k pairs than the unrolled
    ``element_at`` sum it replaced).
    """
    sig_a = signatures.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("__sig_a"))
    sig_b = signatures.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("__sig_b"))
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn(
            "est_jaccard", _agreement_fraction("__sig_a", "__sig_b", num_perm)
        )
        .select("id_a", "id_b", "est_jaccard")
    )


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard verification of CANDIDATE pairs — the second
    stage of the standard LSH-then-verify dedup pipeline (candidates from
    :func:`lsh_candidate_pairs`, exactness from raw shingle sets).

    Shingles are computed only for docs that appear in a candidate pair
    (semi-join first), and shared-shingle counts are PAIR-DRIVEN: each
    candidate pair expands to side-a's shingles, which then probe side-b
    on the composite (id_b, shingle) key — total work is
    sum over pairs of |shingles(a)|, i.e. linear in candidate volume.
    The first cut here joined the two shingle tables globally on the
    shingle value and only then semi-filtered to candidate pairs; on a
    low-entropy corpus that is sum over shingles of df² — the 10x scale
    sweep caught it going quadratic (a shingle shared by m candidate docs
    emits m² rows before the filter, and small-vocabulary corpora have
    shingles with df ~ corpus size). The composite probe key is also
    skew-free where the raw shingle key was maximally skewed.

    The output (id_a, id_b, jaccard) is fully engine-portable: with
    sensitive banding (e.g. bands=32, r=2 the miss probability at
    j >= 0.7 is (1-0.49)^32 ~ 4e-10), the verified set equals the exact
    all-pairs Jaccard join above ``threshold``.
    """
    pairs_d = pairs.select("id_a", "id_b").distinct()
    cand_ids = (
        pairs_d.select(F.col("id_a").alias(id_col))
        .union(pairs_d.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    docs_c = df.join(cand_ids, id_col, "left_semi")
    # referenced three times below (both join sides + sizes); candidate
    # volume is funnel-bounded, so materializing is cheap — and without it
    # each reference re-runs the semi-join + shingle explode
    sh = (
        _exploded_shingles(docs_c, id_col, text_col, shingle_k)
        .select(id_col, F.xxhash64("__sh").alias("__sh"))
        .dropDuplicates([id_col, "__sh"])
        .localCheckpoint()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    a = sh.select(F.col(id_col).alias("id_a"), "__sh")
    b = sh.select(F.col(id_col).alias("id_b"), "__sh")
    shared = (
        pairs_d.join(a, "id_a")
        .join(b, ["id_b", "__sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard", F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None,
    id_col: str,
    max_iter: int = 10,
    driver_edge_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over the duplicate graph.

    Returns (id, cluster_id) where cluster_id is the smallest doc id in the
    component; singletons map to themselves. ``ids=None`` restricts the
    output to PAIR MEMBERS (no singleton rows) — the common funnel tail,
    where it skips the singleton-resolution join entirely.

    ADAPTIVE, like GraphFrames' connected components: the verified
    near-dup pair set is small relative to the corpus by construction
    (it's the dedup funnel's OUTPUT), so when the edge count fits
    ``driver_edge_threshold`` (≈80 MB at the 5M default) the components
    come from a driver-side union-find — O(E·α) in microseconds, zero
    Spark rounds. Beyond the bound, iterative min-label propagation runs
    distributed: each round is one join + aggregate, O(log diameter)
    rounds, measured alpha 1.0 at the 10× sweep. The tiny-graph case
    matters more than it looks: each propagation round costs ~0.7 s of
    fixed stage scheduling regardless of data size, so a 60-edge graph
    with a 10-hop chain was paying ~7 s of pure overhead.
    """
    n_edges = pairs.count()
    if n_edges <= driver_edge_threshold:
        rows = pairs.select("id_a", "id_b").collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        members: set = set()
        for r in rows:
            members.add(r.id_a)
            members.add(r.id_b)
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                # union by MIN so the representative is the smallest id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # ONLY pair members are driver-side (bounded by 2·edge threshold);
        # ``ids`` itself is never collected — the singleton contract
        # ("unpaired docs map to themselves") is a distributed broadcast
        # join, so passing a 100 TB corpus with a handful of edges stays a
        # map-side operation (the edge guard alone let the documented
        # contract invite an unbounded ids.collect()).
        spark = pairs.sparkSession
        mapping = spark.createDataFrame(
            [(m, find(m)) for m in sorted(members)],
            f"{id_col} long, __cc long",
        )
        if ids is None:
            return mapping.select(
                id_col, F.col("__cc").alias("cluster_id")
            )
        return (
            ids.select(id_col)
            .join(F.broadcast(mapping), id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("__cc"), F.col(id_col)).alias("cluster_id"),
            )
        )

    if ids is None:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .union(pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
    # Iterative algorithm on lazy frames: WITHOUT materialization each
    # iteration's convergence check re-executes the ENTIRE upstream DAG
    # (signatures + banding + verify) times the growing join lineage —
    # measured minutes instead of seconds even at sf0.01. Cache the edge
    # set once and each iteration's labels (unpersisting the previous),
    # exactly what GraphX/GraphFrames do internally.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        # cache hash-partitioned on the join key: every propagation round
        # probes edges on dst, and InMemoryRelation preserves the cached
        # plan's outputPartitioning — one exchange paid once instead of one
        # per round ("share one exchange")
        .repartition(F.col("dst"))
        .cache()
    )
    labels = ids.select(F.col(id_col).alias("src"), F.col(id_col).alias("cluster_id")).cache()
    cached = [edges, labels]
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels.withColumnRenamed("src", "dst"), "dst")
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # carry the per-row "label lowered" flag instead of re-joining
            # new labels against old ones: src is unique per labels row, so
            # the row-local comparison IS the convergence check — one fewer
            # shuffle join per round
            new_labels = (
                labels.join(neighbor_min, "src", "left")
                .select(
                    "src",
                    F.least(F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")).alias(
                        "cluster_id"
                    ),
                    (
                        F.col("nbr_min").isNotNull()
                        & (F.col("nbr_min") < F.col("cluster_id"))
                    ).alias("__lowered"),
                )
                .cache()
            )
            changed = new_labels.filter("__lowered").limit(1).count()
            if labels is not cached[0]:
                labels.unpersist()
            labels = new_labels
            cached.append(new_labels)
            if changed == 0:
                break
        # break lineage for the caller: the result is tiny (one row per id)
        out = labels.select(F.col("src").alias(id_col), "cluster_id").localCheckpoint()
    finally:
        for df in cached:
            df.unpersist()
    return out


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document: sign of the per-bit weighted sum over
    token hashes. Near-identical token multisets → small hamming distance."""
    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("__tok")
    ).withColumn("__h", F.xxhash64("__tok"))
    bit_sums = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    )
    sig = bit_sums.select(
        F.col(id_col),
        F.aggregate(
            F.array(*[F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")) for b in range(bits)]),
            F.lit(0).cast("long"),
            # shiftleft|or, NOT acc*2+bit: the multiply overflows signed long
            # at the 64th bit under ANSI mode (whenever the first-folded bit
            # is 1) — shifts wrap without overflow checks
            lambda acc, bit: F.shiftleft(acc, 1).bitwiseOR(bit),
        ).alias("simhash"),
    )
    return sig


def simhash_candidate_pairs(
    sig: DataFrame, id_col: str, chunks: int = 4, max_bucket_df: int = 2000
) -> DataFrame:
    """Candidate pairs whose simhashes agree on ≥1 of ``chunks`` 16-bit
    chunks (catches hamming distance < chunks by pigeonhole). Over-cap
    chunk buckets link through a representative (:func:`_capped_bucket_pairs`)
    instead of all-pairs — same guard as the MinHash tier."""
    width = 64 // chunks
    mask = (1 << width) - 1
    # same multi-scan guard as the MinHash tier: materialize the signature
    # (1 row per doc) so the 64-per-bit-aggregate simhash DAG isn't re-run
    # by every scan inside the capped bucket join
    sig = sig.localCheckpoint()
    chunked = sig.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), c * width).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "val"),
    )
    pairs = _capped_bucket_pairs(
        chunked, id_col, ["chunk", "val"], max_bucket_df, payload_cols=["simhash"]
    )
    return pairs.select(
        "id_a",
        "id_b",
        _hamming(F.col("simhash_a"), F.col("simhash_b")).alias("hamming"),
    ).distinct()


def _hamming(x, y):
    return F.bit_count(x.bitwiseXOR(y))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    Explode distinct shingles; drop shingles appearing in more than
    ``max_shingle_df`` docs (skew guard); count shared shingles per pair;
    Jaccard = shared / (|A| + |B| - shared); keep pairs ≥ threshold.
    """
    # Jaccard is over shingle SETS → per-doc distinct matters here.
    # Shingles are replaced by their 64-bit hash immediately: the distinct,
    # the document-frequency count, and the pair self-join below all shuffle
    # and compare fixed-width longs instead of 5-char strings (collision
    # probability ~n²/2⁶⁵ — immaterial against the 0.5 threshold).
    sh = (
        _exploded_shingles(df, id_col, text_col, shingle_k)
        .select(id_col, F.xxhash64("__sh").alias("__sh"))
        .dropDuplicates([id_col, "__sh"])
    )
    # Drop ubiquitous shingles by ANTI-joining the FREQUENT set: frequent
    # shingles are few by definition (bounded by corpus_size/max_shingle_df),
    # so that side broadcasts at any scale. The previous inner-join against
    # the RARE set broadcast nearly every distinct shingle — fine at sf0.1,
    # guaranteed driver OOM at 100 TB.
    frequent = (
        sh.groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_shingle_df)
    )
    sh = sh.join(F.broadcast(frequent.select("__sh")), "__sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))

    a = sh.select(F.col(id_col).alias("id_a"), "__sh")
    b = sh.select(F.col(id_col).alias("id_b"), "__sh")
    shared = (
        a.join(b, ["__sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", F.col("__shared") / (F.col("__na") + F.col("__nb") - F.col("__shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_rates(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
) -> DataFrame:
    """Benchmark-decontamination scan: per corpus document, the fraction of
    its character shingles that appear ANYWHERE in the benchmark corpus.

    The training-data hygiene op: docs with a high rate are (near-)copies of
    eval data and must be dropped before training. Shingles are hashed to
    64-bit longs; the benchmark side reduces to a distinct-hash set first
    (tiny — benchmarks are small by construction) so the membership probe is
    a broadcast semi-join: ONE shuffle on the corpus doc id, nothing else.
    Returns (id, n_shingles, n_contaminated, rate) — rate is a single
    int/int division, exact in any engine.
    """
    c_sh = (
        _exploded_shingles(corpus, id_col, text_col, shingle_k)
        .select(id_col, F.xxhash64("__sh").alias("__h"))
        .dropDuplicates([id_col, "__h"])
    )
    b_sh = (
        _exploded_shingles(benchmark, id_col, text_col, shingle_k)
        .select(F.xxhash64("__sh").alias("__h"))
        .distinct()
    )
    hits = (
        c_sh.join(F.broadcast(b_sh), "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = c_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (F.coalesce("n_contaminated", F.lit(0)) / F.col("n_shingles")).alias("rate"),
        )
    )


def repeated_window_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate spans (round 10; X38 — the
    window-hash formulation of Lee et al. 2022's exact substring
    deduplication, which a suffix array implements on one machine and
    fixed-length token windows implement on a cluster): every length-
    ``w`` token window that occurs at least ``min_count`` times ANYWHERE
    in the corpus (across documents or repeated inside one) marks a
    duplicated region; overlapping/adjacent marked windows merge into
    maximal spans per document.

    Returns one row per document that contains at least one duplicated
    window: ``(id, n_spans, n_dup_windows, dup_tokens)`` where
    ``dup_tokens`` is the token count covered by the UNION of marked
    windows — the volume an exact-substring cut would remove.

    Scale shape: windows build from the token array per row (map-only,
    O(total tokens)); the window frequency count is one partial-
    aggregated shuffle on the window text (at 100 TB hash the window to
    a 64-bit key first — xxhash64(win) — and verify the rare collisions
    on the marked rows; the string key keeps this oracle-replayable);
    the mark-back join carries NO broadcast hint — the duplicated-window
    set grows with the corpus (Catalyst/AQE broadcast it while small,
    skew-split it when a viral window dominates); span merging is one
    per-document window function (single shuffle on id), integer-exact
    gaps-and-islands — no collect, no UDF.
    """
    # spread before the per-token window build (transform+slice+concat_ws
    # per window is the expensive per-row work here, and `wins` is consumed
    # twice): a one-file corpus otherwise serializes BOTH passes onto a
    # single core (input skew — measured 6.4 s → 3.4 s
    # count / 6.9 s → 4.9 s noop isolated at sf0.1)
    arrs = _spread(df, id_col).select(
        F.col(id_col), word_tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= w)
    wins = arrs.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(__toks) - {w}), "
                f"i -> concat_ws(' ', slice(__toks, i + 1, {w})))"
            )
        ).alias("__pos", "__win"),
    )
    dup = (
        wins.groupBy("__win")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__win")
    )
    marked = wins.join(dup, "__win", "left_semi")
    lagged = marked.select(
        id_col,
        "__pos",
        F.expr(
            f"CASE WHEN lag(__pos) OVER (PARTITION BY {id_col} "
            f"ORDER BY __pos) IS NULL THEN 1 "
            f"WHEN __pos - lag(__pos) OVER (PARTITION BY {id_col} "
            f"ORDER BY __pos) > {w} THEN 1 ELSE 0 END"
        ).alias("__new_island"),
    )
    islands = lagged.select(
        id_col,
        "__pos",
        F.expr(
            f"SUM(__new_island) OVER (PARTITION BY {id_col} "
            f"ORDER BY __pos ROWS UNBOUNDED PRECEDING)"
        ).alias("__island"),
    )
    spans = islands.groupBy(id_col, "__island").agg(
        F.min("__pos").alias("__s"),
        F.max("__pos").alias("__e"),
        F.count(F.lit(1)).alias("__nw"),
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("__nw").alias("n_dup_windows"),
        F.sum(F.col("__e") - F.col("__s") + F.lit(w)).alias("dup_tokens"),
    )


def canonical_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Canonical-representative selection after near-dup clustering
    (round 10; X40 — the 'keep the best copy' step every dedup pipeline
    ends with): per cluster, keep the member with the highest quality
    score, ties broken to the LOWEST id.

    Returns ``(cluster_id, canonical_id, canonical_quality, n_members,
    n_removed)`` — one row per cluster.

    Scale shape: one equi-join of the cluster mapping against the score
    frame (cluster members only — the join prunes to the near-dup graph,
    a tiny fraction of the corpus), then ONE aggregation using the
    sort-free ``max(struct(score, -id))`` trick: no window, no per-
    cluster sort, map-side partial max."""
    joined = clusters.join(scores, id_col).select(
        cluster_col,
        F.struct(
            F.col(score_col).alias("q"), (-F.col(id_col)).alias("neg_id")
        ).alias("__best"),
    )
    agg = joined.groupBy(cluster_col).agg(
        F.max("__best").alias("__top"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return agg.select(
        cluster_col,
        (-F.col("__top.neg_id")).alias("canonical_id"),
        F.col("__top.q").alias("canonical_quality"),
        "n_members",
        (F.col("n_members") - F.lit(1)).alias("n_removed"),
    )
