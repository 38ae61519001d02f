"""Extension-operator tests (SURVEY §2.13): dedup tiers on planted
duplicates, similarity search vs numpy ground truth, text analysis vs the
documents truth column, multimodal plumbing shapes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from iceberg_quickstart_iac_spark.datasets import load_table
from iceberg_quickstart_iac_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_clusters,
    ngram_jaccard_pairs,
    signature_similarity,
    simhash,
    simhash_candidate_pairs,
)
from iceberg_quickstart_iac_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_pandas,
    hyperplane_lsh_topk,
    make_planes,
)
from iceberg_quickstart_iac_spark.operators.text import language_id, quality_score, token_count


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches from "
    "the warm windowsill and the birds sing in the garden under a bright sky"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """10 distinct docs + 3 near-copies of doc 0 + 1 exact copy of doc 1."""
    import random

    rng = random.Random(7)
    words = BASE.split()
    rows = []
    for i in range(10):
        shuffled = words[:]
        rng.shuffle(shuffled)
        rows.append((i, " ".join(shuffled)))
    base_text = rows[0][1]
    rows.append((100, base_text.replace("fox", "wolf")))          # 1-word edit
    rows.append((101, base_text + " extra tail words here"))      # small append
    rows.append((102, base_text.upper()))                          # case only
    rows.append((103, rows[1][1]))                                 # exact dup of doc 1
    return spark.createDataFrame(rows, "doc_id LONG, text STRING").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "b")], "id LONG, k STRING"
    )
    out = exact_dedup(df, ["k"], "id").collect()
    assert sorted((r.k, r.id) for r in out) == [("a", 1), ("b", 2)]


def test_minhash_lsh_finds_planted_dups(planted_docs):
    sigs = minhash_signatures(planted_docs, "doc_id", "text", num_perm=64)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=16, num_perm=64)
    sims = signature_similarity(pairs, sigs, "doc_id")
    strong = {(r.id_a, r.id_b) for r in sims.filter("est_jaccard >= 0.5").collect()}
    assert (0, 100) in strong  # 1-word edit
    assert (0, 101) in strong  # appended tail
    assert (0, 102) in strong  # case-only change (normalization)
    assert (1, 103) in strong  # exact copy
    # shuffled word-salad docs share vocabulary but not 5-char shingles at 0.5
    assert all(a in (0, 1) or a >= 100 for a, b in strong), strong


def test_near_dup_clusters_transitive(planted_docs):
    sigs = minhash_signatures(planted_docs, "doc_id", "text", num_perm=64)
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=16, num_perm=64)
    sims = signature_similarity(pairs, sigs, "doc_id").filter("est_jaccard >= 0.5")
    clusters = near_dup_clusters(sims, planted_docs.select("doc_id"), "doc_id")
    by_id = {r.doc_id: r.cluster_id for r in clusters.collect()}
    assert by_id[100] == by_id[0] == by_id[101] == by_id[102] == 0
    assert by_id[103] == by_id[1] == 1
    assert by_id[5] == 5  # singleton


def test_ngram_jaccard_exact(planted_docs):
    out = ngram_jaccard_pairs(planted_docs, "doc_id", "text", threshold=0.5)
    found = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert found[(1, 103)] == 1.0  # exact duplicate
    assert found[(0, 102)] == 1.0  # case-normalized duplicate
    assert 0.5 <= found[(0, 100)] < 1.0


def test_simhash_near_dups_close(planted_docs):
    sig = simhash(planted_docs, "doc_id", "text")
    pairs = simhash_candidate_pairs(sig, "doc_id")
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    assert ham[(1, 103)] == 0  # identical text → identical simhash
    assert ham[(0, 102)] == 0  # case-only
    assert ham[(0, 101)] <= 8  # small append stays hamming-close


def test_lsh_bucket_cap_bounds_pairs(spark):
    """A planted 5k-duplicate cluster (the scenario dedup exists for) must
    complete with O(m) star pairs per bucket, not m^2/2."""
    m = 5000
    rows = [(i, [7] * 64) for i in range(m)] + [
        (10_000 + i, [i * 1000 + j for j in range(64)]) for i in range(5)
    ]
    sigs = spark.createDataFrame(rows, "doc_id LONG, minhash ARRAY<BIGINT>")
    pairs = lsh_candidate_pairs(sigs, "doc_id", bands=16, num_perm=64, max_bucket_df=100)
    got = pairs.collect()
    assert len(got) == m - 1  # star to the min-id representative
    assert all(r.id_a == 0 for r in got)  # connectivity preserved through doc 0


def test_simhash_bucket_cap_bounds_pairs(spark):
    m = 5000
    sig = spark.createDataFrame(
        [(i, 123456789) for i in range(m)], "doc_id LONG, simhash LONG"
    )
    pairs = simhash_candidate_pairs(sig, "doc_id", max_bucket_df=100)
    got = pairs.collect()
    assert len(got) == m - 1
    assert all(r.hamming == 0 and r.id_a == 0 for r in got)


# --- similarity -----------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def truth_topk(emb):
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    q = mat[np.isin(ids, [0, 1, 2])]
    qids = ids[np.isin(ids, [0, 1, 2])]
    cos = (mat @ q.T) / np.outer(norms, np.linalg.norm(q, axis=1))
    truth = {}
    for j, qid in enumerate(qids):
        order = sorted(zip(-cos[:, j], ids))  # desc cosine, asc id tiebreak
        truth[qid] = [int(i) for _, i in order[:10]]
    return truth


def _queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_cosine_topk_matches_numpy(emb, truth_topk):
    out = cosine_topk(emb, _queries(emb), k=10).orderBy("query_id", "rank").collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append(r.vec_id)
    assert got == truth_topk


def test_cosine_topk_pandas_matches_numpy(emb, truth_topk):
    qpdf = _queries(emb).toPandas()
    out = cosine_topk_pandas(emb, qpdf, k=10).orderBy("query_id", "rank").collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append(r.vec_id)
    assert got == truth_topk


def test_hyperplane_lsh_recall(emb, truth_topk):
    # 4 planes → 16 buckets over 500 near-orthogonal vectors; multi-probe
    # widens to 5 buckets/query (~30% of the corpus scored instead of 100%)
    planes = make_planes(64, n_planes=4, seed=42)
    out = hyperplane_lsh_topk(emb, _queries(emb), planes, k=10).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, set()).add(r.vec_id)
    for qid, true_ids in truth_topk.items():
        assert qid in got[qid]  # the query vector itself is always found
        recall = len(got[qid] & set(true_ids)) / 10
        assert recall >= 0.2, (qid, recall)


# --- text -----------------------------------------------------------------


def test_language_id_on_real_sentences(spark):
    """The synthetic documents table uses one shared English-ish vocabulary
    with a *random* lang label (verified: identical top tokens per lang), so
    accuracy against that column is meaningless. Assert on real sentences."""
    rows = [
        ("en", "the cat is on the roof and the dog is in the garden for now"),
        ("de", "der hund ist nicht auf dem dach und die katze ist ein tier"),
        ("fr", "le chien est dans le jardin et les chats sont pour une maison"),
        ("es", "el perro es una mascota que vive para la casa con los gatos"),
        ("zh", "猫在屋顶上狗在花园里它们是好朋友今天天气很好"),
        ("unknown", "zzz qqq xxx yyy www"),
    ]
    df = spark.createDataFrame(rows, "truth STRING, text STRING")
    out = {r.truth: r.pred for r in df.select("truth", language_id("text").alias("pred")).collect()}
    assert out == {t: t for t in out}


def test_token_count_modes(spark):
    df = spark.createDataFrame([("Hello, world! 42",)], "t STRING")
    row = df.select(
        token_count("t").alias("ws"), token_count("t", "bpe").alias("bpe")
    ).collect()[0]
    assert row.ws == 3
    assert row.bpe == 5  # Hello , world ! 42


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [("good", BASE), ("junk", "aa aa aa aa aa aa aa aa aa aa")], "name STRING, t STRING"
    )
    rows = {r.name: r.q for r in df.select("name", quality_score("t").alias("q")).collect()}
    assert 0 <= rows["junk"] < rows["good"] <= 1


# --- multimodal -----------------------------------------------------------


def test_multimodal_plumbing(spark):
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        attach_byte_metadata,
        extract_features,
        resize_images,
        sample_frames,
    )

    rows = [
        (1, b"fake-image-bytes-1", "image/png", (None, None, None, None)),
        (2, b"fake-video-bytes-2", "video/mp4", (None, None, 2500, None)),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with_meta = attach_byte_metadata(df)
    assert with_meta.select("meta.n_bytes").collect()[0][0] == 18

    feats = extract_features(df).collect()
    assert {r.media_id for r in feats} == {1, 2}
    assert all(len(r.features) == 16 for r in feats)
    f1 = extract_features(df).filter("media_id = 1").collect()[0].features
    assert f1 == feats[0].features or f1 == feats[1].features  # deterministic

    resized = resize_images(with_meta, 224, 224).select("meta.width", "meta.height").collect()
    assert all((r.width, r.height) == (224, 224) for r in resized)

    frames = sample_frames(with_meta.filter("media_id = 2"), every_ms=1000).collect()
    assert [f.frame_ms for f in frames] == [0, 1000, 2000]
    assert len({f.frame_fingerprint for f in frames}) == 3  # per-frame ids differ

    with pytest.raises(NotImplementedError, match="decoder='fake'"):
        extract_features(df, decoder="real")


def test_ivf_topk_recall_and_determinism(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}

    tagged, cents = ivf_index(emb, n_cells=16, seed=42)
    assert len(cents) == 16 and len(cents[0]) == 64
    out = ivf_topk(tagged, cents, q, k=10, nprobe=6).collect()
    approx = {(r.query_id, r.vec_id) for r in out}

    # full k rows per query, ranks contiguous, scores within [-1, 1]
    assert len(out) == 5 * 10
    # self-similarity rounds to 1.0 + O(eps) in double arithmetic
    assert all(-1.0 - 1e-9 <= r.cosine <= 1.0 + 1e-9 for r in out)
    # probing 6/16 cells must beat random scanning by a wide margin
    assert len(approx & exact) / len(exact) >= 0.6

    # seeded quantizer -> bit-stable results across rebuilds
    tagged2, cents2 = ivf_index(emb, n_cells=16, seed=42)
    out2 = ivf_topk(tagged2, cents2, q, k=10, nprobe=6).collect()
    assert [(r.query_id, r.vec_id, r.cosine) for r in out] == [
        (r.query_id, r.vec_id, r.cosine) for r in out2
    ]


def test_ivf_nprobe_full_equals_exact(spark, sf_dir):
    """nprobe = n_cells degenerates to exact brute force — same top-k set."""
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.similarity import (
        cosine_topk,
        ivf_index,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    tagged, cents = ivf_index(emb, n_cells=8, seed=7)
    full = ivf_topk(tagged, cents, q, k=5, nprobe=8).collect()
    exact = cosine_topk(emb, q, k=5).collect()
    assert sorted((r.query_id, r.vec_id) for r in full) == sorted(
        (r.query_id, r.vec_id) for r in exact
    )


def test_chunk_text_boundaries(spark):
    from iceberg_quickstart_iac_spark.operators.text import chunk_text

    docs = spark.createDataFrame(
        [(1, "a" * 100), (2, "b" * 256), (3, "c" * 257), (4, "d")],
        "doc_id LONG, text STRING",
    )
    out = chunk_text(docs, "doc_id", "text", chunk_chars=256, overlap=64)
    rows = {(r.doc_id, r.chunk_idx): r.chunk for r in out.collect()}
    # short doc -> exactly one chunk, full text
    assert rows[(1, 0)] == "a" * 100 and (1, 1) not in rows
    # exactly chunk_chars -> one chunk
    assert rows[(2, 0)] == "b" * 256 and (2, 1) not in rows
    # one char over -> two chunks, second starts at stride 192 (64 overlap)
    assert len(rows[(3, 0)]) == 256 and rows[(3, 1)] == "c" * 65
    # reassembly: stripping the overlap from every chunk after the first
    # reproduces the document exactly
    doc3 = rows[(3, 0)] + rows[(3, 1)][64:]
    assert doc3 == "c" * 257
    # degenerate single-char doc
    assert rows[(4, 0)] == "d"

    with pytest.raises(ValueError, match="overlap"):
        chunk_text(docs, "doc_id", "text", chunk_chars=64, overlap=64)


def test_contamination_rates_planted(spark):
    from iceberg_quickstart_iac_spark.operators.dedup import contamination_rates

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id LONG, text STRING",
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # exact copy
            (2, "completely unrelated zebra xylophone quartz"),  # clean
            (3, "the quick brown fox went somewhere else entirely"),  # partial
        ],
        "doc_id LONG, text STRING",
    )
    rates = {r.doc_id: r for r in contamination_rates(corpus, bench, "doc_id", "text").collect()}
    assert rates[1].rate == 1.0
    assert rates[2].rate < 0.1
    assert 0.2 < rates[3].rate < 0.9
    assert rates[1].n_contaminated == rates[1].n_shingles


def test_redact_pii_planted(spark):
    from iceberg_quickstart_iac_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob.smith+x@mail.co.uk today"),
            (2, "ssn 123-45-6789 on file, call +1 (555) 123-4567 x22"),
            (3, "no pii here at all"),
            (4, "founded in 2024. 555 123 4567 is the line"),
        ],
        "doc_id LONG, text STRING",
    )
    counts = pii_counts("text")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            counts["n_email"].alias("n_email"),
            counts["n_ssn"].alias("n_ssn"),
            redact_pii("text").alias("red"),
        ).collect()
    }
    assert out[1].n_email == 2 and "@" not in out[1].red and "[PII]" in out[1].red
    assert out[2].n_ssn == 1 and "123-45-6789" not in out[2].red
    assert "555" not in out[2].red  # phone digits scrubbed
    assert out[3].red == "no pii here at all"
    # single-char separator bound: the match cannot span the sentence
    # boundary — year survives, phone goes
    assert out[4].red == "founded in 2024. [PII] is the line"


def test_stratified_sample_exact_and_stable(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    s1 = stratified_sample(docs, ["lang"], 7, "doc_id")
    per = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 7 for n in per.values()) and len(per) >= 4  # exact n per stratum
    # stability under repartitioning: identical picks regardless of layout
    s2 = stratified_sample(docs.repartition(17), ["lang"], 7, "doc_id")
    assert sorted((r.lang, r.doc_id) for r in s1.collect()) == sorted(
        (r.lang, r.doc_id) for r in s2.collect()
    )


def test_int8_quantization_bounds(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.similarity import (
        quantize_embeddings_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    q = quantize_embeddings_int8(emb).join(emb, "vec_id")
    for r in q.collect():
        assert all(-127 <= v <= 127 for v in r.qvec)  # int8 range
        # per-component reconstruction error bounded by scale/2 (half-up)
        for x, qv in zip(r.embedding, r.qvec):
            assert abs(float(x) - qv * r.scale) <= r.scale / 2 + 1e-12


def test_exact_dedup_map_payload_falls_back_to_window(spark):
    df = spark.createDataFrame(
        [(3, "a", {"k": "v3"}), (1, "a", {"k": "v1"}), (2, "b", {"k": "v2"})],
        "id LONG, k STRING, payload MAP<STRING,STRING>",
    )
    out = exact_dedup(df, ["k"], "id").collect()
    assert sorted((r.k, r.id) for r in out) == [("a", 1), ("b", 2)]
    assert {r.id: dict(r.payload) for r in out}[1] == {"k": "v1"}


def test_repetition_signals_planted(spark):
    from iceberg_quickstart_iac_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [
            # 4 non-empty lines, "nav" twice: dup_line_frac = 2/4,
            # dup chars = 2*3 of total 3+10+3+11 = 27 -> 6/27
            (1, "nav\nalpha beta\nnav\ngamma delta"),
            # bigrams: "buy now" x3, "now buy" x2 -> top = 3/5
            (2, "buy now buy now buy now"),
            # whitespace-only doc: all-zero signals, still one output row
            (3, "  \n  "),
        ],
        "doc_id LONG, text STRING",
    )
    rows = {r.doc_id: r for r in repetition_signals(df, "doc_id", "text").collect()}
    assert len(rows) == 3
    assert rows[1].n_lines == 4
    assert rows[1].dup_line_frac == 0.5
    assert rows[1].dup_line_char_frac == 6 / 27
    assert rows[2].top_bigram_frac == 3 / 5
    assert rows[3].n_lines == 0
    assert rows[3].dup_line_frac == 0.0
    assert rows[3].top_bigram_frac == 0.0


def test_source_mixture_weights_normalized(spark, sf_dir):
    from iceberg_quickstart_iac_spark.plans.queries import source_mixture_weights

    pdf = source_mixture_weights(spark, sf_dir).toPandas()
    assert abs(pdf.weight.sum() - 1.0) < 1e-9
    assert (pdf.weight > 0).all()
    # temperature alpha=0.5 up-weights small sources: weight/token-share
    # ratio must be monotonically non-increasing in n_tokens
    pdf = pdf.sort_values("n_tokens")
    share = pdf.weight / (pdf.n_tokens / pdf.n_tokens.sum())
    assert (share.diff().dropna() <= 1e-12).all()


def test_corpus_filter_funnel_monotone(spark, sf_dir):
    from iceberg_quickstart_iac_spark.plans.queries import corpus_filter_funnel

    pdf = corpus_filter_funnel(spark, sf_dir).toPandas().sort_values("stage_idx")
    assert list(pdf.stage_idx) == [0, 1, 2, 3, 4]
    assert (pdf.n_docs.diff().dropna() <= 0).all()  # survivors only shrink
    assert (pdf.n_tokens.diff().dropna() <= 0).all()
    assert pdf.n_docs.iloc[0] > 0


def test_semantic_dedup_kept_set_pairwise_dissimilar(spark, sf_dir):
    from iceberg_quickstart_iac_spark.plans.queries import semantic_dedup_cells

    pdf = semantic_dedup_cells(spark, sf_dir).toPandas()
    assert len(pdf) > 0 and pdf.is_kept.any()
    # rule: b is dropped iff some lower-id a in the same cell has
    # cos(a,b) >= tau -> the kept set contains NO within-cell pair >= tau
    import numpy as np

    emb = {r.vec_id: r.embedding for r in
           load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000).collect()}
    kept = pdf[pdf.is_kept]
    for cell, grp in kept.groupby("cell"):
        ids = sorted(grp.vec_id)
        M = np.array([emb[i] for i in ids], dtype="float64")
        if len(M) < 2:
            continue
        n = np.linalg.norm(M, axis=1)
        cos = (M @ M.T) / np.outer(n, n)
        np.fill_diagonal(cos, 0.0)
        assert cos.max() < 0.4 + 1e-9, f"cell {cell} kept a >=tau pair"


def test_semantic_dedup_gemm_matches_fold(spark, sf_dir):
    """The production GEMM path (one numpy matmul per cell via
    applyInPandas) must agree with the oracle-replayable fold path on the
    keep/drop decision for every vector. Thresholds in the test corpus sit
    away from float boundaries, so the two accumulation orders decide
    identically."""
    from iceberg_quickstart_iac_spark.operators.similarity import (
        ivf_index,
        semantic_dedup,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 600)
    tagged, _ = ivf_index(
        emb, n_cells=8, max_iter=8, seed=42, fit_sample=100_000,
        order_col="vec_id", assign="fold",
    )
    tagged = tagged.localCheckpoint()  # one assignment feeds both methods
    fold = semantic_dedup(tagged, threshold=0.4, method="fold").toPandas()
    gemm = semantic_dedup(tagged, threshold=0.4, method="gemm").toPandas()
    f = fold.sort_values("vec_id").reset_index(drop=True)
    g = gemm.sort_values("vec_id").reset_index(drop=True)
    assert list(f.vec_id) == list(g.vec_id)
    assert list(f.cell) == list(g.cell)
    assert list(f.is_kept) == list(g.is_kept)


def test_pack_context_windows_operator(spark, sf_dir):
    """Invariants of the packing operator at its DEFAULT shard count (the
    scale path — shards follow cluster parallelism, not a constant): every
    chunk placed exactly once, windows respect budget + one-chunk overflow,
    and shard count actually tracks the parallelism knob."""
    from iceberg_quickstart_iac_spark.operators.text import (
        chunk_text,
        pack_context_windows,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    chunks = chunk_text(docs, "doc_id", "text", chunk_chars=256, overlap=64).select(
        "doc_id", "chunk_idx", F.length("chunk").alias("n_chars")
    )
    placed = pack_context_windows(chunks, budget_chars=1024)
    assert placed.count() == chunks.count()  # every chunk placed once

    par = spark.sparkContext.defaultParallelism
    n_shards = placed.select("shard").distinct().count()
    assert n_shards <= par
    assert n_shards == min(par, 300) or n_shards > 1  # tracks the knob

    wins = (
        placed.groupBy("shard", "win_id")
        .agg(F.sum("n_chars").alias("sz"), F.max("n_chars").alias("mx"))
        .collect()
    )
    for r in wins:
        # online-packing bound: a window exceeds budget by < its last chunk
        assert r.sz < 1024 + 256

    # explicit n_shards overrides the default (the oracle-replayable form)
    pinned = pack_context_windows(chunks, budget_chars=1024, n_shards=3)
    assert pinned.select("shard").distinct().count() <= 3


def test_incremental_dedup_operator(spark):
    """New-batch dedup against a seen-fingerprint store: in-batch copies
    collapse to the smallest id, store hits are dropped, genuinely new
    content survives carrying its fingerprint for store ingestion."""
    from iceberg_quickstart_iac_spark.operators.dedup import incremental_dedup
    from iceberg_quickstart_iac_spark.operators.text import content_md5

    seen_docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id LONG, text STRING"
    )
    seen = seen_docs.select(content_md5(F.col("text")).alias("fingerprint")).distinct()
    batch = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),   # store hit after normalization -> dropped
            (11, "epsilon zeta"),   # new -> kept
            (12, "epsilon  ZETA"),  # in-batch dup of 11 -> collapsed
            (13, "eta theta"),      # new -> kept
        ],
        "doc_id LONG, text STRING",
    )
    out = incremental_dedup(batch, seen, "doc_id", "text")
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {11, 13}
    assert all(r["__fp"] for r in rows.values())  # fingerprint carried for ingest


def test_media_header_parsing_codec_free(spark):
    """REAL metadata decode with zero codec libraries: hand-crafted valid
    container headers parse to the planted dimensions/duration — PNG/GIF/
    WAV via pure JVM byte arithmetic, JPEG via the stdlib marker scan.
    Corrupt payloads keep their declared metadata instead of erroring."""
    import struct as _struct

    from iceberg_quickstart_iac_spark.operators.multimodal import parse_media_meta

    png = (b"\x89PNG\r\n\x1a\n" + _struct.pack(">I", 13) + b"IHDR"
           + _struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00" + b"\x00" * 8)
    gif = b"GIF89a" + _struct.pack("<HH", 320, 200) + b"\x00" * 10
    # canonical 44-byte WAV header: 16000 B/s byte rate, 32000 data bytes -> 2000 ms
    wav = (b"RIFF" + _struct.pack("<I", 36 + 32000) + b"WAVE"
           + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 16000, 16000, 1, 8)
           + b"data" + _struct.pack("<I", 32000) + b"\x00" * 32000)
    jpeg = (b"\xff\xd8"                                   # SOI
            + b"\xff\xe0" + _struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9  # APP0
            + b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08"
            + _struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 2)  # SOF0 h,w
    junk = b"\x00\x01\x02 not a real container"

    rows = [
        (1, png, "image/png"), (2, gif, "image/gif"), (3, wav, "audio/wav"),
        (4, jpeg, "image/jpeg"), (5, junk, "image/png"),
    ]
    df = spark.createDataFrame(
        [(i, c, m, (None, None, None, None)) for i, c, m in rows],
        "media_id LONG, content BINARY, mime_type STRING, "
        "meta STRUCT<width:INT,height:INT,duration_ms:LONG,n_bytes:LONG>",
    )
    out = {r.media_id: r.meta for r in parse_media_meta(df).collect()}
    assert (out[1].width, out[1].height) == (640, 480)
    assert (out[2].width, out[2].height) == (320, 200)
    assert out[3].duration_ms == 2000
    assert (out[4].width, out[4].height) == (1920, 1080)
    assert out[5].width is None and out[5].height is None  # junk -> declared meta
    assert out[3].n_bytes == len(wav)


def test_corpus_df_rarity_orders_docs_sensibly(spark):
    """Planted truth: a doc of ubiquitous tokens must score a higher mean
    corpus-df than a doc of singleton tokens, and the rare floor applies
    beyond the vocab cap."""
    from iceberg_quickstart_iac_spark.operators.text import corpus_df_rarity

    rows = [(i, "the and of to") for i in range(20)]          # common tokens
    rows.append((100, "zxqv wvut qqag plmo"))                  # singletons
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r.doc_id: r for r in corpus_df_rarity(docs, top_k=3).collect()}
    common = out[0].df_sum / out[0].n_tokens
    rare = out[100].df_sum / out[100].n_tokens
    assert common > rare
    # vocab capped at 3: the 4th common token and all singletons floor at 1
    assert out[100].df_sum == 4  # 4 tokens x df floor 1
    assert out[0].n_tokens == 4


def test_near_dup_clusters_driver_and_distributed_paths_agree(spark):
    """The adaptive cutover must be invisible: forcing the distributed
    min-label propagation (threshold 0) yields exactly the union-find
    result — same components, same min-id representatives, singletons
    mapped to themselves."""
    from iceberg_quickstart_iac_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (4, 5)],
        "id_a LONG, id_b LONG",
    )
    ids = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5, 10, 11, 20, 21, 22, 99)], "doc_id LONG"
    )
    fast = near_dup_clusters(pairs, ids, "doc_id")
    slow = near_dup_clusters(pairs, ids, "doc_id", driver_edge_threshold=0)
    f = {r.doc_id: r.cluster_id for r in fast.collect()}
    s = {r.doc_id: r.cluster_id for r in slow.collect()}
    assert f == s
    assert f[5] == 1 and f[22] == 20 and f[11] == 10
    assert f[99] == 99  # singleton


def test_weighted_sample_exact_k_stable_and_biased(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    s1 = weighted_sample(docs, "n_chars", 200, "doc_id")
    picks1 = sorted(r.doc_id for r in s1.select("doc_id").collect())
    assert len(picks1) == 200
    # partition-independence: identical draw under a different layout
    s2 = weighted_sample(docs.repartition(23), "n_chars", 200, "doc_id")
    assert picks1 == sorted(r.doc_id for r in s2.select("doc_id").collect())
    # weight-proportionality: the length-weighted sample's mean doc length
    # must exceed the corpus mean (longer docs are favored)
    mean_all = docs.agg(F.avg("n_chars")).first()[0]
    mean_sample = s1.agg(F.avg("n_chars")).first()[0]
    assert mean_sample > mean_all * 1.1
    # zero/negative weights are never drawn
    with_zero = docs.withColumn(
        "w", F.when(F.col("doc_id") % 2 == 0, F.lit(0)).otherwise(F.col("n_chars"))
    )
    sz = weighted_sample(with_zero, "w", 100, "doc_id")
    assert sz.filter(F.col("doc_id") % 2 == 0).count() == 0


def test_weighted_sample_global_form_plans_topk_heap(spark, sf_dir):
    """The global draw must plan TakeOrderedAndProject (per-partition
    heaps), not a global sort — the single-partition-window trap."""
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    df = weighted_sample(docs, "n_chars", 200, "doc_id")
    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(jm)
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_stratified_exact_per_stratum(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    s = weighted_sample(docs, "n_chars", 9, "doc_id", strata_cols=["lang"])
    per = {r.lang: r.n for r in s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert all(n == 9 for n in per.values()) and len(per) >= 4


def _pq_setup(spark, sf_dir):
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.similarity import pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, m=8, n_codes=16, max_iter=8, seed=7, order_col="vec_id")
    return emb, books


def test_pq_fit_shapes_and_validation(spark, sf_dir):
    from iceberg_quickstart_iac_spark.operators.similarity import pq_fit

    emb, books = _pq_setup(spark, sf_dir)
    assert len(books) == 8
    assert all(len(cb) == 16 for cb in books)
    assert all(len(code) == 8 for cb in books for code in cb)  # 64/8 dims
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(emb, m=7)


def test_pq_encode_gemm_and_fold_agree(spark, sf_dir):
    from iceberg_quickstart_iac_spark.operators.similarity import pq_encode

    emb, books = _pq_setup(spark, sf_dir)
    gemm = {r.vec_id: list(r.codes) for r in pq_encode(emb, books, assign="gemm").collect()}
    fold = {r.vec_id: list(r.codes) for r in pq_encode(emb, books, assign="fold").collect()}
    assert gemm == fold
    assert all(0 <= c < 16 for codes in gemm.values() for c in codes)


def test_pq_adc_rerank_recall_beats_raw_adc(spark, sf_dir):
    """Candidate-generate (ADC) + exact re-rank — the standard PQ
    pipeline. Recall@10 of exact L2 neighbors must clear 0.6 (measured
    0.75 at 50 candidates on this corpus), and must beat raw ADC@10."""
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import (
        pq_adc_rerank_topk,
        pq_adc_topk,
        pq_encode,
    )

    emb, books = _pq_setup(spark, sf_dir)
    enc = pq_encode(emb, books, assign="gemm")
    rows = emb.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype="float64")
    queries = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in rows[:8]]

    def recall(result_rows):
        got = {}
        for r in result_rows:
            got.setdefault(r.query_id, set()).add(r.vec_id)
        per_q = []
        for qid, qv in queries:
            d2 = ((mat - np.asarray(qv)) ** 2).sum(1)
            exact = set(ids[np.argsort(d2, kind="stable")[:10]])
            per_q.append(len(exact & got[qid]) / 10)
        return sum(per_q) / len(per_q)

    raw = recall(pq_adc_topk(enc, books, queries, k=10).collect())
    rr = pq_adc_rerank_topk(enc, books, queries, k=10, k_cand=50).collect()
    reranked = recall(rr)
    assert reranked >= 0.6
    assert reranked > raw
    # per-query invariants: exactly k rows, ranks contiguous, self is top-1
    # (the query vector is IN the corpus: exact_d2 = 0 beats everything
    # as long as ADC kept it among the candidates)
    by_q = {}
    for r in rr:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, _ in queries:
        rs = sorted(by_q[qid], key=lambda r: r.rank)
        assert len(rs) == 10 and [r.rank for r in rs] == list(range(1, 11))
        assert rs[0].vec_id == qid and rs[0].exact_d2 == 0.0


def test_ivfpq_funnel_prunes_and_degenerates_to_full_adc(spark, sf_dir):
    """nprobe = n_cells must reproduce full-corpus ADC exactly; smaller
    nprobe returns the same schema with candidates only from probed
    cells (self always found — its own cell is the nearest)."""
    from iceberg_quickstart_iac_spark.datasets import load_table
    from iceberg_quickstart_iac_spark.operators.similarity import (
        ivf_index,
        ivfpq_topk,
        pq_adc_topk,
        pq_encode,
        pq_fit,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    tagged, cents = ivf_index(
        emb, n_cells=16, max_iter=8, seed=42, order_col="vec_id", assign="gemm"
    )
    books = pq_fit(emb, m=8, n_codes=16, max_iter=8, seed=7, order_col="vec_id")
    enc = pq_encode(tagged, books, assign="gemm")
    queries = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    full = {(r.query_id, r.rank): r.vec_id
            for r in pq_adc_topk(enc, books, queries, k=10).collect()}
    all_cells = {(r.query_id, r.rank): r.vec_id
                 for r in ivfpq_topk(enc, cents, books, queries, k=10,
                                     nprobe=16).collect()}
    assert full == all_cells
    pruned = ivfpq_topk(enc, cents, books, queries, k=10, nprobe=4).collect()
    by_q = {}
    for r in pruned:
        by_q.setdefault(r.query_id, []).append(r)
    cell_of = {r.vec_id: r.cell for r in enc.select("vec_id", "cell").collect()}
    from iceberg_quickstart_iac_spark.operators.similarity import (
        route_queries_python,
    )
    allowed = {}
    for qid, cell in route_queries_python(cents, queries, 4):
        allowed.setdefault(qid, set()).add(cell)
    for qid, _ in queries:
        rs = sorted(by_q[qid], key=lambda r: r.rank)
        assert rs[0].vec_id == qid  # self lives in the nearest probed cell
        assert all(cell_of[r.vec_id] in allowed[qid] for r in rs)


def test_near_dup_clusters_driver_path_never_collects_ids(spark):
    """A huge corpus with a handful of verified pairs must stay
    distributed on the ids side: only pair MEMBERS are driver-side, and
    the singleton contract resolves via a broadcast join (plan-pinned),
    not an ids.collect()."""
    from iceberg_quickstart_iac_spark.operators.dedup import near_dup_clusters

    ids = spark.range(0, 100_000).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame(
        [(1, 7, 0.9), (7, 42, 0.9), (500, 501, 0.8)],
        "id_a LONG, id_b LONG, jaccard DOUBLE",
    )
    out = near_dup_clusters(pairs, ids, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert out.count() == 100_000
    got = {
        r.doc_id: r.cluster_id
        for r in out.filter("doc_id IN (1, 7, 42, 500, 501, 9999)").collect()
    }
    assert got == {1: 1, 7: 1, 42: 1, 500: 500, 501: 500, 9999: 9999}


# --- training shards --------------------------------------------------------


def test_assign_training_shards_deterministic_and_partition_independent(
    spark, sf_dir
):
    """Shard assignment is a pure function of the id: stable across
    repartitionings, covers all shards, and is expected-balanced."""
    from iceberg_quickstart_iac_spark.operators.sampling import (
        KNUTH, MOD32, assign_training_shards,
    )
    from iceberg_quickstart_iac_spark.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    a = {
        r.doc_id: r.shard
        for r in assign_training_shards(docs, 8, "doc_id").collect()
    }
    b = {
        r.doc_id: r.shard
        for r in assign_training_shards(
            docs.repartition(3), 8, "doc_id"
        ).collect()
    }
    assert a == b
    # engine-portable arithmetic: python replays the exact assignment
    assert all(s == (d * KNUTH) % MOD32 % 8 for d, s in a.items())
    from collections import Counter

    counts = Counter(a.values())
    assert set(counts) == set(range(8))
    # hash-mod balance: no shard more than 2x the mean (n/8 with n>=600)
    mean = len(a) / 8
    assert max(counts.values()) < 2 * mean and min(counts.values()) > mean / 2


def test_shard_position_is_a_reproducible_shuffle(spark, sf_dir):
    """with_position gives each shard a deterministic pre-shuffled read
    order: dense 1..n_rows per shard, identical across runs, and NOT the
    id order (it is a shuffle)."""
    from iceberg_quickstart_iac_spark.operators.sampling import (
        assign_training_shards, shard_manifest,
    )
    from iceberg_quickstart_iac_spark.datasets import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = assign_training_shards(docs, 4, "doc_id", with_position=True)
    rows = out.collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append((r.shard_pos, r.doc_id))
    for shard, pairs in by_shard.items():
        pairs.sort()
        assert [p for p, _ in pairs] == list(range(1, len(pairs) + 1))
        ids_in_pos_order = [d for _, d in pairs]
        assert ids_in_pos_order != sorted(ids_in_pos_order)  # shuffled
    again = {
        (r.shard, r.doc_id): r.shard_pos
        for r in assign_training_shards(
            docs.repartition(5), 4, "doc_id", with_position=True
        ).collect()
    }
    assert all(again[(r.shard, r.doc_id)] == r.shard_pos for r in rows)
    # manifest agrees with the assignment
    man = {r.shard: r.n_rows for r in shard_manifest(docs, 4, "doc_id").collect()}
    assert man == {s: len(p) for s, p in by_shard.items()}


def test_temperature_mixture_sample_rebalances_sources(spark):
    """alpha<1 must shift sample mass from the dominant source toward the
    tail: with a 900/90/10 corpus and alpha=0, expected mass equalizes
    (within sampling noise); alpha=1 reproduces natural frequency."""
    from collections import Counter

    from iceberg_quickstart_iac_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = (
        [(i, "big") for i in range(900)]
        + [(i, "mid") for i in range(900, 990)]
        + [(i, "small") for i in range(990, 1000)]
    )
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    flat = Counter(
        r.source
        for r in temperature_mixture_sample(
            df, "source", 60, "doc_id", alpha=0.0
        ).collect()
    )
    natural = Counter(
        r.source
        for r in temperature_mixture_sample(
            df, "source", 60, "doc_id", alpha=1.0
        ).collect()
    )
    # natural frequency keeps the 90/9/1 skew
    assert natural["big"] > 45 and natural["small"] <= 3
    # alpha=0 equalizes: the tail source is fully included (only 10 docs)
    # and the dominant source loses most of its share
    assert flat["small"] == 10
    # equalized mass: big and mid converge to ~25 each (vs 54/5 natural)
    assert flat["big"] < 35 and flat["mid"] > 15
    # exact-k, without replacement, deterministic
    assert sum(flat.values()) == 60 == sum(natural.values())
    again = Counter(
        r.source
        for r in temperature_mixture_sample(
            df.repartition(7), "source", 60, "doc_id", alpha=0.0
        ).collect()
    )
    assert again == flat


# --- real codec-free decode (round 8) ---------------------------------------


def test_wav_pcm_decode_roundtrip_exact(spark):
    """build_pcm_wav → decode_wav_samples is exact: channels, rate, sample
    count, integer peak and sum of squares all match the closed form."""
    from iceberg_quickstart_iac_spark.operators.multimodal import (
        build_pcm_wav, decode_wav_samples,
    )

    rows = []
    expect = {}
    for mid in range(6):
        samples = [((mid * 31 + i * 17) % 4001) - 2000 for i in range(64)]
        rows.append((mid, bytearray(build_pcm_wav(samples, 8000))))
        expect[mid] = (
            1, 8000, 64,
            max(abs(s) for s in samples),
            sum(s * s for s in samples),
        )
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {
        r.media_id: (r.n_channels, r.sample_rate, r.n_samples, r.peak, r.sum_sq)
        for r in decode_wav_samples(df).collect()
    }
    assert got == expect
    # stereo: n_samples is per channel
    stereo = build_pcm_wav([1, -1, 2, -2, 3, -3], 44100, channels=2)
    df2 = spark.createDataFrame(
        [(9, bytearray(stereo))], "media_id LONG, content BINARY"
    )
    r = decode_wav_samples(df2).first()
    assert (r.n_channels, r.sample_rate, r.n_samples) == (2, 44100, 3)
    # non-WAV bytes decode to NULLs, never crash the batch
    df3 = spark.createDataFrame(
        [(10, bytearray(b"not a wav"))], "media_id LONG, content BINARY"
    )
    assert decode_wav_samples(df3).first().n_samples is None


def test_wav_compressed_format_raises_real_decoder_error(spark):
    """A compressed WAVE payload (format tag != 1 PCM) must raise the
    loud real-decoder error, not silently mis-decode."""
    import struct

    from iceberg_quickstart_iac_spark.operators.multimodal import (
        build_pcm_wav, decode_wav_samples,
    )

    wav = bytearray(build_pcm_wav([0, 1], 8000))
    # fmt chunk payload starts at byte 20; patch the format tag to 85 (MP3)
    wav[20:22] = struct.pack("<H", 85)
    df = spark.createDataFrame([(1, wav)], "media_id LONG, content BINARY")
    import pytest as _pytest

    with _pytest.raises(Exception, match="format tag 85"):
        decode_wav_samples(df).collect()


def test_bmp_pixel_decode_roundtrip_exact(spark):
    """build_bmp → decode_bmp_pixels is exact for padded widths, bottom-up
    storage, and per-channel integer sums."""
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.multimodal import (
        build_bmp, decode_bmp_pixels,
    )

    rows, expect = [], {}
    for mid, (h, w) in enumerate([(3, 5), (4, 4), (1, 7)]):  # 5,7: stride pad
        px = np.arange(h * w * 3, dtype=np.int64).reshape(h, w, 3) % 251
        rows.append((mid, bytearray(build_bmp(px))))
        expect[mid] = (
            w, h,
            int(px[:, :, 0].sum()), int(px[:, :, 1].sum()), int(px[:, :, 2].sum()),
        )
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {
        r.media_id: (r.width, r.height, r.sum_r, r.sum_g, r.sum_b)
        for r in decode_bmp_pixels(df).collect()
    }
    assert got == expect


def test_incremental_near_dup_admission(spark, planted_docs):
    """New-batch admission against a persisted signature store: exact and
    near copies of corpus docs match 'store', in-batch dups match 'batch'
    (later doc defers to earlier), novel docs return no row — and the
    corpus is never paired with itself."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        incremental_near_dup, minhash_signatures,
    )

    store = planted_docs.filter("doc_id < 100")  # the 10 distinct docs
    store_sigs = minhash_signatures(store, "doc_id", "text", num_perm=64)
    base_text = {r.doc_id: r.text for r in store.collect()}
    batch = spark.createDataFrame(
        [
            (1000, base_text[0]),                      # exact copy of doc 0
            (1001, base_text[3].replace("fox", "ox")), # near copy of doc 3
            (1002, "completely novel content that matches nothing at all"),
            (1003, "shared batch text for the in-batch duplicate pair"),
            (1004, "shared batch text for the in-batch duplicate pair"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.new_id: (r.dup_of, r.est_jaccard, r.source)
        for r in incremental_near_dup(
            batch, store_sigs, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert out[1000] == (0, 1.0, "store")
    assert out[1001][0] == 3 and out[1001][1] >= 0.5 and out[1001][2] == "store"
    assert out[1004] == (1003, 1.0, "batch")
    assert 1002 not in out and 1003 not in out


def test_bigram_novelty_counts_exact(spark):
    """Planted corpus with known bigram frequencies: shared phrase bigrams
    count as common, unique tails as novel; one-token docs emit no row."""
    from iceberg_quickstart_iac_spark.operators.text import bigram_novelty

    df = spark.createDataFrame(
        [
            (1, "the quick fox"),          # bigrams: 'the quick', 'quick fox'
            (2, "the quick dog"),          # 'the quick' shared with doc 1
            (3, "THE  Quick fox"),         # normalizes identically to doc 1
            (4, "solo"),                   # 1 token -> no row
            (5, "zebra xylophone"),        # unique bigram
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.n_common, r.n_novel)
        for r in bigram_novelty(df, "doc_id", "text", min_df=2).collect()
    }
    # 'the quick' occurs 3x, 'quick fox' 2x, 'quick dog' 1x, 'zebra xylophone' 1x
    assert out[1] == (2, 2, 0)
    assert out[2] == (2, 1, 1)
    assert out[3] == (2, 2, 0)
    assert out[5] == (1, 0, 1)
    assert 4 not in out


def test_bmp_negative_width_is_malformed_not_garbage():
    """The BMP width field is signed on disk but only the HEIGHT sign
    encodes orientation — a negative/zero width must parse as None
    (malformed), not slip past the byte-bounds check with a negative byte
    count and reshape into nonsense stats."""
    import struct

    from iceberg_quickstart_iac_spark.operators.multimodal import (
        _parse_bmp_pixels, build_bmp,
    )

    good = build_bmp([[[1, 2, 3], [4, 5, 6]], [[7, 8, 9], [10, 11, 12]]])
    assert _parse_bmp_pixels(good)[0:2] == (2, 2)
    for w in (-1, -2, 0):
        bad = bytearray(good)
        bad[18:22] = struct.pack("<i", w)
        assert _parse_bmp_pixels(bytes(bad)) is None, w


def test_signature_store_admit_append_admit(spark, tmp_path):
    """The production near-dup admission loop:
    wave-1 admits against an empty store and appends the admitted docs'
    signatures; wave-2 must catch a copy of a wave-1 admission FROM THE
    UPDATED STORE; a crash-replayed wave (same txn) must skip the append
    and return identical matches."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        admit_batch,
        create_signature_store,
    )

    store = create_signature_store(tmp_path / "sig", "doc_id")
    w1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (7, "completely different content about catalyst optimizer plans"),
            (30001, "identical in batch payload row for the duplicate pair"),
            (30002, "identical in batch payload row for the duplicate pair"),
        ],
        "doc_id LONG, text STRING",
    )
    r1 = admit_batch(store, w1, "doc_id", "text", threshold=0.9, txn=("lc", 1))
    assert [tuple(r) for r in r1["matches"].collect()] == [
        (30002, 30001, 1.0, "batch")
    ]
    assert r1["commit"]["row_count"] == 3  # 1, 7, 30001 admitted
    assert sorted(r.doc_id for r in r1["admitted"].collect()) == [1, 7, 30001]

    w2 = spark.createDataFrame(
        [
            # exact copy of admitted doc 1 — catchable only via the store
            (50001, "the quick brown fox jumps over the lazy dog again and again"),
            (70001, "fresh wave two content totally new material here"),
        ],
        "doc_id LONG, text STRING",
    )
    r2 = admit_batch(store, w2, "doc_id", "text", threshold=0.9, txn=("lc", 2))
    assert [tuple(r) for r in r2["matches"].collect()] == [
        (50001, 1, 1.0, "store")
    ]
    assert r2["commit"]["row_count"] == 4  # +70001

    # crash replay: same txn → append skipped, matches identical (the
    # replayed batch's own signatures in the store are self-excluded)
    r2b = admit_batch(store, w2, "doc_id", "text", threshold=0.9, txn=("lc", 2))
    assert r2b["commit"]["row_count"] == 4
    assert [tuple(r) for r in r2b["matches"].collect()] == [
        (50001, 1, 1.0, "store")
    ]
    # ledger: the store's head still carries txn version 2
    assert store.last_txn_version("lc") == 2


def _admission_fixture():
    """A 30-doc store and a 13-doc batch holding planted exact copies, near
    rewrites of store docs, an in-batch exact pair, an in-batch near pair
    and novel docs — every outcome an admission can report."""
    import random

    rng = random.Random(11)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = [
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 8)))
        for _ in range(400)
    ]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(40))

    def rewrite(text, share):
        words = text.split()
        for i in rng.sample(range(len(words)), int(len(words) * share)):
            words[i] = rng.choice(vocab)
        return " ".join(words)

    store = [(i, doc()) for i in range(1, 31)]
    text = dict(store)
    novel, pair_base = doc(), doc()
    batch = [
        (101, text[3]),                      # exact copy of store doc 3
        (102, text[8]),                      # exact copy of store doc 8
        (103, rewrite(text[5], 0.1)),        # near rewrite of store doc 5
        (104, rewrite(text[13], 0.1)),       # near rewrite of store doc 13
        (105, rewrite(text[21], 0.2)),       # looser rewrite of store doc 21
        (106, novel),
        (107, pair_base),
        (108, rewrite(pair_base, 0.1)),      # in-batch near dup of 107
        (109, novel),                        # in-batch exact dup of 106
        (110, rewrite(text[5], 0.05)),       # near store doc 5 AND batch 103
        (111, doc()),
        (112, doc()),
        (113, text[3]),                      # 1.0 against store 3 AND batch 101
    ]
    return store, batch


def _seeded_store(spark, root, rows):
    from iceberg_quickstart_iac_spark.operators.dedup import (
        create_signature_store,
        minhash_signatures,
    )

    corpus = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    store = create_signature_store(root, "doc_id")
    store.append(
        minhash_signatures(corpus, "doc_id", "text").select("doc_id", "minhash"),
        txn=("seed", 0),
    )
    return store


def test_admission_matches_are_pinned(spark, tmp_path):
    """Admission equivalence: the exact ``matches`` rows (estimates
    included) and admitted ids of an admission with store and in-batch
    candidates, through ``incremental_near_dup`` (also with a bucket cap
    of 1, so every shared bucket takes the representative path) and
    ``admit_batch``; a replay of the same txn returns the same rows and
    appends nothing."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        admit_batch,
        incremental_near_dup,
    )

    store_rows, batch_rows = _admission_fixture()
    batch = spark.createDataFrame(batch_rows, "doc_id LONG, text STRING")
    store = _seeded_store(spark, tmp_path / "sig", store_rows)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    expect = [
        (101, 3, 1.0, "store"),
        (102, 8, 1.0, "store"),
        (103, 5, 0.6875, "store"),
        (104, 13, 0.875, "store"),
        (105, 21, 0.578125, "store"),
        (108, 107, 0.734375, "batch"),
        (109, 106, 1.0, "batch"),
        (110, 5, 0.828125, "store"),
        (113, 3, 1.0, "store"),
    ]
    store_sigs = store.read(spark)
    for cap in (1000, 1):
        got = incremental_near_dup(
            batch, store_sigs, "doc_id", "text", max_bucket_df=cap
        )
        assert rows(got) == expect, cap

    first = admit_batch(store, batch, "doc_id", "text", txn=("eq", 1))
    assert rows(first["matches"]) == expect
    assert sorted(r.doc_id for r in first["admitted"].collect()) == [
        106, 107, 111, 112
    ]
    assert first["commit"]["row_count"] == 34
    replay = admit_batch(store, batch, "doc_id", "text", txn=("eq", 1))
    assert rows(replay["matches"]) == expect
    assert replay["commit"]["row_count"] == 34


def test_store_rows_sharing_an_id_are_scored_per_band_hit(spark):
    """A store that holds one id twice: each stored signature row is its
    own LSH candidate, scored only when it shares a band with the new
    doc. Id 7's first row shares band 0 but agrees on 4/64 positions;
    its second agrees on 48/64 but differs in every band, so it is never
    a candidate and the doc is admitted. Id 9's rows both share a band,
    and the better one (an exact copy) wins."""
    from iceberg_quickstart_iac_spark.operators.dedup import (
        incremental_near_dup,
        minhash_signatures,
    )

    new = spark.createDataFrame(
        [(500, "a near duplicate that the store holds under one id twice")],
        "doc_id LONG, text STRING",
    )
    sig = minhash_signatures(new, "doc_id", "text").first().minhash
    band_0_only = sig[:4] + [~x for x in sig[4:]]
    no_band = [~x if p % 4 == 0 else x for p, x in enumerate(sig)]
    half = sig[:32] + [~x for x in sig[32:]]

    def matches(store_rows):
        store = spark.createDataFrame(store_rows, "doc_id LONG, minhash ARRAY<LONG>")
        out = incremental_near_dup(new, store, "doc_id", "text")
        return [tuple(r) for r in out.collect()]

    assert matches([(7, band_0_only), (7, no_band)]) == []
    assert matches([(9, half), (9, sig)]) == [(500, 9, 1.0, "store")]


def test_admission_scans_the_store_once(spark, tmp_path, monkeypatch):
    """The executed plan of an admission's matches reads the store's data
    in one scan (banding, the probe and candidate signatures all ride
    it), and no per-element ``element_at`` kernel is left in it."""
    from iceberg_quickstart_iac_spark.operators import dedup

    store_rows, batch_rows = _admission_fixture()
    store = _seeded_store(spark, tmp_path / "sig", store_rows[:20])
    more = spark.createDataFrame(store_rows[20:], "doc_id LONG, text STRING")
    store.append(
        dedup.minhash_signatures(more, "doc_id", "text").select("doc_id", "minhash")
    )
    real, captured = dedup._near_dup_matches, []

    def spy(*args, **kwargs):
        captured.append(real(*args, **kwargs))
        return captured[-1]

    monkeypatch.setattr(dedup, "_near_dup_matches", spy)
    batch = spark.createDataFrame(batch_rows, "doc_id LONG, text STRING")
    dedup.admit_batch(store, batch, "doc_id", "text")
    plan = captured[0]._jdf.queryExecution().executedPlan()
    final = plan.finalPhysicalPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan
    text = final.toString()
    assert text.count("FileScan parquet") == 1, text
    assert "element_at(" not in text, text


def test_expr_string_forms_match_column_api(spark):
    """_band_bucket_array/_agreement_fraction build their expression trees
    from ONE parsed SQL string (driver-cost fix, round 9); this pins that
    the SQL functions are byte-identical to the F.* Column constructions
    they replaced."""
    from pyspark.sql import functions as F

    from iceberg_quickstart_iac_spark.operators.dedup import (
        _agreement_fraction,
        _band_bucket_array,
    )

    sig = [((i * 37 + 11) % 97 - 48) * 9_999_999_999 for i in range(8)]
    df = spark.createDataFrame(
        [(sig, sig[:4] + [0, 0, 0, 0])], "minhash ARRAY<LONG>, other ARRAY<LONG>"
    )
    r, bands = 2, 4
    old_band = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[F.element_at("minhash", b * r + j + 1) for j in range(r)],
                )
            )
            for b in range(bands)
        ]
    )
    old_agree = sum(
        F.when(F.element_at("minhash", p + 1) == F.element_at("other", p + 1), 1)
        .otherwise(0)
        for p in range(8)
    ) / 8
    row = df.select(
        old_band.alias("ob"),
        _band_bucket_array(r, bands).alias("nb"),
        old_agree.alias("oa"),
        _agreement_fraction("minhash", "other", 8).alias("na"),
    ).first()
    assert row.ob == row.nb
    assert row.oa == row.na == 0.5


def test_boilerplate_removal_semantics(spark):
    """Line-level boilerplate removal (round 9): shared non-blank lines
    drop within their scope, blank lines and unique lines survive in
    order, an all-boilerplate doc yields an EMPTY row (not a missing
    one), and scopes never cross-contaminate."""
    from iceberg_quickstart_iac_spark.operators.text import (
        remove_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [
            (1, "s1", "MENU\nreal content one\n\nfooter(c)"),
            (2, "s1", "MENU\nreal content two\nfooter(c)"),
            (3, "s1", "MENU\nfooter(c)"),
            (4, "s2", "MENU\nmenu is unique within s2"),
        ],
        "doc_id LONG, source STRING, text STRING",
    )
    out = {
        r.doc_id: r
        for r in remove_boilerplate_lines(
            df, "doc_id", "text", scope_col="source", min_df=2
        ).collect()
    }
    assert out[1].text_clean == "real content one\n"  # blank line kept
    assert (out[1].n_lines, out[1].n_removed) == (4, 2)
    assert out[2].text_clean == "real content two"
    assert out[3].text_clean == "" and out[3].n_removed == 2
    # scope isolation: MENU has df=1 within s2
    assert out[4].text_clean.startswith("MENU\n")
    # repeated line WITHIN one doc is df=1 (countDistinct on doc ids)
    df2 = spark.createDataFrame(
        [(1, "chorus\nchorus\nchorus"), (2, "verse only")],
        "doc_id LONG, text STRING",
    )
    out2 = {
        r.doc_id: r
        for r in remove_boilerplate_lines(df2, "doc_id", "text", min_df=2)
        .collect()
    }
    assert out2[1].n_removed == 0


def test_boilerplate_removal_broadcast_is_conditional(spark, sf_dir):
    """The boilerplate set grows as total_lines/min_df — billions of
    rows at crawl scale with the default min_df — so the anti-join must
    NOT carry an unconditional broadcast hint (a forced hint passes at
    sf0.1 and OOMs the driver at 100 TB). Contract, pinned three ways:

    - default (broadcast=None): no hint in the plan; at THIS data size
      AQE's runtime stats still elect a BroadcastHashJoin for the small
      aggregated set (executed adaptive plan checked) — small sets keep
      the map-only removal pass without the scale hazard;
    - broadcast=True: static BroadcastHashJoin (caller bounded the set);
    - broadcast=False: shuffled anti-join even though the set is tiny.
    """
    import re as _re

    from iceberg_quickstart_iac_spark.operators.text import (
        remove_boilerplate_lines,
    )
    from iceberg_quickstart_iac_spark.plans.queries import queries

    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    # default path: the catalog query — no forced hint anywhere
    df = queries()["doc_boilerplate_removal"](spark, sf_dir)
    qe = df._jdf.queryExecution()
    assert "ResolvedHint" not in qe.analyzed().toString()
    df.collect()  # AQE finalizes the adaptive plan
    final = qe.explainString(jm)
    assert "BroadcastHashJoin" in final and "LeftAnti" in final, final

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter("doc_id < 120")
        .selectExpr(
            "doc_id",
            "source",
            "concat('NAV ', source, '\\n', text) AS text",
        )
    )

    # broadcast=True: hint present before any stats kick in
    forced = remove_boilerplate_lines(
        docs, "doc_id", "text", scope_col="source", broadcast=True
    )
    plan = forced._jdf.queryExecution().explainString(jm)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan

    # broadcast=False: the shuffle path is honored even for a tiny set
    shuffled = remove_boilerplate_lines(
        docs, "doc_id", "text", scope_col="source", broadcast=False
    )
    plan = shuffled._jdf.queryExecution().explainString(jm)
    # the reassembly LEFT OUTER may still broadcast; only the ANTI join
    # (the one keyed on the boilerplate set) must stay shuffled
    assert _re.search(r"(SortMergeJoin|ShuffledHashJoin) LeftAnti", plan), plan
    assert "BroadcastHashJoin LeftAnti" not in plan, plan

    # all three variants agree on the answer
    base = {
        (r.doc_id): (r.n_lines, r.n_removed)
        for r in remove_boilerplate_lines(
            docs, "doc_id", "text", scope_col="source"
        ).collect()
    }
    for variant in (forced, shuffled):
        got = {r.doc_id: (r.n_lines, r.n_removed) for r in variant.collect()}
        assert got == base


# -- exact-substring window spans (round 10; X38) ----------------------------


def test_repeated_window_spans_semantics(spark):
    from iceberg_quickstart_iac_spark.operators.dedup import (
        repeated_window_spans,
    )

    shared = "alpha beta gamma delta epsilon"  # one 5-token window
    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 5-token phrase at different offsets
            (1, f"intro words here then {shared} tail one"),
            (2, f"{shared} something else entirely follows now"),
            # doc 3 repeats a phrase INSIDE itself (counts toward min_count)
            (3, "zz yy xx ww vv uu zz yy xx ww vv uu"),
            # doc 4 has no repeated windows anywhere
            (4, "q w e r t y u i o p"),
            # doc 5 too short for a window
            (5, "one two"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: r
        for r in repeated_window_spans(docs, "doc_id", "text", w=5).collect()
    }
    assert set(out) == {1, 2, 3}
    # the shared phrase is exactly one window -> one span of 5 tokens
    assert (out[1].n_spans, out[1].n_dup_windows, out[1].dup_tokens) == (
        1, 1, 5,
    )
    assert (out[2].n_spans, out[2].n_dup_windows, out[2].dup_tokens) == (
        1, 1, 5,
    )
    # doc 3: windows at pos 0..7 all duplicated (each 5-gram of the
    # repeated half recurs 6 tokens later... exact count: tokens
    # 'zz yy xx ww vv uu' * 2 -> 12 tokens, 8 windows; window at pos i
    # equals window at pos i+6 for i in 0..1 -> dup windows {0,1,6,7};
    # they merge into ONE span covering pos 0..7+4 = 12 tokens
    assert out[3].n_spans == 1
    assert out[3].n_dup_windows == 4
    assert out[3].dup_tokens == 12


def test_repeated_window_spans_island_split(spark):
    from iceberg_quickstart_iac_spark.operators.dedup import (
        repeated_window_spans,
    )

    # two disjoint shared phrases far apart in one doc -> two spans
    p1 = "a1 a2 a3 a4 a5"
    p2 = "b1 b2 b3 b4 b5"
    filler = " ".join(f"f{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {filler} {p2}"),
            (2, f"{p1} unrelated trailing words here"),
            (3, f"leading words then {p2} end"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.doc_id: r
        for r in repeated_window_spans(docs, "doc_id", "text", w=5).collect()
    }
    assert out[1].n_spans == 2 and out[1].dup_tokens == 10
    assert out[2].n_spans == 1 and out[3].n_spans == 1


# -- BM25 + RRF retrieval (round 10; X39) ------------------------------------


def _bm25_reference(texts: dict, terms: list[str]) -> dict:
    """Pure-python replica of the ratio-idf BM25 (k1=1.2, b=0.75)."""
    toks = {i: t.lower().split() for i, t in texts.items()}
    dl = {i: len(ts) for i, ts in toks.items()}
    n, total = len(dl), sum(dl.values())
    import decimal

    scores = {}
    for i, ts in toks.items():
        s = decimal.Decimal(0)
        for term in terms:
            tf = ts.count(term)
            if tf == 0:
                continue
            df = sum(1 for u in toks.values() if term in u)
            idf = (float(n - df) + 0.5) / (float(df) + 0.5)
            num = 2.2 * float(tf)
            den = float(tf) + 0.3 + (
                0.9 * ((float(dl[i]) * float(n)) / float(total))
            )
            s += decimal.Decimal((idf * num) / den).quantize(
                decimal.Decimal("0.000001")
            )
        if s:
            scores[i] = float(s)
    return scores


def test_bm25_scores_match_reference(spark):
    from iceberg_quickstart_iac_spark.operators.retrieval import bm25_scores

    texts = {
        1: "vector merge window vector vector",
        2: "merge merge merge filler words padding out the doc",
        3: "window",
        4: "nothing relevant here at all",
        5: "vector window vector window vector window extra",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id LONG, text STRING"
    )
    got = {
        r.doc_id: (r.score, r.matched_terms)
        for r in bm25_scores(
            docs, ["vector", "merge", "window"]
        ).collect()
    }
    ref = _bm25_reference(texts, ["vector", "merge", "window"])
    assert set(got) == set(ref)
    for i, s in ref.items():
        assert got[i][0] == pytest.approx(s, abs=2e-6), (i, got[i], s)
    # more query-term mass -> higher score (same doc length ballpark)
    assert got[1][0] > got[3][0]
    assert got[1][1] == 3 and got[2][1] == 1


def test_rrf_fuse_handles_missing_lists(spark):
    from iceberg_quickstart_iac_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 1), (2, 2)], "doc_id LONG, rank INT"
    )
    vec = spark.createDataFrame(
        [(2, 1), (3, 2)], "doc_id LONG, rank INT"
    )
    out = {r.doc_id: r for r in rrf_fuse(lex, vec, "doc_id").collect()}
    assert out[1].rrf == pytest.approx(1 / 61)
    assert out[2].rrf == pytest.approx(1 / 62 + 1 / 61)
    assert out[3].rrf == pytest.approx(1 / 62)
    assert out[1].rank_vec is None and out[3].rank_lex is None
    # doc in both lists outranks single-list docs of similar rank
    assert out[2].rrf > out[1].rrf > out[3].rrf


def test_retrieval_plan_shapes(spark, sf_dir):
    """BM25's corpus/df sides are FIXED-cardinality broadcasts; the
    window-span mark-back join carries NO forced hint (the dup-window
    set grows with the corpus); neither plans a CartesianProduct."""
    from iceberg_quickstart_iac_spark.plans.queries import queries

    jm = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    bm = queries(include_retired=True)["bm25_doc_search"](spark, sf_dir)
    plan = bm._jdf.queryExecution().explainString(jm)
    assert "CartesianProduct" not in plan
    # the top-15 head must be a bounded top-k, never a global sort:
    # either the rank-limit rewrite's partial WindowGroupLimit or the
    # TakeOrderedAndProject heap (what Catalyst actually plans here)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    sub = queries()["doc_repeated_substrings"](spark, sf_dir)
    qe = sub._jdf.queryExecution()
    assert "ResolvedHint" not in qe.analyzed().toString()
    assert "CartesianProduct" not in qe.explainString(jm)


def test_canonical_per_cluster_semantics(spark):
    from iceberg_quickstart_iac_spark.operators.dedup import (
        canonical_per_cluster,
    )

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (7, 20), (8, 20)],
        "doc_id LONG, cluster_id LONG",
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (7, 0.4), (8, 0.4)],
        "doc_id LONG, quality DOUBLE",
    )
    out = {
        r.cluster_id: r
        for r in canonical_per_cluster(clusters, scores).collect()
    }
    # highest quality wins; quality tie -> LOWEST id
    assert out[10].canonical_id == 2 and out[10].canonical_quality == 0.9
    assert (out[10].n_members, out[10].n_removed) == (3, 2)
    assert out[20].canonical_id == 7 and out[20].n_removed == 1


def test_pca_fit_and_project_semantics(spark):
    import numpy as np

    from iceberg_quickstart_iac_spark.operators.similarity import (
        fit_pca,
        pca_project,
    )

    rng = np.random.default_rng(7)
    # anisotropic cloud: variance 100 along axis0-ish, 1 elsewhere
    mat = rng.standard_normal((300, 6))
    mat[:, 0] *= 10.0
    mean, comps, explained = fit_pca(mat, 2)
    # top component aligns with the high-variance axis
    assert abs(comps[0][0]) > 0.99
    # sign fix: largest-|x| element positive
    for c in comps:
        assert c[int(np.abs(np.array(c)).argmax())] > 0
    # explained variances descend and roughly match the construction
    assert explained[0] > explained[1]
    assert explained[0] == pytest.approx(100.0, rel=0.25)
    # distributed projection == numpy projection
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat[:20])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {
        r.vec_id: (r.pc1, r.pc2)
        for r in pca_project(df, "embedding", mean, comps).collect()
    }
    m, c = np.array(mean), np.array(comps)
    for i in range(20):
        want = (mat[i] - m) @ c.T
        assert got[i][0] == pytest.approx(want[0], abs=1e-9)
        assert got[i][1] == pytest.approx(want[1], abs=1e-9)


def test_bm25_batch_agrees_with_single_query(spark):
    from iceberg_quickstart_iac_spark.operators.retrieval import (
        bm25_batch_scores,
        bm25_scores,
    )

    texts = {
        1: "vector merge window vector vector",
        2: "merge merge merge filler words padding out the doc",
        3: "window",
        5: "vector window vector window vector window extra",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id LONG, text STRING"
    )
    single = {
        r.doc_id: (r.score, r.matched_terms)
        for r in bm25_scores(docs, ["vector", "merge", "window"]).collect()
    }
    qt = spark.createDataFrame(
        [(9, "vector"), (9, "merge"), (9, "window")],
        "query_id INT, term STRING",
    )
    batch = {
        r.doc_id: (r.score, r.matched_terms)
        for r in bm25_batch_scores(docs, qt).collect()
    }
    assert batch == single
