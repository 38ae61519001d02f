"""Embedding similarity search (SURVEY §2.13 X3).

Three strategies over an ``array<float>`` embedding column:

- :func:`cosine_topk` — exact brute force, pure JVM (`zip_with` +
  `aggregate` dot products against broadcast query vectors, window top-k).
  The correctness baseline; O(N·Q·d) but perfectly scan-parallel.
- :func:`cosine_topk_pandas` — the same math through an Arrow-batched
  ``mapInPandas`` with one numpy GEMM per batch, then a global top-k.
  ~10-50× the JVM loop at larger Q·d; the production brute-force path.
- :func:`hyperplane_lsh_topk` — random-hyperplane LSH: sign-bit signatures
  bucket the corpus; only the query's bucket (plus optional multi-probe
  neighbors at hamming distance 1) is scored. The 100 TB path: candidate
  set per query is |bucket| ≈ N / 2^planes, and the bucket join is a plain
  equi-join Catalyst can shuffle-partition.
- :func:`ivf_index` / :func:`ivf_topk` — IVF (inverted-file) ANN: a
  k-means coarse quantizer assigns every corpus vector to a cell; a query
  scores only its ``nprobe`` nearest cells' vectors. The data-adaptive
  alternative to LSH: cells follow the embedding distribution, so recall
  per candidate scanned is higher on clustered corpora.

Query sets are expected to be small (broadcast); the corpus side is never
collected, never exploded per pair beyond the candidate set.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k by cosine for every query vector (JVM-side).

    Output: (query_id, vec_id, cosine, rank), rank 1..k per query,
    deterministic tie-break on vec_id.

    Scale shape: the ``rank <= k`` filter over a row_number window is
    exactly the pattern Spark's WindowGroupLimit rewrite targets — the
    physical plan inserts a PARTIAL WindowGroupLimit before the exchange
    (map-side prune to k rows per query per input partition, verified in
    tests/test_plans.py), so only k·P rows per query ever shuffle and
    the final task sorts k·P rows, never |corpus|. An explicit two-level
    window (pre-prune on (query, spark_partition_id)) was measured and
    REJECTED: it plans a second exchange for the same pruning the
    optimizer already does map-side (resolved by
    pinning the optimizer behavior rather than hand-rolling it).
    """
    # norms hoisted to one column per row/query (vs per pair): same value,
    # one fold per pair instead of three
    q = F.broadcast(
        queries.select(query_id, query_vec, _norm(F.col(query_vec)).alias("__qn"))
    )
    scored = (
        corpus.select(corpus_id, corpus_vec, _norm(F.col(corpus_vec)).alias("__cn"))
        .crossJoin(q)
        .select(
            query_id,
            corpus_id,
            (
                _dot(F.col(corpus_vec), F.col(query_vec)) / (F.col("__cn") * F.col("__qn"))
            ).alias("cosine"),
        )
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_pandas(
    corpus: DataFrame,
    queries_pdf: pd.DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Vectorized brute force: one numpy GEMM per Arrow batch.

    ``queries_pdf`` is a driver-side pandas frame (query sets are small);
    it ships to executors inside the closure — the Spark equivalent of a
    broadcast dim. Per-partition partial top-k keeps the shuffle tiny:
    only k rows per (partition, query) reach the final window.
    """
    import numpy as np

    qids = queries_pdf[query_id].to_numpy()
    qmat = np.stack(queries_pdf[query_vec].to_numpy()).astype("float64")  # Q x d
    qnorm = np.linalg.norm(qmat, axis=1)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[corpus_vec].to_numpy()).astype("float64")  # N x d
            norms = np.linalg.norm(mat, axis=1)
            cos = (mat @ qmat.T) / np.outer(norms, qnorm)  # N x Q
            n_keep = min(k, cos.shape[0])
            # partial top-k per query within this batch
            idx = np.argpartition(-cos, n_keep - 1, axis=0)[:n_keep]  # k x Q
            out = {
                query_id: np.repeat(qids, n_keep),
                corpus_id: pdf[corpus_id].to_numpy()[idx].T.ravel(),
                "cosine": np.take_along_axis(cos, idx, axis=0).T.ravel(),
            }
            yield pd.DataFrame(out)

    id_type = dict(corpus.dtypes)[corpus_id]
    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score, schema=f"{query_id} long, {corpus_id} {id_type}, cosine double"
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_signature(vec, planes: list[list[float]]):
    """Sign-bit LSH signature (long) for one embedding column vs fixed planes."""
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(float(x)) for x in plane])) >= 0, 1).otherwise(0)
        for plane in planes
    ]
    return F.aggregate(
        F.array(*[b.cast("long") for b in bits]),
        F.lit(0).cast("long"),
        lambda acc, bit: acc * 2 + bit,
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (driver-side constants)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def fit_centroids(mat, n_cells: int, max_iter: int, seed: int):
    """Seeded numpy Lloyd's k-means over a driver-side sample matrix.

    Factored out of :func:`ivf_index` so an oracle harness can reproduce
    the EXACT centroids by feeding it the same sample rows in the same
    order — the fit is pure, seeded numpy, so the output is bit-identical
    across callers. ``n_cells`` is clamped to the sample size.

    Init is k-means++ (D² sampling, Arthur & Vassilvitskii 2007): uniform
    random init left well-separated planted clusters unsplit on ~half the
    seeds (two seeds land in one blob → Lloyd's never escapes the local
    minimum), and at IVF scale an unsplit cluster is a mega-cell that
    turns the probe-side equi-join into a skew hotspot. D² seeding picks
    each next center proportional to squared distance from the chosen
    set, so dense far-apart regions each get a center; pinned by the
    planted-truth recovery test across seeds.
    """
    import numpy as np

    if len(mat) == 0:
        raise ValueError("fit_centroids: no vectors to fit on")
    n_cells = min(n_cells, len(mat))
    rng = np.random.default_rng(seed)
    first = int(rng.integers(len(mat)))
    chosen = [first]
    d2min = ((mat - mat[first]) ** 2).sum(1)
    for _ in range(1, n_cells):
        total = d2min.sum()
        if total <= 0.0:  # all remaining points coincide with a center
            nxt = int(rng.integers(len(mat)))
        else:
            nxt = int(rng.choice(len(mat), p=d2min / total))
        chosen.append(nxt)
        d2min = np.minimum(d2min, ((mat - mat[nxt]) ** 2).sum(1))
    cent = mat[chosen]  # C x d
    for _ in range(max_iter):
        # squared L2 via the expansion — one GEMM per iteration
        d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ cent.T) + (cent * cent).sum(1)[None, :]
        assign = d2.argmin(1)
        new = np.array(
            [mat[assign == c].mean(0) if (assign == c).any() else cent[c] for c in range(n_cells)]
        )
        if np.allclose(new, cent):
            cent = new
            break
        cent = new
    return cent


def centroid_sq_norms(centroids: list[list[float]]) -> list[float]:
    """Left-fold ‖c‖² per centroid — plain python floats so the SAME
    double literals can be embedded in both the Spark plan and a SQL
    oracle replay."""
    out = []
    for cvec in centroids:
        acc = 0.0
        for x in cvec:
            acc += float(x) * float(x)
        out.append(acc)
    return out


def nearest_cell_expr(vec, centroids: list[list[float]], vnorm2=None):
    """Engine-portable nearest-centroid assignment as a pure column
    expression. Per-cell d² uses the expansion ‖v‖² − 2·v·c + ‖c‖² with
    the dot product folded in ELEMENT ORDER (`zip_with` + `aggregate`) and
    ‖c‖² a shared python-float literal — one fold per cell instead of a
    subtract-square fold, and ‖v‖² (pass a precomputed column via
    ``vnorm2`` to fold it once per row, not once per cell). argmin via
    ``array_min`` over (d², cell) structs (tie → lowest cell id).
    Bit-identical to a SQL replay that folds the same literals in the same
    order — the property the GEMM pandas-UDF path cannot give (BLAS
    accumulation order differs from a left fold)."""
    if vnorm2 is None:
        vnorm2 = F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    structs = []
    for c, (cvec, c2) in enumerate(zip(centroids, centroid_sq_norms(centroids))):
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        d2 = vnorm2 - F.lit(2.0) * dot + F.lit(c2)
        structs.append(F.struct(d2.alias("d2"), F.lit(c).alias("cell")))
    return F.array_min(F.array(*structs)).cell


def nearest_cell_sql(
    vec_sql: str, vnorm2_sql: str, centroids: list[list[float]]
) -> str:
    """The Spark-SQL text of :func:`nearest_cell_expr` — identical
    expression semantics (element-order folds, struct-min tie-break on
    the lowest cell id), built as one string so it parses JVM-side in a
    single call instead of thousands of py4j Column round trips.
    ``vec_sql``/``vnorm2_sql`` are SQL fragments naming the vector and
    its precomputed ‖v‖² column."""

    def dlit(x: float) -> str:
        return repr(float(x)) + "D"

    structs = []
    for ci, (cvec, c2) in enumerate(zip(centroids, centroid_sq_norms(centroids))):
        arr = "array(" + ", ".join(dlit(x) for x in cvec) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr}, "
            f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )
        structs.append(
            f"named_struct('d2', {vnorm2_sql} - 2.0D * {dot} + {dlit(c2)}, "
            f"'cell', {ci})"
        )
    return f"array_min(array({', '.join(structs)})).cell"


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    max_iter: int = 20,
    seed: int = 42,
    corpus_vec: str = "embedding",
    fit_sample: int = 100_000,
    order_col: str | None = None,
    assign: str = "gemm",
    sample_vectors: list | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Build an IVF coarse quantizer: (cell-tagged corpus, centroid list).

    The quantizer is FIT on a driver-collected sample (≤ ``fit_sample``
    vectors) with seeded numpy Lloyd's iterations — coarse-quantizer
    fitting is O(sample · cells · dim) and needs no cluster; this is the
    same sample-fit design FAISS and every production IVF index uses, and
    it replaces a multi-job pyspark.ml KMeans fit whose per-iteration job
    overhead dwarfs the math at any sample size. The full corpus is never
    collected: cell ASSIGNMENT is distributed and map-only. At 100 TB,
    writing the corpus partitioned/bucketed BY cell makes every later
    probe a partition-pruned scan instead of a full-corpus filter.

    ``order_col``: when given, the fit sample is the first ``fit_sample``
    rows by that (unique) column — deterministic AND replayable by an
    external oracle (plain ``ORDER BY col LIMIT n``). Default orders by a
    content hash: layout-independent without needing any id column.

    ``assign``: 'gemm' (default) tags cells with an Arrow-batched pandas
    UDF, one numpy GEMM per batch — the production path. 'fold' uses
    :func:`nearest_cell_expr` — pure column expressions whose float
    accumulation order an external SQL engine can replay bit-exactly;
    prefer it when the assignment itself must be verifiable.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # Deterministic fit sample (a bare limit() takes whichever
    # partitions answer first — biased on clustered layouts, unstable
    # between runs). Both forms are distributed partial top-k sorts.
    # ``sample_vectors`` short-circuits the collect so a caller fitting
    # BOTH an IVF quantizer and PQ codebooks (the IVF-PQ funnel) pays for
    # one sample job, not two.
    if sample_vectors is not None:
        mat = np.array(sample_vectors, dtype="float64")
    else:
        sample_src = corpus.select(F.col(corpus_vec).alias("__v"), *( [F.col(order_col)] if order_col else [] ))
        if order_col is not None:
            sample = sample_src.orderBy(order_col).limit(fit_sample).collect()
        else:
            sample = (
                sample_src
                .withColumn("__h", F.xxhash64(F.to_json(F.col("__v").cast("array<double>"))))
                .orderBy("__h")
                .limit(fit_sample)
                .collect()
            )
        mat = np.array([r["__v"] for r in sample], dtype="float64")  # S x d
    if len(mat) == 0:
        raise ValueError("ivf_index: corpus has no vectors to fit on")
    cent = fit_centroids(mat, n_cells, max_iter, seed)
    n_cells = len(cent)

    if assign == "fold":
        # ‖v‖² in its own projection so the 16 per-cell d² expressions
        # reference one computed column (CollapseProject keeps non-cheap
        # aliases referenced many times out-of-line). The argmin itself is
        # ONE parsed SQL string — semantically identical to
        # nearest_cell_expr (same folds, same element order, same
        # struct-min tie-break), but composing n_cells fold Columns
        # through py4j costs ~1000 driver round trips where the parse
        # path is one call (same optimization as pq_encode's fold).
        vn2 = F.aggregate(
            F.transform(F.col(corpus_vec), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        tagged = (
            corpus.withColumn("__vn2", vn2)
            .withColumn(
                "cell",
                F.expr(nearest_cell_sql(f"`{corpus_vec}`", "__vn2", cent.tolist())),
            )
            .drop("__vn2")
        )
        return tagged, cent.tolist()

    cent_sq = (cent * cent).sum(1)

    @pandas_udf("int")
    def nearest_cell(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype("float64")
        d2 = (m * m).sum(1)[:, None] - 2.0 * (m @ cent.T) + cent_sq[None, :]
        return pd.Series(d2.argmin(1))

    tagged = corpus.withColumn(
        "cell", nearest_cell(F.col(corpus_vec).cast("array<double>"))
    )
    return tagged, cent.tolist()


def ivf_topk(
    tagged_corpus: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k by cosine, scoring only ``nprobe`` cells per query.

    Candidate volume is ~``nprobe / n_cells`` of the corpus; the
    (query × cell) routing table is tiny and broadcast, so the only big
    operation is an equi-join on ``cell`` — shuffle-free when the corpus
    is already partitioned by cell (see :func:`ivf_index`).
    """
    n_cells = len(centroids)
    nprobe = min(nprobe, n_cells)
    cent = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    # rank cells by cosine(query, centroid): explode the centroid list per
    # query (Q x n_cells rows — tiny), window top-nprobe
    routed = (
        queries.select(query_id, query_vec, F.posexplode(cent).alias("cell", "__c"))
        .withColumn(
            "__cell_cos",
            _dot(F.col(query_vec), F.col("__c")) / (_norm(F.col(query_vec)) * _norm(F.col("__c"))),
        )
        .withColumn(
            "__cell_rank",
            F.row_number().over(
                W.partitionBy(query_id).orderBy(F.desc("__cell_cos"), F.col("cell"))
            ),
        )
        .filter(F.col("__cell_rank") <= nprobe)
        .select(query_id, query_vec, "cell")
    )
    cand = tagged_corpus.join(F.broadcast(routed), "cell")
    scored = cand.select(
        query_id,
        corpus_id,
        (
            _dot(F.col(corpus_vec), F.col(query_vec))
            / (_norm(F.col(corpus_vec)) * _norm(F.col(query_vec)))
        ).alias("cosine"),
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    multi_probe: bool = True,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus rows sharing the query's LSH
    bucket (plus hamming-1 probe buckets when ``multi_probe``)."""
    n_planes = len(planes)
    tagged_corpus = corpus.select(
        corpus_id, corpus_vec, hyperplane_signature(F.col(corpus_vec), planes).alias("bucket")
    )
    qsig = queries.select(
        query_id, query_vec, hyperplane_signature(F.col(query_vec), planes).alias("qbucket")
    )
    if multi_probe:
        probes = F.array(
            F.col("qbucket"),
            *[F.col("qbucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
        )
        qsig = qsig.select(query_id, query_vec, F.explode(probes).alias("qbucket"))

    cand = tagged_corpus.join(
        F.broadcast(qsig), tagged_corpus["bucket"] == qsig["qbucket"]
    )
    scored = cand.select(
        query_id,
        corpus_id,
        (
            _dot(F.col(corpus_vec), F.col(query_vec))
            / (_norm(F.col(corpus_vec)) * _norm(F.col(query_vec)))
        ).alias("cosine"),
    ).dropDuplicates([query_id, corpus_id])
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    tagged: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    method: str = "gemm",
) -> DataFrame:
    """SemDeDup over a cell-tagged corpus: (id, cell, is_kept) — drop every
    vector that is ≥ ``threshold``-cosine-similar to a LOWER-id vector in
    its cell. Cells (from :func:`ivf_index`) bound the quadratic: the n²
    never materializes, which is the entire SemDeDup point.

    ``method='gemm'`` (default, the production path): ``applyInPandas``
    per cell — each cell becomes ONE Arrow batch and one numpy
    ``X @ X.T``, so the within-cell m² pairs cost a BLAS matmul instead of
    m²·dim interpreted lambda evaluations. The 10x scale sweep measured
    the per-pair higher-order-function fold at alpha≈1.5 (74 s at 10x);
    the GEMM path restores the design's linear scaling — with n_cells
    grown proportionally to the corpus (constant expected occupancy),
    per-cell work is constant and cell count carries the scale.

    ``method='fold'``: pure column expressions folding the cosine in
    element order — bit-replayable by an external SQL oracle (same
    rationale as ``ivf_index(assign='fold')``); the shape the correctness
    gate certifies, at interpreted-evaluation cost.
    """
    if method == "fold":
        block = tagged.select(
            id_col, vec_col, cell_col, _norm(F.col(vec_col)).alias("__n")
        )
        a = block.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col(cell_col).alias("cell_a"), F.col("__n").alias("na"),
        )
        b = block.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col(cell_col).alias("cell_b"), F.col("__n").alias("nb"),
        )
        cosine = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        drops = (
            a.join(
                b,
                (F.col("cell_a") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")),
            )
            .filter(cosine >= threshold)
            .select(F.col("id_b").alias(id_col))
            .distinct()
            .withColumn("__dropped", F.lit(1))
        )
        return (
            block.select(id_col, cell_col)
            .join(drops, id_col, "left")
            .select(
                id_col, cell_col, F.col("__dropped").isNull().alias("is_kept")
            )
        )

    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
        norms = np.linalg.norm(x, axis=1)
        norms[norms == 0.0] = 1.0
        x = x / norms[:, None]
        g = x @ x.T
        # is_kept[j] = no i < j with cos(i, j) >= thr: strictly-upper mask
        hit = np.triu(g >= thr, k=1)
        kept = ~hit.any(axis=0)
        return pd.DataFrame(
            {id_col: pdf[id_col], cell_col: pdf[cell_col], "is_kept": kept}
        )

    out_schema = f"{id_col} long, {cell_col} int, is_kept boolean"
    return (
        tagged.select(id_col, vec_col, cell_col)
        .groupBy(cell_col)
        .applyInPandas(dedup_cell, schema=out_schema)
    )


def quantize_embeddings_int8(
    corpus: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: (id, qvec array<int>, scale).

    The standard 4x storage/IO compression for embedding corpora at 100 TB
    (faiss SQ8 / Milvus SQ8 design): q = floor(x/scale + 0.5) with
    scale = max|x| / 127, so values land in [-127, 127] and dequantization
    is q·scale. floor(+0.5) is used instead of round() deliberately —
    explicit half-up rounding is bit-identical across engines, while
    round()'s half-case convention differs between them. Map-only column
    expressions; reconstruction error is bounded by scale/2 per component.
    """
    v = F.col(corpus_vec)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    return corpus.select(
        corpus_id,
        corpus_vec,
        scale.alias("scale"),
    ).select(
        corpus_id,
        F.transform(
            F.col(corpus_vec),
            lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast("int"),
        ).alias("qvec"),
        "scale",
    )


# ---------------------------------------------------------------------------
# Product quantization (FAISS IVF-PQ's compression half): split each
# vector into m subvectors, k-means each subspace into n_codes codewords,
# store only the m code ids — dim·4 bytes shrinks to m bytes (64-dim
# float32 → 8 bytes at m=8: 32x). Queries score compressed vectors via
# ADC (asymmetric distance computation): per query, an m × n_codes table
# of exact subvector distances is built once, and each corpus vector's
# distance is m table lookups — no decompression. Jégou, Douze, Schmid,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011.
# ---------------------------------------------------------------------------


def pq_fit(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    max_iter: int = 20,
    seed: int = 42,
    corpus_vec: str = "embedding",
    fit_sample: int = 100_000,
    order_col: str | None = None,
    sample_vectors: list | None = None,
) -> list[list[list[float]]]:
    """Fit per-subspace PQ codebooks on a driver-side sample (same
    deterministic sampling contract as :func:`ivf_index`: ``order_col``
    makes the sample ORDER BY col LIMIT n — replayable by an external
    oracle). Returns ``m`` codebooks of ``n_codes`` centroids each
    (python float lists, embeddable as literals). Codebook ``j`` is fit
    with ``seed + j`` so subspaces draw independent initializations.
    """
    import numpy as np

    if sample_vectors is not None:
        mat = np.array(sample_vectors, dtype="float64")
    else:
        sample_src = corpus.select(
            F.col(corpus_vec).alias("__v"),
            *([F.col(order_col)] if order_col else []),
        )
        if order_col is not None:
            sample = sample_src.orderBy(order_col).limit(fit_sample).collect()
        else:
            sample = (
                sample_src.withColumn(
                    "__h", F.xxhash64(F.to_json(F.col("__v").cast("array<double>")))
                )
                .orderBy("__h")
                .limit(fit_sample)
                .collect()
            )
        mat = np.array([r["__v"] for r in sample], dtype="float64")
    if len(mat) == 0:
        raise ValueError("pq_fit: corpus has no vectors to fit on")
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        fit_centroids(mat[:, j * sub : (j + 1) * sub], n_codes, max_iter, seed + j)
        .tolist()
        for j in range(m)
    ]


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    corpus_vec: str = "embedding",
    assign: str = "gemm",
) -> DataFrame:
    """Add a ``codes`` column (``array<int>``, length m): each vector's
    per-subspace nearest codeword. ``assign='gemm'`` is the production
    path (Arrow-batched pandas UDF, one GEMM per subspace per batch);
    ``'fold'`` uses pure column expressions whose float accumulation
    order an external SQL engine can replay (the oracle path — and the
    equivalence test pins gemm == fold).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    m = len(codebooks)
    sub = len(codebooks[0][0])
    if assign == "fold":
        # One parsed SQL expression instead of m × n_codes py4j-composed
        # Columns: building 128 fold Columns costs ~4 s of driver-side
        # py4j round trips; the equivalent SQL string parses JVM-side in
        # one call. Identical expression semantics (same folds, same
        # element order, same struct-min tie-break) — pinned by the
        # oracle replay and the gemm==fold test.
        pre = corpus
        for j in range(m):
            pre = pre.withColumn(
                f"__sv{j}", F.slice(F.col(corpus_vec), j * sub + 1, sub)
            ).withColumn(
                f"__vn{j}",
                F.aggregate(
                    F.transform(
                        F.col(f"__sv{j}"),
                        lambda x: x.cast("double") * x.cast("double"),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )

        def dlit(x: float) -> str:
            return repr(float(x)) + "D"

        code_exprs = []
        for j in range(m):
            structs = []
            for ci, (code, c2) in enumerate(
                zip(codebooks[j], centroid_sq_norms(codebooks[j]))
            ):
                arr = "array(" + ", ".join(dlit(x) for x in code) + ")"
                dot = (
                    f"aggregate(zip_with(__sv{j}, {arr}, "
                    f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, "
                    f"(acc, v) -> acc + v)"
                )
                structs.append(
                    f"named_struct('d2', __vn{j} - 2.0D * {dot} + {dlit(c2)}, "
                    f"'cell', {ci})"
                )
            code_exprs.append(f"array_min(array({', '.join(structs)})).cell")
        scratch = [f"__sv{j}" for j in range(m)] + [f"__vn{j}" for j in range(m)]
        return pre.withColumn(
            "codes", F.expr("array(" + ", ".join(code_exprs) + ")")
        ).drop(*scratch)

    books = np.array(codebooks, dtype="float64")  # m x k x sub
    books_sq = (books * books).sum(2)  # m x k

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype("float64")  # B x dim
        out = np.empty((len(mat), m), dtype="int32")
        for j in range(m):
            s = mat[:, j * sub : (j + 1) * sub]
            d2 = (
                (s * s).sum(1)[:, None]
                - 2.0 * (s @ books[j].T)
                + books_sq[j][None, :]
            )
            out[:, j] = d2.argmin(1)
        return pd.Series(list(out))

    return corpus.withColumn(
        "codes", encode(F.col(corpus_vec).cast("array<double>"))
    )


def adc_tables(
    codebooks: list[list[list[float]]], query_vecs: list[list[float]]
) -> list[list[list[float]]]:
    """Per-query ADC lookup tables: ``tables[q][j][code]`` = exact squared
    L2 distance between query q's j-th subvector and that codeword. Pure
    python-float arithmetic (no BLAS) so the SAME double literals embed in
    both the Spark plan and a SQL oracle replay."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = []
    for qv in query_vecs:
        per_q = []
        for j in range(m):
            qs = [float(x) for x in qv[j * sub : (j + 1) * sub]]
            row = []
            for code in codebooks[j]:
                acc = 0.0
                for a, b in zip(qs, code):
                    d = a - float(b)
                    acc += d * d
                row.append(acc)
            per_q.append(row)
        out.append(per_q)
    return out


def _adc_inline_sql(
    queries: list[tuple], tables: list[list[list[float]]], m: int
) -> str:
    """The per-query ADC scorer as ONE SQL expression: ``inline()`` over
    an array of (query_id, adc_d2) structs, parsed JVM-side in a single
    call. Building the same thing as |queries| py4j-composed Columns
    costs ~0.2 s of driver round trips PER QUERY (measured: 50 queries =
    12 s serve latency, almost all plan construction) — the identical
    optimization pq_encode's fold path already uses. Same fold order
    (left-associative ``+`` in subspace order) and the same
    repr-roundtrip double literals, so results are bit-identical."""

    def dlit(x: float) -> str:
        return repr(float(x)) + "D"

    structs = []
    for (qid, _), per_q in zip(queries, tables):
        terms = []
        for j in range(m):
            arr = "array(" + ", ".join(dlit(x) for x in per_q[j]) + ")"
            terms.append(f"element_at({arr}, codes[{j}] + 1)")
        structs.append(
            f"named_struct('query_id', CAST({int(qid)} AS BIGINT), "
            f"'adc_d2', {' + '.join(terms)})"
        )
    return "inline(array(" + ", ".join(structs) + "))"


def _adc_scores_gemm(encoded: DataFrame, queries: list[tuple],
                     tables: list, m: int, extra_cols: list[str]) -> DataFrame:
    """Arrow-batched ADC scoring (the production serve path): one numpy
    gather-sum per batch computes ALL queries' distances for every row
    (``d2[b, q] = Σ_j T[q, j, codes[b, j]]``), then one ``posexplode``
    lands (query_id, adc_d2) rows. Accumulation order matches the fold
    form exactly (j ascending, left-associative; the leading ``0.0 +`` is
    exact), so results are bit-identical to :func:`_adc_inline_sql` —
    pinned by test. Batch cost is BLAS-free numpy indexing, independent
    of the |queries| × plan-size costs the literal forms pay."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    T = np.asarray(tables, dtype="float64")  # Q x m x n_codes
    qids = [int(q) for q, _ in queries]

    @pandas_udf("array<double>")
    def score(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy()).astype("int64")  # B x m
        out = np.zeros((C.shape[0], T.shape[0]))
        for j in range(m):
            out += T[:, j, :][:, C[:, j]].T  # B x Q
        return pd.Series(list(out))

    qid_arr = "array(" + ", ".join(f"CAST({q} AS BIGINT)" for q in qids) + ")"
    return (
        encoded.withColumn("__d2s", score(F.col("codes")))
        .select(*extra_cols, F.posexplode("__d2s").alias("__qi", "adc_d2"))
        .withColumn("query_id", F.expr(f"element_at({qid_arr}, __qi + 1)"))
        .drop("__qi")
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple],
    k: int = 10,
    corpus_id: str = "vec_id",
    method: str = "fold",
) -> DataFrame:
    """Top-k nearest corpus vectors per query by ADC distance over PQ
    codes. ``queries`` is a driver-side list of ``(query_id, vector)`` —
    the bounded broadcast query set, same contract as the brute-force
    baseline. Scoring is m ``element_at`` lookups per (row, query) summed
    in subspace order (engine-replayable), one explode to (row, query)
    granularity, then a per-query top-k window. Returns
    (query_id, vec_id, adc_d2, rank).

    Scale: the corpus is never collected or decompressed; candidate
    volume is |corpus| × |queries| cheap lookups. Compose with an IVF
    cell filter for the full IVF-PQ funnel (route queries to cells, ADC
    only within them).
    """
    tables = adc_tables(codebooks, [qv for _, qv in queries])
    m = len(codebooks)
    if method == "gemm":
        exploded = _adc_scores_gemm(encoded, queries, tables, m, [corpus_id])
    else:
        exploded = encoded.selectExpr(
            corpus_id, _adc_inline_sql(queries, tables, m)
        )
    w = W.partitionBy("query_id").orderBy("adc_d2", corpus_id)
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", corpus_id, "adc_d2", F.col("rank").cast("long").alias("rank"))
    )


def pq_adc_rerank_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: list[tuple],
    k: int = 10,
    k_cand: int = 50,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """The standard PQ retrieval pipeline: ADC over compressed codes
    generates ``k_cand`` candidates per query (cheap table lookups over
    the whole corpus), then EXACT distances re-rank only the candidates —
    recall approaches brute force while full-precision work is
    O(queries × k_cand), not O(queries × corpus). Returns
    (query_id, vec_id, exact_d2, rank).

    Scale: stage 1 never decompresses; stage 2 touches ``k_cand`` vectors
    per query (a semi-join against the candidate ids, then one small
    Arrow batch of exact math).
    """
    cand = pq_adc_topk(
        encoded, codebooks, queries, k=k_cand, corpus_id=corpus_id
    ).select("query_id", corpus_id)
    return exact_rerank(
        cand, encoded.select(corpus_id, corpus_vec), queries,
        k=k, corpus_id=corpus_id, corpus_vec=corpus_vec,
    )


def exact_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: list[tuple],
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact-distance re-rank of ``candidates`` (query_id, corpus_id
    pairs): join back to the raw vectors and score one Arrow batch of
    ``(v - q)²`` per partition — full-precision work is O(|candidates|),
    never O(corpus). The shared tail of every ANN funnel's recall knob
    (PQ/ADC candidates, persisted-index probes). Returns
    (query_id, corpus_id, exact_d2, rank)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    qmap = {int(qid): np.asarray(qv, dtype="float64") for qid, qv in queries}

    @pandas_udf("double")
    def exact_d2(vecs: pd.Series, qids: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype("float64")
        qm = np.stack([qmap[int(q)] for q in qids.to_numpy()])
        return pd.Series(((mat - qm) ** 2).sum(1))

    joined = candidates.select("query_id", corpus_id).join(
        corpus.select(corpus_id, corpus_vec), corpus_id
    ).withColumn(
        "exact_d2",
        exact_d2(F.col(corpus_vec).cast("array<double>"), F.col("query_id")),
    )
    w = W.partitionBy("query_id").orderBy("exact_d2", corpus_id)
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", corpus_id, "exact_d2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def route_queries_python(
    centroids: list[list[float]],
    queries: list[tuple],
    nprobe: int,
) -> list[tuple]:
    """Nearest-``nprobe`` cells per query by squared L2, computed in pure
    python left-folds (no BLAS) so an external SQL engine folding the same
    literals in the same order ranks cells bit-identically. Driver-side
    O(queries × cells × dim) — the query set is bounded, the corpus is
    never touched. Returns (query_id, cell) pairs."""
    sq = centroid_sq_norms(centroids)
    out = []
    for qid, qv in queries:
        vn = 0.0
        for x in qv:
            vn += float(x) * float(x)
        ds = []
        for ci, (cvec, c2) in enumerate(zip(centroids, sq)):
            dot = 0.0
            for a, b in zip(qv, cvec):
                dot += float(a) * float(b)
            ds.append((vn - 2.0 * dot + c2, ci))
        ds.sort()
        out.extend((int(qid), ci) for _, ci in ds[:nprobe])
    return out


def ivfpq_topk(
    encoded_tagged: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: list[tuple],
    k: int = 10,
    nprobe: int = 6,
    corpus_id: str = "vec_id",
    method: str = "fold",
) -> DataFrame:
    """The full FAISS IVF-PQ funnel: route each query to its ``nprobe``
    nearest IVF cells, then score ONLY those cells' vectors by ADC over
    the PQ codes — candidate volume drops from |corpus| × |queries| to
    ~(nprobe/n_cells) × |corpus| × |queries|, and no vector is ever
    decompressed. ``encoded_tagged`` carries both ``cell``
    (:func:`ivf_index`) and ``codes`` (:func:`pq_encode`).

    The probed-cell filter is a broadcast semi-join on (query_id, cell) —
    at 100 TB with the corpus written partitioned by cell, it prunes
    partitions before the scan. Returns (query_id, vec_id, adc_d2, rank).
    """
    tables = adc_tables(codebooks, [qv for _, qv in queries])
    m = len(codebooks)
    spark = encoded_tagged.sparkSession
    routed = spark.createDataFrame(
        route_queries_python(centroids, queries, nprobe),
        "query_id LONG, cell INT",
    )
    if method == "gemm":
        exploded = _adc_scores_gemm(
            encoded_tagged, queries, tables, m, [corpus_id, "cell"]
        )
    else:
        exploded = encoded_tagged.selectExpr(
            corpus_id, "cell", _adc_inline_sql(queries, tables, m)
        )
    probed = exploded.join(
        F.broadcast(routed), ["query_id", "cell"], "inner"
    )
    w = W.partitionBy("query_id").orderBy("adc_d2", corpus_id)
    return (
        probed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", corpus_id, "adc_d2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def fit_pca(mat, k: int):
    """Deterministic PCA fit on a driver-side sample matrix (round 10;
    X41 — the dimensionality-reduction step embedding pipelines run
    before clustering/visualization, same fit-bounded/apply-distributed
    shape as the IVF/PQ quantizers).

    Returns ``(mean, components, explained_variance)`` as plain python
    lists. Pure numpy (covariance + ``eigh``), so an oracle harness
    feeding the same sample rows in the same order reproduces the exact
    literals. ``eigh``'s eigenvector SIGN is arbitrary — each component
    is sign-fixed so its largest-|magnitude| element is positive, making
    the fit output deterministic, not merely consistent-per-call.
    """
    import numpy as np

    if len(mat) < 2:
        raise ValueError("fit_pca: need at least 2 sample vectors")
    mean = mat.mean(axis=0)
    centered = mat - mean
    cov = (centered.T @ centered) / (len(mat) - 1)
    w, v = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:k]
    comps = []
    for i in order:
        c = v[:, i]
        j = int(np.abs(c).argmax())
        if c[j] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return (
        [float(x) for x in mean],
        comps,
        [float(w[i]) for i in order],
    )


def pca_project(
    df: DataFrame,
    vec_col: str,
    mean: list,
    components: list,
    prefix: str = "pc",
) -> DataFrame:
    """Map-only PCA projection: ``pc_i = dot(x, comp_i) - dot(mean,
    comp_i)``. Components and the mean-dot constants are broadcast
    literals inside the expression (the LSH plane-dot shape, whose
    cross-engine fold parity is already pinned), so the projection is
    pure whole-stage codegen — no shuffle, no UDF, O(rows × k × dim).
    """
    cols = list(df.columns)
    out = df
    for i, comp in enumerate(components, start=1):
        const = float(sum(m * c for m, c in zip(mean, comp)))
        arr = F.array(*[F.lit(float(x)) for x in comp])
        out = out.withColumn(
            f"{prefix}{i}", _dot(F.col(vec_col), arr) - F.lit(const)
        )
    return out.select(
        *cols, *[f"{prefix}{i}" for i in range(1, len(components) + 1)]
    )
