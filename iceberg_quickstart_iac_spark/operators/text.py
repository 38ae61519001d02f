"""Text analysis for training-data pipelines (SURVEY §2.13 X4).

Everything here is built-in column expressions (JVM-side, whole-stage
codegen) — no Python in the hot path. At 100 TB these are embarrassingly
parallel map-only stages: no shuffle at all until an aggregation is asked
for.

Operators:

- :func:`normalize_text` — canonical form for content-hash dedup;
- :func:`token_count` / :func:`word_tokens` — whitespace + BPE-ish regex
  tokenization;
- :func:`fingerprint` — 64-bit content fingerprint (xxhash64 of the
  normalized text) and :func:`content_md5`;
- :func:`language_id` — stopword/charset heuristic language guess;
- :func:`quality_score` — composite [0,1] heuristic (length, alpha ratio,
  punctuation density, mean token length, repetition).
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

#: BPE-ish pretokenizer: word pieces or single non-space symbols
TOKEN_REGEX = r"\w+|[^\w\s]"

#: small per-language stopword seeds for the n-gram heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "auf", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans", "que", "une", "des"],
    "es": ["el", "la", "los", "de", "que", "es", "para", "con", "una", "por"],
}

_CJK_PATTERN = "[\\u4e00-\\u9fff]"


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, trim — canonical dedup form."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column | str, mode: str = "whitespace") -> Column:
    """Token count: 'whitespace' split or 'bpe' (regex word/symbol pieces)."""
    c = F.col(col) if isinstance(col, str) else col
    if mode == "whitespace":
        return F.size(F.split(F.trim(c), r"\s+"))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), 0))
    raise ValueError(f"Unknown token_count mode: {mode!r}")


def fingerprint(col: Column | str) -> Column:
    """64-bit content fingerprint of the normalized text."""
    return F.xxhash64(normalize_text(col))


def content_md5(col: Column | str) -> Column:
    """Hex MD5 of the normalized text (cross-engine-stable dedup key)."""
    return F.md5(normalize_text(col))


def language_id(col: Column | str, tokens: Column | None = None) -> Column:
    """Heuristic language guess over {en, de, fr, es, zh, unknown}.

    CJK-dominant text → zh; otherwise the language whose stopword seed set
    overlaps the token set most (ties → lexicographic, deterministic);
    no overlap at all → 'unknown'. All codegen-able array ops, zero UDFs —
    no higher-order functions, which would drop the whole projection out of
    whole-stage codegen and re-evaluate the tokenize subtree per element.

    Pass a pre-materialized ``tokens`` column (:func:`word_tokens`) when
    calling in a hot path so normalization+split runs once per row.
    """
    c = F.col(col) if isinstance(col, str) else col
    if tokens is None:
        tokens = word_tokens(c)
    # count-by-length-delta: no per-match array materialization
    n_cjk = F.length(c) - F.length(F.regexp_replace(c, _CJK_PATTERN, ""))

    scores = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in words]))).alias(
                    "score"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    # array_max on struct = max by (score, then lang): same tie-break as before
    best = F.array_max(scores)
    latin_guess = F.when(best.score > 0, best.lang).otherwise(F.lit("unknown"))
    return F.when(n_cjk * 2 > F.length(c) / 4, F.lit("zh")).otherwise(latin_guess)


#: text-level PII patterns (applied in order). Kept to constructs shared by
#: Java regex and RE2 (no lookaround) so DuckDB oracles can replay them.
#: The phone pattern allows only SINGLE-character separators between digit
#: groups, so a match can never bridge a sentence boundary ("in 2024. 555
#: 123 4567" redacts only the number, not the year and everything between —
#: the earlier pattern's flaw). Known, accepted collision: dash-separated dates
#: (2024-01-02) are phone-shaped and get redacted.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\+?(?:\d{7,15}|\(?\d{1,4}\)?(?:[\s.-]\(?\d{2,4}\)?){2,4})"),
]


def redact_pii(col: Column | str, token: str = "[PII]") -> Column:
    """Replace email / SSN / phone-shaped spans with ``token``.

    The text-level complement of column-level governance (access.py drops
    whole PII columns; this scrubs PII embedded inside free text before it
    enters a training corpus). Pure regexp_replace chain — map-only,
    codegen-friendly, no UDFs.
    """
    c = F.col(col) if isinstance(col, str) else col
    for _, pat in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (column name → count expression)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        f"n_{name}": F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat in PII_PATTERNS
    }


def chunk_text(
    df,
    id_col: str,
    text_col: str,
    chunk_chars: int = 256,
    overlap: int = 64,
):
    """Split documents into fixed-width overlapping character chunks — the
    standard pre-tokenization step of a training-data pipeline (context
    windows with overlap so no boundary-spanning content is lost).

    One output row per (doc, chunk_idx) with columns ``chunk_idx`` (0-based)
    and ``chunk``. stride = chunk_chars − overlap; a doc of length L yields
    max(1, ceil((L − overlap) / stride)) chunks. Pure JVM expressions
    (sequence + explode + substr): map-only, no shuffle, embarrassingly
    parallel at any scale.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be smaller than chunk_chars")
    stride = chunk_chars - overlap
    c = F.col(text_col)
    n_chunks = F.greatest(
        F.ceil((F.length(c) - F.lit(overlap)) / float(stride)).cast("long"), F.lit(1).cast("long")
    )
    exploded = df.select(
        id_col,
        text_col,
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.col(text_col).substr(
        (F.col("chunk_idx") * stride + 1).cast("int"), F.lit(chunk_chars)
    )
    return exploded.select(id_col, "chunk_idx", chunk.alias("chunk"))


def pack_context_windows(
    chunks,
    budget_chars: int,
    id_col: str = "doc_id",
    idx_col: str = "chunk_idx",
    size_col: str = "n_chars",
    n_shards: int | None = None,
):
    """Assign chunks to fixed-budget training windows by running-total
    bucketing — the streaming form of sequence packing: each chunk lands in
    the bin its preceding cumulative size dictates, so bins overflow by at
    most one chunk (the standard online-packing bound) and the assignment
    is fully deterministic given the (id, idx) order.

    ``n_shards`` is the parallelism knob: one window sort runs per shard.
    It defaults to the cluster's default parallelism so packing scales with
    the executor count (a fixed shard count would cap a 1000-executor job
    at that many concurrent sorts); pass an explicit value when the shard
    assignment itself must be replayable (e.g. the catalog query pins 8 so
    its SQL oracle can recompute ``doc_id % 8``).

    Returns one row per chunk: (shard, id, idx, size, win_id).
    """
    if n_shards is None:
        n_shards = chunks.sparkSession.sparkContext.defaultParallelism
    w = (
        Window.partitionBy(F.col(id_col) % n_shards)
        .orderBy(id_col, idx_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return chunks.select(
        (F.col(id_col) % n_shards).alias("shard"),
        id_col,
        idx_col,
        size_col,
        F.floor(
            F.coalesce(F.sum(size_col).over(w), F.lit(0)) / budget_chars
        ).alias("win_id"),
    )


def repetition_signals(df, id_col: str = "doc_id", text_col: str = "text"):
    """Gopher-style per-document repetition quality signals.

    Returns one row per input document with:

    - ``n_lines`` — non-empty (trimmed) line count;
    - ``dup_line_frac`` — fraction of lines belonging to a line value that
      occurs more than once in the document, the classic boilerplate
      detector;
    - ``dup_line_char_frac`` — fraction of line characters contained in
      lines occurring more than once (catches a short nav-bar repeated 100×
      that a line-count fraction underweights);
    - ``top_bigram_frac`` — occurrences of the most frequent word bigram
      over total bigrams (catches "buy now buy now buy now" spam).

    These are the duplicate-line / duplicate-n-gram filters from the Gopher
    (Rae et al. 2021, §A1.1) and C4 cleaning heuristics. Scale shape: two
    explode→groupBy branches keyed by (doc, line) / (doc, bigram) — partial
    aggregation collapses per-doc repeats map-side, the final shuffle is on
    the document key only, and no per-doc state ever exceeds the doc's own
    line/token count. Every emitted fraction is a SINGLE division of two
    exact integers, so the values are bit-identical across engines.
    """
    did = F.col(id_col)
    lines = (
        df.select(id_col, F.explode(F.split(F.col(text_col), "\n")).alias("raw_line"))
        .select(id_col, F.trim(F.col("raw_line")).alias("line"))
        .filter(F.col("line") != "")
    )
    per_line = lines.groupBy(id_col, "line").agg(
        F.count(F.lit(1)).alias("c"),
        (F.count(F.lit(1)) * F.length("line")).alias("ch"),
    )
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("c").alias("n_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup_lines"),
        F.sum(F.when(F.col("c") > 1, F.col("ch")).otherwise(F.lit(0))).alias("dup_chars"),
        F.sum("ch").alias("tot_chars"),
    )

    toks = df.select(
        id_col, F.posexplode(word_tokens(text_col)).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    nxt = F.lead("tok").over(w)
    bigrams = (
        toks.select(
            id_col,
            F.when(nxt.isNotNull(), F.concat_ws(" ", F.col("tok"), nxt)).alias("bg"),
        )
        .filter(F.col("bg").isNotNull())
    )
    bg_counts = bigrams.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("c"))
    bg_stats = bg_counts.groupBy(id_col).agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_bigrams")
    )

    base = df.select(id_col)
    zero = F.lit(0.0)
    return (
        base.join(line_stats, id_col, "left")
        .join(bg_stats, id_col, "left")
        .select(
            did,
            F.coalesce(F.col("n_lines"), F.lit(0)).cast("long").alias("n_lines"),
            F.when(
                F.col("n_lines") > 0, F.col("dup_lines") / F.col("n_lines")
            ).otherwise(zero).alias("dup_line_frac"),
            F.when(
                F.col("tot_chars") > 0, F.col("dup_chars") / F.col("tot_chars")
            ).otherwise(zero).alias("dup_line_char_frac"),
            F.when(
                F.col("n_bigrams") > 0, F.col("top_c") / F.col("n_bigrams")
            ).otherwise(zero).alias("top_bigram_frac"),
        )
    )


def quality_score(col: Column | str) -> Column:
    """Composite document-quality heuristic in [0, 1].

    Blends: reasonable length (50-10k chars), alphabetic ratio, punctuation
    density, mean token length in [3, 12], and distinct-token ratio
    (repetition penalty). Weights are convention, not science — the point is
    the *shape*: a pure column expression a filter can push down.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    tokens = word_tokens(c)
    n_tokens = F.size(tokens)

    len_ok = F.when((n_chars >= 50) & (n_chars <= 10000), 1.0).otherwise(
        F.least(n_chars / 50.0, F.lit(1.0))
    )
    alpha_ratio = (n_chars - F.length(F.regexp_replace(c, "[A-Za-z]", ""))) / F.greatest(
        n_chars, F.lit(1)
    )
    punct_ratio = (n_chars - F.length(F.regexp_replace(c, "[.,!?;:]", ""))) / F.greatest(
        n_chars, F.lit(1)
    )
    punct_ok = F.when(punct_ratio <= 0.1, 1.0).otherwise(F.lit(0.2))
    mean_tok_len = n_chars / F.greatest(n_tokens, F.lit(1))
    tok_len_ok = F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 1.0).otherwise(F.lit(0.3))
    distinct_ratio = F.size(F.array_distinct(tokens)) / F.greatest(n_tokens, F.lit(1))

    return (
        0.25 * len_ok + 0.25 * alpha_ratio + 0.15 * punct_ok + 0.15 * tok_len_ok
        + 0.20 * distinct_ratio
    )


def corpus_df_rarity(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 50_000,
):
    """Corpus-statistics document scoring: per-doc token count and the sum
    of corpus document frequencies of its tokens — the frequency-based
    quality signal of CCNet-style filtering (docs dominated by ubiquitous
    tokens score high df_sum/n_tokens; rare-token-heavy docs score low),
    expressed integer-exact so an external oracle hash-matches (a learned
    LM perplexity would need model weights; corpus df is its
    engine-portable proxy).

    Scale shape: token df aggregates with map-side combine (one shuffle);
    the vocabulary is capped to the ``top_k`` most frequent tokens via a
    distributed top-k (per-partition heaps — no single-partition sort),
    which bounds the broadcast at any corpus size; tokens outside the cap
    take df=1 (the rare floor). The scoring join is then broadcast —
    map-only over the exploded tokens."""
    tok = _spread_tokens(docs, id_col, text_col)
    vocab = (
        tok.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__df"))
        .orderBy(F.desc("__df"), F.col("__t"))
        .limit(top_k)
    )
    return (
        tok.join(F.broadcast(vocab), "__t", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("__df"), F.lit(1))).cast("long").alias("df_sum"),
        )
    )


def _spread_tokens(docs, id_col: str, text_col: str):
    """One row per (doc, token), fanned out to full parallelism first."""
    from iceberg_quickstart_iac_spark.operators.dedup import _spread

    return _spread(docs, id_col).select(
        F.col(id_col), F.explode(word_tokens(F.col(text_col))).alias("__t")
    )


def bigram_novelty(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
) -> DataFrame:
    """Corpus-LM quality proxy (the integer-exact cousin of CCNet's
    wiki-LM perplexity filter): per doc, how many of its token bigrams
    are COMMON in the corpus (total occurrences >= ``min_df``) vs NOVEL.
    A high novel share flags word salad, boilerplate mutations, and
    generator junk; a near-zero share flags copy-paste. Integer counts
    only — no float log-prob sums whose addition order would break
    cross-engine oracle hashes.

    Returns ``(id, n_bigrams, n_common, n_novel)``; docs with fewer than
    two tokens emit no row.

    Scale shape: one explode to ``(doc, bigram)`` (map-only), one
    bigram-count aggregate (map-side combine), one equi-join back on the
    bigram (rows = total bigram occurrences — never more than the
    explode; ultra-common bigrams are skewed KEYS, which AQE's skew-join
    split handles), one per-doc aggregate. No window, no driver state.
    """
    toks = df.select(id_col, word_tokens(text_col).alias("__t")).filter(
        F.size("__t") >= 2
    )
    bg = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__t) - 1), "
                "i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))"
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("__c"))
    return (
        bg.join(cnt, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("__c") >= min_df, 1).otherwise(0)).alias(
                "n_common"
            ),
            F.sum(F.when(F.col("__c") < min_df, 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )


def remove_boilerplate_lines(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope_col: str | None = None,
    min_df: int = 2,
    broadcast: bool | None = None,
):
    """Line-level boilerplate removal (round 9; the CCNet/RefinedWeb
    cleaning stage): a non-blank line appearing in >= ``min_df`` DISTINCT
    documents (within ``scope_col`` — typically the crawl source, since
    navigation/footer boilerplate is site-specific) is dropped from every
    document; remaining lines reassemble in their original order. Blank
    lines never count toward document frequency and are always kept, so
    paragraph structure survives.

    Returns ``(id, [scope], text_clean, n_lines, n_removed)`` — one row
    per INPUT document (a document whose every line was boilerplate
    yields an empty ``text_clean``, not a missing row).

    Scale shape: one line explode (O(total lines)), one (scope, line)
    groupBy with map-side partial countDistinct, then the removal is a
    LEFT ANTI join against the BOILERPLATE set only. The boilerplate
    set's size is bounded by total_lines / min_df, which at the DEFAULT
    ``min_df=2`` over a 100 TB crawl is billions of rows — NOT
    broadcastable — so by default (``broadcast=None``) the join carries
    no hint: Catalyst's size stats broadcast the set while it is small
    and AQE re-plans at runtime (its localShuffleReader broadcast
    conversion when the aggregated set lands under the threshold; its
    skew-join split when the shuffled anti-join keys on ubiquitous
    lines). ``broadcast=True`` forces the hint for callers that BOUND
    the set themselves (a high ``min_df`` percentage threshold, or a
    per-scope top-K cap); ``broadcast=False`` pins the shuffle path.

    min_df guidance for large corpora: an absolute ``min_df=2`` is a
    small-corpus setting. At crawl scale use a per-scope fraction
    (CCNet-style: a line in >60% of a site's pages) or at least
    ``min_df`` in the hundreds, which both shrinks the boilerplate set
    toward true nav/footer lines and keeps false positives (two
    documents legitimately sharing a sentence) out.

    Reassembly is one groupBy(id) with an in-aggregate ``array_sort``
    by line position — no window, no global sort.
    """
    scope = [scope_col] if scope_col else []
    lines = df.select(
        F.col(id_col),
        *[F.col(c) for c in scope],
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    nonblank = F.trim(F.col("__line")) != ""
    boiler = (
        lines.filter(nonblank)
        .groupBy(*scope, "__line")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select(*scope, "__line")
    )
    if broadcast is True:
        boiler = F.broadcast(boiler)
    elif broadcast is False:
        boiler = boiler.hint("shuffle_hash")
    kept = lines.join(boiler, [*scope, "__line"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.expr(
            "concat_ws('\\n', transform(array_sort("
            "collect_list(struct(__pos, __line))), x -> x.__line))"
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    totals = lines.groupBy(id_col, *scope).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            *scope,
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
            "n_lines",
            (
                F.col("n_lines") - F.coalesce(F.col("__n_kept"), F.lit(0))
            ).alias("n_removed"),
        )
    )
