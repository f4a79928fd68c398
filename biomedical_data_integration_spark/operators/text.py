"""Text-analysis operators for corpus pipelines.

Training-data-pipeline extensions (BASELINE.json north-star): language ID,
quality scoring, token counting, document fingerprinting. Every operator
is a pure built-in-expression projection over the documents table — no
shuffle, no Python, linear scans that hold at any scale.
"""

from __future__ import annotations

import math

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.functions.strings import (
    word_ngrams_strict,
)
from biomedical_data_integration_spark.session import local_frame

# Tiny high-frequency stopword lists per language. Order matters: argmax
# ties resolve in this (alphabetical) order for determinism.
STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "for", "with"],
    "es": ["el", "la", "los", "las", "es", "de", "que", "en", "un", "una", "por"],
    "fr": ["le", "la", "les", "est", "de", "que", "en", "un", "une", "et", "dans"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of lowercased text, empties dropped."""
    return F.filter(
        F.split(F.lower(F.trim(text)), "\\s+"), lambda t: F.length(t) > 0
    )


def detect_language(
    df: DataFrame, text_col: str = "text", out_col: str = "detected_lang"
) -> DataFrame:
    """Heuristic n-gram/stopword language ID.

    Score per language = #tokens in its stopword list; argmax wins,
    alphabetical tiebreak; all-zero -> 'und' (undetermined, BCP-47).

    Staged projections: the token array and the per-language hit counts
    are materialized as real columns, because inlined they'd be
    re-evaluated at every reference (the argmax chain reads each count up
    to 3x, and each count re-reads the tokens — tokenization would run
    ~12x per row; CollapseProject keeps non-cheap multiply-referenced
    aliases in their own projection).
    """
    toks_df = df.withColumn("__toks", tokens_expr(F.col(text_col)))
    hit_cols = {}
    for lang in sorted(STOPWORDS):
        words = F.lit(list(STOPWORDS[lang])).cast("array<string>")
        hit_cols[f"__hit_{lang}"] = F.size(
            F.filter(F.col("__toks"), lambda t: F.array_contains(words, t))
        )
    hits_df = toks_df.withColumns(hit_cols)
    hits = {lang: F.col(f"__hit_{lang}") for lang in sorted(STOPWORDS)}
    best = F.greatest(*hits.values())
    # argmax, alphabetical tiebreak: first language reaching the max wins
    chain = None
    for lang in sorted(STOPWORDS):
        step = F.when(hits[lang] == best, F.lit(lang))
        chain = step if chain is None else chain.when(hits[lang] == best, F.lit(lang))
    return hits_df.withColumn(
        out_col, F.when(best <= 0, F.lit("und")).otherwise(chain)
    ).drop("__toks", *hit_cols)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    Features (all pure expressions): char count, token count, mean token
    length, alpha ratio, digit ratio, punct ratio, stopword ratio,
    distinct-token ratio. Composite score = weighted sum of normalized
    features — a deterministic heuristic in the C4/Gopher-rules spirit.
    """
    text = F.col(text_col)
    # single array literal: a CreateArray of ~hundreds of string
    # literals is re-constructed on every interpreted lambda call
    # (once per token) — a Literal returns its cached value (round-12)
    all_stop = F.lit(
        [w for ws in STOPWORDS.values() for w in ws]
    ).cast("array<string>")
    # stage the token array and every O(tokens) count as real columns —
    # inlined, each of the ~10 references below would re-tokenize the text
    staged = df.withColumn("__toks", tokens_expr(text)).withColumns(
        {
            "__n_tokens": F.size(F.col("__toks")),
            "__n_distinct": F.size(F.array_distinct(F.col("__toks"))),
            "__stop_hits": F.size(
                F.filter(F.col("__toks"), lambda t: F.array_contains(all_stop, t))
            ),
        }
    )
    n_chars = F.length(text)
    n_tokens = F.col("__n_tokens")
    n_distinct = F.col("__n_distinct")
    stop_hits = F.col("__stop_hits")
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", ""))
    digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    punct = F.length(F.regexp_replace(text, "[^.,;:!?'\"()\\[\\]{}-]", ""))

    mean_tok_len = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digit / n_chars).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    distinct_ratio = F.when(n_tokens > 0, n_distinct / n_tokens).otherwise(F.lit(0.0))

    # length factor: saturating ramp to 1.0 at >= 20 tokens
    length_factor = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    score = (
        0.3 * alpha_ratio
        + 0.2 * length_factor
        + 0.2 * distinct_ratio
        + 0.2 * F.least(stop_ratio * 4.0, F.lit(1.0))
        + 0.1 * (1.0 - F.least(digit_ratio + punct_ratio, F.lit(1.0)))
    )
    r = lambda c: F.round(c, config.SIMILARITY_SCALE)  # noqa: E731
    return staged.select(
        *[F.col(c) for c in df.columns],
        n_tokens.alias("n_tokens"),
        r(mean_tok_len).alias("mean_token_len"),
        r(alpha_ratio).alias("alpha_ratio"),
        r(digit_ratio).alias("digit_ratio"),
        r(punct_ratio).alias("punct_ratio"),
        r(stop_ratio).alias("stopword_ratio"),
        r(distinct_ratio).alias("distinct_token_ratio"),
        r(score).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens and a BPE-ish subword estimate.

    The subword estimate charges ceil(len/4) units per word (the familiar
    ~4-chars-per-token rule) — a deterministic, vocabulary-free stand-in
    for a real tokenizer, adequate for budget accounting in pipelines.
    """
    staged = df.withColumn("__toks", tokens_expr(F.col(text_col)))
    toks = F.col("__toks")
    ws = F.size(toks)
    bpe = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("bigint"),
    )
    return staged.select(
        *[F.col(c) for c in df.columns], ws.alias("ws_tokens"), bpe.alias("bpe_tokens_est")
    )


def document_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 5,
) -> DataFrame:
    """Content fingerprint: min md5 over word-5-gram shingles (a winnowing-
    style selection of one representative shingle hash). Documents sharing
    a fingerprint almost surely share a 5-word span; cheap join key for
    coarse near-dup grouping. Returns (id, fingerprint)."""
    from biomedical_data_integration_spark.functions.strings import word_ngrams

    # materialize the token array first — word_ngrams references its input
    # ~4x and once per shingle slice, so an inlined tokenize is O(len ·
    # n_shingles) per document (same fix as dedup.shingle_sets)
    staged = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("__toks")
    )
    shingles = word_ngrams(F.col("__toks"), shingle_words)
    fp = F.array_min(F.transform(shingles, lambda s: F.md5(s)))
    return staged.select("id", fp.alias("fingerprint"))


def corpus_vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
    min_doc_freq: int = 1,
) -> DataFrame:
    """Corpus-level vocabulary: the ``top_k`` terms by term frequency with
    document frequencies — the input to tokenizer training, stopword
    derivation, and idf tables.

    One explode + one hash-groupBy (both map-side combinable: partial
    counts per partition, the shuffle carries one row per distinct term
    per partition, not per token occurrence), then a global top-k via
    TakeOrderedAndProject (no full sort at the driver). Ties break
    alphabetically for determinism.

    Returns (term, tf, df) — tf = total occurrences, df = #documents.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    )
    terms = toks.select(
        "__doc", F.explode(F.col("__toks")).alias("term")
    )
    counts = terms.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.count_distinct("__doc").alias("df"),
    )
    return (
        counts.where(F.col("df") >= min_doc_freq)
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(top_k)
    )


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexical-diversity scores: type-token ratio, root TTR
    (Guiraud), and Herdan's C — the corpus-health signals that catch
    degenerate/templated documents a raw token count misses (TTR
    collapses on keyword-stuffed spam even when length looks fine).

    Pure expression projection over the shared tokenizer (no shuffle,
    no UDF): ``ttr = V/N``, ``root_ttr = V/sqrt(N)``, ``herdan_c =
    ln(V)/ln(N)`` with V = distinct tokens, N = tokens; all NULL for
    empty documents, herdan_c NULL when N = 1 (ln 1 = 0). Quantized to
    6 like every scored projection in this module.

    Returns ``(id_col, n_tokens, n_types, ttr, root_ttr, herdan_c)``.
    """
    staged = df.select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks").cast("bigint")
    v = F.size(F.array_distinct("__toks")).cast("bigint")
    nd = n.cast("double")
    vd = v.cast("double")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.select(
        id_col,
        n.alias("n_tokens"),
        v.alias("n_types"),
        F.when(n > 0, q6(vd / nd)).alias("ttr"),
        F.when(n > 0, q6(vd / F.sqrt(nd))).alias("root_ttr"),
        F.when(n > 1, q6(F.log(vd) / F.log(nd))).alias("herdan_c"),
    )


def chao1_richness(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate: how many distinct terms the
    corpus WOULD show at infinite sampling — the coverage readout that
    says whether a crawl has saturated its domain's vocabulary (term
    accumulation still climbing => keep crawling).

    Bias-corrected Chao1 (Chao '84/'87): ``V + f1·(f1-1) / (2·(f2+1))``
    with V = observed distinct terms, f1/f2 = terms seen exactly
    once/twice — defined even when f2 = 0. Also reports Good-Turing
    sample coverage ``1 - f1/N``. Integer inputs, one double readout
    each, floor-quantized to 6.

    Returns one row ``(n_tokens, n_types, f1, f2, chao1, coverage)``.

    Scale shape: one scan -> term-count groupBy (map-side combinable,
    distinct-term keys) -> one aggregate; no sort, no window.
    """
    terms = df.select(
        F.explode(tokens_expr(F.col(text_col))).alias("__t")
    )
    counts = terms.groupBy("__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    agg = counts.agg(
        F.coalesce(F.sum("__c"), F.lit(0).cast("bigint")).alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.coalesce(
            F.sum((F.col("__c") == 1).cast("bigint")), F.lit(0).cast("bigint")
        ).alias("f1"),
        F.coalesce(
            F.sum((F.col("__c") == 2).cast("bigint")), F.lit(0).cast("bigint")
        ).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao1 = F.col("n_types").cast("double") + f1 * (f1 - 1) / (
        F.lit(2.0) * (f2 + 1)
    )
    cov = F.lit(1.0) - f1 / F.col("n_tokens").cast("double")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_tokens",
        "n_types",
        "f1",
        "f2",
        q6(chao1).alias("chao1"),
        F.when(F.col("n_tokens") > 0, q6(cov)).alias("coverage"),
    )


# PII patterns kept to syntax valid in both Java regex (Spark) and RE2-ish
# engines (DuckDB): no backrefs, no lookbehind.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(\+?[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
}
PII_ORDER = ("email", "ssn", "ipv4", "phone")  # most-specific first


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted_text",
    kinds: tuple = PII_ORDER,
) -> DataFrame:
    """Mask PII spans with ``[KIND]`` tokens — the privacy-scrubbing stage
    of a corpus pipeline (emails, SSNs, IPv4s, phone numbers).

    A chain of built-in ``regexp_replace`` calls (JVM codegen, no UDF, no
    shuffle — scales as a pure map). Order matters: most-specific patterns
    run first so an SSN isn't half-eaten by the phone pattern. The pattern
    set is deliberately engine-portable (no backrefs/lookaround) so the
    operator is oracle-checkable in ANSI SQL.
    """
    expr = F.col(text_col)
    for kind in kinds:
        expr = F.regexp_replace(expr, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return df.withColumn(out_col, expr)


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition signals (Gopher-style quality rules): duplicate-line
    fraction and top-token dominance.

    - ``dup_line_ratio``: 1 - distinct_lines / lines (0 when ≤1 line)
    - ``top_token_ratio``: occurrences of the most frequent token /
      total tokens (0 when empty)

    Pure expression pipeline over staged arrays (no shuffle): lines =
    split on newline (trimmed, empties dropped); token mode via a
    fold over the distinct-token array.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    staged = df.select(
        F.col(id_col).alias("id"),
        lines.alias("__lines"),
        tokens_expr(F.col(text_col)).alias("__toks"),
    )
    n_lines = F.size(F.col("__lines"))
    n_dlines = F.size(F.array_distinct(F.col("__lines")))
    line_feats = staged.select(
        "id",
        n_lines.alias("n_lines"),
        F.when(n_lines > 1, 1.0 - n_dlines.cast("double") / n_lines)
        .otherwise(F.lit(0.0))
        .alias("__dlr"),
    )
    # per-doc token mode via explode + two map-side-combinable hash aggs —
    # an array-HOF mode would be O(distinct·tokens) per document, hostile
    # to long documents; this stays linear and fully distributed
    tok_feats = (
        staged.select("id", F.explode(F.col("__toks")).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("__c"))
        .groupBy("id")
        .agg(F.max("__c").alias("__top"), F.sum("__c").alias("__n"))
        .select(
            "id", (F.col("__top").cast("double") / F.col("__n")).alias("__ttr")
        )
    )
    r = lambda c: F.round(c, config.SIMILARITY_SCALE)  # noqa: E731
    return (
        line_feats.join(tok_feats, "id", "left")
        .select(
            "id",
            "n_lines",
            r(F.col("__dlr")).alias("dup_line_ratio"),
            r(F.coalesce(F.col("__ttr"), F.lit(0.0))).alias("top_token_ratio"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 128,
    overlap: int = 0,
    tokens_fn=None,
) -> DataFrame:
    """Split documents into fixed-size token windows — the chunking stage
    of RAG/embedding/training pipelines (each chunk feeds an embedder or a
    training example; not in the reference, which never segments text).

    Windows start every ``chunk_tokens - overlap`` tokens; the final
    window may be short. A window whose content would be a pure suffix of
    the previous window (everything past its start already covered by the
    overlap) is NOT emitted — standard sliding-window semantics, no
    duplicated training content. Pure per-row expressions (token array
    staged once, ``posexplode`` over window starts) — no shuffle, no
    Python; linear in output size at any scale. Empty documents yield no
    chunks.

    Returns (id, chunk_idx, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    # tokenizer seam: tokens_fn is Column -> Column(array<string>), so a
    # real subword tokenizer (e.g. a batched pandas-UDF BPE encoder) drops
    # in without touching the windowing logic; default is whitespace
    tok = tokens_fn or tokens_expr
    staged = df.select(
        F.col(id_col).alias("id"), tok(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # A start st > 0 only adds content if the document extends more than
    # `overlap` tokens past it (n - st > overlap); cap the sequence at
    # n - overlap - 1 (keeping start 0 for short docs).
    starts = F.when(
        n > 0,
        F.sequence(
            F.lit(0), F.greatest(F.lit(0), n - overlap - 1), F.lit(step)
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda st: F.struct(
            F.array_join(F.slice(toks, st + 1, chunk_tokens), " ").alias("t"),
            F.least(F.lit(chunk_tokens), n - st).alias("k"),
        ),
    )
    return (
        staged.select("id", F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            "id",
            "chunk_idx",
            F.col("c.t").alias("chunk_text"),
            F.col("c.k").alias("n_tokens"),
        )
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget_tokens: int = 512,
    buckets: int = 64,
    tokens_fn=None,
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins — the packing
    stage that turns a corpus into dense fixed-length training sequences
    (concat-then-split semantics: a document is placed at its stream
    offset; one that crosses a budget boundary spans bins, exactly like
    concatenating the stream and cutting every ``budget_tokens``).

    Scale shape: documents are hashed into ``buckets`` independent
    streams, so the only shuffle is a window sort WITHIN each bucket —
    parallelism = buckets, no global sort, no sequential driver loop (the
    textbook greedy first-fit packer is inherently serial; per-bucket
    prefix sums are the distributed equivalent with the same density).
    Stream order is a deterministic md5 of the id (partition- and
    run-stable). ``buckets`` must be a power of two ≤ 4096 so the bucket
    assignment stays portable to any SQL oracle (md5 low-nibble mod).

    Returns (id, n_tokens, bucket, bin, bin_offset): ``bin`` is the
    global sequence index (bucket-local prefix-sum div budget), and
    ``bin_offset`` the document's token offset inside its bin.
    """
    if buckets < 1 or (buckets & (buckets - 1)) or buckets > 4096:
        raise ValueError("buckets must be a power of two in [1, 4096]")
    # same tokenizer seam as chunk_documents (real BPE counts drop in)
    tok = tokens_fn or tokens_expr
    staged = df.select(
        F.col(id_col).alias("id"), tok(F.col(text_col)).alias("__toks")
    ).select("id", F.size("__toks").cast("bigint").alias("n_tokens"))
    h = F.md5(F.concat(F.lit("pk|"), F.col("id").cast("string")))
    nib = lambda p: F.conv(F.substring(h, p, 1), 16, 10).cast("int")  # noqa: E731
    bucket = (nib(30) * 256 + nib(31) * 16 + nib(32)) % buckets
    keyed = staged.select("id", "n_tokens", bucket.alias("bucket"), h.alias("__ord"))
    w = Window.partitionBy("bucket").orderBy("__ord", "id")
    excl = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("bigint"),
    )
    return (
        keyed.withColumn("__excl", excl)
        .select(
            "id",
            "n_tokens",
            "bucket",
            F.floor(F.col("__excl") / budget_tokens).alias("bin"),
            (F.col("__excl") % budget_tokens).alias("bin_offset"),
        )
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram surprisal against the corpus's own
    unigram distribution — the standard cheap stand-in for LM-perplexity
    quality filtering (documents full of rare tokens score high; boilerplate
    scores low).

    surprisal(doc) = mean over token OCCURRENCES of -log10(tf(term)/total).

    Plan shape: one explode feeding two map-side-combinable aggregations
    (term counts; the scalar total is a 1-row aggregate broadcast via
    cross join), one equi-join of occurrences onto term counts (the only
    corpus-sized shuffle), then a per-document average. No driver state —
    the unigram table stays distributed and Catalyst/AQE picks broadcast
    vs shuffle join by its actual size.

    Returns (id, n_tokens, mean_surprisal).
    """
    occurrences = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("__toks")
    ).select("id", F.explode(F.col("__toks")).alias("term"))
    counts = occurrences.groupBy("term").agg(F.count("*").alias("__tf"))
    total = counts.agg(F.sum("__tf").cast("double").alias("__total"))
    scored = (
        occurrences.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(-F.log10(F.col("__tf") / F.col("__total"))),
                config.SIMILARITY_SCALE,
            ).alias("mean_surprisal"),
        )
    )
    return scored


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document line dedup — the boilerplate-removal stage (repeated
    nav/footer/quote lines inside one document; cf. the line-level rules in
    C4/RefinedWeb-style cleaning). Keeps the FIRST occurrence of each line,
    preserving order; pure per-row expressions (``split`` +
    ``array_distinct``, which is order-preserving), no shuffle, no Python.

    Returns (id, text, n_lines, n_unique_lines) with ``text`` rebuilt from
    the surviving lines.
    """
    lines = F.split(F.col(text_col), "\n")
    uniq = F.array_distinct(lines)
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(uniq, "\n").alias("text"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(uniq).cast("bigint").alias("n_unique_lines"),
    )


def encode_token_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 200,
    oov_id: int = -1,
) -> DataFrame:
    """Corpus-fitted token-id encoding: build the top-``vocab_size``
    vocabulary (count desc, token asc — fully deterministic ranks, ids are
    0-based ranks) in one distributed aggregation, then map every document
    to its id sequence via a broadcast map literal — per-row transform, no
    per-doc shuffle, OOV tokens get ``oov_id``.

    This is the tokenize→ids stage of a training pipeline with the corpus
    itself as the (unigram) vocabulary; a real subword vocab drops in by
    replacing the fitted map. The vocabulary collect is ``vocab_size``
    rows — driver-safe by construction.

    Returns (id, n_tokens, token_ids array<int>).
    """
    toks_df = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("__toks")
    )
    counts = (
        toks_df.select(F.explode("__toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("__n"))
    )
    # orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    # partial top-k, never a single-partition global sort (a global-window
    # row_number would move every distinct token to one task); rank
    # assignment happens on the collected vocab_size rows
    top = (
        counts.orderBy(F.desc("__n"), F.asc("token"))
        .limit(vocab_size)
        .collect()
    )
    mapping = F.create_map(
        *[x for i, r in enumerate(top) for x in (F.lit(r["token"]), F.lit(i))]
    ) if top else F.create_map()
    ids = F.transform(
        F.col("__toks"),
        lambda t: F.coalesce(
            F.element_at(mapping, t), F.lit(oov_id)
        ).cast("int"),
    )
    return toks_df.select(
        "id",
        F.size("__toks").cast("bigint").alias("n_tokens"),
        ids.alias("token_ids"),
    )


def classifier_score(
    df: DataFrame,
    weights: dict | None = None,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "clf_score",
) -> DataFrame:
    """Linear quality classifier over the :func:`quality_features` columns:
    ``sigmoid(bias + sum_f weights[f] * feature_f)`` — the seam where a
    TRAINED fasttext/logreg quality model's coefficients drop in (the
    engine ships a deterministic default so the stage is testable without
    model files). Pure expressions on top of the feature projection — one
    linear scan, no shuffle.

    Returns the input columns + n_tokens + the feature columns + out_col.
    """
    if weights is None:
        weights = {
            "alpha_ratio": 2.0,
            "stopword_ratio": 3.0,
            "distinct_token_ratio": 1.0,
            "digit_ratio": -2.0,
            "punct_ratio": -1.0,
        }
    feats = quality_features(df, text_col=text_col)
    bad = set(weights) - {
        "mean_token_len", "alpha_ratio", "digit_ratio", "punct_ratio",
        "stopword_ratio", "distinct_token_ratio", "n_tokens",
        "quality_score",
    }
    if bad:
        raise ValueError(f"Unknown feature(s) in weights: {sorted(bad)}")
    z = F.lit(float(bias))
    for feat, wgt in sorted(weights.items()):
        z = z + F.lit(float(wgt)) * F.col(feat)
    score = 1.0 / (1.0 + F.exp(-z))
    return feats.withColumn(
        out_col, F.round(score, config.SIMILARITY_SCALE)
    )


QUALITY_CLF_FEATURES = (
    "alpha_ratio",
    "digit_ratio",
    "distinct_token_ratio",
    "mean_token_len",
    "punct_ratio",
    "stopword_ratio",
)


def _tdiv(num: int, den: int) -> int:
    """Truncating integer division (sign * (|num| // den)) — floor
    division disagrees between engines on negatives, truncation does
    not (the pca_top_component discipline)."""
    q = abs(num) // den
    return -q if num < 0 else q


def _quality_clf_terms(weights_micro: dict, means_micro: dict) -> tuple:
    """Shared per-document expressions for one GD step / scoring pass:
    CENTERED micro-integer features (f - corpus mean; centering is what
    makes full-batch GD converge on these narrow-band ratio features),
    exact-integer logit accumulation, then ONE double division + sigmoid.
    Returns (p_micro bigint Column, centered-feature-micro Column dict)."""
    fc_micro = {
        f: F.floor(F.col(f) * 1_000_000.0 + 0.5).cast("bigint")
        - F.lit(int(means_micro[f])).cast("bigint")
        for f in QUALITY_CLF_FEATURES
    }
    z_m2 = F.lit(int(weights_micro["__bias__"])).cast("bigint") * F.lit(
        1_000_000
    ).cast("bigint")
    for f in QUALITY_CLF_FEATURES:  # fixed canonical order
        z_m2 = z_m2 + F.lit(int(weights_micro[f])).cast("bigint") * fc_micro[f]
    z = z_m2.cast("double") / F.lit(1.0e12)
    p = 1.0 / (1.0 + F.exp(-z))
    p_micro = F.floor(p * 1_000_000.0 + 0.5).cast("bigint")
    return p_micro, fc_micro


def qclf_training_state(
    df: DataFrame,
    label: "F.Column",
    text_col: str = "text",
) -> tuple:
    """Materialize the data statistics :func:`train_quality_classifier`
    needs — the pinned micro-quantized feature table, the exact integer
    corpus means, and the row count. Functions of (df, label) only, not
    of model state, so a warm-start continuation on the same batch can
    compute them once and pass the tuple to both train calls via
    ``state=`` (round-12 optimization). Returns ``(feats, means, n)``.
    """
    feats = (
        quality_features(df, text_col=text_col)
        .withColumn("__y", label.cast("bigint"))
        .select("__y", *QUALITY_CLF_FEATURES)
        .localCheckpoint(eager=True)
    )
    mrow = feats.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(
                F.floor(F.col(f) * 1_000_000.0 + 0.5).cast("decimal(38,0)")
            ).alias(f"__s_{f}")
            for f in QUALITY_CLF_FEATURES
        ],
    ).collect()[0]
    n = int(mrow["__n"])
    if n == 0:
        return feats, {}, 0
    # features are non-negative, so DIV truncation == floor: exact and
    # engine-agnostic
    means = {f: int(mrow[f"__s_{f}"]) // n for f in QUALITY_CLF_FEATURES}
    return feats, means, n


def train_quality_classifier(
    df: DataFrame,
    label: "F.Column",
    iters: int = 3,
    lr: float = 4.0,
    text_col: str = "text",
    init: Optional[dict] = None,
    state: Optional[tuple] = None,
) -> dict:
    """Train the :func:`classifier_score` weights IN-ENGINE: logistic
    regression over the :func:`quality_features` columns by
    fixed-iteration full-batch gradient descent — the fastText-style
    quality-filter trainer (CCNet / GPT-3 appendix A train a linear
    model on curated-vs-raw labels; ``label`` is any 0/1 int expression,
    e.g. a rules gate to distill or a curated-source flag).

    Determinism (the kmeans/pca integer discipline, so an ANSI-SQL
    oracle replays every round): features are 6-dp-rounded by
    quality_features, micro-quantized, and CENTERED on exact integer
    corpus means (sum DIV n — centering is what lets full-batch GD
    separate these narrow-band ratio features; without it the shared
    magnitude swamps the between-document differences); the logit
    accumulates as an EXACT bigint before ONE double division feeds the
    sigmoid; the sigmoid output re-quantizes to micro
    (floor(p*1e6+0.5)); gradient sums are integer products summed as
    decimal(38,0) — order-free, no float summation anywhere (and no
    bigint overflow at corpus scale: err*f products reach ~1e13 per
    row, so a 1e12-row corpus needs the 128-bit accumulator both
    engines provide); the weight update uses TRUNCATING division.
    Weights, means, and bias live in integer micro-units.

    Scale shape: the feature projection is computed once and pinned;
    the mean pass and each of ``iters`` rounds are ONE
    map-side-combinable aggregation of <= 8 integer sums over it
    (weights ride as literals, the kmeans centroid pattern). Nothing
    corpus-sized ever reaches the driver.

    Returns a model dict ``{"weights": {feature: w_micro},
    "bias": b_micro, "means": {feature: mean_micro}, "n": n}`` for
    :func:`score_quality_classifier`. For :func:`classifier_score`'s
    float interface fold the centering into the bias:
    ``bias = (b_micro - sum_f w_f*mean_f/1e6) / 1e6``,
    ``weights[f] = w_f/1e6``.

    Warm start (round-11 verdict item 5 — the incremental-ingestion
    story the persisted indexes gained, applied to training): pass a
    prior model dict (:func:`load_classifier` output) as ``init`` and
    GD resumes from its integer weights/bias as round 0 instead of
    zeros. GD state is exactly ``(w, bias)``, so on the SAME corpus
    and label, cold-K1 → save → load → warm-K2 equals one-shot
    K1+K2 training BIT-FOR-BIT (gated; the registry oracle IS the
    one-shot replay). On a NEW batch the centering means recompute
    from that batch (they are corpus statistics, not model state) —
    the standard fine-tune contract. ``state`` (a
    :func:`qclf_training_state` tuple for the SAME (df, label)) lets a
    same-session continuation skip rebuilding the pinned features and
    means — pure reuse of data statistics, bit-identical output."""
    if iters < 1:
        raise ValueError("train_quality_classifier: iters must be >= 1")
    lr_micro = int(math.floor(abs(float(lr)) * 1_000_000 + 0.5))
    if lr_micro == 0:
        raise ValueError("train_quality_classifier: lr too small")
    if state is not None:
        feats, means, n = state
    else:
        feats, means, n = qclf_training_state(
            df, label, text_col=text_col
        )
    if n == 0:
        raise ValueError("train_quality_classifier: empty input")
    if init is not None:
        missing = [f for f in QUALITY_CLF_FEATURES if f not in init["weights"]]
        if missing:
            raise ValueError(
                f"train_quality_classifier: init model lacks weights for "
                f"{missing}"
            )
        w = {f: int(init["weights"][f]) for f in QUALITY_CLF_FEATURES}
        w["__bias__"] = int(init["bias"])
    else:
        w = {f: 0 for f in QUALITY_CLF_FEATURES}
        w["__bias__"] = 0
    for _ in range(int(iters)):
        p_micro, fc_micro = _quality_clf_terms(w, means)
        err = p_micro - F.col("__y") * F.lit(1_000_000).cast("bigint")
        row = feats.agg(
            F.sum(err.cast("decimal(38,0)")).alias("__gb"),
            *[
                F.sum((err * fc_micro[f]).cast("decimal(38,0)")).alias(
                    f"__g_{f}"
                )
                for f in QUALITY_CLF_FEATURES
            ],
        ).collect()[0]
        for f in QUALITY_CLF_FEATURES:
            w[f] -= _tdiv(lr_micro * int(row[f"__g_{f}"]), n * 10**12)
        w["__bias__"] -= _tdiv(lr_micro * int(row["__gb"]), n * 10**6)
    return {
        "weights": {f: w[f] for f in QUALITY_CLF_FEATURES},
        "bias": w["__bias__"],
        "means": means,
        "n": n,
    }


HASHED_CLF_BUCKETS = 256


def _hclf_feature_arrays(
    df: DataFrame,
    n_buckets: int,
    text_col: str,
    id_col: str,
    carry: tuple = ("__y",),
) -> DataFrame:
    """TRAINING-side feature layout (round-12 optimization): ONE row per
    document carrying its hashed-unigram features as an
    ``array<struct<bucket:int, f:bigint>>`` — the bias entry (bucket -1,
    f = 1e6) appended last, so every document (token-less ones included)
    has a complete feature array.

    Bit-identical f values to the original (id, bucket, f) row-table
    layout this replaced in round 12 (same salted-md5
    bucket expression; the integer ratio computed via the exact
    remainder identity ``(cK - cK % nt) / nt`` — the numerator is
    divisible, so the one double division is exact), but built as a
    PURE PROJECTION: per document the token array maps to buckets,
    ``array_sort`` makes equal buckets adjacent, and one sequential
    fold tallies run lengths (the gopher_repetition run-length
    discipline) — no explode, no groupBy, no shuffle anywhere in the
    feature build. A GD round over this layout folds the logit
    per-row (zero shuffle) and ships only n_buckets+1 partial gradient
    cells through the one exchange — vs the row-table layout's
    full-feature-table shuffle per round."""
    from biomedical_data_integration_spark.functions.hashing import (
        md5_bigint,
    )

    # STAGED projections, not one select: the fold below references
    # ``nt`` twice per run-close and the bucket array once — inlined,
    # the tokenize (split+lower+trim+filter) would re-evaluate inside
    # every division of the CodegenFallback fold, O(distinct_buckets ·
    # tokenize) per document (the shingle_sets lesson; CollapseProject
    # keeps these projections separate because the aliases are
    # non-cheap and multiply-referenced)
    staged = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in carry],
        tokens_expr(F.col(text_col)).alias("__toks"),
    ).select(
        "id",
        *carry,
        F.size(F.col("__toks")).cast("bigint").alias("__nt"),
        F.array_sort(
            F.transform(
                F.col("__toks"),
                lambda t: (md5_bigint(t, salt="hclf") % n_buckets).cast(
                    "int"
                ),
            )
        ).alias("__bks"),
    )
    bks = F.col("__bks")
    nt = F.col("__nt")
    k_lit = F.lit(int(n_buckets) * 1_000_000).cast("bigint")

    def _f_of(c):
        ck = c * k_lit
        return ((ck - ck % nt) / nt).cast("bigint")

    pair_t = "array<struct<bucket:int,f:bigint>>"
    acc_t = (
        "struct<prev:int,run:bigint,out:array<struct<bucket:int,f:bigint>>>"
    )

    def step(acc, b):
        same = acc["prev"].eqNullSafe(b)
        closed = F.when(
            same | acc["prev"].isNull(),
            acc["out"],
        ).otherwise(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        acc["prev"].alias("bucket"),
                        _f_of(acc["run"]).alias("f"),
                    )
                ),
            )
        )
        return F.struct(
            b.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("bigint"))
            .alias("run"),
            closed.alias("out"),
        )

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        acc["prev"].alias("bucket"),
                        _f_of(acc["run"]).alias("f"),
                    )
                ),
            )
        )

    zero = F.named_struct(
        F.lit("prev"), F.lit(None).cast("int"),
        F.lit("run"), F.lit(0).cast("bigint"),
        F.lit("out"), F.lit([]).cast(pair_t),
    )
    pairs = F.aggregate(bks, zero.cast(acc_t), step, finish)
    bias_entry = F.array(
        F.struct(
            F.lit(-1).cast("int").alias("bucket"),
            F.lit(1_000_000).cast("bigint").alias("f"),
        )
    )
    return staged.select(
        "id",
        *carry,
        F.concat(F.coalesce(pairs, F.lit([]).cast(pair_t)), bias_entry)
        .alias("__feats"),
    )


def hclf_training_state(
    df: DataFrame,
    label: "F.Column",
    n_buckets: int = HASHED_CLF_BUCKETS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple:
    """Materialize the data statistics :func:`train_hashed_text_classifier`
    needs — the pinned per-document feature arrays, the per-bucket
    curvature bounds, and the document count. All three are functions of
    (df, label, n_buckets) only, NOT of model state, so a warm-start
    continuation on the same batch can compute them once and pass the
    tuple to both train calls via ``state=`` (round-12 optimization:
    the warm-start face otherwise pays the tokenize + feature build +
    curvature pass twice for bit-identical results). Returns
    ``(feats_df, h, n)``."""
    labeled = df.select(
        F.col(id_col), F.col(text_col), label.cast("bigint").alias("__y")
    )
    feats_df = _hclf_feature_arrays(
        labeled, n_buckets, text_col, id_col
    ).localCheckpoint(eager=True)
    # per-bucket curvature bound h_b = sum_d f^2 (micro^2) and the doc
    # count n (every doc has exactly one bias entry at bucket -1) in
    # ONE map-side-combinable aggregation over the pinned features
    hrows = (
        feats_df.select(F.explode("__feats").alias("e"))
        .groupBy(F.col("e.bucket").alias("bucket"))
        .agg(
            F.sum(
                (F.col("e.f") * F.col("e.f")).cast("decimal(38,0)")
            ).alias("h"),
            F.count(F.lit(1)).cast("bigint").alias("c"),
        )
        .collect()
    )
    h = {int(r["bucket"]): int(r["h"]) for r in hrows}
    n = next(
        (int(r["c"]) for r in hrows if int(r["bucket"]) == -1), 0
    )
    return feats_df, h, n


def train_hashed_text_classifier(
    df: DataFrame,
    label: "F.Column",
    n_buckets: int = HASHED_CLF_BUCKETS,
    iters: int = 4,
    lr: float = 200.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    init: Optional[dict] = None,
    state: Optional[tuple] = None,
) -> dict:
    """Logistic regression on HASHED-UNIGRAM frequency features — the
    fastText supervised shape (Joulin et al., 2017) trained in-engine:
    each token hashes to one of ``n_buckets`` buckets (salted md5 — no
    vocabulary to build or ship), a document's feature for bucket b is
    its mean bucket occupancy ``count_b / n_tokens`` (fastText's
    averaged bag), and the model is one weight per bucket — so it
    learns TOKEN-IDENTITY concepts that
    :func:`train_quality_classifier`'s six ratio features cannot
    express (topic gates, keyword balances, boilerplate markers).
    ``lr`` defaults high because the features are <= 1e6 micro-units
    with typical per-bucket mass ~1/n_buckets.

    Updates are DIAGONALLY PRECONDITIONED (Jacobi-Newton): each
    bucket's step divides by its own curvature bound
    ``h_b = sum_d f_db^2`` (computed once, exact integers) and the
    bias by ``n`` — plain GD on these features crawls, because bucket
    masses are wildly skewed and the per-document features are
    correlated (they sum to ~n_buckets), so one global step size
    either diverges along the common direction or moves rare buckets
    imperceptibly. With the preconditioner, ``lr=1`` steps each
    coordinate by its own least-squares-scaled gradient.

    Determinism (the quality twin's contract): features are exact
    integers (integer-division ratios), the logit accumulates as an
    exact bigint with ONE double division into the sigmoid, the
    sigmoid output re-quantizes to micro, gradients and curvatures
    are integer products summed as decimal(38,0), updates use
    truncating division with exact integer denominators. An ANSI-SQL
    oracle replays every round.

    Scale shape (round-12 optimization): the per-document feature
    ARRAYS — bias entry included at bucket -1 — are built as one pure
    projection (:func:`_hclf_feature_arrays`: tokenize → bucket map →
    array_sort → run-length fold, NO shuffle) and pinned; each of
    ``iters`` rounds is ONE job with zero data-sized shuffle: the
    logit folds per row (exact bigint, weights ride as literals — the
    kmeans centroid pattern), the error projects in place, and only
    n_buckets+1 partial gradient cells cross the one exchange (bias
    gradient riding the same groupBy as bucket -1). The previous
    (id, bucket, f) row-table layout shuffled the whole feature table
    through a groupBy(id) + two joins every round — measured 1.5 s vs
    0.35 s per round at sf0.1, identical integers.

    Returns ``{"weights": [w_micro]*n_buckets, "bias": b_micro,
    "n": n}`` for :func:`score_hashed_text_classifier`.

    Warm start: ``init`` (a :func:`load_classifier` model dict with
    array weights of length ``n_buckets``) resumes GD from its integer
    weights/bias — GD state is exactly ``(w, bias)``, and the
    curvature preconditioner recomputes from the current batch (it is
    a data statistic, not model state). On the same corpus and label,
    cold-K1 → save → load → warm-K2 equals one-shot K1+K2 training
    bit-for-bit (gated; the registry oracle IS the one-shot replay).
    ``state`` (a :func:`hclf_training_state` tuple for the SAME
    (df, label, n_buckets)) lets a same-session continuation skip
    rebuilding the pinned features and curvature — pure reuse of
    data statistics, bit-identical output.
    """
    if iters < 1:
        raise ValueError("train_hashed_text_classifier: iters must be >= 1")
    if n_buckets < 2:
        raise ValueError(
            "train_hashed_text_classifier: n_buckets must be >= 2"
        )
    lr_micro = int(math.floor(abs(float(lr)) * 1_000_000 + 0.5))
    if lr_micro == 0:
        raise ValueError("train_hashed_text_classifier: lr too small")
    if state is not None:
        feats_df, h, n = state
    else:
        feats_df, h, n = hclf_training_state(
            df, label, n_buckets=n_buckets, text_col=text_col,
            id_col=id_col,
        )
    if n == 0:
        raise ValueError("train_hashed_text_classifier: empty input")
    if init is not None:
        if len(init["weights"]) != int(n_buckets):
            raise ValueError(
                "train_hashed_text_classifier: init model has "
                f"{len(init['weights'])} bucket weights, expected "
                f"{int(n_buckets)}"
            )
        w = [int(x) for x in init["weights"]]
        bias = int(init["bias"])
    else:
        w = [0] * int(n_buckets)
        bias = 0
    for _ in range(int(iters)):
        # one job per round, ZERO data-sized shuffle (round-12
        # optimization — guide §2.3 "aggregate before you shuffle"):
        # the logit folds per document row (exact bigint, same sum as
        # the old groupBy(id)), the error projects in place, and only
        # the n_buckets+1 partial gradient cells cross the exchange.
        # The old round shape shuffled the whole (id, bucket, f) table
        # through a window/join chain: ~1.5 s/round vs ~0.35 s/round
        # at sf0.1, identical integers.
        # ONE array literal (F.lit(list)), not a 257-element
        # CreateArray: identical values, ~0.35 s less driver planning
        # per round (the literals change every round, so the plan
        # re-analyzes and re-codegens each time — keep it small)
        w_lit = F.lit([int(bias)] + [int(v) for v in w]).cast(
            "array<bigint>"
        )
        zsum = F.aggregate(
            F.col("__feats"),
            F.lit(0).cast("bigint"),
            lambda a, e: a + F.element_at(w_lit, e["bucket"] + 2) * e["f"],
        )
        p = 1.0 / (1.0 + F.exp(-(zsum.cast("double") / F.lit(1e12))))
        p_micro = F.floor(p * 1_000_000.0 + 0.5).cast("bigint")
        err = p_micro - F.col("__y") * F.lit(1_000_000).cast("bigint")
        grows = (
            feats_df.select(
                err.alias("__err"), F.explode("__feats").alias("e")
            )
            .groupBy(F.col("e.bucket").alias("bucket"))
            .agg(
                F.sum(
                    (F.col("__err") * F.col("e.f")).cast("decimal(38,0)")
                ).alias("g")
            )
            .collect()
        )
        g = {int(r["bucket"]): int(r["g"]) for r in grows}
        for b in range(int(n_buckets)):
            hb = h.get(b, 0)
            if hb > 0:
                w[b] -= _tdiv(lr_micro * g.get(b, 0), hb)
        # bias = bucket -1: h(-1) = n*1e12 and g(-1) = 1e6 * sum(err),
        # so the preconditioned step IS lr*sum(err)/n in micro units
        bias -= _tdiv(lr_micro * g.get(-1, 0), h.get(-1, n * 10**12))
    return {"weights": w, "bias": bias, "n": int(n)}


def save_classifier(spark, model: dict, path: str, mode: str = "overwrite") -> None:
    """Persist a trained classifier model (round-11 verdict item 4: the
    ``ivfpq_save`` model-sidecar pattern applied to
    :func:`train_quality_classifier` / :func:`train_hashed_text_classifier`)
    as a ONE-ROW parquet sidecar with typed integer columns — micro-unit
    integers round-trip exactly, so a loaded model scores bit-identically.
    Train-once/serve-many: the expensive GD rounds run at build time;
    every subsequent scoring face is a pure projection (both models)
    with the weights as literals."""
    wm = model["weights"]
    is_map = isinstance(wm, dict)
    means = model.get("means")
    data = [
        (
            {str(k): int(v) for k, v in wm.items()} if is_map else None,
            None if is_map else [int(x) for x in wm],
            int(model["bias"]),
            (
                {str(k): int(v) for k, v in means.items()}
                if means is not None
                else None
            ),
            int(model["n"]),
        )
    ]
    mdf = local_frame(
        spark,
        data,
        "weights_map map<string,bigint>, weights_arr array<bigint>, "
        "bias bigint, means map<string,bigint>, n bigint",
    )
    mdf.coalesce(1).write.mode(mode).parquet(path)
    # an overwrite re-names the part file; invalidate any stale
    # FileStatusCache entry at the only writer
    spark.catalog.refreshByPath(path)


def load_classifier(spark, path: str) -> dict:
    """Load a :func:`save_classifier` sidecar back into the exact model
    dict the trainer returned (dict-weights for the quality model,
    array-weights for the hashed model) — one driver-side row read, no
    corpus work, no training."""
    r = spark.read.parquet(path).first()
    if r is None:
        raise ValueError(f"load_classifier: no model row at {path}")
    model: dict = {"bias": int(r["bias"]), "n": int(r["n"])}
    if r["weights_map"] is not None:
        model["weights"] = {
            k: int(v) for k, v in r["weights_map"].items()
        }
    else:
        model["weights"] = [int(x) for x in r["weights_arr"]]
    if r["means"] is not None:
        model["means"] = {k: int(v) for k, v in r["means"].items()}
    return model


def score_hashed_text_classifier(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score with a :func:`train_hashed_text_classifier` model using the
    training-side arithmetic exactly. Returns ``(id_col,
    score_micro)``.

    Round-12 optimization: ONE corpus scan, PURE PROJECTION — the
    per-document feature array (:func:`_hclf_feature_arrays`, a
    shuffle-free run-length fold) folds against the literal weight
    array per row, so the serve plan has no explode, no groupBy, no
    exchange (the previous shape shuffled an (id, bucket, f) row table
    through an id-keyed sum). The logit is the same exact bigint sum,
    the sigmoid/rounding the same expressions — scores bit-identical.
    """
    feats_df = _hclf_feature_arrays(
        df, len(model["weights"]), text_col, id_col, carry=()
    )
    w_lit = F.lit(
        [int(model["bias"])] + [int(v) for v in model["weights"]]
    ).cast("array<bigint>")
    zsum = F.aggregate(
        F.col("__feats"),
        F.lit(0).cast("bigint"),
        lambda a, e: a + F.element_at(w_lit, e["bucket"] + 2) * e["f"],
    )
    p = 1.0 / (1.0 + F.exp(-(zsum.cast("double") / F.lit(1e12))))
    return feats_df.select(
        F.col("id").alias(id_col),
        F.floor(p * 1_000_000.0 + 0.5).cast("bigint").alias("score_micro"),
    )


def score_quality_classifier(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score a corpus with a :func:`train_quality_classifier` model using
    the TRAINING-side arithmetic (centered exact-integer logit,
    micro-quantized sigmoid) so scores replay bit-for-bit: returns
    ``(id_col, score_micro)``. Pure projection over the feature scan —
    this is the serving face the trained filter deploys as
    (classifier_score offers the float-weights equivalent for
    hand-tuned weights)."""
    feats = quality_features(df, text_col=text_col)
    wm = dict(model["weights"])
    wm["__bias__"] = model["bias"]
    p_micro, _ = _quality_clf_terms(wm, model["means"])
    return feats.select(
        F.col(id_col), p_micro.alias("score_micro")
    )


def extract_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Per-document TF-IDF keyword extraction: the ``top_k`` terms of each
    document scored ``tf(term, doc) * log10(N / df(term))`` against the
    corpus's own document frequencies.

    Plan shape: one explode feeds (a) per-(doc, term) counts and (b)
    per-term document frequencies — both map-side-combinable hash
    aggregations; N is a 1-row aggregate broadcast via cross join. The
    only corpus-sized shuffle is the (doc, term) aggregation; the idf
    join keys on ``term`` (distinct-term-sized, AQE picks broadcast when
    it fits). Scores round to config.SIMILARITY_SCALE BEFORE the window
    rank; ties break on the term text — same contract as every other
    top-k in the engine.

    Returns (id_col, term, tf, score, rank). Reference has no keyword
    extraction; this generalizes its tf-idf value matcher
    (bdikit/value_matching/polyfuzz.py:49-74) from value pairs to
    document summarization.
    """
    occurrences = df.select(
        F.col(id_col).alias("__id"), tokens_expr(F.col(text_col)).alias("__toks")
    ).select("__id", F.explode("__toks").alias("term"))
    tf = occurrences.groupBy("__id", "term").agg(F.count("*").alias("tf"))
    dfreq = occurrences.groupBy("term").agg(
        F.count_distinct("__id").alias("__df")
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).cast("double").alias("__n")
    )
    w = Window.partitionBy("__id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log10(F.col("__n") / F.col("__df")),
                config.SIMILARITY_SCALE,
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("__id").alias(id_col), "term", "tf", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    top_k: int = 100,
) -> DataFrame:
    """Corpus-level n-gram frequency table: the ``top_k`` most frequent
    word n-grams — the input to contamination n-gram indexes, boilerplate
    detection, and language-model evaluation overlap checks.

    The n-gram generation is a pure array expression (sequence + slice +
    concat inside codegen, no Python); counting is one map-side-combinable
    hash aggregation; the top-k compiles to TakeOrderedAndProject (no
    global sort materialization). Count ties break alphabetically.

    Returns (ngram, occurrences).
    """
    if n < 1:
        raise ValueError("ngram_stats: n must be >= 1")
    toks = df.select(tokens_expr(F.col(text_col)).alias("__toks"))
    grams = toks.select(
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("__toks", i, n)),
                ),
            ).otherwise(F.array())
        ).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(top_k)
    )


def curriculum_buckets(
    df: DataFrame,
    n_buckets: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact: bool = True,
    weights=None,
    bias: float = 0.0,
    n_rows: int = None,
) -> DataFrame:
    """Curriculum bucketing: quality-score every document and split the
    corpus into ``n_buckets`` ordered tiers (bucket 1 = highest quality)
    — the ordering stage of curriculum training / quality-tiered mixing.

    ``exact=True`` gives exact equal-sized tiers (total order by score
    desc, id asc) via ``functions.prefix.global_ntile`` — distinct-score
    prefix sums + a score-partitioned tiebreak window, bit-equal to the
    window ``ntile`` with NO single-task global sort, so exact tiers
    now hold at corpus scale too. ``exact=False`` derives bucket edges
    from ``percentile_approx`` over the scores (one aggregate + a
    broadcast threshold comparison) — tier sizes are approximate; kept
    as the cheapest single-pass variant, same exact/approx contract as
    the distribution schema matcher.

    Returns (id_col, clf_score, bucket int).
    """
    if n_buckets < 1:
        raise ValueError("curriculum_buckets: n_buckets must be >= 1")
    scored = classifier_score(
        df, text_col=text_col, weights=weights, bias=bias
    ).select(F.col(id_col), F.col("clf_score"))
    if exact:
        from ..functions.prefix import global_ntile

        return global_ntile(
            scored, "clf_score", id_col, n_buckets, "bucket",
            descending=True, n_rows=n_rows,
        )
    edges = scored.agg(
        F.percentile_approx(
            "clf_score",
            [i / n_buckets for i in range(1, n_buckets)],
            10_000,
        ).alias("__e")
    )
    # bucket 1 = highest score tier: count how many edges the score clears
    # (edges are ascending score quantiles)
    bucket = (
        F.lit(n_buckets)
        - F.aggregate(
            F.col("__e"),
            F.lit(0),
            lambda acc, e: acc + F.when(F.col("clf_score") > e, 1).otherwise(0),
        )
    ).cast("int")
    return (
        scored.crossJoin(F.broadcast(edges))
        .withColumn("bucket", bucket)
        .drop("__e")
    )


def remove_boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_frequency: int = 2,
    normalize: bool = True,
) -> DataFrame:
    """CROSS-document boilerplate removal (the CCNet/RefinedWeb dedup-by-
    line-frequency rule): a line whose normalized form appears in MORE
    than ``max_doc_frequency`` distinct documents is nav/footer/cookie
    boilerplate and is dropped from every document. Complements
    :func:`dedup_lines`, which dedups within one document.

    Plan (all equi-join shaped — no pair expansion at any corpus size):
    posexplode lines -> line document-frequency (groupBy over DISTINCT
    (line, doc) pairs, map-side combinable) -> LEFT ANTI join of the
    exploded lines against the boilerplate set -> order-preserving
    rebuild (collect_list of (pos, line) structs, array_sort on pos).
    Documents whose every line was boilerplate survive with empty text
    (the operator never drops rows — same contract as winsorize).

    Normalization (``normalize=True``): trim + lower, so cosmetic
    whitespace/case variants of the same boilerplate line match.

    Reference has no text pipeline; engine-claimed surface. Returns
    (id_col, text, n_lines, n_kept_lines).
    """
    norm = F.trim(F.lower(F.col("__line"))) if normalize else F.col("__line")
    lines = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "__pos", "__line"
            ),
        )
        .withColumn("__norm", norm)
    )
    boiler = (
        lines.select(id_col, "__norm")
        .distinct()
        .groupBy("__norm")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") > max_doc_frequency)
        .select("__norm")
    )
    kept = lines.join(boiler, "__norm", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__text"),
        F.count("*").cast("bigint").alias("n_kept_lines"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("bigint").alias("n_lines"),
    )
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("__text"), F.lit("")).alias("text"),
        "n_lines",
        F.coalesce(F.col("n_kept_lines"), F.lit(0).cast("bigint")).alias(
            "n_kept_lines"
        ),
    )


#: URL pattern shared with the SQL oracle (RE2/Java-compatible subset)
URL_PATTERN = r"https?://[^\s/:?#]+[^\s]*"
DOMAIN_PATTERN = r"https?://([^\s/:?#]+)"


def url_domain_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Web-corpus domain histogram: extract every URL from the text,
    normalize its host (lower, strip ``www.``), and count occurrences and
    distinct documents per domain — the per-domain census that drives
    domain allow/block lists and per-domain sampling caps in web-crawl
    curation.

    One extract+explode projection, then a single combinable aggregation
    keyed by domain (domain cardinality << corpus size). The regex
    sticks to the RE2/Java-common subset so the SQL oracle matches
    byte for byte. Returns (domain, n_urls, n_docs) for non-empty
    domains.
    """
    urls = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("__url"),
    )
    domain = F.regexp_replace(
        F.lower(F.regexp_extract(F.col("__url"), DOMAIN_PATTERN, 1)),
        r"^www\.",
        "",
    )
    return (
        urls.select(F.col(id_col), domain.alias("domain"))
        .where(F.col("domain") != "")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.count_distinct(F.col(id_col)).alias("n_docs"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    lowercase: bool = False,
    collapse_whitespace: bool = True,
    strip_controls: bool = True,
    out_col: str = None,
) -> DataFrame:
    """Pre-tokenization text normalization: strip C0/C1 control
    characters (keeping tab/newline), collapse horizontal whitespace
    runs to one space, trim line edges, and optionally lowercase — the
    standard cleanup pass in front of dedup/tokenization so cosmetic
    byte differences don't defeat exact-hash operators.

    Pure regexp_replace chain on the RE2/Java-common syntax subset —
    shuffle-free whole-stage codegen, and the SQL oracle applies the
    identical patterns. Appends ``out_col`` (default
    ``<text_col>_normalized``); never mutates the input column.
    """
    out_col = out_col or f"{text_col}_normalized"
    expr = F.col(text_col)
    if strip_controls:
        # C0 minus tab/newline/CR, DEL, C1; CR folds into newline first
        expr = F.regexp_replace(expr, "\r\n?", "\n")
        expr = F.regexp_replace(
            expr, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x80-\\x9f]", ""
        )
    if collapse_whitespace:
        expr = F.regexp_replace(expr, "[ \\t]+", " ")
        expr = F.regexp_replace(expr, " ?\n ?", "\n")
        expr = F.trim(expr)
    if lowercase:
        expr = F.lower(expr)
    return df.withColumn(out_col, expr)


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per document — the
    classic curriculum / quality-filter signal ("drop everything below
    grade 2 material", "bucket by difficulty for staged pretraining").

    Counts are whole-text regex tallies, exact and engine-portable:
    words = ``[a-z]+`` runs of the lowercased text, sentences =
    ``[.!?]+`` runs (min 1), syllables = ``[aeiouy]+`` vowel groups
    (groups cannot cross a word boundary, so the whole-text tally
    equals the per-word sum). The two ratios then feed the published
    formulas in a fixed evaluation order, floor-quantized to 6 — the
    same ASCII regexes and IEEE arithmetic on both engines.

    Scale shape: pure per-row expressions, no shuffle, no UDF — rides
    whatever scan partitioning the corpus already has.
    """
    lower = F.lower(F.col(text_col))
    n_words = F.size(F.regexp_extract_all(lower, F.lit("[a-z]+"), 0)).cast(
        "bigint"
    )
    n_sentences = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit("[.!?]+"), 0)).cast(
            "bigint"
        ),
    )
    n_syllables = F.size(
        F.regexp_extract_all(lower, F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sentences)
        .withColumn("n_syllables", n_syllables)
        .withColumn(
            "flesch", F.when(F.col("n_words") > 0, q6(flesch))
        )
        .withColumn(
            "fk_grade", F.when(F.col("n_words") > 0, q6(fk))
        )
    )


def zipf_alpha(
    df: DataFrame, text_col: str = "text", top_k: int = 100
) -> DataFrame:
    """Zipf-law exponent of the token-frequency distribution via the
    Hill estimator over the ``top_k`` head: alpha = 1 + k / sum(ln(c_i
    / c_k)) where c_k is the k-th largest count. Natural corpora sit
    near alpha ~ 2 (Zipf); a spike says boilerplate/bot domination, a
    collapse toward 1 says shredded or deduplicated-to-death text —
    the one-number vocabulary-health readout next to corpus_vocabulary.

    One tokenize scan + hash groupBy (map-side combinable), a
    distributed top-k on (count desc, token asc) — total order, so the
    head set is unique — then a k-row aggregate; the only floats are
    the final logs over exact bigint counts. All-equal head counts
    (sum of logs = 0) yield NULL alpha.

    Output (one row): k, c_max, c_min, alpha.
    """
    if top_k < 2:
        raise ValueError("zipf_alpha: top_k must be >= 2")
    counts = (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    head = counts.orderBy(F.desc("__c"), F.asc("__t")).limit(top_k)
    agg = head.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("__c").alias("c_max"),
        F.min("__c").alias("c_min"),
        F.sum(
            F.log(F.col("__c").cast("double"))
        ).alias("__sl"),
    )
    k = F.col("k").cast("double")
    # sum(ln(c_i / c_min)) = sum(ln c_i) - k * ln(c_min)
    denom = F.col("__sl") - k * F.log(F.col("c_min").cast("double"))
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "k",
        "c_max",
        "c_min",
        F.when(denom > 0, q6(F.lit(1.0) + k / denom)).alias("alpha"),
    )


# The Gopher rules' required stop words (Rae et al. 2021, appendix A1.1):
# a document must contain at least two of these to pass the stop-word gate.
GOPHER_STOP_WORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The published Gopher document-quality gates (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1) as per-document boolean
    flags plus the conjunctive ``passes_gopher`` keep gate — the
    rule-based sibling of the weighted :func:`quality_features` score
    (the reference has no corpus-quality surface at all; its pipeline
    stops at schema/value harmonization, ``bdikit/api.py``).

    Rules (every flag decided in INTEGER arithmetic on exact counts, so
    no float boundary can flip a gate between engines):

    - ``flag_word_count``      — ``min_words <= n <= max_words``
    - ``flag_mean_word_len``   — mean word length in [3, 10] chars
    - ``flag_symbol_ratio``    — ``#``/words <= 0.1 AND ``...``/words <= 0.1 (per symbol, as published)
    - ``flag_bullet_lines``    — lines starting with a bullet <= 90%
    - ``flag_ellipsis_lines``  — lines ending with an ellipsis <= 30%
    - ``flag_alpha_words``     — >= 80% of words contain a letter
    - ``flag_stop_words``      — >= 2 distinct Gopher stop words present

    Scale shape: a pure expression projection over one scan — no
    shuffle, no UDF, no state; it composes into any corpus-prep plan as
    a free filter stage.
    """
    text = F.col(text_col)
    staged = df.withColumn("__toks", tokens_expr(text)).withColumns(
        {
            "__n_words": F.size(F.col("__toks")).cast("bigint"),
            "__n_chars": F.aggregate(
                F.col("__toks"),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + F.length(t),
            ),
            "__n_alpha_words": F.size(
                F.filter(F.col("__toks"), lambda t: t.rlike("[a-z]"))
            ).cast("bigint"),
            "__n_stop_hits": F.size(
                F.array_intersect(
                    F.array_distinct(F.col("__toks")),
                    F.lit(list(GOPHER_STOP_WORDS)).cast("array<string>"),
                )
            ).cast("bigint"),
            "__lines": F.split(text, "\n"),
        }
    ).withColumns(
        {
            "__n_lines": F.size(F.col("__lines")).cast("bigint"),
            "__n_bullet": F.size(
                F.filter(
                    F.col("__lines"),
                    lambda l: F.ltrim(l).rlike("^[-*•‣◦]"),
                )
            ).cast("bigint"),
            "__n_ellipsis": F.size(
                F.filter(
                    F.col("__lines"),
                    lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"),
                )
            ).cast("bigint"),
            # the published rule tests EACH symbol's word ratio
            # separately ("> 0.1 for either the hash symbol or the
            # ellipsis"), so the two counts stay distinct columns
            "__n_hash": (
                F.length(text)
                - F.length(F.replace(text, F.lit("#"), F.lit("")))
            ).cast("bigint"),
            "__n_ellipsis_sym": (
                (
                    F.length(text)
                    - F.length(F.replace(text, F.lit("..."), F.lit("")))
                )
                / F.lit(3)
            ).cast("bigint"),
        }
    )
    n = F.col("__n_words")
    flags = {
        "flag_word_count": (n >= min_words) & (n <= max_words),
        "flag_mean_word_len": (F.lit(3) * n <= F.col("__n_chars"))
        & (F.col("__n_chars") <= F.lit(10) * n),
        "flag_symbol_ratio": (F.lit(10) * F.col("__n_hash") <= n)
        & (F.lit(10) * F.col("__n_ellipsis_sym") <= n),
        "flag_bullet_lines": F.lit(10) * F.col("__n_bullet")
        <= F.lit(9) * F.col("__n_lines"),
        "flag_ellipsis_lines": F.lit(10) * F.col("__n_ellipsis")
        <= F.lit(3) * F.col("__n_lines"),
        "flag_alpha_words": F.lit(5) * F.col("__n_alpha_words")
        >= F.lit(4) * n,
        "flag_stop_words": F.col("__n_stop_hits") >= 2,
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return staged.select(
        *[F.col(c) for c in df.columns],
        F.col("__n_words").alias("n_words"),
        F.col("__n_chars").alias("n_word_chars"),
        F.col("__n_hash").alias("n_hash_symbols"),
        F.col("__n_ellipsis_sym").alias("n_ellipsis_symbols"),
        F.col("__n_alpha_words").alias("n_alpha_words"),
        F.col("__n_stop_hits").alias("n_stop_words"),
        F.col("__n_lines").alias("n_lines"),
        F.col("__n_bullet").alias("n_bullet_lines"),
        F.col("__n_ellipsis").alias("n_ellipsis_lines"),
        *[v.alias(k) for k, v in flags.items()],
        passes.alias("passes_gopher"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    require_terminal_punct: bool = True,
) -> DataFrame:
    """The C4 cleaning heuristics (Raffel et al., JMLR 2020 §2.2) —
    the line-level sibling of the document-level :func:`gopher_rules`:

    - keep only lines with >= ``min_words_per_line`` words that end in
      terminal punctuation (``.  !  ?  "``) — the terminal-punct gate
      toggles via ``require_terminal_punct``;
    - after line filtering, DROP pages with fewer than
      ``min_sentences`` sentences, pages containing ``lorem ipsum``
      (case-insensitive), and pages containing a curly brace ``{``
      (code leakage).

    Returns every input row with ``text_clean`` (surviving lines
    re-joined with ``\\n``, order preserved), ``n_lines_kept``,
    ``n_lines_dropped``, ``n_sentences``, and the ``keep_c4`` page
    gate. (C4's bad-word list and its three-sentence span dedup are
    deliberately separate concerns: the former is a wordlist lookup
    this corpus has no use for, the latter IS
    :func:`~biomedical_data_integration_spark.operators.dedup.remove_duplicate_spans`.)

    Scale shape: a pure expression projection over one scan — line
    split, filter, and re-join never leave the row, so the operator
    composes into corpus prep as a free stage (same contract as
    :func:`gopher_rules`).
    """
    text = F.col(text_col)
    word_count = lambda l: F.size(  # noqa: E731
        F.filter(F.split(F.trim(l), "\\s+"), lambda t: F.length(t) > 0)
    )
    line_ok = lambda l: (  # noqa: E731
        (word_count(l) >= min_words_per_line)
        & (
            F.rtrim(l).rlike('[.!?"]$')
            if require_terminal_punct
            else F.lit(True)
        )
    )
    staged = df.withColumn("__lines", F.split(text, "\n")).withColumn(
        "__kept", F.filter(F.col("__lines"), line_ok)
    )
    clean = F.array_join(F.col("__kept"), "\n")
    n_sentences = F.size(
        F.filter(
            F.split(clean, "[.!?]"),
            lambda s: F.length(F.trim(s)) > 0,
        )
    ).cast("bigint")
    keep = (
        (n_sentences >= min_sentences)
        & ~F.lower(clean).contains("lorem ipsum")
        & ~clean.contains("{")
    )
    return staged.select(
        *[F.col(c) for c in df.columns],
        clean.alias("text_clean"),
        F.size(F.col("__kept")).cast("bigint").alias("n_lines_kept"),
        (F.size(F.col("__lines")) - F.size(F.col("__kept")))
        .cast("bigint")
        .alias("n_lines_dropped"),
        n_sentences.alias("n_sentences"),
        keep.alias("keep_c4"),
    )


# Published Gopher repetition thresholds (Rae et al. 2021, Table A1),
# in hundredths so every flag decides in integer arithmetic.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 30,
    "dup_para_frac": 30,
    "dup_line_char_frac": 20,
    "dup_para_char_frac": 20,
    "top_2_gram_char_frac": 20,
    "top_3_gram_char_frac": 18,
    "top_4_gram_char_frac": 16,
    "dup_5_gram_char_frac": 15,
    "dup_6_gram_char_frac": 14,
    "dup_7_gram_char_frac": 13,
    "dup_8_gram_char_frac": 12,
    "dup_9_gram_char_frac": 11,
    "dup_10_gram_char_frac": 10,
}


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngrams: tuple = (2, 3, 4),
    dup_ngrams: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The FULL Gopher repetition-removal suite (Rae et al. 2021 Table
    A1) — :func:`repetition_features` keeps the two cheap signals; this
    is the complete published rule set with its thresholds:

    - duplicate line / paragraph fraction (count-based) <= 30%
    - duplicate line / paragraph CHARACTER fraction <= 20%
    - top-{2,3,4}-gram character fraction <= 20/18/16%
    - duplicate-{5..10}-gram character fraction <= 15..10%

    Character fractions follow the standard reimplementation (Dolma /
    NeMo-Curator): for the top n-gram, ``count * chars(gram) /
    total_token_chars``; for duplicates, the same summed over every
    n-gram occurring >= 2 times. ``chars(gram)`` excludes the joining
    spaces. Every flag compares scaled INTEGERS (ratio*100 vs the
    published hundredths), so no float boundary can flip a gate.

    Scale shape: SHUFFLE-FREE. Every measure is per-document, so no
    count ever needs to leave the row: each n-gram array is
    ``array_sort``-ed (equal grams become adjacent runs) and ONE
    sequential fold per (doc, n) tallies run lengths — duplicate chars,
    and the top run with the first-in-sorted-order tie-break, which IS
    the (count desc, gram asc) argmax the oracle replays. Lines and
    paragraphs fold the same way. O(g log g) per document, pure
    projection — composes with :func:`gopher_rules`/:func:`c4_clean` as
    a free stage. (The first implementation exploded a 9-width tagged
    n-gram table into a corpus-sized (id, n, gram) shuffle; the 1x/3x/
    10x sweep showed it as the steepest curve of the round — this form
    removed the shuffle entirely, PERF_NOTES round 9.)
    """
    text = F.col(text_col)
    ns = sorted(set(top_ngrams) | set(dup_ngrams))

    # fold accumulator: (prev gram, current run, dup chars so far,
    # best run count, best run gram). Runs close when the gram changes;
    # the finish lambda closes the last run.
    acc_t = (
        "struct<prev:string,run:bigint,dup:bigint,topc:bigint,topg:string>"
    )

    def _run_stats_all(toks: Column) -> Column:
        """array<struct<dupchars bigint, topchars bigint>>, one entry per
        n in ``ns`` (ascending) — ONE shared fold lambda applied via
        ``transform`` over an array of (n, grams) structs instead of
        ``len(ns)`` inlined copies of the same ~40-node lambda body.
        Identical arithmetic per element (n rides as a struct field, the
        only place it appears is the joining-space correction
        ``length(g) - (n-1)``); planning cost is ~len(ns)x smaller
        (measured round 13: the 9 inlined folds cost ~3.9 s of pure
        driver analysis per action on this face)."""

        def one_n(entry: Column) -> Column:
            n_ = entry["n"]
            grams = entry["g"]
            glen = lambda g: F.length(g) - (n_ - F.lit(1))  # noqa: E731

            def step(acc, g):
                same = acc["prev"].eqNullSafe(g)
                closing_dup = F.when(
                    (~same) & (acc["run"] >= 2),
                    acc["run"] * glen(acc["prev"]),
                ).otherwise(F.lit(0).cast("bigint"))
                new_top = (~same) & (acc["run"] > acc["topc"])
                return F.struct(
                    g.alias("prev"),
                    F.when(same, acc["run"] + 1)
                    .otherwise(F.lit(1).cast("bigint"))
                    .alias("run"),
                    (acc["dup"] + closing_dup).alias("dup"),
                    F.when(new_top, acc["run"])
                    .otherwise(acc["topc"])
                    .alias("topc"),
                    F.when(new_top, acc["prev"])
                    .otherwise(acc["topg"])
                    .alias("topg"),
                )

            def finish(acc):
                final_dup = acc["dup"] + F.when(
                    acc["run"] >= 2, acc["run"] * glen(acc["prev"])
                ).otherwise(F.lit(0).cast("bigint"))
                last_top = acc["run"] > acc["topc"]
                topc = F.when(last_top, acc["run"]).otherwise(acc["topc"])
                topg = F.when(last_top, acc["prev"]).otherwise(acc["topg"])
                return F.struct(
                    final_dup.alias("dupchars"),
                    F.coalesce(topc * glen(topg), F.lit(0).cast("bigint"))
                    .alias("topchars"),
                )

            zero = F.named_struct(
                F.lit("prev"), F.lit(None).cast("string"),
                F.lit("run"), F.lit(0).cast("bigint"),
                F.lit("dup"), F.lit(0).cast("bigint"),
                F.lit("topc"), F.lit(0).cast("bigint"),
                F.lit("topg"), F.lit(None).cast("string"),
            )
            return F.aggregate(
                F.array_sort(grams), zero.cast(acc_t), step, finish
            )

        tagged = F.array(
            *[
                F.struct(
                    F.lit(n).alias("n"),
                    word_ngrams_strict(toks, n).alias("g"),
                )
                for n in ns
            ]
        )
        return F.transform(tagged, one_n)

    def _unit_stats(units: Column) -> Column:
        """struct(n, dup_n, chars, dup_chars) for lines/paragraphs."""

        def step(acc, u):
            same = acc["prev"].eqNullSafe(u)
            closing_dup = F.when(
                (~same) & (acc["run"] >= 2), acc["run"]
            ).otherwise(F.lit(0).cast("bigint"))
            closing_dupc = F.when(
                (~same) & (acc["run"] >= 2),
                acc["run"] * F.length(acc["prev"]),
            ).otherwise(F.lit(0).cast("bigint"))
            return F.struct(
                u.alias("prev"),
                F.when(same, acc["run"] + 1)
                .otherwise(F.lit(1).cast("bigint"))
                .alias("run"),
                (acc["dup"] + closing_dup).alias("dup"),
                (acc["topc"] + closing_dupc).alias("topc"),
                F.lit(None).cast("string").alias("topg"),
            )

        def finish(acc):
            dup_n = acc["dup"] + F.when(
                acc["run"] >= 2, acc["run"]
            ).otherwise(F.lit(0).cast("bigint"))
            dup_c = acc["topc"] + F.when(
                acc["run"] >= 2, acc["run"] * F.length(acc["prev"])
            ).otherwise(F.lit(0).cast("bigint"))
            return F.struct(
                dup_n.alias("dup_n"), dup_c.alias("dup_chars")
            )

        zero = F.named_struct(
            F.lit("prev"), F.lit(None).cast("string"),
            F.lit("run"), F.lit(0).cast("bigint"),
            F.lit("dup"), F.lit(0).cast("bigint"),
            F.lit("topc"), F.lit(0).cast("bigint"),
            F.lit("topg"), F.lit(None).cast("string"),
        )
        return F.struct(
            F.size(units).cast("bigint").alias("n"),
            F.aggregate(F.array_sort(units), zero.cast(acc_t), step, finish)
            .alias("d"),
            F.aggregate(
                units,
                F.lit(0).cast("bigint"),
                lambda a, u: a + F.length(u),
            ).alias("chars"),
        )

    def _units(split_pat: str) -> Column:
        return F.filter(
            F.transform(F.split(text, split_pat), lambda s: F.trim(s)),
            lambda s: F.length(s) > 0,
        )

    staged = df.select(
        F.col(id_col).alias("id"), tokens_expr(text).alias("__toks"), text
    ).withColumns(
        {
            "__tchars": F.aggregate(
                F.col("__toks"),
                F.lit(0).cast("bigint"),
                lambda acc, t: acc + F.length(t),
            ),
            "__ln": _unit_stats(_units("\n")),
            "__pa": _unit_stats(_units("\n\n")),
            "__gs": _run_stats_all(F.col("__toks")),
        }
    )

    def _g(n: int) -> Column:
        return F.element_at(F.col("__gs"), ns.index(n) + 1)

    def ratio(num: Column, den: Column) -> Column:
        return F.when(
            den > 0, F.round(num.cast("double") / den, config.SIMILARITY_SCALE)
        ).otherwise(F.lit(0.0))

    def flag(num: Column, den: Column, hundredths: int) -> Column:
        return F.coalesce(
            F.lit(100) * num <= F.lit(hundredths) * den, F.lit(True)
        )

    th = GOPHER_REPETITION_THRESHOLDS
    measures = {
        "dup_line_frac": (F.col("__ln.d.dup_n"), F.col("__ln.n")),
        "dup_para_frac": (F.col("__pa.d.dup_n"), F.col("__pa.n")),
        "dup_line_char_frac": (
            F.col("__ln.d.dup_chars"),
            F.col("__ln.chars"),
        ),
        "dup_para_char_frac": (
            F.col("__pa.d.dup_chars"),
            F.col("__pa.chars"),
        ),
    }
    for n in top_ngrams:
        measures[f"top_{n}_gram_char_frac"] = (
            _g(n)["topchars"],
            F.col("__tchars"),
        )
    for n in dup_ngrams:
        measures[f"dup_{n}_gram_char_frac"] = (
            _g(n)["dupchars"],
            F.col("__tchars"),
        )
    flags = {
        f"flag_{k}": flag(num, den, th[k])
        for k, (num, den) in measures.items()
    }
    passes = None
    for c in flags.values():
        passes = c if passes is None else (passes & c)
    return staged.select(
        F.col("id").alias(id_col),
        F.col("__tchars").alias("n_token_chars"),
        *[ratio(num, den).alias(k) for k, (num, den) in measures.items()],
        *[v.alias(k) for k, v in flags.items()],
        passes.alias("passes_repetition"),
    )
