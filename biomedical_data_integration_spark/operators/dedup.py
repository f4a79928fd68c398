"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (its only dedup is distinct-before-matching,
``bdikit/api.py:355``), these are the first-class corpus-dedup operators a
100 TB text pipeline needs: exact, n-gram Jaccard, MinHash+LSH, SimHash,
and embedding-cosine near-dup.

Scale design:
- exact dedup = one hash-groupBy (map-side combinable, one shuffle);
- n-gram Jaccard never does the n² cross join — candidates come from an
  inverted shingle index join, with an optional frequency cap that drops
  stop-shingles (the classic blowup at scale);
- MinHash/LSH replaces the shingle join with a constant-width signature:
  shuffle volume per doc is O(num_perm), independent of document length,
  and candidate generation joins on (band, band_key) only;
- SimHash pairs join on banded fingerprint chunks (pigeonhole: hamming
  distance ≤ k guarantees equality on ≥1 of k+1 chunks) — never all-pairs;
- all hashing is md5-based (functions/hashing.py) so every operator is
  bit-reproducible in an ANSI-SQL oracle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark import config, planning
from biomedical_data_integration_spark.functions.hashing import hex_nibble
from biomedical_data_integration_spark.functions.strings import word_ngrams
from biomedical_data_integration_spark.functions.vectors import cosine
from biomedical_data_integration_spark.session import local_frame, pin


def _tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased text (empty tokens dropped)."""
    return F.filter(
        F.split(F.lower(F.trim(text)), "\\s+"), lambda t: F.length(t) > 0
    )


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by content hash — one hash-groupBy.

    Returns (content_hash, n_docs, keep_id) for groups with n_docs > 1;
    ``keep_id`` = min id is the canonical representative.
    """
    return (
        df.select(F.md5(F.col(text_col).cast("string")).alias("content_hash"), id_col)
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row (min id) per distinct content. Window-free formulation:
    an aggregation + semi join, both map-side combinable."""
    keep = (
        df.select(F.md5(F.col(text_col).cast("string")).alias("__h"), id_col)
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, id_col, "leftsemi")


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_words: int = 3
) -> DataFrame:
    """Distinct word-n-gram shingles per document: (id, shingle).

    The token array is materialized in its OWN projection before the
    n-gram explode: inlined, the tokenize (split+lower+trim+filter) would
    be re-evaluated inside every slice of the shingle transform — O(len ·
    n_shingles) per document instead of O(len). CollapseProject keeps the
    two projections separate because the alias is non-cheap and
    multiply-referenced (measured 6x on sf0.1 documents).
    """
    toks = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__toks")
    )
    return (
        toks.select(
            "id",
            F.explode(word_ngrams(F.col("__toks"), shingle_words)).alias("shingle"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word-shingle sets.

    Candidates come from an inverted-index self-join on shingles (docs
    sharing ≥1 shingle), then exact |A∩B| / |A∪B| — the n² cross join never
    happens. ``max_shingle_freq`` drops shingles occurring in more than
    that many documents (stop-shingle blowup control at scale; the dropped
    mass slightly lowers estimated Jaccard — standard trade, off by
    default).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sh = shingle_sets(df, text_col, id_col, shingle_words)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__f"))
            .where(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    # read by the size aggregation and both sides of the candidate join
    sh = pin(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))

    # Size-ratio pregate (lossless): |A∩B| ≤ min ⇒ J ≤ min(n_a,n_b)/max,
    # so J ≥ t requires min/max ≥ t. Applying it IN the shingle self-join
    # kills the stop-shingle pair explosion (a shingle shared by k docs
    # yields k² candidates; most fail the ratio and would otherwise be
    # carried through the count aggregation).
    sh_n = sh.join(sizes, "id")
    a = sh_n.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), "shingle")
    b = sh_n.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.least("n_a", "n_b") >= threshold * F.greatest("n_a", "n_b")
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                config.SIMILARITY_SCALE,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _signatures_from_shingles(sh: DataFrame, num_perm: int) -> DataFrame:
    """Signatures from a prebuilt (id, shingle) set — lets callers that
    also need the shingle set for verification share one persisted scan."""
    mins = [
        F.min(F.md5(F.concat(F.lit(f"mh{i}|"), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    sig = sh.groupBy("id").agg(*mins)
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_perm)]).alias("sig")
    )


def _band_entries(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(id, band, key) rows from a signature table — the LSH bucket
    entries both the self-join (:func:`minhash_lsh_pairs`) and the
    two-corpus join (:func:`minhash_lsh_join`) bucket on."""
    rows_per_band = num_perm // bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.slice(
                                    F.col("sig"), b * rows_per_band + 1,
                                    rows_per_band,
                                ),
                                "|",
                            )
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_tuning_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    sample_mod: int = 2,
    n_buckets: int = 10,
    max_shingle_freq: Optional[int] = None,
    band_entries: Optional[DataFrame] = None,
) -> DataFrame:
    """Measured-vs-theoretical LSH quality curve — the report that
    picks ``(num_perm, bands)`` BEFORE a corpus-scale dedup run spends
    cluster time on the wrong S-curve.

    On the deterministic document sample ``id % sample_mod == 0``:
    every overlapping pair's EXACT shingle Jaccard (inverted-index
    self-join — only pairs sharing a shingle materialize, never the
    cross product), joined against the banded candidate set the
    CURRENT (num_perm, bands) would emit. Per equal-width Jaccard
    bucket: pair count, banded count, measured recall, and the
    closed-form banding probability ``1 - (1 - s^r)^b`` at the bucket
    midpoint (computed once in Python and injected as literals, so
    both engines read identical doubles — no cross-engine ``pow``).

    Returns ``(bucket, jaccard_lo, n_pairs, n_banded, recall,
    theory_p)`` — n_buckets rows max; zero-overlap pairs are excluded
    (their Jaccard and banding probability are both ~0). Scale shape:
    ``sample_mod`` bounds the verified pair space (raise it with the
    corpus), and ``max_shingle_freq`` bounds it STRUCTURALLY: a
    boilerplate shingle shared by k sampled documents yields k² pair
    candidates in the exact-Jaccard self-join — the cap drops
    shingles whose in-sample document frequency exceeds it from the
    whole report (Jaccard, sizes, and self-computed signatures all
    read the same capped shingle universe, so the curve stays
    internally consistent — same knob and trade as
    :func:`ngram_jaccard_pairs`). Everything else is the dedup
    family's own bucketed joins over sample-sized tables.

    ``band_entries`` lets tuning ride the STANDING corpus state: pass
    the persisted ``(id, band, key)`` table from
    :func:`minhash_corpus_entries` (same num_perm/bands/
    shingle_words) and the report skips recomputing signatures,
    filtering the entries to the sample instead — bit-identical to
    the self-computed path (tested). The supplied entries are used
    as-is (production signatures), so a simultaneous
    ``max_shingle_freq`` caps only the exact-Jaccard side.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    if sample_mod < 1 or n_buckets < 1:
        raise ValueError("lsh_tuning_report: sample_mod/n_buckets >= 1")
    r = num_perm // bands
    sampled = df.where(F.col(id_col) % sample_mod == 0)
    sh = shingle_sets(sampled, text_col, id_col, shingle_words)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("__f"))
            .where(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(freq_ok, "shingle")
    sh = pin(sh)
    sizes = sh.groupBy("id").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("n", "na")
        .join(sizes.withColumnRenamed("id", "id_b"), "id_b")
        .withColumnRenamed("n", "nb")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    if band_entries is None:
        entries = _band_entries(
            _signatures_from_shingles(sh, num_perm), num_perm, bands
        )
    else:
        entries = band_entries.where(F.col("id") % sample_mod == 0)
    cand = (
        entries.alias("x")
        .join(
            entries.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")
        )
        .distinct()
        .withColumn("__banded", F.lit(1).cast("bigint"))
    )
    staged = jac.join(cand, ["id_a", "id_b"], "left").select(
        F.least(
            F.floor(F.col("jaccard") * n_buckets).cast("int"),
            F.lit(n_buckets - 1),
        ).alias("bucket"),
        F.coalesce(F.col("__banded"), F.lit(0)).alias("__banded"),
    )
    # closed-form banding curve at bucket midpoints, Python-computed so
    # Spark and the SQL oracle consume byte-identical literals
    theory = [
        round(1.0 - (1.0 - ((i + 0.5) / n_buckets) ** r) ** bands, 6)
        for i in range(n_buckets)
    ]
    tmap = F.element_at(
        F.array(*[F.lit(v) for v in theory]), F.col("bucket") + 1
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("__banded").cast("bigint").alias("n_banded"),
    ).select(
        "bucket",
        q6(F.col("bucket").cast("double") / n_buckets).alias("jaccard_lo"),
        "n_pairs",
        "n_banded",
        q6(
            F.col("n_banded").cast("double") / F.col("n_pairs").cast("double")
        ).alias("recall"),
        tmap.alias("theory_p"),
    )


def minhash_corpus_entries(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """The standing corpus's ``(id, band, key)`` LSH bucket entries —
    the PERSISTABLE state incremental ingestion buckets new crawls
    against (:func:`minhash_lsh_join` computes these per call; write
    them to parquet once and reuse across ingests, batch or streaming
    via ``streaming.events.streaming_minhash_join_candidates``). Keys
    are bit-identical to both the batch grouped path and the per-row
    streaming path (``minhash_band_keys``)."""
    sh = shingle_sets(corpus_df, text_col, id_col, shingle_words)
    return _band_entries(
        _signatures_from_shingles(sh, num_perm), num_perm, bands
    )


def minhash_lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric two-corpus MinHash-LSH near-dup join — the INCREMENTAL
    ingestion mode: which NEW documents near-duplicate something already
    in the corpus? (Production dedup is almost never one self-join over
    everything ever crawled; it's each new crawl against the standing
    corpus — this is that operator. Same machinery as
    :func:`minhash_lsh_pairs`: banded signatures, (band, key) equi-join
    candidates, exact-Jaccard verification with the lossless size-ratio
    pregate — but the bucket join is new × corpus, never corpus ×
    corpus, so a small delta costs delta-sized work against corpus-sized
    state that can be PERSISTED band entries from previous runs.)

    Returns ``(new_id, corpus_id, jaccard)`` with jaccard >=
    ``verify_threshold``; anti-join ``new_df`` on ``new_id`` to admit
    only novel documents.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    # each side is read by its signature build, its size aggregation
    # and one side of the verify join
    sh_n = pin(shingle_sets(new_df, text_col, id_col, shingle_words))
    sh_c = pin(shingle_sets(corpus_df, text_col, id_col, shingle_words))
    n_e = _band_entries(
        _signatures_from_shingles(sh_n, num_perm), num_perm, bands
    ).withColumnRenamed("id", "new_id")
    c_e = _band_entries(
        _signatures_from_shingles(sh_c, num_perm), num_perm, bands
    ).withColumnRenamed("id", "corpus_id")
    candidates = (
        n_e.join(c_e, ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sizes_n = sh_n.groupBy("id").agg(F.count("*").alias("n_n"))
    sizes_c = sh_c.groupBy("id").agg(F.count("*").alias("n_c"))
    candidates = (
        candidates.join(
            sizes_n.withColumnRenamed("id", "new_id"), "new_id"
        )
        .join(sizes_c.withColumnRenamed("id", "corpus_id"), "corpus_id")
        .where(
            F.least("n_n", "n_c")
            >= verify_threshold * F.greatest("n_n", "n_c")
        )
    )
    inter = (
        candidates.join(sh_n.withColumnRenamed("id", "new_id"), "new_id")
        .join(
            sh_c.withColumnRenamed("id", "corpus_id"),
            ["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id", "n_n", "n_c")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.select(
            "new_id",
            "corpus_id",
            F.round(
                F.col("inter")
                / (F.col("n_n") + F.col("n_c") - F.col("inter")),
                config.SIMILARITY_SCALE,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= verify_threshold)
    )


def minhash_band_keys(shingles: Column, num_perm: int, bands: int) -> Column:
    """Per-ROW banded MinHash keys: array<struct<band int, key string>>.

    Shuffle-free formulation of the banded signature in
    :func:`minhash_lsh_pairs` (min over the shingle ARRAY equals min over
    the distinct shingle SET, and the band key md5s the same
    ``"|"``-joined h_i slices), so the keys are bit-identical to the batch
    grouped-aggregation path — the property that lets a STREAM bucket
    against keys a batch backfill computed.

    ``shingles`` must be a STAGED column reference (an alias projected in
    its own select), not an inline expression: it is referenced
    ``num_perm`` times and an inline tokenize would re-run per reference.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands

    def _perm_min(i: int) -> Column:
        # NOTE: the salt must be captured OUTSIDE the lambda — a 2-arg
        # lambda (e.g. ``lambda s, i=i``) is interpreted by Spark as the
        # (element, index) form and the index Column shadows the default
        salt = f"mh{i}|"
        return F.array_min(
            F.transform(shingles, lambda s: F.md5(F.concat(F.lit(salt), s)))
        )

    mins = [_perm_min(i) for i in range(num_perm)]
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *mins[b * rows_per_band:(b + 1) * rows_per_band])
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact Jaccard.

    Signature of ``num_perm`` min-hashes split into ``bands`` bands of
    ``num_perm // bands`` rows; docs agreeing on any full band become
    candidates (join on (band_idx, band_key) — the only shuffle that grows
    with corpus size, and it's equi-join sized, not n²). Candidates are
    then verified with the true shingle Jaccard so output quality doesn't
    depend on the LSH parameters, only recall does.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= verify_threshold.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")

    # read by the signatures, the size aggregation and both sides of
    # the verify join (six concurrent ~2 s recomputes on dedup_keep_best
    # at sf0.1 without the pin, round 13)
    sh = pin(shingle_sets(df, text_col, id_col, shingle_words))
    sig = _signatures_from_shingles(sh, num_perm)
    band_entries = _band_entries(sig, num_perm, bands)

    a = band_entries.withColumnRenamed("id", "id_a")
    b = band_entries.withColumnRenamed("id", "id_b")
    candidates = (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # exact verification on the candidate set only: size-ratio pregate
    # (lossless, J ≤ min/max), then join candidate pairs to both shingle
    # sets on shingle equality
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    candidates = (
        candidates.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .where(
            F.least("n_a", "n_b") >= verify_threshold * F.greatest("n_a", "n_b")
        )
    )
    sha = sh.withColumnsRenamed({"id": "id_a"})
    shb = sh.withColumnsRenamed({"id": "id_b"})
    inter = (
        candidates.join(sha, "id_a")
        .join(shb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                config.SIMILARITY_SCALE,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= verify_threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint per document: (id, simhash bigint).

    bit b of the fingerprint = sign of Σ_tokens tf(token) * (±1), where the
    ±1 is bit b of md5(token) (decoded nibble-wise, portable SQL). Tokens
    are weighted by term frequency. ``bits`` ≤ 60 so the fingerprint fits a
    bigint exactly in every engine.
    """
    if bits > 60:
        raise ValueError("bits must be <= 60 to stay exactly representable")
    tf = (
        df.select(F.col(id_col).alias("id"), F.explode(_tokens(F.col(text_col))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5(F.col("tok")))
    )
    bit_cols = []
    for b in range(bits):
        nib = hex_nibble(F.col("h"), b // 4 + 1)
        bit_on = F.shiftright(nib, b % 4).bitwiseAND(F.lit(1)) == 1
        contrib = F.when(bit_on, F.col("tf")).otherwise(-F.col("tf"))
        bit_cols.append(
            F.when(F.sum(contrib) > 0, F.shiftleft(F.lit(1).cast("bigint"), b))
            .otherwise(F.lit(0).cast("bigint"))
            .alias(f"b{b}")
        )
    per_doc = tf.groupBy("id").agg(*bit_cols)
    total = None
    for b in range(bits):
        c = F.col(f"b{b}").cast("bigint")
        total = c if total is None else total + c
    return per_doc.select("id", total.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole blocking: with ``chunks`` ≥ max_hamming + 1 fingerprint
    chunks, any pair within distance max_hamming agrees exactly on ≥1
    chunk — so candidates come from ``chunks`` equi-joins, never all-pairs.
    Returns (id_a, id_b, hamming).
    """
    if chunks < max_hamming + 1:
        raise ValueError("need chunks >= max_hamming + 1 for exact blocking")
    # read by both sides of the chunk join
    fp = pin(simhash(df, text_col, id_col, bits))
    chunk_bits = bits // chunks

    entries = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))

    a = entries.withColumnsRenamed({"id": "id_a", "simhash": "sh_a"})
    b = entries.withColumnsRenamed({"id": "id_b", "simhash": "sh_b"})
    cand = (
        a.join(b, ["chunk", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    use_lsh: Optional[bool] = None,
    lsh_planes: int = 8,
    brute_threshold: int = planning.BRUTE_VECTOR_LIMIT,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold.

    Strategy is cardinality-gated by default (``use_lsh=None``), the same
    count-once kernel selection ``duplicate_clusters`` uses: at or below
    ``brute_threshold`` vectors the exact all-pairs join runs (a bounded
    n² — at 20k vectors that's 200M cheap fused-codegen comparisons spread
    over every core, and exact recall); above it the plan blocks by
    random-hyperplane signature first (see operators/similarity.py) so
    only same-bucket pairs are compared — the 100-TB path, recall
    controlled by ``lsh_planes``. Pass ``use_lsh=True/False`` to force a
    strategy (False = exact verification at any size, eyes open).
    """
    from biomedical_data_integration_spark.functions.vectors import dot, norm
    from biomedical_data_integration_spark.operators.similarity import (
        _vec_dim,
        hyperplane_bucket,
    )

    # Norms are computed ONCE per vector before the pair join — inside the
    # join they'd be re-derived per PAIR (O(n²) interpreted array folds,
    # the dominant cost of the all-pairs plan). The final arithmetic stays
    # dot / (norm_a * norm_b), bit-identical to computing cosine in-join.
    # persisted: feeds both sides of the pair join — without it the norm
    # fold over every vector runs twice
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
    ).persist()
    if use_lsh is None:
        # one cheap action over the already-persisted base; the count also
        # warms the cache both join sides reuse
        use_lsh = planning.ann_pair_kernel(base.count(), brute_threshold) == "lsh"
    if use_lsh:
        dim = _vec_dim(df, vec_col)
        base = base.withColumn("bucket", hyperplane_bucket(F.col("v"), dim, lsh_planes))
        a = base.withColumnsRenamed({"id": "id_a", "v": "v_a", "nv": "n_a"})
        b = base.withColumnsRenamed({"id": "id_b", "v": "v_b", "nv": "n_b"})
        joined = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    else:
        a = base.withColumnsRenamed({"id": "id_a", "v": "v_a", "nv": "n_a"})
        b = base.withColumnsRenamed({"id": "id_b", "v": "v_b", "nv": "n_b"})
        # a small vector table often arrives as ONE file split -> the
        # O(n²) scoring would run on one core; spread one side so the
        # product parallelizes. Broadcast nested-loop (b is under the
        # brute-force gate, so broadcast-sized by construction) instead of
        # crossJoin: CartesianProductExec pays a ~10 s fixed setup cost.
        par = df.sparkSession.sparkContext.defaultParallelism
        joined = a.repartition(par).join(F.broadcast(b)).where(
            F.col("id_a") < F.col("id_b")
        )
    denom = F.col("n_a") * F.col("n_b")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("v_a"), F.col("v_b")) / denom
    )
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(cos, config.SIMILARITY_SCALE).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    driver_threshold: int = planning.DRIVER_EDGE_LIMIT,
) -> DataFrame:
    """Connected components over near-duplicate pairs — the clustering
    stage that turns pairwise dedup output into keep/drop decisions.

    Two strategies, picked by edge count (known after one cheap action —
    the same cardinality-driven kernel selection the engine uses for
    similarity joins, SURVEY §4.2):

    - ``<= driver_threshold`` edges: union-find on the driver. A dedup
      pair list is tiny relative to the corpus (it is the *output* of
      LSH, not the corpus), and a distributed loop pays ~10 fixed jobs to
      cluster what a driver array does in milliseconds.
    - above it: alternating large-star / small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) —
      O(log^2 n) rounds, each two equi-join shuffles over the edge list
      only, lineage cut per round by a pin; a corpus with
      billions of pairs never touches the driver.

    The reference has no graph stage at all (its only dedup is
    distinct-before-matching, ``bdikit/api.py:355``); this completes the
    pipeline: pairs (minhash/simhash/jaccard/cosine) -> components ->
    keep ``cluster_id`` (= min id), drop the rest.

    Returns ``(doc_id, cluster_id)`` for every id appearing in ``pairs``,
    where ``cluster_id`` is the minimum id of its connected component.
    """
    spark = pairs.sparkSession
    id_type = dict(zip(pairs.columns, [f.dataType for f in pairs.schema.fields]))[
        id_a
    ]
    # read by the count and then the collect (or the rounds): each
    # action would otherwise re-analyze the full upstream pairs lineage
    # (~1.4-1.7 s of driver planning each on the minhash faces at sf0.1)
    edges = pin(
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n_edges = edges.count()

    if planning.components_kernel(n_edges, driver_threshold) == "driver":
        rows = edges.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ru, rv = find(r["u"]), find(r["v"])
            if ru != rv:
                # union by min: smaller id becomes the root
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        labels = sorted({(x, find(x)) for r in rows for x in (r["u"], r["v"])})
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("doc_id", id_type),
                T.StructField("cluster_id", id_type),
            ]
        )
        return local_frame(spark, labels, schema)

    converged = False
    for _ in range(max_iterations):
        # large-star: every node u connects its strictly-larger neighbors
        # to min(N(u) + {u})
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every node u connects its smaller-or-equal neighbors
        # (and itself) to its minimum neighbor
        dmins = large.groupBy("u").agg(F.min("v").alias("m"))
        nxt = pin(
            large.join(dmins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("x"), "m")
            .union(dmins.select(F.col("u").alias("x"), "m"))
            .where(F.col("x") != F.col("m"))
            .distinct()
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
        )
        # cheap count precheck (both sides are checkpointed) short-circuits
        # the exceptAll in non-final rounds; equal counts + empty one-way
        # multiset difference ⟹ the edge multisets are equal
        if nxt.count() == edges.count() and nxt.exceptAll(edges).isEmpty():
            edges = nxt
            converged = True
            break
        edges = nxt
    if not converged:
        # Exhausting the round budget without the fixpoint check passing
        # means cluster_ids may span multiple hops and be WRONG — never
        # return silently-bad labels. O(log^2 n) rounds bound real graphs;
        # hitting this means max_iterations is set far too low.
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iterations} "
            "large/small-star rounds; raise max_iterations"
        )
    # fixpoint = star graphs: every member points at its component root
    return (
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
        .union(
            edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )


def cross_corpus_contamination(
    corpus: DataFrame,
    eval_corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    min_containment: float = 0.5,
    max_shingle_freq: Optional[int] = None,
) -> DataFrame:
    """Train->eval contamination detection: which training documents
    contain a benchmark document's content (decontamination, the standard
    pre-training hygiene stage; not in the reference — its dedup is only
    distinct-before-matching, ``bdikit/api.py:355``).

    Containment = |shingles(train) ∩ shingles(eval)| / |shingles(eval)| —
    asymmetric on purpose: a huge train doc that swallows a small eval doc
    whole scores 1.0 where Jaccard would shrink toward 0.

    Same scale shape as :func:`ngram_jaccard_pairs`: inverted shingle
    index equi-join (never n²), optional stop-shingle cap on the TRAIN
    side (eval benches are small; train is the 100 TB side), count-only
    shuffle. Returns (train_id, eval_id, overlap, containment) with
    containment >= min_containment.
    """
    tr = shingle_sets(corpus, text_col, id_col, shingle_words)
    if max_shingle_freq is not None:
        freq_ok = (
            tr.groupBy("shingle")
            .agg(F.count("*").alias("__f"))
            .where(F.col("__f") <= max_shingle_freq)
            .select("shingle")
        )
        tr = tr.join(freq_ok, "shingle")
    # read by ev_sizes and the overlap join; eval benches are small (MBs)
    ev = pin(shingle_sets(eval_corpus, text_col, id_col, shingle_words))
    ev_sizes = ev.groupBy("id").agg(F.count("*").alias("n_eval"))
    overlap = (
        tr.withColumnRenamed("id", "train_id")
        .join(ev.withColumnRenamed("id", "eval_id"), "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("overlap"))
    )
    return (
        overlap.join(
            ev_sizes.withColumnRenamed("id", "eval_id"), "eval_id"
        )
        .select(
            "train_id",
            "eval_id",
            "overlap",
            F.round(
                F.col("overlap") / F.col("n_eval"), config.SIMILARITY_SCALE
            ).alias("containment"),
        )
        .where(F.col("containment") >= min_containment)
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    bits_hex_digits: int = 5,
    num_hashes: int = 2,
    salt: str = "bf",
) -> DataFrame:
    """Bloom-gated decontamination: drop every training document sharing
    ANY word shingle with the eval corpus, with the eval side folded into
    a compact Bloom bitset so the 100 TB train side is a PURE FILTER — no
    shuffle, no join, just ``num_hashes`` md5s per shingle against a
    broadcast array literal.

    The Bloom is built deterministically (positions = integer value of
    the last ``bits_hex_digits`` hex chars of salted md5, so ``bits =
    16^digits``), which keeps it engine-portable: a SQL oracle can
    recompute the exact same position sets. Collisions only ever REMOVE
    extra training docs (false-positive rate ~(set_bits/bits)^num_hashes)
    — never leak a true contamination, the safe direction for hygiene.

    Compare :func:`cross_corpus_contamination` (exact containment scores
    via an inverted shingle index) — that is the audit tool; this is the
    cheap ingest-time gate.

    Returns the surviving train rows (original schema).
    """
    if not 1 <= bits_hex_digits <= 8:
        raise ValueError("bits_hex_digits must be in [1, 8]")
    bits = 16 ** bits_hex_digits
    words = (bits + 63) // 64

    def positions(sh: Column) -> list:
        return [
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{salt}{h}|"), sh)),
                    33 - bits_hex_digits,
                    bits_hex_digits,
                ),
                16,
                10,
            ).cast("bigint")
            for h in range(num_hashes)
        ]

    # eval side: |eval shingles| x num_hashes distinct positions, bounded
    # by the (small by construction) eval corpus — the only collect
    ev_pos = (
        shingle_sets(eval_corpus, text_col, id_col, shingle_words)
        .select("shingle")
        .distinct()
        .select(F.explode(F.array(*positions(F.col("shingle")))).alias("p"))
        .distinct()
        .collect()
    )
    bitset = [0] * words
    for r in ev_pos:
        p = int(r["p"])
        bitset[p >> 6] |= 1 << (p & 63)
    # two's-complement to signed int64: bit 63 set would overflow the JVM
    # long on the py4j boundary otherwise ((x & mask) still extracts
    # correctly from negative longs)
    bitset = [w - (1 << 64) if w >= (1 << 63) else w for w in bitset]
    masks = [
        (1 << b) - (1 << 64) if b == 63 else (1 << b) for b in range(64)
    ]
    # ship the bitset as a 1-row BROADCAST side, not an array "literal":
    # pyspark's F.lit(list) expands to a CreateArray of one Literal PER
    # ELEMENT, and interpreted evaluation rebuilds that 16k-expression
    # array per row — measured ~14 s on a 4.5k-doc filter; as a broadcast
    # column the array is materialized once (1.5 s, and flat to 8x docs)
    spark = train.sparkSession
    aux = local_frame(
        spark, [(bitset, masks)], "__bloom array<bigint>, __masks array<bigint>"
    )

    def is_set(p: Column) -> Column:
        word = F.element_at(F.col("__bloom"), (p / F.lit(64)).cast("int") + 1)
        mask = F.element_at(F.col("__masks"), (p % 64).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    def hit(sh: Column) -> Column:
        cond = F.lit(True)
        for p in positions(sh):
            cond = cond & is_set(p)
        return cond

    # stage the TOKEN array before the shingle transform (not just the
    # shingle result): inlined, every slice in word_ngrams' lambda
    # re-runs the tokenize — O(len · n_shingles) per doc (the
    # shingle_sets / token_adjacency_edges trap). Then a linear
    # exists() — the train side stays a broadcast-join + filter,
    # no shuffle
    staged = (
        train.withColumn("__toks", _tokens(F.col(text_col)))
        .withColumn("__sh", word_ngrams(F.col("__toks"), shingle_words))
        .drop("__toks")
        .join(F.broadcast(aux))
    )
    contaminated = F.exists(F.col("__sh"), hit)
    return (
        staged.where(~F.coalesce(contaminated, F.lit(False)))
        .drop("__sh", "__bloom", "__masks")
    )


def keep_best_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    driver_threshold: int = planning.DRIVER_EDGE_LIMIT,
) -> DataFrame:
    """Quality-aware near-dup collapse: cluster the candidate ``pairs``
    (connected components) and keep the HIGHEST-``score_col`` member of
    each cluster, ties broken by lowest id — the curation policy when a
    cluster mixes a clean original with truncated/boilerplate mirrors
    and "first seen" is the wrong survivor. Rows in no cluster pass
    through untouched.

    Plan: duplicate_clusters (policy-gated driver/distributed kernel)
    -> one broadcast-sized join of cluster labels onto the corpus
    (labels cover only clustered docs — LSH output, corpus-independent)
    -> one row_number window keyed by the effective cluster (singletons
    key on their own id, so the window never concentrates mass).
    Returns the surviving rows of ``df`` plus their ``cluster_id``
    (null for singletons).
    """
    from pyspark.sql import Window

    labels = duplicate_clusters(pairs, driver_threshold=driver_threshold)
    labeled = df.join(
        F.broadcast(labels.withColumnRenamed("doc_id", "__cid")),
        df[id_col] == F.col("__cid"),
        "left",
    ).drop("__cid")
    eff = F.coalesce(F.col("cluster_id"), F.col(id_col))
    w = Window.partitionBy(eff).orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_ngram_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
) -> DataFrame:
    """Per-document duplicated-text ratio: the fraction of a document's
    distinct word n-grams that also occur in at least one OTHER document
    — the span-level signal behind "deduplicate training data" style
    filtering (docs made of boilerplate score near 1 even when no single
    full-document duplicate exists; cf. exact-substring dedup in Lee et
    al., ACL'22). Filter ``dup_coverage >= t`` to drop template-heavy
    documents that pairwise dedup (:func:`ngram_jaccard_pairs`) misses.

    Returns ``(id_col, n_shingles, n_dup_shingles, dup_coverage)``;
    coverage is a ratio of integers rounded to 6 decimals (exact
    cross-engine).

    Scale shape: one shingle explode (distinct per doc), one shingle-
    keyed groupBy for document frequency (map-side combinable; the
    shuffle carries (shingle, df) not text), one join back on shingle,
    one id-keyed count. The same inverted-index discipline as the
    n-gram dedup family — never all-pairs.
    """
    sh = shingle_sets(df, text_col, id_col, shingle_words)
    dfreq = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    per_doc = (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("__df") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("n_dup_shingles"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_shingles",
        "n_dup_shingles",
        F.round(
            F.col("n_dup_shingles").cast("double") / F.col("n_shingles"), 6
        ).alias("dup_coverage"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring span removal — the *removal* counterpart of
    :func:`duplicate_ngram_coverage` (which only scores). Every
    occurrence of a word ``shingle_words``-gram that appears at least
    ``min_count`` times across the corpus (counting repeats inside the
    same document, like a suffix array would) marks its token span
    removed; the surviving tokens are re-joined in order. This is the
    word-granularity form of the "deduplicate training data" exact
    substring dedup (Lee et al., ACL'22) — the step that excises shared
    boilerplate passages from otherwise-unique documents, which
    document-level dedup (MinHash, SimHash, exact hash) cannot do.

    Returns ``(id_col, text_deduped, n_tokens, n_removed,
    removed_ratio)`` — one row per input document. ``text_deduped`` is
    token-normalized (lowercased, single-space separated) for EVERY row
    so output text is uniform whether or not spans were removed; fully
    duplicated documents come back with ``text_deduped = ''`` (filter
    on ``removed_ratio`` downstream). Documents shorter than
    ``shingle_words`` tokens have no positional shingles and pass
    through untouched — whole-document duplicates are exact dedup's
    job, not span removal's.

    Scale shape (the inverted-index discipline — never all-pairs, never
    a corpus collect):

    - one tokenize scan; positional shingles are an expression-level
      transform over the token array;
    - shingle document frequency = ONE map-side-combinable groupBy
      whose shuffle carries ``(shingle, count)``, not text;
    - duplicated occurrences come back via a semi join on the shingle
      key; covered positions explode only the DUPLICATED spans
      (bounded by dup occurrences x shingle_words, not corpus tokens);
    - the token-level rebuild (posexplode + anti join + ordered
      re-concat) runs ONLY over affected documents (semi join first) —
      untouched documents re-join their token array as a pure
      projection, no shuffle. A boilerplate-free corpus therefore pays
      one groupBy and nothing else.
    """
    text = F.col(text_col)
    k = int(shingle_words)
    toks = df.select(
        F.col(id_col).alias("id"), _tokens(text).alias("__toks")
    ).withColumn("__n", F.size(F.col("__toks")))

    # positional shingles: pos in 1..n-k+1 (1-based, matching F.slice)
    pos_shingles = F.when(
        F.col("__n") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - F.lit(k) + 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(F.col("__toks"), i, k), " ").alias(
                    "shingle"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,shingle:string>>"))
    occ = toks.select(
        "id", F.explode(pos_shingles).alias("__s")
    ).select("id", F.col("__s.pos").alias("pos"), F.col("__s.shingle").alias("shingle"))

    dup_sh = (
        occ.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_count))
        .select("shingle")
    )
    dup_occ = occ.join(dup_sh, "shingle", "leftsemi")
    covered = (
        dup_occ.select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    n_cov = covered.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_removed")
    )

    # rebuild ONLY the affected documents: posexplode -> anti join on the
    # covered (id, pos) -> ordered re-concat; one id-keyed exchange
    affected = toks.join(covered.select("id").distinct(), "id", "leftsemi")
    tokpos = affected.select(
        "id", F.posexplode(F.col("__toks")).alias("__p0", "__w")
    ).select("id", (F.col("__p0") + 1).alias("pos"), F.col("__w").alias("word"))
    kept = tokpos.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
            " ",
        ).alias("__new")
    )

    out = (
        toks.join(n_cov, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("__n_removed").isNotNull(), F.coalesce(F.col("__new"), F.lit("")))
            .otherwise(F.array_join(F.col("__toks"), " "))
            .alias("text_deduped"),
            F.col("__n").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("__n_removed"), F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
            F.when(
                F.col("__n") > 0,
                F.round(
                    F.coalesce(F.col("__n_removed"), F.lit(0)).cast("double")
                    / F.col("__n"),
                    config.SIMILARITY_SCALE,
                ),
            ).otherwise(F.lit(0.0)).alias("removed_ratio"),
        )
    )
    return out


def remove_duplicate_spans_chars(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_chars: int = 40,
    min_count: int = 2,
) -> DataFrame:
    """Character-granularity exact-substring span removal — the
    sub-token counterpart of :func:`remove_duplicate_spans`. Every
    character position covered by a ``gram_chars``-character substring
    that occurs at least ``min_count`` times across the corpus (within-
    document repeats count, like a suffix array would) is excised and
    the survivors re-concatenated in order. This closes the granularity
    gap the word-8-gram form leaves (Lee et al., ACL'22 §4 dedup on
    byte suffix arrays with a ~50-byte threshold): duplicated markup,
    code fragments, and other sub-token repeats that never align to
    word boundaries. Any duplicated substring of length >= ``gram_chars``
    produces L-k+1 duplicated k-grams covering all L characters, so the
    positional k-gram index removes exactly the suffix-array spans at
    this threshold. (Spark strings are addressed per CHARACTER, not per
    byte — on ASCII corpora the two coincide.)

    Returns ``(id_col, text_deduped, n_chars, n_removed,
    removed_ratio)``, one row per input document; text passes through
    VERBATIM where nothing is removed (no token normalization — char
    mode must not rewrite whitespace), fully-duplicated documents come
    back as ``''``, and documents shorter than ``gram_chars`` have no
    positional grams and are untouched.

    Scale shape (inverted-index discipline, plus two char-mode-specific
    moves):

    - the shuffle key is ``substr(md5(gram), 1, 24)`` — a 96-bit
      prefix, 24 bytes per position instead of ``gram_chars`` text
      bytes, so the frequency groupBy moves ~0.6x the corpus instead of
      ~40x (the salted-md5 determinism discipline: identical function
      in the SQL oracle). 96 bits keeps birthday collisions negligible
      at corpus scale: ~1e14 gram positions yield ~6e-2 expected
      colliding pairs (n^2 / 2^97), where the previous 64-bit prefix
      would already expect ~2.7e8 — each a false duplicate excising up
      to gram_chars characters (ADVICE r10 item 2);
    - duplicated occurrences return via a semi join on the hash key;
    - the rebuild NEVER explodes to characters: per affected document
      the duplicated spans fold into a sorted merged-interval list (one
      expression over the collected occurrence structs — bounded by dup
      occurrences, not characters) and the surviving text is stitched
      with one substring fold over those intervals. Untouched documents
      pass through as a projection; a boilerplate-free corpus pays one
      groupBy and nothing else.
    """
    k = int(gram_chars)
    if k < 2:
        raise ValueError(f"remove_duplicate_spans_chars: gram_chars >= 2, got {k}")
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("__t")
    ).withColumn("__n", F.length("__t"))

    ghash = lambda s: F.substring(F.md5(s), 1, 24)  # noqa: E731
    pos_grams = F.when(
        F.col("__n") >= k,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - F.lit(k) + 1),
            lambda i: F.struct(
                i.alias("pos"),
                ghash(F.col("__t").substr(i, F.lit(k))).alias("gh"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,gh:string>>"))
    occ = base.select("id", F.explode(pos_grams).alias("__g")).select(
        "id", F.col("__g.pos").alias("pos"), F.col("__g.gh").alias("gh")
    )
    dup = (
        occ.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= int(min_count))
        .select("gh")
    )
    # per affected doc: sorted dup-occurrence intervals -> merged
    # disjoint intervals (adjacency merges too — the union of covered
    # positions is identical and the stitch fold below requires gaps)
    ivs = (
        occ.join(dup, "gh", "leftsemi")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos").alias("s"),
                        (F.col("pos") + F.lit(k - 1)).alias("e"),
                    )
                )
            ).alias("__ivs")
        )
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    merged_col = F.aggregate(
        F.col("__ivs"),
        empty,
        lambda acc, x: F.when(
            F.size(acc) == 0,
            F.array(F.struct(x["s"].alias("s"), x["e"].alias("e"))),
        ).otherwise(
            F.when(
                x["s"] <= F.element_at(acc, -1)["e"] + 1,
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], x["e"]
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc, F.array(F.struct(x["s"].alias("s"), x["e"].alias("e")))
                )
            )
        ),
    )
    affected = ivs.select("id", merged_col.alias("__m"))

    out = base.join(affected, "id", "left")
    n_removed = F.aggregate(
        F.col("__m"),
        F.lit(0),
        lambda acc, x: acc + (x["e"] - x["s"] + F.lit(1)),
    )
    # stitch: fold over merged intervals accumulating the inter-span
    # substrings, finish with the tail past the last interval
    stitched = F.aggregate(
        F.col("__m"),
        F.struct(F.lit(0).alias("prev"), F.lit("").alias("out")),
        lambda acc, x: F.struct(
            x["e"].alias("prev"),
            F.concat(
                acc["out"],
                F.col("__t").substr(
                    acc["prev"] + F.lit(1), x["s"] - acc["prev"] - F.lit(1)
                ),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.col("__t").substr(
                acc["prev"] + F.lit(1), F.col("__n") - acc["prev"]
            ),
        ),
    )
    return out.select(
        F.col("id").alias(id_col),
        F.when(F.col("__m").isNotNull(), stitched)
        .otherwise(F.col("__t"))
        .alias("text_deduped"),
        F.col("__n").cast("bigint").alias("n_chars"),
        F.coalesce(n_removed, F.lit(0)).cast("bigint").alias("n_removed"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.coalesce(n_removed, F.lit(0)).cast("double") / F.col("__n"),
                config.SIMILARITY_SCALE,
            ),
        ).otherwise(F.lit(0.0)).alias("removed_ratio"),
    )
