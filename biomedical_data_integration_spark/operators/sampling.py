"""Deterministic sampling and dataset-splitting operators.

A 100 TB training-data pipeline needs *reproducible* sampling: held-out
train/valid/test splits that are stable across runs, cluster sizes, and
engines (no partition-dependent ``df.sample``). Everything here keys the
decision on an md5 hex prefix of a row key, compared lexicographically —
md5 is bit-identical in Spark and DuckDB (see ``functions/hashing.py``),
a fixed-width lowercase-hex string comparison is engine-neutral, and the
digest is uniform, so a prefix threshold of ``fraction * 16^digits``
samples each row independently with probability ``fraction``.

The reference's only sampling is a 15-row deterministic head/sample per
column for embeddings (``bdikit/models/contrastive_learning/cl_api.py:94-106``)
and its ``random_state=1`` pandas seed — partition-independent hash
gating is the distributed version of that determinism requirement.

Every operator is a narrow projection + filter: no shuffle, pushdown
friendly, safe at any scale.
"""

from __future__ import annotations

import math
from typing import Dict, Mapping, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark.functions.hashing import md5_hex
from biomedical_data_integration_spark.session import local_frame

_DIGITS = 12  # 16^12 granularity: fraction resolution ~6e-16..2e-13


def _hex_threshold(fraction: float, digits: int = _DIGITS) -> str:
    """Lowercase hex threshold string: rows whose md5 prefix sorts strictly
    below it are kept; P(keep) = fraction (up to 16^-digits granularity)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return format(min(int(fraction * (16 ** digits)), 16 ** digits - 1), f"0{digits}x")


def _prefix(key: Column, salt: str) -> Column:
    return F.substring(md5_hex(key, salt=salt), 1, _DIGITS)


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Uniform row sample, reproducible everywhere: keep rows with
    ``md5(salt|key)[:12] < hex(fraction * 16^12)``.

    Unlike ``DataFrame.sample`` (partition-layout dependent), the decision
    is a pure function of the key — the same rows are kept on 1 core or
    1000 executors, today and next year. Changing ``salt`` draws an
    independent sample.
    """
    return df.where(_prefix(F.col(key_col), salt) < _hex_threshold(fraction))


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/valid/test/...) by hash.

    ``splits`` maps name -> fraction; fractions must sum to 1 (±1e-9).
    Assignment is a CASE over cumulative hex thresholds of the key's md5
    prefix — deterministic, engine-portable, and a row's split never
    changes when data is added elsewhere (the property that keeps eval
    sets uncontaminated as a corpus grows).
    """
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    prefix = _prefix(F.col(key_col), salt)
    cum = 0.0
    expr: Column | None = None
    names = list(splits)
    for name in names[:-1]:
        cum += splits[name]
        cond = prefix < _hex_threshold(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    assigned = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, assigned)


def mix_corpus_by_tokens(
    df: DataFrame,
    budgets: Mapping[str, Union[int, float]],
    source_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
    tokens_fn=None,
) -> DataFrame:
    """Token-budget corpus mixing — the data-mixing stage of a pretraining
    pipeline: downsample each source so its EXPECTED surviving token count
    hits the requested budget (sources over budget are thinned, sources at
    or under budget pass through whole, sources without a budget drop).

    Two stages, both scale-safe: ONE aggregation job computes per-source
    token totals (output is source-count-sized), then the per-source
    fraction ``min(1, budget / total)`` feeds the same shuffle-free
    deterministic hash gate as :func:`stratified_sample` — no second scan
    of token arrays, no per-group pass, reproducible on any cluster
    layout. ``tokens_fn`` is the same tokenizer seam as
    ``chunk_documents`` (inject a real subword tokenizer for BPE budgets).
    """
    from biomedical_data_integration_spark.operators.text import tokens_expr

    tok = tokens_fn or tokens_expr
    totals = {
        r[0]: r[1]
        for r in df.groupBy(source_col)
        .agg(F.sum(F.size(tok(F.col(text_col)))).alias("__t"))
        .collect()
    }
    fractions: Dict[str, float] = {}
    for src, total in totals.items():
        budget = budgets.get(src)
        if budget is None:
            continue
        fractions[src] = (
            1.0 if not total else min(1.0, float(budget) / float(total))
        )
    return stratified_sample(df, source_col, key_col, fractions, salt=salt)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: Union[float, Dict[str, float]],
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum deterministic sample (e.g., rebalance a skewed corpus
    by language or source). ``fractions`` is one fraction for all strata
    or a dict ``stratum value -> fraction`` (missing strata keep 0 rows).

    Same hash-gate as :func:`deterministic_sample`, so strata are sampled
    independently and reproducibly; no shuffle, no per-group pass.
    """
    prefix = _prefix(F.col(key_col), salt)
    if isinstance(fractions, (int, float)):
        return df.where(prefix < _hex_threshold(float(fractions)))
    if not fractions:
        return df.where(F.lit(False))
    # natively-typed comparison: casting both sides to string silently
    # matches nothing when Python str() and Spark's cast disagree (floats,
    # decimals, dates) — let Spark's coercion rules align lit(k) instead
    thr = F.coalesce(
        *[
            F.when(
                F.col(strata_col) == F.lit(k),
                F.lit(_hex_threshold(v)),
            )
            for k, v in fractions.items()
        ],
        F.lit(_hex_threshold(0.0)),
    )
    return df.where(prefix < thr)


def temperature_mix(
    df: DataFrame,
    total_budget: Union[int, float],
    alpha: float = 0.5,
    source_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "tmix",
    tokens_fn=None,
) -> DataFrame:
    """Temperature-based source mixing — the multilingual-LM alpha-sampling
    scheme (mBERT/XLM-R): source s gets sampling weight
    ``p_s = tokens_s^alpha / sum_t tokens_t^alpha`` and a token budget
    ``p_s * total_budget``; ``alpha < 1`` flattens the distribution so
    low-resource sources are upweighted relative to their raw share
    (``alpha=1`` reproduces natural proportions, ``alpha=0`` is uniform).

    Same two-stage shape as :func:`mix_corpus_by_tokens`: ONE aggregation
    job for per-source token totals (source-count-sized output), then the
    shuffle-free deterministic hash gate with per-source fraction
    ``min(1, budget_s / tokens_s)``. This engine downsamples only (no row
    duplication): a source whose temperature budget exceeds its size
    passes through whole.
    """
    from biomedical_data_integration_spark.operators.text import tokens_expr

    if alpha < 0:
        raise ValueError("temperature_mix: alpha must be >= 0")
    tok = tokens_fn or tokens_expr
    totals = {
        r[0]: float(r[1])
        for r in df.groupBy(source_col)
        .agg(F.sum(F.size(tok(F.col(text_col)))).alias("__t"))
        .collect()
        if r[1]
    }
    # fsum over sorted-source order: collect() row order is nondeterministic
    # and plain float accumulation is order-sensitive, so an unordered sum
    # can differ by an ulp run-to-run (and from the SQL oracle) — enough to
    # flip floor(frac * 16^12) for a boundary document. fsum is exactly
    # rounded (order-free); the fraction is additionally rounded to 9
    # decimals on BOTH engines so residual libm pow/division ulps cannot
    # reach the threshold floor either.
    sum_w = math.fsum(totals[s] ** alpha for s in sorted(totals))
    fractions: Dict[str, float] = {
        s: round(min(1.0, (t ** alpha / sum_w) * float(total_budget) / t), 9)
        for s, t in totals.items()
    }
    return stratified_sample(df, source_col, key_col, fractions, salt=salt)


def group_kfold(
    df: DataFrame,
    group_col: str,
    n_folds: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """Leakage-aware k-fold assignment: every row of a GROUP lands in the
    same fold (``md5(salt|group) mod n_folds``), so near-identical rows
    sharing a group (same user, same source document, same patient) never
    straddle a train/eval boundary — the failure mode plain row-hash
    splits have on grouped data.

    Pure projection (no shuffle, no state); fold membership is a function
    of the group key alone, so it is stable under data growth and across
    engines. Appends an int ``fold`` column in [0, n_folds).
    """
    if n_folds < 2:
        raise ValueError("group_kfold: n_folds must be >= 2")
    from biomedical_data_integration_spark.functions.hashing import md5_bigint

    return df.withColumn(
        "fold",
        (md5_bigint(F.col(group_col), salt=salt) % n_folds).cast("int"),
    )


def balance_classes(
    df: DataFrame,
    label_col: str,
    key_col: str,
    salt: str = "balance",
) -> DataFrame:
    """Downsample every class to (approximately) the size of the SMALLEST
    class — the classic rebalancing step before training a classifier on
    skewed labels. One aggregation job computes class counts
    (label-cardinality-sized output); each class then passes through the
    deterministic hash gate at fraction ``min_count / count(label)``.
    Downsampling only — no row duplication.
    """
    counts = {
        r[0]: r[1]
        for r in df.groupBy(label_col).agg(F.count("*").alias("__n")).collect()
        if r[0] is not None
    }
    if not counts:
        return df.where(F.lit(False))
    smallest = min(counts.values())
    fractions = {lbl: smallest / n for lbl, n in counts.items()}
    return stratified_sample(df, label_col, key_col, fractions, salt=salt)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "cap",
) -> DataFrame:
    """Deterministic per-group cap: keep at most ``k`` rows per group,
    chosen by smallest salted md5 of the row key — the per-domain
    document cap every web-crawl curation applies so one giant host
    cannot dominate the corpus. The draw is a pure function of
    (salt, key): stable across runs, engines, and data growth (a row's
    fate never changes because OTHER rows arrived, as long as it stays
    in the k smallest hashes of its group).

    One hash-partitioned window per group (the minimal plan for an
    exact per-key top-k). A pathologically hot group makes a hot
    partition — the standard window-skew caveat; the hash order means
    no value-ordered sort spill, just a k-row selection.
    """
    if k < 1:
        raise ValueError("cap_per_group: k must be >= 1")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        md5_hex(F.col(key_col), salt=salt)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "ws1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    each row draws u ~ U(0,1) deterministically from its salted md5 and
    scores ``ln(u) / w``; the k highest scores win. P(inclusion) follows
    the weights exactly as in the sequential weighted-reservoir scheme,
    but the draw is a pure per-row expression, so the plan is a
    distributed top-k (TakeOrderedAndProject — no full sort, no state),
    and re-runs/backfills pick the same sample bit-for-bit.

    u = (first-12-hex-digits(md5) + 0.5) / 16^12 — never 0 or 1. Rows
    with NULL or non-positive weight are excluded (ln(u)/w loses its
    ordering meaning there). The score is floor-quantized to 12 decimals
    with the row id as tiebreak, making the top-k boundary deterministic
    cross-engine (raw libm ln() can differ in the last ulp between
    engines). Output: input columns + ``draw_key``.
    """
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    w = F.col(weight_col).cast("double")
    u = (
        F.conv(F.substring(md5_hex(F.col(id_col), salt=salt), 1, _DIGITS),
               16, 10).cast("double")
        + F.lit(0.5)
    ) / float(16 ** _DIGITS)
    raw = F.log(u) / w
    qkey = F.floor(raw * 1e12 + F.lit(0.5)) / 1e12
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("draw_key", qkey)
        .orderBy(F.col("draw_key").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "ws1",
) -> DataFrame:
    """Stratified weighted sampling WITHOUT replacement: an independent
    Efraimidis–Spirakis draw of up to ``k`` rows inside EVERY group —
    the per-language / per-source quota sampler. Identical draw keys to
    :func:`weighted_sample` (same salt => the same row wins wherever it
    competes); the global top-k becomes a per-group row_number window,
    so the plan is one hash-partitioned window instead of a global
    TakeOrderedAndProject. Groups smaller than ``k`` keep everything.
    Output: input columns + ``draw_key``.
    """
    if k < 1:
        raise ValueError("weighted_sample_per_group: k must be >= 1")
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    u = (
        F.conv(F.substring(md5_hex(F.col(id_col), salt=salt), 1, _DIGITS),
               16, 10).cast("double")
        + F.lit(0.5)
    ) / float(16 ** _DIGITS)
    qkey = F.floor(F.log(u) / w * 1e12 + F.lit(0.5)) / 1e12
    win = Window.partitionBy(group_col).orderBy(
        F.col("draw_key").desc(), F.col(id_col).asc()
    )
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("draw_key", qkey)
        .withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    smoothing: float = 0.5,
    _model_only: bool = False,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169) weights: score every raw document by how much its
    hashed-unigram distribution looks like the TARGET domain vs the raw
    corpus — the standard cheap way to tilt a 100 TB crawl toward a
    small high-quality target before training.

    Tokens hash into ``n_buckets`` buckets (salted md5 — deterministic
    cross-engine, no feature dictionary to build). Per bucket, the
    log-ratio ``ln(p_target(b) / p_raw(b))`` under Laplace smoothing is
    floor-quantized to 6 decimals; a document's ``log_weight`` is the
    exact bigint micro-unit sum of its tokens' quantized ratios (higher
    = more target-like) and ``avg_log_ratio`` divides by token count to
    remove length bias. Downstream: importance-resample with
    :func:`weighted_sample` on ``exp(log_weight)`` or threshold on
    ``avg_log_ratio``.

    Scale shape: the bucket table is ``n_buckets`` rows built by two
    map-side-combinable token counts (one scan each side); scoring is
    one explode + one BROADCAST join against the bucket table + one
    id-keyed groupBy. Raw-corpus-sized work is exactly two scans.
    """
    from biomedical_data_integration_spark.functions.hashing import md5_bigint

    from .text import tokens_expr

    if n_buckets < 2:
        raise ValueError("dsir_weights: n_buckets must be >= 2")

    def bucket_counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(tokens_expr(F.col(text_col))).alias("__tok"))
            .select(
                (md5_bigint(F.col("__tok"), salt="dsir") % n_buckets).alias(
                    "bucket"
                )
            )
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    t = bucket_counts(target, "n_target")
    r = bucket_counts(raw, "n_raw")
    totals_t = t.agg(F.sum("n_target").cast("bigint").alias("__tt"))
    totals_r = r.agg(F.sum("n_raw").cast("bigint").alias("__tr"))
    s = float(smoothing)
    sb = s * n_buckets
    model = (
        r.join(t, "bucket", "full_outer")
        .crossJoin(F.broadcast(totals_t))
        .crossJoin(F.broadcast(totals_r))
        .select(
            "bucket",
            # quantized per-bucket log-ratio: exact 6-decimal value, so
            # per-document sums below are order-free bigint arithmetic
            (
                F.floor(
                    (
                        F.log(
                            (F.coalesce("n_target", F.lit(0)) + F.lit(s))
                            / (F.col("__tt") + F.lit(sb))
                        )
                        - F.log(
                            (F.coalesce("n_raw", F.lit(0)) + F.lit(s))
                            / (F.col("__tr") + F.lit(sb))
                        )
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("__lr_micro"),
        )
    )
    if _model_only:
        return model
    occ = raw.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens_expr(F.col(text_col))).alias("__tok"),
    ).select(
        "id",
        F.when(
            F.col("__tok").isNotNull(),
            md5_bigint(F.col("__tok"), salt="dsir") % n_buckets,
        ).alias("bucket"),
    )
    scored = occ.join(F.broadcast(model), "bucket", "left")
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.col("bucket")).cast("bigint").alias("n_tokens"),
        (F.sum("__lr_micro").cast("double") / F.lit(1e6)).alias("log_weight"),
        F.when(
            F.count(F.col("bucket")) > 0,
            F.sum("__lr_micro").cast("double")
            / (F.count(F.col("bucket")) * F.lit(1e6)),
        ).alias("avg_log_ratio"),
    )


def dsir_bucket_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    smoothing: float = 0.5,
) -> list:
    """Collect the :func:`dsir_weights` bucket model as a DENSE
    ``n_buckets``-long list of micro-quantized log-ratios — the
    driver-side artifact the streaming face
    (:func:`~biomedical_data_integration_spark.streaming.streaming_dsir_score`)
    inlines as literals, the same fit-batch/serve-stream split
    ``pq_encode`` and ``lm_score`` already use. Buckets no token hashed
    into (absent from both corpora) get ratio 0 — exactly the
    contribution the batch scorer's left join + null-skipping sum gives
    tokens that land there. n_buckets*8 bytes rides the plan; 1024
    buckets is KBs."""
    model = dsir_weights(
        raw, target, text_col=text_col, n_buckets=n_buckets,
        smoothing=smoothing, _model_only=True,
    )
    got = {int(r["bucket"]): int(r["__lr_micro"]) for r in model.collect()}
    return [got.get(b, 0) for b in range(int(n_buckets))]


def unimax_allocation(
    df: DataFrame,
    total_budget: int,
    max_epochs: int = 4,
    lang_col: str = "lang",
    text_col: str = "text",
    tokens_fn=None,
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al., ICLR 2023):
    distribute a token budget as UNIFORMLY as possible across languages,
    capping every language at ``max_epochs`` epochs of its own corpus —
    the fairer alternative to temperature sampling
    (:func:`temperature_mix`), which still lets head languages dominate
    and can oversample tail languages past degeneracy.

    The paper's sequential waterfilling has a closed form: sort
    languages by capacity ``c_l = max_epochs * tokens_l`` ascending;
    language at rank ``i`` (of L) is CAPPED iff
    ``c_i * (L - i + 1) <= B - cumsum_{<i}(c)`` (the prefix property
    makes the per-row test exact), capped languages get ``c_l``, the
    rest split the remaining budget equally. With integer budget/epochs
    every flag decides in pure integer arithmetic — no float boundary
    can flip a cap between engines.

    Returns one row per language: ``(lang_col, n_docs, tokens_total,
    capacity, capped, alloc_tokens, epochs)`` — ``epochs`` > 1 means
    the language repeats in training (this operator allocates; pair
    with the hash-gate samplers to materialize a <= 1-epoch draw).

    Scale shape: ONE map-side-combinable aggregation over the corpus
    (language-cardinality output), then windows over the LANGUAGE table
    — |langs| rows however large the corpus, so the unpartitioned
    ordered window is bounded by construction (the collapsed-table
    pattern: markov_stationary, pareto_frontier).
    """
    from pyspark.sql import Window

    from biomedical_data_integration_spark.operators.text import tokens_expr

    if total_budget <= 0:
        raise ValueError("unimax_allocation: total_budget must be > 0")
    if int(max_epochs) < 1 or max_epochs != int(max_epochs):
        raise ValueError(
            "unimax_allocation: max_epochs must be an integer >= 1"
        )
    max_epochs = int(max_epochs)
    tok = tokens_fn or tokens_expr

    totals = (
        df.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size(tok(F.col(text_col))))
            .cast("bigint")
            .alias("tokens_total"),
        )
        .withColumn(
            "capacity",
            (F.col("tokens_total") * F.lit(max_epochs)).cast("bigint"),
        )
    )
    order = Window.orderBy(
        F.col("capacity").asc(), F.col("lang").asc_nulls_first()
    )
    whole = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    B = F.lit(int(total_budget)).cast("bigint")
    staged = (
        totals.withColumn("__rn", F.row_number().over(order))
        .withColumn(
            "__cum_prev",
            F.coalesce(
                F.sum("capacity").over(
                    order.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn("__L", F.count(F.lit(1)).over(whole))
        .withColumn(
            "capped",
            F.col("capacity") * (F.col("__L") - F.col("__rn") + 1)
            <= B - F.col("__cum_prev"),
        )
        .withColumn(
            "__capped_sum",
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("capacity"))).over(
                    whole
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn(
            "__n_uncapped",
            F.sum(F.when(~F.col("capped"), F.lit(1))).over(whole),
        )
    )
    alloc = F.when(
        F.col("capped"), F.col("capacity").cast("double")
    ).otherwise(
        F.round(
            (B - F.col("__capped_sum")).cast("double")
            / F.col("__n_uncapped"),
            6,
        )
    )
    return staged.select(
        F.col("lang").alias(lang_col),
        "n_docs",
        "tokens_total",
        "capacity",
        "capped",
        alloc.alias("alloc_tokens"),
        F.when(
            F.col("tokens_total") > 0,
            F.round(alloc / F.col("tokens_total"), 6),
        ).alias("epochs"),
    )


def max_coverage_select(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 1,
) -> DataFrame:
    """Greedy submodular max-coverage data selection (the classic
    Nemhauser–Wolsey–Fisher 1978 greedy, (1 − 1/e)-approximate for
    monotone submodular objectives): pick ``k`` documents maximizing the
    number of DISTINCT tokens the selection covers — the lexical-
    diversity counterpart of :func:`dsir_weights` (which tilts toward a
    target domain, while this maximizes vocabulary coverage inside a
    budget; both feed a 100 TB pre-training data-selection pass).

    ``ngram_n`` sets the covered unit: 1 = distinct tokens, n>1 =
    distinct word n-gram shingles (:func:`~biomedical_data_integration_spark.functions.strings.word_ngrams`,
    whole-document fallback for short docs). Small closed vocabularies
    saturate token coverage after one pick — shingles keep the
    objective discriminative (the registry query covers bigrams).

    Returns ``(rank, doc_id, gain, covered_total)``: ``gain`` is the
    count of not-yet-covered units the rank-th pick contributes,
    ``covered_total`` the running distinct-coverage. Selection stops
    early when the best marginal gain hits 0 (coverage saturated) —
    picking zero-gain filler would be arbitrary, so it never does.

    Scale shape: the distinct ``(doc, token)`` incidence table builds
    once (per-doc ``array_distinct`` before the explode — no corpus-wide
    dedup shuffle) and is localCheckpoint-pinned; each greedy step is
    ONE anti-join + map-side-combinable count over it, and the argmax
    collects exactly ONE row — k driver round-trips total, the same
    bounded-iteration contract as maxmin seeding (keep k ≲ 20; for
    hundreds of representatives use :func:`~biomedical_data_integration_spark.operators.clustering.kmeans`
    + per-cluster picks instead). Everything is INTEGER arithmetic
    (counts, id tiebreaks), so an ANSI-SQL oracle replays the greedy
    unrolled with no float-fold concerns.
    """
    from biomedical_data_integration_spark.functions.strings import word_ngrams

    from .text import tokens_expr

    if k < 1:
        raise ValueError(f"max_coverage_select: k must be >= 1, got {k}")
    if ngram_n < 1:
        raise ValueError(
            f"max_coverage_select: ngram_n must be >= 1, got {ngram_n}"
        )
    spark = df.sparkSession
    units = tokens_expr(F.col(text_col))
    if ngram_n > 1:
        units = word_ngrams(units, int(ngram_n))
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(units)).alias("tok"),
        )
        # NULL/empty-text docs must contribute NO units: the word_ngrams
        # short-doc fallback turns them into a phantom [NULL] / ['']
        # shingle, and a NULL unit never equi-joins the covered set —
        # every empty doc would greedily rank as "maximally novel"
        .where(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .localCheckpoint(eager=True)
    )
    selected: list = []
    out_rows = []
    covered_total = 0
    for rank in range(1, int(k) + 1):
        rem = toks
        if selected:
            covered = (
                toks.where(F.col("id").isin(selected))
                .select("tok")
                .distinct()
            )
            # covered is bounded by k · per-doc vocab (small by
            # construction) — broadcast, so the incidence table never
            # shuffles for the anti-join; the step's only shuffle is the
            # map-side-combinable gain count
            rem = toks.where(~F.col("id").isin(selected)).join(
                F.broadcast(covered), "tok", "left_anti"
            )
        best = (
            rem.groupBy("id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("id"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["gain"] == 0:
            break
        covered_total += int(best[0]["gain"])
        selected.append(best[0]["id"])
        out_rows.append((rank, best[0]["id"], int(best[0]["gain"]), covered_total))
    id_t = df.schema[id_col].dataType.simpleString()
    return local_frame(
        spark,
        out_rows,
        schema=f"rank int, {id_col} {id_t}, gain bigint, covered_total bigint",
    )
