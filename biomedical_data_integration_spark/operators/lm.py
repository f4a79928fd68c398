"""Count-based n-gram language models at corpus scale.

Engine extension: the quality-filtering stage of web-corpus pipelines
(CCNet and successors) scores documents with a KenLM-style n-gram model
and drops the high-perplexity tail. This module trains an interpolated
Kneser-Ney bigram model as pure count-table arithmetic — the corpus is
scanned once for bigram counts; every smoothing term is an aggregation
of the vocab-sized count tables — and scores documents with one
bigram-keyed join. No external LM toolkit, no driver-side model state.

Smoothing (interpolated KN, single discount D):

    P(w2|w1) = max(c(w1,w2) - D, 0) / c(w1*)
               + lam(w1) * Pcont(w2)
    lam(w1)  = D * N1+(w1*) / c(w1*)      (mass discounted off w1)
    Pcont(w2)= N1+(*w2) / T               (continuation probability)

where c(w1*) is the total bigram count starting at w1, N1+(w1*) the
number of distinct continuations of w1, N1+(*w2) the number of distinct
predecessors of w2, and T the number of distinct bigram types.

Determinism: probabilities are ratios of exact integer counts evaluated
with identical expression shapes, and every emitted log10 is rounded to
6 decimals, so the model tables — and therefore scores built from them
— are engine-reproducible (the SQL oracle replays training AND scoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .graph import token_adjacency_edges

DEFAULT_DISCOUNT = 0.75
LOGP_FLOOR = -7.0  # score for bigrams whose w2 was never seen


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    discount: float = DEFAULT_DISCOUNT,
) -> dict:
    """Train an interpolated Kneser-Ney bigram LM from a corpus.

    One corpus scan builds the bigram count table
    (:func:`operators.graph.token_adjacency_edges` — the same adjacency
    extraction the graph family uses); three vocab-sized aggregations
    derive the smoothing terms. Returns three DataFrames:

    - ``"bigram"``: (w1, w2, logp) — log10 of the full interpolated
      probability for every SEEN bigram;
    - ``"backoff"``: (w1, loglam) — log10 lam(w1), the unseen-bigram
      backoff weight per context;
    - ``"cont"``: (w2, logcont) — log10 Pcont(w2).

    Unseen-bigram probability at scoring time = loglam(w1) + logcont(w2),
    exactly the KN backoff. All logs rounded to 6 decimals (cross-engine
    reproducibility of the artifact).
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("train_bigram_lm: discount must be in (0, 1)")
    # materialize the count table ONCE (it is observed-types-sized):
    # ctx, cont, the type count, and the probability join all read it,
    # and without truncation each reference would replay the corpus
    # scan — the same lineage discipline as pagerank's edge table
    bg = token_adjacency_edges(df, text_col=text_col).localCheckpoint(
        eager=True
    )
    # context totals and distinct-continuation counts in one pass
    ctx = bg.groupBy(F.col("src").alias("w1")).agg(
        F.sum("weight").alias("ctot"),
        F.count("*").alias("n1fwd"),
    )
    cont = bg.groupBy(F.col("dst").alias("w2")).agg(
        F.count("*").alias("n1back")
    )
    t_types = bg.count()  # scalar: number of distinct bigram types
    if t_types == 0:
        spark = df.sparkSession
        return {
            "bigram": local_frame(spark, [], "w1 string, w2 string, logp double"),
            "backoff": local_frame(spark, [], "w1 string, loglam double"),
            "cont": local_frame(spark, [], "w2 string, logcont double"),
        }
    D = float(discount)
    lam = F.lit(D) * F.col("n1fwd") / F.col("ctot")
    pcont = F.col("n1back") / F.lit(float(t_types))
    backoff = ctx.select(
        "w1", F.round(F.log10(lam), 6).alias("loglam")
    )
    cont_out = cont.select(
        "w2", F.round(F.log10(pcont), 6).alias("logcont")
    )
    p = (
        F.greatest(F.col("weight") - F.lit(D), F.lit(0.0)) / F.col("ctot")
        + lam * F.col("__pc")
    )
    bigram = (
        bg.join(ctx, bg["src"] == ctx["w1"])
        .join(
            cont.select(F.col("w2").alias("__w2"), (F.col("n1back") / F.lit(float(t_types))).alias("__pc")),
            bg["dst"] == F.col("__w2"),
        )
        .select(
            F.col("src").alias("w1"),
            F.col("dst").alias("w2"),
            F.round(F.log10(p), 6).alias("logp"),
        )
    )
    return {"bigram": bigram, "backoff": backoff, "cont": cont_out}


def lm_score(
    df: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    logp_floor: float = LOGP_FLOOR,
    broadcast_model: bool = True,
) -> DataFrame:
    """Score documents with a :func:`train_bigram_lm` model: average
    log10 probability per bigram occurrence — the LM quality signal
    (higher = more fluent under the training corpus; filter the low
    tail like CCNet's perplexity buckets).

    Plan: per-document bigram occurrences explode (every occurrence
    scored, duplicates included), ONE equi-join against the bigram
    table, a backoff join (context weight + continuation) for the
    misses, ``logp_floor`` for never-seen continuations. One groupBy by
    document. Output (id, n_bigrams, avg_logp10); documents with fewer
    than 2 tokens score NULL with n_bigrams 0.
    """
    from .text import tokens_expr

    # tokens staged in their OWN projection: inlined, each
    # element_at(toks, i) re-runs the whole tokenize — O(len^2)/doc
    # (the shingle_sets / token_adjacency_edges trap, measured 15x)
    staged = df.select(
        F.col(id_col).alias("id"), tokens_expr(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    occ = staged.select("id", F.explode_outer(pairs).alias("e")).select(
        "id", "e.w1", "e.w2"
    )
    # broadcast_model=True fits natural-language vocabularies (bigram
    # tables are observed-types-sized, usually tens of MB); set False on
    # extreme vocabularies to let AQE pick a shuffle join instead
    hint = F.broadcast if broadcast_model else (lambda d: d)
    lp = F.coalesce(
        F.col("logp"),
        F.col("loglam") + F.col("logcont"),
        F.lit(float(logp_floor)),
    )
    scored = (
        occ.join(hint(lm["bigram"]), ["w1", "w2"], "left")
        .join(hint(lm["backoff"]), "w1", "left")
        .join(hint(lm["cont"]), "w2", "left")
        .select(
            "id",
            F.col("w1").isNotNull().cast("int").alias("has_pair"),
            # per-occurrence logp in exact integer micro-units: the model
            # tables are 6-decimal by construction, so floor(x*1e6 + 0.5)
            # recovers the exact integer; bigint summation is then
            # order-free and engine-exact, unlike summing doubles, whose
            # last-ulp order sensitivity can flip the output rounding
            F.floor(lp * 1e6 + F.lit(0.5)).cast("bigint").alias("__lpi"),
        )
    )
    return scored.groupBy(F.col("id").alias(id_col)).agg(
        F.sum("has_pair").cast("bigint").alias("n_bigrams"),
        (
            F.sum(F.when(F.col("has_pair") == 1, F.col("__lpi"))).cast(
                "double"
            )
            / (F.sum("has_pair") * F.lit(1e6))
        ).alias("avg_logp10"),
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k collocations (PMI / normalized-PMI ranked bigrams) — the
    phrase-mining pass that finds "new york"-style units worth fusing
    into single tokens before LM training or vocabulary induction.

    PMI(w1,w2) = ln(c12·N / (c1·c2)) over the bigram count table (c1/c2
    are the context/continuation totals, N the total bigram count);
    NPMI = PMI / ln(N/c12) maps it to (-1, 1] so rankings are
    frequency-comparable. ``min_count`` drops the unstable singleton
    tail BEFORE the joins. Rounded to 6 BEFORE ranking; ties break on
    (w1, w2) so the top-k cut is a total order.

    Scale shape: one corpus scan for the bigram table, two vocab-sized
    total joins, one global top-k (TakeOrdered — no full sort). N rides
    the plan as a literal (one scalar job off the counts table).
    """
    bg = token_adjacency_edges(df, text_col=text_col).localCheckpoint(
        eager=True
    )
    n_total = bg.agg(F.sum("weight")).collect()[0][0]
    if not n_total:
        return local_frame(
            df.sparkSession,
            [], "w1 string, w2 string, n12 bigint, pmi double, npmi double"
        )
    c1 = bg.groupBy(F.col("src").alias("w1")).agg(
        F.sum("weight").cast("bigint").alias("__ct1")
    )
    c2 = bg.groupBy(F.col("dst").alias("w2")).agg(
        F.sum("weight").cast("bigint").alias("__ct2")
    )
    nn = F.lit(float(n_total))
    filt = bg.where(F.col("weight") >= min_count)
    c12 = F.col("weight").cast("double")
    raw_pmi = F.log(
        c12 * nn / (F.col("__ct1").cast("double") * F.col("__ct2").cast("double"))
    )
    denom = F.log(nn / c12)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    scored = (
        filt.join(c1, filt["src"] == c1["w1"])
        .join(c2, filt["dst"] == c2["w2"])
        .select(
            F.col("src").alias("w1"),
            F.col("dst").alias("w2"),
            F.col("weight").cast("bigint").alias("n12"),
            q6(raw_pmi).alias("pmi"),
            F.when(denom > 0, q6(raw_pmi / denom)).alias("npmi"),
        )
    )
    return scored.orderBy(F.desc("npmi"), F.asc("w1"), F.asc("w2")).limit(
        top_k
    )
