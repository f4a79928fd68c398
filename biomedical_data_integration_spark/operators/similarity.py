"""Similarity search over embedding columns (array<float>).

Extension operators for training-data pipelines (BASELINE.json north-star):

- :func:`cosine_topk` — exact brute-force top-k: broadcast the query side,
  cosine via codegen'd array math, window top-k. The baseline and the
  verifier for approximate variants. Cost: |Q| x |corpus| — fine when |Q|
  is bounded; the corpus side streams (never collected, never shuffled
  except the final window, which is partitioned by query).
- :func:`hyperplane_lsh_topk` — LSH-bucketed approximate top-k: both sides
  hash to a random-hyperplane sign bucket; only same-bucket pairs are
  scored. The hyperplanes are md5-derived ±1 vectors, so the whole plan is
  deterministic and oracle-reproducible. Recall is tunable via
  ``planes`` (fewer planes = bigger buckets = higher recall, more compute).
- :func:`ivf_topk` — inverted-file approximate top-k: a deterministic
  coarse quantizer (the ``n_cells`` lowest-id corpus vectors serve as
  centroids), every corpus vector assigned to its best centroid, queries
  probe their ``nprobe`` best cells and brute-force only those cells.
  Search cost drops ~``nprobe / n_cells``; recall is tunable via
  ``nprobe``. Fully deterministic (ties broken by id) — oracle-checkable.

At 1000-executor scale the brute-force plan is a broadcast-nested-loop of
the (small) query side against a partitioned corpus scan — no corpus
shuffle at all; LSH/IVF turn that into an equi-join on bucket/cell.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from typing import Optional

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.functions.hashing import hex_nibble
from biomedical_data_integration_spark.functions.vectors import cosine, dot, norm
from biomedical_data_integration_spark.session import local_frame, pin


def _vec_dim(df: DataFrame, vec_col: str) -> Optional[int]:
    """Vector width from one row (arrays carry no static length). One tiny
    job; None for an empty frame."""
    row = df.select(vec_col).first()
    return len(row[0]) if row and row[0] is not None else None


def _pair_cosine() -> Column:
    """cosine from precomputed per-side norms: dot(qv,cv) / (qn*cn).
    Same arithmetic as computing cosine in the join (so results are
    bit-identical), but the O(dim) norm folds run once per VECTOR instead
    of once per PAIR — the dominant cost of pairwise plans. (A statically
    unrolled getItem sum was measured 2x SLOWER than the aggregate fold on
    the all-pairs join — the deep Add tree exceeds codegen limits and
    falls back to per-node interpreted eval — so the fold stays.)"""
    denom = F.col("qn") * F.col("cn")
    return F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("qv"), F.col("cv")) / denom
    )


def hyperplane_sign(vec: Column, dim: int, plane: int) -> Column:
    """Sign bit (0/1) of <vec, r_plane> for the md5-derived hyperplane:
    r_plane[i] = +1 if nibble(md5("hp{plane}|{i}")) >= 8 else -1.

    The hyperplane is emitted as ONE array Literal per plane (not a
    ``dim``-element CreateArray expression tree): at 768-d x 16 planes the
    per-element formulation put ~12k literal nodes in the analysis plan,
    while a single ``F.lit(list)`` carries the same folded constant with a
    plan-size independent of ``dim``. (Generating the signs from md5
    expressions at runtime was rejected: ``transform`` is not
    constant-folded, so it would cost dim x planes md5 calls PER ROW.)
    The per-row work is one signed sum over the array.
    """
    import hashlib

    signs = [
        1.0 if int(hashlib.md5(f"hp{plane}|{i}".encode()).hexdigest()[0], 16) >= 8
        else -1.0
        for i in range(dim)
    ]
    dotp = F.aggregate(
        F.zip_with(
            vec,
            F.lit(signs),
            lambda v, s: v.cast("double") * s,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(dotp >= 0, F.lit(1)).otherwise(F.lit(0))


def hyperplane_bucket(vec: Column, dim: int, planes: int = 8) -> Column:
    """LSH bucket id = the ``planes``-bit sign signature as an int."""
    out = F.lit(0)
    for p in range(planes):
        out = out + F.shiftleft(hyperplane_sign(vec, dim, p).cast("bigint"), p)
    return out.cast("bigint")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    Returns (query_id, neighbor_id, cosine) — ties broken by neighbor id
    so results are total-ordered and reproducible.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        norm(F.col(query_vec)).alias("qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        norm(F.col(corpus_vec)).alias("cn"),
    )
    # spread the streamed corpus side: a small parquet often arrives as one
    # split and would score all |Q| x |corpus| pairs on a single core
    par = corpus.sparkSession.sparkContext.defaultParallelism
    joined = F.broadcast(q).crossJoin(c.repartition(par))
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(_pair_cosine(), config.SIMILARITY_SCALE).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    centroids=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by cosine.

    Coarse quantizer: by default the ``n_cells`` corpus vectors with the
    smallest ids (a deterministic sample — the contract the SQL oracle
    replays); pass ``centroids`` (a list of vectors, e.g.
    ``kmeans(corpus, k=n_cells)[1]``) for a TRAINED quantizer — balanced
    cells mean better recall at the same ``nprobe`` (measured in
    ``test_similarity.py::test_ivf_trained_centroids_recall``). Each
    corpus vector lands in the cell of its most-cosine-similar centroid;
    each query probes its ``nprobe`` best cells. Assignment is one
    broadcast join against the centroids (tiny by construction); search
    is an equi-join on cell id, so the per-query cost shrinks by
    ~``nprobe / n_cells``.

    Returns (query_id, neighbor_id, cosine); rounded scores, id tiebreaks,
    deterministic under any partitioning.
    """
    if centroids is not None:
        spark = corpus.sparkSession
        cents = local_frame(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cent_id bigint, cent_v array<double>",
        ).select("cent_id", "cent_v", norm(F.col("cent_v")).alias("cent_n"))
    else:
        cents = (
            corpus.orderBy(corpus_id)
            .limit(n_cells)
            .select(
                F.col(corpus_id).alias("cent_id"),
                F.col(corpus_vec).alias("cent_v"),
                norm(F.col(corpus_vec)).alias("cent_n"),
            )
        )

    def best_cells(df: DataFrame, idc: str, vecc: str, n: int, out_id: str) -> DataFrame:
        denom = F.col("vn") * F.col("cent_n")
        cs = F.when(denom == 0, F.lit(0.0)).otherwise(
            dot(F.col("v"), F.col("cent_v")) / denom
        )
        scored = df.select(
            F.col(idc).alias(out_id),
            F.col(vecc).alias("v"),
            norm(F.col(vecc)).alias("vn"),
        ).crossJoin(F.broadcast(cents)).select(
            out_id,
            "v",
            "vn",
            "cent_id",
            F.round(cs, config.SIMILARITY_SCALE).alias("cs"),
        )
        w = Window.partitionBy(out_id).orderBy(F.desc("cs"), F.asc("cent_id"))
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= n)
            .select(out_id, "v", "vn", "cent_id")
        )

    assigned = best_cells(corpus, corpus_id, corpus_vec, 1, "neighbor_id")
    probes = best_cells(queries, query_id, query_vec, nprobe, "query_id")

    joined = probes.withColumnsRenamed({"v": "qv", "vn": "qn"}).join(
        assigned.withColumnsRenamed({"v": "cv", "vn": "cn"}), "cent_id"
    )
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(_pair_cosine(), config.SIMILARITY_SCALE).alias("cosine"),
    )  # each corpus vector lives in exactly one cell -> no dup candidates
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def hyperplane_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    planes: int = 8,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: score only same-LSH-bucket pairs.

    Queries that share no bucket with k neighbors return fewer than k rows
    (documented recall trade; verify against cosine_topk on a sample).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("qv"),
        norm(F.col(query_vec)).alias("qn"),
    ).withColumn("bucket", hyperplane_bucket(F.col("qv"), dim, planes))
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("cv"),
        norm(F.col(corpus_vec)).alias("cn"),
    ).withColumn("bucket", hyperplane_bucket(F.col("cv"), dim, planes))
    joined = q.join(c, "bucket")
    if exclude_self:
        joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(_pair_cosine(), config.SIMILARITY_SCALE).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def mine_triplets(
    df: DataFrame,
    anchors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training triplet mining: per anchor, the nearest
    SAME-label neighbor (the positive) and the nearest DIFFERENT-label
    neighbor (the hard negative) by cosine — the (anchor, positive,
    hard-negative) examples a contrastive/metric-learning fine-tune
    consumes, mined straight from the embedding table.

    Exact brute scoring over broadcast anchors (anchor sets are
    query-sized); at corpus scale swap the candidate generation for
    :func:`ivf_topk` / :func:`hyperplane_lsh_topk` candidates exactly as
    the ANN family does — the (query, same-label) argmin at the end is
    kernel-agnostic. Norms fold once per vector (``_pair_cosine``);
    rounded-cosine + neighbor-id tiebreak keeps the pick total-ordered.

    Returns ``(anchor_id, anchor_label, positive_id, positive_cosine,
    negative_id, negative_cosine)`` — positive columns NULL when the
    anchor's label has no other member.

    NULL-label rows are excluded up front on BOTH sides: an unlabeled
    neighbor is neither a positive nor a hard negative (three-valued
    ``__nl == anchor_label`` would silently drop it from one leg and a
    SQL ``CASE ... ELSE 0`` would silently make it a negative — the
    semantics are explicit here and mirrored in the oracle's WHERE).
    """
    q = anchors.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = df.where(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nl"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    scored = (
        F.broadcast(q)
        .crossJoin(c.repartition(par))
        .where(F.col("anchor_id") != F.col("neighbor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            "neighbor_id",
            (F.col("__nl") == F.col("anchor_label")).cast("int").alias("__same"),
            F.round(_pair_cosine(), config.SIMILARITY_SCALE).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id", "__same").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    picked = scored.withColumn("__rk", F.row_number().over(w)).where(
        F.col("__rk") == 1
    )
    return picked.groupBy("anchor_id", "anchor_label").agg(
        F.max(
            F.when(
                F.col("__same") == 1,
                F.struct(F.col("neighbor_id"), F.col("cosine")),
            )
        ).alias("__p"),
        F.max(
            F.when(
                F.col("__same") == 0,
                F.struct(F.col("neighbor_id"), F.col("cosine")),
            )
        ).alias("__n"),
    ).select(
        "anchor_id",
        "anchor_label",
        F.col("__p")["neighbor_id"].alias("positive_id"),
        F.col("__p")["cosine"].alias("positive_cosine"),
        F.col("__n")["neighbor_id"].alias("negative_id"),
        F.col("__n")["cosine"].alias("negative_cosine"),
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) ∈ [-127, 127].

    The memory/IO lever for ANN at corpus scale — a 768-d float32 vector
    (3 KB) becomes 768 bytes + one float scale, 4x less shuffle and cache
    per vector, with cosine preserved to ~0.5% (rescale at score time:
    v_i ≈ q_i · scale). Pure built-in expressions (no UDF); the all-zero
    vector quantizes to zeros with scale 0.

    Returns (id, qvec array<int>, scale double).
    """
    v = F.col("__v")
    staged = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).withColumn(
        "scale",
        F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        / F.lit(127.0),
    )
    qvec = F.when(
        F.col("scale") == 0.0,
        F.transform(v, lambda x: F.lit(0).cast("int")),
    ).otherwise(
        F.transform(v, lambda x: F.round(x / F.col("scale"), 0).cast("int"))
    )
    return staged.select("id", qvec.alias("qvec"), F.round("scale", 9).alias("scale"))


def dequantize_expr(qvec: Column, scale: Column) -> Column:
    """Inverse of :func:`quantize_embeddings_int8` (lossy):
    array<double> ≈ original vector."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def set_similarity_join(
    df: DataFrame,
    set_col: str,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Prefix-filtered set-similarity self-join (AllPairs/PPJoin family,
    Bayardo et al. WWW'07 / Xiao et al. WWW'08): all id pairs whose
    token SETS have Jaccard >= ``threshold`` — without generating the
    full inverted-index candidate set.

    The prefix-filter principle: order every set by a GLOBAL token
    ordering (rarest first, ties lexicographic); two sets can reach
    Jaccard >= t only if they share a token within each other's first
    ``|s| - ceil(t * |s|) + 1`` tokens. Indexing ONLY those prefixes
    shrinks candidate generation by ~t of the index volume, and rare
    tokens lead, so hot (stopword-ish) tokens almost never generate
    candidates — the measured difference vs the plain inverted index of
    :func:`..dedup.ngram_jaccard_pairs` grows with corpus size.

    Plan: one explode + token-frequency groupBy (global ordering as a
    rank join), one per-set re-sort (sort_array of (rank) structs —
    expression-level, no window), prefix posexplode, a prefix-token
    equi-join with ``id_a < id_b`` + the size-ratio pregate
    ``|b| >= ceil(t * |a|)``, then ONE exact verify per distinct
    candidate pair (array_intersect / array_union on the staged sorted
    arrays). Completeness is exact — prefix filtering provably loses no
    qualifying pair (tested against brute force); determinism is exact
    integer set arithmetic with a 6-decimal rounded similarity.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(set_col).alias("tok"))
        .where(F.col("tok").isNotNull())
        .distinct()
    )
    return set_similarity_join_pairs(toks, threshold=threshold)


def set_similarity_join_pairs(
    pairs: DataFrame,
    id_col: str = "id",
    token_col: str = "tok",
    threshold: float = 0.8,
) -> DataFrame:
    """Long-form core of :func:`set_similarity_join`: input is the
    DISTINCT ``(id, token)`` membership table (e.g. straight from
    ``dedup.shingle_sets`` — skipping the per-row array build, which
    costs more than the whole join on shingle-shaped data). Same
    output contract.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("set_similarity_join: threshold must be in (0, 1]")
    t = float(threshold)
    toks = pairs.select(
        F.col(id_col).alias("id"), F.col(token_col).alias("tok")
    )
    ranks = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    # per-set tokens sorted rarest-first: struct sort on (FREQUENCY,
    # token) — the global ordering only needs to be CONSISTENT across
    # sets, and (freq, tok) is order-isomorphic to the dense rank the
    # prefix filter is defined on, so no global row_number (which was a
    # single-task sort over the vocabulary table) exists anywhere in
    # the plan. Referenced THREE times below (prefix explode + both
    # verify sides) — left lazy, each reference replays the rank join +
    # per-set sort over the corpus (pinned: 2x on the whole operator at
    # sf0.1). Row count = input sets, payload = the sorted token arrays.
    sorted_sets = pin(
        toks.join(ranks, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__f"), F.col("tok")))
            ).alias("__st")
        )
        .select(
            "id",
            F.transform(F.col("__st"), lambda s: s["tok"]).alias("toks"),
            F.size("__st").alias("sz"),
        )
    )
    # prefix length |s| - ceil(t*|s|) + 1; ceil via integer arithmetic on
    # micro-scaled t so both engines agree at exact multiples
    t_micro = int(round(t * 1_000_000))
    ceil_ts = ((F.col("sz") * F.lit(t_micro) + F.lit(999_999)) / F.lit(1_000_000)).cast(
        "int"
    )
    prefixed = sorted_sets.select(
        "id",
        "toks",
        "sz",
        F.explode(
            F.slice(F.col("toks"), F.lit(1), F.col("sz") - ceil_ts + F.lit(1))
        ).alias("ptok"),
    )
    a = prefixed.select(
        F.col("id").alias("id_a"), F.col("ptok"), F.col("sz").alias("sz_a")
    )
    b = prefixed.select(
        F.col("id").alias("id_b"), F.col("ptok"), F.col("sz").alias("sz_b")
    )
    cand = (
        a.join(b, "ptok")
        .where(F.col("id_a") < F.col("id_b"))
        # size-ratio pregate: larger side can't exceed |a| / t
        .where(
            (F.col("sz_b") * F.lit(t_micro) <= F.col("sz_a") * F.lit(1_000_000))
            & (F.col("sz_a") * F.lit(t_micro) <= F.col("sz_b") * F.lit(1_000_000))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    left = sorted_sets.select(
        F.col("id").alias("id_a"), F.col("toks").alias("__ta")
    )
    right = sorted_sets.select(
        F.col("id").alias("id_b"), F.col("toks").alias("__tb")
    )
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    union = F.size(F.array_union(F.col("__ta"), F.col("__tb")))
    return (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(t))
    )


# ---------------------------------------------------------------------------
# Product quantization (round 9): the ANN COMPRESSION path
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 8,
    max_iter: int = 2,
    scale: Optional[int] = None,
) -> list:
    """Train product-quantization codebooks (Jégou et al., TPAMI'11):
    split each vector into ``m`` contiguous subvectors and fit
    ``n_codes`` k-means centroids PER subspace. Together with
    :func:`pq_encode` / :func:`pq_topk` this completes the FAISS-style
    ANN stack next to :func:`ivf_topk` and :func:`quantize_embeddings_int8`
    — at 100 TB the codes column is ``m`` small ints per vector (vs
    ``dim`` floats), and search reads ONLY the codes.

    Returns ``codebooks[s][c]`` = centroid ``c`` of subspace ``s`` (a
    ``dim/m``-float list) — driver-side literals, like
    :func:`~biomedical_data_integration_spark.operators.clustering.kmeans`
    centroids.

    Scale design — all ``m`` subspaces train in ONE Lloyd loop: the
    corpus explodes once to ``(id, s, subvec)`` (same bytes, narrower
    rows) and is pinned; each iteration is ONE
    assignment scan (argmin over the m·n_codes literal codebook, rounded
    dist2 + code tiebreak — the clustering kernel discipline) plus ONE
    ``(s, code, pos)``-keyed groupBy (m·n_codes·dim/m keys, map-side
    combinable). m sequential :func:`kmeans` fits would pay m× the
    scans for identical arithmetic. Deterministic end to end (lowest-id
    seeds, rounded means), so an ANSI-SQL oracle replays the whole fit.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    # lowest-id seeds double as the dim probe (the kmeans discipline:
    # dim comes from the seed collect — no separate first() action)
    seed_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    )
    if not seed_rows:
        raise ValueError("pq_train: empty input — nothing to train on")
    if len(seed_rows) < n_codes:
        raise ValueError(
            f"pq_train: need >= n_codes={n_codes} vectors, "
            f"got {len(seed_rows)}"
        )
    dim = len(seed_rows[0][vec_col])
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m

    sub = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda s: F.struct(
                        s.cast("int").alias("s"),
                        F.transform(
                            F.slice(
                                F.col(vec_col), s * F.lit(dsub) + 1, dsub
                            ),
                            lambda x: x.cast("double"),
                        ).alias("sv"),
                    ),
                )
            ).alias("__e"),
        )
        .select("id", F.col("__e.s").alias("s"), F.col("__e.sv").alias("sv"))
    )

    # lowest-id seeds: the same k lowest-id vectors seed every subspace
    codebooks = [
        [
            [float(x) for x in r[vec_col][s * dsub : (s + 1) * dsub]]
            for r in seed_rows
        ]
        for s in range(m)
    ]

    def _assign(cb) -> Column:
        # literal codebook array indexed by subspace; per row: argmin
        # over (rounded dist2, code) — lexicographic array_min IS the
        # tiebreak. m·n_codes·dsub literals = dim·n_codes doubles at
        # every size (no broadcast-table form here, unlike kmeans).
        # ONE nested array literal for every codebook and an indexed
        # transform for the per-code distances: identical arithmetic
        # and (dist2, code) tiebreak, but the per-round plan carries a
        # single literal + one lambda — analysis/codegen time per
        # Lloyd round stops growing with m·n_codes·dsub (round-12
        # optimization; the literals change every round, so this plan
        # re-analyzes and re-codegens each time)
        lit_books = F.lit(
            [[[float(v) for v in cv] for cv in book] for book in cb]
        )
        book = F.element_at(lit_books, F.col("s") + 1)
        scored = F.transform(
            book,
            lambda cv, i: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col("sv"), cv, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    scale,
                ).alias("dist2"),
                i.cast("int").alias("code"),
            ),
        )
        return F.array_min(scored)

    for _ in range(max_iter):
        assigned = sub.select(
            "s", F.col("sv"), _assign(codebooks)["code"].alias("__c")
        )
        new_rows = (
            assigned.select(
                "s", "__c", F.posexplode("sv").alias("__pos", "__val")
            )
            .groupBy("s", "__c", "__pos")
            .agg(F.round(F.avg("__val"), scale).alias("__mn"))
            .collect()
        )
        updated: dict = {}
        for r in new_rows:
            updated.setdefault((int(r["s"]), int(r["__c"])), [0.0] * dsub)[
                int(r["__pos"])
            ] = float(r["__mn"])
        codebooks = [
            [
                updated.get((s, c), codebooks[s][c])
                for c in range(n_codes)
            ]
            for s in range(m)
        ]
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: Optional[int] = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """Encode vectors against trained PQ codebooks: per subspace the
    argmin code (rounded dist2, code tiebreak — bit-identical to the
    training assignment). Returns ``(id_col, codes array<int>)`` —
    the m-byte compressed corpus representation searched by
    :func:`pq_topk`. Pure expression projection: no shuffle, no join;
    the codes column is what a 100 TB pipeline PERSISTS."""
    if scale is None:
        scale = config.SIMILARITY_SCALE
    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])

    def sub_code(s: int) -> Column:
        # ONE indexed transform over the codebook literal instead of
        # n_codes unrolled fold expressions: identical arithmetic per
        # (subspace, code) and the same (dist2, code) argmin, but the
        # plan carries one lambda per subspace — analysis + codegen
        # time stops growing with n_codes (round-12 optimization; the
        # planning gap before every encode/write job was ~2.5 s of
        # pure driver time at n_codes=8)
        sv = F.transform(
            F.slice(F.col(vec_col), F.lit(s * dsub + 1), dsub),
            lambda x: x.cast("double"),
        )
        book = F.lit([[float(v) for v in cv] for cv in codebooks[s]])
        scored = F.transform(
            book,
            lambda cv, i: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            sv, cv, lambda a, b: (a - b) * (a - b)
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    scale,
                ).alias("dist2"),
                i.cast("int").alias("code"),
            ),
        )
        return F.array_min(scored)["code"]

    return df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.array(*[sub_code(s) for s in range(m)]).alias("codes"),
    )


def pq_topk(
    codes_df: DataFrame,
    query: list,
    codebooks: list,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the
    query's per-(subspace, code) squared distances fold into an
    m·n_codes literal lookup table driver-side; each corpus row costs m
    integer array lookups + a bigint sum — the corpus VECTORS are never
    read. Each table term is micro-unit-quantized (floor(d2·1e6+0.5))
    so the cross-subspace sum is an order-free integer; ``adist`` reads
    out as micro/1e6. Global top-k by (adist, id) is a total order —
    TakeOrderedAndProject, no full sort. Returns ``(id_col, adist)``.
    """
    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"pq_topk: query dim {len(query)} != m*dsub {m * dsub}"
        )
    table = []
    for s in range(m):
        qs = [float(x) for x in query[s * dsub : (s + 1) * dsub]]
        row = []
        for c in range(n_codes):
            # sequential left-to-right sum — the order list_sum and
            # F.aggregate both use, so an oracle replays it bit-for-bit;
            # micro-quantization (floor(d2*1e6+0.5)) IS the rounding
            d2 = sum((a - b) * (a - b) for a, b in zip(qs, codebooks[s][c]))
            row.append(int(math.floor(d2 * 1_000_000 + 0.5)))
        table.append(row)
    lit_table = F.lit([[int(v) for v in row] for row in table]).cast(
        "array<array<bigint>>"
    )
    micro = F.aggregate(
        F.zip_with(
            lit_table,
            F.col("codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    out = codes_df.select(
        F.col(id_col),
        (micro.cast("double") / F.lit(1_000_000.0)).alias("adist"),
    )
    return out.orderBy("adist", id_col).limit(k)


def _ivfpq_residuals(
    df: DataFrame, centroids: list, vec_col: str, id_col: str, scale: int
) -> DataFrame:
    """Coarse-assign every vector to its nearest centroid (rounded-dist2
    + cell-id-tiebreak argmin over a literal centroid array — one
    expression, no join) and emit the residual: ``(id_col, cell,
    __resid)``. Shared by the trainer and the incremental-append face —
    appended vectors route through EXACTLY the build-time assignment."""
    lit_cents = F.lit([[float(v) for v in c] for c in centroids])
    # one indexed transform instead of n_cells unrolled folds — same
    # rounded-dist2 + cell-id-tiebreak argmin, constant plan shape in
    # n_cells (round-12 optimization, see pq_encode.sub_code)
    scored = F.transform(
        lit_cents,
        lambda cv, i: F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("__v"), cv, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                scale,
            ).alias("dist2"),
            i.cast("int").alias("cell"),
        ),
    )
    return (
        df.select(
            F.col(id_col),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("__v"),
        )
        .withColumn("cell", F.array_min(scored)["cell"])
        .select(
            id_col,
            "cell",
            F.zip_with(
                F.col("__v"),
                F.element_at(lit_cents, F.col("cell") + 1),
                lambda a, b: a - b,
            ).alias("__resid"),
        )
    )


def ivfpq_index(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 4,
    m: int = 4,
    n_codes: int = 8,
    max_iter: int = 2,
    scale: Optional[int] = None,
) -> tuple:
    """Build an IVFPQ index (FAISS's IndexIVFPQ architecture): a coarse
    quantizer routes each vector to one of ``n_cells`` cells, and
    product quantization encodes the RESIDUAL to the cell centroid —
    residuals are smaller and better-centered than raw vectors, so the
    same code budget quantizes them more accurately. At 100 TB this is
    THE index layout: the persisted table is ``(id, cell, codes)`` —
    ``m`` small ints + a cell id per vector — partitioned/bucketed by
    ``cell`` so a probe is a partition-pruned scan.

    Coarse centroids are the ``n_cells`` lowest-id vectors (the
    deterministic contract every oracle replays — pass the output of
    :func:`~biomedical_data_integration_spark.operators.clustering.kmeans`
    for trained cells, same trade as :func:`ivf_topk`). Assignment is
    the rounded-dist2 + cell-id-tiebreak argmin over a literal centroid
    array — one expression, no join. Codebooks train on residuals via
    :func:`pq_train` (one Lloyd loop for all subspaces).

    Returns ``(index_df, centroids, codebooks)`` with ``index_df`` =
    ``(id_col, cell int, codes array<int>)``.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    cent_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    if len(cent_rows) < n_cells:
        raise ValueError(
            f"ivfpq_index: need >= n_cells={n_cells} vectors, "
            f"got {len(cent_rows)}"
        )
    centroids = [[float(x) for x in r[vec_col]] for r in cent_rows]
    # pin the residual table: THREE consumers replan/re-evaluate it
    # otherwise (pq_train's seed collect, pq_train's subvector
    # checkpoint, the final pq_encode lineage) — one narrow
    # (id, cell, resid) materialization against three full coarse-
    # assignment evaluations and three deep-plan analyses (round-12
    # optimization; the per-action planning gap was the measured cost)
    resid = pin(_ivfpq_residuals(df, centroids, vec_col, id_col, scale))
    codebooks = pq_train(
        resid,
        vec_col="__resid",
        id_col=id_col,
        m=m,
        n_codes=n_codes,
        max_iter=max_iter,
        scale=scale,
    )
    index_df = pq_encode(
        resid,
        codebooks,
        vec_col="__resid",
        id_col=id_col,
        scale=scale,
        extra_cols=("cell",),
    )
    return index_df, centroids, codebooks


def _ivfpq_adc_tables(
    query: list, centroids: list, codebooks: list, nprobe: int
) -> tuple:
    """Driver arithmetic shared by the single- and batch-probe faces:
    the query's ``nprobe`` closest cells (micro-quantized coarse
    distance, cell-id tiebreak) and, per probed cell, the m x n_codes
    integer ADC lookup table of the residual query against every
    codebook entry. Returns ``(probed_cells, {cell: table})``."""
    import math

    m = len(codebooks)
    n_codes = len(codebooks[0])
    dsub = len(codebooks[0][0])
    qd = [
        (
            int(
                math.floor(
                    sum(
                        (a - b) * (a - b)
                        for a, b in zip(query, centroids[cell])
                    )
                    * 1_000_000
                    + 0.5
                )
            ),
            cell,
        )
        for cell in range(len(centroids))
    ]
    probed = [cell for _, cell in sorted(qd)[:nprobe]]
    tables = {}
    for cell in probed:
        qres = [a - b for a, b in zip(query, centroids[cell])]
        tables[cell] = [
            [
                int(
                    math.floor(
                        sum(
                            (a - b) * (a - b)
                            for a, b in zip(
                                qres[s * dsub : (s + 1) * dsub],
                                codebooks[s][c],
                            )
                        )
                        * 1_000_000
                        + 0.5
                    )
                )
                for c in range(n_codes)
            ]
            for s in range(m)
        ]
    return probed, tables


def ivfpq_topk(
    index_df: DataFrame,
    query: list,
    centroids: list,
    codebooks: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC search over an :func:`ivfpq_index`: the query probes its
    ``nprobe`` closest cells (micro-quantized distance, cell-id
    tiebreak — driver arithmetic, centroids are literals) and scores
    ONLY their members: per probed cell the residual query folds into
    an m·n_codes integer lookup table, per row the cost is one cell
    gate + m array lookups + a bigint sum. The cell filter is a pushed
    predicate — on a cell-partitioned index table it prunes
    (n_cells - nprobe)/n_cells of the corpus before any IO. Returns
    ``(id_col, adist)`` — TakeOrderedAndProject top-k on (adist, id).
    """
    dim = len(centroids[0])
    if len(query) != dim:
        raise ValueError(
            f"ivfpq_topk: query dim {len(query)} != index dim {dim}"
        )
    probed, tables = _ivfpq_adc_tables(query, centroids, codebooks, nprobe)

    def lit_table(cell: int) -> Column:
        return F.lit([[int(v) for v in row] for row in tables[cell]]).cast(
            "array<array<bigint>>"
        )

    table_for_cell = None
    for cell in probed:
        table_for_cell = (
            F.when(F.col("cell") == cell, lit_table(cell))
            if table_for_cell is None
            else table_for_cell.when(F.col("cell") == cell, lit_table(cell))
        )
    micro = F.aggregate(
        F.zip_with(
            table_for_cell,
            F.col("codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    out = (
        index_df.where(F.col("cell").isin([int(c) for c in probed]))
        .select(
            F.col(id_col),
            (micro.cast("double") / F.lit(1_000_000.0)).alias("adist"),
        )
    )
    return out.orderBy("adist", id_col).limit(k)


def ivfpq_save(
    index_df: DataFrame,
    centroids: list,
    codebooks: list,
    path: str,
    mode: str = "overwrite",
) -> None:
    """Persist an :func:`ivfpq_index` for train-once/serve-many ANN: the
    ``(id, cell, codes)`` table is written ``partitionBy("cell")`` — the
    layout :func:`ivfpq_topk`'s cell gate prunes as a PARTITION filter,
    so a probe reads only ``nprobe/n_cells`` of the files before any IO
    — plus a one-row ``model/`` sidecar holding the coarse centroids and
    PQ codebooks (driver-side literals either way; parquet round-trips
    doubles exactly, so a reloaded index scores bit-identically).

    At 100 TB this is THE serving story: training touches the corpus
    once, the persisted index is m small ints + a cell id per vector,
    and every subsequent query is a partition-pruned scan of the codes
    table — the corpus vectors are never read again."""
    spark = index_df.sparkSession
    # repartition by the partition column before the dynamic-partition
    # write (the rewrite_partitions discipline, round-12 optimization):
    # without it every upstream task opens a writer in EVERY cell dir —
    # n_tasks x n_cells small files from one save (129 files for a
    # 4-cell index at sf0.1; guide §6 "coalesce on write"), which every
    # partition-pruned probe then pays in footer reads. One writer per
    # cell -> one file per cell; at cluster scale bound file size with
    # spark.sql.files.maxRecordsPerFile (the standard knob — partition
    # values stay far more numerous than executors there)
    index_df.repartition(F.col("cell")).write.mode(mode).partitionBy(
        "cell"
    ).parquet(f"{path}/index")
    model = local_frame(
        spark,
        [(centroids, codebooks)],
        "centroids array<array<double>>, "
        "codebooks array<array<array<double>>>",
    )
    model.coalesce(1).write.mode(mode).parquet(f"{path}/model")
    # an overwrite re-names every part file; readers that listed these
    # paths earlier in the session hold stale FileStatusCache entries
    # and would FileScanRDD-fail — invalidate at the only writer
    spark.catalog.refreshByPath(f"{path}/index")
    spark.catalog.refreshByPath(f"{path}/model")


def ivfpq_load(spark: SparkSession, path: str) -> tuple:
    """Load an index persisted by :func:`ivfpq_save`. Returns
    ``(index_df, centroids, codebooks)`` ready for :func:`ivfpq_topk` —
    the probe never retrains; reading the one-row model sidecar is the
    only driver-side work."""
    index_df = spark.read.parquet(f"{path}/index")
    r = spark.read.parquet(f"{path}/model").first()
    centroids = [[float(x) for x in c] for c in r["centroids"]]
    codebooks = [
        [[float(x) for x in cv] for cv in book] for book in r["codebooks"]
    ]
    return index_df, centroids, codebooks


def ivfpq_append_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: Optional[int] = None,
) -> None:
    """Incremental ingestion for a persisted IVFPQ index (round-11
    third wave — the production story between full rebuilds: new
    vectors arrive daily, retraining the quantizers per batch is both
    wasteful and SEMANTICALLY wrong for ADC serving, which assumes one
    frozen model): encode the new batch with the index's FROZEN
    centroids + codebooks (the standard FAISS `add` contract) and
    APPEND the resulting ``(id, cell, codes)`` rows into the existing
    cell partitions — appended rows land in exactly the partitions the
    probe faces already prune on, so serving needs no change and no
    rebuild. Encoding is :func:`_ivfpq_residuals` + :func:`pq_encode`,
    bit-identical to build-time encoding with the same model (gated by
    tests: build-on-A + append-B == encode-A∪B-with-A's-model).

    Caller contract: the batch holds NEW ids (appending an existing id
    duplicates its rows — dedup upstream, the exact-dedup operator is
    one groupBy away). The model sidecar is untouched; only the codes
    table grows."""
    if scale is None:
        scale = config.SIMILARITY_SCALE
    spark = df.sparkSession
    _ivfpq_check_no_pending(spark, path, "ivfpq_append_index")
    _, centroids, codebooks = ivfpq_load(spark, path)
    # dim guard (ADVICE r11): the probe faces validate query dim
    # against the loaded model; the append face must too, or a
    # wrong-dim batch flows through zip_with with null padding and
    # silently persists garbage (cell, codes) rows into the SERVED
    # index. Enforced distributed and for every row — the guard rides
    # the encoding lineage, so a bad row fails the append job with a
    # clear message instead of landing in a partition.
    dim = len(centroids[0])
    df = df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "ivfpq_append_index: vector dim "
                    ),
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit(f" != index dim {dim} for id "),
                    F.col(id_col).cast("string"),
                )
            )
        ),
    )
    resid = _ivfpq_residuals(df, centroids, vec_col, id_col, scale)
    new_idx = pq_encode(
        resid,
        codebooks,
        vec_col="__resid",
        id_col=id_col,
        scale=scale,
        extra_cols=("cell",),
    )
    # one writer per cell (see ivfpq_save) — an append adds ONE file
    # per touched cell, not n_tasks files
    new_idx.repartition(F.col("cell")).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/index")
    # appends add part files; same-session readers hold a stale listing
    spark.catalog.refreshByPath(f"{path}/index")


def _ivfpq_check_no_pending(spark, path: str, op: str) -> None:
    from ..sources.writers import marker_exists

    if marker_exists(spark, f"{path}/_MAINT_PENDING"):
        raise ValueError(
            f"{op}: a previous maintenance operation on {path} did not "
            "complete (_MAINT_PENDING present) — the index may be "
            "partially mutated; rebuild with ivfpq_save"
        )


def ivfpq_compact_index(
    spark, path: str, max_files_per_cell: int = 1
) -> list:
    """Compact a persisted IVFPQ index's cell partitions (round-11
    verdict item 2): each :func:`ivfpq_append_index` drops its own part
    files into the cell partitions, and after N daily appends a probe's
    partition-pruned scan opens N small files per probed cell — footer
    reads and per-file task overhead grow with ingestion history
    instead of data size. Rewrites only the fragmented cells (driver
    listing, no job) into one file each via
    :func:`~biomedical_data_integration_spark.sources.writers.rewrite_partitions`
    — partition-pruned read, one writer per cell, one atomic rename per
    cell. Codes rows are untouched: probes serve bit-identically before
    and after (gated), and the model sidecar is not involved. Returns
    the compacted cell values."""
    from ..sources.writers import (
        list_fragmented_partitions,
        rewrite_partitions,
    )

    _ivfpq_check_no_pending(spark, path, "ivfpq_compact_index")
    frag = list_fragmented_partitions(
        spark, f"{path}/index", "cell", max_files_per_cell
    )
    return rewrite_partitions(spark, f"{path}/index", "cell", frag)


def ivfpq_delete_ids(spark, path: str, ids) -> dict:
    """Delete vectors from a persisted IVFPQ index — the FAISS
    ``remove_ids`` contract (round-11 verdict item 3): after the
    delete, the index serves exactly as if the deleted vectors had
    never been added; the frozen model (centroids + codebooks) is
    untouched, because PQ training state does not depend on membership
    the way the stats sidecar does for BM25.

    Scale shape: one column-pruned scan (id, cell — two parquet
    columns) semi-joined against the broadcast id set finds the
    AFFECTED cells; only those partitions are rewritten (anti-join) via
    :func:`~biomedical_data_integration_spark.sources.writers.rewrite_partitions`,
    one atomic rename each — a delete touching 3 of 1024 cells rewrites
    3 partitions. An ``_MAINT_PENDING`` marker brackets the mutation so
    a crash mid-delete (some cells rewritten, some not) is detectable
    by every subsequent maintenance call rather than silently served.
    ``ids`` is a Python list or single-column DataFrame (broadcast —
    driver-sized batches by contract). Deleting an absent id is a
    no-op. Returns ``{"n_vectors_removed", "cells_rewritten"}``."""
    from pyspark.sql import DataFrame as _DF

    from ..sources.writers import (
        remove_marker,
        rewrite_partitions,
        touch_marker,
    )

    _ivfpq_check_no_pending(spark, path, "ivfpq_delete_ids")
    if not isinstance(ids, _DF):
        ids = local_frame(spark, [(i,) for i in ids], ["__del_id"])
    else:
        ids = ids.select(F.col(ids.columns[0]).alias("__del_id"))
    ids = ids.distinct()
    index = spark.read.parquet(f"{path}/index")
    id_col = [c for c in index.columns if c not in ("cell", "codes")][0]
    doomed = (
        index.select(id_col, "cell")
        .join(
            F.broadcast(ids), F.col(id_col) == F.col("__del_id"), "leftsemi"
        )
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.collect_set("cell").alias("cells"),
        )
        .first()
    )
    n_removed = int(doomed["n"] or 0)
    if n_removed == 0:
        return {"n_vectors_removed": 0, "cells_rewritten": []}
    affected = sorted(int(c) for c in doomed["cells"])
    pending = f"{path}/_MAINT_PENDING"
    touch_marker(spark, pending)
    rewrite_partitions(
        spark,
        f"{path}/index",
        "cell",
        affected,
        transform=lambda df: df.join(
            F.broadcast(ids),
            F.col(id_col) == F.col("__del_id"),
            "left_anti",
        ),
    )
    remove_marker(spark, pending)
    return {"n_vectors_removed": n_removed, "cells_rewritten": affected}


def ivfpq_upsert_vectors(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Replace-or-insert for a persisted IVFPQ index — delete the
    batch's ids (absent ids no-op), then append the batch encoded with
    the FROZEN model (:func:`ivfpq_append_index`). Completes the
    lifecycle CRUD next to compact/delete: after an upsert the index
    serves exactly as if the batch's vectors had replaced their old
    versions at build time (gated). Batch is driver-sized by the
    delete leg's broadcast contract; the model sidecar is untouched."""
    spark = df.sparkSession
    res = ivfpq_delete_ids(spark, path, df.select(id_col))
    ivfpq_append_index(df, path, vec_col=vec_col, id_col=id_col)
    return res


def ivfpq_probe_many(
    index_df: DataFrame,
    queries: DataFrame,
    centroids: list,
    codebooks: list,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ADC probe (round-11 verdict item 3): score a query TABLE
    against one (persisted) IVFPQ index in ONE partition-pruned scan —
    the production retrieval/eval shape where :func:`ivfpq_topk`'s
    single vector would mean one Spark job per query.

    The query batch collects once (driver-sized by contract — it is the
    same object the single face already takes as a Python list; web-
    scale query STREAMS belong on the streaming faces). Per query the
    shared driver arithmetic (:func:`_ivfpq_adc_tables` — bit-identical
    to the single probe) yields its nprobe cells and integer ADC
    tables; the UNION of all queries' cells lands in the scan's
    PartitionFilters; a broadcast (query_id, cell) pair join fans each
    pruned row out to exactly the queries probing its cell; top-k is a
    per-query window. The corpus vectors are never read; per-row cost
    stays m lookups + a bigint sum.

    The tables ship as ONE broadcast single-row ``map<"qid|cell",
    table>`` relation and the scoring expression does an ``element_at``
    into it, so the plan stays CONSTANT-shape in batch size (inlined as
    literals, a 500-query eval batch would compile ~4M of them, past
    janino's method budget). A literal CASE form was slower even at the
    registry's 5-query batch (planning.py docstring)."""
    rows = queries.select(query_id_col, vec_col).collect()
    if not rows:
        raise ValueError("ivfpq_probe_many: empty query table")
    # duplicate-id guard (ADVICE r11): repeated query_ids would produce
    # duplicated (query_id, cell) pair rows (double-counted fan-out) and
    # a last-wins tables dict — the per-query top-k could return the
    # same vec_id twice with inconsistent scores. Fail loudly instead.
    qids = [r[0] for r in rows]
    if len(set(qids)) != len(qids):
        dupes = sorted({q for q in qids if qids.count(q) > 1})[:5]
        raise ValueError(
            f"ivfpq_probe_many: duplicate {query_id_col} values "
            f"{dupes} — query ids must be unique within a batch"
        )
    dim = len(centroids[0])
    pairs = []
    tables = {}
    for r in rows:
        qid, q = r[0], [float(x) for x in r[1]]
        if len(q) != dim:
            raise ValueError(
                f"ivfpq_probe_many: query {qid!r} dim {len(q)} != "
                f"index dim {dim}"
            )
        probed, tabs = _ivfpq_adc_tables(q, centroids, codebooks, nprobe)
        for cell in probed:
            pairs.append((qid, int(cell)))
            tables[(qid, cell)] = tabs[cell]
    spark = index_df.sparkSession
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    pairs_df = local_frame(
        spark, pairs, f"{query_id_col} {qid_type}, cell int"
    )
    cells = sorted({c for _, c in pairs})
    # ONE broadcast single-row map relation carries every table; the
    # cross join is a 1-row BroadcastNestedLoopJoin and the plan never
    # mentions a single ADC value
    mapping = {f"{qid}|{cell}": tab for (qid, cell), tab in tables.items()}
    adc_df = local_frame(
        spark, [(mapping,)], "__adc map<string,array<array<bigint>>>"
    )
    pruned = (
        index_df.where(F.col("cell").isin(cells))
        .join(F.broadcast(pairs_df), "cell")
        .crossJoin(F.broadcast(adc_df))
    )
    table_sel = F.element_at(
        F.col("__adc"),
        F.concat(
            F.col(query_id_col).cast("string"),
            F.lit("|"),
            F.col("cell").cast("string"),
        ),
    )
    micro = F.aggregate(
        F.zip_with(
            table_sel,
            F.col("codes"),
            lambda row, code: F.element_at(row, code + 1),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    scored = pruned.select(
        F.col(query_id_col),
        F.col(id_col),
        (micro.cast("double") / F.lit(1_000_000.0)).alias("adist"),
    )
    w = Window.partitionBy(query_id_col).orderBy("adist", id_col)
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    query_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldberg, SIGIR'98): per query, greedily pick ``k`` of the ``pool``
    most-relevant candidates maximizing
    ``lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)`` — the
    redundancy-penalized reranker that turns a near-duplicate-heavy
    neighborhood into a DIVERSE exemplar set (retrieval results, few-shot
    example selection, per-cluster representative picking for curation).

    Scale design — candidate generation is the distributed part and
    defaults to exact :func:`cosine_topk`; pass ``candidates=`` (any
    ``(query_id, neighbor_id, cosine)`` table — the output shape of
    :func:`ivf_topk` / :func:`hyperplane_lsh_topk` / a persisted
    candidate store) to rerank precomputed ANN results instead of
    rescoring the corpus, the same standing-state reuse contract as
    ``lsh_tuning_report(band_entries=...)``. Either way the greedy
    rerank touches only the ``pool``-bounded candidate set. A supplied
    table is deduped on (query_id, neighbor_id), scoped to the ids in
    ``queries``, purged of entries whose neighbor no longer resolves in
    ``corpus`` (stale snapshot) — a candidate without a vector cannot
    be redundancy-penalized — and only THEN re-cut to ``pool`` by
    (cosine desc, id asc), so stale rows never consume pool slots and
    the rerank always sees the full requested pool of live candidates. Pairwise candidate similarities are scored in-plan
    (pool self-join per query — |Q|·pool² narrow rows, never the corpus),
    and the O(k·pool) selection loop runs per-query inside ONE
    ``applyInPandas`` group, so queries rerank in parallel across
    executors and nothing is collected to the driver.

    Determinism: relevances and pairwise sims are rounded to
    ``SIMILARITY_SCALE`` BEFORE the greedy loop; the 3-op MMR combine on
    those rounded scalars is bit-identical across engines, so selection
    compares RAW combines (total-ordered by (mmr desc, id asc)) and only
    the reported ``mmr_score`` is rounded (half-away-from-zero, matching
    both engines' ``round``) — an ANSI-SQL oracle replays the whole
    greedy unrolled.

    Returns ``(query_id, rank, neighbor_id, relevance, mmr_score)`` with
    ``rank`` 1-based in selection order; rank 1 is the plain
    most-relevant candidate (empty-set penalty is 0).
    """
    if not 0 < k <= pool:
        raise ValueError(f"mmr_topk: need 0 < k <= pool, got k={k} pool={pool}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"mmr_topk: lam must be in [0, 1], got {lam}")
    if candidates is None:
        cand = cosine_topk(
            queries,
            corpus,
            k=pool,
            query_id=query_id,
            query_vec=query_vec,
            corpus_id=corpus_id,
            corpus_vec=corpus_vec,
        )
    else:
        # a supplied store may union overlapping sources (dup rows would
        # silently eat pool slots) and cover more queries than the
        # caller wants reranked — dedup, then scope to `queries`.
        # STALE entries (neighbor ids that no longer resolve in
        # `corpus`) are semi-joined out BEFORE the pool cut: a stale
        # high-cosine row must not consume a pool slot, or the
        # effective rerank pool silently shrinks below `pool`
        # (ADVICE r9). The later vector-attach join then drops nothing.
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        cand = (
            candidates.select("query_id", "neighbor_id", "cosine")
            .dropDuplicates(["query_id", "neighbor_id"])
            .join(
                F.broadcast(
                    queries.select(F.col(query_id).alias("query_id")).distinct()
                ),
                "query_id",
                "leftsemi",
            )
            .join(
                corpus.select(F.col(corpus_id).alias("neighbor_id")),
                "neighbor_id",
                "leftsemi",
            )
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= pool)
            .drop("__rk")
        )
    cand = cand.select(
        "query_id", F.col("neighbor_id").alias("id"), F.col("cosine").alias("rel")
    )
    # pin the candidate table: it is |Q|·pool tiny rows but its lineage is
    # the |Q|×|corpus| scoring plan, and THREE consumers reference it
    # below (vector attach, pairwise self-join, self-row union) — without
    # the pin the dominant cross-join can re-execute per consumer
    cand = pin(cand)

    cv = corpus.select(
        F.col(corpus_id).alias("id"),
        F.col(corpus_vec).alias("v"),
        norm(F.col(corpus_vec)).alias("vn"),
    )
    # candidate table is |Q|·pool rows — broadcast it onto the corpus
    # scan to attach vectors, then self-join per query for pairwise sims
    cand_v = F.broadcast(cand).join(cv, "id").select("query_id", "id", "rel", "v", "vn")
    a = cand_v.select(
        "query_id",
        F.col("id").alias("id_a"),
        F.col("rel").alias("rel_a"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    b = cand_v.select(
        "query_id",
        F.col("id").alias("id_b"),
        F.col("v").alias("cv"),
        F.col("vn").alias("cn"),
    )
    pairs = (
        a.join(b, "query_id")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "rel_a",
            "id_b",
            F.round(_pair_cosine(), config.SIMILARITY_SCALE).alias("sim"),
        )
    )
    # a pool-of-one candidate has no pairs; union a self row so every
    # candidate reaches its group (sim NULL = ignored by the loop).
    # Self rows come from cand_v, NOT cand: a supplied candidate whose
    # id no longer resolves in corpus has no vector to penalize others
    # with — it is DROPPED (reranking it on pure relevance would
    # silently skip its redundancy penalty)
    grouped = pairs.unionByName(
        cand_v.select(
            "query_id",
            F.col("id").alias("id_a"),
            F.col("rel").alias("rel_a"),
            F.col("id").alias("id_b"),
            F.lit(None).cast("double").alias("sim"),
        )
    )

    q = 10.0 ** config.SIMILARITY_SCALE
    n_pick, lam_f = int(k), float(lam)

    def _greedy(pdf):
        import math as _math

        import pandas as pd

        qid = pdf["query_id"].iloc[0]
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[r.id_a] = float(r.rel_a)
            if r.id_b != r.id_a and r.sim == r.sim:  # NaN-safe null filter
                sim[(r.id_a, r.id_b)] = float(r.sim)
        # penalty is the TRUE max sim to the selected set (cosines can
        # be NEGATIVE — no zero floor); empty set => 0 by convention
        maxsim = {c: None for c in rel}
        remaining = set(rel)
        out = []
        for rank in range(1, n_pick + 1):
            if not remaining:
                break
            best, best_mmr = None, None
            for c in sorted(remaining):
                pen = 0.0 if maxsim[c] is None else maxsim[c]
                m = lam_f * rel[c] - (1.0 - lam_f) * pen
                if best is None or m > best_mmr:
                    best, best_mmr = c, m
            rounded = _math.floor(abs(best_mmr) * q + 0.5) / q
            out.append(
                (qid, rank, best, rel[best], rounded if best_mmr >= 0 else -rounded)
            )
            remaining.discard(best)
            for c in remaining:
                s = sim.get((c, best))
                if s is not None and (maxsim[c] is None or s > maxsim[c]):
                    maxsim[c] = s
        return pd.DataFrame(
            out, columns=["query_id", "rank", "neighbor_id", "relevance", "mmr_score"]
        )

    # id columns keep their INPUT types (string doc ids work like the
    # rest of the similarity family, not just bigint vec ids)
    if candidates is None:
        qid_t = queries.schema[query_id].dataType.simpleString()
    else:
        qid_t = candidates.schema["query_id"].dataType.simpleString()
    nid_t = corpus.schema[corpus_id].dataType.simpleString()
    return grouped.groupBy("query_id").applyInPandas(
        _greedy,
        schema=(
            f"query_id {qid_t}, rank int, neighbor_id {nid_t}, "
            "relevance double, mmr_score double"
        ),
    )


def facility_location_select(
    df: DataFrame,
    k: int = 5,
    pool: int = 24,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy facility-location selection over an embedding corpus (the
    monotone-submodular coreset objective ``max_S Σ_x max_{s∈S}
    sim⁺(x,s)``, Nemhauser et al. 1978 greedy, (1 − 1/e)-approximate):
    pick ``k`` representatives so every corpus vector has a similar
    selected neighbor — the SEMANTIC counterpart of
    :func:`~biomedical_data_integration_spark.operators.sampling.max_coverage_select`
    (which maximizes lexical coverage) and the coverage-driven
    alternative to :func:`mmr_topk` (which serves a query; this
    summarizes the corpus — exemplar picking, eval-set seeding,
    prototype selection for semantic dedup review).

    ``sim⁺ = max(0, cosine)`` — anti-correlated vectors contribute no
    coverage, which keeps the objective monotone and the empty-set
    baseline exactly 0.

    Scale shape: candidates are the ``pool`` lowest salted-md5 ids (a
    deterministic pseudo-random sample, SQL-replayable); the
    pool×corpus similarity table builds in ONE broadcast-join scan of
    the corpus, floor-quantizes to exact bigint MICRO-UNITS (the
    dsir/ADC discipline — order-free integer sums, no float-fold drift),
    and is pinned; each greedy step is one join +
    map-side-combinable sum over it collecting exactly ONE row — k
    driver round-trips, the maxmin ≤20 iteration contract.

    Returns ``(rank, <id_col>, gain_micro, objective_micro)``: the
    marginal coverage gain and running objective in 1e-6 units, exact
    integers end to end. Stops early at zero marginal gain.
    """
    from biomedical_data_integration_spark.functions.hashing import md5_hex

    if k < 1:
        raise ValueError(f"facility_location_select: k must be >= 1, got {k}")
    if pool < k:
        raise ValueError(
            f"facility_location_select: need pool >= k, got pool={pool} k={k}"
        )
    spark = df.sparkSession
    cand = (
        df.select(
            F.col(id_col).alias("c"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
            md5_hex(F.col(id_col), salt="fl").alias("__h"),
        )
        .orderBy("__h", "c")
        .limit(int(pool))
        .drop("__h")
    )
    corpus = df.select(
        F.col(id_col).alias("x"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    sims = pin(
        F.broadcast(cand)
        .crossJoin(corpus)
        .select(
            "c",
            "x",
            F.floor(F.greatest(_pair_cosine(), F.lit(0.0)) * 1_000_000)
            .cast("bigint")
            .alias("sim"),
        )
    )
    selected: list = []
    out_rows = []
    objective = 0
    for rank in range(1, int(k) + 1):
        rem = sims
        if selected:
            cur = (
                sims.where(F.col("c").isin(selected))
                .groupBy("x")
                .agg(F.max("sim").alias("cur"))
            )
            rem = (
                sims.where(~F.col("c").isin(selected))
                .join(cur, "x", "left")
                .select(
                    "c",
                    F.greatest(
                        F.col("sim") - F.coalesce(F.col("cur"), F.lit(0)),
                        F.lit(0),
                    ).alias("sim"),
                )
            )
        best = (
            rem.groupBy("c")
            .agg(F.sum("sim").cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("c"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["gain"] == 0:
            break
        objective += int(best[0]["gain"])
        selected.append(best[0]["c"])
        out_rows.append((rank, best[0]["c"], int(best[0]["gain"]), objective))
    id_t = df.schema[id_col].dataType.simpleString()
    return local_frame(
        spark,
        out_rows,
        schema=(
            f"rank int, {id_col} {id_t}, gain_micro bigint, "
            "objective_micro bigint"
        ),
    )
