"""Distributed k-means clustering and SemDeDup-style semantic dedup over
embedding columns (``array<float>``).

Training-data-pipeline extension operators (BASELINE.json north-star; the
reference library has no clustering — its only iterative algorithm is the
driver-side similarity-flooding fixpoint, `bdikit` has nothing corpus-scale).

Design for 100 TB:

- **Lloyd's k-means** (:func:`kmeans`): centroids are k x dim doubles —
  driver-held between iterations — so every iteration is ONE scan of the
  corpus with the centroids shipped as ONE broadcast single-row
  array-of-structs and a constant-shape higher-order fold over it (plan
  size O(1) in k, one codegen for the whole fit; see
  :func:`_with_assignment`). Each iteration then runs ONE
  tiny shuffle of k groups for the centroid update (partial aggregation
  combines map-side; the exchange carries k x dim doubles per
  partition, not rows). No corpus shuffle, no cache requirement: each
  iteration re-scans the (columnar, pruned) vector column, which at
  1000 executors is bandwidth-parallel. This is the same shape MLlib
  uses, expressed on plain arrays.
- **Determinism** (oracle-checkable): seeding picks the k lowest-id
  vectors (no RNG); distances round to ``config.SIMILARITY_SCALE``
  decimals BEFORE the argmin with cluster id as tiebreaker; updated
  centroids round the same way. Given equal inputs, every engine that
  follows the same contract produces bit-equal assignments.
- **SemDeDup** (:func:`semantic_dedup`): pairwise cosine is confined to
  within-cluster pairs (the clustering is the blocking step), and a row
  is dropped iff a LOWER-id same-cluster row sits above the similarity
  threshold — one equi-join on cluster id, no global pair space. This is
  the public SemDeDup recipe (Abbas et al., 2023): cluster, then prune
  near-duplicates inside each cluster.

Empty clusters keep their previous centroid (documented, mirrored by the
SQL oracle).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.functions.vectors import dot, norm
from biomedical_data_integration_spark.session import local_frame, pin, unpin


def _with_assignment(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    scale: int,
    out: str = "__a",
) -> DataFrame:
    """Append ``out`` = nearest-centroid ``struct(dist2, cluster)``.

    The centroids ship as ONE broadcast single-row
    ``array<struct<cluster,cvec>>`` crossJoined on (broadcast
    nested-loop against one row — no shuffle, no row explosion) and the
    argmin is ``array_min(transform(...))`` over that runtime array:
    plan shape CONSTANT in k, one codegen reused across all k-means
    iterations (the centroid values are data, not literals), per-row
    work O(k·dim). With SemDeDup's auto-k (k ∝ n) the plan does not
    grow with the corpus. A literal form with one inlined fold per
    centroid was slower even at k <= 4 (planning.py docstring).

    dist2 is a left-to-right double fold rounded to ``scale`` decimals
    BEFORE the argmin, ties break on cluster id — the contract every
    SQL oracle replays."""
    cents = local_frame(
        df.sparkSession,
        [([(i, [float(x) for x in c]) for i, c in enumerate(centroids)],)],
        "__cents array<struct<cluster:int,cvec:array<double>>>",
    )
    assign = F.array_min(
        F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            c["cvec"],
                            lambda v, cc: (v.cast("double") - cc)
                            * (v.cast("double") - cc),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    scale,
                ).alias("dist2"),
                c["cluster"].alias("cluster"),
            ),
        )
    )
    return (
        df.crossJoin(F.broadcast(cents))
        .withColumn(out, assign)
        .drop("__cents")
    )


def _initial_centroids(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> List[List[float]]:
    rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(rows) < k:
        raise ValueError(f"kmeans: need at least k={k} rows, got {len(rows)}")
    if any(r[0] is None for r in rows):
        raise ValueError("kmeans: null vectors in the seed window")
    return [[float(x) for x in r[0]] for r in rows]


def _maxmin_seeds(
    df: DataFrame, vec_col: str, id_col: str, k: int, scale: int
) -> List[List[float]]:
    """Deterministic farthest-point seeding (the greedy k-means++
    variant): seed 0 is the lowest-id vector; each next seed is the
    vector maximizing the (rounded) distance to its nearest chosen seed,
    ties broken by lowest id. k-1 extra scans (one per seed) — the
    quality/cost trade documented on :func:`kmeans`."""
    # null vectors are filtered BEFORE seeding: the farthest-point query
    # orders by distance-to-nearest-seed, and a null/short vector yields a
    # null distance that can sort a degenerate row to the top
    df = df.where(F.col(vec_col).isNotNull())
    head = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if len(head) < k:
        raise ValueError(f"kmeans: need at least k={k} rows, got {len(head)}")
    seeds = [[float(x) for x in head[0][0]]]
    dim = len(seeds[0])
    pool = df.where(F.size(F.col(vec_col)) == dim)
    while len(seeds) < k:
        row = (
            _with_assignment(pool, vec_col, seeds, scale)
            .select(
                F.col(id_col),
                F.col(vec_col),
                F.col("__a")["dist2"].alias("__d"),
            )
            .orderBy(F.desc("__d"), F.asc(id_col))
            .limit(1)
            .collect()
        )
        # max-min distance 0 ⇒ every remaining vector coincides (at the
        # rounding scale) with a chosen seed — continuing would silently
        # duplicate seeds and fewer than k real clusters would exist
        if not row or row[0]["__d"] is None or row[0]["__d"] <= 0.0:
            raise ValueError(
                f"kmeans: only {len(seeds)} distinct vectors at "
                f"scale={scale}; lower k (or raise scale)"
            )
        seeds.append([float(x) for x in row[0][1]])
    return seeds


def _parallel_seeds(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    scale: int,
    rounds: int = 5,
    oversample: Optional[int] = None,
) -> List[List[float]]:
    """k-means‖ seeding (Bahmani et al., VLDB'12): the distributed
    fix for ``maxmin``'s k-1 sequential driver round-trips. Each of
    ``rounds`` passes samples EVERY point independently with probability
    ``min(1, ℓ·d²(x)/φ)`` (ℓ = ``oversample``, default 2k; φ = current
    total cost), so one scan harvests ~ℓ candidates at once — the scan
    count is O(rounds), FLAT in k. The ~ℓ·rounds candidates are then
    weighted by how many points they attract (one more scan) and
    reduced to k seeds on the driver by weighted farthest-point
    (candidate-table-sized work, no corpus access).

    Deterministic end-to-end: the sampling coin is
    ``md5(id | round | salt) / 2^60`` (the engine's hash-gated sampling
    contract — no RNG state, replayable on any partitioning), distances
    ride the same rounded contract as every assignment, and the driver
    reduction breaks ties by lowest id. If sampling harvests fewer than
    k distinct candidates (tiny inputs), the lowest-id non-candidate
    vectors top the pool up, keeping small fits total.
    """
    from biomedical_data_integration_spark.functions.hashing import (
        md5_bigint,
    )

    ell = oversample or 2 * k
    df = df.where(F.col(vec_col).isNotNull())
    head = df.orderBy(id_col).limit(max(k, 1)).collect()
    if len(head) < k:
        raise ValueError(f"kmeans: need at least k={k} rows, got {len(head)}")
    first = head[0]
    cands: dict = {first[id_col]: [float(x) for x in first[vec_col]]}
    dim = len(cands[first[id_col]])
    pool = df.where(F.size(F.col(vec_col)) == dim)
    two60 = float(1 << 60)
    # incremental cost table (the standard k-means‖ device): each round
    # measures distances ONLY against that round's NEW candidates and
    # keeps the running min — total distance work O(rounds·ℓ·dim·n),
    # not O(rounds²·ℓ·dim·n) from re-assigning against every candidate
    # so far. Pinned per round; each round releases the table it
    # replaces, and the last one is released after the rounds.
    costed = pin(
        _with_assignment(pool, vec_col, list(cands.values()), scale)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__a")["dist2"].alias("__cost"),
        )
    )
    for r in range(rounds):
        phi = costed.agg(F.sum("__cost")).collect()[0][0]
        if not phi or phi <= 0.0:
            break  # every point coincides with a candidate: done
        u = (
            md5_bigint(
                F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(r))),
                "kmeans_parallel",
            ).cast("double")
            / F.lit(two60)
        )
        # hard driver-memory bound: a round samples ~ℓ candidates in
        # expectation, but a degenerate cost distribution (or a bad
        # oversample choice) has no natural ceiling — cap the collect
        # at 8·ℓ and raise with guidance instead of silently OOMing
        # the driver (limit() on an unsorted frame would truncate
        # NON-deterministically, breaking the replayable contract)
        cap = 8 * ell
        picked = (
            costed.where(
                u < F.col("__cost") * F.lit(float(ell)) / F.lit(float(phi))
            )
            .select(id_col, vec_col)
            .limit(cap + 1)
            .collect()
        )
        if len(picked) > cap:
            raise ValueError(
                f"kmeans parallel seeding: round {r} sampled more than "
                f"{cap} candidates (8x oversample={ell}) — degenerate "
                "cost distribution; lower oversample or use "
                "init='maxmin'"
            )
        new_vecs = []
        for row in picked:
            if row[id_col] not in cands:
                vec = [float(x) for x in row[vec_col]]
                cands[row[id_col]] = vec
                new_vecs.append(vec)
        if not new_vecs:
            continue
        if r < rounds - 1:  # last round's cost table is never read
            nxt = pin(
                _with_assignment(costed, vec_col, new_vecs, scale)
                .select(
                    F.col(id_col),
                    F.col(vec_col),
                    F.least(
                        F.col("__cost"), F.col("__a")["dist2"]
                    ).alias("__cost"),
                )
            )
            unpin(costed)
            costed = nxt
    unpin(costed)
    if len(cands) < k:
        # tiny-input top-up: lowest-id vectors not yet candidates —
        # drawn from POOL (dimension-filtered), never raw head rows, so
        # a malformed short vector can't become a seed
        for row in pool.orderBy(id_col).limit(k).collect():
            cands.setdefault(row[id_col], [float(x) for x in row[vec_col]])
            if len(cands) >= k:
                break
    if len(cands) < k:
        raise ValueError(
            f"kmeans: only {len(cands)} candidate vectors for k={k}"
        )
    if len({tuple(v) for v in cands.values()}) < k:
        # mirror maxmin's contract: k seeds require k DISTINCT vectors —
        # duplicate seeds would silently leave permanently empty clusters
        raise ValueError(
            f"kmeans: only {len({tuple(v) for v in cands.values()})} "
            f"distinct vectors among the candidates; lower k"
        )
    # weight candidates by attraction (ONE scan, flat in k and rounds)
    cand_ids = sorted(cands)
    cand_vecs = [cands[i] for i in cand_ids]
    weights_rows = (
        _with_assignment(pool, vec_col, cand_vecs, scale)
        .groupBy(F.col("__a")["cluster"].alias("__c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__w"))
        .collect()
    )
    wmap = {int(r["__c"]): int(r["__w"]) for r in weights_rows}
    weights = [wmap.get(i, 0) for i in range(len(cand_ids))]
    # driver-side weighted farthest-point reduction to k (candidate-
    # table-sized: O(k·ℓ·rounds·dim) floats, no Spark)
    start = max(range(len(cand_ids)), key=lambda i: (weights[i], -i))
    chosen = [start]
    mind = [
        sum((a - b) * (a - b) for a, b in zip(cand_vecs[start], v))
        for v in cand_vecs
    ]
    while len(chosen) < k:
        nxt = max(
            (i for i in range(len(cand_ids)) if i not in set(chosen)),
            key=lambda i: (weights[i] * mind[i], -i),
        )
        chosen.append(nxt)
        for i, v in enumerate(cand_vecs):
            d = sum((a - b) * (a - b) for a, b in zip(cand_vecs[nxt], v))
            if d < mind[i]:
                mind[i] = d
    return [cand_vecs[i] for i in chosen]


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 3,
    scale: Optional[int] = None,
    init: str = "lowest_id",
) -> Tuple[DataFrame, List[List[float]]]:
    """Deterministic Lloyd's k-means; returns ``(assignments, centroids)``.

    ``assignments`` has columns ``(id_col, cluster int, dist2 double)`` —
    the assignment against the centroids after ``max_iter`` update rounds.
    Each round runs one assignment pass and one centroid update (mean per
    cluster, rounded to ``scale`` decimals); clusters that lose all
    members keep their previous centroid.

    ``init``: ``"lowest_id"`` (default) seeds with the k lowest-id
    vectors — one scan, and the contract the SQL oracle replays.
    ``"maxmin"`` is deterministic farthest-point seeding (greedy
    k-means++): much better spread on clumped data, at the cost of k-1
    extra scans — the pick for moderate k where seed quality matters
    more than the extra passes. ``"parallel"`` is k-means‖ (Bahmani
    oversampling, hash-gated coins): ~rounds+2 scans FLAT in k — the
    large-k corpus path (maxmin's k-1 sequential round-trips are the
    round-7 verdict's scale caveat). ``"auto"`` routes between the two
    quality inits by k (``planning.seeding_kernel``: maxmin through
    k=20, parallel above) — the entry point for fits no oracle
    replays.

    Reference has no counterpart (closest public analogue: MLlib KMeans);
    re-derived here on plain arrays so the oracle can replay it in SQL.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    # pin the NARROW working set once: seeding + max_iter update rounds
    # + the final assignment all rescan it, and without the pin every
    # pass re-reads (and re-decodes) the source — measured ~30% off the
    # whole fit at sf0.1. At cluster scale this is the standard
    # iterative-algorithm trade: one (id, vec) materialization to local
    # executor storage against max_iter+2 source scans
    df = pin(df.select(F.col(id_col), F.col(vec_col)))
    if init == "auto":
        # quality seeding routed by k (planning.seeding_kernel):
        # farthest-point while the k-1 driver round-trips stay cheap,
        # k-means‖ past the limit (scan count flat in k). Fits that an
        # oracle replays pin init explicitly instead.
        from biomedical_data_integration_spark import planning

        init = planning.seeding_kernel(k)
    if init == "lowest_id":
        # dim comes from the seed collect — no separate first() action
        centroids = _initial_centroids(df, vec_col, id_col, k)
    elif init == "maxmin":
        centroids = _maxmin_seeds(df, vec_col, id_col, k, scale)
    elif init == "parallel":
        centroids = _parallel_seeds(df, vec_col, id_col, k, scale)
    else:
        raise ValueError(f"kmeans: unknown init {init!r}")
    dim = len(centroids[0])

    for _ in range(max_iter):
        assigned = _with_assignment(df, vec_col, centroids, scale).select(
            F.col(id_col),
            F.col(vec_col).alias("__v"),
            F.col("__a")["cluster"].alias("__cluster"),
        )
        # centroid update: posexplode to (cluster, pos, val) then ONE
        # groupBy over k x dim keys. Same math as a k-row groupBy with
        # dim avg columns, but the generated aggregate stays small and
        # STABLE across iterations — the wide-column form re-embeds each
        # round's centroid literals into a dim-wide codegen unit that
        # janino recompiles every iteration (measured 2x on sf0.1:
        # 1.1-1.8 s/round wide vs 0.5-1.2 s/round exploded; the shuffle
        # carries k x dim partial sums either way)
        new_rows = (
            assigned.select(
                "__cluster", F.posexplode("__v").alias("__pos", "__val")
            )
            .groupBy("__cluster", "__pos")
            .agg(
                F.round(F.avg(F.col("__val").cast("double")), scale).alias(
                    "__m"
                )
            )
            .collect()
        )
        updated: dict = {}
        for r in new_rows:
            updated.setdefault(int(r["__cluster"]), [0.0] * dim)[
                int(r["__pos"])
            ] = float(r["__m"])
        centroids = [updated.get(i, centroids[i]) for i in range(k)]

    final = _with_assignment(df, vec_col, centroids, scale).select(
        id_col,
        F.col("__a")["cluster"].alias("cluster"),
        F.col("__a")["dist2"].alias("dist2"),
    )
    return final, centroids


def _two_level_assign(
    base: DataFrame, cents: DataFrame, vec_col: str, scale: int
) -> DataFrame:
    """Nearest SUB-centroid within each row's coarse cluster: group the
    (coarse, sub, vec) centroid table into one array per coarse key and
    equi-join on ``coarse`` — each row sees ONLY its coarse cluster's
    sub-centroids; argmin via the constant-shape higher-order fold.
    Appends ``__a`` = struct(dist2, sub).

    The join strategy is deliberately left to Catalyst/AQE (no forced
    broadcast): at bench scale the k1-row array table is tiny and AQE
    converts to a broadcast join at runtime from the exact shuffle
    sizes, while at corpus scale (k1·k2·dim beyond executor memory —
    millions of cells) the same plan degrades gracefully to a
    coarse-keyed shuffle join instead of OOMing the driver on a forced
    broadcast."""
    arr = cents.groupBy("coarse").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("sub"), F.col("__cv").alias("cvec")))
        ).alias("__cents2")
    )
    assign = F.array_min(
        F.transform(
            F.col("__cents2"),
            lambda c: F.struct(
                F.round(
                    F.aggregate(
                        F.zip_with(
                            F.col(vec_col),
                            c["cvec"],
                            lambda v, cc: (v.cast("double") - cc)
                            * (v.cast("double") - cc),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    scale,
                ).alias("dist2"),
                c["sub"].alias("sub"),
            ),
        )
    )
    return (
        base.join(arr, "coarse")
        .withColumn("__a", assign)
        .drop("__cents2")
    )


def kmeans_two_level(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k1: int = 8,
    k2: int = 8,
    max_iter: int = 3,
    scale: Optional[int] = None,
    coarse_init: str = "lowest_id",
) -> DataFrame:
    """Two-level hierarchical Lloyd's k-means — the TRUE corpus-scale
    clustering path: ``k1`` coarse clusters over the whole corpus, then
    ``k2`` sub-clusters fitted INSIDE each coarse cluster, giving
    ~``k1·k2`` total cells with per-row assignment work O((k1+k2)·dim)
    instead of the flat fit's O(k1·k2·dim). With k ∝ n (the SemDeDup
    auto-k contract) the flat fit is O(n·k·dim) = quadratic-in-n
    compute; picking k1 ≈ k2 ≈ √k makes the same cell count cost
    O(n·√k·dim).

    Phase-2 state never touches the driver: sub-centroids live in a
    (coarse, sub, vec) DataFrame — seeds are the k2 lowest-id vectors
    per coarse cluster (one window), each iteration is one
    coarse-keyed broadcast join + argmin fold + one (coarse, sub,
    dim)-keyed combinable groupBy, and the table is pinned per
    iteration so plans don't replay, releasing the pin it replaces.
    Only the k1 phase-1 centroids are driver-held (via :func:`kmeans`).
    Empty sub-clusters keep their previous centroid (LEFT-join coalesce,
    the phase-1 contract).

    Determinism: same rounded-distance/lowest-id-tiebreak contract as
    :func:`kmeans` at both levels — bit-reproducible, SQL-replayable
    with the default ``coarse_init="lowest_id"``. ``coarse_init``
    passes through to the phase-1 :func:`kmeans` fit: ``"auto"``
    routes quality seeding by k1 (``planning.seeding_kernel`` —
    maxmin small, k-means‖ large, scans flat in k) for fits no oracle
    replays.

    Returns assignments ``(id_col, coarse int, sub int, dist2 double)``.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    from pyspark.sql import Window

    coarse, _ = kmeans(
        df, vec_col, id_col, k=k1, max_iter=max_iter, scale=scale,
        init=coarse_init,
    )
    base = pin(
        df.select(F.col(id_col), F.col(vec_col))
        .join(coarse.select(id_col, F.col("cluster").alias("coarse")), id_col)
    )
    unpin(coarse)  # the phase-1 fit's working set
    w = Window.partitionBy("coarse").orderBy(id_col)
    cents = pin(
        base.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k2)
        .select(
            "coarse",
            (F.col("__rn") - 1).cast("int").alias("sub"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
    )
    for _ in range(max_iter):
        assigned = _two_level_assign(base, cents, vec_col, scale).select(
            "coarse",
            F.col("__a")["sub"].alias("sub"),
            F.col(vec_col).alias("__v"),
        )
        upd = (
            assigned.select(
                "coarse", "sub", F.posexplode("__v").alias("__pos", "__val")
            )
            .groupBy("coarse", "sub", "__pos")
            .agg(
                F.round(F.avg(F.col("__val").cast("double")), scale).alias(
                    "__m"
                )
            )
            .groupBy("coarse", "sub")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("__cvn")
            )
        )
        nxt = pin(
            cents.join(upd, ["coarse", "sub"], "left")
            .select(
                "coarse",
                "sub",
                F.coalesce(F.col("__cvn"), F.col("__cv")).alias("__cv"),
            )
        )
        unpin(cents)
        cents = nxt
    return _two_level_assign(base, cents, vec_col, scale).select(
        id_col,
        "coarse",
        F.col("__a")["sub"].alias("sub"),
        F.col("__a")["dist2"].alias("dist2"),
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: Optional[int] = 8,
    max_iter: int = 3,
    threshold: float = 0.95,
    scale: Optional[int] = None,
    target_cluster_size: int = 250,
    flat_limit: Optional[int] = None,
) -> DataFrame:
    """SemDeDup: cluster, then drop every row with a LOWER-id neighbor in
    the SAME cluster at cosine >= ``threshold``. Returns the survivors as
    ``(id_col, cluster)``.

    The cluster id is the blocking key: the pair join is an equi-join on
    ``cluster`` (bounded fan-out per cluster), never an all-pairs product.
    Keep-lowest-id is the deterministic representative rule — one
    left_anti join implements "exists a smaller near-duplicate".

    **The scale invariant is cluster SIZE, not cluster count.** The
    within-cluster pair space is ~n²/k, so a fixed ``k`` turns quadratic
    as the corpus grows (measured: 8x rows at fixed k=8 cost 16x the
    wall-clock). Pass ``k=None`` to derive ``k = ceil(n /
    target_cluster_size)`` from a count — pair work then grows linearly
    with n, which is how SemDeDup runs at corpus scale (the paper uses
    tens of thousands of clusters for billions of documents).

    **Auto-k routes through the two-level hierarchy past
    ``planning.SEMDEDUP_FLAT_LIMIT``** (``flat_limit`` overrides): with
    k ∝ n, even the flat broadcast-table assignment is O(n·k·dim) —
    quadratic in n — so large fits run :func:`semantic_dedup_two_level`
    and remap its (coarse, sub) cell to ``cluster = coarse·k2 + sub``,
    keeping this function's ``(id_col, cluster)`` surface. An explicit
    ``k`` always stays on the flat path (the caller chose the
    clustering).
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    if k is None:
        import math

        from biomedical_data_integration_spark import planning

        n = df.count()
        k = max(1, min(n, math.ceil(n / target_cluster_size)))
        if planning.semdedup_kernel(n, flat_limit) == "two_level":
            # ONE derivation of the cell grid, shared with the callee
            # (passing k1/k2 also skips its second corpus count) — the
            # remap below is collision-free exactly because the callee
            # runs THESE k1/k2
            k1, k2 = _auto_k_cells(k)
            out = semantic_dedup_two_level(
                df,
                vec_col=vec_col,
                id_col=id_col,
                max_iter=max_iter,
                threshold=threshold,
                scale=scale,
                target_cluster_size=target_cluster_size,
                k1=k1,
                k2=k2,
            )
            return out.select(
                id_col,
                (F.col("coarse") * F.lit(k2) + F.col("sub"))
                .cast("int")
                .alias("cluster"),
            )
    assigned, _ = kmeans(df, vec_col, id_col, k=k, max_iter=max_iter, scale=scale)
    # the assignment table is referenced three times below (both join
    # sides and the survivor anti-join); left lazy, each reference
    # replays the k-centroid assignment fold over the corpus. Pin the
    # (id, cluster)-sized table once — the pagerank edge-table
    # pin discipline (measured ~25% off the whole operator
    # at sf0.1)
    assigned = assigned.select(id_col, "cluster")
    # norms fold once per VECTOR here, not once per pair — the O(dim)
    # norm-in-the-join anti-pattern measured 2x+ on the all-pairs plans
    # (see operators/similarity._pair_cosine); arithmetic is unchanged
    # (dot / (ni * nj) is the same double expression cosine() builds).
    # base is referenced THREE times below (both pair-join sides and the
    # survivor anti-join) — pin it once, norms included, instead of
    # replaying the assignment fold + norm fold per reference
    base = pin(
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned, id_col)
        .withColumn("__nrm", norm(F.col(vec_col)))
    )
    left = base.select(
        F.col(id_col).alias("__i"),
        F.col(vec_col).alias("__vi"),
        F.col("__nrm").alias("__ni"),
        F.col("cluster").alias("__c"),
    )
    right = base.select(
        F.col(id_col).alias("__j"),
        F.col(vec_col).alias("__vj"),
        F.col("__nrm").alias("__nj"),
        F.col("cluster").alias("__c"),
    )
    denom = F.col("__ni") * F.col("__nj")
    sim = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("__vi"), F.col("__vj")) / denom
    )
    dominated = (
        left.join(right, "__c")
        .where(F.col("__j") < F.col("__i"))
        .where(F.round(sim, scale) >= F.lit(threshold))
        .select(F.col("__i").alias(id_col))
        .distinct()
    )
    return (
        base.join(dominated, id_col, "left_anti")
        .select(id_col, "cluster")
    )


def _auto_k_cells(k: int) -> Tuple[int, int]:
    """The auto-k cell grid: ``k1 = ceil(√k)`` coarse × ``k2 =
    ceil(k/k1)`` sub clusters — the ONE place the derivation lives
    (semantic_dedup's flat-id remap ``coarse·k2 + sub`` is only
    collision-free when caller and callee agree on k2)."""
    import math

    k1 = max(1, math.ceil(math.sqrt(k)))
    k2 = max(1, math.ceil(k / k1))
    return k1, k2


def semantic_dedup_two_level(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 3,
    threshold: float = 0.95,
    scale: Optional[int] = None,
    target_cluster_size: int = 250,
    k1: Optional[int] = None,
    k2: Optional[int] = None,
    coarse_init: str = "lowest_id",
) -> DataFrame:
    """SemDeDup on the two-level hierarchy — the corpus-scale
    configuration: cluster COUNT still derives from the corpus count
    (``k = ceil(n / target_cluster_size)``, the auto-k contract), but
    the cells come from :func:`kmeans_two_level` with ``k1 = ceil(√k)``
    coarse × ``k2 = ceil(k/k1)`` sub clusters, so BOTH the pair join
    (blocked on the (coarse, sub) cell) AND the assignment stay bounded:
    pair work ~n·target, assignment work O(n·√k·dim) — no quadratic
    anywhere as n grows. Returns survivors ``(id_col, coarse, sub)``;
    a row is dropped iff a LOWER-id same-cell neighbor sits at cosine
    >= ``threshold``. Pass BOTH ``k1`` and ``k2`` to pin the cell grid
    (and skip the corpus count) — the semantic_dedup auto-k router
    does, so its flat-id remap shares this fit's k2.
    ``coarse_init="auto"`` upgrades the phase-1 seeding by policy
    (``planning.seeding_kernel``) for fits no oracle replays; the
    default keeps the SQL-replayable lowest-id contract.
    """
    import math

    if scale is None:
        scale = config.SIMILARITY_SCALE
    if k1 is None or k2 is None:
        n = df.count()
        k = max(1, min(n, math.ceil(n / target_cluster_size)))
        k1, k2 = _auto_k_cells(k)
    assigned = kmeans_two_level(
        df, vec_col, id_col, k1=k1, k2=k2, max_iter=max_iter, scale=scale,
        coarse_init=coarse_init,
    )
    base = pin(
        df.select(F.col(id_col), F.col(vec_col))
        .join(assigned.select(id_col, "coarse", "sub"), id_col)
        .withColumn("__nrm", norm(F.col(vec_col)))
    )
    left = base.select(
        F.col(id_col).alias("__i"),
        F.col(vec_col).alias("__vi"),
        F.col("__nrm").alias("__ni"),
        F.col("coarse").alias("__c1"),
        F.col("sub").alias("__c2"),
    )
    right = base.select(
        F.col(id_col).alias("__j"),
        F.col(vec_col).alias("__vj"),
        F.col("__nrm").alias("__nj"),
        F.col("coarse").alias("__c1"),
        F.col("sub").alias("__c2"),
    )
    denom = F.col("__ni") * F.col("__nj")
    sim = F.when(denom == 0, F.lit(0.0)).otherwise(
        dot(F.col("__vi"), F.col("__vj")) / denom
    )
    dominated = (
        left.join(right, ["__c1", "__c2"])
        .where(F.col("__j") < F.col("__i"))
        .where(F.round(sim, scale) >= F.lit(threshold))
        .select(F.col("__i").alias(id_col))
        .distinct()
    )
    return base.join(dominated, id_col, "left_anti").select(
        id_col, "coarse", "sub"
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 3,
    scale: Optional[int] = None,
) -> DataFrame:
    """Embedding-space outlier scores: fit :func:`kmeans`, then score
    each vector by the MAD-based robust z of its squared distance to
    its assigned centroid WITHIN its cluster — the anomaly gate that
    catches mislabeled/poisoned/off-distribution vectors a global
    distance threshold misses (each cluster supplies its own deviation
    unit, so dense and diffuse clusters are judged on their own terms).

    Pure composition: the kmeans fit plus
    ``profiling.robust_zscore`` on the cluster-keyed dist2 — both
    already SQL-replayable, so the composition is too. Returns
    ``(id_col, cluster, dist2, outlier_rz)``; NULL score in clusters
    whose MAD is 0 (no meaningful deviation unit).
    """
    from biomedical_data_integration_spark.operators.profiling import (
        robust_zscore,
    )

    assigned, _ = kmeans(
        df, vec_col, id_col, k=k, max_iter=max_iter, scale=scale
    )
    return robust_zscore(
        assigned, "dist2", group_col="cluster", out_col="outlier_rz"
    )


def embedding_health_report(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: Optional[int] = None,
) -> DataFrame:
    """One-row embedding-corpus health readout — the sanity gate before
    any ANN/SemDeDup/clustering run spends cluster time on a broken
    embedding table: ``(n, dim, n_dim_mismatch, mean_norm, median_norm,
    anisotropy, zero_frac)``.

    - ``mean_norm`` / ``median_norm``: L2-norm location (collapsed or
      exploded norms indicate an encoder/normalization bug); the median
      is the type-1 empirical quantile (:func:`type1_boundaries` — the
      cross-engine-exact rank statistic, policy-routed).
    - ``anisotropy`` = ‖mean vector‖ / mean‖v‖ ∈ [0, 1]: ~0 for a
      centered (isotropic-ish) corpus, → 1 when every vector points the
      same way (the classic "embedding cone" degeneration that wrecks
      cosine contrast — Ethayarajh '19).
    - ``zero_frac``: all-zero vectors (dead encoder outputs) that
      silently score cosine 0 against everything.
    - ``n_dim_mismatch``: vectors whose length differs from ``dim``
      (= max length). A mixed-dim corpus is the canonical encoder-bug
      case this gate exists for: the per-component sums below blend
      such vectors, so a non-zero count flags the anisotropy/mean
      readouts as unreliable rather than letting them mislead
      silently (ADVICE round 8).

    Determinism: per-vector norms and per-component sums ride exact
    bigint micro-units (order-free under any partitioning, the module
    contract); the mean vector's norm is one double expression over the
    dim-sized component table. Scale shape: one corpus scan for the
    norm aggregate + one posexplode scan into a (dim)-keyed combinable
    groupBy; every table after the scans is 1-row or dim-sized.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    from biomedical_data_integration_spark.operators.profiling import (
        type1_boundaries,
    )

    staged = df.where(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__v"), norm(F.col(vec_col)).alias("__nm")
    )
    qn = F.floor(F.col("__nm") * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    base = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum(qn), F.lit(0)).cast("bigint").alias("__qsum"),
        F.coalesce(
            F.sum((F.col("__nm") == 0.0).cast("int")), F.lit(0)
        ).cast("bigint").alias("__zeros"),
        F.max(F.size("__v")).cast("int").alias("dim"),
    )
    # vector-length census: a combinable count on a ~1-key table; the
    # mismatch count is total minus the population at the max length
    sizes = staged.groupBy(F.size("__v").alias("__d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__dc")
    )
    mism = sizes.agg(
        (
            F.coalesce(F.sum("__dc"), F.lit(0))
            - F.coalesce(F.max_by("__dc", "__d"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_dim_mismatch")
    )
    # per-component micro-unit sums: exact, order-free; dim-sized table
    comp = (
        staged.select(F.posexplode("__v").alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(
            F.sum(
                F.floor(F.col("__x").cast("double") * F.lit(1e6) + F.lit(0.5))
                .cast("bigint")
            ).alias("__cs")
        )
    )
    # Σ cs² on decimal(38,0): cs ~ n·1e6·|x| can pass int64 at corpus
    # scale and a double sum is order-dependent — exact decimal keeps
    # the readout bit-stable (the module contract)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mu2 = comp.agg(
        F.coalesce(
            F.sum(d(F.col("__cs")) * d(F.col("__cs"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__mu2q")
    )
    q = lambda x: F.floor(x * F.lit(10.0 ** scale) + F.lit(0.5)) / F.lit(  # noqa: E731
        10.0 ** scale
    )
    med = type1_boundaries(staged, "__nm", 2).select(
        F.element_at(F.col("__boundaries"), 1).alias("__med")
    )
    mean_norm = F.col("__qsum").cast("double") / (
        F.col("n").cast("double") * F.lit(1e6)
    )
    # anisotropy = ||mu|| / mean||v||; both carry the same 1/(n·1e6)
    # factor, so the ratio reduces to ONE division both engines share:
    # sqrt(Σcs²) / Σqnorm
    aniso = F.sqrt(F.col("__mu2q").cast("double")) / F.col("__qsum").cast(
        "double"
    )
    return (
        base.crossJoin(F.broadcast(mu2))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mism))
        .select(
            "n",
            "dim",
            "n_dim_mismatch",
            F.when(F.col("n") > 0, q(mean_norm)).alias("mean_norm"),
            F.when(F.col("n") > 0, q(F.col("__med"))).alias("median_norm"),
            F.when(
                (F.col("n") > 0) & (F.col("__qsum") > 0), q(aniso)
            ).alias("anisotropy"),
            F.when(
                F.col("n") > 0,
                q(F.col("__zeros").cast("double") / F.col("n")),
            ).alias("zero_frac"),
        )
    )


def embedding_stats_state(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """The MAINTAINED side of the embedding-health drift monitor: the
    corpus collapsed to a ``(stat string, key int, v bigint)`` table of
    exact integer sums — every row of which is map-side combinable, so
    the same expression runs unchanged as ONE streaming groupBy
    (update/complete mode, the ``streaming_bin_counts`` /
    ``streaming_variant_counts`` pattern) or as a batch aggregate.

    Rows per input vector: ``("cs", pos, micro(x_pos))`` per component
    (the anisotropy numerator state), ``("n", 0, 1)``, ``("qn", 0,
    micro(norm))``, ``("z", 0, 1 if norm == 0)``, ``("sz", size, 1)``
    (the vector-length census). State is O(dim + #distinct-lengths)
    rows regardless of corpus size; micro = ``floor(x·1e6 + 0.5)`` as
    bigint, order-free under any partitioning (the module contract).
    Read the drift out with :func:`embedding_health_drift_readout`
    against a frozen baseline snapshot of the same shape.
    """
    v = F.col(vec_col)
    nm = norm(v)
    micro = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)).cast(  # noqa: E731
        "bigint"
    )
    staged = df.where(v.isNotNull()).select(
        v.alias("__v"), nm.alias("__nm")
    )
    rows = staged.select(
        F.explode(
            F.concat(
                F.transform(
                    F.col("__v"),
                    lambda x, i: F.struct(
                        F.lit("cs").alias("stat"),
                        i.cast("int").alias("key"),
                        micro(x.cast("double")).alias("v"),
                    ),
                ),
                F.array(
                    F.struct(
                        F.lit("n").alias("stat"),
                        F.lit(0).alias("key"),
                        F.lit(1).cast("bigint").alias("v"),
                    ),
                    F.struct(
                        F.lit("qn").alias("stat"),
                        F.lit(0).alias("key"),
                        micro(F.col("__nm")).alias("v"),
                    ),
                    F.struct(
                        F.lit("z").alias("stat"),
                        F.lit(0).alias("key"),
                        (F.col("__nm") == 0.0).cast("bigint").alias("v"),
                    ),
                    F.struct(
                        F.lit("sz").alias("stat"),
                        F.size("__v").alias("key"),
                        F.lit(1).cast("bigint").alias("v"),
                    ),
                ),
            )
        ).alias("__s")
    )
    return rows.groupBy(
        F.col("__s")["stat"].alias("stat"), F.col("__s")["key"].alias("key")
    ).agg(F.sum(F.col("__s")["v"]).cast("bigint").alias("v"))


def _health_side(stats: DataFrame, scale: int) -> DataFrame:
    """One-row health readout from an :func:`embedding_stats_state`
    table: ``(n, dim, n_dim_mismatch, mean_norm, anisotropy,
    zero_frac)`` — the sums-only subset of
    :func:`embedding_health_report` (the median needs value-
    distribution state the O(dim) drift face deliberately does not
    keep; monitor norm DISTRIBUTION drift with the psi/ks readouts)."""
    s, k, v = F.col("stat"), F.col("key"), F.col("v")
    base = stats.agg(
        F.coalesce(F.sum(F.when(s == "n", v)), F.lit(0))
        .cast("bigint")
        .alias("n"),
        F.coalesce(F.sum(F.when(s == "qn", v)), F.lit(0))
        .cast("bigint")
        .alias("__qsum"),
        F.coalesce(F.sum(F.when(s == "z", v)), F.lit(0))
        .cast("bigint")
        .alias("__zeros"),
        F.max(F.when((s == "sz") & (v > 0), k)).cast("int").alias("dim"),
    )
    # zero-count size rows (possible in merged/streamed stats tables)
    # are excluded from BOTH aggregates, matching the (v > 0) guard the
    # dim column applies — otherwise a stale sz row at the largest key
    # would zero the max_by term and count every vector as mismatched
    sz = stats.where((s == "sz") & (v > 0))
    mism = sz.agg(
        (
            F.coalesce(F.sum("v"), F.lit(0))
            - F.coalesce(F.max_by("v", "key"), F.lit(0))
        )
        .cast("bigint")
        .alias("n_dim_mismatch")
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mu2 = stats.where(s == "cs").agg(
        F.coalesce(
            F.sum(d(v) * d(v)), F.lit(0).cast("decimal(38,0)")
        ).alias("__mu2q")
    )
    q = lambda x: F.floor(  # noqa: E731
        x * F.lit(10.0 ** scale) + F.lit(0.5)
    ) / F.lit(10.0 ** scale)
    mean_norm = F.col("__qsum").cast("double") / (
        F.col("n").cast("double") * F.lit(1e6)
    )
    aniso = F.sqrt(F.col("__mu2q").cast("double")) / F.col(
        "__qsum"
    ).cast("double")
    return (
        base.crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(mu2))
        .select(
            "n",
            "dim",
            "n_dim_mismatch",
            F.when(F.col("n") > 0, q(mean_norm)).alias("mean_norm"),
            F.when(
                (F.col("n") > 0) & (F.col("__qsum") > 0), q(aniso)
            ).alias("anisotropy"),
            F.when(
                F.col("n") > 0,
                q(F.col("__zeros").cast("double") / F.col("n")),
            ).alias("zero_frac"),
        )
    )


def embedding_health_drift_readout(
    baseline_stats: DataFrame,
    current_stats: DataFrame,
    scale: Optional[int] = None,
) -> DataFrame:
    """Day-over-day embedding-health drift from two MATERIALIZED
    :func:`embedding_stats_state` tables — the read-out half of the
    encoder-regression monitor between ingests (the psi/jsd readout
    pattern: maintained sums in a sink, comparison on demand).

    One row: each side's ``(n, dim, n_dim_mismatch, mean_norm,
    anisotropy, zero_frac)`` suffixed ``_a``/``_b`` plus quantized
    deltas ``d_mean_norm / d_anisotropy / d_zero_frac`` (b - a; NULL
    when either side's readout is NULL). Exact integer sums on both
    sides, so the readout is bit-stable under any partitioning and
    SQL-replayable.
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    a = _health_side(baseline_stats, scale)
    b = _health_side(current_stats, scale)
    sel_a = [F.col(c).alias(f"{c}_a") for c in a.columns]
    sel_b = [F.col(c).alias(f"{c}_b") for c in b.columns]
    q = lambda x: F.floor(  # noqa: E731
        x * F.lit(10.0 ** scale) + F.lit(0.5)
    ) / F.lit(10.0 ** scale)
    out = a.select(*sel_a).crossJoin(F.broadcast(b.select(*sel_b)))
    for m in ("mean_norm", "anisotropy", "zero_frac"):
        out = out.withColumn(
            f"d_{m}", q(F.col(f"{m}_b") - F.col(f"{m}_a"))
        )
    return out


def embedding_health_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    scale: Optional[int] = None,
) -> DataFrame:
    """Embedding-health drift between two corpus snapshots (baseline
    ``a``, current ``b``) — the batch face of the drift monitor: a
    non-zero ``d_anisotropy`` / collapsed ``mean_norm_b`` between
    consecutive ingests is the encoder-regression signal the one-shot
    :func:`embedding_health_report` cannot see. Composition of
    :func:`embedding_stats_state` + :func:`embedding_health_drift_readout`,
    so batch and streaming read the SAME expressions (parity-tested).
    """
    return embedding_health_drift_readout(
        embedding_stats_state(a, vec_col),
        embedding_stats_state(b, vec_col),
        scale=scale,
    )


def assign_clusters(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "embedding",
    scale: Optional[int] = None,
) -> DataFrame:
    """Nearest-centroid assignment against FIXED centroids — the serving /
    streaming face of :func:`kmeans`. Stateless (a broadcast 1-row
    centroid table, no shuffle, no state), so it runs unchanged on a
    streaming DataFrame: fit centroids on the batch corpus with ``kmeans``
    and score arriving vectors with this on ``readStream``.

    Appends ``cluster`` (int) and ``dist2`` (rounded squared distance).
    """
    if scale is None:
        scale = config.SIMILARITY_SCALE
    if not centroids:
        raise ValueError("assign_clusters: centroids must be non-empty")
    # a stream-static broadcast crossJoin against the 1-row centroid
    # table is supported (stateless, no watermark requirement), so
    # serving plans stay O(1) in k exactly like the batch fits (tested
    # stream==batch)
    out = _with_assignment(df, vec_col, centroids, scale)
    return out.withColumns(
        {
            "cluster": F.col("__a")["cluster"],
            "dist2": F.col("__a")["dist2"],
        }
    ).drop("__a")


# ---------------------------------------------------------------------------
# PCA: exact integer covariance + quantized power iteration
# ---------------------------------------------------------------------------


def _cov_moments(
    df: DataFrame, vec_col: str, id_col: str, scale: int
):
    """Centered integer cross-moments of an embedding column:
    ``M_ij = n·Σ q_i q_j - Σq_i·Σq_j`` over components quantized to
    ``scale`` decimals — EXACT decimal(38,0) integers, order-free under
    any partitioning. Returns (upper-triangle moments DataFrame
    ``(i, j, m)``, n). Scale shape: one posexplode (n·dim rows), one
    id-co-partitioned self-join fanning out dim²/2 pairs map-side, one
    groupBy onto dim²/2 keys, two dim-sized joins.
    """
    s = 10 ** scale
    e = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.col(vec_col)).alias("__i", "__v"),
    ).select(
        "__id",
        "__i",
        F.floor(F.col("__v").cast("double") * F.lit(float(s)) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("__q"),
    )
    a = e.select(
        F.col("__id"), F.col("__i").alias("i"), F.col("__q").alias("__qa")
    )
    b = e.select(
        F.col("__id"), F.col("__i").alias("j"), F.col("__q").alias("__qb")
    )
    spp = (
        a.join(b, "__id")
        .where(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(F.sum(F.col("__qa") * F.col("__qb")).alias("__spp"))
    )
    si = e.groupBy(F.col("__i").alias("__k")).agg(
        F.sum("__q").alias("__s")
    )
    n = df.count()
    m = (
        spp.join(si.select(F.col("__k").alias("i"), F.col("__s").alias("__si")), "i")
        .join(si.select(F.col("__k").alias("j"), F.col("__s").alias("__sj")), "j")
        .select(
            "i",
            "j",
            (
                F.lit(n).cast("decimal(38,0)") * F.col("__spp")
                - F.col("__si") * F.col("__sj")
            ).alias("m"),
        )
    )
    return m, n


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 6,
) -> DataFrame:
    """Sample covariance matrix of an embedding column: upper-triangle
    rows ``(i, j, n, cov)`` (0-based component indexes, i <= j) — the
    second-moment summary PCA, whitening, and Mahalanobis scoring start
    from.

    cov_ij = M_ij / (n·(n-1)·10^2scale) with M the exact integer
    centered cross-moment (see _cov_moments) — one float division per
    cell, floor-quantized to 6; bit-identical cross-engine. Keep
    n·(Σ|q_i q_j|) inside ~1e36 (decimal38 headroom): at web scale
    pre-average shards and combine moments, or drop ``scale``.
    """
    m, n = _cov_moments(df, vec_col, id_col, scale)
    if n < 2:
        raise ValueError("embedding_covariance: need at least 2 rows")
    denom = float(n) * float(n - 1) * float(10 ** (2 * scale))
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return m.select(
        "i",
        "j",
        F.lit(n).cast("bigint").alias("n"),
        q6(F.col("m").cast("double") / F.lit(denom)).alias("cov"),
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iter: int = 100,
    scale: int = 6,
) -> DataFrame:
    """Dominant principal component by power iteration on the INTEGER
    moment matrix — dimensionality-reduction's first axis with no
    eigensolver dependency and a bit-reproducible result.

    Every step is integer arithmetic so any engine replays it exactly:
    the matvec ``w = M v`` multiplies exact decimal(38,0) moments by a
    micro-unit vector; renormalization is ``v_i' = sign(w_i) ·
    (|w_i|·10^6 div max|w|)`` with TRUNCATING division (floor division
    disagrees between engines on negatives; truncation does not).
    Scaling M by any positive constant leaves its eigenvectors alone,
    so iterating on M instead of cov is exact, not approximate. Start
    vector: all-ones (deterministic; orthogonality to the dominant
    eigenvector is measure-zero and perturbed by quantization anyway).

    Convergence: the angle error decays like (λ2/λ1)^n_iter — the
    default 100 steps drive a 0.93 spectral ratio below 1e-3; the
    deterministic contract is the n_iter-step ITERATE itself, which
    both engines reproduce bit-for-bit regardless of gap.

    Returns dim rows ``(idx, loading, eigenvalue)``: unit-L2 loadings
    (sign fixed so the largest-|loading| component — lowest index on
    ties — is positive) and the Rayleigh-quotient eigenvalue mapped
    back to covariance units; both floor-quantized to 6.

    Scale shape: the distributed part is _cov_moments (one corpus
    scan); iteration happens on the driver over the dim²-sized integer
    matrix — schema-sized math, the k-means-centroid precedent.
    """
    m, n = _cov_moments(df, vec_col, id_col, scale)
    if n < 2:
        raise ValueError("pca_top_component: need at least 2 rows")
    rows = m.collect()
    mat = {}
    dim = 0
    for r in rows:
        i, j, v = r["i"], r["j"], int(r["m"])
        mat[(i, j)] = v
        mat[(j, i)] = v
        dim = max(dim, i + 1, j + 1)
    unit = 10 ** 6
    v = [unit] * dim
    for _ in range(n_iter):
        w = [sum(mat.get((i, j), 0) * v[j] for j in range(dim)) for i in range(dim)]
        ma = max(abs(x) for x in w)
        if ma == 0:
            break
        # truncating division, mirrored by the SQL oracle's // on |w|
        v = [
            (abs(x) * unit // ma) * (1 if x >= 0 else -1)
            for x in w
        ]
    # sign convention: largest |v_i| (lowest index on ties) positive
    pivot = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[pivot] < 0:
        v = [-x for x in v]
    num = sum(mat.get((i, j), 0) * v[i] * v[j] for i in range(dim) for j in range(dim))
    den = sum(x * x for x in v)
    denom_cov = float(n) * float(n - 1) * float(10 ** (2 * scale))
    eig = (float(num) / float(den)) / denom_cov
    import math

    l2 = math.sqrt(float(den))
    q6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    spark = df.sparkSession
    return local_frame(
        spark,
        [(i, q6(v[i] / l2), q6(eig)) for i in range(dim)],
        "idx int, loading double, eigenvalue double",
    )


def pca_project(
    df: DataFrame,
    loadings,
    vec_col: str = "embedding",
    out_col: str = "pc1",
) -> DataFrame:
    """Project embeddings onto a component: dot(vec, loadings) as a pure
    zip_with/aggregate expression over a literal loading vector —
    shuffle-free, rounded to 6. ``loadings`` is a Python list (collect
    ``pca_top_component().loading`` once per model, like centroids)."""
    arr = F.array(*[F.lit(float(x)) for x in loadings])
    prod = F.zip_with(
        F.col(vec_col).cast("array<double>"), arr, lambda a, b: a * b
    )
    dotv = F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
    return df.withColumn(
        out_col, F.floor(dotv * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )


def embedding_centroid_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Corpus-level embedding drift: the cosine between two corpora's
    centroid vectors plus both centroid norms — the one-row readout that
    says "did this week's embeddings move?" before anything per-vector
    (SemDeDup, ANN recall) is worth re-running.

    Exactness: per-dimension component sums are decimal(38,0) totals of
    micro-quantized components (the embedding_covariance discipline);
    the vector counts CANCEL in the cosine (sum_a . sum_b over
    |sum_a||sum_b|), so the whole statistic reduces to three exact
    cross-dimension decimal sums with one fixed-order double read-out.

    Scale shape: one posexplode + (side, dim)-keyed groupBy per corpus
    — map-side combinable, dim-sized intermediates, a dim-row join, a
    1-row aggregate. Corpus order, partitioning, and row count never
    touch the arithmetic.
    """
    s = 10 ** scale

    def _sums(df: DataFrame, tag: str) -> DataFrame:
        q = F.floor(
            F.col("__val").cast("double") * F.lit(float(s)) + F.lit(0.5)
        ).cast("decimal(38,0)")
        return (
            df.select(F.posexplode(F.col(vec_col)).alias("__pos", "__val"))
            .select("__pos", q.alias("__q"))
            .groupBy("__pos")
            .agg(F.sum("__q").alias(f"__s{tag}"))
        )
    n_a = df_a.where(F.col(vec_col).isNotNull()).count()
    n_b = df_b.where(F.col(vec_col).isNotNull()).count()
    sa = _sums(df_a.where(F.col(vec_col).isNotNull()), "a")
    sb = _sums(df_b.where(F.col(vec_col).isNotNull()), "b")
    joined = sa.join(sb, "__pos")
    agg = joined.agg(
        F.sum(F.col("__sa") * F.col("__sb")).alias("__sab"),
        F.sum(F.col("__sa") * F.col("__sa")).alias("__saa"),
        F.sum(F.col("__sb") * F.col("__sb")).alias("__sbb"),
    )
    sab = F.col("__sab").cast("double")
    saa = F.col("__saa").cast("double")
    sbb = F.col("__sbb").cast("double")
    cos = sab / (F.sqrt(saa) * F.sqrt(sbb))
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
        F.when((saa > 0) & (sbb > 0), q6(cos)).alias("centroid_cosine"),
        F.when(
            F.lit(n_a) > 0,
            q6(F.sqrt(saa) / (F.lit(float(n_a)) * F.lit(float(s)))),
        ).alias("centroid_norm_a"),
        F.when(
            F.lit(n_b) > 0,
            q6(F.sqrt(sbb) / (F.lit(float(n_b)) * F.lit(float(s)))),
        ).alias("centroid_norm_b"),
    )
