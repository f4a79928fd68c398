"""Distributed prefix sums over a value-keyed table.

The rank-statistics family (Mann-Whitney, Spearman, KS, type-1
quantile boundaries) needs cumulative counts in value order over a
DISTINCT-VALUE table. ``Window.orderBy(v)`` with no partition key is a
single-task global sort — correct, but ONE executor core becomes the
bottleneck when the metric is continuous (distinct-value cardinality
~n at scale=6 quantization). This module computes the same sums fully
in parallel, the textbook two-pass distributed prefix sum:

1. collect ~``buckets`` approximate quantile boundaries of the order
   column once (a bucket-count-sized driver collect, the engine's
   sanctioned collect class). The cumsum RESULT is boundary-independent
   — boundaries only balance work — so approxQuantile's run-to-run
   wobble cannot affect values, and the collected literals freeze ONE
   consistent bucketing into the plan (no lazy-replay inconsistency,
   unlike ``spark_partition_id`` after ``repartitionByRange``).
2. bucket every row by ``#boundaries < v`` — monotone in v by
   construction; a literal fold, no shuffle;
3. per-bucket exclusive cumsums via a window PARTITIONED by bucket:
   parallel across buckets, one hash exchange + per-bucket sort;
4. per-bucket totals exploded to every LATER bucket id and summed:
   bucket offsets as pure equi-join/groupBy arithmetic on a
   buckets-sized table — no window, no single-task sort anywhere;
5. broadcast-join the offsets back: exclusive prefix sum =
   intra-bucket cumsum + bucket offset, bit-identical to the
   single-task window under any bucketing (exact integer arithmetic).

Scale shape: 2 extra combinable passes over the (already collapsed)
distinct-value table (boundaries + totals) buy removing the one
single-task sort — the right trade everywhere past bench scale, and
measured competitive at bench scale (PERF_NOTES round 8).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark.session import pin

# ~2x local core count: enough buckets that the per-bucket sorts spread
# over every core even with approxQuantile imbalance, few enough that
# the bucket fold (O(buckets) per row, interpreted HOF) stays trivial.
DEFAULT_PREFIX_BUCKETS = 64


def exclusive_prefix_sums(
    df: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    buckets: Optional[int] = None,
    rel_err: float = 1e-3,
    with_totals: bool = False,
    kernel: Optional[str] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Exclusive prefix sums (sum over STRICTLY-earlier rows in
    ``order_col`` order) of every column in ``sum_cols``, appended as
    ``<col>_xps``; with ``with_totals`` also the grand totals as
    ``<col>_tot`` on every row.

    Kernel policy (``planning.rank_cumsum_kernel``, the engine-wide
    measured-cardinality pattern): ``kernel=None`` counts the input
    once and routes — a bounded table takes ONE ordered window (single
    task on collapsed data beats ~5 stages of scheduling; the count is
    a cheap aggregate), an unbounded one takes the bucketed two-pass
    shape with no single-task sort. Passing explicit ``buckets``
    forces the bucketed kernel; ``kernel="window"|"bucketed"`` pins it
    outright. Results are BIT-EQUAL on either kernel (tested), so the
    switch is invisible to oracles.

    ``n_rows`` is a caller-supplied cardinality hint: when given (and
    ``kernel`` is None) the routing count job is SKIPPED entirely and
    the policy consults the hint instead. Any upper bound on the
    row count is a valid hint — the policy is a single threshold, so
    an overestimate can only route a small table to the bucketed
    kernel (correct either way, bit-equal), never a corpus-scale
    table to the single-task window. Composed pipelines (rfm's three
    ntiles, spearman's two rank tables) thread one known count through
    every call instead of paying a routing scan per rank op.

    Contract: ``order_col`` must be unique per row (callers pass
    distinct-value tables) and non-NULL; NaN (float/double order
    columns) sorts into the top bucket, matching Spark's NaN-last
    ordering. Sum columns must be exact types (bigint/decimal) — the
    two-level sum is only bit-equal to the global window for exact
    arithmetic.
    """
    pinned = False
    if kernel is None and buckets is not None:
        kernel = "bucketed"
    if kernel is None:
        from biomedical_data_integration_spark import planning

        if n_rows is not None:
            n = int(n_rows)
        else:
            # a routing count means df's (possibly corpus-scale)
            # upstream lineage MUST execute once — pin it at that
            # moment so the count is the only execution and both
            # kernels then read the pinned copy. Counting the raw
            # frame first would replay the lineage a second time in
            # whichever kernel follows.
            df = pin(df)
            pinned = True
            n = df.count()
        kernel = planning.rank_cumsum_kernel(n)
    if kernel != "window" and not pinned:
        # the bucketed shape reads df 3x (boundary collect, intra
        # windows, totals branch) — pin the collapsed table ONCE,
        # the repo's pin discipline (set_similarity,
        # kmeans_two_level). The window kernel reads df exactly once,
        # so with an ``n_rows`` hint (or an explicit kernel) the
        # small-table fast path stays zero extra jobs.
        df = pin(df)
    if kernel == "window":
        w = Window.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        out = df.select(
            "*",
            *[
                F.coalesce(F.sum(c).over(w), F.lit(0)).alias(f"{c}_xps")
                for c in sum_cols
            ],
        )
        if with_totals:
            tot = Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            out = out.select(
                "*",
                *[F.sum(c).over(tot).alias(f"{c}_tot") for c in sum_cols],
            )
        return out
    if kernel != "bucketed":
        raise ValueError(f"exclusive_prefix_sums: unknown kernel {kernel!r}")
    b = buckets or DEFAULT_PREFIX_BUCKETS
    dtype = dict(df.dtypes)[order_col]
    is_float = dtype in ("float", "double")
    clean = df.where(~F.isnan(order_col)) if is_float else df
    probs = [i / b for i in range(1, b)]
    bounds = (
        sorted(set(clean.stat.approxQuantile(order_col, probs, rel_err)))
        if probs
        else []
    )
    nb = len(bounds)
    if nb:
        barr = F.array(*[F.lit(x) for x in bounds])
        bkt = F.aggregate(
            barr,
            F.lit(0),
            lambda acc, x: acc + (F.col(order_col) > x).cast("int"),
        )
    else:
        bkt = F.lit(0)
    if is_float:
        bkt = F.when(F.isnan(order_col), F.lit(nb)).otherwise(bkt)
    staged = df.withColumn("__bkt", bkt)
    w = (
        Window.partitionBy("__bkt")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = staged.select(
        "*",
        *[
            F.coalesce(F.sum(c).over(w), F.lit(0)).alias(f"__in_{c}")
            for c in sum_cols
        ],
    )
    # per-bucket totals -> exploded to every LATER bucket (and to the
    # virtual bucket nb+1 = the grand total): offsets without a window.
    tots = staged.groupBy("__bkt").agg(
        *[F.sum(c).alias(f"__tot_{c}") for c in sum_cols]
    )
    exploded = tots.select(
        F.explode(
            F.sequence(F.col("__bkt") + 1, F.lit(nb + 1))
        ).alias("__tgt"),
        *[f"__tot_{c}" for c in sum_cols],
    )
    offs = exploded.groupBy("__tgt").agg(
        *[F.sum(f"__tot_{c}").alias(f"__off_{c}") for c in sum_cols]
    )
    out = intra.join(
        F.broadcast(offs.where(F.col("__tgt") <= nb)),
        intra["__bkt"] == F.col("__tgt"),
        "left",
    ).select(
        *df.columns,
        *[
            (
                F.col(f"__in_{c}")
                + F.coalesce(F.col(f"__off_{c}"), F.lit(0))
            ).alias(f"{c}_xps")
            for c in sum_cols
        ],
    )
    if with_totals:
        grand = offs.where(F.col("__tgt") == nb + 1).select(
            *[F.col(f"__off_{c}").alias(f"{c}_tot") for c in sum_cols]
        )
        out = out.crossJoin(F.broadcast(grand))
    return out


def global_ntile(
    df: DataFrame,
    key_col: str,
    tiebreak_col: str,
    n: int,
    out_col: str,
    descending: bool = False,
    kernel: Optional[str] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Exact global ``ntile(n)`` over the total order ``(key_col
    [DESC], tiebreak_col ASC)`` WITHOUT the single-task sort
    ``F.ntile(n).over(Window.orderBy(...))`` compiles to.

    Ranks decompose as (rows with strictly-smaller key) + (row_number
    among equal keys): the first term is :func:`exclusive_prefix_sums`
    over the distinct-key table, the second a window PARTITIONED by key
    — both parallel. The tile is then pure arithmetic replicating
    Spark's NTile exactly: with ``N`` rows, ``base = N div n`` and
    ``rem = N mod n``, the first ``rem`` tiles hold ``base + 1`` rows.
    Integer division rides decimal(38,0) (exactly-divisible operands),
    so tiles are bit-equal to the window form at any size.

    ``key_col`` must be numeric non-NULL (``descending`` negates it —
    monotone and exact for ints/doubles away from the int64 minimum,
    which would overflow the negation under ANSI) and ``(key,
    tiebreak)`` must be unique per row. Adds ``out_col`` (int).
    Descending float keys: NaN maps to ``-inf`` AFTER negation so both
    kernels rank it FIRST (Spark orders NaN above +inf) — bit-equal
    unless NaN and a literal +inf key coexist (then their mutual order
    follows the tiebreak, documented residual).

    Kernel policy: ``kernel=None`` counts the rows once and routes
    (``planning.rank_cumsum_kernel``) — bounded tables take the plain
    ``F.ntile`` window (one exchange; bit-equal, tested), unbounded
    ones the prefix-sum decomposition above (row table pinned once:
    it feeds the distinct-key collapse, the tie window, and the
    offsets join — the pin discipline). A caller-supplied
    ``n_rows`` hint (any upper bound on the row count) skips the
    routing count job entirely — the rfm hoist pattern, generalized.
    """
    if n < 1:
        raise ValueError("global_ntile: n must be >= 1")
    pinned = False
    if kernel is None:
        from biomedical_data_integration_spark import planning

        if n_rows is not None:
            nr = int(n_rows)
        else:
            # pin before the routing count (same reasoning as
            # exclusive_prefix_sums): the count's lineage execution
            # becomes the ONLY one; both kernels read the pinned copy
            df = pin(df)
            pinned = True
            nr = df.count()
        kernel = planning.rank_cumsum_kernel(nr)
    if kernel == "window":
        order = (
            [F.desc(key_col), F.asc(tiebreak_col)]
            if descending
            else [F.asc(key_col), F.asc(tiebreak_col)]
        )
        w = Window.orderBy(*order)
        return df.withColumn(out_col, F.ntile(n).over(w).cast("int"))
    if kernel != "bucketed":
        raise ValueError(f"global_ntile: unknown kernel {kernel!r}")
    k = F.col(key_col)
    is_float = dict(df.dtypes)[key_col] in ("float", "double")
    if descending and is_float:
        # NaN is the LARGEST value in Spark ordering: under descending
        # it must rank FIRST in both kernels, but -NaN is still NaN
        # (which exclusive_prefix_sums sorts LAST) — map it to -inf
        gk = F.when(F.isnan(k), F.lit(float("-inf"))).otherwise(-k)
    else:
        gk = (-k) if descending else k
    staged = df.withColumn("__gk", gk)
    if not pinned:
        # already-pinned inputs (routing-count path) skip the second
        # materialization: __gk is a cheap projection over pinned rows
        staged = pin(staged)
    per = staged.groupBy("__gk").agg(
        F.count(F.lit(1)).cast("bigint").alias("__t")
    )
    offs = exclusive_prefix_sums(
        per, "__gk", ["__t"], with_totals=True, kernel="bucketed"
    ).select(
        "__gk",
        F.col("__t_xps").alias("__off"),
        F.col("__t_tot").alias("__N"),
    )
    win = Window.partitionBy("__gk").orderBy(tiebreak_col)
    ranked = (
        staged.withColumn(
            "__ir", F.row_number().over(win).cast("bigint")
        )
        .join(offs, "__gk")
        .withColumn("__rank", F.col("__off") + F.col("__ir"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def _idiv(a, b):
        # exact integer division: a - a%b is divisible by b, and
        # decimal keeps every digit, so the quotient is exact
        return ((dec(a) - dec(a) % dec(b)) / dec(b)).cast("bigint")

    N = F.col("__N")
    r = F.col("__rank")
    rem = N % F.lit(n)
    base = _idiv(N, F.lit(n))
    thr = rem * (base + F.lit(1))
    tile = F.when(
        r <= thr, _idiv(r - 1, base + F.lit(1)) + F.lit(1)
    ).otherwise(rem + _idiv(r - thr - F.lit(1), base) + F.lit(1))
    return ranked.withColumn(out_col, tile.cast("int")).drop(
        "__gk", "__ir", "__off", "__N", "__rank"
    )
