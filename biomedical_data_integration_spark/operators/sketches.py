"""Deterministic distributed sketches: count-min (frequency) and KMV
(distinct-count) — the mergeable-summary family a 100 TB pipeline uses
where exact aggregation is too wide to keep.

Unlike Spark's built-in approx aggregates (HyperLogLog++,
``approx_count_distinct``), these sketches are built on salted md5, so
they are BIT-DETERMINISTIC across engines and partitionings: the same
input yields the same sketch in Spark, DuckDB, or any SQL engine — which
makes them oracle-checkable AND safely mergeable across days/clusters
(sketch union = counter addition / min-set merge, both order-free).

The reference has no sketches (its only hashing is a SHA-256 cache
fingerprint, ``bdikit/utils.py:8-18``); this is the BASELINE.json
"novel sketch" extension implemented Spark-first:

- :func:`countmin_sketch` — depth x width counters as a SPARSE table
  ``(depth, pos, count)``: one explode to (row, depth) pairs + one
  map-side-combinable groupBy. Sketch size <= depth * width rows no
  matter the corpus; shuffle carries counters, not values.
- :func:`cms_estimate` — point-frequency upper bounds for candidate
  items: min over depth rows of the matching counters (classic CMS
  guarantee: estimate >= true count, overestimates bounded by n/width
  per row with prob 1 - 2^-depth).
- :func:`kmv_distinct` — k-minimum-values distinct estimate: keep the k
  smallest normalized hash values of the DISTINCT domain; if fewer than
  k exist the count is exact, else estimate (k-1)/h_k. One distinct +
  one global bottom-k (TakeOrderedAndProject — no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark.functions.hashing import md5_bigint
from biomedical_data_integration_spark.session import local_frame

HASH_SCALE = 16 ** 15  # md5_bigint range: first 15 hex chars


def countmin_sketch(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Build a count-min sketch of ``col``'s value frequencies as a sparse
    ``(depth, pos, count)`` table (absent cells are zero).

    Row r of the sketch uses hash ``md5("{salt}{r}|" + value) mod width``;
    counts are plain bigint sums, so two sketches built with the same
    (salt, width, depth) merge by ``unionByName + groupBy.sum`` — the
    standard mergeability that makes CMS work across partitions, days,
    and clusters.
    """
    if width < 1 or depth < 1:
        raise ValueError("countmin_sketch: width and depth must be >= 1")
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        (md5_bigint(F.col(col), salt=f"{salt}{d}") % width)
                        .cast("int")
                        .alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__cell")
    )
    return (
        rows.select(F.col("__cell.depth").alias("depth"),
                    F.col("__cell.pos").alias("pos"))
        .groupBy("depth", "pos")
        .agg(F.count("*").alias("count"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Estimate each item's frequency from a :func:`countmin_sketch` built
    with the same parameters: ``min`` over the depth counters the item
    hashes to (0 if a cell is absent). Returns ``(item_col, est_count)``.

    The probe is an equi-join on (depth, pos) — items x depth rows against
    the <= depth*width-row sketch, which broadcasts at any realistic
    width."""
    probes = items.select(F.col(item_col)).distinct()
    cells = probes.select(
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        (md5_bigint(F.col(item_col), salt=f"{salt}{d}") % width)
                        .cast("int")
                        .alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__cell"),
    ).select(
        item_col,
        F.col("__cell.depth").alias("depth"),
        F.col("__cell.pos").alias("pos"),
    )
    joined = cells.join(F.broadcast(sketch), ["depth", "pos"], "left").select(
        item_col, F.coalesce(F.col("count"), F.lit(0)).alias("__c")
    )
    return joined.groupBy(item_col).agg(F.min("__c").alias("est_count"))


def kmv_distinct(
    df: DataFrame,
    col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """K-minimum-values distinct-count estimate of ``col``.

    Returns one row ``(n_kept, kth_hash, distinct_estimate)``:
    ``distinct_estimate`` equals the exact distinct count when the domain
    has fewer than ``k`` values, else ``(k-1) / h_k`` with ``h_k`` the
    k-th smallest hash normalized to [0, 1). Deterministic: the "random"
    ordering is salted md5, identical in every engine.
    """
    if k < 2:
        raise ValueError("kmv_distinct: k must be >= 2")
    hashed = (
        df.select(F.col(col))
        .where(F.col(col).isNotNull())
        .distinct()
        .select(
            (md5_bigint(F.col(col), salt=salt).cast("double") / HASH_SCALE)
            .alias("__h")
        )
    )
    bottom = hashed.orderBy("__h").limit(k)
    return bottom.agg(
        F.count("*").alias("n_kept"),
        F.round(F.max("__h"), 12).alias("kth_hash"),
        F.round(
            F.when(F.count("*") < k, F.count("*").cast("double")).otherwise(
                (F.lit(float(k - 1))) / F.max("__h")
            ),
            6,
        ).alias("distinct_estimate"),
    )


def streaming_countmin(
    stream: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms",
) -> DataFrame:
    """Streaming face of :func:`countmin_sketch`: the identical cell
    projection + counting aggregation compiled onto a streaming
    DataFrame. Because CMS counters are pure additive state, Spark's
    built-in streaming aggregation IS the sketch maintenance — state is
    bounded by depth x width cells regardless of stream volume, and a
    snapshot of the output (complete/update mode) equals the batch sketch
    over the same prefix of the stream (tested).

    Probe snapshots with :func:`cms_estimate` exactly like batch sketches.
    """
    if width < 1 or depth < 1:
        raise ValueError("streaming_countmin: width and depth must be >= 1")
    rows = stream.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        (md5_bigint(F.col(col), salt=f"{salt}{d}") % width)
                        .cast("int")
                        .alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__cell")
    )
    return (
        rows.select(F.col("__cell.depth").alias("depth"),
                    F.col("__cell.pos").alias("pos"))
        .groupBy("depth", "pos")
        .agg(F.count("*").alias("count"))
    )


def histogram_sketch(
    df: DataFrame,
    col: str,
    bins: int = 256,
    lo: float = None,
    hi: float = None,
) -> DataFrame:
    """Equi-width histogram sketch — the mergeable QUANTILE summary of
    the sketch family (count-min answers frequency, KMV distinct, this
    answers quantiles): fixed [lo, hi) range split into ``bins`` equal
    buckets, one count per non-empty bucket.

    Pass ``lo``/``hi`` explicitly to make sketches built on different
    partitions/days MERGEABLE by plain count addition
    (:func:`histogram_merge`) — the same contract as CMS counter
    addition. Omitted bounds are computed from the data (one cheap
    min-max agg; such a sketch only merges with sketches sharing the
    same observed range). Values at or beyond ``hi`` clamp into the top
    bucket, below ``lo`` into bucket 0, so merges never lose mass.

    All integer arithmetic (bucket = clamped floor((v-lo)/width));
    deterministic across engines/partitionings like every sketch here.
    Output: (bin, n) with lo/hi/width recoverable from the bin index —
    bin b covers [lo + b*width, lo + (b+1)*width).
    """
    if bins < 1:
        raise ValueError("histogram_sketch: bins must be >= 1")
    v = F.col(col).cast("double")
    if lo is None or hi is None:
        b = df.agg(
            F.min(v).alias("__lo"), F.max(v).alias("__hi")
        ).collect()[0]
        lo = float(b["__lo"]) if lo is None else float(lo)
        hi = float(b["__hi"]) if hi is None else float(hi)
    lo, hi = float(lo), float(hi)
    if hi <= lo:
        hi = lo + 1.0  # degenerate range: everything lands in bucket 0
    width = (hi - lo) / bins
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    )
    return (
        df.where(v.isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def histogram_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two histogram sketches built with the SAME (lo, hi, bins)
    contract: counts add per bin — one unionByName + re-aggregation,
    exactly the CMS/rollup_merge maintenance discipline."""
    for side, df in (("a", a), ("b", b)):
        missing = {"bin", "n"} - set(df.columns)
        if missing:
            raise ValueError(f"histogram_merge: {side} missing {missing}")
    return (
        a.unionByName(b)
        .groupBy("bin")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )


def histogram_quantiles(
    sketch: DataFrame,
    qs,
    lo: float,
    hi: float,
    bins: int,
) -> DataFrame:
    """Quantile read-out from a histogram sketch: for each q, the value
    at rank ceil(q*n) assuming mass sits at each bucket's midpoint —
    error bounded by half the bucket width, the standard equi-width
    histogram guarantee. Cumulative counts + one broadcast rank probe
    over the (<= bins)-row sketch; all arithmetic from exact integer
    counts, midpoints floor-quantized to 6 decimals. Output (q, value).
    """
    from pyspark.sql import Window

    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sketch.select(
        "bin",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wtot).alias("total"),
    )
    spark = sketch.sparkSession
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    # rank = ceil(q * total); the answering bucket is the first with
    # cum >= rank; min() over a conditional picks it without a sort
    joined = qdf.crossJoin(cum).where(
        F.col("cum") >= F.ceil(F.col("q") * F.col("total"))
    )
    return (
        joined.groupBy("q")
        .agg(F.min("bin").alias("bin"))
        .select(
            "q",
            (
                F.floor(
                    (F.lit(lo) + (F.col("bin") + F.lit(0.5)) * F.lit(width))
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("value"),
        )
    )


def streaming_histogram(
    stream: DataFrame,
    col: str,
    bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Streaming face of :func:`histogram_sketch`: the identical clamped
    bucket projection + counting aggregation compiled onto a streaming
    DataFrame. Bin counts are pure additive state, so Spark's built-in
    streaming aggregation IS the sketch maintenance — state bounded by
    ``bins`` rows regardless of stream volume, and a snapshot
    (complete/update mode) equals the batch sketch over the same stream
    prefix. Bounds must be EXPLICIT on a stream (there is no "min-max of
    the data" on unbounded input — the mergeability contract anyway).

    Snapshots feed :func:`histogram_quantiles` / :func:`histogram_merge`
    exactly like batch sketches.
    """
    if bins < 1:
        raise ValueError("streaming_histogram: bins must be >= 1")
    lo, hi = float(lo), float(hi)
    if hi <= lo:
        raise ValueError("streaming_histogram: need hi > lo")
    width = (hi - lo) / bins
    v = F.col(col).cast("double")
    bucket = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
        ),
    )
    return (
        stream.where(v.isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def kmv_intersect(
    a: DataFrame,
    b: DataFrame,
    col_a: str,
    col_b: str | None = None,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Theta-sketch-style set operations from two KMV sketches: distinct
    union, intersection, and Jaccard estimates for ``a[col_a]`` vs
    ``b[col_b]`` (default ``col_a``) — audience-overlap / retention-set
    arithmetic without materializing either set.

    Method (Dasgupta et al., the KMV/theta estimator): take the k
    smallest salted-md5 hashes of the UNION of both distinct domains
    (threshold = the k-th hash); every kept hash remembers which sides
    it appeared on. Then ``union_estimate`` is the usual KMV read-out,
    ``jaccard_estimate = |kept on both| / |kept|``, and
    ``intersect_estimate = jaccard * union``. Exact (not estimated) when
    the union fits under k. Deterministic: same salt => same hashes in
    any engine, so sketches built on different clusters/days merge and
    compare reproducibly.

    Scale shape: per side ONE distinct + hash projection; the merge is a
    union + groupBy on the hash (map-side combinable) and a global
    bottom-k (TakeOrderedAndProject). Nothing is corpus-sized after the
    distinct.
    """
    if k < 2:
        raise ValueError("kmv_intersect: k must be >= 2")
    col_b = col_b or col_a

    def side(df: DataFrame, col: str, tag: str) -> DataFrame:
        return (
            df.select(F.col(col))
            .where(F.col(col).isNotNull())
            .distinct()
            .select(
                (md5_bigint(F.col(col), salt=salt).cast("double") / HASH_SCALE)
                .alias("__h"),
                F.lit(1 if tag == "a" else 0).alias("__in_a"),
                F.lit(1 if tag == "b" else 0).alias("__in_b"),
            )
        )

    merged = (
        side(a, col_a, "a")
        .unionByName(side(b, col_b, "b"))
        .groupBy("__h")
        .agg(
            F.max("__in_a").alias("__in_a"),
            F.max("__in_b").alias("__in_b"),
        )
    )
    bottom = merged.orderBy("__h").limit(k)
    union_est = F.when(
        F.count("*") < k, F.count("*").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.max("__h"))
    n_both = F.sum(F.col("__in_a") * F.col("__in_b")).cast("bigint")
    jacc = n_both.cast("double") / F.count("*")
    return bottom.agg(
        F.count("*").cast("bigint").alias("n_kept"),
        n_both.alias("n_both"),
        F.round(union_est, 6).alias("union_estimate"),
        F.round(jacc, 6).alias("jaccard_estimate"),
        F.round(jacc * union_est, 6).alias("intersect_estimate"),
    )


def hll_sketch(df: DataFrame, col, p: int = 10, salt: str = "hll") -> DataFrame:
    """HyperLogLog registers for distinct-count of ``col``: ``(register,
    rho)`` with ``register`` the top ``p`` bits of a 60-bit salted-md5
    hash and ``rho`` the MAX over the bucket of (position of the first
    1-bit in the remaining 60-p bits). Sparse: empty registers are
    simply absent (they read as rho=0 at estimate time).

    Mergeable by ``groupBy(register).max(rho)`` across shards / days /
    streams — the property KMV shares but exact count(distinct) lacks.
    Bit-deterministic cross-engine: the first-1-bit position is
    ``(60-p) - bitlength(w) + 1`` with ``bitlength = length(bin(w))``
    — integer/string ops only, no float log2.

    Scale shape: one map-side-combinable groupBy onto at most 2^p
    groups; output is 2^p-bounded regardless of input size.
    """
    return _hll_rows(df, col, p, salt).groupBy("register").agg(
        F.max("__rho").alias("rho")
    )


def _hll_rows(
    df: DataFrame, col, p: int, salt: str, extra_cols=()
) -> DataFrame:
    """(*extra_cols, register, __rho) projection shared by the batch,
    grouped, and streaming HLL faces — pure expressions, safe on
    streaming DataFrames."""
    if not 4 <= p <= 16:
        raise ValueError("hll_sketch: p must be in [4, 16]")
    from biomedical_data_integration_spark.functions.hashing import md5_bigint

    wbits = 60 - p
    h = md5_bigint(F.col(col) if isinstance(col, str) else col, salt)
    # integer bit ops, NOT double division: a 60-bit value as double only
    # keeps 53 bits, so h / 2^wbits could round across a register boundary
    reg = F.shiftright(h, wbits).cast("bigint")
    w = h % F.lit(2 ** wbits)
    rho = (
        F.when(w == 0, F.lit(wbits + 1))
        .otherwise(F.lit(wbits) - F.length(F.bin(w)) + 1)
        .cast("int")
    )
    return df.select(
        *extra_cols, reg.alias("register"), rho.alias("__rho")
    ).where(F.col("register").isNotNull())


def streaming_hll(
    stream: DataFrame, col, p: int = 10, salt: str = "hll"
) -> DataFrame:
    """Streaming face of :func:`hll_sketch`: the identical register/rho
    projection compiled onto a streaming DataFrame. HLL state is a
    register-wise MAX — monotone and bounded by 2^p rows regardless of
    stream volume — so Spark's built-in streaming max aggregation IS
    the sketch maintenance; a complete-mode snapshot equals the batch
    sketch over the same stream prefix (tested), and snapshots from
    different streams/days union into :func:`hll_merge`.

    Read estimates off snapshots with :func:`hll_estimate` exactly like
    batch sketches.
    """
    return _hll_rows(stream, col, p, salt).groupBy("register").agg(
        F.max("__rho").alias("rho")
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two HLL register tables (same p, same salt): register-wise
    max — the union sketch. Associative/commutative; chain freely."""
    return (
        a.unionByName(b)
        .groupBy("register")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(registers: DataFrame, p: int) -> DataFrame:
    """Read an HLL register table into a cardinality estimate:
    ``(m, nonzero, raw_estimate, estimate)``.

    raw = α_m · m² / Σ_j 2^(-rho_j) with empty registers contributing
    2^0 = 1 (m - nonzero of them); below the classic 2.5·m small-range
    cutoff (with empty registers present) the estimate switches to
    linear counting m·ln(m/zeros). The harmonic sum is computed as an
    INTEGER sum of 2^(61-p-rho) (order-free — a float Σ2^-rho is
    order-DEPENDENT once exponents spread past 53 bits), then divided
    once in double; rounded to 6.

    One aggregation over a ≤2^p-row table — driver-negligible.
    """
    m = 2 ** p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    if p <= 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    sb = 61 - p  # scale bits: 2^-rho -> exact bigint 2^(sb - rho)
    agg = registers.agg(
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(sb) - F.col("rho").cast("double")).cast(
                "bigint"
            )
        ).alias("__s"),
    )
    zeros = F.lit(m) - F.col("nonzero")
    # empty registers contribute 2^0 = 2^sb scaled units each
    ssum = (F.col("__s") + zeros.cast("bigint") * F.lit(2 ** sb)).cast("double")
    raw = F.lit(alpha * m * m * float(2 ** sb)) / ssum
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.lit(m).alias("m"),
        F.col("nonzero"),
        q6(raw).alias("raw_estimate"),
        q6(est).alias("estimate"),
    )


def hll_sketch_grouped(
    df: DataFrame, col, group_cols, p: int = 10, salt: str = "hll"
) -> DataFrame:
    """Per-group HLL registers: ``(*group_cols, register, rho)`` — the
    "distinct users per day/shard/source" sketch. Each group's register
    table merges independently (max) and rolls up across groups the
    same way, so daily sketches ALSO answer weekly/monthly uniques by
    re-maxing — the hypertable-rollup trick for distinct counts, which
    plain count(distinct) cannot do without a rescan.

    One map-side-combinable groupBy onto |groups|·2^p keys.
    """
    group_cols = list(group_cols)
    return (
        _hll_rows(df, col, p, salt, extra_cols=group_cols)
        .groupBy(*group_cols, "register")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_estimate_grouped(
    registers: DataFrame, p: int, group_cols
) -> DataFrame:
    """Per-group read-out of :func:`hll_sketch_grouped` registers:
    ``(*group_cols, nonzero, estimate)`` — same integer-scaled harmonic
    sum and linear-counting fallback as :func:`hll_estimate`, one
    aggregation over the (groups · 2^p)-bounded register table."""
    m = 2 ** p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    if p <= 4:
        alpha = 0.673
    elif p == 5:
        alpha = 0.697
    elif p == 6:
        alpha = 0.709
    sb = 61 - p
    group_cols = list(group_cols)
    agg = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("nonzero"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(sb) - F.col("rho").cast("double")).cast(
                "bigint"
            )
        ).alias("__s"),
    )
    zeros = F.lit(m) - F.col("nonzero")
    ssum = (F.col("__s") + zeros.cast("bigint") * F.lit(2 ** sb)).cast("double")
    raw = F.lit(alpha * m * m * float(2 ** sb)) / ssum
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(*group_cols, "nonzero", q6(est).alias("estimate"))
