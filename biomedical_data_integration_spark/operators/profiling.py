"""Data-profiling operators: per-column table profiles and schema drift.

The reference's closest surface is ``preview_domain`` (one column at a
time, ``bdikit/api.py:495-552``); real harmonization work starts with a
whole-table profile and, over time, with detecting how a source drifted
from the version a mapping was built against. Both operators are engine
extensions in that spirit.

Scale shape: both profile passes are ONE native unpivot (single Expand
over one scan) feeding a per-column aggregation — never a per-column
query loop, never a driver-side row pull; outputs are column-count-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.session import local_frame


def profile_table(df: DataFrame, exact_distinct: bool = True) -> DataFrame:
    """Per-column profile: (column, dtype, n_rows, n_nulls, n_distinct,
    min_value, max_value).

    One unpivot scan + one groupBy — adding columns widens the Expand, it
    does not add passes. Values are profiled in their STRING form so one
    output schema covers every column type (min/max are therefore
    lexicographic — fine for domain eyeballing, documented). Null counts
    come from ``n_rows - count(value)`` so the unpivot can keep its
    null-dropping filter off. ``exact_distinct=False`` switches to
    ``approx_count_distinct`` — the 100 TB default, same plan shape.
    """
    cols = df.columns
    dtypes = dict(df.dtypes)
    n_rows = df.count()  # one cheap scalar job; rides the plan as a literal
    long = df.select(
        [F.col(c).cast("string").alias(c) for c in cols]
    ).unpivot([], cols, "column", "value")
    distinct_agg = (
        F.countDistinct("value")
        if exact_distinct
        else F.approx_count_distinct("value")
    )
    prof = long.groupBy("column").agg(
        F.count("value").alias("__nonnull"),
        distinct_agg.alias("n_distinct"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    dtype_expr = F.coalesce(
        *[
            F.when(F.col("column") == c, F.lit(dtypes[c]))
            for c in cols
        ]
    )
    return prof.select(
        "column",
        dtype_expr.alias("dtype"),
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        (F.lit(n_rows) - F.col("__nonnull")).cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint"),
        "min_value",
        "max_value",
    )


def detect_schema_drift(
    old: DataFrame,
    new: DataFrame,
    domain_threshold: float = 0.5,
) -> DataFrame:
    """Structural + domain drift between two versions of a table — the
    check that tells you an existing harmonization mapping needs review.

    Output: (column, status, old_type, new_type, domain_jaccard) where
    status is one of ``added`` / ``removed`` / ``type_changed`` /
    ``domain_drift`` / ``stable``. Structural comparison is driver-side
    (schemas are metadata); domain comparison is ONE distributed job —
    both tables' shared string columns unpivot to (column, value) long
    forms whose per-column distinct-value Jaccard feeds the drift flag
    (``jaccard < domain_threshold`` on a shared column ⇒ ``domain_drift``).
    """
    from biomedical_data_integration_spark.operators.schema_matching import (
        _unpivot_strings,
    )

    old_types = dict(old.dtypes)
    new_types = dict(new.dtypes)
    spark = old.sparkSession

    structural = []
    for c in old.columns:
        if c not in new_types:
            structural.append((c, "removed", old_types[c], None))
    for c in new.columns:
        if c not in old_types:
            structural.append((c, "added", None, new_types[c]))
    shared = [c for c in old.columns if c in new_types]
    typed = []
    for c in shared:
        if old_types[c] != new_types[c]:
            structural.append((c, "type_changed", old_types[c], new_types[c]))
        else:
            typed.append(c)

    shared_str = [c for c in typed if old_types[c] == "string"]
    base = local_frame(
        spark,
        structural + [(c, None, old_types[c], new_types[c]) for c in typed],
        "column string, status string, old_type string, new_type string",
    )
    if shared_str:
        o = _unpivot_strings(old.select(*shared_str), "column", "val")
        n = _unpivot_strings(new.select(*shared_str), "column", "val")
        inter = (
            o.join(n, ["column", "val"])
            .groupBy("column")
            .agg(F.count("*").alias("__i"))
        )
        sizes_o = o.groupBy("column").agg(F.count("*").alias("__no"))
        sizes_n = n.groupBy("column").agg(F.count("*").alias("__nn"))
        jac = (
            sizes_o.join(sizes_n, "column", "outer")
            .join(inter, "column", "left")
            .select(
                "column",
                F.round(
                    F.coalesce(F.col("__i"), F.lit(0))
                    / (
                        F.coalesce(F.col("__no"), F.lit(0))
                        + F.coalesce(F.col("__nn"), F.lit(0))
                        - F.coalesce(F.col("__i"), F.lit(0))
                    ),
                    config.SIMILARITY_SCALE,
                ).alias("domain_jaccard"),
            )
        )
        out = base.join(F.broadcast(jac), "column", "left")
    else:
        out = base.withColumn("domain_jaccard", F.lit(None).cast("double"))
    status = F.coalesce(
        F.col("status"),
        F.when(
            F.col("domain_jaccard").isNotNull()
            & (F.col("domain_jaccard") < domain_threshold),
            F.lit("domain_drift"),
        ).otherwise(F.lit("stable")),
    )
    return out.select(
        "column", status.alias("status"), "old_type", "new_type",
        "domain_jaccard",
    )


def validate_table(df: DataFrame, rules) -> DataFrame:
    """Data-quality expectation checking: evaluate declarative rules over
    a table in ONE aggregation pass and return per-rule violation counts
    — the generalized form of the reference's source-column existence
    validation (``bdikit/api.py:721-726``), extended to the expectation
    suites a production ingest runs before materialization.

    ``rules`` is a list of dicts with ``name`` and ``type``:

    - ``{"name", "type": "not_null", "column"}``
    - ``{"name", "type": "unique", "column"}`` — violations = rows beyond
      the first per duplicate value (``count - count_distinct``; null
      values are not counted as duplicates of each other)
    - ``{"name", "type": "in_set", "column", "values": [...]}``
    - ``{"name", "type": "range", "column", "min"?, "max"?}``
    - ``{"name", "type": "expression", "expr": "<bool SQL>"}`` —
      violations = rows where the expression is NOT true

    Every rule compiles to a conditional aggregate in the SAME agg node
    (one scan, map-side combinable; ``unique`` adds a distinct count),
    then the 1-row result unpivots to ``(rule, violations, passed)``.
    """
    if not rules:
        raise ValueError("validate_table: rules must be non-empty")
    import re as _re

    aggs = []
    names = []
    for r in rules:
        name, kind = r["name"], r["type"]
        # names are interpolated into the stack() SQL below — restrict to
        # identifier characters so quoting can't break (or inject into)
        # the generated expression
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name or ""):
            raise ValueError(
                f"validate_table: rule name {name!r} must match "
                "[A-Za-z_][A-Za-z0-9_]*"
            )
        names.append(name)
        if kind == "not_null":
            cond = F.col(r["column"]).isNull()
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
        elif kind == "unique":
            c = r["column"]
            aggs.append(
                (
                    F.count(F.col(c)) - F.count_distinct(F.col(c))
                ).alias(name)
            )
        elif kind == "in_set":
            cond = (
                F.col(r["column"]).isNotNull()
                & ~F.col(r["column"]).isin(*r["values"])
            )
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
        elif kind == "range":
            c = F.col(r["column"])
            cond = F.lit(False)
            if r.get("min") is not None:
                cond = cond | (c < r["min"])
            if r.get("max") is not None:
                cond = cond | (c > r["max"])
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(name))
        elif kind == "expression":
            ok = F.expr(r["expr"])
            aggs.append(
                F.sum(F.when(ok, 0).otherwise(1)).alias(name)
            )
        else:
            raise ValueError(f"validate_table: unknown rule type {kind!r}")
    if len(set(names)) != len(names):
        raise ValueError("validate_table: duplicate rule names")
    one = df.agg(*aggs)
    stacked = one.select(
        F.expr(
            "stack({n}, {args}) as (rule, violations)".format(
                n=len(names),
                args=", ".join(f"'{n}', `{n}`" for n in names),
            )
        )
    )
    return stacked.select(
        "rule",
        F.col("violations").cast("bigint").alias("violations"),
        (F.col("violations") == 0).alias("passed"),
    )


def winsorize(
    df: DataFrame,
    col: str,
    group_col: str = None,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str = None,
    exact: bool = True,
) -> DataFrame:
    """Winsorize a numeric column: clip values to the [lower, upper]
    quantiles (optionally per group) — the standard robust-statistics
    step before feeding heavy-tailed features to training.

    ``exact=True`` computes true interpolated percentiles (one
    aggregation whose state holds the group's values — fine to ~10^8
    rows per group); ``exact=False`` uses ``percentile_approx`` (bounded
    sketch state, the 100 TB path). Grouped bounds are a
    group-cardinality-sized broadcast join; ungrouped bounds are one
    scalar row. Appends ``out_col`` (default ``<col>_winsorized``).
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError("winsorize: need 0 <= lower < upper <= 1")
    out_col = out_col or f"{col}_winsorized"
    if exact:
        pct = F.expr(f"percentile({col}, array({lower}, {upper}))")
    else:
        pct = F.percentile_approx(col, [lower, upper], 10_000)
    bounds_cols = [
        F.round(pct[0], config.SIMILARITY_SCALE).alias("__lo"),
        F.round(pct[1], config.SIMILARITY_SCALE).alias("__hi"),
    ]
    clipped = F.round(
        F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
        config.SIMILARITY_SCALE,
    )
    if group_col is None:
        bounds = df.agg(*bounds_cols)
        return (
            df.crossJoin(F.broadcast(bounds))
            .withColumn(out_col, clipped)
            .drop("__lo", "__hi")
        )
    # eqNullSafe: groupBy forms a bounds row for the NULL group, but a plain
    # equality join would never match it and an "append a column" operator
    # would silently DROP every null-group row — null groups must clip
    # against their own bounds like any other group
    bounds = df.groupBy(group_col).agg(*bounds_cols).withColumnRenamed(
        group_col, "__g"
    )
    return (
        df.join(
            F.broadcast(bounds), F.col(group_col).eqNullSafe(F.col("__g"))
        )
        .withColumn(out_col, clipped)
        .drop("__g", "__lo", "__hi")
    )


def type1_boundaries(
    df: DataFrame, col: str, n_parts: int, n_rows: int = None
) -> DataFrame:
    """1-row DataFrame with an array of the ``n_parts - 1`` type-1
    empirical quantile cut points of ``col``: the ACTUAL data value at
    integer rank ``ceil(k * n / n_parts)`` read off a distinct-value
    cumulative-frequency table.

    Pure integer rank arithmetic + exact data values — no float
    interpolation — so the boundaries are bit-identical across engines,
    partitionings, and row orders (interpolated percentiles drift an ulp
    around repeated values). Cost: one distinct-count aggregation plus
    the bucketed two-pass prefix sum (functions/prefix.py) over the
    distinct-values table — no single-task ordering window, so the
    boundaries stay parallel even when the column is continuous
    (distinct cardinality ~n).

    Shared by z-order quantile bucketing (operators/layout.py) and
    equal-frequency discretization below.
    """
    from ..functions.prefix import exclusive_prefix_sums

    if n_parts < 2:
        raise ValueError("type1_boundaries: n_parts must be >= 2")
    nb = n_parts - 1
    dd = (
        df.select(F.col(col).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    xps = exclusive_prefix_sums(
        dd, "__v", ["__c"], with_totals=True, n_rows=n_rows
    )
    cum = xps.select(
        "__v",
        (F.col("__c_xps") + F.col("__c")).alias("__cum"),
        F.col("__c_tot").alias("__n"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cum") >= F.expr(f"({k} * __n + {nb}) div {n_parts}"),
                F.col("__v"),
            )
        ).alias(f"__q{k}")
        for k in range(1, nb + 1)
    ]
    return cum.agg(*aggs).select(
        F.array(*[F.col(f"__q{k}") for k in range(1, nb + 1)]).alias(
            "__boundaries"
        )
    )


def discretize(
    df: DataFrame,
    col: str,
    n_bins: int = 10,
    method: str = "width",
    out_col: str = None,
) -> DataFrame:
    """Bin a numeric column into ``n_bins`` integer bins — the
    feature-binning step before bucketed models, histograms, or
    curriculum tiers.

    ``method='width'``: equal-width bins off one min-max aggregation —
    ``floor((v - min) / (max - min) * n_bins)`` capped into
    [0, n_bins-1]. ``method='frequency'``: equal-mass bins using the
    type-1 empirical quantile boundaries (:func:`type1_boundaries` —
    bit-deterministic cross-engine), bin = #boundaries <= v. NULLs get
    bin NULL. Appends ``out_col`` (default ``<col>_bin``) as int.
    """
    if method not in ("width", "frequency"):
        raise ValueError(f"discretize: unknown method {method!r}")
    if n_bins < 2:
        raise ValueError("discretize: n_bins must be >= 2")
    out_col = out_col or f"{col}_bin"
    v = F.col(col).cast("double")
    if method == "width":
        stats = df.agg(
            F.min(v).alias("__lo"), F.max(v).alias("__hi")
        )
        frac = F.when(
            F.col("__hi") > F.col("__lo"),
            (v - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
        ).otherwise(F.lit(0.0))
        bin_expr = F.least(
            F.floor(frac * n_bins).cast("int"), F.lit(n_bins - 1)
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn(
                out_col, F.when(v.isNotNull(), bin_expr).cast("int")
            )
            .drop("__lo", "__hi")
        )
    bnd = type1_boundaries(df, col, n_bins)
    bin_expr = F.aggregate(
        F.col("__boundaries"),
        F.lit(0),
        lambda acc, b: acc + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)),
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(bnd))
        .withColumn(out_col, F.when(v.isNotNull(), bin_expr).cast("int"))
        .drop("__boundaries")
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Corpus datasheet in one pass: the long-form (metric, value) table
    a dataset card needs — size, token mass, quality, exact-duplicate
    rate, and (when ``lang_col`` is given) language concentration.

    Plan shape: the per-document quality/token expressions
    (operators/text.quality_features — pure codegen) feed ONE global
    aggregation; the optional language-concentration metrics add one
    tiny groupBy (|languages| rows) cross-joined in. ``exact_distinct``
    mirrors profile_table: exact count-distinct of the text md5 by
    default, ``False`` switches to approx_count_distinct (HLL) for the
    100 TB path (documented off-oracle like every approx knob).

    Outputs are floor-quantized to 6 decimals (cross-engine float-sum
    determinism). Metrics: n_docs, n_chars, n_tokens_ws,
    avg_tokens_per_doc, avg_quality_score, exact_dup_rate
    [+ n_languages, top_lang_share].
    """
    from .text import quality_features

    q = quality_features(df.select(F.col(text_col).alias("text")))
    distinct_fn = (
        F.count_distinct if exact_distinct else F.approx_count_distinct
    )
    agg = q.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.length("text")).cast("double").alias("n_chars"),
        F.sum("n_tokens").cast("double").alias("n_tokens_ws"),
        F.avg("n_tokens").alias("avg_tokens_per_doc"),
        F.avg("quality_score").alias("avg_quality_score"),
        distinct_fn(F.md5("text")).cast("double").alias("__n_distinct"),
    ).withColumn(
        # clamped at 0: the HLL path's overestimate of distincts would
        # otherwise report a (nonsensical) negative duplicate rate.
        # n_docs = 0 guard: an empty corpus reports NULL, not an
        # ANSI divide-by-zero (empty-input sweep, round 7)
        "exact_dup_rate",
        F.when(
            F.col("n_docs") > 0,
            F.greatest(
                F.lit(0.0),
                F.lit(1.0) - F.col("__n_distinct") / F.col("n_docs"),
            ),
        ),
    )
    metrics = [
        "n_docs", "n_chars", "n_tokens_ws", "avg_tokens_per_doc",
        "avg_quality_score", "exact_dup_rate",
    ]
    if lang_col is not None:
        lang = (
            df.groupBy(lang_col).count()
            .agg(
                F.count("*").cast("double").alias("n_languages"),
                (
                    F.max("count").cast("double")
                    / F.sum("count").cast("double")
                ).alias("top_lang_share"),
            )
        )
        agg = agg.crossJoin(F.broadcast(lang))
        metrics += ["n_languages", "top_lang_share"]
    quant = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("metric"),
                        quant(F.col(m)).alias("value"),
                    )
                    for m in metrics
                ]
            )
        ).alias("r")
    ).select("r.metric", "r.value")


def robust_zscore(
    df: DataFrame,
    col: str,
    group_col: str = None,
    out_col: str = None,
    exact: bool = True,
) -> DataFrame:
    """Append the MAD-based robust z-score of a numeric column:
    ``0.6745 * (v - median) / MAD`` where MAD is the median absolute
    deviation (median of |v - median|) and 0.6745 the standard normal
    consistency constant — the outlier score that, unlike the classic
    (v - mean)/stddev, is not itself dragged by the outliers it is
    meant to find (mean and stddev have a breakdown point of 0; median
    and MAD of 50%).

    Two aggregation passes over the column (median, then MAD of the
    residuals) — MAD is not decomposable into one pass. ``exact=True``
    uses true interpolated percentiles; ``exact=False`` swaps in
    ``percentile_approx`` (bounded sketch state, the 100 TB path —
    documented off-oracle like winsorize's). Grouped medians broadcast
    like winsorize's bounds; null-group rows score against their own
    group's statistics (eqNullSafe). A zero MAD (>50% of a group tied
    at the median) yields NULL scores — no meaningful deviation unit
    exists there; callers treat those groups as degenerate.

    Appends ``out_col`` (default ``<col>_rz``) rounded to
    config.SIMILARITY_SCALE.
    """
    out_col = out_col or f"{col}_rz"

    def med(expr_str: str):
        if exact:
            return F.expr(f"percentile({expr_str}, 0.5)")
        return F.expr(f"percentile_approx({expr_str}, 0.5, 10000)")

    v = F.col(col).cast("double")
    score = F.when(
        F.col("__mad") > 0,
        F.round(
            F.lit(0.6745) * (v - F.col("__med")) / F.col("__mad"),
            config.SIMILARITY_SCALE,
        ),
    )
    if group_col is None:
        med1 = df.agg(med(col).alias("__med"))
        stats = (
            df.crossJoin(F.broadcast(med1))
            .agg(
                F.first("__med").alias("__med"),
                med(f"abs(cast({col} as double) - __med)").alias("__mad"),
            )
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn(out_col, score)
            .drop("__med", "__mad")
        )
    med1 = df.groupBy(group_col).agg(med(col).alias("__med")).withColumnRenamed(
        group_col, "__g1"
    )
    stats = (
        df.join(F.broadcast(med1), F.col(group_col).eqNullSafe(F.col("__g1")))
        .groupBy("__g1")
        .agg(
            F.first("__med").alias("__med"),
            med(f"abs(cast({col} as double) - __med)").alias("__mad"),
        )
    )
    return (
        df.join(F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("__g1")))
        .withColumn(out_col, score)
        .drop("__g1", "__med", "__mad")
    )


def psi_drift(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a baseline window and a
    current window of the same feature — the standard drift score for
    monitoring a feature/served-model input over time (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 action).

    Bins are equal-mass on the BASELINE (type-1 empirical quantiles via
    :func:`type1_boundaries` — bit-deterministic cross-engine; bin =
    #boundaries <= v, the :func:`discretize` convention), so the
    baseline lands ~uniform and any current-side skew is drift. Shares
    are Laplace-smoothed ``(c + 0.5) / (N + 0.5 * n_bins)`` so empty
    bins stay finite; each bin's term ``(p_b - p_c) * ln(p_b / p_c)``
    is floor-quantized to 6 decimals before the total sums them
    (order-free bigint micro-units under the hood).

    Returns one row per occupied bin: ``(bin, n_baseline, n_current,
    psi_term, psi_total)`` with the total repeated via an empty-frame
    window sum (one result, no second query).

    Scale shape: boundaries are one distinct-agg + one window on the
    distinct-value table; binning is an expression against a broadcast
    1-row array; the per-side counts are ONE map-side-combinable groupBy
    each. Nothing is corpus²; at 100 TB swap the boundary window for the
    distribution matcher's two-phase bucketed split (same contract).
    """
    from pyspark.sql import Window

    if n_bins < 2:
        raise ValueError("psi_drift: n_bins must be >= 2")
    bnd = type1_boundaries(baseline, col, n_bins)

    def side_counts(df: DataFrame, name: str) -> DataFrame:
        v = F.col(col).cast("double")
        bin_expr = F.aggregate(
            F.col("__boundaries"),
            F.lit(0),
            lambda acc, b: acc + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)),
        ).cast("int")
        return (
            df.where(v.isNotNull())
            .crossJoin(F.broadcast(bnd))
            .select(bin_expr.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    b = side_counts(baseline, "n_baseline")
    c = side_counts(current, "n_current")
    joined = (
        b.join(c, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("n_baseline", F.lit(0)).cast("bigint").alias("n_baseline"),
            F.coalesce("n_current", F.lit(0)).cast("bigint").alias("n_current"),
        )
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    smooth = F.lit(0.5 * n_bins)
    pb = (F.col("n_baseline") + F.lit(0.5)) / (
        F.sum("n_baseline").over(tot) + smooth
    )
    pc = (F.col("n_current") + F.lit(0.5)) / (
        F.sum("n_current").over(tot) + smooth
    )
    term_micro = F.floor((pb - pc) * F.log(pb / pc) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        joined.withColumn("__tm", term_micro)
        .select(
            "bin",
            "n_baseline",
            "n_current",
            (F.col("__tm").cast("double") / F.lit(1e6)).alias("psi_term"),
            (F.sum("__tm").over(tot).cast("double") / F.lit(1e6)).alias(
                "psi_total"
            ),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str = None,
) -> DataFrame:
    """Privacy audit for release/training-data prep: group rows into
    equivalence classes over the quasi-identifier columns and report
    each class's size against the k-anonymity bar — plus, when
    ``sensitive_col`` is given, the class's distinct sensitive-value
    count (l-diversity).

    Returns one row per equivalence class: the quasi columns,
    ``class_size``, ``meets_k`` (class_size >= k), and (if requested)
    ``l_diversity``. Classes with ``meets_k = false`` are the rows a
    release must suppress or generalize.

    ONE map-side-combinable groupBy over the quasi key; the distinct
    sensitive count is exact (``countDistinct``) — swap for
    approx_count_distinct at extreme class counts.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity: need at least one quasi-identifier")
    if k < 1:
        raise ValueError("k_anonymity: k must be >= 1")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).cast("bigint").alias("l_diversity")
        )
    out = df.groupBy(*quasi_cols).agg(*aggs)
    return out.withColumn("meets_k", F.col("class_size") >= F.lit(k))


def suppress_below_k(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """Rows whose quasi-identifier equivalence class has >= k members —
    the k-anonymous subset that is safe to release as-is. One window
    count keyed by the quasi identifier (single shuffle; no join back)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in quasi_cols])
    return (
        df.withColumn("__cs", F.count(F.lit(1)).over(w))
        .where(F.col("__cs") >= F.lit(k))
        .drop("__cs")
    )


def impute_missing(
    df: DataFrame,
    cols: list[str],
    strategy: str = "mean",
    group_col: str = None,
    fill_value=None,
) -> DataFrame:
    """Fill NULLs in ``cols`` — the feature-prep step between profiling
    (which found the nulls) and training. Strategies:

    - ``mean``: per-group (or global) average.
    - ``median``: per-group type-1 median — the ACTUAL data value at
      integer rank ``ceil(n/2)`` (same bit-deterministic convention as
      :func:`type1_boundaries`; interpolated medians drift cross-engine).
    - ``mode``: most frequent value, ties to the smallest.
    - ``constant``: ``fill_value`` verbatim.

    Adds ``<col>_was_null`` boolean flags (models often want
    missingness as signal) and fills in place. One aggregation per
    column (map-side combinable, group-keyed) broadcast back — no
    shuffle of the fact table.
    """
    from pyspark.sql import Window

    if strategy not in ("mean", "median", "mode", "constant"):
        raise ValueError(f"impute_missing: unknown strategy {strategy!r}")
    if not cols:
        raise ValueError("impute_missing: need at least one column")
    if strategy == "constant" and fill_value is None:
        raise ValueError("impute_missing: constant strategy needs fill_value")
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_was_null", F.col(c).isNull())
    if strategy == "constant":
        return out.fillna({c: fill_value for c in cols})
    gkey = (
        [F.lit(0).alias("__g")]
        if group_col is None
        else [F.col(group_col).alias("__g")]
    )
    joink = F.lit(0) if group_col is None else F.col(group_col)
    for c in cols:
        # mean/median are numeric (cast); mode keeps the native type
        vexpr = (
            F.col(c) if strategy == "mode" else F.col(c).cast("double")
        )
        nn = df.where(F.col(c).isNotNull()).select(
            *gkey, vexpr.alias("__v")
        )
        if strategy == "mean":
            fills = nn.groupBy("__g").agg(F.avg("__v").alias("__fill"))
        elif strategy == "median":
            # type-1 median: value at rank ceil(n/2) off the per-group
            # distinct-value cumulative-frequency table
            dd = nn.groupBy("__g", "__v").agg(F.count("*").alias("__c"))
            wcum = (
                Window.partitionBy("__g")
                .orderBy("__v")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            wtot = Window.partitionBy("__g").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            cum = dd.select(
                "__g",
                "__v",
                F.sum("__c").over(wcum).alias("__cum"),
                F.sum("__c").over(wtot).alias("__n"),
            )
            fills = cum.groupBy("__g").agg(
                F.min(
                    F.when(
                        # integer rank ceil(n/2) — (n+1) div 2, never the
                        # float (n+1)/2 (rank 2.5 would shift even-n
                        # medians up one value)
                        F.col("__cum") >= F.expr("(__n + 1) div 2"),
                        F.col("__v"),
                    )
                ).alias("__fill")
            )
        else:  # mode
            dd = nn.groupBy("__g", "__v").agg(F.count("*").alias("__c"))
            wmode = Window.partitionBy("__g").orderBy(
                F.desc("__c"), F.asc("__v")
            )
            fills = (
                dd.withColumn("__rk", F.row_number().over(wmode))
                .where(F.col("__rk") == 1)
                .select("__g", F.col("__v").alias("__fill"))
            )
        out = (
            out.join(
                F.broadcast(fills), joink.eqNullSafe(F.col("__g")), "left"
            )
            .withColumn(
                c,
                F.when(
                    F.col(c).isNull(), F.col("__fill").cast(df.schema[c].dataType)
                ).otherwise(F.col(c)),
            )
            .drop("__g", "__fill")
        )
    return out


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 10.0,
    leave_one_out: bool = False,
    out_col: str = None,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    standard high-cardinality categorical feature for tree/linear
    models: ``enc(cat) = (sum_y(cat) + prior * m) / (n(cat) + m)`` with
    ``m = smoothing`` and ``prior`` the global target mean.

    ``leave_one_out=True`` excludes the CURRENT row's target from its
    own encoding (``(sum - y) / (n - 1)`` before smoothing) — the
    train-time variant that blocks target leakage; categories with a
    single row fall back to the prior. NULL categories encode from
    their own NULL group (eqNullSafe join).

    Determinism: sums are computed in exact integer micro-units
    (``floor(y * 1e6 + 0.5)`` per row, bigint aggregation — order-free),
    the division happens once per output row, and the result is
    floor-quantized to 6 decimals — bit-identical cross-engine.

    Scale shape: one global agg + one map-side-combinable groupBy over
    the category key, broadcast back — the fact table never shuffles.
    """
    if smoothing < 0:
        raise ValueError("target_encode: smoothing must be >= 0")
    out_col = out_col or f"{cat_col}_te"
    y_micro = F.floor(
        F.col(target_col).cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    staged = df.withColumn("__ym", y_micro)
    gstats = staged.where(F.col("__ym").isNotNull()).agg(
        F.sum("__ym").cast("bigint").alias("__gs"),
        F.count(F.lit(1)).cast("bigint").alias("__gn"),
    )
    cstats = (
        staged.where(F.col("__ym").isNotNull())
        .groupBy(F.col(cat_col).alias("__cat"))
        .agg(
            F.sum("__ym").cast("bigint").alias("__cs"),
            F.count(F.lit(1)).cast("bigint").alias("__cn"),
        )
    )
    prior = F.col("__gs").cast("double") / F.col("__gn") / F.lit(1e6)
    m = F.lit(float(smoothing))
    if leave_one_out:
        s = (F.col("__cs") - F.col("__ym")).cast("double") / F.lit(1e6)
        n = (F.col("__cn") - F.lit(1)).cast("double")
        enc = F.when(
            F.col("__ym").isNotNull() & (F.col("__cn") > 1),
            (s + prior * m) / (n + m),
        ).otherwise(prior)
    else:
        enc = F.when(
            F.col("__cn").isNotNull(),
            (F.col("__cs").cast("double") / F.lit(1e6) + prior * m)
            / (F.col("__cn") + m),
        ).otherwise(prior)
    quant = F.floor(enc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        staged.crossJoin(F.broadcast(gstats))
        .join(
            F.broadcast(cstats),
            F.col(cat_col).eqNullSafe(F.col("__cat")),
            "left",
        )
        .withColumn(out_col, quant)
        .drop("__ym", "__gs", "__gn", "__cat", "__cs", "__cn")
    )


def categorical_association(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Association between two categorical columns: the contingency
    table with each cell's pointwise-mutual-information contribution,
    plus the table-level mutual information and chi-square statistic
    (repeated per row via empty-frame windows — the engine's
    one-query-full-answer idiom). The feature-selection / redundancy
    screen before encoding categoricals.

    ``mi_term = p_ab * ln(p_ab / (p_a * p_b))``; ``chi2_term =
    (o - e)^2 / e`` with ``e = n_a * n_b / n``. Terms are
    floor-quantized to 6 decimals before the order-free totals
    (bigint micro-units), so results are bit-deterministic.

    Scale shape: three map-side-combinable counts (cells, marginals)
    joined cell-table-sized; output |A| x |B| rows max. NULL categories
    are their own level.
    """
    from pyspark.sql import Window

    cells = df.groupBy(
        F.col(col_a).alias("a"), F.col(col_b).alias("b")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    ma = df.groupBy(F.col(col_a).alias("a")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    mb = df.groupBy(F.col(col_b).alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_b")
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # the FULL |A| x |B| grid, not just observed cells — chi-square's
    # zero-observation cells still contribute (0 - e)^2 / e = e
    grid = F.broadcast(ma).crossJoin(F.broadcast(mb))
    joined = (
        grid.join(
            cells,
            grid["a"].eqNullSafe(cells["a"]) & grid["b"].eqNullSafe(cells["b"]),
            "left",
        )
        .drop(cells["a"])
        .drop(cells["b"])
        .withColumn("n_ab", F.coalesce("n_ab", F.lit(0)).cast("bigint"))
    )
    # total rows n = sum of n_ab over the grid (each observation once)
    joined = joined.withColumn("__n", F.sum("n_ab").over(tot))
    p_ab = F.col("n_ab").cast("double") / F.col("__n")
    p_a = F.col("n_a").cast("double") / F.col("__n")
    p_b = F.col("n_b").cast("double") / F.col("__n")
    mi_micro = F.when(
        F.col("n_ab") > 0,
        F.floor(
            p_ab * F.log(p_ab / (p_a * p_b)) * F.lit(1e6) + F.lit(0.5)
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    e = F.col("n_a").cast("double") * F.col("n_b") / F.col("__n")
    chi_micro = F.floor(
        (F.col("n_ab") - e) * (F.col("n_ab") - e) / e * F.lit(1e6) + F.lit(0.5)
    ).cast("bigint")
    return (
        joined.withColumn("__mi", mi_micro)
        .withColumn("__chi", chi_micro)
        .select(
            "a",
            "b",
            "n_ab",
            (F.col("__mi").cast("double") / F.lit(1e6)).alias("mi_term"),
            (F.sum("__mi").over(tot).cast("double") / F.lit(1e6)).alias(
                "mutual_information"
            ),
            (F.sum("__chi").over(tot).cast("double") / F.lit(1e6)).alias(
                "chi_square"
            ),
        )
    )


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    col: str,
    n_rows: int = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: ``D = max |F_a(x) -
    F_b(x)|`` over the pooled distinct values — the sharpest simple
    two-sample drift test next to :func:`psi_drift` (PSI needs binning;
    KS is binless and catches location shifts PSI's coarse bins blur).

    Returns one row ``(n_a, n_b, ks_d, ks_at_value)`` — the statistic
    and the data value where the gap peaks (smallest such value on
    ties). Exact integer arithmetic: the empirical CDFs are cumulative
    bigint counts over the pooled distinct-value table, compared as
    cross-multiplied integers (``|c_a * n_b - c_b * n_a|``), so no
    float enters until the final division — bit-deterministic.

    Scale shape: two map-side-combinable value counts, one full-outer
    merge on value, then running sums AND totals from the bucketed
    two-pass prefix sum (functions/prefix.py) — no single-task ordering
    window over the pooled distinct-value table (~n for continuous
    metrics), one max aggregation.
    """
    from ..functions.prefix import exclusive_prefix_sums

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.col(col).cast("double").alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy("__v")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )

    ca = counts(a, "__ca")
    cb = counts(b, "__cb")
    merged = ca.join(cb, "__v", "full_outer").select(
        "__v",
        F.coalesce("__ca", F.lit(0)).cast("bigint").alias("__ca"),
        F.coalesce("__cb", F.lit(0)).cast("bigint").alias("__cb"),
    )
    xps = exclusive_prefix_sums(
        merged, "__v", ["__ca", "__cb"], with_totals=True, n_rows=n_rows
    )
    cum = xps.select(
        "__v",
        F.col("__ca_tot").alias("__na"),
        F.col("__cb_tot").alias("__nb"),
        # cross-multiplied integer gap: |F_a - F_b| * (n_a * n_b),
        # inclusive running sums = exclusive prefix + the row's own count
        F.abs(
            (F.col("__ca_xps") + F.col("__ca")) * F.col("__cb_tot")
            - (F.col("__cb_xps") + F.col("__cb")) * F.col("__ca_tot")
        ).alias("__gap"),
    )
    best = cum.orderBy(F.desc("__gap"), F.asc("__v")).limit(1)
    return best.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        F.round(
            F.col("__gap").cast("double") / (F.col("__na") * F.col("__nb")),
            6,
        ).alias("ks_d"),
        F.col("__v").alias("ks_at_value"),
    )


def quantile_transform(
    df: DataFrame,
    col: str,
    group_col: str = None,
    out_col: str = None,
    n_rows: int = None,
) -> DataFrame:
    """Rank-based feature normalization: map each value to its empirical
    quantile ``(rank - 1) / (n - 1)`` in [0, 1] (ties share the AVERAGE
    rank, so equal inputs get equal outputs under any partitioning) —
    the distribution-free scaling that makes heavy-tailed features
    comparable before distance-based models.

    Grouped: one group-ordered window (parallel across groups).
    Ungrouped: distinct-value collapse + the bucketed two-pass prefix
    sum (functions/prefix.py) + a value-keyed join back — no
    single-task sort over the row table. Groups of one row map to 0.5
    (the degenerate midpoint). Output floor-quantized to 6 decimals.
    """
    from pyspark.sql import Window

    out_col = out_col or f"{col}_q"
    g = [group_col] if group_col else []
    v = F.col(col).cast("double")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    if not g:
        from ..functions.prefix import exclusive_prefix_sums

        per = (
            df.where(v.isNotNull())
            .groupBy(v.alias("__v"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
        )
        xps = exclusive_prefix_sums(
            per, "__v", ["__t"], with_totals=True, n_rows=n_rows
        )
        # average rank doubled to stay integer: a run of t tied values
        # after c prior rows has 2*avg_rank = 2c + t + 1
        r2 = F.lit(2) * F.col("__t_xps") + F.col("__t") + F.lit(1)
        n = F.col("__t_tot")
        qv = F.when(
            n > 1, (r2.cast("double") / 2.0 - 1.0) / (n - 1)
        ).otherwise(F.lit(0.5))
        # rank-table columns renamed to names PROVABLY absent from the
        # caller's frame: a df that already carries __v/__q must not
        # make the join condition ambiguous or get its column silently
        # dropped
        vk, qk = "__qt_v", "__qt_q"
        while vk in df.columns or qk in df.columns:
            vk, qk = vk + "_", qk + "_"
        rt = xps.select(
            F.col("__v").alias(vk), q6(qv).alias(qk)
        )
        # Spark join equality treats NaN == NaN and exact doubles match
        # their groupBy key bit-for-bit, so every non-null row re-joins
        # its rank; NULL values never match -> NULL out_col (old mask)
        return (
            df.join(rt, v == F.col(vk), "left")
            .withColumn(out_col, F.when(v.isNotNull(), F.col(qk)))
            .drop(vk, qk)
        )
    # nulls sort LAST so they never shift the non-null ranks (their q is
    # masked to NULL below); n counts non-null only
    wrank = Window.partitionBy(*g).orderBy(v.asc_nulls_last())
    wtie = Window.partitionBy(*g, v)
    wall = Window.partitionBy(*g)
    # average rank doubled to stay integer: 2*first + tie - 1
    r2 = (
        F.lit(2) * F.min(F.row_number().over(wrank)).over(wtie)
        + F.count(F.lit(1)).over(wtie)
        - F.lit(1)
    ).cast("bigint")
    n = F.count(v).over(wall)
    q = F.when(n > 1, (r2.cast("double") / 2.0 - 1.0) / (n - 1)).otherwise(
        F.lit(0.5)
    )
    return df.withColumn(
        out_col,
        F.when(v.isNotNull(), q6(q)),
    )


def group_linregress(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str = None,
    y_scale: int = 2,
) -> DataFrame:
    """Closed-form simple linear regression per group: slope, intercept,
    and r² of ``y ~ x`` — the trend-detection pass over grouped metrics
    (per-entity value drift, per-type rate trends) without any ML
    library.

    Determinism contract: x must be integer-valued (epoch hours, day
    numbers, sequence indexes — pre-bucket timestamps accordingly) and
    y is quantized to ``y_scale`` decimals; all five sufficient
    statistics (Σx, Σy, Σxy, Σx², Σy²) are then EXACT bigint sums
    (order-free under any partitioning), and the closed-form combine
    runs once per group in double — the same expression both engines
    evaluate on identical integers. Keep ``x`` spans and ``y_scale``
    small enough that per-group Σx² and Σy² stay under 2^63 (the
    docstring math: |x| <= 1e6 and 1e9 rows fit); this is the exact
    path — at larger magnitudes pre-center x per group upstream.

    Returns ``(group?, n, slope, intercept, r2)`` rounded to 6
    decimals; groups with zero x-variance yield NULL slope/r2. ONE
    map-side-combinable aggregation.
    """
    if y_scale < 0 or y_scale > 6:
        raise ValueError("group_linregress: y_scale must be in [0, 6]")
    g = [group_col] if group_col else []
    ys = 10 ** y_scale
    x = F.col(x_col).cast("bigint")
    y = F.floor(F.col(y_col).cast("double") * F.lit(float(ys)) + F.lit(0.5)).cast(
        "bigint"
    )
    rows = df.select(*g, x.alias("__x"), y.alias("__y")).where(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    agg = rows.groupBy(*[F.col(c) for c in g]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").cast("bigint").alias("__sx"),
        F.sum("__y").cast("bigint").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("bigint").alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / denx / F.lit(float(ys))
    intercept = (sy / F.lit(float(ys)) - slope * sx) / n
    r2 = (num * num) / (denx * deny)
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *g,
        "n",
        F.when(F.col("__sxx") * F.col("n") != F.col("__sx") * F.col("__sx"), q6(slope)).alias(
            "slope"
        ),
        F.when(
            F.col("__sxx") * F.col("n") != F.col("__sx") * F.col("__sx"),
            q6(intercept),
        ).alias("intercept"),
        F.when(
            (F.col("__sxx") * F.col("n") != F.col("__sx") * F.col("__sx"))
            & (F.col("__syy") * F.col("n") != F.col("__sy") * F.col("__sy")),
            q6(r2),
        ).alias("r2"),
    )


def correlation_matrix(
    df: DataFrame,
    cols,
    scale: int = 2,
) -> DataFrame:
    """Pairwise Pearson correlation over ``cols`` — the numeric-column
    relationship map a profiling pass wants next to
    :func:`categorical_association` (which covers the categorical side).

    Complete-case semantics: rows with a null in ANY of ``cols`` are
    dropped once, so every pair sees the same n (the matrix stays
    positive semi-definite). Values are quantized to ``scale`` decimals
    so every sufficient statistic (per-column Σx, Σx² and per-pair Σxy)
    is an EXACT bigint sum — order-free under any partitioning — and
    the closed-form combine is one double expression per pair
    (floor-quantized to 6).

    Scale shape: ONE map-side-combinable aggregation producing a single
    C²-sized row, then a driver-free explode into C(C-1)/2 pair rows —
    adding columns widens the agg, it never adds passes. Keep |v|·10^scale
    within ~3e9 per cell so Σx² over 1e12 rows stays inside bigint
    (same contract as group_linregress).
    """
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("correlation_matrix: need at least two columns")
    if scale < 0 or scale > 6:
        raise ValueError("correlation_matrix: scale must be in [0, 6]")
    s = 10 ** scale
    qs = [
        F.floor(F.col(c).cast("double") * F.lit(float(s)) + F.lit(0.5))
        .cast("bigint")
        .alias(f"__q{i}")
        for i, c in enumerate(cols)
    ]
    rows = df.select(*qs)
    keep = rows
    for i in range(len(cols)):
        keep = keep.where(F.col(f"__q{i}").isNotNull())
    # squares / cross-products ride decimal(38,0): EXACT integers with
    # headroom to 1e38 (a 1e7-unit cell squared is 1e14 — bigint dies by
    # ~1e5 rows of those), matched by DuckDB's exact hugeint sums
    def dec(i: int):
        return F.col(f"__q{i}").cast("decimal(38,0)")

    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i in range(len(cols)):
        aggs.append(F.sum(dec(i)).alias(f"__s{i}"))
        aggs.append(F.sum(dec(i) * dec(i)).alias(f"__ss{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            aggs.append(F.sum(dec(i) * dec(j)).alias(f"__p{i}_{j}"))
    wide = keep.agg(*aggs)

    def corr_expr(i: int, j: int):
        n = F.col("__n").cast("double")
        sx, sy = F.col(f"__s{i}").cast("double"), F.col(f"__s{j}").cast("double")
        sxx, syy = F.col(f"__ss{i}").cast("double"), F.col(f"__ss{j}").cast("double")
        sxy = F.col(f"__p{i}_{j}").cast("double")
        num = n * sxy - sx * sy
        dx = n * sxx - sx * sx
        dy = n * syy - sy * sy
        r = num / F.sqrt(dx * dy)
        q6 = F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        return F.when((dx > 0) & (dy > 0), q6)

    pairs = F.array(
        *[
            F.struct(
                F.lit(cols[i]).alias("col_x"),
                F.lit(cols[j]).alias("col_y"),
                F.col("__n").alias("n"),
                corr_expr(i, j).alias("corr"),
            )
            for i in range(len(cols))
            for j in range(i + 1, len(cols))
        ]
    )
    return (
        wide.select(F.explode(pairs).alias("__pair"))
        .select("__pair.col_x", "__pair.col_y", "__pair.n", "__pair.corr")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Entropy / mutual-information report between two categorical
    columns: ``(n, h_a, h_b, h_ab, mi, nmi)`` in nats — the
    information-theoretic complement to :func:`categorical_association`
    (χ² measures departure-from-independence; MI measures shared bits,
    and NMI = MI / sqrt(H_a·H_b) is the [0,1] association score feature
    selection wants).

    Complete-case over the two columns. All probabilities are ratios of
    exact bigint counts: MI = Σ_ab (c_ab/n)·ln(c_ab·n / (c_a·c_b)),
    entropies likewise — the only floats are ln() over identical
    integer ratios, so results match cross-engine at 6 decimals.

    Scale shape: one joint (a,b) map-side-combinable count; marginals
    come from windows OVER THE JOINT TABLE (domain-sized, not
    corpus-sized), so the raw data is scanned once.
    """
    from pyspark.sql import Window

    joint = (
        df.select(
            F.col(col_a).cast("string").alias("__a"),
            F.col(col_b).cast("string").alias("__b"),
        )
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    wall = Window.partitionBy()
    t = joint.select(
        "__c",
        F.sum("__c").over(wa).alias("__ca"),
        F.sum("__c").over(wb).alias("__cb"),
        F.sum("__c").over(wall).alias("__n"),
    )
    c = F.col("__c").cast("double")
    ca = F.col("__ca").cast("double")
    cb = F.col("__cb").cast("double")
    n = F.col("__n").cast("double")
    agg = t.agg(
        F.max("__n").cast("bigint").alias("n"),
        # H terms summed over joint cells; marginal entropies divide by the
        # cell's own marginal so each (a) group contributes c_a/n·ln(n/c_a)
        F.sum((c / n) * F.log(n / ca)).alias("__ha_raw"),
        F.sum((c / n) * F.log(n / cb)).alias("__hb_raw"),
        F.sum((c / n) * F.log(n / c)).alias("__hab_raw"),
        F.sum((c / n) * F.log(c * n / (ca * cb))).alias("__mi_raw"),
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ha, hb = F.col("__ha_raw"), F.col("__hb_raw")
    mi = F.col("__mi_raw")
    return agg.select(
        "n",
        q6(ha).alias("h_a"),
        q6(hb).alias("h_b"),
        q6(F.col("__hab_raw")).alias("h_ab"),
        q6(mi).alias("mi"),
        F.when(
            (ha > 0) & (hb > 0), q6(mi / F.sqrt(ha * hb))
        ).otherwise(F.lit(0.0)).alias("nmi"),
    )


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit audit against Benford's law — the classic
    fabricated-data / unit-mixing screen for financial-shaped columns.

    Considers values with |v| >= 1 (the leading digit of the INTEGER
    part — string-sliced from an exact bigint, no float log10 in the
    digit extraction, so the digit histogram is bit-deterministic).
    Returns 9 rows ``(digit, n, share, expected, chi2_term)`` where
    expected = log10(1 + 1/d) and chi2_term = (n_d - n·p_d)² / (n·p_d);
    Σ chi2_term vs χ²₈ is the test statistic. Digits with zero
    observations still appear (their chi2_term is n·p_d).

    Scale shape: one map-side-combinable digit count (9 groups), joined
    to a 9-row literal expectation table — broadcast by size.
    """
    # explicit floor (not a bare bigint cast): DuckDB's double->bigint
    # CAST rounds to nearest, Spark's truncates — floor is what both mean
    digit = F.substring(
        F.floor(F.abs(F.col(col).cast("double"))).cast("bigint").cast("string"),
        1,
        1,
    ).cast("int")
    counts = (
        df.select(digit.alias("__d"))
        .where(F.col("__d").isNotNull() & (F.col("__d") >= 1))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    import math

    spark = df.sparkSession
    expected = local_frame(
        spark,
        [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)],
        "digit int, expected double",
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    from pyspark.sql import Window

    joined = expected.join(
        F.broadcast(counts), expected.digit == counts["__d"], "left"
    ).select(
        "digit",
        F.coalesce("__c", F.lit(0)).cast("bigint").alias("n"),
        "expected",
    )
    tot = F.sum("n").over(Window.partitionBy())
    t = joined.select(
        "digit",
        "n",
        "expected",
        tot.alias("__t"),
    )
    nn = F.col("n").cast("double")
    en = F.col("__t").cast("double") * F.col("expected")
    return t.select(
        "digit",
        "n",
        q6(nn / F.col("__t").cast("double")).alias("share"),
        q6(F.col("expected")).alias("expected"),
        q6((nn - en) * (nn - en) / en).alias("chi2_term"),
    ).orderBy("digit")


def autocorrelation(
    df: DataFrame,
    value_col: str,
    order_col: str,
    max_lag: int,
    group_col: str = None,
    scale: int = 2,
) -> DataFrame:
    """Sample autocorrelation of an ordered series at lags 1..max_lag,
    optionally per group — the periodicity probe behind seasonal-naive
    model selection (a strong lag-7 ACF on daily data says "weekly
    season"; see events_seasonal_naive_eval).

    Lag-k ACF here is the PAIRED Pearson correlation of (x_t, x_{t-k})
    over the overlapping window — robust to missing steps because it
    correlates by POSITION in the ordered series. Values quantized to
    ``scale`` decimals; all sufficient statistics are conditional exact
    bigint sums, one per lag, in ONE aggregation.

    Scale shape: one (group-)ordered window computing all max_lag lag
    columns off a single sort, then one map-side-combinable groupBy.
    The global (ungrouped) form funnels the sort through one task —
    fine for series-shaped inputs (the intended use: PRE-AGGREGATED
    per-day / per-hour metric series, not raw events); at 100 TB keep a
    group key.
    """
    from pyspark.sql import Window

    if max_lag < 1:
        raise ValueError("autocorrelation: max_lag must be >= 1")
    s = 10 ** scale
    g = [group_col] if group_col else []
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy(*g).orderBy(F.col(order_col))
    lagged = df.select(
        *g,
        v.alias("__v"),
        *[F.lag(v, k).over(w).alias(f"__l{k}") for k in range(1, max_lag + 1)],
    )
    aggs = []
    for k in range(1, max_lag + 1):
        lk = F.col(f"__l{k}")
        ok = lk.isNotNull() & F.col("__v").isNotNull()
        z = F.lit(0).cast("bigint")
        aggs += [
            F.sum(F.when(ok, 1).otherwise(0)).cast("bigint").alias(f"__n{k}"),
            F.sum(F.when(ok, F.col("__v")).otherwise(z)).alias(f"__sx{k}"),
            F.sum(F.when(ok, lk).otherwise(z)).alias(f"__sy{k}"),
            F.sum(F.when(ok, F.col("__v") * lk).otherwise(z)).alias(f"__sxy{k}"),
            F.sum(F.when(ok, F.col("__v") * F.col("__v")).otherwise(z)).alias(
                f"__sxx{k}"
            ),
            F.sum(F.when(ok, lk * lk).otherwise(z)).alias(f"__syy{k}"),
        ]
    wide = lagged.groupBy(*[F.col(c) for c in g]).agg(*aggs)

    def acf_expr(k: int):
        n = F.col(f"__n{k}").cast("double")
        sx = F.col(f"__sx{k}").cast("double")
        sy = F.col(f"__sy{k}").cast("double")
        sxy = F.col(f"__sxy{k}").cast("double")
        sxx = F.col(f"__sxx{k}").cast("double")
        syy = F.col(f"__syy{k}").cast("double")
        num = n * sxy - sx * sy
        dx = n * sxx - sx * sx
        dy = n * syy - sy * sy
        r = num / F.sqrt(dx * dy)
        q6 = F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        return F.when((dx > 0) & (dy > 0), q6)

    rows = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.col(f"__n{k}").alias("n"),
                acf_expr(k).alias("acf"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return wide.select(*g, F.explode(rows).alias("__r")).select(
        *g, "__r.lag", "__r.n", "__r.acf"
    )


def mean_shift_changepoint(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str = None,
    min_seg: int = 3,
    scale: int = 2,
) -> DataFrame:
    """Single most-likely mean-shift changepoint per series (binary-
    segmentation step 1 / CUSUM peak): the split that maximizes the
    standardized before/after mean gap — the batch twin of the
    streaming drift monitor, answering WHERE the level changed, not
    just whether.

    Statistic at split i of n: ``|S_i·n - i·S_n| / sqrt(i·(n-i))``
    (the numerator is an exact bigint cross-product over quantized
    values; equivalent to |mean_L - mean_R| · i·(n-i)/sqrt(i(n-i)) —
    the CUSUM normalization that doesn't favor edge splits). Rounded to
    6 BEFORE ranking (smallest split index wins ties). Splits keep at
    least ``min_seg`` points on each side; series shorter than
    2·min_seg return no row.

    Returns ``(group?, n, split_after, mean_left, mean_right, shift,
    stat)`` — ``split_after`` is the order_col value of the last LEFT
    point. Scale shape: one (group-)ordered prefix-sum window + one
    rank window on the same sort (single exchange); intended input is a
    pre-aggregated metric series per group.
    """
    from pyspark.sql import Window

    s = 10 ** scale
    g = [group_col] if group_col else []
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy(*g).orderBy(F.col("__o"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy(*g)
    t = df.select(
        *g,
        F.col(order_col).alias("__o"),
        v.alias("__v"),
    ).where(F.col("__v").isNotNull())
    t = t.select(
        *g,
        "__o",
        F.row_number().over(w).alias("__i"),
        F.sum("__v").over(wcum).cast("bigint").alias("__si"),
        F.sum("__v").over(wall).cast("bigint").alias("__sn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("__n"),
    )
    i = F.col("__i").cast("double")
    n = F.col("__n").cast("double")
    num = F.abs(
        F.col("__si") * F.col("__n") - F.col("__i") * F.col("__sn")
    ).cast("double")
    stat = num / (n * F.lit(float(s)) * F.sqrt(i * (n - i)))
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    cand = t.where(
        (F.col("__i") >= F.lit(min_seg))
        & (F.col("__n") - F.col("__i") >= F.lit(min_seg))
    ).select(
        *g,
        "__o",
        "__i",
        "__si",
        "__sn",
        "__n",
        q6(stat).alias("__stat"),
    )
    wrank = Window.partitionBy(*g).orderBy(F.desc("__stat"), F.asc("__i"))
    best = cand.select(
        *g, "__o", "__i", "__si", "__sn", "__n", "__stat",
        F.row_number().over(wrank).alias("__r"),
    ).where(F.col("__r") == 1)
    sd = F.lit(float(s))
    mean_l = F.col("__si").cast("double") / F.col("__i").cast("double") / sd
    mean_r = (F.col("__sn") - F.col("__si")).cast("double") / (
        F.col("__n") - F.col("__i")
    ).cast("double") / sd
    return best.select(
        *g,
        F.col("__n").alias("n"),
        F.col("__o").alias("split_after"),
        q6(mean_l).alias("mean_left"),
        q6(mean_r).alias("mean_right"),
        q6(mean_r - mean_l).alias("shift"),
        F.col("__stat").alias("stat"),
    )


def pareto_frontier(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    group_col: str = None,
) -> DataFrame:
    """2-D Pareto frontier (skyline): the distinct points not dominated
    by any other — q dominates p when q.min <= p.min AND q.max >= p.max
    with at least one strict. The classic "best trade-off" selection
    (cheapest for a given quality, freshest for a given size) that a
    naive implementation writes as an O(n²) NOT EXISTS self-join.

    One sort instead: order distinct points by (min asc, max desc);
    a point survives iff no PRECEDING point has max >= its max —
    preceding rows are exactly those with a strictly better min (or an
    equal min with strictly better max), so a single running-max window
    decides dominance. Identical points never dominate each other
    (no strict part) — handled by the up-front distinct.

    Returns distinct ``(group?, minimize_col, maximize_col)`` frontier
    rows. Scale shape: one distinct (map-side-combinable) + one
    (group-)ordered window — the ungrouped form funnels one sort task,
    fine because the DISTINCT already collapsed the data; with heavy
    duplication the sort input is domain-sized, not corpus-sized.
    """
    from pyspark.sql import Window

    g = [group_col] if group_col else []
    pts = (
        df.select(
            *g,
            F.col(minimize_col).alias("__x"),
            F.col(maximize_col).alias("__y"),
        )
        .where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .distinct()
    )
    w = (
        Window.partitionBy(*g)
        .orderBy(F.asc("__x"), F.desc("__y"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = pts.select(
        *g,
        "__x",
        "__y",
        F.max("__y").over(w).alias("__prev_best"),
    )
    return flagged.where(
        F.col("__prev_best").isNull() | (F.col("__prev_best") < F.col("__y"))
    ).select(
        *g,
        F.col("__x").alias(minimize_col),
        F.col("__y").alias(maximize_col),
    )


def feature_hash(
    df: DataFrame,
    cols,
    n_buckets: int = 1 << 18,
    out_col: str = "features",
    salt: str = "fh",
) -> DataFrame:
    """Hashing-trick encoder: each (column, value) pair maps to a bucket
    ``md5(salt|col|value) % n_buckets`` with a ±1 sign from the next
    hash bit — the fixed-width categorical featurizer that needs NO
    vocabulary pass, no fit/transform state, and no driver round-trip
    (the standard trick for streaming / 100 TB training prep where a
    StringIndexer-style dictionary would itself be a big-data problem).

    Appends ``out_col``: array<struct<index:int, sign:int>> with one
    entry per column IN COLUMN ORDER (collisions are the accepted
    hashing-trick trade-off; the sign bit makes collision noise
    zero-mean). NULL values hash too (as the literal token "<null>"),
    keeping the vector width constant.

    Pure expression — no shuffle, no UDF; the oracle replays the md5
    arithmetic exactly.
    """
    from biomedical_data_integration_spark.functions.hashing import md5_bigint

    if n_buckets < 2:
        raise ValueError("feature_hash: n_buckets must be >= 2")
    entries = []
    for c in cols:
        token = F.concat(
            F.lit(c + "="),
            F.coalesce(F.col(c).cast("string"), F.lit("<null>")),
        )
        h = md5_bigint(token, salt)
        idx = (h % F.lit(n_buckets)).cast("int")
        # next bit above the bucket field decides the sign
        sign = F.when(
            F.shiftright(h, 40) % 2 == 0, F.lit(1)
        ).otherwise(F.lit(-1))
        entries.append(
            F.struct(idx.alias("index"), sign.cast("int").alias("sign"))
        )
    return df.withColumn(out_col, F.array(*entries))


def cross_correlation(
    df: DataFrame,
    value_col: str,
    time_col: str,
    key_col: str,
    key_a: str,
    key_b: str,
    max_lag: int = 7,
    scale: int = 2,
) -> DataFrame:
    """Cross-correlation function (CCF) between two daily metric series
    drawn from one event stream — "do purchases follow clicks, and by
    how many days?". ``autocorrelation`` probes a series against its own
    past; this probes series A (rows with ``key_col = key_a``) against
    series B at calendar offsets -max_lag..+max_lag. A peak at positive
    lag L means A leads B by L days.

    Lag-L CCF is the Pearson correlation of pairs (A_t, B_{t+L}) over
    days where BOTH exist — alignment is by CALENDAR day (an equi-join
    on shifted dates), not by row position, so gaps pair up honestly.
    Sufficient statistics are exact bigint sums of cent-quantized daily
    totals; the moment formula runs in doubles in a fixed order, so the
    result is bit-reproducible cross-engine.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus
    to (day, a_total, b_total) — everything after is series-sized: a
    (2*max_lag+1)-way explode of the B side, one equi-join on the
    shifted day, one lag-keyed aggregation. At 100 TB only the first
    groupBy sees data volume.
    """
    if max_lag < 0:
        raise ValueError("cross_correlation: max_lag must be >= 0")
    s = 10 ** scale
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    daily = (
        df.select(
            F.to_date(F.col(time_col)).alias("__d"),
            F.col(key_col).alias("__k"),
            v.alias("__v"),
        )
        .where(
            F.col("__v").isNotNull()
            & F.col("__d").isNotNull()
            & F.col("__k").isin(key_a, key_b)
        )
        .groupBy("__d")
        .agg(
            F.sum(F.when(F.col("__k") == key_a, F.col("__v"))).alias("__va"),
            F.sum(F.when(F.col("__k") == key_b, F.col("__v"))).alias("__vb"),
        )
    )
    a = daily.where(F.col("__va").isNotNull()).select("__d", "__va")
    lags = F.explode(
        F.array(
            *[F.lit(l).cast("int") for l in range(-max_lag, max_lag + 1)]
        )
    ).alias("lag")
    # pair (A_t, B_{t+lag}): a B row at day d supplies lag l to the A
    # row at day d - l
    b = (
        daily.where(F.col("__vb").isNotNull())
        .select("__d", "__vb", lags)
        .select(
            F.date_sub(F.col("__d"), F.col("lag")).alias("__d"),
            "lag",
            "__vb",
        )
    )
    paired = a.join(b, "__d")
    agg = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__va").cast("bigint").alias("__sx"),
        F.sum("__vb").cast("bigint").alias("__sy"),
        F.sum(F.col("__va") * F.col("__vb")).cast("bigint").alias("__sxy"),
        F.sum(F.col("__va") * F.col("__va")).cast("bigint").alias("__sxx"),
        F.sum(F.col("__vb") * F.col("__vb")).cast("bigint").alias("__syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    r = num / F.sqrt(dx * dy)
    q6 = F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return agg.select(
        "lag", "n", F.when((dx > 0) & (dy > 0), q6).alias("ccf")
    )


def categorical_entropy(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Shannon entropy of a categorical distribution per group — the
    behavioral-diversity profile (a user whose events are 99% "view"
    scores near 0; one spread evenly over k types scores ln k). Used to
    segment exploratory vs habitual actors and to flag bot-like
    uniformity in training-data curation.

    H = ln(n) - (1/n) * sum(c_i * ln c_i) — computed from exact bigint
    counts with the logs taken last, so both engines evaluate the same
    fixed expression over the same integers. ``norm_entropy`` divides
    by ln(k) (NULL for k = 1, where diversity is undefined).

    Scale shape: two map-side-combinable groupBys — (group, category)
    counts, then per-group moments. Output is group-count-sized; no
    windows, no joins.
    """
    counts = (
        df.select(F.col(group_col).alias("grp"), F.col(cat_col).alias("__c"))
        .where(F.col("__c").isNotNull())
        .groupBy("grp", "__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    agg = counts.groupBy("grp").agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("__n").cast("double") * F.log(F.col("__n").cast("double")))
        .alias("__snl"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("__snl") / F.col("n").cast(
        "double"
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        "k",
        q6(h).alias("entropy"),
        F.when(
            F.col("k") > 1, q6(h / F.log(F.col("k").cast("double")))
        ).alias("norm_entropy"),
    )

def theil_sen_trend(
    df: DataFrame,
    value_col: str,
    time_col: str,
    group_col: str = None,
    scale: int = 2,
) -> DataFrame:
    """Robust trend per group: the Theil-Sen slope (median of all
    pairwise day-to-day slopes — one wild outlier day drags an OLS fit,
    but not a median of slopes) with the Mann-Kendall S statistic and
    its tie-corrected z — the standard nonparametric "is there a
    monotonic trend at all" test that group_linregress's least-squares
    line can't answer robustly.

    Exactness: the corpus collapses to cent-quantized DAILY bigint
    totals first; each pairwise slope is one exact-integer division
    both engines evaluate identically, S is an integer sum of signs,
    and the median slope is type-1 — a SELECTED element, never an
    interpolation, so rank ambiguity among tied slopes cannot change
    the value. Var(S) uses the published tie correction
    (n(n-1)(2n+5) - sum t(t-1)(2t+5)) / 18 over exact day counts.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus;
    the pairwise self-join is SERIES-sized (D days -> D(D-1)/2 rows per
    group, ~66k for a year of dailies) and co-partitioned on the group
    key. At 100 TB only the first aggregation sees data volume. The
    ungrouped form funnels the (tiny) pair table through one task.
    """
    from pyspark.sql import Window

    s = 10 ** scale
    g = [group_col] if group_col else []
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    daily = (
        df.select(
            *g,
            F.datediff(F.to_date(F.col(time_col)), F.lit("1970-01-01"))
            .cast("bigint")
            .alias("__t"),
            v.alias("__v"),
        )
        .where(F.col("__v").isNotNull() & F.col("__t").isNotNull())
        .groupBy(*g, "__t")
        .agg(F.sum("__v").cast("bigint").alias("__v"))
    )
    left = daily.select(
        *g, F.col("__t").alias("__t1"), F.col("__v").alias("__v1")
    )
    right = daily.select(
        *g, F.col("__t").alias("__t2"), F.col("__v").alias("__v2")
    )
    pairs = (left.join(right, g) if g else left.crossJoin(right)).where(
        F.col("__t2") > F.col("__t1")
    )
    pairs = pairs.select(
        *g,
        F.when(F.col("__v2") > F.col("__v1"), F.lit(1))
        .when(F.col("__v2") < F.col("__v1"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("__sgn"),
        (
            (F.col("__v2") - F.col("__v1")).cast("double")
            / (F.col("__t2") - F.col("__t1")).cast("double")
        ).alias("__slope"),
    )
    wrank = Window.partitionBy(*g).orderBy("__slope")
    wall = Window.partitionBy(*g)
    ranked = pairs.select(
        *g,
        "__sgn",
        "__slope",
        F.row_number().over(wrank).alias("__rn"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("__np"),
    )
    # type-1 median: the ceil(np/2)-th smallest slope
    med = ranked.where(
        F.col("__rn") == F.floor((F.col("__np") + 1) / 2)
    ).select(*g, F.col("__slope").alias("__med"))
    pagg = ranked.groupBy(*[F.col(c) for c in g]).agg(
        F.max("__np").alias("n_pairs"),
        F.sum("__sgn").cast("bigint").alias("s_statistic"),
    )
    ties = daily.groupBy(*g, "__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__tc")
    )
    tagg = ties.groupBy(*[F.col(c) for c in g]).agg(
        F.sum("__tc").cast("bigint").alias("n_days"),
        F.sum(
            F.col("__tc") * (F.col("__tc") - 1) * (2 * F.col("__tc") + 5)
        )
        .cast("bigint")
        .alias("__tcorr"),
    )
    joined = (
        pagg.join(med, g) if g else pagg.crossJoin(med)
    )
    joined = joined.join(tagg, g) if g else joined.crossJoin(tagg)
    n = F.col("n_days").cast("double")
    var = (
        n * (n - 1) * (2 * n + 5) - F.col("__tcorr").cast("double")
    ) / F.lit(18.0)
    sd = F.col("s_statistic").cast("double")
    z = (
        F.when(F.col("s_statistic") > 0, (sd - 1) / F.sqrt(var))
        .when(F.col("s_statistic") < 0, (sd + 1) / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return joined.select(
        *g,
        "n_days",
        "n_pairs",
        "s_statistic",
        q6(F.col("__med") / F.lit(float(s))).alias("slope_per_day"),
        F.when(var > 0, q6(z)).alias("z_mk"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    group_col: str = None,
    n_rows: int = None,
) -> DataFrame:
    """Gini concentration of a non-negative quantity per group — "how
    unequal is the spend / token-frequency / document-length
    distribution?" (0 = perfectly even, ->1 = one item holds
    everything). The corpus-curation use: a vocabulary or source mix
    whose Gini spikes is dominated by a few heavy hitters.

    Uses the rank formula on the ascending-sorted values,
    G = (2*sum(i*x_i) - (n+1)*sum(x_i)) / (n*sum(x_i)) — every term an
    exact bigint (values cent-quantized; tied values occupy consecutive
    ranks, and sum(i*x) over a tie block is the same whichever tied row
    takes which rank), one double division at read-out. Negative values
    are rejected (Gini is undefined there).

    Scale shape: grouped, one sort window per group key (parallel
    across groups). Ungrouped, the distinct-value table + the bucketed
    two-pass prefix sum (functions/prefix.py): a tie block of t copies
    of x after c prior rows contributes ``x·(2tc + t² + t)`` to the
    DOUBLED rank-sum — exact integer arithmetic, no single-task sort.
    """
    from pyspark.sql import Window

    g = [group_col] if group_col else []
    v = F.floor(F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5)).cast(
        "bigint"
    )
    staged = df.select(*g, v.alias("__v")).where(F.col("__v").isNotNull())
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    if not g:
        from ..functions.prefix import exclusive_prefix_sums

        per = staged.groupBy("__v").agg(
            F.count(F.lit(1)).cast("bigint").alias("__t")
        )
        xps = exclusive_prefix_sums(per, "__v", ["__t"], n_rows=n_rows)
        d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        tt, cc, xx = d(F.col("__t")), d(F.col("__t_xps")), d(F.col("__v"))
        agg = xps.agg(
            F.coalesce(F.sum("__t"), F.lit(0)).cast("bigint").alias("n"),
            # rank-weighted sums grow O(n²·x): decimal(38,0), the
            # module's overflow contract
            F.sum(xx * tt).alias("__sx"),
            F.sum(
                xx * (F.lit(2) * tt * cc + tt * tt + tt)
            ).alias("__six2"),
            F.min("__v").alias("__minv"),
        )
        gini = (
            F.col("__six2").cast("double")
            - (F.col("n") + 1).cast("double") * F.col("__sx").cast("double")
        ) / (F.col("n").cast("double") * F.col("__sx").cast("double"))
        return agg.select(
            "n",
            q6(F.col("__sx").cast("double") / F.lit(100.0)).alias("total"),
            F.when(
                (F.col("__sx") > 0) & (F.col("__minv") >= 0), q6(gini)
            ).alias("gini"),
        )
    wrank = Window.partitionBy(*g).orderBy("__v")
    ranked = staged.select(
        *g,
        "__v",
        F.row_number().over(wrank).cast("bigint").alias("__i"),
    )
    agg = ranked.groupBy(*[F.col(c) for c in g]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__v").cast("bigint").alias("__sx"),
        F.sum(F.col("__i") * F.col("__v")).cast("bigint").alias("__six"),
        F.min("__v").alias("__minv"),
    )
    gini = (
        F.lit(2.0) * F.col("__six").cast("double")
        - (F.col("n") + 1).cast("double") * F.col("__sx").cast("double")
    ) / (F.col("n").cast("double") * F.col("__sx").cast("double"))
    out = agg.select(
        *g,
        "n",
        (F.col("__sx").cast("double") / F.lit(100.0)).alias("total"),
        F.when((F.col("__sx") > 0) & (F.col("__minv") >= 0), q6(gini)).alias(
            "gini"
        ),
    )
    return out.withColumn(
        "total", F.floor(F.col("total") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    )


def rolling_correlation(
    df: DataFrame,
    value_col: str,
    time_col: str,
    key_col: str,
    key_a: str,
    key_b: str,
    window_days: int = 30,
    min_periods: int = 10,
    scale: int = 2,
) -> DataFrame:
    """Rolling Pearson correlation between two daily metric series — the
    time-LOCAL companion to cross_correlation (one global number says
    "clicks and purchases co-move"; this shows WHEN the coupling held
    and when it broke, the standard regime-change readout).

    Each output day correlates the trailing ``window_days`` of paired
    (A_t, B_t) daily totals, pairing strictly by calendar day. All six
    sufficient statistics are exact bigint sums over cent-quantized
    totals accumulated in ONE rows-frame window pass (the frame is rows
    over the paired series, which after the calendar inner-join has at
    most one row per day); the moment formula then runs in doubles in a
    fixed order. Days with fewer than ``min_periods`` paired
    observations in the frame emit NULL.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus
    to (day, a, b); everything after — the join and the six stacked
    window sums — is series-sized on a single day-ordered frame.
    """
    from pyspark.sql import Window

    if window_days < 2:
        raise ValueError("rolling_correlation: window_days must be >= 2")
    if min_periods < 2:
        raise ValueError("rolling_correlation: min_periods must be >= 2")
    s = 10 ** scale
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    daily = (
        df.select(
            F.to_date(F.col(time_col)).alias("day"),
            F.col(key_col).alias("__k"),
            v.alias("__v"),
        )
        .where(
            F.col("__v").isNotNull()
            & F.col("day").isNotNull()
            & F.col("__k").isin(key_a, key_b)
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("__k") == key_a, F.col("__v"))).alias("__a"),
            F.sum(F.when(F.col("__k") == key_b, F.col("__v"))).alias("__b"),
        )
        .where(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    )
    # the paired series has one row per day, so a rows-frame of
    # window_days-1 preceding == "the trailing window_days calendar
    # days that HAVE a pair" — the pandas .rolling(min_periods)
    # convention on a gappy series
    w = (
        Window.orderBy("day")
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    stats = daily.select(
        "day",
        F.count(F.lit(1)).over(w).cast("bigint").alias("__n"),
        F.sum("__a").over(w).cast("bigint").alias("__sx"),
        F.sum("__b").over(w).cast("bigint").alias("__sy"),
        F.sum(F.col("__a") * F.col("__b")).over(w).cast("bigint").alias("__sxy"),
        F.sum(F.col("__a") * F.col("__a")).over(w).cast("bigint").alias("__sxx"),
        F.sum(F.col("__b") * F.col("__b")).over(w).cast("bigint").alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    r = num / F.sqrt(dx * dy)
    q6 = F.floor(r * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return stats.select(
        "day",
        F.col("__n").alias("n"),
        F.when(
            (F.col("__n") >= min_periods) & (dx > 0) & (dy > 0), q6
        ).alias("corr"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str = None,
) -> DataFrame:
    """Kaplan-Meier survival curve — time-to-event with right censoring
    (churn, time-to-conversion, hardware failure): S(t) is the product
    of (1 - d_i/n_i) over event times <= t, where d_i counts events AT
    t_i and n_i counts subjects still at risk (duration >= t_i).
    Censored subjects (``event_col`` = 0) leave the risk set without
    contributing an event — the estimator the naive "fraction converted
    by t" gets wrong the moment observation windows differ.

    All counts are exact bigints off ONE duration-keyed groupBy (corpus
    collapses immediately); the risk set is a reverse cumulative sum
    and the product runs as exp(cumsum(ln ...)) over the
    time-point-sized table — logs taken last, one fixed window order.

    Returns (group?, t, n_risk, d_events, survival) for event
    time points only (censoring times move n_risk but emit no row),
    survival floor-quantized to 6.
    """
    from pyspark.sql import Window

    g = [group_col] if group_col else []
    staged = df.select(
        *g,
        F.col(duration_col).cast("bigint").alias("__t"),
        (F.col(event_col).cast("int") > 0).cast("int").alias("__e"),
    ).where(F.col("__t").isNotNull() & (F.col("__t") >= 0))
    per_t = staged.groupBy(*g, "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__m"),
        F.sum("__e").cast("bigint").alias("__d"),
    )
    w_all = Window.partitionBy(*g)
    w_lt = (
        Window.partitionBy(*g)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(*g)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = per_t.select(
        *g,
        "__t",
        "__d",
        (
            F.sum("__m").over(w_all)
            - F.coalesce(F.sum("__m").over(w_lt), F.lit(0))
        )
        .cast("bigint")
        .alias("__n"),
    )
    # Spark's log() yields NULL (not -inf) at 0, so the "risk set fully
    # dies" time point is an explicit absorbing zero rather than a log
    # term; it can only occur at a group's final time point
    loss = F.when(
        (F.col("__d") > 0) & (F.col("__d") < F.col("__n")),
        F.log(
            (F.col("__n") - F.col("__d")).cast("double")
            / F.col("__n").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    dead = F.max((F.col("__d") == F.col("__n")).cast("int")).over(w_cum)
    curve = risk.select(
        *g,
        "__t",
        "__d",
        "__n",
        F.when(dead == 1, F.lit(0.0))
        .otherwise(F.exp(F.sum(loss).over(w_cum)))
        .alias("__s"),
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return curve.where(F.col("__d") > 0).select(
        *g,
        F.col("__t").alias("t"),
        F.col("__n").alias("n_risk"),
        F.col("__d").alias("d_events"),
        q6(F.col("__s")).alias("survival"),
    )
