"""Model-evaluation statistics over scored tables: exact binary AUC and
calibration reports — the offline-eval face for the engine's scoring
operators (classifier scores, LM fluency, linkage similarities,
retrieval fusions all emit a (score, label)-shaped table eventually).

The reference has no evaluation surface; engine-claimed extension in
the same family as ``retrieval.ranking_metrics``. Everything is exact
rank/count arithmetic — no sampling, no sklearn — so results are
bit-deterministic cross-engine and hold at any scale:

- :func:`binary_auc` — the Mann-Whitney identity:
  ``AUC = (R_pos - n_pos (n_pos + 1) / 2) / (n_pos n_neg)`` with
  ``R_pos`` the sum of the positives' AVERAGE ranks (ties share the
  mean rank — the exact tie-corrected estimator). One score-ordered
  window + one aggregation; ranks are integer sums so the only
  division happens once at read-out.
- :func:`calibration_report` — reliability table over equal-width
  confidence bins: per bin the mean predicted score vs the observed
  positive rate, plus each bin's |gap| contribution to Expected
  Calibration Error. Scores are micro-unit-summed (order-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark.session import local_frame


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` against binary ``label_col``
    (anything > 0 is positive), optionally per group.

    Returns ``(group?, n_pos, n_neg, auc)``; groups with no positives
    or no negatives yield NULL auc. Ties in the score receive their
    average rank (the standard tie correction), computed from a
    distinct-score cumulative-count table — pure integer arithmetic
    until the final division.

    Scale shape: one combinable (group, score) groupBy collapses the
    corpus to distinct scores, then ranks come from the bucketed
    two-pass prefix sum (functions/prefix.py — no single-task sort;
    grouped fits use a group-partitioned window instead, parallel
    across groups). For 100 TB AUC sketches, pre-bin scores with
    ``sketches.histogram_sketch`` and trade exactness for a
    bounded-error trapezoid — this operator is the exact path.
    ``n_rows`` (any upper bound on the distinct-score count, e.g. the
    known corpus row count) skips the kernel-routing count job in the
    ungrouped path — see ``functions.prefix.exclusive_prefix_sums``.
    """
    from ..functions.prefix import exclusive_prefix_sums

    g = [group_col] if group_col else []
    rows = df.select(
        *g,
        F.col(score_col).cast("double").alias("__s"),
        (F.col(label_col).cast("double") > 0).cast("int").alias("__y"),
    ).where(F.col("__s").isNotNull() & F.col(label_col).isNotNull())
    per = rows.groupBy(*g, "__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__t"),
        F.sum("__y").cast("bigint").alias("__p"),
    )
    # doubled average rank of a run of t tied scores after c prior rows:
    # 2c + t + 1 (== 2*first + tie - 1 of the per-row form, exactly)
    if g:
        w = (
            Window.partitionBy(*g)
            .orderBy("__s")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        ranked = per.select(
            *g,
            "__t",
            "__p",
            (
                F.lit(2) * F.coalesce(F.sum("__t").over(w), F.lit(0))
                + F.col("__t")
                + F.lit(1)
            ).alias("__r2"),
        )
    else:
        ranked = exclusive_prefix_sums(
            per, "__s", ["__t"], n_rows=n_rows
        ).select(
            "__t",
            "__p",
            (
                F.lit(2) * F.col("__t_xps") + F.col("__t") + F.lit(1)
            ).alias("__r2"),
        )
    agg = ranked.groupBy(*[F.col(c) for c in g]).agg(
        F.sum("__p").cast("bigint").alias("n_pos"),
        F.sum(F.col("__t") - F.col("__p")).cast("bigint").alias("n_neg"),
        # doubled positive rank-sum grows O(n²): decimal(38,0), not
        # bigint (the mann_whitney_u overflow contract)
        F.sum(
            F.col("__p").cast("decimal(38,0)")
            * F.col("__r2").cast("decimal(38,0)")
        ).alias("__rp2"),
    )
    auc = (
        (
            F.col("__rp2").cast("double") / 2.0
            - F.col("n_pos").cast("double") * (F.col("n_pos") + 1) / 2.0
        )
        / (F.col("n_pos").cast("double") * F.col("n_neg"))
    )
    return agg.select(
        *g,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.floor(auc * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("auc"),
    )


def calibration_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table for a probabilistic score in [0, 1]: per
    equal-width confidence bin, the mean predicted score, the observed
    positive rate, and the bin's weighted |gap| — whose total is the
    Expected Calibration Error (repeated on every row via an
    empty-frame window, the engine's one-query-full-answer idiom).

    Returns ``(bin, n, mean_score, frac_positive, ece_term, ece_total)``.
    Scores micro-unit-summed; gaps floor-quantized at 6 decimals.
    One map-side-combinable groupBy over ``n_bins`` keys.
    """
    if n_bins < 1:
        raise ValueError("calibration_report: n_bins must be >= 1")
    s = F.col(score_col).cast("double")
    staged = df.select(
        F.least(
            F.floor(s * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("bin"),
        F.floor(s * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("__sm"),
        (F.col(label_col).cast("double") > 0).cast("bigint").alias("__y"),
    ).where(s.isNotNull() & F.col(label_col).isNotNull())
    per = staged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__sm").cast("bigint").alias("__sms"),
        F.sum("__y").cast("bigint").alias("__pos"),
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mean_score = F.col("__sms").cast("double") / (F.col("n") * F.lit(1e6))
    frac_pos = F.col("__pos").cast("double") / F.col("n")
    gap_micro = F.floor(
        F.abs(mean_score - frac_pos)
        * (F.col("n").cast("double") / F.sum("n").over(tot))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    return (
        per.withColumn("__gm", gap_micro)
        .select(
            "bin",
            "n",
            F.floor(mean_score * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
            F.floor(frac_pos * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
            (F.col("__gm").cast("double") / F.lit(1e6)).alias("ece_term"),
            (F.sum("__gm").over(tot).cast("double") / F.lit(1e6)).alias(
                "ece_total"
            ),
        )
        .toDF("bin", "n", "mean_score", "frac_positive", "ece_term", "ece_total")
    )


def regression_report(
    df: DataFrame,
    pred_col: str,
    label_col: str,
    group_col: str | None = None,
    scale: int = 4,
) -> DataFrame:
    """Regression-metrics report: ``(group?, n, mae, rmse, bias, r2)``
    — the numeric-prediction face of the evaluation family (AUC /
    calibration cover classification; ranking_metrics covers
    retrieval).

    Predictions and labels are quantized to ``scale`` decimals so every
    sufficient statistic (Σ|e|, Σe², Σe, Σy, Σy²) is an EXACT bigint
    sum — order-free under any partitioning — and the final divisions /
    sqrt happen once per group (floor-quantized to 6). r2 is
    ``1 - SSE/SST`` (NULL when the labels have zero variance); bias is
    ``mean(pred - label)`` — a systematic over/under-prediction probe
    the symmetric metrics hide.

    ONE map-side-combinable aggregation; keep |v|·10^scale within ~3e9
    per cell (same bigint-overflow contract as group_linregress).
    """
    g = [group_col] if group_col else []
    s = 10 ** scale
    qp = F.floor(F.col(pred_col).cast("double") * F.lit(float(s)) + F.lit(0.5)).cast(
        "bigint"
    )
    ql = F.floor(F.col(label_col).cast("double") * F.lit(float(s)) + F.lit(0.5)).cast(
        "bigint"
    )
    rows = df.select(*g, qp.alias("__p"), ql.alias("__y")).where(
        F.col("__p").isNotNull() & F.col("__y").isNotNull()
    )
    # squared terms ride decimal(38,0): still EXACT integers (scale 0,
    # headroom to 1e38 — a lone bigint² already busts 2^63 for 5e9-unit
    # cells), and DuckDB's hugeint sums agree digit-for-digit
    e = (F.col("__p") - F.col("__y")).cast("decimal(38,0)")
    yd = F.col("__y").cast("decimal(38,0)")
    agg = rows.groupBy(*[F.col(c) for c in g]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.abs(e)).alias("__sae"),
        F.sum(e * e).alias("__sse"),
        F.sum(e).alias("__se"),
        F.sum(yd).alias("__sy"),
        F.sum(yd * yd).alias("__syy"),
    )
    sd = F.lit(float(s))
    n = F.col("n").cast("double")
    sae = F.col("__sae").cast("double")
    sse = F.col("__sse").cast("double")
    se = F.col("__se").cast("double")
    sy = F.col("__sy").cast("double")
    syy = F.col("__syy").cast("double")
    sst = syy - sy * sy / n  # n·Var(y) in quantized units²
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *g,
        "n",
        q6(sae / n / sd).alias("mae"),
        q6(F.sqrt(sse / n) / sd).alias("rmse"),
        q6(se / n / sd).alias("bias"),
        F.when(sst > 0, q6(F.lit(1.0) - sse / sst)).alias("r2"),
    )


def ab_test_report(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
    scale: int = 4,
) -> DataFrame:
    """Two-sample experiment read-out comparing ``treatment`` against
    ``control``: Welch's t on the metric plus a two-proportion z on the
    conversion indicator (value > 0) — the always-asked pair of
    questions about an A/B split, with no scipy anywhere.

    Returns one row: ``(n_c, n_t, mean_c, mean_t, lift, t_welch,
    conv_c, conv_t, z_prop)``. Metric values are quantized to ``scale``
    decimals so Σx and Σx² are exact decimal(38,0) sums (order-free);
    the Welch statistic ``(m_t - m_c) / sqrt(s²_t/n_t + s²_c/n_c)``
    (sample variances, n-1) and the pooled-proportion z are computed
    once from those integers — identical doubles in any engine,
    floor-quantized to 6. NULL statistics when a side has < 2 rows or
    zero variance.

    ONE map-side-combinable aggregation over one scan (both variants in
    the same pass via conditional sums).
    """
    s = 10 ** scale
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("decimal(38,0)")
    is_c = F.col(variant_col) == F.lit(control)
    is_t = F.col(variant_col) == F.lit(treatment)
    rows = df.select(is_c.alias("__c"), is_t.alias("__t"), v.alias("__v")).where(
        (F.col("__c") | F.col("__t")) & F.col("__v").isNotNull()
    )
    conv = (F.col("__v") > 0).cast("bigint")
    agg = rows.agg(
        F.sum(F.when(F.col("__c"), 1).otherwise(0)).cast("bigint").alias("n_c"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("bigint").alias("n_t"),
        F.sum(F.when(F.col("__c"), F.col("__v"))).alias("__sc"),
        F.sum(F.when(F.col("__t"), F.col("__v"))).alias("__st"),
        F.sum(F.when(F.col("__c"), F.col("__v") * F.col("__v"))).alias("__ssc"),
        F.sum(F.when(F.col("__t"), F.col("__v") * F.col("__v"))).alias("__sst"),
        F.sum(F.when(F.col("__c"), conv).otherwise(F.lit(0))).cast("bigint").alias("__kc"),
        F.sum(F.when(F.col("__t"), conv).otherwise(F.lit(0))).cast("bigint").alias("__kt"),
    )
    sd = F.lit(float(s))
    nc = F.col("n_c").cast("double")
    nt = F.col("n_t").cast("double")
    mc = F.col("__sc").cast("double") / nc / sd
    mt = F.col("__st").cast("double") / nt / sd
    # sample variance in metric units²: (Σx² - (Σx)²/n) / (n-1) / s²
    # explicit x*x, not pow(x, 2): Math.pow is not contractually exact,
    # and the oracle must reproduce the same doubles
    sc_d = F.col("__sc").cast("double")
    st_d = F.col("__st").cast("double")
    var_c = (
        (F.col("__ssc").cast("double") - sc_d * sc_d / nc) / (nc - 1) / (sd * sd)
    )
    var_t = (
        (F.col("__sst").cast("double") - st_d * st_d / nt) / (nt - 1) / (sd * sd)
    )
    se = F.sqrt(var_t / nt + var_c / nc)
    t_welch = (mt - mc) / se
    pc = F.col("__kc").cast("double") / nc
    pt = F.col("__kt").cast("double") / nt
    pp = (F.col("__kc") + F.col("__kt")).cast("double") / (nc + nt)
    z = (pt - pc) / F.sqrt(pp * (1 - pp) * (1 / nc + 1 / nt))
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    both = (F.col("n_c") >= 2) & (F.col("n_t") >= 2)
    return agg.select(
        "n_c",
        "n_t",
        q6(mc).alias("mean_c"),
        q6(mt).alias("mean_t"),
        q6(mt - mc).alias("lift"),
        F.when(both & (var_c + var_t > 0), q6(t_welch)).alias("t_welch"),
        q6(pc).alias("conv_c"),
        q6(pt).alias("conv_t"),
        F.when(both & (pp > 0) & (pp < 1), q6(z)).alias("z_prop"),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float],
    score_scale: int = 3,
) -> DataFrame:
    """Precision / recall / F1 / accuracy at a grid of decision
    thresholds — the PR-curve companion to binary_auc (which summarizes
    ranking quality in one number; this says what happens at each
    operating point a deployment could pick).

    "Predict positive" means ``score >= t``. Scores are floor-quantized
    to ``score_scale`` decimals FIRST, which is exact for any threshold
    on the same grid (``score >= t  <=>  floor(score*s) >= round(t*s)``
    when ``t*s`` is integral), so the corpus collapses to at most
    O(10**score_scale) bins in ONE map-side-combinable groupBy before
    any threshold logic runs. The bins x thresholds expansion and the
    final thresholds-keyed aggregation touch only bin-count-sized data
    — no per-threshold corpus pass, no driver loop. At 100 TB the scan
    dominates and the sweep is one pass regardless of grid size.

    Returns one row per threshold: ``(threshold, tp, fp, fn, tn,
    precision, recall, f1, accuracy)`` — ratios floor-quantized to 6,
    NULL where undefined (no predicted / no actual positives). EVERY
    requested threshold yields a row even when the input has no valid
    (score, label) pairs — zero counts, NULL ratios — so callers
    iterating the grid never see a silently shorter frame.
    """
    if not thresholds:
        raise ValueError("threshold_sweep: need at least one threshold")
    s = 10 ** score_scale
    t_ints = []
    for t in thresholds:
        ti = int(round(t * s))
        if abs(ti - t * s) > 1e-9:
            raise ValueError(
                f"threshold_sweep: threshold {t} is not representable at "
                f"score_scale={score_scale}; coarsen the grid or raise the scale"
            )
        t_ints.append(ti)
    bins = (
        df.select(
            F.floor(F.col(score_col).cast("double") * F.lit(float(s)))
            .cast("bigint")
            .alias("__b"),
            (F.col(label_col).cast("double") > 0).cast("int").alias("__y"),
        )
        .where(F.col("__b").isNotNull() & F.col(label_col).isNotNull())
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__y").cast("bigint").alias("__np"),
        )
    )
    grid = F.explode(
        F.array(*[F.lit(ti).cast("bigint") for ti in sorted(t_ints)])
    ).alias("__t")
    pred_pos = F.col("__b") >= F.col("__t")
    counts = (
        bins.select("__b", "__n", "__np", grid)
        .groupBy("__t")
        .agg(
            F.sum(F.when(pred_pos, F.col("__np")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when(pred_pos, F.col("__n") - F.col("__np")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(F.when(~pred_pos, F.col("__np")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("fn"),
            F.sum(
                F.when(~pred_pos, F.col("__n") - F.col("__np")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("tn"),
        )
    )
    # anchor the output on the REQUESTED grid, not on the data: an
    # empty bins table must still produce one zero-count row per
    # threshold (grid and counts are both threshold-sized; the join is
    # driver-trivial and broadcast either way)
    grid_df = local_frame(
        df.sparkSession, [(ti,) for ti in sorted(t_ints)], "__t bigint"
    )
    agg = grid_df.join(F.broadcast(counts), "__t", "left").select(
        "__t",
        *[
            F.coalesce(F.col(c), F.lit(0).cast("bigint")).alias(c)
            for c in ("tp", "fp", "fn", "tn")
        ],
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    f1 = (
        F.lit(2.0)
        * F.col("tp").cast("double")
        / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn"))
    )
    acc = (F.col("tp") + F.col("tn")).cast("double") / (
        F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")
    )
    return agg.select(
        (F.col("__t").cast("double") / F.lit(float(s))).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(F.col("tp") + F.col("fp") > 0, q6(prec)).alias("precision"),
        F.when(F.col("tp") + F.col("fn") > 0, q6(rec)).alias("recall"),
        F.when(
            F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0, q6(f1)
        ).alias("f1"),
        F.when(
            F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn") > 0, q6(acc)
        ).alias("accuracy"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    treatment_group,
    control_group,
    pre_period,
    post_period,
    scale: int = 2,
) -> DataFrame:
    """Difference-in-differences effect estimate — the workhorse causal
    readout for "we changed X for cohort T at time t": the treatment
    group's pre→post change minus the control group's, which nets out
    any shared time trend the A/B report (ab_test_report) can't
    separate from the intervention.

    ONE conditional-sum scan collects all four cells' exact quantized
    moments; sums ride decimal(38,0) — still EXACT integers, with
    headroom to 1e38, because a lone bigint² already busts 2^63 for
    5e9-unit cells (same overflow contract as ab_test_report /
    regression_report; DuckDB's hugeint sums agree digit-for-digit).
    The DiD point estimate and the standard error (pooled
    independent-cell variances, the classic 2x2 formulation) come from
    fixed-order double arithmetic at read-out; the ``n·Σq² − (Σq)²``
    form cancels in doubles when ``|v|·10^scale`` exceeds ~1e8 with
    tiny relative spread, costing se digits (not sign or magnitude) —
    the read-out bound that remains after the sums themselves are
    exact. Cells with n < 2 yield NULL se/t.

    Returns one row: per-cell means, the two deltas, ``did`` (the
    effect), ``se_did``, ``t_did`` — floor-quantized to 6.
    """
    s = 10 ** scale
    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("decimal(38,0)")
    cells = {
        "tpre": (treatment_group, pre_period),
        "tpost": (treatment_group, post_period),
        "cpre": (control_group, pre_period),
        "cpost": (control_group, post_period),
    }
    aggs = []
    for tag, (g, p) in cells.items():
        cond = (F.col(group_col) == g) & (F.col(period_col) == p)
        z = F.lit(0).cast("decimal(38,0)")
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"__n_{tag}"),
            F.sum(F.when(cond, q).otherwise(z)).alias(f"__s_{tag}"),
            F.sum(F.when(cond, q * q).otherwise(z)).alias(f"__ss_{tag}"),
        ]
    agg = df.where(F.col(value_col).isNotNull()).agg(*aggs)

    def mean(tag):
        return F.col(f"__s_{tag}").cast("double") / F.col(
            f"__n_{tag}"
        ).cast("double") / F.lit(float(s))

    def var_over_n(tag):
        n = F.col(f"__n_{tag}").cast("double")
        sm = F.col(f"__s_{tag}").cast("double")
        ss = F.col(f"__ss_{tag}").cast("double")
        var = (n * ss - sm * sm) / (n * (n - 1)) / F.lit(float(s * s))
        return var / n

    did = (mean("tpost") - mean("tpre")) - (mean("cpost") - mean("cpre"))
    se2 = (
        var_over_n("tpost")
        + var_over_n("tpre")
        + var_over_n("cpost")
        + var_over_n("cpre")
    )
    all_n2 = (
        (F.col("__n_tpre") >= 2)
        & (F.col("__n_tpost") >= 2)
        & (F.col("__n_cpre") >= 2)
        & (F.col("__n_cpost") >= 2)
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("__n_tpre").alias("n_tpre"),
        F.col("__n_tpost").alias("n_tpost"),
        F.col("__n_cpre").alias("n_cpre"),
        F.col("__n_cpost").alias("n_cpost"),
        q6(mean("tpre")).alias("mean_tpre"),
        q6(mean("tpost")).alias("mean_tpost"),
        q6(mean("cpre")).alias("mean_cpre"),
        q6(mean("cpost")).alias("mean_cpost"),
        q6(mean("tpost") - mean("tpre")).alias("delta_t"),
        q6(mean("cpost") - mean("cpre")).alias("delta_c"),
        q6(did).alias("did"),
        F.when(all_n2 & (se2 > 0), q6(F.sqrt(se2))).alias("se_did"),
        F.when(all_n2 & (se2 > 0), q6(did / F.sqrt(se2))).alias("t_did"),
    )


def cuped_adjusted_effect(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    covariate_col: str,
    control,
    treatment,
    scale: int = 2,
) -> DataFrame:
    """CUPED variance reduction for A/B readouts (Deng et al., WSDM'13):
    regress the experiment metric on a PRE-experiment covariate
    (theta = cov(y, x) / var(x), pooled across variants), analyze
    y - theta * (x - mean(x)) instead of y — same expected effect,
    variance shrunk by the covariate's explanatory share (rho²), which
    is often a 30-50% sensitivity win for free.

    ONE conditional-sum scan collects exact cent-quantized moments
    (per-variant and pooled, including the cross moment); squared and
    cross sums ride decimal(38,0) — still EXACT integers, with headroom
    to 1e38, because a lone bigint² already busts 2^63 for 5e9-unit
    values (same overflow contract as ab_test_report /
    regression_report). Theta and both adjusted means are closed-form
    fixed-order double arithmetic at read-out — no second pass, no
    per-row adjusted column materialized; the ``n·Σ − Σ·Σ`` moment
    combinations cancel in doubles when ``|v|·10^scale`` exceeds ~1e8
    with tiny relative spread (variance digits, not sign/magnitude —
    see diff_in_diff). Degenerate inputs (var(x) = 0, a variant with
    n < 2) yield NULL adjusted stats.

    Returns one row: (n_c, n_t, effect_raw, theta, var_reduction,
    effect_cuped, se_cuped, t_cuped).
    """
    s = 10 ** scale
    qy = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("decimal(38,0)")
    qx = F.floor(
        F.col(covariate_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("decimal(38,0)")
    rows = df.where(
        F.col(value_col).isNotNull()
        & F.col(covariate_col).isNotNull()
        & F.col(variant_col).isin(control, treatment)
    ).select(
        (F.col(variant_col) == treatment).cast("int").alias("__t"),
        qy.alias("__y"),
        qx.alias("__x"),
    )
    z = F.lit(0).cast("decimal(38,0)")
    sides = {"c": F.col("__t") == 0, "t": F.col("__t") == 1}
    aggs = []
    for tag, cond in sides.items():
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"__n{tag}"),
            F.sum(F.when(cond, F.col("__y")).otherwise(z)).alias(f"__sy{tag}"),
            F.sum(F.when(cond, F.col("__x")).otherwise(z)).alias(f"__sx{tag}"),
            F.sum(F.when(cond, F.col("__y") * F.col("__y")).otherwise(z))
            .alias(f"__syy{tag}"),
            F.sum(F.when(cond, F.col("__x") * F.col("__x")).otherwise(z))
            .alias(f"__sxx{tag}"),
            F.sum(F.when(cond, F.col("__x") * F.col("__y")).otherwise(z))
            .alias(f"__sxy{tag}"),
        ]
    agg = rows.agg(*aggs)

    def d(name):
        return F.col(name).cast("double")

    nc, nt = d("__nc"), d("__nt")
    n = nc + nt
    sy = d("__syc") + d("__syt")
    sx = d("__sxc") + d("__sxt")
    syy = d("__syyc") + d("__syyt")
    sxx = d("__sxxc") + d("__sxxt")
    sxy = d("__sxyc") + d("__sxyt")
    # pooled (biased-n) moments — theta is a ratio, the 1/n cancels
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    theta = cov / varx
    # adjusted per-variant mean: mean(y) - theta * (mean(x) - mean(x)_pooled)
    mx_all = sx / n
    my_c = d("__syc") / nc
    my_t = d("__syt") / nt
    mx_c = d("__sxc") / nc
    mx_t = d("__sxt") / nt
    adj_c = my_c - theta * (mx_c - mx_all)
    adj_t = my_t - theta * (mx_t - mx_all)
    # var of the adjusted metric, pooled: (vary - theta * cov) / n²·…
    # classic identity var(y - θx) = var(y) - θ²·var(x) at θ = cov/varx
    var_adj = (vary - theta * cov) / (n * (n - 1))
    se = F.sqrt(var_adj * (1 / nc + 1 / nt)) / F.lit(float(s))
    effect_raw = (my_t - my_c) / F.lit(float(s))
    effect_cuped = (adj_t - adj_c) / F.lit(float(s))
    red = F.lit(1.0) - (vary - theta * cov) / vary
    ok = (F.col("__nc") >= 2) & (F.col("__nt") >= 2) & (varx > 0) & (vary > 0)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("__nc").alias("n_c"),
        F.col("__nt").alias("n_t"),
        q6(effect_raw).alias("effect_raw"),
        F.when(ok, q6(theta / F.lit(1.0))).alias("theta"),
        F.when(ok, q6(red)).alias("var_reduction"),
        F.when(ok, q6(effect_cuped)).alias("effect_cuped"),
        F.when(ok & (var_adj > 0), q6(se)).alias("se_cuped"),
        F.when(
            ok & (var_adj > 0), q6(effect_cuped / se)
        ).alias("t_cuped"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    scale: int = 6,
    n_rows: int | None = None,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test comparing ``group_a``
    against ``group_b`` — the non-parametric sibling of
    :func:`ab_test_report`'s Welch t: rank-based, so heavy tails and
    outliers (revenue-shaped metrics) can't dominate the statistic.

    Exact tie handling with NO per-row ranking shuffle: values are
    quantized to ``scale`` decimals, the corpus collapses to the
    distinct-value table (value, n_a, n_b) in one combinable groupBy,
    and average ranks come from a cumulative window over that table —
    ties share the mean rank by construction. Doubled rank-sums
    (``2R`` so half-ranks stay integral) ride decimal(38,0) — they grow
    as O(n^2), past int64 at ~3e9 pooled rows — so U is exact;
    the normal approximation ``z = (U - n_a n_b / 2) / sigma`` uses the
    tie-corrected variance ``sigma^2 = n_a n_b / 12 * ((n + 1) -
    sum(t^3 - t) / (n (n - 1)))`` (no continuity correction —
    documented, mirrored by the oracle). NULL z when a side is empty
    or all values tie.

    Returns one row: ``(n_a, n_b, u_a, u_b, z)``; U floor-quantized to
    6 (it is integral or half-integral by construction).

    Scale shape: one corpus scan -> distinct-value groupBy (combinable),
    one window + one aggregate over the distinct-value-sized table.
    """
    s = 10 ** scale
    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    is_a = F.col(group_col) == F.lit(group_a)
    is_b = F.col(group_col) == F.lit(group_b)
    vals = (
        df.where((is_a | is_b) & F.col(value_col).isNotNull())
        .select(q.alias("__v"), is_a.cast("int").alias("__a"))
        .groupBy("__v")
        .agg(
            F.sum("__a").cast("bigint").alias("__na"),
            F.sum(F.lit(1) - F.col("__a")).cast("bigint").alias("__nb"),
        )
    )
    from ..functions.prefix import exclusive_prefix_sums

    # average rank of a run of t tied values starting after c prior
    # rows is c + (t + 1) / 2; doubled: 2c + t + 1 (exact bigint).
    # c comes from the bucketed two-pass prefix sum — no single-task
    # global sort over the distinct-value table (which is ~n for
    # continuous metrics at scale=6 quantization).
    staged = vals.withColumn("__t", F.col("__na") + F.col("__nb"))
    ranked = exclusive_prefix_sums(
        staged, "__v", ["__t"], n_rows=n_rows
    ).select(
        "__na",
        "__nb",
        "__t",
        (F.lit(2) * F.col("__t_xps") + F.col("__t") + F.lit(1)).alias("__r2"),
    )
    agg = ranked.agg(
        F.coalesce(F.sum("__na"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.sum("__nb"), F.lit(0)).cast("bigint").alias("n_b"),
        # doubled rank-sum grows O(n^2) (up to n(n+1)) — ride
        # decimal(38,0), not bigint, so "U is exact" holds past the
        # ~3e9-pooled-row int64 ceiling (same contract as __ties below)
        F.sum(
            F.col("__na").cast("decimal(38,0)")
            * F.col("__r2").cast("decimal(38,0)")
        ).alias("__r2a"),
        # tie correction sum(t^3 - t) over runs; decimal headroom like
        # the moment sums elsewhere in this module
        F.sum(
            (
                F.col("__t").cast("decimal(38,0)")
                * F.col("__t").cast("decimal(38,0)")
                * F.col("__t").cast("decimal(38,0)")
                - F.col("__t").cast("decimal(38,0)")
            )
        ).alias("__ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    # U_a = R_a - n_a (n_a + 1) / 2, with 2 R_a exact
    u_a = (
        F.col("__r2a").cast("double") - na * (na + 1)
    ) / F.lit(2.0)
    u_b = na * nb - u_a
    # the tie term divides by n(n-1): guard n <= 1 (a one-row input) so
    # the WHEN condition below doesn't trip ANSI divide-by-zero — var is
    # meaningless there anyway (z is NULL via the var > 0 gate)
    tie_term = F.when(
        n > 1, F.col("__ties").cast("double") / (n * (n - 1))
    ).otherwise(F.lit(0.0))
    var = na * nb / F.lit(12.0) * ((n + 1) - tie_term)
    z = (u_a - na * nb / F.lit(2.0)) / F.sqrt(var)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, q6(u_a)).alias("u_a"),
        F.when(ok, q6(u_b)).alias("u_b"),
        F.when(ok & (var > 0), q6(z)).alias("z"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
    scale: int = 2,
) -> DataFrame:
    """One-way ANOVA across the levels of ``group_col``: does the group
    mean differ anywhere? — the k-group generalization the pairwise
    tests in this module can't pose without multiplicity.

    Exact moment collection: per-group n / sum(q) / sum(q^2) with
    cent-quantized values on decimal(38,0) (the module's overflow
    contract), ONE combinable groupBy. The sum-of-squares decomposition
    runs on the k-row group table; each group's ``S_g^2 / n_g`` term is
    floor-quantized to micro-units BEFORE the cross-group sum so the
    k-term float sum is order-free (the cross-engine determinism rule
    every multi-term readout here follows). F = (SSB / (k-1)) /
    (SSW / (N-k)); NULL F when k < 2, N <= k, or SSW = 0.

    Returns one row: ``(k, n, ss_between, ss_within, f_stat, eta_sq)``
    — SS in metric units^2, floor-quantized to 6.
    """
    s = 10 ** scale
    q = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("decimal(38,0)")
    per = (
        df.where(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("__g"), q.alias("__q"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__q").alias("__s"),
            F.sum(F.col("__q") * F.col("__q")).alias("__ss"),
        )
    )
    # S_g^2 / n_g in quantized units^2, micro-quantized per group ->
    # the k-term sum is an exact decimal sum in any order / any engine.
    # decimal(38,0), NOT bigint: S_g^2/n_g*1e6 passes 2^63 around 1e8
    # rows/group at metric mean ~10 (scale=2), and the non-ANSI
    # double->bigint cast would silently saturate there, corrupting
    # SSB/SSW/F; decimal carries magnitude to 1e38 (precision past 2^53
    # is double-limited either way — same contract as the other
    # floor-quantized double readouts in this module)
    term = F.floor(
        F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / F.col("__n").cast("double")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    agg = per.select("__n", "__s", "__ss", term.alias("__term")).agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n"),
        F.sum("__s").alias("__st"),
        F.sum("__ss").alias("__sst"),
        F.sum("__term").alias("__terms"),
    )
    k = F.col("k").cast("double")
    n = F.col("n").cast("double")
    st = F.col("__st").cast("double")
    sst = F.col("__sst").cast("double")
    terms = F.col("__terms").cast("double") / F.lit(1e6)
    s2 = F.lit(float(s * s))
    ssb = (terms - st * st / n) / s2
    ssw = (sst - terms) / s2
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    eta = ssb / (ssb + ssw)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("k") >= 2) & (n > k) & (ssw > 0)
    return agg.select(
        "k",
        "n",
        q6(ssb).alias("ss_between"),
        q6(ssw).alias("ss_within"),
        F.when(ok, q6(f_stat)).alias("f_stat"),
        F.when(ssb + ssw > 0, q6(eta)).alias("eta_sq"),
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 20,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a [0, 1] score
    against binary outcomes — the non-parametric recalibration step
    (Zadrozny & Elkan '02) used where Platt scaling's sigmoid is too
    rigid; the fitted value per bin is the pool-adjacent-violators
    solution.

    PAV without a sequential driver loop: the corpus collapses to
    ``n_bins`` equal-width score bins (same binning as
    :func:`calibration_report`) in one combinable groupBy, then the
    closed-form minimax identity ``fit_i = max_{j<=i} min_{k>=j}
    mean(pos_j..k / n_j..k)`` runs on the bin-sized table: prefix sums
    via one window, an O(B^2) bin-pair join (B*(B+1)/2 rows — trivial
    for any sane B), a per-j min, and a running max. Segment means are
    single double divisions of exact integer prefix sums — identical
    in any engine, so min/max comparisons are deterministic.

    Returns one row per NON-EMPTY bin: ``(bin, n, pos, rate, fit)``
    with rate/fit floor-quantized to 6; ``fit`` is non-decreasing in
    ``bin`` by construction.
    """
    if n_bins < 1:
        raise ValueError("isotonic_calibration: n_bins must be >= 1")
    sc = F.col(score_col).cast("double")
    staged = df.select(
        F.least(
            F.floor(sc * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("bin"),
        (F.col(label_col).cast("double") > 0).cast("bigint").alias("__y"),
    ).where(sc.isNotNull() & F.col(label_col).isNotNull())
    per = staged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__y").cast("bigint").alias("pos"),
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = per.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(wcum).alias("__cn"),
        F.sum("pos").over(wcum).alias("__cp"),
    )
    lo = pre.select(
        F.col("bin").alias("__j"),
        (F.col("__cn") - F.col("n")).alias("__cn0"),
        (F.col("__cp") - F.col("pos")).alias("__cp0"),
    )
    hi = pre.select(
        F.col("bin").alias("__k"),
        F.col("__cn").alias("__cn1"),
        F.col("__cp").alias("__cp1"),
    )
    seg_mean = (F.col("__cp1") - F.col("__cp0")).cast("double") / (
        F.col("__cn1") - F.col("__cn0")
    ).cast("double")
    m_j = (
        lo.join(hi, F.col("__k") >= F.col("__j"))
        .groupBy("__j")
        .agg(F.min(seg_mean).alias("__m"))
    )
    wmax = Window.orderBy("__j").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    fit = m_j.select(
        F.col("__j").alias("bin"), F.max("__m").over(wmax).alias("__fit")
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return per.join(fit, "bin").select(
        "bin",
        "n",
        "pos",
        q6(F.col("pos").cast("double") / F.col("n").cast("double")).alias(
            "rate"
        ),
        q6(F.col("__fit")).alias("fit"),
    )


def cohen_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two categorical
    labelings of the same units — the standard inter-annotator (or
    model-vs-heuristic) agreement readout an LLM-eval pipeline needs
    before trusting a cheap auto-rater against a gold rater.

    Exact integer form: with n units, ``agree`` the count of matching
    pairs, and per-category marginals ``na_k`` / ``nb_k``,
    ``kappa = (n·agree - Σ_k na_k·nb_k) / (n² - Σ_k na_k·nb_k)`` —
    every term an order-free integer sum (marginal products ride
    decimal(38,0)), ONE double division at read-out. NULL kappa when
    the denominator is 0 (both raters constant).

    Returns one row ``(n, agree, po, pe, kappa)`` — po/pe/kappa
    floor-quantized to 6.

    Scale shape: one corpus scan -> two combinable groupBys (pair
    agreement count + per-rater marginals on category-sized tables),
    one category-keyed inner join of the two marginal tables.
    """
    base = df.where(
        F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
    ).select(
        F.col(rater_a_col).cast("string").alias("__a"),
        F.col(rater_b_col).cast("string").alias("__b"),
    )
    counts = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(
            F.sum((F.col("__a") == F.col("__b")).cast("bigint")), F.lit(0)
        )
        .cast("bigint")
        .alias("agree"),
    )
    ma = base.groupBy(F.col("__a").alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__na")
    )
    mb = base.groupBy(F.col("__b").alias("__k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nb")
    )
    cross = ma.join(mb, "__k").agg(
        F.coalesce(
            F.sum(
                F.col("__na").cast("decimal(38,0)")
                * F.col("__nb").cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__pe_num")
    )
    agg = counts.crossJoin(F.broadcast(cross))
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pe = F.col("__pe_num").cast("double") / (n * n)
    num = n * F.col("agree").cast("double") - F.col("__pe_num").cast("double")
    den = n * n - F.col("__pe_num").cast("double")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n",
        "agree",
        F.when(F.col("n") > 0, q6(po)).alias("po"),
        F.when(F.col("n") > 0, q6(pe)).alias("pe"),
        F.when(den > 0, q6(num / den)).alias("kappa"),
    )


def js_divergence(
    df: DataFrame,
    value_col: str,
    split_col: str,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Jensen-Shannon divergence between the ``value_col`` distributions
    of the two sides of boolean ``split_col`` — the bounded, symmetric
    sibling of the PSI/KS drift monitors (JSD is always in [0, ln 2],
    defined even where a bin is empty on one side, where PSI blows up).

    Equal-width binning on [lo, hi) with clamped edges (same contract
    as calibration_report); per-bin probabilities p_i / q_i; ``JSD =
    ½·Σ p_i·ln(p_i/m_i) + ½·Σ q_i·ln(q_i/m_i)`` with ``m = (p+q)/2``
    and 0·ln(0/x) = 0. Each bin's contribution is floor-quantized to
    1e-9 BEFORE the cross-bin sum (the order-free multi-term float
    contract this module uses everywhere), so the readout is
    bit-stable under any partitioning and engine.

    Returns one row per bin plus the readout columns repeated:
    ``(bin, n_a, n_b, p_a, p_b, jsd)`` — jsd identical on every row
    (window total), p/jsd floor-quantized to 6.

    Scale shape: one corpus scan -> one combinable bin-keyed groupBy
    (n_bins keys), window total over the bin-sized table.
    """
    if n_bins < 1:
        raise ValueError("js_divergence: n_bins must be >= 1")
    x = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    b = F.least(
        F.greatest(
            F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    side = F.col(split_col).cast("boolean")
    per = (
        df.where(x.isNotNull() & side.isNotNull())
        .select(b.alias("bin"), side.cast("int").alias("__s"))
        .groupBy("bin")
        .agg(
            F.sum(F.lit(1) - F.col("__s")).cast("bigint").alias("n_a"),
            F.sum("__s").cast("bigint").alias("n_b"),
        )
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = per.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(tot).alias("__ta"),
        F.sum("n_b").over(tot).alias("__tb"),
    )
    # guarded divisions: a one-sided input (every row on one side of the
    # split) must yield NULL jsd, not an ANSI divide-by-zero
    p = F.when(
        F.col("__ta") > 0,
        F.col("n_a").cast("double") / F.col("__ta").cast("double"),
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("__tb") > 0,
        F.col("n_b").cast("double") / F.col("__tb").cast("double"),
    ).otherwise(F.lit(0.0))
    m = (p + q) / F.lit(2.0)
    term = (
        F.when((F.col("n_a") > 0) & (m > 0), p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.when((F.col("n_b") > 0) & (m > 0), q * F.log(q / m)).otherwise(
            F.lit(0.0)
        )
    ) / F.lit(2.0)
    qterm = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.select(
        "bin",
        "n_a",
        "n_b",
        F.when(F.col("__ta") > 0, q6(p)).alias("p_a"),
        F.when(F.col("__tb") > 0, q6(q)).alias("p_b"),
        F.when(
            (F.col("__ta") > 0) & (F.col("__tb") > 0),
            q6(F.sum(qterm).over(tot).cast("double") / F.lit(1e9)),
        ).alias("jsd"),
    )


def spearman_corr(
    df: DataFrame,
    a_col: str,
    b_col: str,
    scale: int = 6,
    n_rows: int | None = None,
) -> DataFrame:
    """Spearman rank correlation between two columns: Pearson on
    tie-averaged ranks — the monotonic-dependence readout that survives
    the heavy tails Pearson can't (revenue vs engagement metrics).

    Exact tie handling without a per-row window: each column collapses
    to its distinct-(quantized-)value table, average ranks come from a
    cumulative sum over that table (doubled so half-ranks stay
    integral, the mann_whitney_u device), and rows re-join their ranks
    through two value-keyed joins. All five sufficient statistics
    (Σ2ra, Σ2rb, Σ2ra·2rb, Σ(2ra)², Σ(2rb)²) ride decimal(38,0) —
    exact at any n — with ONE double readout: ``rho = (n·Σxy - Σx·Σy)
    / sqrt((n·Σxx - Σx²)(n·Σyy - Σy²))``.

    Returns one row ``(n, rho)``, rho floor-quantized to 6; NULL when
    either side is constant or n < 2.

    Scale shape: one scan -> two distinct-value groupBys + windows on
    value-sized tables, two value-keyed joins back, one aggregate.
    """
    s = 10 ** scale

    def _q(c: str):
        return F.floor(
            F.col(c).cast("double") * F.lit(float(s)) + F.lit(0.5)
        ).cast("bigint")

    base = df.where(
        F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    ).select(_q(a_col).alias("__va"), _q(b_col).alias("__vb"))

    from ..functions.prefix import exclusive_prefix_sums

    def _ranks(col: str):
        vals = base.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("__t")
        )
        # bucketed two-pass prefix sum (functions/prefix.py) — the
        # distinct-value table is ~n for continuous metrics, so no
        # single-task Window.orderBy sort over it
        # one caller hint covers BOTH rank tables: each distinct-value
        # table is bounded by the pair-row count (upper-bound routing)
        return exclusive_prefix_sums(
            vals, col, ["__t"], n_rows=n_rows
        ).select(
            col,
            (
                F.lit(2) * F.col("__t_xps") + F.col("__t") + F.lit(1)
            ).alias(f"__r{col[-1]}"),
        )

    ranked = base.join(_ranks("__va"), "__va").join(_ranks("__vb"), "__vb")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d("__ra")).alias("__sa"),
        F.sum(d("__rb")).alias("__sb"),
        F.sum(d("__ra") * d("__rb")).alias("__sab"),
        F.sum(d("__ra") * d("__ra")).alias("__saa"),
        F.sum(d("__rb") * d("__rb")).alias("__sbb"),
    )
    n = F.col("n").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    cov = n * F.col("__sab").cast("double") - sa * sb
    va = n * F.col("__saa").cast("double") - sa * sa
    vb = n * F.col("__sbb").cast("double") - sb * sb
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n",
        F.when(
            (F.col("n") >= 2) & (va > 0) & (vb > 0),
            q6(cov / F.sqrt(va * vb)),
        ).alias("rho"),
    )


def srm_check(
    df: DataFrame,
    variant_col: str,
    expected: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check: chi-square goodness-of-fit of the
    observed variant counts against the DESIGNED allocation — the
    first sanity gate on any A/B readout (a biased splitter invalidates
    ab_test_report/cuped before any effect math runs).

    ``expected`` maps variant value -> designed share (must sum to ~1).
    ``chi2 = Σ (obs_k - n·share_k)² / (n·share_k)``; each variant's
    term is floor-quantized to micro-units BEFORE the cross-variant
    sum (order-free, the module contract). Variants outside
    ``expected`` raise — a typo'd allocation silently passing is the
    failure mode this guard exists for.

    Returns one row per variant plus readout columns repeated:
    ``(variant, n_obs, n_expected, chi2, df)`` — chi2 quantized to 6,
    df = len(expected) - 1.

    Scale shape: one scan -> one variant-keyed combinable groupBy
    (variant-count keys), window total on the variant-sized table.
    """
    if not expected:
        raise ValueError("srm_check: expected allocation must be non-empty")
    per = (
        df.where(F.col(variant_col).isNotNull())
        .groupBy(F.col(variant_col).cast("string").alias("variant"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    return srm_readout(per, expected)


def srm_readout(counts: DataFrame, expected: dict) -> DataFrame:
    """:func:`srm_check` from a pre-aggregated ``(variant, n_obs)``
    table — the read-out half of a streaming allocation monitor:
    maintain counts with ``streaming.events.streaming_variant_counts``
    (one built-in streaming groupBy), snapshot, and read the chi-square
    out here. Identical math/quantization to ``srm_check``."""
    if not expected:
        raise ValueError("srm_check: expected allocation must be non-empty")
    tot_share = sum(expected.values())
    if abs(tot_share - 1.0) > 1e-9:
        raise ValueError(
            f"srm_check: expected shares sum to {tot_share!r}, not 1"
        )
    if any(v <= 0 for v in expected.values()):
        raise ValueError("srm_check: every expected share must be > 0")
    # Seed one zero row per DESIGNED variant: a variant that received no
    # traffic is the worst sample-ratio mismatch and must contribute its
    # full (0 - n·share)²/(n·share) term — without the seed it would
    # contribute nothing while df still assumed len(expected) variants.
    seed = local_frame(
        counts.sparkSession,
        [(str(k), 0) for k in sorted(expected, key=str)],
        "variant string, n_obs bigint",
    )
    per = (
        counts.select(
            F.col("variant").cast("string").alias("variant"),
            F.col("n_obs").cast("bigint").alias("n_obs"),
        )
        .unionByName(seed)
        .groupBy("variant")
        .agg(F.sum("n_obs").cast("bigint").alias("n_obs"))
    )
    share = F.create_map(
        *[
            x
            for k, v in sorted(expected.items())
            for x in (F.lit(str(k)), F.lit(float(v)))
        ]
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # unknown variant -> null share: fail loudly. The guard is FOLDED
    # into the retained share expression — a separate dropped guard
    # column would be pruned by the optimizer and never evaluate.
    share_checked = F.when(
        F.element_at(share, F.col("variant")).isNull(),
        F.raise_error(
            F.concat(
                F.lit("srm_check: variant not in expected allocation: "),
                F.col("variant"),
            )
        ).cast("double"),
    ).otherwise(F.element_at(share, F.col("variant")))
    staged = per.select(
        "variant",
        "n_obs",
        share_checked.alias("__share"),
        F.sum("n_obs").over(tot).alias("__n"),
    )
    exp = F.col("__n").cast("double") * F.col("__share")
    dev = F.col("n_obs").cast("double") - exp
    term = F.floor(dev * dev / exp * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.select(
        "variant",
        "n_obs",
        q6(exp).alias("n_expected"),
        q6(F.sum(term).over(tot).cast("double") / F.lit(1e6)).alias("chi2"),
        F.lit(len(expected) - 1).cast("int").alias("df"),
    )


def apply_isotonic(
    df: DataFrame,
    fit_rows,
    score_col: str,
    out_col: str = "calibrated",
    n_bins: int = 20,
) -> DataFrame:
    """Serve a fitted isotonic calibration: map scores through the
    per-bin step function :func:`isotonic_calibration` produced — the
    fit→serve pair of the calibration family (the kmeans→assign_clusters
    precedent). ``fit_rows`` is the collected fit table (rows or (bin,
    fit) pairs). Pure literal-map projection: shuffle-free, streams
    unchanged on a streaming DataFrame. Scores binned exactly like the
    fit (equal-width on [0, 1], clamped top bin); bins the fit never saw
    (empty during fitting) fall back to the nearest lower fitted bin's
    value — isotonic fits are non-decreasing, so that is the tightest
    lower bound — or the lowest fitted value below every fitted bin.
    """
    def _pair(r):
        # Row is a tuple subclass — prefer named access when available
        try:
            return int(r["bin"]), float(r["fit"])
        except (TypeError, KeyError, ValueError, IndexError):
            return int(r[0]), float(r[1])

    pairs = sorted(_pair(r) for r in fit_rows)
    if not pairs:
        raise ValueError("apply_isotonic: empty fit")
    # densify: every bin 0..n_bins-1 gets the nearest lower fitted value
    dense = []
    cur = pairs[0][1]
    it = dict(pairs)
    for b in range(n_bins):
        cur = it.get(b, cur)
        dense.append(cur)
    sc = F.col(score_col).cast("double")
    # clamp BOTH sides: a score < 0 would bin to -1 (element_at(lut, 0)
    # throws) and <= -1/n_bins would silently index from the END of the
    # LUT — lowest scores served the highest calibrated value.
    b = F.least(
        F.greatest(F.floor(sc * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    lut = F.array(*[F.lit(v) for v in dense])
    return df.withColumn(
        out_col, F.when(sc.isNotNull(), F.element_at(lut, b + 1))
    )


def stratified_effect(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    covariate_col: str,
    control,
    treatment,
    n_strata: int = 5,
    scale: int = 2,
) -> DataFrame:
    """Propensity-style stratified effect estimate: bucket units into
    ``n_strata`` covariate strata (type-1 empirical quantile bounds —
    data values at integer ranks, the engine's cross-engine-exact
    quantile contract), then report the treatment-control mean gap
    INSIDE each stratum — the standard subclassification fix when the
    covariate confounds a naive A/B readout (Cochran '68 five-strata
    rule). The overall adjusted effect is the stratum-weighted sum of
    the per-stratum diffs, which callers (and the oracle) reproduce
    from this table exactly because diffs are floor-quantized before
    weighting.

    Returns one row per stratum with BOTH variants present:
    ``(stratum, n_c, n_t, mean_c, mean_t, diff, weight)`` — means/diff
    floor-quantized to 6, weight = stratum share of all units, also
    quantized.

    Scale shape: one distinct-value cumulative table for the bounds
    (broadcast as literals), one conditional-sum groupBy over
    ``n_strata`` keys.
    """
    from biomedical_data_integration_spark.operators.profiling import (
        type1_boundaries,
    )

    if n_strata < 2:
        raise ValueError("stratified_effect: n_strata must be >= 2")
    s = 10 ** scale
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(covariate_col).isNotNull()
        & F.col(variant_col).isin(control, treatment)
    )
    brow = type1_boundaries(base, covariate_col, n_strata).collect()
    bounds = (
        [float(b) for b in brow[0]["__boundaries"] if b is not None]
        if brow
        else []
    )
    x = F.col(covariate_col).cast("double")
    stratum = F.lit(0)
    for b in bounds:
        stratum = stratum + (x >= F.lit(b)).cast("int")
    qv = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    is_t = F.col(variant_col) == F.lit(treatment)
    per = (
        base.select(
            stratum.alias("stratum"),
            is_t.cast("int").alias("__t"),
            qv.alias("__q"),
        )
        .groupBy("stratum")
        .agg(
            F.sum(F.lit(1) - F.col("__t")).cast("bigint").alias("n_c"),
            F.sum("__t").cast("bigint").alias("n_t"),
            F.sum(F.when(F.col("__t") == 0, F.col("__q")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("__sc"),
            F.sum(F.when(F.col("__t") == 1, F.col("__q")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("__st"),
        )
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mc = F.col("__sc").cast("double") / F.col("n_c") / F.lit(float(s))
    mt = F.col("__st").cast("double") / F.col("n_t") / F.lit(float(s))
    q6 = lambda x_: F.floor(x_ * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    both = (F.col("n_c") > 0) & (F.col("n_t") > 0)
    return (
        per.withColumn(
            "__all", F.sum(F.col("n_c") + F.col("n_t")).over(tot)
        )
        .where(both)
        .select(
            "stratum",
            "n_c",
            "n_t",
            q6(mc).alias("mean_c"),
            q6(mt).alias("mean_t"),
            q6(mt - mc).alias("diff"),
            q6(
                (F.col("n_c") + F.col("n_t")).cast("double")
                / F.col("__all").cast("double")
            ).alias("weight"),
        )
    )
