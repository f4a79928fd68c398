"""Schema matching (SURVEY §2.3/§2.4).

Every matcher scores candidate (source column, target column) pairs as a
DataFrame ``(source, target, similarity)``; the 1:1 API then runs a greedy
stable assignment on the driver (schema-level results are column-count
sized — driver data by construction, SURVEY §2.1 A1).

Registry mirrors ``schema_matching/one2one/matcher_factory.py:7-40``:

- ``jaccard_distance``    fully distributed value-overlap Jaccard with
                          Levenshtein-tolerant equality (``valentine.py:93-106``)
- ``distribution_based``  quantile-sketch EMD over numeric columns
                          (``valentine.py:75-90``, quantiles=256)
- ``name_similarity``     char-n-gram TF-IDF cosine over column names
- ``coma``                alias for the engine-native composite
                          (name similarity + value overlap); the reference's
                          COMA spawns a Java subprocess (``valentine.py:38-44``)
                          which is not portable — documented semantic delta
- ``cupid``               faithful TreeMatch (VLDB'01): tree nodes from
                          (nested) StructType, TF-IDF name lsim, type-compat
                          leaf ssim, bottom-up strong-link structural phase
                          with c_inc/c_dec reinforcement — all nine reference
                          parameters honored (``valentine.py:47-72``)
- ``similarity_flooding`` faithful Melnik PCG + inverse_average +
                          formula_c fixpoint (``valentine.py:31-35``)
- ``ct_learning``         column-embedding cosine (pluggable embedder;
                          deterministic hashing embedder by default)
- ``two_phase``           embedding top-k prune -> inner matcher refine
                          (``twophase.py:10-48``)
- ``max_val_sim``         embedding prune -> value-match rescoring
                          (``maxvalsim.py:11-82``)
- ``gpt``                 interface-only stub (``gpt.py:6-52``)
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple, Union

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.functions.strings import levenshtein_ratio
from biomedical_data_integration_spark.functions.vectors import cosine
from biomedical_data_integration_spark.operators.value_matching import (
    NUMERIC_TYPES,
    TfIdfValueMatcher,
    match_values_pipeline,
)
from biomedical_data_integration_spark.session import local_frame

SCORES_SCHEMA = "source string, target string, similarity double"


def _string_columns(df: DataFrame) -> List[str]:
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]


def _numeric_columns(df: DataFrame) -> List[str]:
    return [
        f.name for f in df.schema.fields if isinstance(f.dataType, NUMERIC_TYPES)
    ]


def _apply_allowed(scores: DataFrame, allowed_pairs: Optional[DataFrame]) -> DataFrame:
    if allowed_pairs is None:
        return scores
    return scores.join(
        F.broadcast(allowed_pairs.select("source", "target").distinct()),
        ["source", "target"],
    )


def _unpivot_strings(df: DataFrame, colname: str, valname: str) -> DataFrame:
    """(column, distinct trimmed value) long form of a table's string columns.

    Native ``unpivot`` (ONE Expand node over one scan) — a union of
    per-column selects is O(n_cols) plan branches each carrying the whole
    child plan, which at real vocabulary width (the 736-column GDC wide
    table) took minutes to optimize and OOM'd the driver on constraint
    inference.

    Standard-backed frames (``Standard.to_wide_df``) skip even the Expand:
    the vocabulary's native long form is read directly (~25x cheaper at
    GDC width — the wide table is a 736-column local relation whose every
    evaluation re-runs Arrow conversion)."""
    from biomedical_data_integration_spark.sources.standards import long_values_of

    long = long_values_of(df)
    if long is not None:
        return (
            long.select(
                F.col("column_name").alias(colname),
                F.trim(F.col("value")).alias(valname),
            )
            .distinct()
        )
    cols = _string_columns(df)
    if not cols:
        return local_frame(
            df.sparkSession, [], f"{colname} string, {valname} string"
        )
    return (
        df.select([F.col(c).cast("string").alias(c) for c in cols])
        .unpivot([], cols, colname, valname)
        .where(F.col(valname).isNotNull())
        .select(F.col(colname), F.trim(F.col(valname)).alias(valname))
        .distinct()
    )


class BaseSchemaMatcher:
    """Score all candidate column pairs (higher = more similar)."""

    name = "base"

    def scores(
        self,
        source: DataFrame,
        target: DataFrame,
        allowed_pairs: Optional[DataFrame] = None,
    ) -> DataFrame:
        raise NotImplementedError


def _py_name_sims(
    source_names: List[str], target_names: List[str]
) -> Dict[tuple, float]:
    """Char-n-gram TF-IDF cosine between every (source, target) name
    pair, driver-side — the shared linguistic kernel of the
    name-similarity and Cupid matchers. IDF fits on the union corpus
    (a name present on both sides counts once per side)."""
    import math

    from biomedical_data_integration_spark.functions.strings import (
        py_char_ngram_tf,
        py_clean_string,
    )

    s_tf = {c: py_char_ngram_tf(py_clean_string(c)) for c in source_names}
    t_tf = {c: py_char_ngram_tf(py_clean_string(c)) for c in target_names}
    docs = list(s_tf.values()) + list(t_tf.values())
    n_docs = float(len(docs))
    df_counts: Dict[str, int] = {}
    for tf in docs:
        for term in tf:
            df_counts[term] = df_counts.get(term, 0) + 1
    idf = {
        term: math.log((1.0 + n_docs) / (1.0 + df)) + 1.0
        for term, df in df_counts.items()
    }

    def weights(tf: Dict[str, float]) -> Dict[str, float]:
        w = {term: f * idf[term] for term, f in tf.items()}
        norm = math.sqrt(sum(v * v for v in w.values()))
        return {term: v / norm for term, v in w.items()} if norm else {}

    s_w = {c: weights(tf) for c, tf in s_tf.items()}
    t_w = {c: weights(tf) for c, tf in t_tf.items()}
    return {
        (sc, tc): sum(
            w * wt[term] for term, w in ws.items() if term in wt
        )
        for sc, ws in s_w.items()
        for tc, wt in t_w.items()
    }


def _name_score_rows(
    source_names: List[str], target_names: List[str]
) -> List[Tuple[str, str, float]]:
    """The name-similarity score table's rows: rounded HALF_UP like
    ``F.round``; pairs sharing no terms produce no row."""
    from biomedical_data_integration_spark.functions.strings import (
        py_round_half_up,
    )

    return [
        (sc, tc, py_round_half_up(sim, config.SIMILARITY_SCALE))
        for (sc, tc), sim in _py_name_sims(source_names, target_names).items()
        if sim > 0.0
    ]


class NameSimilaritySchemaMatcher(BaseSchemaMatcher):
    """Char-n-gram TF-IDF cosine over column *names*.

    Same scoring math as the value tfidf kernel (char n-grams (1,3) of the
    cleaned name, smooth idf over the union corpus, L2 cosine), but
    computed on the DRIVER: column names are schema-sized metadata that
    already lives on the driver (``df.columns``), so a distributed kernel
    would scan zero data and pay ~7 shuffle/broadcast rounds of pure
    scheduling overhead. Schema-level ops run driver-side by construction
    (SURVEY §2.3), exactly like the reference (linguistic matching in
    ``valentine.py:47-72`` is in-process).
    """

    name = "name_similarity"

    def scores(self, source, target, allowed_pairs=None):
        rows = _name_score_rows(source.columns, target.columns)
        scores = local_frame(source.sparkSession, rows, SCORES_SCHEMA)
        return _apply_allowed(scores, allowed_pairs)


_TYPE_CATEGORY = {
    "byte": "num", "short": "num", "int": "num", "integer": "num",
    "long": "num", "bigint": "num", "float": "num", "double": "num",
    "string": "str", "varchar": "str", "char": "str",
    "date": "time", "timestamp": "time", "timestamp_ntz": "time",
    "boolean": "bool", "binary": "bin",
}


def _type_compat(a: str, b: str) -> float:
    """Cupid's leaf data-type compatibility — the ssim INITIALIZATION,
    deliberately ≤ 0.5 (the paper's compatibility table tops out at
    0.5) so the structural phase has headroom to raise it via c_inc:
    0.5 same type, 0.25 same category (both numeric / both temporal /
    ...), 0 incompatible. Decimals fold into the numeric category."""
    ca = "num" if a.startswith("decimal") else _TYPE_CATEGORY.get(a)
    cb = "num" if b.startswith("decimal") else _TYPE_CATEGORY.get(b)
    if a == b:
        return 0.5
    if ca is not None and ca == cb:
        return 0.25
    return 0.0


def _schema_tree(schema):
    """Flatten a (possibly nested) StructType into Cupid's tree nodes:
    one dict per node with dotted ``path``, last-segment ``name``,
    ``dtype`` (simpleString; leaves only), ``leaves`` (the set of leaf
    paths under it; singleton for leaves) and ``depth``. Structs (and
    array-of-struct elements) are inner nodes; everything else is a
    leaf. Returns (inner_nodes, leaf_nodes)."""
    from pyspark.sql.types import ArrayType, StructType

    inners, leaves = [], []

    def walk(struct, prefix, depth):
        node_leaves = set()
        for f in struct.fields:
            path = f"{prefix}.{f.name}" if prefix else f.name
            dt = f.dataType
            if isinstance(dt, ArrayType) and isinstance(
                dt.elementType, StructType
            ):
                dt = dt.elementType
            if isinstance(dt, StructType):
                sub = walk(dt, path, depth + 1)
                inners.append(
                    {"path": path, "name": f.name, "leaves": sub,
                     "depth": depth + 1}
                )
                node_leaves |= sub
            else:
                leaves.append(
                    {"path": path, "name": f.name,
                     "dtype": f.dataType.simpleString(), "depth": depth + 1}
                )
                node_leaves.add(path)
        return node_leaves

    root_leaves = walk(schema, "", 0)
    inners.append(
        {"path": "", "name": "", "leaves": root_leaves, "depth": 0}
    )
    return inners, leaves


class CupidSchemaMatcher(BaseSchemaMatcher):
    """Cupid (Madhavan/Bernstein/Rahm, VLDB'01) over (possibly nested)
    Spark schemas — the structural phase the alias to name-similarity
    lacked (round-7 verdict item 8; the reference delegates to
    Valentine's Cupid with these nine parameters,
    ``bdikit/schema_matching/one2one/valentine.py:47-72``).

    TreeMatch, driver-side (schemas are metadata; same locality
    argument as name_similarity): nested structs (and array-of-struct
    elements) are inner nodes, primitive fields are leaves with dotted
    paths. Leaf linguistic similarity is the engine's char-n-gram
    TF-IDF name cosine; leaf structural similarity initializes to the
    paper's data-type compatibility (0.5 same type / 0.25 same
    category — ≤ 0.5 so c_inc has headroom). Inner pairs evaluate
    bottom-up (deepest first): ``ssim = strongly-linked leaves / total
    leaves`` where a leaf pair links strongly iff ``wsim > th_accept``
    and its name similarity clears ``th_ns`` (name-dissimilar leaves
    never anchor structure); the mutual reinforcement adjusts the leaf
    ssims underneath — ``×c_inc`` (capped 1.0) when the paper's inner
    blend ``w_struct·ssim + (1-w_struct)·lsim`` OR the raw ssim clears
    ``th_high``, ``×c_dec`` when BOTH fall below ``th_low`` (the raw
    ssim escape keeps c_inc reachable exactly when ancestors are
    renamed, and the AND protects renamed-but-structurally-identical
    subtrees — see the inline note; this is where ``w_struct``
    acts). The emitted table is every leaf pair's FINAL
    ``wsim = leaf_w_struct·ssim + (1-leaf_w_struct)·lsim`` (> 0),
    so flat schemas still rank by names but modulated by type
    compatibility, and nested schemas let sibling context break name
    ties (tested on a hierarchical fixture).
    """

    name = "cupid"

    def __init__(
        self,
        leaf_w_struct: float = 0.2,
        w_struct: float = 0.2,
        th_accept: float = 0.7,
        th_high: float = 0.6,
        th_low: float = 0.35,
        c_inc: float = 1.2,
        c_dec: float = 0.9,
        th_ns: float = 0.7,
    ):
        self.leaf_w_struct = leaf_w_struct
        self.w_struct = w_struct
        self.th_accept = th_accept
        self.th_high = th_high
        self.th_low = th_low
        self.c_inc = c_inc
        self.c_dec = c_dec
        self.th_ns = th_ns

    def scores(self, source, target, allowed_pairs=None):
        from biomedical_data_integration_spark.functions.strings import (
            py_round_half_up,
        )

        spark = source.sparkSession
        s_inner, s_leaves = _schema_tree(source.schema)
        t_inner, t_leaves = _schema_tree(target.schema)
        # linguistic kernel over node NAMES (leaf and inner alike)
        lsim_by_name = _py_name_sims(
            sorted({n["name"] for n in s_inner + s_leaves}),
            sorted({n["name"] for n in t_inner + t_leaves}),
        )
        lname = {n["path"]: n["name"] for n in s_inner + s_leaves}
        rname = {n["path"]: n["name"] for n in t_inner + t_leaves}

        def lsim(sp, tp):
            return lsim_by_name.get((lname[sp], rname[tp]), 0.0)

        sdt = {n["path"]: n["dtype"] for n in s_leaves}
        tdt = {n["path"]: n["dtype"] for n in t_leaves}
        ssim = {
            (sl["path"], tl["path"]): _type_compat(
                sdt[sl["path"]], tdt[tl["path"]]
            )
            for sl in s_leaves
            for tl in t_leaves
        }

        def leaf_wsim(sp, tp):
            return (
                self.leaf_w_struct * ssim[(sp, tp)]
                + (1.0 - self.leaf_w_struct) * lsim(sp, tp)
            )

        # bottom-up over inner pairs: deepest first so reinforcement
        # from subtrees is visible to their ancestors
        pairs = sorted(
            ((si, ti) for si in s_inner for ti in t_inner),
            key=lambda p: -(p[0]["depth"] + p[1]["depth"]),
        )
        for si, ti in pairs:
            sl, tl = si["leaves"], ti["leaves"]
            if not sl or not tl:
                continue
            strong_s = sum(
                1
                for a in sl
                if any(
                    leaf_wsim(a, b) > self.th_accept
                    and lsim(a, b) >= self.th_ns
                    for b in tl
                )
            )
            strong_t = sum(
                1
                for b in tl
                if any(
                    leaf_wsim(a, b) > self.th_accept
                    and lsim(a, b) >= self.th_ns
                    for a in sl
                )
            )
            s_sim = (strong_s + strong_t) / float(len(sl) + len(tl))
            # Inner-pair wsim per the paper: w_struct·ssim +
            # (1-w_struct)·lsim of the inner NODE names — this is
            # where w_struct acts (leaf blending uses leaf_w_struct).
            # Reinforcement fires on EITHER the blend clearing
            # th_high (the paper's rule: name-similar ancestors
            # amplify moderate structural evidence) OR the raw
            # structural evidence alone (without this escape, a
            # RENAMED ancestor — lsim 0, the case the tree phase
            # exists to solve — caps the blend at w_struct < th_high
            # and c_inc becomes unreachable). Symmetrically c_dec
            # needs BOTH readings below th_low, so a renamed-but-
            # structurally-identical subtree is never penalized.
            inner_wsim = (
                self.w_struct * s_sim
                + (1.0 - self.w_struct) * lsim(si["path"], ti["path"])
            )
            factor = None
            if s_sim > self.th_high or inner_wsim > self.th_high:
                factor = self.c_inc
            elif s_sim < self.th_low and inner_wsim < self.th_low:
                factor = self.c_dec
            if factor is not None:
                for a in sl:
                    for b in tl:
                        ssim[(a, b)] = min(1.0, ssim[(a, b)] * factor)
        rows = [
            (sp, tp, py_round_half_up(w, config.SIMILARITY_SCALE))
            for (sp, tp) in ssim
            for w in (leaf_wsim(sp, tp),)
            if w > 0.0
        ]
        scores = local_frame(spark, rows, SCORES_SCHEMA)
        return _apply_allowed(scores, allowed_pairs)


class JaccardSchemaMatcher(BaseSchemaMatcher):
    """Value-overlap Jaccard with Levenshtein-tolerant equality — fully
    distributed (SURVEY §2.3): explode (column, distinct value) on both
    sides, fuzzy equi-join, per-pair intersection / union counts.

    ``threshold_levenshtein`` is the similarity two values must reach to
    count as equal (reference ``threshold_dist=0.8``, ``valentine.py:96``).
    With threshold 1.0 the join is a plain equi-join (the scale fast path);
    below 1.0 a length-band pregate bounds the theta-join fanout.
    """

    name = "jaccard_distance"

    def __init__(self, threshold_levenshtein: float = 0.8):
        self.threshold = threshold_levenshtein

    def scores(self, source, target, allowed_pairs=None):
        # each side feeds both the fuzzy join and its own size aggregation;
        # EAGER pin so the unpivot+distinct scan runs once per side — a
        # lazy persist lets the join-side and size-agg stages race into a
        # cold cache and each recompute the scan (round-13 profile: the
        # Jaccard matcher was 3.8 s warm on the 2-column GDC match, the
        # composite matcher's dominant cost)
        s = _unpivot_strings(source, "source", "sval").localCheckpoint(
            eager=True
        )
        t = _unpivot_strings(target, "target", "tval").localCheckpoint(
            eager=True
        )

        if self.threshold >= 1.0:
            joined = s.join(t, F.col("sval") == F.col("tval"))
        else:
            band = (1.0 - self.threshold) * F.greatest(
                F.length("sval"), F.length("tval")
            )
            joined = s.join(
                t,
                (F.abs(F.length("sval") - F.length("tval")) <= band)
                & (levenshtein_ratio(F.col("sval"), F.col("tval")) >= self.threshold),
            )

        inter = joined.groupBy("source", "target").agg(
            F.countDistinct("sval").alias("inter")
        )
        ns = s.groupBy("source").agg(F.count("*").alias("ns"))
        nt = t.groupBy("target").agg(F.count("*").alias("nt"))
        scores = (
            inter.join(F.broadcast(ns), "source")
            .join(F.broadcast(nt), "target")
            .select(
                "source",
                "target",
                F.round(
                    F.col("inter") / (F.col("ns") + F.col("nt") - F.col("inter")),
                    config.SIMILARITY_SCALE,
                ).alias("similarity"),
            )
        )
        return _apply_allowed(scores, allowed_pairs)


class DistributionBasedSchemaMatcher(BaseSchemaMatcher):
    """Numeric-column matching by value-distribution distance
    (``valentine.py:75-90``; Zhang SIGMOD'11 idea, simplified).

    Per column: a ``quantiles``-point exact percentile sketch, min-max
    normalized; pair distance = mean absolute difference between aligned
    sketches (a 1-D EMD on the quantile grid); similarity = 1 / (1 + EMD).

    ``exact=True`` computes true interpolated quantiles over the full
    domain. ``exact=False`` is the 100 TB path: a DETERMINISTIC hash
    sample of ~``sample_k`` distinct values per column (keep a value when
    its salted md5 mod 1e6 clears a threshold derived from the column's
    distinct count), then the same weighted-quantile machinery over the
    bounded sample — a Horvitz-Thompson-style estimate of the weighted
    CDF. Unlike ``approx_percentile``'s t-digest, the sample is a pure
    function of the values, so results are identical across runs,
    partitionings, and engines — the SQL oracle replays it exactly.
    Values are keyed for hashing by ``%.9e`` C-format (identical in
    Java's format_string and DuckDB's printf).
    """

    name = "distribution_based"

    #: range buckets for the two-phase cumulative sum (parallelism of the
    #: exact-quantile sort = n_cols × this)
    _CUM_BUCKETS = 32
    #: hash-gate denominator for the exact=False sampler
    _SAMPLE_DEN = 1_000_000

    def __init__(
        self, quantiles: int = 256, exact: bool = True, sample_k: int = 8192
    ):
        self.quantiles = quantiles
        self.exact = exact
        self.sample_k = sample_k

    def _sketch(self, df: DataFrame, colname: str) -> DataFrame:
        from biomedical_data_integration_spark.functions.hashing import (
            md5_bigint,
        )

        cols = _numeric_columns(df)
        spark = df.sparkSession
        if not cols:
            return local_frame(
                spark, [], f"{colname} string, qs array<double>"
            )

        # one scan for every numeric column (unpivot), not one scan per column
        long_df = (
            df.select([F.col(c).cast("double").alias(c) for c in cols])
            .unpivot([], cols, "c", "v")
            .where(F.col("v").isNotNull())
        )

        # Distributed exact interpolated quantiles (identical to
        # ``percentile``/``quantile_cont`` but scalable): dedup values
        # with frequencies (map-side combinable — the shuffle carries
        # distinct values, not rows), cumulative weights per column
        # (external-sort window, spills instead of buffering the whole
        # column like the percentile aggregate does), then a broadcast
        # probe of the n_cols × quantiles needed ranks with linear
        # interpolation. ~2× faster than the percentile aggregate at
        # sf0.1 and the gap grows with rows-per-distinct-value.
        # dd feeds both the cumulative window and the counts broadcast;
        # persist so the full-table unpivot + dedup shuffle runs once
        dd = long_df.groupBy("c", "v").agg(F.count("*").alias("f"))
        if not self.exact:
            # deterministic sampler: integer threshold arithmetic (DIV)
            # so Spark and the oracle floor identically; expected
            # sample_k survivors per column, every survivor a pure
            # function of its value bytes.
            #
            # Why the gate sits AFTER the (c, v) groupBy and not on the
            # raw rows (round-9 verdict, cost-table note): the threshold
            # is ceil(DEN*K/ndv) — it needs the column's EXACT distinct
            # count — and a survivor's Horvitz-Thompson weight is its
            # exact full-data frequency f, so the frequency aggregation
            # over all rows is semantically required either way. The
            # groupBy shuffle carries only distinct values (map-side
            # combined); what the sampler then saves is everything
            # downstream — the split sketch, the bucketed cumsum windows,
            # and the rank probe all run on ~sample_k rows per column
            # instead of the full domain. A raw-row pre-gate would need a
            # row-count-based threshold (ceil(DEN*K/n_rows)), which
            # under-samples duplicated columns and changes the sketch —
            # a different estimator, not an optimization of this one.
            K, DEN = int(self.sample_k), self._SAMPLE_DEN
            nd = dd.groupBy("c").agg(F.count("*").alias("__ndv"))
            thr = F.least(
                F.lit(DEN).cast("bigint"),
                F.expr(f"({DEN} * {K} + __ndv - 1) DIV __ndv"),
            )
            dd = (
                dd.join(F.broadcast(nd), "c")
                .where(
                    md5_bigint(
                        F.format_string("%.9e", F.col("v")), salt="dq"
                    )
                    % DEN
                    < thr
                )
                .drop("__ndv")
            )
        # EAGER pin, not a lazy persist: dd feeds the splits
        # (percentile_approx), bucket-offset, counts and rank-probe
        # subtrees, and AQE submits those independent query stages
        # concurrently — racing into a cold cache, each recomputed the
        # full unpivot + frequency groupBy itself (measured round 13:
        # five concurrent ~2.3 s jobs on the exact face, eight ~4.8 s
        # on the approx face at sf0.1). One eager materialization turns
        # that into one job + cached reads.
        dd = dd.localCheckpoint(eager=True)

        # Two-phase bucketed prefix sum. A plain
        # Window.partitionBy("c").orderBy("v") cumulative sum sorts ALL
        # of a column's distinct values in ONE task (parallelism =
        # n_cols — unbounded task size on a cluster). Instead: split
        # each column's value range into ``_CUM_BUCKETS`` approx-equal-
        # frequency ranges, cumsum bucket totals (tiny: n_cols×B rows),
        # then an in-bucket window + broadcast bucket offset. Same
        # numbers, parallelism = n_cols × B, per-task sort is 1/B of
        # the domain.
        B = self._CUM_BUCKETS
        splits = dd.groupBy("c").agg(
            F.percentile_approx(
                "v", F.lit([i / B for i in range(1, B)]), F.lit(1000)
            ).alias("sp")
        )
        # bucket = #splits strictly below v: equal values always share
        # a bucket, so every v' < v is in this bucket or an earlier one
        dbk = (
            dd.join(F.broadcast(splits), "c")
            .withColumn(
                "bk", F.size(F.filter("sp", lambda s: s < F.col("v")))
            )
            .drop("sp")
        )
        wb = Window.partitionBy("c").orderBy("bk")
        boff = (
            dbk.groupBy("c", "bk")
            .agg(F.sum("f").alias("bf"))
            .select(
                "c", "bk",
                (
                    F.sum("bf").over(
                        wb.rowsBetween(
                            Window.unboundedPreceding, Window.currentRow
                        )
                    )
                    - F.col("bf")
                ).alias("off"),
            )
        )
        wv = Window.partitionBy("c", "bk").orderBy("v")
        cum = dbk.join(F.broadcast(boff), ["c", "bk"]).select(
            "c", "v", "f",
            (
                F.sum("f").over(
                    wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                + F.col("off")
            ).alias("cum"),
        )
        counts = dd.groupBy("c").agg(F.sum("f").alias("n"))
        # Value at row-rank r is the v whose rank span [cum-f, cum-1]
        # contains r; quantile q = v_lo + (v_hi - v_lo) * frac_part
        # where pos = frac·(n-1), lo = floor(pos), hi = ceil(pos).
        #
        # Probing the ~n_cols·quantiles needed ranks against cum via a
        # theta join is a broadcast nested loop — O(|cum| · needs)
        # comparisons (~10⁹ at sf0.1, worse at scale). Instead each cum
        # row *generates* the small contiguous range of quantile
        # indices whose pos could fall in its rank span (pure
        # arithmetic inversion, ±1 margin for double drift), explodes
        # it (≈(f+1)·Q/n + 4 candidates per row), and an exact filter
        # re-applies the original floor/ceil predicates — bit-identical
        # results, no nested loop, fully parallel.
        Q = self.quantiles
        n_, cum_, f_ = F.col("n"), F.col("cum"), F.col("f")
        # clamped denominator: the n==1 branch below supersedes, this
        # just keeps the arithmetic finite (ANSI-safe) on that branch
        den = F.greatest(n_ - 1, F.lit(1))
        lo_start = F.floor((cum_ - f_ - 1) * (Q - 1) / den) - 1
        hi_end = F.ceil(cum_ * (Q - 1) / den) + 1
        cand = F.when(
            n_ == 1, F.sequence(F.lit(0), F.lit(Q - 1))
        ).otherwise(
            F.sequence(
                F.greatest(lo_start, F.lit(0)).cast("int"),
                F.least(hi_end, F.lit(Q - 1)).cast("int"),
            )
        )
        probes = (
            cum.join(F.broadcast(counts), "c")
            .where(
                (n_ == 1)
                | (F.greatest(lo_start, F.lit(0)) <= F.least(hi_end, F.lit(Q - 1)))
            )
            .select("c", "v", "f", "cum", "n", F.explode(cand).alias("qi"))
            .withColumn("pos", F.col("qi").cast("double") / (Q - 1) * (n_ - 1))
            .withColumn("lo", F.floor("pos").cast("long"))
            .withColumn("hi", F.ceil("pos").cast("long"))
            .withColumn(
                "serves_lo",
                (cum_ - f_ <= F.col("lo")) & (F.col("lo") <= cum_ - 1),
            )
            .withColumn(
                "serves_hi",
                (cum_ - f_ <= F.col("hi")) & (F.col("hi") <= cum_ - 1),
            )
            .where(F.col("serves_lo") | F.col("serves_hi"))
        )
        sk = (
            probes.groupBy("c", "qi")
            .agg(
                F.max(F.when(F.col("serves_lo"), F.col("v"))).alias("v_lo"),
                F.max(F.when(F.col("serves_hi"), F.col("v"))).alias("v_hi"),
                F.max(F.col("pos") - F.col("lo")).alias("fp"),
            )
            .select(
                "c", "qi",
                (
                    F.col("v_lo")
                    + (F.col("v_hi") - F.col("v_lo")) * F.col("fp")
                ).alias("q"),
            )
            .groupBy("c")
            .agg(F.array_sort(F.collect_list(F.struct("qi", "q"))).alias("s"))
            .select("c", F.transform("s", lambda x: x["q"]).alias("qs"))
        )

        sk = sk.withColumnRenamed("c", colname)
        lo = F.array_min("qs")
        hi = F.array_max("qs")
        return sk.select(
            colname,
            F.when(hi == lo, F.transform("qs", lambda _: F.lit(0.0)))
            .otherwise(F.transform("qs", lambda q: (q - lo) / (hi - lo)))
            .alias("qs"),
        )

    def scores(self, source, target, allowed_pairs=None):
        s = self._sketch(source, "source").withColumnRenamed("qs", "qs_s")
        t = self._sketch(target, "target").withColumnRenamed("qs", "qs_t")
        emd = F.aggregate(
            F.zip_with("qs_s", "qs_t", lambda a, b: F.abs(a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) / F.size("qs_s")
        # broadcast nested-loop, NOT CartesianProduct: both sides are
        # column-count-sized, and CartesianProductExec carries a large
        # fixed setup cost (~10 s measured even for a 1-task 66-row
        # product) that BroadcastNestedLoopJoin doesn't
        scores = s.join(F.broadcast(t)).select(
            "source",
            "target",
            F.round(1.0 / (1.0 + emd), config.SIMILARITY_SCALE).alias("similarity"),
        )
        return _apply_allowed(scores, allowed_pairs)


class CompositeSchemaMatcher(BaseSchemaMatcher):
    """Engine-native default ('coma' alias): a deterministic multi-evidence
    ensemble in the spirit of COMA's multi-matcher combination (Do & Rahm
    VLDB'02) without the Java subprocess.

    score = 0.5 * name TF-IDF cosine
          + 0.5 * value evidence (exact-equality Jaccard for string-string
            pairs, distribution similarity for numeric-numeric pairs, 0 for
            mixed-type pairs).

    Against a Standard the same scores are computed on the driver
    (:meth:`_standard_rows`) and returned as a local frame; any other
    target runs the distributed kernels.
    """

    name = "coma"

    def __init__(self, name_weight: float = 0.5):
        self.name_weight = name_weight

    def _standard_rows(self, source, target, std) -> list:
        """The score table's rows against a Standard-backed target,
        finished on the driver.

        Every input the score needs is vocabulary-bounded whatever the
        source's size: name scores come from column names, ``nt`` from
        the vocabulary (Python data), and per source column only its
        distinct-value count ``ns`` and the values that hit the
        vocabulary. One Spark read computes those two; no pins. A
        Standard's wide frame is all-string, so no pair carries
        distribution evidence. The arithmetic replays the distributed
        expressions below operation for operation: exact Jaccard over
        spaces-trimmed values, each evidence rounded HALF_UP, then the
        same weighted sum rounded again (:meth:`_distributed_scores`)."""
        from collections import Counter, defaultdict

        from biomedical_data_integration_spark.functions.strings import (
            py_round_half_up,
        )

        # inverted index: trimmed value -> target columns holding it
        holders: Dict[str, list] = defaultdict(list)
        nt: Dict[str, int] = {}
        for tc, values in std.get_column_values(std.get_columns()).items():
            domain = {v.strip(" ") for v in values if v is not None}
            nt[tc] = len(domain)
            for v in domain:
                holders[v].append(tc)
        vocab = local_frame(
            source.sparkSession, [(v,) for v in holders], "vocab string"
        )
        per_column = (
            _unpivot_strings(source, "source", "sval")
            .join(F.broadcast(vocab), F.col("sval") == F.col("vocab"), "left")
            .groupBy("source")
            .agg(F.count("*").alias("ns"), F.collect_list("vocab").alias("hits"))
            .collect()
        )
        scale = config.SIMILARITY_SCALE
        value = {}
        for r in per_column:
            inter = Counter(tc for v in r["hits"] for tc in holders[v])
            for tc, n in inter.items():
                value[(r["source"], tc)] = py_round_half_up(
                    n / (r["ns"] + nt[tc] - n), scale
                )
        names = {
            (sc, tc): sim
            for sc, tc, sim in _name_score_rows(source.columns, target.columns)
        }
        nw, vw = self.name_weight, 1.0 - self.name_weight
        rows = []
        for pair in sorted(names.keys() | value.keys()):
            sim = nw * names.get(pair, 0.0) + vw * value.get(pair, 0.0)
            rows.append((*pair, py_round_half_up(sim, scale)))
        return rows

    def _distributed_scores(self, source, target) -> DataFrame:
        """The score table from the distributed kernels."""
        nw, vw = self.name_weight, 1.0 - self.name_weight
        names = NameSimilaritySchemaMatcher().scores(source, target)
        jac = JaccardSchemaMatcher(threshold_levenshtein=1.0).scores(source, target)
        dist = DistributionBasedSchemaMatcher().scores(source, target)
        value = jac.unionByName(dist)
        return (
            names.withColumnRenamed("similarity", "name_sim")
            .join(
                value.withColumnRenamed("similarity", "value_sim"),
                ["source", "target"],
                "outer",
            )
            .select(
                "source",
                "target",
                F.round(
                    nw * F.coalesce("name_sim", F.lit(0.0))
                    + vw * F.coalesce("value_sim", F.lit(0.0)),
                    config.SIMILARITY_SCALE,
                ).alias("similarity"),
            )
        )

    def scores(self, source, target, allowed_pairs=None):
        from biomedical_data_integration_spark.sources.standards import (
            standard_of,
        )

        std = standard_of(target)
        if std is None:
            scores = self._distributed_scores(source, target)
        else:
            rows = self._standard_rows(source, target, std)
            scores = local_frame(source.sparkSession, rows, SCORES_SCHEMA)
        return _apply_allowed(scores, allowed_pairs)


class SimilarityFloodingSchemaMatcher(BaseSchemaMatcher):
    """Similarity flooding with Melnik's faithful propagation machinery
    (Melnik/Garcia-Molina/Rahm, ICDE'02) — the reference wraps Valentine's
    implementation with ``coeff_policy='inverse_average'`` and
    ``formula='formula_c'`` (``valentine.py:31-35``); those are the
    defaults here too.

    Each table becomes a typed schema graph (``table --column--> col
    --type--> sqltype``); the pairwise connectivity graph (PCG) pairs
    nodes connected by same-label edges on both sides; propagation
    coefficients follow the *inverse average* policy (an l-labeled PCG
    edge leaving pair (x, y) weighs ``2 / (outdeg_l(x) + outdeg_l(y))``,
    its reverse edge uses the in-degrees); and the fixpoint iterates
    Melnik's formula C, ``sigma' = normalize(sigma0 + sigma +
    phi(sigma0 + sigma))``, until the residual Euclidean norm drops below
    ``eps`` or ``max_iterations`` passes. The initial map seeds
    column-name pairs with trigram Jaccard (type pairs with name
    equality) — the same role the string matcher plays in Valentine.

    Runs on the driver: the PCG is schema-sized (n_src x n_tgt column
    pairs plus a handful of type pairs) — distributing it would scan zero
    data. Accumulation iterates nodes in sorted order, so the floats are
    run-to-run identical.
    """

    name = "similarity_flooding"

    def __init__(
        self,
        max_iterations: int = 100,
        eps: float = 1e-6,
        coeff_policy: str = "inverse_average",
        formula: str = "formula_c",
    ):
        if coeff_policy not in ("inverse_average", "inverse_product"):
            raise ValueError(f"Unknown coeff_policy: {coeff_policy!r}")
        if formula not in ("formula_c", "basic"):
            raise ValueError(f"Unknown formula: {formula!r}")
        self.max_iterations = max_iterations
        self.eps = eps
        self.coeff_policy = coeff_policy
        self.formula = formula

    @staticmethod
    def _trigram_jaccard(a: str, b: str) -> float:
        def grams(s: str) -> set:
            s = s.lower()
            return {s[i : i + 3] for i in range(max(1, len(s) - 2))}
        ga, gb = grams(a), grams(b)
        if not ga or not gb:
            return 0.0
        return len(ga & gb) / len(ga | gb)

    @staticmethod
    def _schema_graph(df: DataFrame):
        """Typed schema graph: ('table', 'column', col) per column and
        (col, 'type', sqltype) per column. Node names: '__table__',
        'col:<name>', 'type:<simpleString>'."""
        edges = []
        for f in df.schema.fields:
            col = f"col:{f.name}"
            edges.append(("__table__", "column", col))
            edges.append((col, "type", f"type:{f.dataType.simpleString()}"))
        return edges

    def _sigma0(self, x: str, y: str) -> float:
        if x.startswith("col:") and y.startswith("col:"):
            return self._trigram_jaccard(x[4:], y[4:])
        if x.startswith("type:") and y.startswith("type:"):
            return 1.0 if x == y else self._trigram_jaccard(x[5:], y[5:])
        return 1.0  # the single table-table pair

    def _propagation_graph(self, ea, eb):
        """PCG + inverse-average (or inverse-product) coefficients.
        Returns {node: [(neighbor, weight), ...]} of INCOMING edges."""
        from collections import defaultdict

        outd_a, ind_a = defaultdict(int), defaultdict(int)
        outd_b, ind_b = defaultdict(int), defaultdict(int)
        for x1, l, x2 in ea:
            outd_a[(x1, l)] += 1
            ind_a[(x2, l)] += 1
        for y1, l, y2 in eb:
            outd_b[(y1, l)] += 1
            ind_b[(y2, l)] += 1

        incoming = defaultdict(list)
        nodes = set()
        for x1, l, x2 in ea:
            for y1, lb, y2 in eb:
                if l != lb:
                    continue
                p, q = (x1, y1), (x2, y2)
                nodes.add(p)
                nodes.add(q)
                if self.coeff_policy == "inverse_average":
                    w_fwd = 2.0 / (outd_a[(x1, l)] + outd_b[(y1, l)])
                    w_back = 2.0 / (ind_a[(x2, l)] + ind_b[(y2, l)])
                else:  # inverse_product
                    w_fwd = 1.0 / (outd_a[(x1, l)] * outd_b[(y1, l)])
                    w_back = 1.0 / (ind_a[(x2, l)] * ind_b[(y2, l)])
                incoming[q].append((p, w_fwd))
                incoming[p].append((q, w_back))
        return nodes, incoming

    def scores(self, source, target, allowed_pairs=None):
        import math

        spark = source.sparkSession
        ea, eb = self._schema_graph(source), self._schema_graph(target)
        nodes, incoming = self._propagation_graph(ea, eb)
        order = sorted(nodes)
        sigma0 = {p: self._sigma0(*p) for p in order}
        sigma = dict(sigma0)
        for _ in range(self.max_iterations):
            if self.formula == "formula_c":
                base = {p: sigma0[p] + sigma[p] for p in order}
            else:  # basic: sigma' = normalize(sigma + phi(sigma))
                base = sigma
            nxt = {}
            for p in order:
                inc = math.fsum(w * base[q] for q, w in sorted(incoming[p]))
                nxt[p] = (
                    sigma0[p] + sigma[p] + inc
                    if self.formula == "formula_c"
                    else sigma[p] + inc
                )
            mx = max(nxt.values()) if nxt else 1.0
            if mx > 0:
                nxt = {p: v / mx for p, v in nxt.items()}
            residual = math.sqrt(
                math.fsum((nxt[p] - sigma[p]) ** 2 for p in order)
            )
            sigma = nxt
            if residual < self.eps:
                break
        rows = [
            (x[4:], y[4:], round(sigma[(x, y)], config.SIMILARITY_SCALE))
            for (x, y) in order
            if x.startswith("col:") and y.startswith("col:")
        ]
        return _apply_allowed(
            local_frame(spark, rows, SCORES_SCHEMA), allowed_pairs
        )


class EmbeddingSchemaMatcher(BaseSchemaMatcher):
    """Column-embedding cosine ('ct_learning';
    ``schema_matching/topk/contrastivelearning.py:17-54``). Embedder is
    pluggable; defaults to the deterministic hashing column embedder.
    ``metric`` is ``cosine`` or ``euclidean`` (-> 1/(1+d),
    ``topk/contrastivelearning.py:34-36``)."""

    name = "ct_learning"

    def __init__(self, embedder=None, metric: str = "cosine"):
        if embedder is None:
            from biomedical_data_integration_spark.models import HashingColumnEmbedder

            embedder = HashingColumnEmbedder()
        if metric not in ("cosine", "euclidean"):
            raise ValueError(f"Unsupported metric: {metric!r}")
        self.embedder = embedder
        self.metric = metric

    def scores(self, source, target, allowed_pairs=None):
        # one-job pair path when the embedder supports it: both tables'
        # columns are sampled+embedded in a single merged pipeline, and
        # the (column-count-sized) result is persisted so the two sides of
        # the cross join don't re-evaluate it
        pair_fn = getattr(self.embedder, "column_embeddings_pair", None)
        both = pair_fn(source, target) if pair_fn is not None else None
        if both is not None:
            # The pair table is column-count-sized (one row per column of
            # either table), so materialize it ONCE to the driver and
            # finish the n_s × n_t scoring there: re-parallelizing the
            # collected lists into two DataFrames paid python-worker
            # startup per parallelize slice on EVERY match_schema/
            # top_matches call (and persist() instead would pin blocks in
            # the CacheManager across a long session). The arithmetic
            # below replays the JVM expressions operation-for-operation
            # (sequential float64 accumulation, HALF_UP rounding), so the
            # scores are bit-identical to the distributed path and the
            # SQL oracles.
            import math

            from biomedical_data_integration_spark.functions.strings import (
                py_round_half_up,
            )

            spark = both.sparkSession
            rows = both.collect()
            s_rows = [
                (r["column_name"], r["embedding"]) for r in rows
                if r["side"] == "s"
            ]
            t_rows = [
                (r["column_name"], r["embedding"]) for r in rows
                if r["side"] == "t"
            ]

            def _seq_sum(vals):
                acc = 0.0
                for v in vals:
                    acc = acc + v
                return acc

            def _score(vs, vt):
                if self.metric == "cosine":
                    denom = math.sqrt(
                        _seq_sum(v * v for v in vs)
                    ) * math.sqrt(_seq_sum(v * v for v in vt))
                    if denom == 0:
                        return 0.0
                    return _seq_sum(x * y for x, y in zip(vs, vt)) / denom
                dist = math.sqrt(
                    _seq_sum((x - y) * (x - y) for x, y in zip(vs, vt))
                )
                return 1.0 / (1.0 + dist)

            pairs = [
                (sc, tc, py_round_half_up(_score(vs, vt), config.SIMILARITY_SCALE))
                for sc, vs in s_rows
                for tc, vt in t_rows
            ]
            scores = local_frame(spark, pairs, SCORES_SCHEMA)
            return _apply_allowed(scores, allowed_pairs)

        s = self.embedder.column_embeddings(source).withColumnsRenamed(
            {"column_name": "source", "embedding": "vec_s"}
        )
        t = self.embedder.column_embeddings(target).withColumnsRenamed(
            {"column_name": "target", "embedding": "vec_t"}
        )
        # broadcast nested-loop beats CartesianProductExec's fixed setup
        # cost (~10 s) for these column-count-sized sides
        joined = s.join(F.broadcast(t))
        if self.metric == "cosine":
            sim = cosine(F.col("vec_s"), F.col("vec_t"))
        else:
            dist = F.sqrt(
                F.aggregate(
                    F.zip_with("vec_s", "vec_t", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            )
            sim = 1.0 / (1.0 + dist)
        scores = joined.select(
            "source",
            "target",
            F.round(sim, config.SIMILARITY_SCALE).alias("similarity"),
        )
        return _apply_allowed(scores, allowed_pairs)


class TwoPhaseSchemaMatcher(BaseSchemaMatcher):
    """Phase 1: embedding top-k prunes the candidate target set; phase 2:
    the inner matcher scores only surviving pairs
    (``twophase.py:10-48``; prune width 20, ``twophase.py:13``).

    Candidate pruning is the broadcast-side-reduction pattern: the
    expensive matcher never sees pairs the cheap matcher ruled out.
    """

    name = "two_phase"

    def __init__(
        self,
        top_k: int = config.DEFAULT_PRUNE_TOP_K,
        inner: Optional[BaseSchemaMatcher] = None,
        embedder=None,
    ):
        self.top_k = top_k
        self.inner = inner or SimilarityFloodingSchemaMatcher()
        self.pruner = EmbeddingSchemaMatcher(embedder=embedder)

    def candidates(self, source, target) -> DataFrame:
        w = Window.partitionBy("source").orderBy(F.desc("similarity"), F.asc("target"))
        return (
            self.pruner.scores(source, target)
            .withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= self.top_k)
            .select("source", "target", "similarity")
        )

    def scores(self, source, target, allowed_pairs=None):
        cand = self.candidates(source, target)
        if allowed_pairs is not None:
            cand = cand.join(
                F.broadcast(allowed_pairs.select("source", "target")),
                ["source", "target"],
            )
        return self.inner.scores(source, target, allowed_pairs=cand)


class MaxValSimSchemaMatcher(TwoPhaseSchemaMatcher):
    """Phase 1: embedding top-k prune; phase 2: re-score each surviving
    pair by value-match quality:
    ``score = (embedding_score + avg value similarity) / 2``
    (``maxvalsim.py:66-80``). Numeric source columns keep their embedding
    score directly (``maxvalsim.py:62-64``). All candidate pairs re-score
    in ONE V-pipeline job keyed by pair (SURVEY §2.3)."""

    name = "max_val_sim"

    def __init__(self, top_k: int = config.DEFAULT_PRUNE_TOP_K, embedder=None):
        super().__init__(top_k=top_k, embedder=embedder)

    def scores(self, source, target, allowed_pairs=None):
        cand = self.candidates(source, target)
        if allowed_pairs is not None:
            cand = cand.join(
                F.broadcast(allowed_pairs.select("source", "target")),
                ["source", "target"],
            )
        cand = cand.withColumnRenamed("similarity", "emb_sim")
        pair_rows = [
            (r["source"], r["target"]) for r in cand.select("source", "target").collect()
        ]
        string_cols = set(_string_columns(source))
        value_pairs = [
            (s, t) for s, t in pair_rows if s in string_cols and t in target.columns
        ]
        if value_pairs:
            vm = match_values_pipeline(
                source,
                target,
                value_pairs,
                method="tfidf",
                top_k=1,
                threshold=0.0,
                include_unmatched=True,
            )
            val_scores = (
                vm.groupBy(
                    F.col("source_column").alias("source"),
                    F.col("target_column").alias("target"),
                )
                .agg(F.avg(F.coalesce("similarity", F.lit(0.0))).alias("val_sim"))
            )
            rescored = cand.join(val_scores, ["source", "target"], "left").select(
                "source",
                "target",
                F.round(
                    F.when(
                        F.col("val_sim").isNotNull(),
                        (F.col("emb_sim") + F.col("val_sim")) / 2.0,
                    ).otherwise(F.col("emb_sim")),
                    config.SIMILARITY_SCALE,
                ).alias("similarity"),
            )
        else:
            rescored = cand.select(
                "source", "target", F.col("emb_sim").alias("similarity")
            )
        return rescored


class GptSchemaMatcher(BaseSchemaMatcher):
    """LLM schema matcher (``schema_matching/one2one/gpt.py:6-52``).

    The deterministic pipeline is fully implemented; only the LLM call is
    injected. ``client`` is ``callable(messages: list[dict]) -> str``
    returning the assistant content — no network is assumed and the real
    OpenAI default of the reference is intentionally NOT constructed here
    (model outputs are nondeterministic and off-oracle, SURVEY §5).

    Pipeline parity with the reference:
    - each source column serializes as ``"{name}: v1, v2, ..."`` lowercased,
      from ≤``max_values`` distinct non-null values (``gpt.py:20-25``) —
      sampled DETERMINISTICALLY (value-hash order) where the reference uses
      seeded-free ``Series.sample``, the engine-wide determinism rule;
      one Spark job serializes every column (no per-column scans);
    - the prompt asks for the top ``top_m`` target labels
      semicolon-separated (``gpt.py:31-47``);
    - the response is validated: only names that are real target columns
      survive (``gpt.py:26-29``), ranked by response order.

    ``scores`` emits ``(m - rank) / m`` so rank 0 wins downstream greedy
    1:1 assignment exactly like the reference's first-valid-candidate rule.
    """

    name = "gpt"

    def __init__(self, client=None, top_m: int = 10, max_values: int = 15):
        self.client = client
        self.top_m = top_m
        self.max_values = max_values

    def _serialized_contexts(self, source: DataFrame) -> Dict[str, str]:
        """One job: ≤max_values distinct values per column, value-hash
        order (deterministic 'random'), joined ``name: v1, v2, ...``."""
        from biomedical_data_integration_spark.models import HashingColumnEmbedder

        sampler = HashingColumnEmbedder(
            sample_values=self.max_values, sample_strategy="random"
        )
        sampled = sampler._sampled_values(source, source.columns)
        vals = {
            r["column_name"]: list(r["vals"]) for r in sampled.collect()
        }
        return {
            c: f"{c}: {', '.join(vals.get(c, []))}".lower() for c in source.columns
        }

    def _prompt(self, context: str, labels: str) -> List[Dict[str, str]]:
        return [
            {
                "role": "system",
                "content": "You are an assistant for column matching.",
            },
            {
                "role": "user",
                "content": (
                    f"Please select the top {self.top_m} class from {labels} "
                    "which best describes the context. The context is defined "
                    "by the column name followed by its respective values. "
                    "Please respond only with the name of the classes "
                    f"separated by semicolon.\n CONTEXT: {context} "
                    "\n RESPONSE: \n"
                ),
            },
        ]

    def scores(self, source, target, allowed_pairs=None):
        if self.client is None:
            raise NotImplementedError(
                "GptSchemaMatcher requires an injected LLM client "
                "(callable(messages) -> str); no network access is assumed."
            )
        spark = source.sparkSession
        target_columns = list(target.columns)
        labels = ", ".join(target_columns)
        contexts = self._serialized_contexts(source)
        rows = []
        for column in source.columns:
            response = self.client(self._prompt(contexts[column], labels))
            candidates = [c.strip() for c in str(response).split(";")]
            # validation: only real target columns survive, first mention
            # wins (dict.fromkeys dedupes preserving order), ranked by
            # position among the SURVIVORS
            valid = list(
                dict.fromkeys(c for c in candidates if c in target_columns)
            )
            for rank, cand in enumerate(valid):
                sim = round(
                    (self.top_m - rank) / self.top_m, config.SIMILARITY_SCALE
                )
                rows.append((column, cand, sim))
        scores = local_frame(
            spark, rows, "source string, target string, similarity double"
        )
        return _apply_allowed(scores, allowed_pairs)


SCHEMA_MATCHERS = {
    "name_similarity": NameSimilaritySchemaMatcher,
    "jaccard_distance": JaccardSchemaMatcher,
    "distribution_based": DistributionBasedSchemaMatcher,
    "composite": CompositeSchemaMatcher,
    "coma": CompositeSchemaMatcher,
    "cupid": CupidSchemaMatcher,
    "similarity_flooding": SimilarityFloodingSchemaMatcher,
    "ct_learning": EmbeddingSchemaMatcher,
    "two_phase": TwoPhaseSchemaMatcher,
    "max_val_sim": MaxValSimSchemaMatcher,
    "gpt": GptSchemaMatcher,
}


def get_schema_matcher(method: Union[str, BaseSchemaMatcher], **kwargs) -> BaseSchemaMatcher:
    if isinstance(method, BaseSchemaMatcher):
        return method
    if method not in SCHEMA_MATCHERS:
        raise ValueError(
            f"The {method!r} schema matching method is not supported. "
            f"Supported methods are: {sorted(SCHEMA_MATCHERS)}"
        )
    return SCHEMA_MATCHERS[method](**kwargs)


def one_to_one_assignment(
    scores: DataFrame, source_columns: List[str]
) -> List[Tuple[str, str]]:
    """Greedy stable 1:1 assignment from a pair-score table.

    Sort by (similarity desc, source asc, target asc); each source takes the
    best unused target. Unmatched sources map to "" (``one2one/base.py:9-15``).
    Runs on the driver — the score table is schema-sized.
    """
    rows = scores.collect()
    rows.sort(key=lambda r: (-r["similarity"], r["source"], r["target"]))
    taken_s, taken_t = set(), set()
    out: Dict[str, str] = {}
    for r in rows:
        s, t = r["source"], r["target"]
        if s in taken_s or t in taken_t:
            continue
        taken_s.add(s)
        taken_t.add(t)
        out[s] = t
    return [(s, out.get(s, "")) for s in source_columns]
