"""Value matching — the V-pipeline (SURVEY §2.1).

Canonical distributed form of the reference's ``match_values`` /
``top_value_matches`` kernels (``bdikit/api.py:155-288``, ``:333-402``):

    distinct source values  ──┐
                              ├─ SIMILARITY JOIN ─ window top-k ─ threshold
    distinct target domain  ──┘                                    │
    unmatched = anti join ──────────── union ──────────────────────┘
    coverage  = matched / distinct  (carried as a plain column; Spark has
                no DataFrame.attrs — SURVEY §1.4)

Design points for scale:
- Everything is keyed by ``(source_column, target_column)`` so ALL mapped
  column pairs process in ONE Spark job (the reference loops pair by pair,
  ``api.py:347``).
- Matching runs on *distinct normalized values*, never on rows
  (``api.py:355``, ``:360-363``) — the classic dedup-before-kernel pattern;
  at 100 TB the distinct() is the only full-data scan.
- Kernels are pure built-in expressions (levenshtein, n-gram TF-IDF built
  from explode/join/agg) so they stay in whole-stage codegen and are
  reproducible in an ANSI-SQL oracle.
- Similarity scores are rounded (config.SIMILARITY_SCALE) and every window
  has a total-order tiebreaker, so results are deterministic under any
  partitioning.
- With a driver-side kernel (tfidf), domains that fit on the driver
  (``planning.LOCAL_DOMAIN_LIMIT`` values) skip the Spark plan above: each
  DataFrame's distinct values come in one bounded, unpersisted read, the
  same steps run in Python (:func:`domain_rows`, not :func:`value_domain`)
  and the result is a local frame.

Value matcher registry mirrors ``value_matching/matcher_factory.py:7-21``:
``tfidf`` (default), ``edit_distance``, ``indel``, ``exact``,
``embedding``; ``gpt`` is an interface-only stub.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from biomedical_data_integration_spark import config, planning
from biomedical_data_integration_spark.functions.strings import (
    char_ngrams,
    clean_string,
    indel_ratio,
    levenshtein_ratio,
    normalize_value,
)
from biomedical_data_integration_spark.functions.vectors import cosine
from biomedical_data_integration_spark.session import local_frame, pin
from biomedical_data_integration_spark.sources.standards import (
    Standard,
    bounded_long_rows,
    long_form,
    resolve_target,
)

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)

PairList = List[Tuple[str, str]]


# ---------------------------------------------------------------------------
# input normalization
# ---------------------------------------------------------------------------

def normalize_column_mapping(column_mapping) -> PairList:
    """Accept (source, target) tuple, list of tuples/dicts, or a DataFrame
    with source/target columns (``bdikit/api.py:405-431``)."""
    if isinstance(column_mapping, tuple) and len(column_mapping) == 2:
        return [(column_mapping[0], column_mapping[1])]
    if isinstance(column_mapping, DataFrame):
        if not {"source", "target"} <= set(column_mapping.columns):
            raise ValueError(
                "The column_mapping DataFrame must contain 'source' and "
                f"'target' columns, got {column_mapping.columns}"
            )
        return [
            (r["source"], r["target"])
            for r in column_mapping.select("source", "target").collect()
        ]
    try:
        import pandas as pd

        if isinstance(column_mapping, pd.DataFrame):
            return list(zip(column_mapping["source"], column_mapping["target"]))
    except ImportError:  # pragma: no cover
        pass
    if isinstance(column_mapping, Sequence):
        pairs: PairList = []
        for entry in column_mapping:
            if isinstance(entry, dict):
                pairs.append((entry["source"], entry["target"]))
            elif isinstance(entry, (tuple, list)) and len(entry) >= 2:
                pairs.append((entry[0], entry[1]))
            else:
                raise ValueError(f"Invalid column mapping entry: {entry!r}")
        return pairs
    raise ValueError(f"Invalid column_mapping: {column_mapping!r}")


def _skip_numeric_pairs(source: DataFrame, pairs: PairList) -> PairList:
    """Numeric source columns are skipped for value matching
    (``bdikit/api.py:488-492``)."""
    dtype = {f.name: f.dataType for f in source.schema.fields}
    kept = []
    for s, t in pairs:
        if s not in dtype:
            raise ValueError(f"Source column {s!r} not found in source table")
        if isinstance(dtype[s], NUMERIC_TYPES):
            continue
        kept.append((s, t))
    return kept


# a side's domain row per (mapped pair, key); the side's own column is
# field 0 (source) or 1 (target) of the pair
_DOMAIN_ROW = {
    "source": Row("source_column", "target_column", "skey", "source_value"),
    "target": Row("source_column", "target_column", "tkey", "target_value"),
}
_AT = {"source": 0, "target": 1}


def domain_rows(
    table: Union[DataFrame, Standard],
    pairs: PairList,
    side: str,
    limit: Optional[int] = None,
) -> Optional[list]:
    """One side's value domain, keyed on the driver: :func:`value_domain`'s
    rows, or None when a DataFrame holds more than ``limit`` distinct
    ``(column, value)`` pairs.

    A Standard's values are Python data (no job); a DataFrame's are one
    bounded read of at most ``limit + 1`` rows, not persisted. Key =
    trim(value) (spaces only, like Spark's trim); the value kept per
    (column, key) is the min (code-point order, which is Spark's UTF-8
    byte order), preserving originals (``api.py:360-363``); each row is
    repeated for every mapped pair naming its column."""
    from collections import defaultdict

    at = _AT[side]
    cols = sorted({p[at] for p in pairs})
    if isinstance(table, Standard):
        values = [
            (c, v)
            for c, vs in table.get_column_values(cols).items()
            for v in vs
            if v is not None
        ]
    else:
        values = bounded_long_rows(table, cols, limit)
        if values is None:
            return None
    best: Dict[Tuple[str, str], str] = {}
    for col, v in values:
        key = (col, v.strip(" "))
        if key not in best or v < best[key]:
            best[key] = v
    by_col: Dict[str, list] = defaultdict(list)
    for p in pairs:
        by_col[p[at]].append(p)
    make = _DOMAIN_ROW[side]
    return [make(*p, key, v) for (col, key), v in best.items() for p in by_col[col]]


def value_domain(
    table: Union[DataFrame, Standard],
    pairs: PairList,
    side: str,
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """One side's value domain for the distributed kernels:
    (source_column, target_column, skey|tkey, source_value|target_value).

    A DataFrame's is :func:`domain_rows` computed in Spark from its long
    form (``api.py:444-448``). A Standard's vocabulary domain
    (``api.py:440-443``) is already driver data: it is keyed by
    :func:`domain_rows` and returned as a local frame (built in
    ``spark``) that costs no job to read."""
    fields = _DOMAIN_ROW[side]
    if isinstance(table, Standard):
        return local_frame(
            spark,
            domain_rows(table, pairs, side),
            ", ".join(f"{f} string" for f in fields),
        )
    col, key, val = fields[_AT[side]], fields[2], fields[3]
    # distinct() BEFORE the min(value) agg: a no-aggregate distinct is a
    # map-side-combinable HashAggregate, while min over a string column
    # falls back to SortAggregate (var-length buffer) — so run the sort
    # aggregate only on the already-tiny distinct set, never on raw rows
    dom = (
        long_form(table, sorted({p[_AT[side]] for p in pairs}))
        .distinct()
        .select(
            F.col("column_name").alias(col),
            F.trim(F.col("value")).alias(key),
            "value",
        )
        .groupBy(col, key)
        .agg(F.min("value").alias(val))
    )
    pairs_df = local_frame(
        table.sparkSession, pairs, "source_column string, target_column string"
    )
    return dom.join(F.broadcast(pairs_df), col).select(*fields)


# ---------------------------------------------------------------------------
# similarity kernels
# ---------------------------------------------------------------------------

PAIR = ["source_column", "target_column"]
SIMILARITIES_SCHEMA = (
    "source_column string, target_column string, skey string,"
    " target_value string, similarity double"
)


def _domain_sizes(src: DataFrame, tgt: DataFrame) -> Tuple[int, int]:
    """Both domain cardinalities in ONE Spark job (a 2-row side-count
    aggregate) instead of two scheduler round-trips — the domains are
    tiny by construction but each ``count()`` is a full job submission."""
    counts = {
        r["side"]: r["n"]
        for r in src.select(F.lit("s").alias("side"))
        .unionByName(tgt.select(F.lit("t").alias("side")))
        .groupBy("side")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    return counts.get("s", 0), counts.get("t", 0)


class BaseValueMatcher:
    """Kernel contract: score candidate (source value, target value) pairs.

    Input frames both carry the pair key; output must have
    (source_column, target_column, skey, target_value, similarity in [0,1]).

    A matcher with a driver-side kernel sets ``local_domain_limit`` and
    implements :meth:`local_similarities`; the pipeline then finishes
    domains of at most that many values (combined) on the driver.
    """

    name: str = "base"
    local_domain_limit: Optional[int] = None

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        raise NotImplementedError

    def local_similarities(self, s_rows: list, t_rows: list) -> list:
        """:meth:`similarities`' rows, over the domains' collected rows."""
        raise NotImplementedError


class ExactValueMatcher(BaseValueMatcher):
    """Equality on normalized values — the scale-friendly fast path
    (pure equi-join, no cross product)."""

    name = "exact"

    def __init__(self, lowercase: bool = False):
        self.lowercase = lowercase

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        skey = F.lower(F.col("skey")) if self.lowercase else F.col("skey")
        tkey = F.lower(F.col("tkey")) if self.lowercase else F.col("tkey")
        s = src.withColumn("__k", skey)
        t = tgt.withColumn("__k", tkey)
        return (
            s.join(t, PAIR + ["__k"])
            .select(*PAIR, "skey", "target_value", F.lit(1.0).alias("similarity"))
        )


class EditDistanceValueMatcher(BaseValueMatcher):
    """Normalized Levenshtein ratio (``value_matching/polyfuzz.py:77-97``).

    The reference uses rapidfuzz ``fuzz.ratio`` (Indel); the default here is
    the Levenshtein ratio, which is a JVM built-in (oracle-checkable);
    ``indel`` gives exact rapidfuzz parity via a pandas UDF.

    Join strategy: pair-grouped cross join of the distinct domains, with a
    length-band pregate — ``sim >= t`` implies
    ``abs(len(a) - len(b)) <= (1 - t) * max(len)`` — so the expensive
    levenshtein only runs on plausible pairs.
    """

    name = "edit_distance"

    def __init__(self, threshold: float = 0.0, lowercase: bool = False):
        self.threshold = threshold
        self.lowercase = lowercase

    def _sim(self, a: Column, b: Column) -> Column:
        return levenshtein_ratio(a, b)

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        a = F.lower(src["skey"]) if self.lowercase else src["skey"]
        b = F.lower(tgt["tkey"]) if self.lowercase else tgt["tkey"]
        cond = [src["source_column"] == tgt["source_column"],
                src["target_column"] == tgt["target_column"]]
        if self.threshold > 0:
            band = (1.0 - self.threshold) * F.greatest(F.length(a), F.length(b))
            cond.append(F.abs(F.length(a) - F.length(b)) <= band)
        joined = src.join(tgt, cond)
        return joined.select(
            src["source_column"],
            src["target_column"],
            src["skey"],
            tgt["target_value"],
            self._sim(a, b).alias("similarity"),
        )


class IndelValueMatcher(EditDistanceValueMatcher):
    """Exact rapidfuzz ``fuzz.ratio`` parity (normalized Indel similarity),
    via an Arrow-batched pandas UDF (``polyfuzz.py:89``)."""

    name = "indel"

    def _sim(self, a: Column, b: Column) -> Column:
        return indel_ratio(a, b)


class TfIdfValueMatcher(BaseValueMatcher):
    """Char n-gram TF-IDF cosine, the reference's default value matcher
    (``value_matching/polyfuzz.py:49-74``: n_gram_range=(1,3),
    clean_string=True, sparse cosine).

    Fully distributed formulation (no vectorizer object, no driver state):

      corpus  = distinct source values ∪ distinct target values (per pair)
      terms   = explode(char n-grams of cleaned value) -> tf per (value, term)
      df      = #docs containing term (per pair);  N = corpus size (per pair)
      idf     = ln((1 + N) / (1 + df)) + 1          (smooth idf)
      weight  = tf * idf, L2-normalized per value
      cosine  = Σ w_s * w_t  joined on (pair, term)

    The term join is the shuffle; ``max_df_fraction`` drops stop-grams
    (terms in more than that fraction of the corpus) to bound fanout at
    scale — off by default for exact small-scale semantics.

    **Adaptive strategy selection** (SURVEY §4.2 item 1): the kernel runs
    on *distinct* domains whose cardinality is known before launch. When
    the combined domain fits on the driver (``local_domain_limit``, default
    5000 — the reference's largest vocabulary is 4,478 values,
    ``gdc_schema.json``), :func:`match_values_pipeline` runs the identical
    formula locally (:meth:`local_similarities`, an inverted term index):
    a 7-stage distributed job on a driver-sized domain is pure scheduling
    overhead. :meth:`similarities` is always the distributed kernel, for
    larger domains (100 TB text columns). Both return bit-compatible raw
    similarities (verified against the DuckDB oracle).
    """

    name = "tfidf"

    def __init__(
        self,
        n_min: int = 1,
        n_max: int = 3,
        max_df_fraction: Optional[float] = None,
        local_domain_limit: Optional[int] = planning.LOCAL_DOMAIN_LIMIT,
    ):
        self.n_min = n_min
        self.n_max = n_max
        self.max_df_fraction = max_df_fraction
        self.local_domain_limit = local_domain_limit

    def local_similarities(self, s_rows: list, t_rows: list) -> list:
        """Driver-side evaluation of the exact kernel formula for
        driver-sized domains (:func:`py_tfidf_cosines`, an inverted term
        index — cost is shared-term pairs, the same sparsity the
        distributed term join exploits), one IDF corpus per pair."""
        from collections import defaultdict

        from biomedical_data_integration_spark.functions.strings import (
            py_tfidf_cosines,
        )

        by_pair: Dict[Tuple[str, str], Tuple[list, dict]] = defaultdict(
            lambda: ([], {})
        )
        for r in s_rows:
            by_pair[(r["source_column"], r["target_column"])][0].append(r["skey"])
        for r in t_rows:
            by_pair[(r["source_column"], r["target_column"])][1][r["tkey"]] = r[
                "target_value"
            ]
        return [
            (sc, tc, skey, tvals[tkey], sim)
            for (sc, tc), (skeys, tvals) in by_pair.items()
            for (skey, tkey), sim in py_tfidf_cosines(
                skeys, tvals, self.n_min, self.n_max, self.max_df_fraction
            ).items()
        ]

    def _tf_maps(self, dom: DataFrame, key: str) -> DataFrame:
        """(pair, value_key, tf: map<term,count>) — term frequencies built
        with HOFs over the n-gram array, entirely map-side (no
        explode/shuffle). The O(|distinct grams| · |grams|) fold is bounded
        by value length, and it runs once per *distinct* value.

        The gram array is materialized in its own projection first: the tf
        fold references it once per distinct gram, and inlined that would
        re-run the clean-string regexp + full n-gram expansion each time
        (O(len^2) blowup per value)."""
        staged = dom.select(
            *PAIR,
            F.col(key).alias("value_key"),
            char_ngrams(clean_string(F.col(key)), self.n_min, self.n_max).alias(
                "__grams"
            ),
        )
        grams = F.col("__grams")
        tf = F.map_from_entries(
            F.transform(
                F.array_distinct(grams),
                lambda g: F.struct(
                    g.alias("term"),
                    F.size(F.filter(grams, lambda x: x == g))
                    .cast("double")
                    .alias("tf"),
                ),
            )
        )
        return staged.select(*PAIR, "value_key", tf.alias("tf"))

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        # document frequency over the union corpus (a value present on both
        # sides counts once per side, like fitting on from+to lists)
        s_tf = self._tf_maps(src, "skey").withColumn("side", F.lit("s"))
        t_tf = self._tf_maps(tgt, "tkey").withColumn("side", F.lit("t"))
        # read by doc_freq, the n_docs broadcast and the weighted join
        docs = pin(s_tf.unionByName(t_tf))

        doc_freq = (
            docs.select(*PAIR, F.explode(F.map_keys("tf")).alias("term"))
            .groupBy(*PAIR, "term")
            .agg(F.count("*").cast("double").alias("df"))
        )
        n_docs = docs.groupBy(*PAIR).agg(
            F.count("*").cast("double").alias("n_docs")
        )
        idf = doc_freq.join(F.broadcast(n_docs), PAIR).withColumn(
            "idf", F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0
        )
        if self.max_df_fraction is not None:
            idf = idf.where(F.col("df") <= self.max_df_fraction * F.col("n_docs"))

        # one term->idf map per pair (pair vocabularies are
        # distinct-value-scale), broadcast onto the docs so tf·idf weights
        # and L2 norms compute map-side — no per-value norm join
        idf_maps = idf.groupBy(*PAIR).agg(
            F.map_from_entries(F.collect_list(F.struct("term", "idf"))).alias("idfm")
        )
        weighted = (
            docs.join(F.broadcast(idf_maps), PAIR)
            .withColumn(
                "wmap",
                F.map_filter(
                    # try_element_at: terms dropped by max_df_fraction are
                    # absent from the idf map -> null -> filtered (they
                    # contribute to neither weights nor norms)
                    F.transform_values(
                        "tf",
                        lambda k, v: v * F.try_element_at(F.col("idfm"), k),
                    ),
                    lambda _, v: v.isNotNull(),
                ),
            )
            .withColumn(
                "norm",
                F.sqrt(
                    F.aggregate(
                        F.map_values("wmap"), F.lit(0.0), lambda acc, v: acc + v * v
                    )
                ),
            )
            .select(
                *PAIR, "side", "value_key", "norm", F.explode("wmap")
            )
            .select(
                *PAIR,
                "side",
                "value_key",
                F.col("key").alias("term"),
                (F.col("value") / F.col("norm")).alias("w"),
            )
        )
        ws = weighted.where(F.col("side") == "s").select(
            *PAIR, F.col("value_key").alias("skey"), "term", F.col("w").alias("ws")
        )
        wt = weighted.where(F.col("side") == "t").select(
            *PAIR, F.col("value_key").alias("tkey"), "term", F.col("w").alias("wt")
        )
        sims = (
            ws.join(wt, PAIR + ["term"])
            .groupBy(*PAIR, "skey", "tkey")
            .agg(F.sum(F.col("ws") * F.col("wt")).alias("similarity"))
        )
        # map tkey back to the original target value
        tgt_orig = tgt.select(*PAIR, "tkey", "target_value")
        return sims.join(tgt_orig, PAIR + ["tkey"]).select(
            *PAIR, "skey", "target_value", "similarity"
        )


class EmbeddingValueMatcher(BaseValueMatcher):
    """Cosine over per-value embeddings (``polyfuzz.py:100-141`` shape).

    The encoder is pluggable; the default deterministic hashing encoder
    makes tests/oracles stable (the reference's flair/fasttext encoders are
    model-weight-dependent and explicitly off-oracle, SURVEY §5).
    """

    name = "embedding"

    def __init__(
        self,
        embedder=None,
        block_threshold: Optional[int] = planning.EXACT_PAIR_LIMIT,
        lsh_planes: int = 8,
    ):
        if embedder is None:
            from biomedical_data_integration_spark.models import HashingTextEmbedder

            embedder = HashingTextEmbedder()
        self.embedder = embedder
        self.block_threshold = block_threshold
        self.lsh_planes = lsh_planes

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        """Cosine over candidate (source, target) value pairs.

        The candidate set is cardinality-gated (one count job, same
        kernel-selection pattern as TfIdf/duplicate_clusters): at or below
        ``block_threshold`` candidate pairs per the domain-size product,
        every pair is scored exactly; above it both sides are blocked by
        random-hyperplane signature (``operators/similarity.hyperplane_bucket``)
        so the join carries only same-bucket candidates — free-text domains
        at 100 TB never see an ungated cross product. Recall is controlled
        by ``lsh_planes``; pass ``block_threshold=None`` for the exact
        all-pairs join at any size."""
        from biomedical_data_integration_spark.operators.similarity import (
            hyperplane_bucket,
        )

        # staged embed (bucket array, then fold) when the embedder offers
        # it — the projection boundary keeps the hashing embedder's md5
        # work out of the interpreted fold lambda (see HashingTextEmbedder)
        embed_df = getattr(self.embedder, "embed_df", None)
        if embed_df is not None:
            s = embed_df(src, "skey", "vec_s")
            t = embed_df(tgt, "tkey", "vec_t")
        else:
            s = src.withColumn("vec_s", self.embedder.embed_expr(F.col("skey")))
            t = tgt.withColumn("vec_t", self.embedder.embed_expr(F.col("tkey")))
        join_keys = list(PAIR)
        dim = getattr(self.embedder, "dim", None)
        if self.block_threshold is not None and dim is not None:
            n_s, n_t = _domain_sizes(src, tgt)
            if (
                planning.pair_blocking_kernel(n_s, n_t, self.block_threshold)
                == "lsh"
            ):
                s = s.withColumn(
                    "__bucket",
                    hyperplane_bucket(F.col("vec_s"), dim, self.lsh_planes),
                )
                t = t.withColumn(
                    "__bucket",
                    hyperplane_bucket(F.col("vec_t"), dim, self.lsh_planes),
                )
                join_keys = PAIR + ["__bucket"]
        joined = s.join(t, join_keys)
        return joined.select(
            *PAIR,
            "skey",
            "target_value",
            cosine(F.col("vec_s"), F.col("vec_t")).alias("similarity"),
        )


class GptValueMatcher(BaseValueMatcher):
    """LLM-assisted value matching (``value_matching/gpt.py:7-54``).

    The deterministic pipeline — one prompt per distinct source value,
    response parsing, validation against the target domain — is fully
    implemented; only the LLM call is injected (``client`` is
    ``callable(messages: list[dict]) -> str`` returning the assistant
    content). Outputs stay off-oracle: a real model is nondeterministic.

    Parity notes vs the reference:
    - the reference's ``ast.literal_eval`` call can never succeed (it
      forgot to import ``ast``, so every response lands in the bare
      ``except`` and is dropped, ``gpt.py:44-53``). This implements the
      documented INTENT: parse ``{"term": ..., "score": ...}`` with
      ``ast.literal_eval`` (falling back to JSON), validate the term
      against the target set, drop malformed responses with a warning;
    - the pipeline (not the kernel) applies the similarity threshold, so
      the kernel emits every validated (value, term, score) row;
    - prompt ASSEMBLY is distributed (``mapInPandas`` over the joined
      value×domain table — at a 100× free-text column the driver never
      renders millions of prompt strings); only the actual client CALLS
      run in a driver loop, like the reference, because each is an
      external-service round trip — nothing to distribute until a batch
      endpoint exists.
    """

    name = "gpt"

    def __init__(self, client=None):
        self.client = client

    @staticmethod
    def _prompt(source_value: str, target_values: List[str]) -> List[Dict[str, str]]:
        return [
            {
                "role": "system",
                "content": (
                    "You are an intelligent system that given a term, you "
                    "have to choose a value from a list that best matches "
                    "the term. These terms belong to the medical domain, "
                    "and the list contains terms in the Genomics Data "
                    "Commons (GDC) format."
                ),
            },
            {
                "role": "user",
                "content": (
                    f'For the term: "{source_value}", choose a value from '
                    f"this list {target_values}. Return the value from the "
                    "list with a similarity score, between 0 and 1, with 1 "
                    "indicating the highest similarity. DO NOT PROVIDE ANY "
                    "OTHER OUTPUT TEXT OR EXPLANATION. Only provide a "
                    "Python dictionary. For example "
                    '{"term": "term from the list", "score": 0.8}.'
                ),
            },
        ]

    @staticmethod
    def _parse_response(response: str):
        """(term, score) or None — ``ast.literal_eval`` first (the
        reference's documented intent), JSON as a fallback."""
        import ast
        import json

        for parser in (ast.literal_eval, json.loads):
            try:
                d = parser(response)
                return str(d["term"]), float(d["score"])
            except Exception:
                continue
        return None

    def prompts(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        """One row per (column pair, distinct source value) with the READY
        chat messages for that value, serialized as JSON.

        Fully distributed: the per-pair target domain is aggregated once
        (sorted distinct array), broadcast-joined to the source values, and
        the message rendering runs in ``mapInPandas`` — the driver never
        materializes domains or renders prompt text. Pairs with an empty
        target domain drop out (inner join), matching the driver-loop
        ``continue`` the reference uses.

        Returns (source_column, target_column, skey, targets, prompt).
        """
        dom = tgt.groupBy(*PAIR).agg(
            F.sort_array(F.collect_set("target_value")).alias("targets")
        )
        joined = src.select(*PAIR, "skey").join(F.broadcast(dom), list(PAIR))
        prompt_fn = self._prompt

        def build(batches):
            import json as _json

            for pdf in batches:
                pdf = pdf.copy()
                # plain-str targets: Arrow hands back numpy scalars, whose
                # repr would leak into the rendered list literal
                pdf["targets"] = [
                    [str(t) for t in ts] for ts in pdf["targets"]
                ]
                pdf["prompt"] = [
                    _json.dumps(prompt_fn(str(v), ts))
                    for v, ts in zip(pdf["skey"], pdf["targets"])
                ]
                yield pdf[
                    ["source_column", "target_column", "skey", "targets", "prompt"]
                ]

        return joined.mapInPandas(
            build,
            "source_column string, target_column string, skey string,"
            " targets array<string>, prompt string",
        )

    def similarities(self, src: DataFrame, tgt: DataFrame) -> DataFrame:
        if self.client is None:
            raise NotImplementedError(
                "GptValueMatcher requires an injected client "
                "(callable(messages) -> str); no network access is assumed."
            )
        import json
        import warnings

        spark = src.sparkSession
        # ONE collect, of finished prompts (the external-call loop is the
        # only driver-side stage; assembly happened executor-side)
        out = []
        for r in self.prompts(src, tgt).collect():
            response = self.client(json.loads(r["prompt"]))
            parsed = self._parse_response(str(response))
            if parsed is None:
                warnings.warn(
                    f"GptValueMatcher: unparseable response for "
                    f"{r['skey']!r}: {response!r}"
                )
                continue
            term, score = parsed
            if term in set(r["targets"]):  # membership validation (gpt.py:48)
                out.append(
                    (r["source_column"], r["target_column"], r["skey"], term, score)
                )
        return local_frame(spark, out, SIMILARITIES_SCHEMA)


VALUE_MATCHERS = {
    "tfidf": TfIdfValueMatcher,
    "edit_distance": EditDistanceValueMatcher,
    "indel": IndelValueMatcher,
    "exact": ExactValueMatcher,
    "embedding": EmbeddingValueMatcher,
    # the reference's 'fasttext' method is flair WordEmbeddings cosine
    # (``polyfuzz.py:122-141``) — model-weight-dependent and off-oracle;
    # the name resolves to the same pluggable-encoder matcher (inject a
    # fasttext encoder via embedder= for real-model behavior)
    "fasttext": EmbeddingValueMatcher,
    "gpt": GptValueMatcher,
}


def get_value_matcher(method: Union[str, BaseValueMatcher], **kwargs) -> BaseValueMatcher:
    if isinstance(method, BaseValueMatcher):
        return method
    if method not in VALUE_MATCHERS:
        raise ValueError(
            f"The {method!r} value matching method is not supported. "
            f"Supported methods are: {sorted(VALUE_MATCHERS)}"
        )
    return VALUE_MATCHERS[method](**kwargs)


# ---------------------------------------------------------------------------
# the V-pipeline
# ---------------------------------------------------------------------------

MATCHES_SCHEMA = (
    "source_column string, target_column string, source_value string,"
    " target_value string, similarity double, coverage double"
)


def _driver_matches(
    s_rows: list,
    sims: list,
    top_k: int,
    threshold: float,
    include_unmatched: bool,
) -> list:
    """The pipeline's tail (threshold, round, top-k, left attach,
    coverage) over driver rows, replaying the distributed expressions in
    :func:`match_values_pipeline`: the threshold sees the raw similarity,
    rounding is HALF_UP like ``F.round``, and each (pair, skey) keeps its
    first ``top_k`` matches by (similarity desc, target_value asc)."""
    from collections import defaultdict

    from biomedical_data_integration_spark.functions.strings import (
        py_round_half_up,
    )

    scale = config.SIMILARITY_SCALE
    found: Dict[tuple, list] = defaultdict(list)
    for sc, tc, skey, tval, sim in sims:
        if sim >= threshold:
            found[(sc, tc, skey)].append((py_round_half_up(sim, scale), tval))
    joined = []
    keys: Dict[tuple, set] = defaultdict(set)
    matched: Dict[tuple, set] = defaultdict(set)
    for r in s_rows:
        sc, tc, skey = r["source_column"], r["target_column"], r["skey"]
        ranked = sorted(found.get((sc, tc, skey), ()), key=lambda m: (-m[0], m[1]))
        best = ranked[: max(top_k, 0)]  # row_number() <= top_k
        keys[(sc, tc)].add(skey)
        if best:
            matched[(sc, tc)].add(skey)
        for sim, tval in best or [(None, None)]:
            joined.append((sc, tc, r["source_value"], tval, sim))
    coverage = {
        p: py_round_half_up(len(matched[p]) / len(ks), scale)
        for p, ks in keys.items()
    }
    return [
        (sc, tc, sval, tval, sim, coverage[(sc, tc)])
        for sc, tc, sval, tval, sim in joined
        if include_unmatched or tval is not None
    ]


def match_values_pipeline(
    source: DataFrame,
    target: Union[DataFrame, str, Standard],
    column_mapping,
    method: Union[str, BaseValueMatcher] = config.DEFAULT_VALUE_MATCHING_METHOD,
    top_k: int = 1,
    threshold: float = config.DEFAULT_VALUE_MATCHING_THRESHOLD,
    include_unmatched: bool = True,
    method_args: Optional[Dict] = None,
) -> DataFrame:
    """Run the full V-pipeline for all mapped column pairs in one job.

    Returns a long DataFrame:
    (source_column, target_column, source_value, target_value, similarity,
    coverage) — unmatched source values carry null target/similarity
    (``api.py:457-485``); coverage = matched distinct / total distinct per
    pair (``api.py:381-384``).
    """
    spark = source.sparkSession
    pairs = _skip_numeric_pairs(source, normalize_column_mapping(column_mapping))
    if not pairs:
        return local_frame(spark, [], MATCHES_SCHEMA)
    target = resolve_target(target)
    missing = sorted({t for _, t in pairs if t not in target.columns})
    if missing:
        raise ValueError(f"Target column(s) {missing} not found in target table")

    matcher = get_value_matcher(method, **(method_args or {}))

    # Driver-sized domains (planning.value_match_kernel) finish the whole
    # step on the driver; the result is a local frame, so collecting it
    # runs no job. The target is read only if the source fits, with the
    # budget it leaves. The bound counts raw distinct values: a domain
    # that trimming would merge under the limit may still run distributed.
    limit = matcher.local_domain_limit
    s_rows = t_rows = None
    if limit is not None:
        s_rows = domain_rows(source, pairs, "source", limit)
    if s_rows is not None and len(s_rows) <= limit:
        t_rows = domain_rows(target, pairs, "target", limit - len(s_rows))
    if (
        t_rows is not None
        and planning.value_match_kernel(len(s_rows), len(t_rows), limit) == "local"
    ):
        rows = _driver_matches(
            s_rows,
            matcher.local_similarities(s_rows, t_rows),
            top_k,
            threshold,
            include_unmatched,
        )
        return local_frame(spark, rows, MATCHES_SCHEMA)

    # Distributed: the domains are referenced more than once downstream
    # (the similarity kernel, the final left join re-attaching unmatched
    # values, and any broadcast collects inside the kernel). Spark
    # re-evaluates a plan subtree per reference, so without a persist the
    # full source scan + distinct would run 2-4x per query. The domains are
    # distinct-value sized — exactly the intermediate you cache at 100 TB.
    # A Standard's domain is already a local frame and needs no cache.
    src = value_domain(source, pairs, "source").persist()
    tgt = value_domain(target, pairs, "target", spark)
    if not tgt.isLocal():
        tgt = tgt.persist()

    sims = matcher.similarities(src, tgt)
    sims = sims.where(F.col("similarity") >= threshold)
    sims = sims.withColumn(
        "similarity", F.round(F.col("similarity"), config.SIMILARITY_SCALE)
    )

    w = Window.partitionBy(*PAIR, "skey").orderBy(
        F.desc("similarity"), F.asc("target_value")
    )
    ranked = (
        sims.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= top_k)
        .drop("__rk")
    )

    # ONE left join attaches the top-k matches to every distinct source
    # value; unmatched values get null target/similarity in the same pass
    # (``api.py:457-485`` matched ∪ unmatched semantics without the
    # anti-join + union, which would re-evaluate the whole kernel DAG).
    joined = src.select(*PAIR, "skey", "source_value").join(
        ranked.select(*PAIR, "skey", "target_value", "similarity"),
        PAIR + ["skey"],
        "left",
    )

    # Coverage = matched distinct / total distinct per pair
    # (``api.py:381-384``). A pair-level distinct aggregate + broadcast
    # join back: the aggregate is partial-combinable and its output is
    # PAIR-cardinality (schema-sized), so the attach is a broadcast hash
    # join with no extra shuffle of the value rows. (A collect_set window
    # would materialize every pair's full skey set into an array PER ROW —
    # unbounded per-row state if a domain is ever not vocabulary-like.)
    cov = (
        joined.groupBy(*PAIR)
        .agg(
            F.round(
                F.count_distinct(
                    F.when(F.col("target_value").isNotNull(), F.col("skey"))
                )
                / F.count_distinct("skey"),
                config.SIMILARITY_SCALE,
            ).alias("coverage")
        )
    )
    result = joined.join(F.broadcast(cov), PAIR)
    if not include_unmatched:
        result = result.where(F.col("target_value").isNotNull())
    return result.select(
        *PAIR, "source_value", "target_value", "similarity", "coverage"
    )
