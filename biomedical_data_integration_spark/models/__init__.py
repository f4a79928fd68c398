"""Embedders.

The reference embeds *columns* with a RoBERTa contrastive-learning
checkpoint (``bdikit/models/__init__.py:7-20``, 768-d vectors, batch-128
inference ``cl_api.py:22-55``). Model weights are not available here and
model-dependent outputs are off-oracle anyway (SURVEY §5), so the engine
ships a deterministic hashing embedder with the same interface:

- :class:`HashingTextEmbedder` — embeds a *string value* as an L2-normalized
  char-n-gram hash histogram, built entirely from Spark built-ins (stays in
  codegen, reproducible in SQL).
- :class:`HashingColumnEmbedder` — embeds a *column* as the reference does:
  serialize column name + a deterministic sample of distinct values
  (``cl_api.py:94-106``: ≤15 values; here stable order, not RNG), then
  hash-embed the serialization.
- :class:`TransformerColumnEmbedder` — optional real-model path behind an
  import gate; executor-local lazy singleton via a pandas UDF (the batch-128
  pattern maps to Arrow batch inference).
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd  # module-level: pandas UDF type hints resolve here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark.functions.strings import (
    char_ngrams,
    clean_string,
)
from biomedical_data_integration_spark.session import local_frame, pin
from biomedical_data_integration_spark.sources.standards import long_form

_HEX = "0123456789abcdef"


class HashingTextEmbedder:
    """Deterministic feature-hashing embedder for short strings.

    vec[i] = #{char n-grams g of clean(s): md5_bucket(g) == i}, L2-normalized.
    Pure built-in expressions — usable inside any similarity join without a
    Python boundary.
    """

    def __init__(self, dim: int = 32, n: int = 3, salt: str = "hte"):
        self.dim = dim
        self.n = n
        self.salt = salt

    def bucket_expr(self, col: Column) -> Column:
        """array<bigint> of gram buckets — one md5 per gram (NOT per
        gram × bucket: the naive per-bucket filter formulation duplicates
        the md5 expression dim× in the plan)."""
        grams = char_ngrams(clean_string(col), self.n, self.n)
        salt = self.salt

        def bucket(g: Column) -> Column:
            return F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(salt + "|"), g)), 1, 15), 16, 10
                ).cast("bigint"),
                F.lit(self.dim),
            )

        return F.transform(grams, bucket)

    def hist_expr(self, buckets: Column) -> Column:
        """Bucket array -> L2-normalized count histogram."""
        zeros = F.array_repeat(F.lit(0.0), self.dim)
        counts = F.aggregate(
            buckets,
            zeros,
            lambda acc, b: F.transform(
                acc, lambda v, i: F.when(i.cast("bigint") == b, v + 1.0).otherwise(v)
            ),
        )
        norm = F.sqrt(
            F.aggregate(counts, F.lit(0.0), lambda acc, v: acc + v * v)
        )
        return F.when(norm == 0, counts).otherwise(
            F.transform(counts, lambda v: v / norm)
        )

    def embed_expr(self, col: Column) -> Column:
        """Single-expression form — correct anywhere a Column fits, but
        interpreted HOF evaluation re-runs the md5 bucket array per fold
        step (measured ~20× slower than the staged form). Use
        :meth:`embed_df` in projection pipelines."""
        return self.hist_expr(self.bucket_expr(col))

    def embed_df(self, df: DataFrame, incol: str, outcol: str) -> DataFrame:
        """Staged embedding: bucket array in one Project, histogram fold in
        the next. The projection boundary keeps Catalyst from inlining the
        md5 bucket computation into the fold lambda (CollapseProject won't
        push expressions into higher-order-function lambdas), so the fold
        reads a bound attribute and the md5s run exactly once per gram —
        ~20× faster than the inline expression at GDC vocabulary size."""
        tmp = f"__hte_buckets_{outcol}"
        return (
            df.withColumn(tmp, self.bucket_expr(F.col(incol)))
            .withColumn(outcol, self.hist_expr(F.col(tmp)))
            .drop(tmp)
        )


class ColumnEmbedder:
    """Contract: one vector per column, input order preserved
    (``bdikit/models/__init__.py:7-20``)."""

    def column_embeddings(
        self, df: DataFrame, columns: Optional[List[str]] = None
    ) -> DataFrame:
        """Return (column_name string, embedding array<double>)."""
        raise NotImplementedError


class HashingColumnEmbedder(ColumnEmbedder):
    """Serialize each column as ``name || sampled distinct values`` and
    hash-embed the serialization.

    Sampling mirrors the reference's ≤15-values-per-column budget
    (``cl_api.py:94-106``) but uses a *stable* order (value asc) instead of
    seeded RNG — Spark sampling is partition-dependent, and stability is
    what the oracle needs (SURVEY §7.3).

    Everything runs as ONE Spark job for all columns: unpivot → distinct →
    window top-15 → group-concat → embed expression.
    """

    #: deterministic counterparts of ALL reference sampling strategies
    #: (``cl_preprocessor.py:216-259``): value-level head / alphaHead /
    #: random / constant (every nth) / frequent, token-level tfidf_token /
    #: tfidf_entity / pmi, and row-level tfidf_row. Semantic deltas from
    #: the reference (documented, embedding paths are off-oracle):
    #: - reference idf has df=1 for every token (``cl_preprocessor.py:
    #:   27-35`` increments each token's df exactly once), making all
    #:   scores per column equal; the engine computes the documented
    #:   intent, idf = log10(N_distinct_values / df_values_containing_token)
    #: - 'random' orders by a value-derived hash (Spark RNG sampling is
    #:   partition-dependent, SURVEY §7.3)
    #: - ties everywhere break on the value/token itself, never row order
    SAMPLE_STRATEGIES = (
        "head",
        "alphaHead",
        "random",
        "constant",
        "frequent",
        "tfidf_token",
        "tfidf_entity",
        "tfidf_row",
        "pmi",
    )

    def __init__(
        self,
        dim: int = 32,
        n: int = 3,
        sample_values: int = 15,
        sample_strategy: str = "head",
    ):
        if sample_strategy not in self.SAMPLE_STRATEGIES:
            raise ValueError(
                f"Unknown sample_strategy {sample_strategy!r}; "
                f"supported: {list(self.SAMPLE_STRATEGIES)}"
            )
        self.text_embedder = HashingTextEmbedder(dim=dim, n=n, salt="hce")
        self.sample_values = sample_values
        self.sample_strategy = sample_strategy

    def _min_k(
        self,
        df: DataFrame,
        ord_key: Column,
        k: int,
        item: str = "value",
        group: str = "column_name",
    ) -> DataFrame:
        """(column_name, vals array<string>) — the k smallest items per
        group under (ord_key, item), via ``row_number() <= k``.

        Spark's WindowGroupLimit (partial + final) pushes the limit below
        the shuffle: each map task locally sorts its partition and keeps
        only k rows per group, so the exchange carries ≤ k·partitions rows
        per group and no task ever buffers a whole domain (verified in the
        physical plan). This replaced a hand-rolled bucketed
        collect_list top-k — the engine's pushdown beat it by ~25% at
        sf0.1 and avoids materializing every candidate into arrays."""
        w = Window.partitionBy(group).orderBy(ord_key.asc(), F.col(item).asc())
        top = (
            df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k)
        )
        return (
            top.groupBy(group)
            .agg(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("__rk").alias("__o"),
                                F.col(item).alias("__i"),
                            )
                        )
                    ),
                    lambda s: s["__i"],
                ).alias("vals")
            )
            .select(F.col(group).alias("column_name"), "vals")
        )

    @staticmethod
    def _split_tokens(value: Column) -> Column:
        """Space-split tokens of a value (reference ``str(val).split(" ")``,
        ``cl_preprocessor.py:39``; empty tokens dropped here)."""
        return F.filter(F.split(value, " "), lambda t: F.length(t) > 0)

    def _token_idf(self, long_df: DataFrame) -> DataFrame:
        """(column_name, tok, idf) — token idf per column with documents =
        the column's distinct values: idf = log10(N / df). The reference's
        ``computeIdf`` (``cl_preprocessor.py:26-35``) increments every
        token's df exactly once, collapsing all idf scores in a column to
        the same constant; the engine computes the documented intent."""
        dv = long_df.distinct()
        toks = dv.select(
            "column_name",
            F.explode(F.array_distinct(self._split_tokens(F.col("value")))).alias(
                "tok"
            ),
        )
        n = dv.groupBy("column_name").agg(F.count("*").alias("__n"))
        return (
            toks.groupBy("column_name", "tok")
            .agg(F.count("*").alias("__df"))
            .join(F.broadcast(n), "column_name")
            .select(
                "column_name",
                "tok",
                F.log10(F.col("__n") / F.col("__df")).alias("idf"),
            )
        )

    def _budget_tokens(self, vals: Column, k: int, strict: bool = True) -> Column:
        """Fold an ordered value array into its tokens, deduped in order.
        ``strict=True`` includes a value only if the result stays under
        ``k`` tokens (tfidf_entity budget, ``cl_preprocessor.py:173-178``);
        ``strict=False`` includes values while the accumulator is still
        under ``k`` — add-then-stop, may overshoot (pmi loop,
        ``cl_preprocessor.py:82-88``)."""
        if strict:
            cond = lambda acc, toks: F.size(F.concat(acc, toks)) < k  # noqa: E731
        else:
            cond = lambda acc, toks: F.size(acc) < k  # noqa: E731
        folded = F.aggregate(
            vals,
            F.array().cast("array<string>"),
            lambda acc, v: F.when(
                cond(acc, self._split_tokens(v)),
                F.concat(acc, self._split_tokens(v)),
            ).otherwise(acc),
        )
        return F.array_distinct(folded)

    def _sampled_values(self, df: DataFrame, cols: List[str]) -> DataFrame:
        """(column_name, vals: array<string>) — ≤``sample_values`` distinct
        values (or tokens, for the token-level strategies) per column in
        the strategy's order.

        Every strategy bounds its per-task work via :meth:`_min_k`
        (WindowGroupLimit partial top-k). Only 'constant' (every-nth over
        the full sorted domain) genuinely needs global ranks and keeps a
        full window.
        """
        if self.sample_strategy == "tfidf_row":
            return self._tfidf_row_sample(df, cols, self.sample_values)
        if self.sample_strategy == "pmi":
            return self._pmi_sample(df, cols, self.sample_values)
        return self._sampled_from_long(long_form(df, cols))

    def _sampled_from_long(self, long_df: DataFrame) -> DataFrame:
        """Strategy dispatch for every sampler that needs only the
        (column_name, value) long form — which lets callers feed a MERGED
        long form covering several tables and sample them all in one job
        (see :meth:`serialized_columns_pair`). Row-level strategies
        (tfidf_row, pmi) need table rows and stay in _sampled_values."""
        k = self.sample_values

        if self.sample_strategy == "alphaHead":
            # first k distinct lowercased tokens in (value asc, position)
            # order — the reference sorts values then walks tokens in order
            # (``cl_preprocessor.py:236-247``)
            tok = long_df.select(
                "column_name",
                "value",
                F.posexplode(self._split_tokens(F.col("value"))).alias(
                    "pos", "tok0"
                ),
            ).select(
                "column_name", "value", "pos", F.lower("tok0").alias("tok")
            )
            first = tok.groupBy("column_name", "tok").agg(
                F.min(F.struct("value", "pos")).alias("__fo")
            )
            return self._min_k(first, F.col("__fo"), k, item="tok")

        if self.sample_strategy == "tfidf_token":
            # highest-idf tokens (``cl_preprocessor.py:141-156``); ties
            # break on the token itself, not appearance order
            idf = self._token_idf(long_df)
            return self._min_k(idf, -F.col("idf"), k, item="tok")

        if self.sample_strategy == "tfidf_entity":
            # rank distinct values by mean token idf, spend the k-token
            # budget down that ranking (``cl_preprocessor.py:158-181``)
            idf = self._token_idf(long_df)
            vt = long_df.distinct().select(
                "column_name",
                "value",
                F.explode(self._split_tokens(F.col("value"))).alias("tok"),
            )
            scored = (
                vt.join(idf, ["column_name", "tok"])
                .groupBy("column_name", "value")
                .agg(F.avg("idf").alias("score"))
            )
            sel = self._min_k(scored, -F.col("score"), k)
            return sel.select(
                "column_name", self._budget_tokens(F.col("vals"), k).alias("vals")
            )

        if self.sample_strategy == "constant":
            # every nth distinct value (``cl_preprocessor.py:91-105``):
            # stride so the sample spans the whole sorted domain; needs a
            # global per-column rank, so this path keeps the window sort
            w = Window.partitionBy("column_name").orderBy(F.col("value"))
            sampled = long_df.distinct().withColumn(
                "__rk", F.row_number().over(w)
            )
            n_distinct = F.count("*").over(Window.partitionBy("column_name"))
            step = F.greatest(F.floor(n_distinct / k), F.lit(1))
            sampled = (
                sampled.withColumn("__pick", ((F.col("__rk") - 1) % step) == 0)
                .where(F.col("__pick"))
                .withColumn(
                    "__rk",
                    F.row_number().over(
                        Window.partitionBy("column_name").orderBy("__rk")
                    ),
                )
                .where(F.col("__rk") <= k)
            )
            return sampled.groupBy("column_name").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__rk", "value"))),
                    lambda s: s["value"],
                ).alias("vals")
            )

        # ordering key: min-k under ascending struct sort ⇒ first field
        # encodes the strategy's priority, tie-broken by the value itself.
        # NOTE: the separate distinct (a codegen'd row-level hash agg)
        # deliberately precedes the collect_list — folding the dedup into
        # the collector as collect_set is 2.4x SLOWER (ObjectHashAggregate
        # buffers per-group sets, no whole-stage codegen; measured at sf0.1)
        if self.sample_strategy == "frequent":
            # most frequent first (``cl_preprocessor.py:108-127``); count
            # per (column, value) is one map-side-combinable aggregation
            distinct_vals = long_df.groupBy("column_name", "value").agg(
                F.count("*").alias("__f")
            )
            ord_key = (-F.col("__f")).cast("long")
        elif self.sample_strategy == "random":
            # seedless determinism: order by a value-derived hash, so the
            # "random" sample is partition- and run-stable (Spark
            # rand(seed) is partition-dependent, SURVEY §7.3)
            distinct_vals = long_df.distinct()
            ord_key = F.md5(F.concat(F.lit("hcs|"), F.col("value")))
        else:  # head: lexicographic order
            distinct_vals = long_df.distinct()
            ord_key = F.lit(0)

        return self._min_k(distinct_vals, ord_key, k)

    def _tfidf_row_sample(self, df: DataFrame, cols: List[str], k: int) -> DataFrame:
        """Row-level tf-idf sampling (``cl_preprocessor.py:185-213``): score
        every row by the mean idf of all its tokens, keep the top-k rows,
        then read each column's first-k distinct values down that ranking.
        Row identity is a content hash (identical rows collapse — a
        deterministic stand-in for the reference's positional index, which
        has no distributed meaning)."""
        rows = df.select(
            [F.col(c).cast("string").alias(c) for c in cols]
        ).withColumn(
            "__rh",
            F.md5(F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit("\x00")) for c in cols])),
        )
        # read by idf, the row scoring, and the final value pick
        long_rows = pin(
            rows.unpivot(["__rh"], cols, "column_name", "value").where(
                F.col("value").isNotNull()
            )
        )
        idf = self._token_idf(long_rows.select("column_name", "value"))
        row_scores = (
            long_rows.select(
                "__rh",
                "column_name",
                F.explode(self._split_tokens(F.col("value"))).alias("tok"),
            )
            .join(idf, ["column_name", "tok"])
            .groupBy("__rh")
            .agg(F.avg("idf").alias("score"))
        )
        top_rows = self._min_k(
            row_scores.withColumn("__g", F.lit("__rows__")),
            -F.col("score"),
            k,
            item="__rh",
            group="__g",
        )
        # ≤ k rows survive — driver-sized by construction (it's a sample)
        collected = top_rows.collect()
        ranked = [
            (rh, i) for i, rh in enumerate(collected[0]["vals"])
        ] if collected else []
        ranked = ranked or [("", 0)]
        spark = df.sparkSession
        order_df = F.broadcast(
            local_frame(spark, ranked, ["__rh", "__rank"])
        )
        picked = long_rows.join(order_df, "__rh")
        first = picked.groupBy("column_name", "value").agg(
            F.min("__rank").alias("__fr")
        )
        return self._min_k(first, F.col("__fr"), k)

    def _pmi_sample(self, df: DataFrame, cols: List[str], k: int) -> DataFrame:
        """PMI sampling (``cl_preprocessor.py:48-88``): the first column is
        the topic; every (topic value, column value) pair is scored
        count(pair) / (count(topic) · count(value)); each column's values
        rank by their best pair's PMI and spend the k-token budget down
        that ranking. The topic column pairs with itself, mirroring the
        reference's currIdx == topic case."""
        topic = cols[0]
        # read by the topic counts, the value counts and the PMI join
        pairs = pin(
            df.select([F.col(c).cast("string").alias(c) for c in cols])
            .withColumn("__t", F.col(topic))
            .where(F.col("__t").isNotNull())
            .unpivot(["__t"], cols, "column_name", "value")
            .where(F.col("value").isNotNull())
            .groupBy("__t", "column_name", "value")
            .agg(F.count("*").alias("__np"))
        )
        tcounts = (
            pairs.where(F.col("column_name") == topic)
            .groupBy("__t")
            .agg(F.sum("__np").alias("__nt"))
        )
        vcounts = pairs.groupBy("column_name", "value").agg(
            F.sum("__np").alias("__nv")
        )
        best = (
            pairs.join(F.broadcast(tcounts), "__t")
            .join(vcounts, ["column_name", "value"])
            .groupBy("column_name", "value")
            .agg(
                F.max(
                    F.col("__np") / (F.col("__nt") * F.col("__nv"))
                ).alias("score")
            )
        )
        sel = self._min_k(best, -F.col("score"), k)
        return sel.select(
            "column_name",
            self._budget_tokens(F.col("vals"), k, strict=False).alias("vals"),
        )

    def serialized_columns(
        self, df: DataFrame, columns: Optional[List[str]] = None
    ) -> DataFrame:
        cols = columns or df.columns
        serialized = self._sampled_values(df, cols).select(
            "column_name",
            F.concat(
                F.col("column_name"),
                F.lit(" "),
                F.array_join("vals", " "),
            ).alias("serialized"),
        )
        # columns that are entirely null never appear in long_df; re-add
        spark = df.sparkSession
        all_cols = local_frame(spark, [(c,) for c in cols], ["column_name"])
        return all_cols.join(serialized, "column_name", "left").select(
            "column_name",
            F.coalesce("serialized", F.col("column_name")).alias("serialized"),
        )

    def column_embeddings(
        self, df: DataFrame, columns: Optional[List[str]] = None
    ) -> DataFrame:
        ser = self.serialized_columns(df, columns)
        return self.text_embedder.embed_df(ser, "serialized", "embedding").select(
            "column_name", "embedding"
        )

    def serialized_columns_pair(
        self, source: DataFrame, target: DataFrame
    ) -> Optional[DataFrame]:
        """(side, column_name, serialized) for BOTH tables sampled in ONE
        job: the long forms are side-tagged, merged, and run through the
        shared sampler, halving the scheduling cost of every two-table
        embedding matcher. Serialized text uses the ORIGINAL column name,
        so results are identical to two single-table passes (the property
        the correctness oracle checks). Returns None for the row-level
        strategies (tfidf_row/pmi need table rows) — callers fall back to
        per-table passes."""
        if self.sample_strategy in ("tfidf_row", "pmi"):
            return None

        spark = source.sparkSession

        def tagged(table, side: str) -> DataFrame:
            return long_form(table, table.columns, spark).withColumn(
                "column_name", F.concat(F.lit(side + "\x1f"), F.col("column_name"))
            )

        merged = tagged(source, "s").unionByName(tagged(target, "t"))
        sampled = self._sampled_from_long(merged)
        orig = F.substring(F.col("column_name"), 3, 2_147_483_640)
        ser = sampled.select(
            F.substring("column_name", 1, 1).alias("side"),
            orig.alias("column_name"),
            F.concat(orig, F.lit(" "), F.array_join("vals", " ")).alias(
                "serialized"
            ),
        )
        # all-null columns never appear in the long form; re-add per side
        all_cols = local_frame(
            spark,
            [("s", c) for c in source.columns] + [("t", c) for c in target.columns],
            ["side", "column_name"],
        )
        return all_cols.join(ser, ["side", "column_name"], "left").select(
            "side",
            "column_name",
            F.coalesce("serialized", F.col("column_name")).alias("serialized"),
        )

    def column_embeddings_pair(
        self, source: DataFrame, target: DataFrame
    ) -> Optional[DataFrame]:
        ser = self.serialized_columns_pair(source, target)
        if ser is None:
            return None
        return self.text_embedder.embed_df(ser, "serialized", "embedding").select(
            "side", "column_name", "embedding"
        )


# Executor-local model cache: one (tokenizer, model) pair per model name
# per Python worker process — the lazy-singleton pattern for per-executor
# state under pandas UDFs (loaded on first batch, reused for the rest of
# the executor's life; never shipped through the closure).
_TRANSFORMER_SINGLETONS: dict = {}


def _load_transformer(model_name: str):
    if model_name not in _TRANSFORMER_SINGLETONS:
        import torch
        from transformers import AutoModel, AutoTokenizer

        from biomedical_data_integration_spark.models.artifacts import (
            resolve_model,
        )

        # provisioned local checkpoints win (artifact-store contract);
        # otherwise the name passes through to the transformers cache
        source = resolve_model(model_name, required=False) or model_name
        tok = AutoTokenizer.from_pretrained(source)
        model = AutoModel.from_pretrained(source)
        model.eval()
        torch.set_grad_enabled(False)
        _TRANSFORMER_SINGLETONS[model_name] = (tok, model)
    return _TRANSFORMER_SINGLETONS[model_name]


def _torch_encode_fn(model_name: str, max_length: int):
    """Batch encoder closure: list[str] -> list[list[float]] (mean-pooled
    last hidden state, the standard sentence-embedding readout). Only the
    *name* is captured; weights load lazily executor-side."""

    def encode(batch: List[str]) -> List[List[float]]:
        import torch

        tok, model = _load_transformer(model_name)
        enc = tok(
            batch,
            padding=True,
            truncation=True,
            max_length=max_length,
            return_tensors="pt",
        )
        with torch.no_grad():
            hidden = model(**enc).last_hidden_state
        mask = enc["attention_mask"].unsqueeze(-1).to(hidden.dtype)
        pooled = (hidden * mask).sum(dim=1) / mask.sum(dim=1).clamp(min=1.0)
        return pooled.cpu().double().numpy().tolist()

    return encode


class TransformerColumnEmbedder(ColumnEmbedder):
    """Real-model column embedder (reference: batch-128 RoBERTa inference,
    ``cl_api.py:22-55``; serialization budget ``cl_api.py:94-106``).

    The Spark plumbing is identical regardless of the model: columns are
    serialized by the same deterministic sampler the hashing embedder uses
    (one job for every column), then a pandas UDF encodes the serialized
    strings in sub-batches of ``batch_size`` per Arrow batch, with the
    model held as an executor-local lazy singleton (loaded once per Python
    worker, never serialized into the closure).

    ``encode_fn`` is injectable — ``callable(list[str]) -> list[list[float]]``
    — so the UDF/batching/schema path is testable without model weights;
    when omitted, a torch/transformers mean-pooled encoder is built (gated
    behind an import-try: this environment has no torch, and model-dependent
    outputs are off-oracle by design, SURVEY §5).
    """

    def __init__(
        self,
        model_name: str = "roberta-base",
        dim: int = 768,
        batch_size: int = 128,
        max_length: int = 128,
        sample_values: int = 15,
        sample_strategy: str = "head",
        encode_fn=None,
    ):
        self.model_name = model_name
        self.dim = dim
        self.batch_size = batch_size
        self.max_length = max_length
        self._sampler = HashingColumnEmbedder(
            sample_values=sample_values, sample_strategy=sample_strategy
        )
        self.encode_fn = encode_fn

    def _resolve_encode_fn(self):
        if self.encode_fn is not None:
            return self.encode_fn
        try:
            import torch  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "TransformerColumnEmbedder needs torch+transformers on the "
                "executors (or an injected encode_fn); use "
                "HashingColumnEmbedder for a deterministic dependency-free "
                "embedder."
            ) from e
        return _torch_encode_fn(self.model_name, self.max_length)

    def embed_strings(self, df: DataFrame, text_col: str, out_col: str) -> DataFrame:
        """Attach ``out_col: array<double>`` embeddings of ``text_col`` via
        the batched pandas UDF — usable for any string column, not just
        serialized schema columns."""
        from pyspark.sql.functions import pandas_udf

        encode = self._resolve_encode_fn()
        batch_size = self.batch_size

        @pandas_udf("array<double>")
        def _embed(s: pd.Series) -> pd.Series:
            out: List[List[float]] = []
            vals = s.fillna("").tolist()
            # sub-batch inside the Arrow batch: bounds peak tokenizer/model
            # memory at batch_size rows regardless of Arrow batch sizing
            for start in range(0, len(vals), batch_size):
                out.extend(encode(vals[start:start + batch_size]))
            return pd.Series(out)

        return df.withColumn(out_col, _embed(F.col(text_col)))

    def column_embeddings(
        self, df: DataFrame, columns: Optional[List[str]] = None
    ) -> DataFrame:
        ser = self._sampler.serialized_columns(df, columns)
        return self.embed_strings(ser, "serialized", "embedding").select(
            "column_name", "embedding"
        )


class TransformerTextEmbedder:
    """Real-model VALUE embedder with the ``embed_expr`` contract the
    value matchers consume (reference: flair word/transformer embeddings
    inside PolyFuzz, ``value_matching/polyfuzz.py:100-141``).

    ``embed_expr`` returns a batched pandas-UDF Column (executor-local
    lazy model singleton, same loading path as
    :class:`TransformerColumnEmbedder`), so
    ``EmbeddingValueMatcher(embedder=TransformerTextEmbedder("bert-..."))``
    — the reference's 'embedding'/'fasttext' methods with a real model —
    runs as a normal similarity-join plan. Model outputs are off-oracle
    by design; inject ``encode_fn`` for deterministic tests.
    """

    def __init__(
        self,
        model_name: str = "bert-base-multilingual-cased",
        dim: int = 768,
        batch_size: int = 128,
        max_length: int = 32,
        encode_fn=None,
    ):
        self.model_name = model_name
        self.dim = dim
        self.batch_size = batch_size
        self.max_length = max_length
        self.encode_fn = encode_fn

    def _resolve_encode_fn(self):
        if self.encode_fn is not None:
            return self.encode_fn
        try:
            import torch  # noqa: F401
            import transformers  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "TransformerTextEmbedder needs torch+transformers on the "
                "executors (or an injected encode_fn); the default "
                "HashingTextEmbedder is the dependency-free path."
            ) from e
        return _torch_encode_fn(self.model_name, self.max_length)

    def embed_expr(self, col: Column) -> Column:
        from pyspark.sql.functions import pandas_udf

        encode = self._resolve_encode_fn()
        batch_size = self.batch_size

        @pandas_udf("array<double>")
        def _embed(s: pd.Series) -> pd.Series:
            out: List[List[float]] = []
            vals = s.fillna("").tolist()
            for start in range(0, len(vals), batch_size):
                out.extend(encode(vals[start:start + batch_size]))
            return pd.Series(out)

        return _embed(col)
