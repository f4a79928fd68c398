"""Event-stream operators: tumbling windows and sessionization.

The reference is batch-only (SURVEY §1.1: no streaming anywhere), so this
module is an engine extension. Each operator has two faces with identical
semantics:

- a BATCH form (plain DataFrame in/out, oracle-checkable SQL), and
- a STREAMING form (same aggregation over ``readStream`` with watermarks),

because at 100 TB the events table is a stream in practice and the batch
form is its backfill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark.session import local_frame, pin


def tumbling_window_agg(
    events: DataFrame,
    window_duration: str = "1 hour",
    ts_col: str = "ts",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """Per-window, per-group counts and value stats.

    Output keys the window by epoch seconds (bigint) so results hash
    identically across engines/timezones.
    """
    win = F.window(F.col(ts_col), window_duration)
    return (
        events.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Batch sessionization with an inactivity gap (lag + running sum).

    A session breaks when the gap to the previous event of the same user
    exceeds ``gap_minutes``. One shuffle (partition by user), then pure
    window functions. Output: (user_id, session_id, session_start,
    session_end, n_events, sum_value) with epoch-second timestamps.
    """
    w_user = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    with_breaks = events.withColumn(
        "__new_session",
        F.when(
            F.unix_timestamp(F.col(ts_col))
            - F.unix_timestamp(F.lag(ts_col).over(w_user))
            > gap_s,
            1,
        )
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "__session_seq",
        F.sum("__new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_breaks.groupBy(user_col, "__session_seq")
        .agg(
            F.unix_timestamp(F.min(ts_col)).alias("session_start"),
            F.unix_timestamp(F.max(ts_col)).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .withColumnRenamed("__session_seq", "session_id")
    )


def streaming_tumbling_window_agg(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """Streaming face of tumbling_window_agg: watermarked windowed agg.
    Late rows beyond the watermark are dropped; output mode 'update' or
    'append' per sink semantics."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(
    stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming sessionization via ``session_window`` (native stateful
    session windows with the same inactivity-gap semantics as the batch
    ``sessionize``)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("w"),
            user_col,
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            user_col,
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            F.unix_timestamp(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_materialize(stream: DataFrame, mapping_spec) -> DataFrame:
    """Harmonization on a stream: materialize_mapping is a stateless
    projection, so the same plan compiles onto a streaming DataFrame
    unchanged (a large dictionary's broadcast join is a stream-static
    join against a driver-built relation, which needs no watermark)."""
    from biomedical_data_integration_spark.plans.spec import materialize_mapping

    return materialize_mapping(stream, mapping_spec)


def streaming_minhash_lsh_candidates(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming near-duplicate CANDIDATE detection — the streaming face of
    the banded-MinHash stage of ``operators.dedup.minhash_lsh_pairs``.

    Per document the banded signature is computed entirely per-row
    (``minhash_band_keys``: no shuffle, bit-identical keys to the batch
    grouped path), exploded to (band, key) bucket entries, and each bucket
    keeps ONE state row: its first-seen representative id. Every later
    document landing in the bucket emits a candidate pair
    ``(id_a = representative, id_b = newcomer)`` — a star per bucket, whose
    transitive closure equals the batch candidate graph's components (feed
    the pairs to ``duplicate_clusters`` for keep/drop decisions).

    Exact-Jaccard verification is deliberately NOT done here: it needs the
    shingle sets of both documents, and holding full shingle sets in
    streaming state is exactly the unbounded-state design this engine
    avoids; verify candidates in a batch job over the candidate log (the
    batch twin shares the same keys, so backfill and stream agree).

    ``state_ttl_minutes`` bounds state for unbounded corpora by expiring
    buckets not seen recently (processing-time TTL), trading recall across
    long time gaps — the same knob as ``streaming_dedup_exact``.

    Output: (band int, key string, id_a, id_b) — id types follow
    ``id_col``. The same pair may re-emit if a document reappears;
    downstream ``distinct()``/clustering absorbs it.
    """
    import pandas as pd  # noqa: F401  (executor-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from biomedical_data_integration_spark.functions.strings import word_ngrams
    from biomedical_data_integration_spark.operators.dedup import (
        _tokens,
        minhash_band_keys,
    )

    id_sql_type = stream.schema[id_col].dataType.simpleString()
    out_schema = (
        f"band int, key string, id_a {id_sql_type}, id_b {id_sql_type}"
    )
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    # stage tokens, then shingles, in their own projections: each is
    # multiply-referenced downstream (num_perm transforms over __sh)
    staged = (
        stream.select(
            F.col(id_col).alias("__id"), _tokens(F.col(text_col)).alias("__toks")
        )
        .select("__id", word_ngrams(F.col("__toks"), shingle_words).alias("__sh"))
        .where(F.col("__sh").isNotNull())
    )
    entries = staged.select(
        "__id",
        F.explode(minhash_band_keys(F.col("__sh"), num_perm, bands)).alias("bk"),
    ).select(
        "__id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )

    def _candidates(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        ids: set = set()
        for pdf in pdf_iter:
            ids.update(pdf["__id"].tolist())
        if not ids:
            return
        ordered = sorted(ids)
        if state.exists:
            rep = state.get[0]
        else:
            rep = ordered[0]
            state.update((rep,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        pairs = [(int(key[0]), key[1], rep, i) for i in ordered if i != rep]
        if pairs:
            yield pd.DataFrame(pairs, columns=["band", "key", "id_a", "id_b"])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return entries.groupBy("band", "key").applyInPandasWithState(
        _candidates,
        outputStructType=out_schema,
        stateStructType=f"rep {id_sql_type}",
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_minhash_join_candidates(
    stream: DataFrame,
    corpus_entries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Streaming incremental-ingestion candidates: arriving documents
    bucket against the STANDING corpus's persisted band entries
    (``operators.dedup.minhash_corpus_entries``) — the streaming face
    of ``minhash_lsh_join``'s candidate stage.

    Entirely STATELESS: per-row banded keys (``minhash_band_keys``, no
    shuffle, bit-identical to the batch grouped path) exploded into a
    stream-static inner equi-join on (band, key). No watermark, no
    managed state — the corpus side is a batch table refreshed on the
    corpus's own cadence. Exact-Jaccard verification stays a batch job
    over the candidate log (same rationale as
    ``streaming_minhash_lsh_candidates``: shingle sets don't belong in
    streaming state).

    Output: ``(new_id, corpus_id, band, key)``; the same pair may emit
    from several bands — downstream ``distinct()`` absorbs it.
    """
    from biomedical_data_integration_spark.functions.strings import word_ngrams
    from biomedical_data_integration_spark.operators.dedup import (
        _tokens,
        minhash_band_keys,
    )

    staged = (
        stream.select(
            F.col(id_col).alias("__id"),
            _tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "__id", word_ngrams(F.col("__toks"), shingle_words).alias("__sh")
        )
        .where(F.col("__sh").isNotNull())
    )
    entries = staged.select(
        "__id",
        F.explode(minhash_band_keys(F.col("__sh"), num_perm, bands)).alias(
            "bk"
        ),
    ).select(
        "__id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    corpus = corpus_entries.select(
        F.col("id").alias("corpus_id"), "band", "key"
    )
    return entries.join(corpus, ["band", "key"]).select(
        F.col("__id").alias("new_id"), "corpus_id", "band", "key"
    )


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming exact dedup with custom managed state
    (``applyInPandasWithState``): the streaming face of
    ``operators.dedup.drop_exact_duplicates``.

    Rows are keyed by content hash; per-key state records whether a
    document with that content was already emitted, so duplicates are
    dropped *across* microbatches, not just within one. Within a batch
    the min ``id_col`` row wins (deterministic, matching the batch twin's
    min-id representative). Unlike stream ``dropDuplicates`` this exposes
    the state knobs a 100 TB ingest needs: ``state_ttl_minutes`` bounds
    state size by expiring content hashes not seen recently (processing-
    time TTL) — the standard trade for unbounded corpora where exact
    forever-dedup would hold one state row per distinct document.

    Output schema = input schema. State per key: one boolean.
    """
    import pandas as pd  # noqa: F401  (executor-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = stream.schema
    cols = [f.name for f in out_schema.fields]
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    def _dedup(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if not state.exists and batches:
            allrows = pd.concat(batches, ignore_index=True)
            best = allrows.sort_values(id_col, kind="mergesort").head(1)
            state.update((True,))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            yield best[cols]
        elif state.exists and ttl_ms is not None:
            # refresh the TTL on every sighting of the content
            state.setTimeoutDuration(ttl_ms)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    hashed = stream.withColumn("__h", F.md5(F.col(text_col).cast("string")))
    return hashed.groupBy("__h").applyInPandasWithState(
        _dedup,
        outputStructType=out_schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=timeout,
    )


def parse_event_props(
    events: DataFrame,
    fields: dict[str, str] | None = None,
    props_col: str = "props",
) -> DataFrame:
    """Extract typed fields from the JSON ``props`` payload column —
    semi-structured event enrichment (JSON stays a string at rest; typed
    columns materialize at query time via ``get_json_object``, which
    Catalyst collapses into one shared JSON parse per row when multiple
    paths are extracted).

    ``fields`` maps output column name -> "$.path:type"
    (default ``{"k": "$.k:int"}`` for the synthetic events table).
    Works identically on batch and streaming frames (stateless projection).
    """
    fields = fields or {"k": "$.k:int"}
    cols = [F.col(c) for c in events.columns]
    for out_name, spec in fields.items():
        path, _, typ = spec.partition(":")
        extracted = F.get_json_object(F.col(props_col), path)
        cols.append((extracted.cast(typ) if typ else extracted).alias(out_name))
    return events.select(*cols)


def hopping_window_agg(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """Overlapping (hopping) window counts/sums — each event lands in
    ``duration / slide`` windows (Spark's ``window(ts, dur, slide)``,
    epoch-aligned starts). Same output shape as ``tumbling_window_agg``;
    the tumbling form is the special case ``slide == duration``."""
    win = F.window(F.col(ts_col), window_duration, slide)
    return (
        events.groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def streaming_asof_join(
    left_stream: DataFrame,
    right_stream: DataFrame,
    ts_col: str = "ts",
    by: tuple = ("user_id",),
    value_cols: list | None = None,
    right_ts_alias: str = "asof_ts",
    tolerance_seconds: int | None = None,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming face of :func:`operators.joins.asof_join` — each left row
    gains the value columns of the latest right row with
    ``right.ts <= left.ts`` per key, carried ACROSS microbatches via
    custom managed state (``applyInPandasWithState``).
    ``tolerance_seconds`` nulls out matches older than the window, like
    the batch twin.

    The state per key is exactly what the batch window carries at the
    partition frontier: the last right (ts, value...) tuple. Each batch
    unions both inputs, seeds the per-key merge with the state row, sorts
    by (ts, side) — right before left at equal ts, matching the batch
    twin's inclusive semantics — forward-fills, emits the enriched left
    rows, and persists the new frontier. Late right rows older than an
    already-persisted frontier still join correctly against later-batch
    left rows in their own time range (the seed participates in the sort),
    but cannot retro-enrich left rows already emitted — the standard
    streaming trade, bounded by the source's delivery skew.

    Equal-(key, ts) right duplicates resolve to the greatest value tuple,
    like the batch twin. ``state_ttl_minutes`` expires idle keys
    (processing-time TTL) to bound state on unbounded key spaces.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    by = list(by)
    if value_cols is None:
        value_cols = [
            c for c in right_stream.columns if c not in (*by, ts_col)
        ]
    left_payload = [c for c in left_stream.columns if c not in by and c != ts_col]
    l_types = dict(left_stream.dtypes)
    r_types = dict(right_stream.dtypes)
    ts_type = l_types[ts_col]

    l_part = left_stream.select(
        *[F.col(c) for c in by],
        F.col(ts_col),
        *[F.col(c) for c in left_payload],
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(r_types[c]).alias(f"__rv_{c}") for c in value_cols],
    )
    r_part = right_stream.select(
        *[F.col(c) for c in by],
        F.col(ts_col),
        *[F.lit(None).cast(l_types[c]).alias(c) for c in left_payload],
        F.lit(0).alias("__side"),
        *[F.col(c).alias(f"__rv_{c}") for c in value_cols],
    )
    unioned = l_part.unionByName(r_part)

    out_schema_ddl = ", ".join(
        [f"`{c}` {l_types[c]}" for c in by]
        + [f"`{ts_col}` {ts_type}"]
        + [f"`{c}` {l_types[c]}" for c in left_payload]
        + [f"`{right_ts_alias}` {ts_type}"]
        + [f"`{c}` {r_types[c]}" for c in value_cols]
    )
    state_ddl = ", ".join(
        [f"`rts` {ts_type}"] + [f"`v_{c}` {r_types[c]}" for c in value_cols]
    )
    rv_cols = [f"__rv_{c}" for c in value_cols]
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    def _carry(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        df = pd.concat(pdfs, ignore_index=True)
        if state.exists:
            st = state.get
            seed = {c: [None] for c in df.columns}
            seed[ts_col] = [st[0]]
            seed["__side"] = [0]
            for i, rc in enumerate(rv_cols):
                seed[rc] = [st[i + 1]]
            df = pd.concat([pd.DataFrame(seed), df], ignore_index=True)
        # right rows before left at equal ts (inclusive join); among
        # equal-(ts, side) right rows the greatest value tuple sorts last
        # and wins the forward fill — the batch twin's dedup rule
        df = df.sort_values(
            [ts_col, "__side", *rv_cols], kind="mergesort"
        ).reset_index(drop=True)
        carried = df[[ts_col, *rv_cols]].copy()
        carried.loc[df["__side"] != 0, :] = None
        carried = carried.rename(columns={ts_col: "__rts"}).ffill()
        out = df[df["__side"] == 1][[*by, ts_col, *left_payload]].copy()
        out[right_ts_alias] = carried.loc[out.index, "__rts"]
        for c, rc in zip(value_cols, rv_cols):
            out[c] = carried.loc[out.index, rc]
        if tolerance_seconds is not None and len(out):
            age = out[ts_col] - out[right_ts_alias]
            stale = (
                age.dt.total_seconds() > tolerance_seconds
                if hasattr(age, "dt")
                else age > tolerance_seconds
            )
            stale = stale.fillna(False)
            out.loc[stale, [right_ts_alias, *value_cols]] = None
        rights = df[df["__side"] == 0]
        if len(rights):
            last = rights.iloc[-1]
            state.update((last[ts_col], *[last[rc] for rc in rv_cols]))
        if ttl_ms is not None and state.exists:
            state.setTimeoutDuration(ttl_ms)
        if len(out):
            yield out

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return unioned.groupBy(*by).applyInPandasWithState(
        _carry,
        outputStructType=out_schema_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_interval_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    by: tuple = ("user_id",),
    start_col: str = "session_start",
    end_col: str = "session_end",
    watermark: str = "2 hours",
    max_duration_seconds: int = 86_400,
) -> DataFrame:
    """Streaming face of :func:`operators.joins.interval_join` (inner):
    Spark's NATIVE watermarked stream-stream join already implements
    bounded-state range joins, so no custom state is needed — the join
    condition bounds ``points.ts`` to
    ``[interval start, start + max_duration_seconds]``, which is what lets
    the engine age out join state on both sides.

    ``intervals`` must carry ``start_col``/``end_col`` as epoch seconds
    (the batch operator's convention); ``max_duration_seconds`` is the
    declared upper bound on interval length — intervals longer than it are
    truncated by the state-cleanup constraint, by design.
    """
    by = list(by)
    p_ts = (
        F.col(ts_col)
        if dict(points.dtypes)[ts_col].startswith("timestamp")
        else F.to_timestamp(F.from_unixtime(F.col(ts_col)))
    )
    p = points.withColumn("__p_ts", p_ts).withWatermark("__p_ts", watermark)
    i = intervals.select(
        *[F.col(c).alias(f"__i_{c}") for c in intervals.columns]
    ).withColumn(
        "__i_start_ts", F.to_timestamp(F.from_unixtime(F.col(f"__i_{start_col}")))
    ).withWatermark("__i_start_ts", watermark)
    cond = F.lit(True)
    for c in by:
        cond = cond & (F.col(c) == F.col(f"__i_{c}"))
    cond = (
        cond
        & (F.col("__p_ts") >= F.col("__i_start_ts"))
        & (
            F.col("__p_ts")
            <= F.col("__i_start_ts") + F.expr(
                f"INTERVAL {max_duration_seconds} SECONDS"
            )
        )
        & (
            F.unix_timestamp(F.col("__p_ts"))
            <= F.col(f"__i_{end_col}").cast("bigint")
        )
    )
    ivl_payload = [c for c in intervals.columns if c not in by]
    return p.join(i, cond, "inner").select(
        *[F.col(c) for c in points.columns],
        *[F.col(f"__i_{c}").alias(c) for c in ivl_payload],
    )


def streaming_hopping_window_agg(
    stream: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """Streaming face of ``hopping_window_agg`` (watermarked)."""
    win = F.window(F.col(ts_col), window_duration, slide)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *group_cols)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            *group_cols,
            "n_events",
            "sum_value",
        )
    )


def funnel_steps(
    df: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel analysis: for each user, the timestamp at which each
    step of ``steps`` was FIRST completed in order (step i counts only
    strictly after step i-1's completion). Returns one row per user with
    a ``step_<name>_ts`` column per step (null = never reached).

    Plan shape: ONE shuffle keyed by user — each step is an unbounded
    ``min(when(...))`` window over the same partitioning, and Catalyst
    stacks the Window nodes on a single exchange (later windows reuse the
    child's partitioning; no per-step scan or self-join, which is how the
    naive SQL formulation (one join per step) would explode at 100 TB).
    """
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    w = Window.partitionBy(user_col)
    out = df
    prev_ts = None
    for step in steps:
        col_name = f"step_{step}_ts"
        cond = F.col(type_col) == step
        if prev_ts is not None:
            cond = cond & (F.col(ts_col) > F.col(prev_ts))
        out = out.withColumn(
            col_name, F.min(F.when(cond, F.col(ts_col))).over(w)
        )
        prev_ts = col_name
    step_cols = [f"step_{s}_ts" for s in steps]
    return out.groupBy(user_col).agg(
        *[F.first(c).alias(c) for c in step_cols]
    )


def funnel_counts(
    df: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """One-row funnel summary: users reaching each ordered step (a user
    counts for step i only if they completed steps 0..i in order)."""
    per_user = funnel_steps(df, steps, user_col, ts_col, type_col)
    return per_user.agg(
        *[
            F.count(f"step_{s}_ts").alias(f"users_{s}")
            for s in steps
        ]
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    anchor_type: str = None,
    type_col: str = "event_type",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention: users grouped by their first-activity period
    (optionally anchored to ``anchor_type`` events), counted by how many
    periods later they were active again.

    Returns (cohort_start_date, period_offset, active_users): cohort =
    floor(first activity / period) as a date string; offset = whole
    periods between the cohort start and each active period.

    Plan shape: one window min per user (single shuffle), one distinct on
    (user, period) — both keyed by user/period, map-side combinable; the
    final count is period-cardinality-sized.
    """
    anchor = df
    if anchor_type is not None:
        anchor = df.where(F.col(type_col) == anchor_type)
    first_ts = anchor.groupBy(user_col).agg(
        F.min(ts_col).alias("__first_ts")
    )
    secs = period_days * 86400
    with_cohort = df.join(first_ts, user_col).select(
        F.col(user_col),
        (F.floor(F.unix_timestamp("__first_ts") / secs) * secs).alias("__c0"),
        (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs).alias("__p"),
    )
    return (
        with_cohort.where(F.col("__p") >= F.col("__c0"))
        .select(
            F.date_format(F.col("__c0").cast("timestamp"), "yyyy-MM-dd").alias(
                "cohort_start"
            ),
            ((F.col("__p") - F.col("__c0")) / secs).cast("int").alias(
                "period_offset"
            ),
            F.col(user_col),
        )
        .distinct()
        .groupBy("cohort_start", "period_offset")
        .agg(F.count("*").alias("active_users"))
    )


def streaming_funnel_steps(
    stream: DataFrame,
    steps,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    state_ttl_minutes: "int | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`funnel_steps`
    (``applyInPandasWithState``): per-user state carries the
    first-completion timestamp of each ordered step across microbatches;
    each batch emits the user's CURRENT step frontier (one row per user
    per batch that touched them — downstream keeps the latest).

    Equivalence contract with the batch face: identical step timestamps
    when each user's events arrive in event-time order across batches
    (the same in-order-delivery caveat as the other stateful twins; a
    late event older than an already-committed earlier step cannot
    retroactively improve the funnel, which batch recomputation would).
    State per user: one nullable epoch-micros long per step — bounded by
    len(steps), no event retention. The user KEY SPACE is unbounded on a
    real stream, so ``state_ttl_minutes`` expires users idle longer than
    the TTL (processing-time) — an expired user who returns restarts the
    funnel from step 0, the standard state/recall trade.
    """
    if not steps:
        raise ValueError("streaming_funnel_steps: steps must be non-empty")
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    n = len(steps)
    # generic over the batch twin's accepted shapes: user ids keep their
    # input type, and ts may be a timestamp OR a plain numeric epoch
    # column (the state always stores long micros/values)
    user_type = stream.schema[user_col].dataType
    ts_type = stream.schema[ts_col].dataType
    ts_is_timestamp = isinstance(ts_type, T.TimestampType)
    out_schema = T.StructType(
        [T.StructField(user_col, user_type)]
        + [T.StructField(f"step_{s}_ts", ts_type) for s in steps]
    )
    state_schema = ", ".join(f"s{i} long" for i in range(n))
    step_list = list(steps)
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    def _advance(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        cur = list(state.get) if state.exists else [None] * n
        batches = [p for p in pdf_iter if len(p)]
        if not batches:
            return
        allrows = pd.concat(batches, ignore_index=True)
        allrows = allrows.sort_values([ts_col], kind="mergesort")
        for _, row in allrows.iterrows():
            raw = row[ts_col]
            # pandas Timestamp -> long micros; numeric epoch -> long
            ts_v = int(raw.value // 1000) if hasattr(raw, "value") else int(raw)
            etype = row[type_col]
            for j, s in enumerate(step_list):
                if etype != s or cur[j] is not None:
                    continue
                if j == 0 or (cur[j - 1] is not None and ts_v > cur[j - 1]):
                    cur[j] = ts_v
        state.update(tuple(cur))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

        def render(v):
            if v is None:
                return pd.Timestamp("NaT") if ts_is_timestamp else None
            return pd.Timestamp(v, unit="us") if ts_is_timestamp else v

        out = {user_col: [key[0]]}
        for j, s in enumerate(step_list):
            out[f"step_{s}_ts"] = [render(cur[j])]
        yield pd.DataFrame(out)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(user_col).applyInPandasWithState(
        _advance,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=timeout,
    )


def event_rate_anomalies(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_seconds: int = 3600,
    z_threshold: float = 2.0,
) -> DataFrame:
    """Event-rate anomaly detection: bucket events into fixed windows per
    type, z-score each bucket's count against that type's own
    mean/stddev, flag |z| >= threshold — the monitoring query a pipeline
    runs over its ingest stream's backfill.

    Plan: one bucketing aggregation (map-side combinable) + per-type
    mean/std as unbounded windows over the BUCKET table (window-count
    sized, thousands of rows per type — not the event table), so the
    second pass is negligible at any corpus size. z rounds before the
    threshold comparison (oracle determinism).

    Returns (event_type, window_start epoch-secs, n_events, z, is_anomaly).
    """
    from biomedical_data_integration_spark import config

    secs = int(window_seconds)
    counts = (
        df.select(
            F.col(type_col),
            (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs)
            .cast("bigint")
            .alias("window_start"),
        )
        .groupBy(type_col, "window_start")
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy(type_col)
    sd = F.stddev_samp("n_events").over(w)
    # NULL sd (a type with one window) scores 0.0 like sd == 0 — keeps the
    # batch face equivalent to streaming_rate_anomalies, which gets NULL
    # sd from its left join and maps it the same way
    z = F.when(sd.isNull() | (sd == 0), F.lit(0.0)).otherwise(
        (F.col("n_events") - F.avg("n_events").over(w)) / sd
    )
    out = counts.withColumn("z", F.round(z, config.SIMILARITY_SCALE))
    return out.withColumn(
        "is_anomaly", F.abs(F.col("z")) >= F.lit(float(z_threshold))
    )


def hypertable_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    grains=(3600, 86400, 604800),
    round_output: bool = True,
) -> DataFrame:
    """Continuous-aggregate-style hierarchical time rollup (the
    "hypertable" pattern): aggregate raw events at the FINEST grain once,
    then derive every coarser grain by re-aggregating the previous bucket
    table — counts and sums add, min/max combine — so the raw table is
    scanned exactly ONCE no matter how many grains are materialized.

    At 100 TB this is the difference between one fact scan and one per
    grain; the coarser re-aggregations run over bucket tables that are
    orders of magnitude smaller (hour buckets ~ corpus_days * 24 rows per
    group key). Every coarser grain must be an integer multiple of the
    finest (validated), which is what makes bucket re-bucketing exact.

    Returns (grain_seconds, window_start, n_events, sum_value, min_value,
    max_value) for all grains unioned, epoch-second windows.

    ``round_output=True`` (default) rounds the value columns for
    presentation/oracle determinism. For a table you will keep MERGING
    incrementally via :func:`rollup_merge`, materialize with
    ``round_output=False``: merging rounded snapshots re-rounds rounded
    sums, which can drift from a full recompute by up to half an ulp of
    the rounding scale per merge.
    """
    grains = sorted(int(g) for g in grains)
    if not grains or grains[0] < 1:
        raise ValueError("hypertable_rollup: grains must be positive ints")
    g0 = grains[0]
    for g in grains[1:]:
        if g % g0 != 0:
            raise ValueError(
                f"hypertable_rollup: grain {g} is not a multiple of the "
                f"finest grain {g0} — bucket re-aggregation would be inexact"
            )
    base = (
        df.select(
            (F.floor(F.unix_timestamp(F.col(ts_col)) / g0) * g0)
            .cast("bigint")
            .alias("window_start"),
            F.col(value_col).alias("__v"),
        )
        .groupBy("window_start")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("__v").alias("__sum"),
            F.min("__v").alias("__min"),
            F.max("__v").alias("__max"),
        )
    )
    # ONE chain, no union-of-references: each finest bucket explodes into
    # its (grain, coarser-window) memberships, then a single re-aggregation
    # combines buckets per grain. A union of per-grain branches would
    # re-execute the base aggregation (and the raw scan) once per branch —
    # Spark does not dedupe common subplans across union arms.
    exploded = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(g).alias("grain_seconds"),
                        (F.floor(F.col("window_start") / g) * g)
                        .cast("bigint")
                        .alias("window_start"),
                    )
                    for g in grains
                ]
            )
        ).alias("__g"),
        "n_events", "__sum", "__min", "__max",
    ).select(
        F.col("__g.grain_seconds").alias("grain_seconds"),
        F.col("__g.window_start").alias("window_start"),
        "n_events", "__sum", "__min", "__max",
    )
    out = exploded.groupBy("grain_seconds", "window_start").agg(
        F.sum("n_events").alias("n_events"),
        F.sum("__sum").alias("__sum"),
        F.min("__min").alias("__min"),
        F.max("__max").alias("__max"),
    )
    if round_output:
        return out.select(
            "grain_seconds", "window_start", "n_events",
            F.round("__sum", 2).alias("sum_value"),
            F.round("__min", 2).alias("min_value"),
            F.round("__max", 2).alias("max_value"),
        )
    return out.select(
        "grain_seconds", "window_start", "n_events",
        F.col("__sum").alias("sum_value"),
        F.col("__min").alias("min_value"),
        F.col("__max").alias("max_value"),
    )


def rollup_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental maintenance of a :func:`hypertable_rollup` table: merge
    a new delta rollup (e.g., today's events rolled up with the same
    grains) into the materialized one. Counts and sums add, min/max
    combine — one unionByName + re-aggregation over bucket tables only;
    the historical raw data is never rescanned, which is the entire point
    of maintaining a continuous aggregate.

    Both inputs must share the hypertable_rollup output schema. Feed it
    UNROUNDED rollups (``hypertable_rollup(..., round_output=False)``):
    merging rounded snapshots compounds rounding error (up to 0.005 per
    bucket per merge at the default 2-decimal scale). The merge result is
    rounded once, at the end.
    """
    cols = {
        "grain_seconds", "window_start", "n_events",
        "sum_value", "min_value", "max_value",
    }
    for side, df in (("existing", existing), ("delta", delta)):
        missing = cols - set(df.columns)
        if missing:
            raise ValueError(f"rollup_merge: {side} is missing {sorted(missing)}")
    return (
        existing.unionByName(delta)
        .groupBy("grain_seconds", "window_start")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value"), 2).alias("sum_value"),
            F.round(F.min("min_value"), 2).alias("min_value"),
            F.round(F.max("max_value"), 2).alias("max_value"),
        )
    )


def rate_stats(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_seconds: int = 3600,
) -> DataFrame:
    """Per-type mean/stddev of fixed-window event counts — the reference
    statistics :func:`streaming_rate_anomalies` scores against. Fit on
    the batch backfill; the output is type-cardinality-sized."""
    secs = int(window_seconds)
    counts = (
        df.select(
            F.col(type_col),
            (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs)
            .cast("bigint")
            .alias("window_start"),
        )
        .groupBy(type_col, "window_start")
        .agg(F.count("*").alias("n_events"))
    )
    return counts.groupBy(type_col).agg(
        F.avg("n_events").alias("mean_events"),
        F.stddev_samp("n_events").alias("sd_events"),
    )


def streaming_rate_anomalies(
    stream: DataFrame,
    stats: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window_seconds: int = 3600,
    watermark: str = "2 hours",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Streaming twin of :func:`event_rate_anomalies` in the fit/serve
    split every production monitor uses: ``stats`` comes from
    :func:`rate_stats` over the batch backfill (type-cardinality-sized,
    broadcast), and the stream side is ONE watermarked tumbling count per
    (type, window) plus a stateless z-score projection — no unbounded
    state, late data handled by the watermark.

    Emits (event_type, window_start, n_events, z, is_anomaly) per closed
    window (append mode downstream).
    """
    from biomedical_data_integration_spark import config

    secs = int(window_seconds)
    counts = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), f"{secs} seconds").alias("__w"),
            F.col(type_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            type_col,
            F.unix_timestamp(F.col("__w.start")).cast("bigint").alias(
                "window_start"
            ),
            "n_events",
        )
    )
    joined = counts.join(F.broadcast(stats), type_col, "left")
    z = F.when(
        F.col("sd_events").isNull() | (F.col("sd_events") == 0), F.lit(0.0)
    ).otherwise(
        (F.col("n_events") - F.col("mean_events")) / F.col("sd_events")
    )
    out = joined.withColumn("z", F.round(z, config.SIMILARITY_SCALE))
    return out.select(
        type_col, "window_start", "n_events", "z",
        (F.abs(F.col("z")) >= F.lit(float(z_threshold))).alias("is_anomaly"),
    )


def streaming_hypertable_base(
    stream: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    grain_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming maintenance of a hypertable's FINEST grain: a
    watermarked tumbling aggregation emitting rows in the
    :func:`hypertable_rollup` schema (grain_seconds, window_start,
    n_events, sum_value, min_value, max_value) — UNROUNDED, ready for
    :func:`rollup_merge`.

    This is the continuous-aggregate split: the stream maintains only the
    finest buckets (bounded state = open windows), and a periodic batch
    job merges closed buckets into the materialized rollup and re-derives
    the coarser grains from bucket tables — history is never rescanned.
    """
    secs = int(grain_seconds)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{secs} seconds").alias("__w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .select(
            F.lit(secs).alias("grain_seconds"),
            F.unix_timestamp(F.col("__w.start")).cast("bigint").alias(
                "window_start"
            ),
            "n_events", "sum_value", "min_value", "max_value",
        )
    )


def gapfill(
    df: DataFrame,
    bucket_seconds: int = 3600,
    ts_col: str = "ts",
    value_col: str = "value",
    group_cols: tuple = ("event_type",),
    fill: str = "locf",
    start: int | None = None,
    end: int | None = None,
) -> DataFrame:
    """Time-bucket gap filling with LOCF or linear interpolation — the
    TimescaleDB ``time_bucket_gapfill`` + ``locf()``/``interpolate()``
    pattern (an engine extension; the reference has no time-series ops).

    Pipeline (raw data is scanned exactly once):

    1. aggregate raw rows to (group, bucket) — ONE shuffle over the fact
       table; everything after runs on the aggregate, which is
       |groups| x |buckets| sized, not corpus-sized;
    2. derive the global [start, end] bucket range inside the same job
       (1-row aggregate, broadcast cross join) unless given explicitly;
    3. build the dense grid with ``F.sequence`` exploded per group — no
       driver-side range generation, no collect;
    4. left-join observed buckets onto the grid and fill:
       ``fill='none'``  -> missing buckets keep NULL value,
       ``fill='locf'``  -> last observation carried forward,
       ``fill='linear'``-> linear interpolation between the nearest
       observed buckets (edges fall back to the one-sided neighbor).

    Both fill modes are single Window nodes: LOCF is one backward frame;
    linear uses backward + forward frames over the SAME partition/order
    spec, so Spark plans one exchange + one sort. Output: (*group_cols,
    bucket_start epoch-seconds, n_events with 0 for gaps, value_filled
    rounded to 4, filled 0/1 flag).

    At 100 TB the grid is dashboard-sized (buckets per group), so the
    windows never see raw-event cardinality; the only full-data work is
    the initial aggregation, which combines map-side.
    """
    if fill not in ("none", "locf", "linear"):
        raise ValueError(f"gapfill: unknown fill mode {fill!r}")
    secs = int(bucket_seconds)
    if secs < 1:
        raise ValueError("gapfill: bucket_seconds must be a positive int")
    gcols = list(group_cols)

    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs).cast(
        "bigint"
    )
    observed = (
        df.select(*gcols, bucket.alias("bucket_start"),
                  F.col(value_col).alias("__v"))
        .groupBy(*gcols, "bucket_start")
        # the bucket average is pre-rounded to a fixed 6-decimal scale:
        # downstream interpolation then runs on engine-identical doubles
        # (raw float avgs differ across engines in the last ulp from
        # summation order, which can flip the output rounding)
        .agg(
            F.count("*").alias("__n"),
            F.round(F.avg("__v"), 6).alias("__obs"),
        )
    )

    if start is None or end is None:
        rng = observed.agg(
            F.min("bucket_start").alias("__lo"),
            F.max("bucket_start").alias("__hi"),
        )
    else:
        rng = None
    lo = F.lit(int(start)).cast("bigint") if start is not None else F.col("__lo")
    hi = F.lit(int(end)).cast("bigint") if end is not None else F.col("__hi")

    groups = observed.select(*gcols).distinct()
    if rng is not None:
        groups = groups.crossJoin(F.broadcast(rng))
    grid = groups.select(
        *gcols,
        F.explode(
            F.sequence(lo, hi, F.lit(secs).cast("bigint"))
        ).alias("bucket_start"),
    )

    joined = grid.join(observed, gcols + ["bucket_start"], "left")

    w = Window.partitionBy(*gcols).orderBy("bucket_start")
    wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    if fill == "none":
        filled = F.col("__obs")
    elif fill == "locf":
        filled = F.last("__obs", ignorenulls=True).over(wb)
    else:  # linear
        wf = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        at_obs = F.when(F.col("__obs").isNotNull(), F.col("bucket_start"))
        prev_v = F.last("__obs", ignorenulls=True).over(wb)
        prev_b = F.last(at_obs, ignorenulls=True).over(wb)
        next_v = F.first("__obs", ignorenulls=True).over(wf)
        next_b = F.first(at_obs, ignorenulls=True).over(wf)
        filled = (
            F.when(F.col("__obs").isNotNull(), F.col("__obs"))
            .when(
                prev_v.isNotNull() & next_v.isNotNull(),
                prev_v
                + (next_v - prev_v)
                * (F.col("bucket_start") - prev_b)
                / (next_b - prev_b),
            )
            .when(prev_v.isNotNull(), prev_v)
            .otherwise(next_v)
        )
    # explicit floor(x*1e4 + 0.5)/1e4 instead of round(): engine round()
    # implementations disagree on exact decimal ties (Spark re-parses the
    # shortest decimal via BigDecimal HALF_UP; DuckDB rounds the raw
    # double), and interpolation at regular gaps produces exact .xxxx5
    # ties. floor on bit-identical doubles is deterministic cross-engine.
    quant = F.floor(filled * 10000 + F.lit(0.5)) / 10000
    return joined.select(
        *gcols,
        "bucket_start",
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_events"),
        quant.alias("value_filled"),
        F.col("__n").isNotNull().cast("int").alias("observed"),
    )


def _quant_expr(col, scale: int):
    """floor(x*10^s + 0.5)/10^s — cross-engine-deterministic decimal
    quantization (engine round() disagrees on exact decimal ties)."""
    m = float(10 ** scale)
    return F.floor(col * m + F.lit(0.5)) / m


def attribute_conversions(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    model: str = "last_touch",
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Marketing attribution: credit each conversion event to the
    last (or first) preceding touch event of the same user.

    Implementation is the as-of-join pattern (operators/joins.py): ONE
    user-keyed exchange, events ordered by (ts, event_id) — a strict
    total order, so equal-timestamp ties are deterministic — with the
    touch fields carried forward by an ignore-nulls window. No per-pair
    expansion: each conversion reads exactly one carried row, so the
    cost is one window over the (filtered) event stream regardless of
    how many touches precede a conversion.

    ``model='last_touch'`` carries the most recent touch;
    ``'first_touch'`` carries the user's earliest touch. Conversions
    with no preceding touch emit NULL touch fields (they stay countable
    as unattributed). Output: (user_id, event_id, conv_epoch,
    conv_value, touch_event_id, touch_type, touch_epoch).
    """
    if model not in ("last_touch", "first_touch"):
        raise ValueError(f"attribute_conversions: unknown model {model!r}")
    ev = events.where(
        F.col(type_col).isin(conversion_type, *touch_types)
    ).select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_timestamp(F.col(ts_col)).alias("epoch"),
        F.col(type_col).alias("etype"),
        F.col(value_col).alias("value"),
    )
    is_touch = F.col("etype").isin(*touch_types)
    touch_struct = F.when(
        is_touch,
        F.struct(
            F.col("event_id").alias("tid"),
            F.col("etype").alias("ttype"),
            F.col("epoch").alias("tepoch"),
        ),
    )
    w = Window.partitionBy("user_id").orderBy("epoch", "event_id")
    carry = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fn = F.last if model == "last_touch" else F.first
    out = ev.withColumn("t", fn(touch_struct, ignorenulls=True).over(carry))
    return out.where(F.col("etype") == conversion_type).select(
        "user_id",
        "event_id",
        F.col("epoch").alias("conv_epoch"),
        F.round("value", 4).alias("conv_value"),
        F.col("t.tid").alias("touch_event_id"),
        F.col("t.ttype").alias("touch_type"),
        F.col("t.tepoch").alias("touch_epoch"),
    )


def event_transition_matrix(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    p_scale: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (sequential pattern mining / journey modeling): pair each
    event with the user's previous event via lag over ONE user-keyed
    window — (ts, event_id) total order, deterministic ties — then one
    pair-count aggregation and a per-source normalization window.

    Output (src_type, dst_type, n_transitions, p) where p is the
    row-stochastic transition probability, floor-quantized to
    ``p_scale`` decimals (integer-ratio quotients can land on exact
    decimal ties, where engine round() rules disagree). Cost: one
    exchange by user + one by src_type — both map-side combinable; the
    matrix itself is |types|² — dashboard-sized however big the corpus.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("src_type"),
            F.col(type_col).alias("dst_type"),
        )
        .where(F.col("src_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count("*").alias("n_transitions"))
    )
    wsrc = Window.partitionBy("src_type")
    return pairs.select(
        "src_type",
        "dst_type",
        "n_transitions",
        _quant_expr(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wsrc),
            p_scale,
        ).alias("p"),
    )


def streaming_attribute_conversions(
    stream: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    model: str = "last_touch",
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming face of :func:`attribute_conversions`: conversions are
    credited to the carried touch frontier per user, across microbatches
    via ``applyInPandasWithState``.

    State per user is exactly what the batch window carries at the
    partition frontier: ONE touch tuple (id, type, epoch) — the most
    recent touch for ``last_touch``, the earliest ever for
    ``first_touch``. Each batch seeds the per-user sort with the state
    row, replays the batch twin's (epoch, event_id) order, emits
    attributed conversions, and persists the new frontier. Bounded
    state: one row per user, ``state_ttl_minutes`` expires idle users
    (the dedup/LSH/funnel TTL discipline).

    Output schema matches the batch twin. Late touches older than an
    already-emitted conversion cannot retro-attribute it — the standard
    streaming trade, same as the as-of twin.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if model not in ("last_touch", "first_touch"):
        raise ValueError(
            f"streaming_attribute_conversions: unknown model {model!r}"
        )
    types = dict(stream.dtypes)
    uid_t, eid_t = types[user_col], types[id_col]
    ev = stream.where(
        F.col(type_col).isin(conversion_type, *touch_types)
    ).select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_timestamp(F.col(ts_col)).alias("epoch"),
        F.col(type_col).alias("etype"),
        F.col(value_col).cast("double").alias("value"),
    )
    out_ddl = (
        f"`user_id` {uid_t}, `event_id` {eid_t}, `conv_epoch` bigint, "
        f"`conv_value` double, `touch_event_id` {eid_t}, "
        f"`touch_type` string, `touch_epoch` bigint"
    )
    state_ddl = f"`tid` {eid_t}, `ttype` string, `tepoch` bigint"
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )
    touches = set(touch_types)
    first = model == "first_touch"

    def _attr(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        df = pd.concat(pdfs, ignore_index=True).sort_values(
            ["epoch", "event_id"], kind="mergesort"
        )
        frontier = tuple(state.get) if state.exists else None
        rows = []
        for r in df.itertuples(index=False):
            if r.etype in touches:
                if frontier is None or not first:
                    frontier = (r.event_id, r.etype, int(r.epoch))
            else:
                rows.append(
                    (
                        key[0], r.event_id, int(r.epoch),
                        round(r.value, 4) if r.value is not None else None,
                        frontier[0] if frontier else None,
                        frontier[1] if frontier else None,
                        frontier[2] if frontier else None,
                    )
                )
        if frontier is not None:
            state.update(frontier)
        if ttl_ms is not None and state.exists:
            state.setTimeoutDuration(ttl_ms)
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id", "event_id", "conv_epoch", "conv_value",
                    "touch_event_id", "touch_type", "touch_epoch",
                ],
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _attr,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_transition_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming face of :func:`event_transition_matrix`: per-microbatch
    (src_type, dst_type, n_transitions) DELTAS, mergeable downstream by
    plain summation (the CMS/rollup_merge maintenance discipline —
    normalize to probabilities only at read time).

    State per user is the batch lag-window frontier: the (epoch,
    event_id, type) of the user's latest event, so the first event of a
    new batch pairs with the last event of the previous one exactly like
    the batch twin's single window. One state row per user; TTL expires
    idle users.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = stream.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_timestamp(F.col(ts_col)).alias("epoch"),
        F.col(type_col).alias("etype"),
    )
    out_ddl = "`src_type` string, `dst_type` string, `n_transitions` bigint"
    state_ddl = "`epoch` bigint, `event_id` bigint, `etype` string"
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    def _pairs(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        df = pd.concat(pdfs, ignore_index=True).sort_values(
            ["epoch", "event_id"], kind="mergesort"
        )
        prev = state.get[2] if state.exists else None
        counts: dict = {}
        for r in df.itertuples(index=False):
            if prev is not None:
                p = (prev, r.etype)
                counts[p] = counts.get(p, 0) + 1
            prev = r.etype
        last = df.iloc[-1]
        state.update((int(last["epoch"]), int(last["event_id"]),
                      last["etype"]))
        if ttl_ms is not None and state.exists:
            state.setTimeoutDuration(ttl_ms)
        if counts:
            yield pd.DataFrame(
                [(s, d, n) for (s, d), n in counts.items()],
                columns=["src_type", "dst_type", "n_transitions"],
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _pairs,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=timeout,
    )


def seasonal_naive_eval(
    events: DataFrame,
    season_buckets: int = 24,
    bucket_seconds: int = 3600,
    ts_col: str = "ts",
    group_cols: tuple = ("event_type",),
    value_col: str = "value",
) -> DataFrame:
    """Seasonal-naive forecast evaluation — the baseline every real
    forecasting pipeline must beat, and a drift monitor on its own: the
    forecast for bucket t is the observed value at t - season, and the
    output is per-group error metrics (MAE, sMAPE, coverage).

    One raw aggregation to (group, bucket) sums, one lag window per
    group over the bucket table (bucket-count-sized — never raw rows),
    one metrics aggregation. Buckets missing a seasonal ancestor (the
    first season, or gaps) are excluded from the metrics and reported in
    ``n_unforecast``. Metrics floor-quantized to 6 decimals.

    Output: (*group_cols, n_buckets, n_forecast, n_unforecast, mae,
    smape) where sMAPE uses the 2|f-a| / (|f|+|a|) form, 0-when-both-0.
    """
    secs = int(bucket_seconds)
    if secs < 1 or season_buckets < 1:
        raise ValueError(
            "seasonal_naive_eval: bucket_seconds and season_buckets "
            "must be positive"
        )
    gcols = list(group_cols)
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / secs) * secs).cast(
        "bigint"
    )
    obs = (
        events.select(*gcols, bucket.alias("b"),
                      F.col(value_col).alias("__v"))
        .groupBy(*gcols, "b")
        .agg(F.round(F.sum("__v"), 6).alias("actual"))
    )
    # the seasonal ancestor is looked up by exact bucket arithmetic
    # (equi-join on b - season), NOT a positional lag: with gaps in the
    # observed bucket sequence a positional lag lands on the wrong
    # bucket and would either mis-score or needlessly exclude rows
    prev = obs.select(
        *gcols,
        (F.col("b") + F.lit(season_buckets * secs)).alias("b"),
        F.col("actual").alias("forecast"),
    )
    with_f = obs.join(prev, gcols + ["b"], "left")
    scored = F.col("forecast").isNotNull()
    ae = F.abs(F.col("forecast") - F.col("actual"))
    denom = F.abs(F.col("forecast")) + F.abs(F.col("actual"))
    smape_term = F.when(denom > 0, F.lit(2.0) * ae / denom).otherwise(
        F.lit(0.0)
    )
    # per-row error terms quantize to exact integer micro-units BEFORE
    # summation: bigint sums are order-free and engine-exact, so the
    # metrics cannot flip on float-sum ordering (the lm_score lesson)
    ae_i = F.floor(ae * 1e6 + F.lit(0.5)).cast("bigint")
    sm_i = F.floor(smape_term * 1e6 + F.lit(0.5)).cast("bigint")
    n_scored = F.sum(scored.cast("long"))
    return with_f.groupBy(*gcols).agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        n_scored.cast("bigint").alias("n_forecast"),
        (F.count("*") - n_scored).cast("bigint").alias("n_unforecast"),
        (
            F.sum(F.when(scored, ae_i)).cast("double")
            / (n_scored * F.lit(1e6))
        ).alias("mae"),
        (
            F.sum(F.when(scored, sm_i)).cast("double")
            / (n_scored * F.lit(1e6))
        ).alias("smape"),
    )


def m4_downsample(
    events: DataFrame,
    n_buckets: int = 400,
    ts_col: str = "ts",
    value_col: str = "value",
    group_cols: tuple = ("event_type",),
) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB'14): per time bucket keep the
    min, max, first, and last points — the reduction that renders a
    pixel-perfect line chart from billions of points, because those four
    points are exactly what a line crossing a pixel column can display.

    One raw aggregation per group x bucket (min/max over value,
    min_by/max_by over time — all map-side combinable), emitting up to
    4 rows per bucket tagged by role. Equal-value/equal-ts ties resolve
    by (value, epoch) / (epoch, value) tuple order so the selected
    points are deterministic. The bucket count is the DISPLAY width —
    output size is 4 * n_buckets * |groups| no matter the input volume,
    which is the whole point at 100 TB.

    Output: (*group_cols, bucket, role in {min,max,first,last},
    epoch, value). Bucket boundaries come from the global [min, max]
    epoch range (computed in the same job, broadcast back).
    """
    if n_buckets < 1:
        raise ValueError("m4_downsample: n_buckets must be >= 1")
    gcols = list(group_cols)
    base = events.select(
        *gcols,
        F.unix_timestamp(F.col(ts_col)).alias("__e"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())
    rng = base.agg(
        F.min("__e").alias("__lo"), F.max("__e").alias("__hi")
    )
    span = F.greatest(F.col("__hi") - F.col("__lo"), F.lit(1))
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.floor((F.col("__e") - F.col("__lo")) * n_buckets / span).cast(
            "int"
        ),
    )
    # per-role argmin/argmax as struct extremes: tuple order makes ties
    # deterministic (min value then earliest ts, first ts then min value)
    by_val = F.struct(F.col("__v"), F.col("__e"))
    by_ts = F.struct(F.col("__e"), F.col("__v"))
    agg = (
        base.crossJoin(F.broadcast(rng))
        .groupBy(*gcols, bucket.alias("bucket"))
        .agg(
            F.min(by_val).alias("__min"),
            F.max(by_val).alias("__max"),
            F.min(by_ts).alias("__first"),
            F.max(by_ts).alias("__last"),
        )
    )
    roles = F.array(
        F.struct(F.lit("min").alias("role"),
                 F.col("__min.__e").alias("epoch"),
                 F.col("__min.__v").alias("value")),
        F.struct(F.lit("max").alias("role"),
                 F.col("__max.__e").alias("epoch"),
                 F.col("__max.__v").alias("value")),
        F.struct(F.lit("first").alias("role"),
                 F.col("__first.__e").alias("epoch"),
                 F.col("__first.__v").alias("value")),
        F.struct(F.lit("last").alias("role"),
                 F.col("__last.__e").alias("epoch"),
                 F.col("__last.__v").alias("value")),
    )
    return agg.select(
        *gcols, "bucket", F.explode(roles).alias("r")
    ).select(
        *gcols, "bucket", "r.role", "r.epoch",
        F.round("r.value", 4).alias("value"),
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    window: int = 8,
    tiebreak_col: str = "event_id",
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key over event order —
    the standard smoothing pass before thresholding a noisy metric
    (pairs with :func:`rate_anomalies` / robust z-scores).

    Truncated form: each row's EWMA uses its last ``window`` values with
    weights ``(1-alpha)^i`` (i = lag distance), normalized over the
    weights actually present — so the head of a series is an average of
    what exists, not biased toward a fake zero history.

    Spark-first shape: ``window`` stacked ``lag`` expressions SHARING
    ONE window spec — one key-hash exchange + one sort, no self-join,
    no per-row list building. The weighted sum is a fixed-shape
    expression tree over the lags, so both engines evaluate the
    identical IEEE arithmetic (weights are rendered literals; output
    floor-quantized to 6 decimals). The lag stack is O(window) columns:
    for windows beyond ~32 use a range-frame aggregate instead.
    """
    from pyspark.sql import Window

    if not 0.0 < alpha <= 1.0:
        raise ValueError("ewma_smooth: alpha must be in (0, 1]")
    if window < 1:
        raise ValueError("ewma_smooth: window must be >= 1")
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    v = F.col(value_col).cast("double")
    lags = [v if i == 0 else F.lag(v, i).over(w) for i in range(window)]
    weights = [(1.0 - alpha) ** i for i in range(window)]
    num = None
    den = None
    for lag_expr, wt in zip(lags, weights):
        term = F.when(lag_expr.isNotNull(), lag_expr * F.lit(wt)).otherwise(
            F.lit(0.0)
        )
        pres = F.when(lag_expr.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = pres if den is None else den + pres
    smoothed = F.floor(num / den * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return df.withColumn(out_col, smoothed)


def streaming_ewma(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    alpha: float = 0.5,
    tiebreak_col: str = "event_id",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming recursive EWMA per key (``applyInPandasWithState``):
    the stateful face of :func:`ewma_smooth`. Each key carries ONE
    number of state — the last smoothed value — and every arriving row
    emits ``ewma = alpha * v + (1 - alpha) * prev`` folded in (ts,
    tiebreak) order within the batch.

    Relationship to the batch twin: :func:`ewma_smooth` truncates the
    recursion at ``window`` lags, so the two agree up to a
    ``(1-alpha)^window`` tail (identical as window -> inf on the same
    prefix). State is O(1) per key; ``state_ttl_minutes`` expires idle
    keys the way the other stateful faces do.

    Output schema = input schema + ``ewma`` double.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import DoubleType, StructField, StructType

    if not 0.0 < alpha <= 1.0:
        raise ValueError("streaming_ewma: alpha must be in (0, 1]")
    out_schema = StructType(
        list(stream.schema.fields) + [StructField("ewma", DoubleType())]
    )
    cols = [f.name for f in stream.schema.fields]
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )
    a = float(alpha)

    def _fold(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if not batches:
            return
        allrows = pd.concat(batches, ignore_index=True).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        prev = state.get[0] if state.exists else None
        out = []
        for v in allrows[value_col].astype(float):
            prev = v if prev is None else a * v + (1.0 - a) * prev
            out.append(prev)
        allrows["ewma"] = out
        state.update((float(prev),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield allrows[cols + ["ewma"]]

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType="last_ewma double",
        outputMode="append",
        timeoutConf=timeout,
    )


def streaming_bin_counts(
    stream: DataFrame,
    boundaries: list[float],
    value_col: str = "value",
) -> DataFrame:
    """Running per-bin counts of a value stream against FIXED bin
    boundaries (bin = #boundaries <= v, the ``discretize`` convention;
    boundaries typically come from ``type1_boundaries`` on a baseline
    window, collected once). Stateless binning expression + ONE
    streaming groupBy — the maintained side of a drift monitor; read
    PSI out with :func:`psi_readout` against the frozen baseline
    counts. Works identically on batch frames.
    """
    if not boundaries:
        raise ValueError("streaming_bin_counts: need at least one boundary")
    v = F.col(value_col).cast("double")
    bnd = F.array(*[F.lit(float(b)) for b in boundaries])
    bin_expr = F.aggregate(
        bnd,
        F.lit(0),
        lambda acc, b: acc + F.when(v >= b, F.lit(1)).otherwise(F.lit(0)),
    ).cast("int")
    return (
        stream.where(v.isNotNull())
        .select(bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def streaming_variant_counts(
    stream: DataFrame,
    variant_col: str = "variant",
) -> DataFrame:
    """Running per-variant unit counts — the maintained side of a
    streaming sample-ratio-mismatch monitor (one built-in streaming
    groupBy, complete-mode snapshot); read the chi-square out with
    ``operators.evaluation.srm_readout`` against the designed
    allocation. Works identically on batch frames."""
    return (
        stream.where(F.col(variant_col).isNotNull())
        .groupBy(F.col(variant_col).cast("string").alias("variant"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )


def psi_readout(
    baseline_counts: DataFrame,
    current_counts: DataFrame,
    n_bins: int,
) -> DataFrame:
    """PSI from two materialized per-bin count tables (the frozen
    baseline and a :func:`streaming_bin_counts` sink) — the read-out
    half of the streaming drift monitor, sharing the exact smoothing
    and quantization of ``operators.profiling.psi_drift``. Returns the
    same per-bin + ``psi_total`` shape.
    """
    from pyspark.sql import Window

    b = baseline_counts.select("bin", F.col("n").alias("n_baseline"))
    c = current_counts.select("bin", F.col("n").alias("n_current"))
    joined = b.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_baseline", F.lit(0)).cast("bigint").alias("n_baseline"),
        F.coalesce("n_current", F.lit(0)).cast("bigint").alias("n_current"),
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
    tm = F.floor((pb - pc) * F.log(pb / pc) * F.lit(1e6) + F.lit(0.5)).cast(
        "bigint"
    )
    return joined.withColumn("__tm", tm).select(
        "bin",
        "n_baseline",
        "n_current",
        (F.col("__tm").cast("double") / F.lit(1e6)).alias("psi_term"),
        (F.sum("__tm").over(tot).cast("double") / F.lit(1e6)).alias("psi_total"),
    )


def jsd_readout(
    baseline_counts: DataFrame,
    current_counts: DataFrame,
) -> DataFrame:
    """Jensen-Shannon divergence from two materialized per-bin count
    tables — the bounded, empty-bin-safe sibling of :func:`psi_readout`
    on the SAME maintained side (:func:`streaming_bin_counts`). Shares
    ``operators.evaluation.js_divergence``'s arithmetic: 0·ln(0/x) = 0,
    per-bin contributions nano-quantized before the cross-bin sum.
    Returns ``(bin, n_baseline, n_current, jsd_term, jsd_total)``.
    """
    from pyspark.sql import Window

    b = baseline_counts.select("bin", F.col("n").alias("n_baseline"))
    c = current_counts.select("bin", F.col("n").alias("n_current"))
    joined = b.join(c, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_baseline", F.lit(0)).cast("bigint").alias("n_baseline"),
        F.coalesce("n_current", F.lit(0)).cast("bigint").alias("n_current"),
    )
    tot = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = joined.select(
        "bin",
        "n_baseline",
        "n_current",
        F.sum("n_baseline").over(tot).alias("__ta"),
        F.sum("n_current").over(tot).alias("__tb"),
    )
    # guarded divisions, exactly like js_divergence: an empty/all-zero
    # side must yield NULL jsd, not an ANSI divide-by-zero
    p = F.when(
        F.col("__ta") > 0,
        F.col("n_baseline").cast("double") / F.col("__ta").cast("double"),
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("__tb") > 0,
        F.col("n_current").cast("double") / F.col("__tb").cast("double"),
    ).otherwise(F.lit(0.0))
    m = (p + q) / F.lit(2.0)
    term = (
        F.when((F.col("n_baseline") > 0) & (m > 0), p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + F.when(
            (F.col("n_current") > 0) & (m > 0), q * F.log(q / m)
        ).otherwise(F.lit(0.0))
    ) / F.lit(2.0)
    tm = F.floor(term * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    both = (F.col("__ta") > 0) & (F.col("__tb") > 0)
    return staged.withColumn("__tm", tm).select(
        "bin",
        "n_baseline",
        "n_current",
        F.when(both, F.col("__tm").cast("double") / F.lit(1e9)).alias(
            "jsd_term"
        ),
        F.when(
            both, F.sum("__tm").over(tot).cast("double") / F.lit(1e9)
        ).alias("jsd_total"),
    )


def sequence_examples(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    item_col: str = "event_type",
    context_len: int = 4,
    tiebreak_col: str = "event_id",
    min_context: int = 1,
) -> DataFrame:
    """Supervised next-item examples from an event log: per key, each
    row becomes ``(context = the previous <= context_len items, label =
    this item)`` — the dataset-construction step for next-event /
    session-recommendation / behavioral-LM training.

    Returns ``(key_col, ts_col, tiebreak_col, context array<string>,
    label)``; rows with fewer than ``min_context`` prior items are
    dropped (the first event of a key has no signal). Context order is
    oldest -> newest.

    ONE window (key-hash exchange + sort) with a bounded
    ``collect_list`` frame — rows-between frames guarantee the list
    order follows the window sort, so output is deterministic. State is
    O(context_len) per row, never whole-history.
    """
    from pyspark.sql import Window

    if context_len < 1:
        raise ValueError("sequence_examples: context_len must be >= 1")
    if min_context < 0:
        raise ValueError("sequence_examples: min_context must be >= 0")
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(tiebreak_col))
        .rowsBetween(-context_len, -1)
    )
    out = df.select(
        key_col,
        ts_col,
        tiebreak_col,
        F.collect_list(F.col(item_col).cast("string")).over(w).alias("context"),
        F.col(item_col).cast("string").alias("label"),
    )
    return out.where(F.size("context") >= F.lit(min_context))


def streaming_sequence_examples(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    item_col: str = "event_type",
    context_len: int = 4,
    tiebreak_col: str = "event_id",
    min_context: int = 1,
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming face of :func:`sequence_examples`: per key, state
    carries ONLY the last ``context_len`` items (a bounded deque), so
    arriving events emit their (context, label) example immediately —
    the online dataset-construction path for continual training.

    Within a microbatch rows fold in (ts, tiebreak) order; across
    batches the state deque replays the batch window exactly (same
    contexts as the batch twin on the same prefix, tested). State is
    O(context_len) strings per key; TTL expires idle keys.

    Output: ``(key_col, ts_col, tiebreak_col, context string, label)``
    — the context rides flat because Arrow state/output schemas stay
    flat, encoded as a JSON array string (``from_json(context,
    'array<string>')`` recovers the batch twin's array column). JSON
    keeps any item content unambiguous — a raw ``'|'``/``'\\x1f'``
    join would silently corrupt items containing the delimiter.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    if context_len < 1:
        raise ValueError("streaming_sequence_examples: context_len must be >= 1")
    if min_context < 0:
        raise ValueError("streaming_sequence_examples: min_context must be >= 0")
    key_f = stream.schema[key_col]
    ts_f = stream.schema[ts_col]
    tb_f = stream.schema[tiebreak_col]
    out_schema = StructType(
        [
            StructField(key_col, key_f.dataType),
            StructField(ts_col, ts_f.dataType),
            StructField(tiebreak_col, tb_f.dataType),
            StructField("context", StringType()),
            StructField("label", StringType()),
        ]
    )
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )

    def _fold(key, pdf_iter, state: GroupState):
        import json

        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        if not batches:
            return
        allrows = pd.concat(batches, ignore_index=True).sort_values(
            [ts_col, tiebreak_col], kind="mergesort"
        )
        deque: list = []
        if state.exists and state.get[0]:
            raw = state.get[0]
            try:
                parsed = json.loads(raw)
                deque = (
                    [str(x) for x in parsed]
                    if isinstance(parsed, list)
                    else raw.split("\x1f")
                )
            except json.JSONDecodeError:
                # checkpoint written by the pre-JSON encoding ('\x1f'-
                # joined items): fall back so an in-flight query resumes
                # instead of dying; new state is written as JSON
                deque = raw.split("\x1f")
        out = []
        for _, row in allrows.iterrows():
            item = str(row[item_col])
            if len(deque) >= min_context:
                out.append(
                    (
                        row[key_col],
                        row[ts_col],
                        row[tiebreak_col],
                        json.dumps(deque),
                        item,
                    )
                )
            deque.append(item)
            if len(deque) > context_len:
                deque.pop(0)
        state.update((json.dumps(deque),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out:
            yield pd.DataFrame(
                out,
                columns=[key_col, ts_col, tiebreak_col, "context", "label"],
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _fold,
        outputStructType=out_schema,
        stateStructType="deque string",
        outputMode="append",
        timeoutConf=timeout,
    )


def sequence_match(
    df: DataFrame,
    first: str,
    then: str,
    within_seconds: int,
    without: str = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """CEP-style event-pattern matcher: every ``first`` event that is
    followed by a ``then`` event from the same user within
    ``within_seconds``, optionally requiring NO ``without`` event
    strictly between the pair — the "view then purchase within an hour,
    with no error in between" question funnels can't pose (funnels
    track first-completion only; this matches EVERY qualifying pair and
    carries the negative condition).

    Declarative plan, no CEP engine: events are keyed by user and
    ordered by epoch seconds once; "next ``then``" and "next
    ``without``" are ``min(when(...))`` RANGE-frame windows
    (1..within for the positive, 1..unbounded for the guard) stacked on
    the SAME exchange + sort. A match is a ``first`` row whose next-then
    exists and precedes-or-equals nothing guarded: ``next_without`` is
    NULL or >= next_then (the guard must fall strictly BETWEEN the pair
    to kill it). Ties: a guard at exactly the ``then`` timestamp does
    not kill the match; a guard at the ``first`` timestamp is not
    "after" and is ignored — both documented choices, both replayed by
    the oracle.

    Returns ``(user, first_ts, then_ts, gap_seconds)``. Scale shape:
    one user-keyed exchange, one sort, two stacked windows, one filter
    — row volume is the ``first``-event count, never a pair product.
    """
    if within_seconds <= 0:
        raise ValueError("sequence_match: within_seconds must be positive")
    types = [t for t in (first, then, without) if t is not None]
    rows = df.select(
        F.col(user_col).alias("user"),
        F.unix_timestamp(ts_col).cast("bigint").alias("__ts"),
        F.col(type_col).alias("__t"),
    ).where(F.col(type_col).isin(types))
    wpos = (
        Window.partitionBy("user")
        .orderBy("__ts")
        .rangeBetween(1, int(within_seconds))
    )
    next_then = F.min(F.when(F.col("__t") == then, F.col("__ts"))).over(wpos)
    cols = [
        F.col("user"),
        F.col("__ts"),
        F.col("__t"),
        next_then.alias("__nt"),
    ]
    if without is not None:
        wguard = (
            Window.partitionBy("user")
            .orderBy("__ts")
            .rangeBetween(1, Window.unboundedFollowing)
        )
        cols.append(
            F.min(F.when(F.col("__t") == without, F.col("__ts")))
            .over(wguard)
            .alias("__ng")
        )
    staged = rows.select(*cols)
    cond = (F.col("__t") == first) & F.col("__nt").isNotNull()
    if without is not None:
        cond = cond & (
            F.col("__ng").isNull() | (F.col("__ng") >= F.col("__nt"))
        )
    return staged.where(cond).select(
        "user",
        F.col("__ts").alias("first_ts"),
        F.col("__nt").alias("then_ts"),
        (F.col("__nt") - F.col("__ts")).alias("gap_seconds"),
    )


def streaming_sequence_match(
    stream: DataFrame,
    first: str,
    then: str,
    within_seconds: int,
    without: str = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    state_ttl_minutes: int = None,
) -> DataFrame:
    """Streaming twin of :func:`sequence_match` — CEP over an unbounded
    stream via ``applyInPandasWithState``: per user, pending ``first``
    events wait (at most ``within_seconds`` of event time) for a
    ``then``, guards (``without``) mark them, and matches emit as soon
    as the qualifying ``then`` arrives.

    State per user is two parallel arrays: pending first timestamps and
    each one's earliest subsequent guard (-1 = none) — bounded by the
    number of ``first`` events inside one ``within_seconds`` horizon,
    because anything older than the newest seen timestamp minus the
    window is pruned every batch. Semantics match the batch twin on
    in-order delivery (same strict/tie rules: then strictly after
    first; a guard AT the then timestamp does not kill; each first
    matches its EARLIEST then); late cross-batch events follow the
    streaming trade documented on streaming_asof_join — a late guard
    cannot retro-kill an already-emitted match. ``state_ttl_minutes``
    expires idle users (processing-time TTL). Note the operational
    trade: an armed processing-time timer keeps the microbatch engine
    scheduling no-data batches until it fires, so drains that wait for
    idleness (processAllAvailable) do not return while any user still
    holds pending state — use TTL on long-running production queries,
    not on replay-and-drain jobs.

    Returns ``(user, first_ts, then_ts, gap_seconds)`` as epoch seconds.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if within_seconds <= 0:
        raise ValueError(
            "streaming_sequence_match: within_seconds must be positive"
        )
    types = [t for t in (first, then, without) if t is not None]
    rows = stream.select(
        F.col(user_col).alias("user"),
        F.unix_timestamp(ts_col).cast("bigint").alias("__ts"),
        F.col(type_col).alias("__t"),
    ).where(F.col(type_col).isin(types))
    user_type = dict(stream.dtypes)[user_col]
    out_ddl = (
        f"`user` {user_type}, `first_ts` bigint, `then_ts` bigint,"
        f" `gap_seconds` bigint"
    )
    state_ddl = "`pf` array<bigint>, `pg` array<bigint>"
    ttl_ms = (
        None if state_ttl_minutes is None else int(state_ttl_minutes * 60_000)
    )
    T = int(within_seconds)

    def _cep(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        pdfs = [p for p in pdf_iter if len(p)]
        if not pdfs:
            if state.exists and ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            return
        df = pd.concat(pdfs, ignore_index=True).sort_values(
            "__ts", kind="mergesort"
        )
        pf, pg = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1])
        )
        out = []
        user = key[0]
        last_ts = None
        for ts, grp in df.groupby("__ts", sort=True):
            ts = int(ts)
            kinds = set(grp["__t"])
            # 1) thens match pending firsts from STRICTLY earlier times
            if then in kinds:
                keep_f, keep_g = [], []
                for f, g in zip(pf, pg):
                    if ts <= f + T and (g == -1 or g >= ts):
                        out.append((user, f, ts, ts - f))
                    else:
                        keep_f.append(f)
                        keep_g.append(g)
                pf, pg = keep_f, keep_g
            # 2) guards mark pending firsts (same-ts then already matched)
            if without is not None and without in kinds:
                pg = [
                    ts if (g == -1 and f < ts) else g
                    for f, g in zip(pf, pg)
                ]
            # 3) new firsts enter AFTER same-ts thens/guards (strict rules)
            if first in kinds:
                for _ in range((grp["__t"] == first).sum()):
                    pf.append(ts)
                    pg.append(-1)
            last_ts = ts
        if last_ts is not None:
            pruned = [
                (f, g) for f, g in zip(pf, pg) if f + T >= last_ts
            ]
            pf = [f for f, _ in pruned]
            pg = [g for _, g in pruned]
        if pf:
            state.update((pf, pg))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
        elif state.exists:
            # nothing pending: drop the state row entirely instead of
            # keeping an empty entry alive. Cheaper, and it disarms the
            # processing-time timer — a user with no pending firsts needs
            # no TTL sweep
            state.remove()
        if out:
            yield pd.DataFrame(
                out, columns=["user", "first_ts", "then_ts", "gap_seconds"]
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return rows.groupBy("user").applyInPandasWithState(
        _cep,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=timeout,
    )


def ohlc_bars(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket: str = "hour",
) -> DataFrame:
    """Open/high/low/close bars per (group, time bucket) — the standard
    downsampling for metric/price series (the M4 operator keeps extreme
    POINTS for plotting; OHLC keeps the four summary VALUES for
    analytics).

    Open/close are struct-ordered ``min/max(struct(ts, value))`` — one
    aggregation, deterministic under ties (equal-ts rows resolve to the
    smaller value for open, larger for close; Spark and SQL struct
    comparison are both lexicographic, so the oracle replays exactly).
    Returns ``(group, bucket_start, open, high, low, close, n)`` with
    values floor-quantized to 6.

    ONE map-side-combinable groupBy; bars-count-sized output. The
    streaming face is the same expressions under a watermarked window —
    compose with streaming_tumbling_window_agg's pattern.
    """
    staged = _ohlc_stage(df, value_col, ts_col, group_col).withColumn(
        "bucket_start", F.date_trunc(bucket, F.col("__ts"))
    )
    agg = staged.groupBy("grp", "bucket_start").agg(*_ohlc_aggs())
    return _ohlc_readout(agg, group_col)


def _ohlc_stage(
    df: DataFrame, value_col: str, ts_col: str, group_col: str
) -> DataFrame:
    return df.select(
        F.col(group_col).alias("grp"),
        F.col(ts_col).alias("__ts"),
        F.unix_timestamp(ts_col).cast("bigint").alias("__tsl"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())


def _ohlc_aggs() -> tuple:
    # built lazily: Column construction needs an active SparkContext
    return (
        F.min(F.struct(F.col("__tsl"), F.col("__v"))).alias("__o"),
        F.max("__v").alias("__hi"),
        F.min("__v").alias("__lo"),
        F.max(F.struct(F.col("__tsl"), F.col("__v"))).alias("__c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def _ohlc_readout(agg: DataFrame, group_col: str) -> DataFrame:
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        F.col("grp").alias(group_col),
        "bucket_start",
        q6(F.col("__o.__v")).alias("open"),
        q6(F.col("__hi")).alias("high"),
        q6(F.col("__lo")).alias("low"),
        q6(F.col("__c.__v")).alias("close"),
        "n",
    )


def streaming_ohlc_bars(
    stream: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    group_col: str = "event_type",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming face of ohlc_bars: the SAME staging and aggregation
    expressions under a watermarked tumbling window. Every component —
    struct-min open, max high, min low, struct-max close, count — is an
    order-free, mergeable partial aggregate, so microbatch accumulation
    converges to the batch bar once the watermark closes the window;
    state is one small struct per open (group, window) and is evicted
    at watermark passage.
    """
    staged = _ohlc_stage(stream, value_col, ts_col, group_col)
    agg = (
        staged.withWatermark("__ts", watermark)
        .groupBy(
            F.window(F.col("__ts"), window_duration).alias("w"), F.col("grp")
        )
        .agg(*_ohlc_aggs())
        .withColumn("bucket_start", F.col("w.start"))
    )
    return _ohlc_readout(agg, group_col)


def time_weighted_average(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket: str = "hour",
    scale: int = 2,
) -> DataFrame:
    """Time-weighted average per (group, bucket) for IRREGULARLY sampled
    series: each observation is held piecewise-constant until the next
    one in the same bucket (the last extends to bucket end), so a value
    that persisted 59 minutes outweighs a one-minute blip — what a
    plain avg() gets wrong on event-driven metrics.

    TWAP = Σ q_i·w_i / Σ w_i with q the cent-quantized value and w
    integer second durations — an exact bigint dot product (order-free;
    one division at read-out, floor-quantized to 6). Single-observation
    buckets weight the lone sample to bucket end.

    Scale shape: one (group, bucket)-keyed sort window for the lead
    timestamp + one groupBy on the same key — one exchange total
    (the window partitioning covers the groupBy).
    """
    from pyspark.sql import Window

    s = 10 ** scale
    bucket_secs = {"hour": 3600, "day": 86400, "week": 604800}
    if bucket not in bucket_secs:
        raise ValueError("time_weighted_average: bucket must be hour/day/week")
    staged = df.select(
        F.col(group_col).alias("grp"),
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_start"),
        F.unix_timestamp(ts_col).cast("bigint").alias("__tsl"),
        F.floor(F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5))
        .cast("bigint")
        .alias("__q"),
    ).where(F.col("__q").isNotNull())
    # (__tsl, __q) total order: equal-ts duplicates would otherwise hand
    # the interval to an ARBITRARY member (lead over a partial order) —
    # with the tiebreak the largest quantized value at a tied instant
    # carries the duration, in both engines
    w = Window.partitionBy("grp", "bucket_start").orderBy("__tsl", "__q")
    bucket_end = (
        F.unix_timestamp("bucket_start").cast("bigint")
        + F.lit(bucket_secs[bucket])
    )
    dur = (
        F.coalesce(F.lead("__tsl", 1).over(w), bucket_end) - F.col("__tsl")
    ).cast("bigint")
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    agg = (
        staged.select("grp", "bucket_start", "__q", dur.alias("__w"))
        .groupBy("grp", "bucket_start")
        .agg(
            F.sum(F.col("__q") * F.col("__w")).cast("bigint").alias("__num"),
            F.sum("__w").cast("bigint").alias("__den"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "bucket_start",
        q6(
            F.col("__num").cast("double")
            / F.col("__den").cast("double")
            / F.lit(float(s))
        ).alias("twap"),
        "n",
    )


def seasonal_decompose(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    group_col: str | None = None,
    period: int = 7,
    scale: int = 2,
) -> DataFrame:
    """Classical additive decomposition of a daily metric series into
    trend + seasonal + residual — the explainer behind the seasonal-naive
    forecaster (seasonal_naive_eval scores "same day last week"; this
    shows HOW MUCH of the series that weekly shape actually carries).

    trend is a centered ``period``-point moving average (defined only
    where the window is full), seasonal is the per-phase mean of the
    detrended series (phase = days-since-epoch mod period — an integer
    identity both engines share, unlike locale-dependent day-of-week
    codes), residual is the leftover. All intermediates stay integral:
    the detrended value is ``period*v - window_sum`` (exact bigint), so
    the only floating-point ops are final fixed-order divisions,
    floor-quantized to 6.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus
    to (group, day) totals; the moving window, the phase means, and the
    broadcast join back are all series-sized. The ungrouped form sorts
    one series in one task — intended for per-day aggregates, not raw
    events.
    """
    if period < 2:
        raise ValueError("seasonal_decompose: period must be >= 2")
    if period % 2 == 0:
        raise ValueError(
            "seasonal_decompose: even periods need a 2x4-MA; use an odd "
            "period (e.g. 7 for weekly shape on daily data)"
        )
    s = 10 ** scale
    g = [group_col] if group_col else []
    v = F.floor(
        F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5)
    ).cast("bigint")
    daily = (
        df.select(
            *g,
            F.to_date(F.col(ts_col)).alias("day"),
            v.alias("__v"),
        )
        .where(F.col("__v").isNotNull() & F.col("day").isNotNull())
        .groupBy(*g, "day")
        .agg(F.sum("__v").cast("bigint").alias("__v"))
    )
    half = period // 2
    w = (
        Window.partitionBy(*g)
        .orderBy("day")
        .rowsBetween(-half, half)
    )
    windowed = daily.select(
        *g,
        "day",
        "__v",
        F.sum("__v").over(w).cast("bigint").alias("__wsum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("__wcnt"),
        (F.datediff(F.col("day"), F.lit("1970-01-01")) % period).alias(
            "__phase"
        ),
    )
    full = F.col("__wcnt") == period
    # detrended * period, exact bigint where the window is full
    dscaled = F.when(full, F.lit(period) * F.col("__v") - F.col("__wsum"))
    staged = windowed.select(
        *g, "day", "__v", "__wsum", "__phase", dscaled.alias("__dp")
    )
    phase_means = staged.groupBy(*g, "__phase").agg(
        F.sum("__dp").cast("bigint").alias("__sd"),
        F.count("__dp").cast("bigint").alias("__nd"),
    )
    joined = staged.join(F.broadcast(phase_means), [*g, "__phase"])
    denom = F.lit(float(period * s))
    value = F.col("__v").cast("double") / F.lit(float(s))
    trend = F.col("__wsum").cast("double") / denom
    seasonal = F.col("__sd").cast("double") / (
        F.col("__nd").cast("double") * denom
    )
    residual = F.col("__dp").cast("double") / denom - seasonal
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    has_season = F.col("__nd") > 0
    return joined.select(
        *g,
        "day",
        q6(value).alias("value"),
        F.when(F.col("__dp").isNotNull(), q6(trend)).alias("trend"),
        F.when(has_season, q6(seasonal)).alias("seasonal"),
        F.when(
            F.col("__dp").isNotNull() & has_season, q6(residual)
        ).alias("residual"),
    )


def streaming_time_weighted_average(
    stream: DataFrame,
    value_col: str = "value",
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket: str = "hour",
    watermark: str = "2 hours",
    scale: int = 2,
) -> DataFrame:
    """Streaming twin of :func:`time_weighted_average`. TWAP needs each
    sample's duration-to-successor, which a windowed aggregation cannot
    express — so this buffers a bucket's samples in
    ``applyInPandasWithState`` keyed by (group, bucket) and emits ONE
    exact bar per key when the watermark passes the bucket end
    (event-time timeout): at that point no sample can legally arrive,
    and the buffered set equals what the batch operator would see.
    Same integer math and (ts, value) tiebreak as the batch face, so
    emitted bars match it row-for-row on any in-watermark replay.

    State per open (group, bucket) is the bucket's sample arrays —
    bounded by the sampling rate times the bucket span, evicted on
    emit. Output ``(group, bucket_start, twap, n)`` with bucket_start
    as epoch seconds.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s = 10 ** scale
    bucket_secs = {"hour": 3600, "day": 86400, "week": 604800}
    if bucket not in bucket_secs:
        raise ValueError(
            "streaming_time_weighted_average: bucket must be hour/day/week"
        )
    span = bucket_secs[bucket]
    staged = stream.withWatermark(ts_col, watermark).select(
        F.col(group_col).alias("grp"),
        F.unix_timestamp(F.date_trunc(bucket, F.col(ts_col)))
        .cast("bigint")
        .alias("bucket_start"),
        F.col(ts_col).alias("__ts"),
        F.unix_timestamp(ts_col).cast("bigint").alias("__tsl"),
        F.floor(F.col(value_col).cast("double") * F.lit(float(s)) + F.lit(0.5))
        .cast("bigint")
        .alias("__q"),
    ).where(F.col("__q").isNotNull())
    grp_type = dict(stream.dtypes)[group_col]
    out_ddl = (
        f"`{group_col}` {grp_type}, `bucket_start` bigint, `twap` double,"
        f" `n` bigint"
    )
    state_ddl = "`tsl` array<bigint>, `q` array<bigint>"

    def _twap(key, pdf_iter, state: GroupState):
        import math

        import pandas as pd

        grp, bstart = key
        if state.hasTimedOut:
            tsl, q = state.get
            pairs = sorted(zip(tsl, q))
            end = int(bstart) + span
            num = den = 0
            for i, (t, v) in enumerate(pairs):
                nxt = pairs[i + 1][0] if i + 1 < len(pairs) else end
                w = nxt - t
                num += v * w
                den += w
            state.remove()
            if den > 0:
                twap = math.floor(num / den / float(s) * 1e6 + 0.5) / 1e6
                yield pd.DataFrame(
                    [(grp, int(bstart), twap, len(pairs))],
                    columns=[group_col, "bucket_start", "twap", "n"],
                )
            return
        tsl, q = ([], []) if not state.exists else (
            list(state.get[0]), list(state.get[1])
        )
        for pdf in pdf_iter:
            tsl.extend(int(t) for t in pdf["__tsl"])
            q.extend(int(v) for v in pdf["__q"])
        state.update((tsl, q))
        # fire when the watermark passes the bucket end
        state.setTimeoutTimestamp((int(bstart) + span) * 1000)

    return staged.groupBy("grp", "bucket_start").applyInPandasWithState(
        _twap,
        outputStructType=out_ddl,
        stateStructType=state_ddl,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def attribute_conversions_linear(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view"),
    lookback_days: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    scale: int = 2,
) -> DataFrame:
    """Linear multi-touch attribution: every touch inside the lookback
    window before a conversion gets an EQUAL share of its value — the
    model marketers reach for when last-touch over-credits the final
    click. Unlike :func:`attribute_conversions` (one carried row per
    conversion), the (conversion, touch) pairs ARE the output here, so
    pair expansion is irreducible; the ``lookback_days`` window is what
    bounds it (the industry-standard attribution window), and the join
    is a plain user-keyed equi-join with a range post-filter — one
    exchange per side, plus one pair-table window to count shares.

    Credit is exact: conversion value in integer cents divided by the
    window's touch count in one fixed-order double division,
    floor-quantized to 6. Conversions with zero in-window touches emit
    one row with NULL touch fields and full (unattributed) credit, so
    value totals reconcile.
    """
    if lookback_days <= 0:
        raise ValueError(
            "attribute_conversions_linear: lookback_days must be positive"
        )
    s = 10 ** scale
    lb = int(lookback_days) * 86400
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.unix_timestamp(F.col(ts_col)).cast("bigint").alias("epoch"),
        F.col(type_col).alias("etype"),
        F.col(value_col).alias("value"),
    )
    convs = base.where(F.col("etype") == conversion_type).select(
        "user_id",
        F.col("event_id").alias("conv_event_id"),
        F.col("epoch").alias("conv_epoch"),
        F.floor(F.col("value").cast("double") * F.lit(float(s)) + F.lit(0.5))
        .cast("bigint")
        .alias("__cv"),
    )
    touches = base.where(F.col("etype").isin(*touch_types)).select(
        "user_id",
        F.col("event_id").alias("touch_event_id"),
        F.col("etype").alias("touch_type"),
        F.col("epoch").alias("touch_epoch"),
    )
    pairs = convs.join(touches, "user_id", "left").where(
        F.col("touch_epoch").isNull()
        | (
            (F.col("touch_epoch") < F.col("conv_epoch"))
            & (F.col("touch_epoch") >= F.col("conv_epoch") - F.lit(lb))
        )
    )
    w = Window.partitionBy("user_id", "conv_event_id")
    counted = pairs.withColumn(
        "__nt",
        F.count("touch_event_id").over(w).cast("bigint"),
    )
    # a conversion whose joined rows are ALL out-of-window would vanish
    # in the filter above; re-admit it as unattributed via anti-join
    matched_ids = counted.select("conv_event_id").distinct()
    orphans = (
        convs.join(matched_ids, "conv_event_id", "left_anti")
        .select(
            "user_id",
            "conv_event_id",
            "conv_epoch",
            "__cv",
            F.lit(None).cast("string").alias("touch_event_id"),
            F.lit(None).cast("string").alias("touch_type"),
            F.lit(None).cast("bigint").alias("touch_epoch"),
            F.lit(0).cast("bigint").alias("__nt"),
        )
    )
    both = counted.select(
        "user_id",
        "conv_event_id",
        "conv_epoch",
        "__cv",
        F.col("touch_event_id").cast("string"),
        "touch_type",
        "touch_epoch",
        "__nt",
    ).unionByName(orphans)
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    credit = F.when(
        F.col("__nt") > 0,
        F.col("__cv").cast("double")
        / F.col("__nt").cast("double")
        / F.lit(float(s)),
    ).otherwise(F.col("__cv").cast("double") / F.lit(float(s)))
    return both.select(
        "user_id",
        "conv_event_id",
        "conv_epoch",
        "touch_event_id",
        "touch_type",
        "touch_epoch",
        q6(credit).alias("credit_value"),
    )


def cohort_ltv(
    df: DataFrame,
    revenue_type: str = "purchase",
    period_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Cohort lifetime value: users cohorted by first-activity period,
    revenue accumulated by cohort age — the "how much is a week-N user
    worth by week M" curve that retention_cohorts (presence) can't
    answer (value).

    Returns (cohort_start, period_offset, cohort_users, revenue,
    cum_revenue_per_user): cohort_users is the cohort's FULL size
    (denominator fixed at cohort entry, the standard LTV convention),
    revenue is the cohort's total in that period, cum_revenue_per_user
    the running sum divided by cohort size. Revenue stays in exact
    integer cents through the cumulative window; one division at
    read-out, floor-quantized to 6.

    Plan shape: one user-keyed min window (first activity), one
    (cohort, offset) groupBy, one cohort-keyed cumulative window over
    the period-count-sized result — corpus touched twice (first pass
    and revenue pass share the scan), everything after is tiny.
    """
    if period_days <= 0:
        raise ValueError("cohort_ltv: period_days must be positive")
    p = int(period_days) * 86400
    staged = df.select(
        F.col(user_col).alias("user_id"),
        F.unix_timestamp(F.col(ts_col)).cast("bigint").alias("epoch"),
        F.col(type_col).alias("etype"),
        F.floor(F.col(value_col).cast("double") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("__cv"),
    )
    w = Window.partitionBy("user_id")
    cohorted = staged.withColumn(
        "__c0",
        (F.floor(F.min("epoch").over(w) / F.lit(p)) * F.lit(p)).cast("bigint"),
    )
    sizes = cohorted.groupBy("__c0").agg(
        F.countDistinct("user_id").cast("bigint").alias("cohort_users")
    )
    rev = (
        cohorted.where(
            (F.col("etype") == revenue_type) & F.col("__cv").isNotNull()
        )
        .withColumn(
            "period_offset",
            F.floor((F.col("epoch") - F.col("__c0")) / F.lit(p)).cast(
                "bigint"
            ),
        )
        .groupBy("__c0", "period_offset")
        .agg(F.sum("__cv").cast("bigint").alias("__rev"))
    )
    wc = (
        Window.partitionBy("__c0")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        rev.join(F.broadcast(sizes), "__c0")
        .withColumn("__cum", F.sum("__rev").over(wc).cast("bigint"))
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return out.select(
        F.date_format(
            F.to_timestamp(F.col("__c0")), "yyyy-MM-dd"
        ).alias("cohort_start"),
        "period_offset",
        "cohort_users",
        q6(F.col("__rev").cast("double") / F.lit(100.0)).alias("revenue"),
        q6(
            F.col("__cum").cast("double")
            / F.lit(100.0)
            / F.col("cohort_users").cast("double")
        ).alias("cum_revenue_per_user"),
    )


def streaming_corpus_prep(
    stream: DataFrame,
    lang: str = "en",
    min_clf_score: float = 0.5,
    chunk_tokens: int = 128,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming twin of the corpus_prep_end_to_end flagship: language
    filter -> quality-classifier filter -> cross-batch exact dedup ->
    token-window chunking, composed over an unbounded document stream.

    Three of the four stages are stateless expression projections that
    map onto a stream unchanged (the SAME operators the batch plan
    uses — detect_language, classifier_score, chunk_documents); the
    only state in the pipeline is the exact-dedup content-hash set
    (streaming_dedup_exact), TTL-bounded for unbounded ingest. Batch
    face = backfill of this face: on an in-order replay the emitted
    chunks match the batch flagship row-for-row (tested).
    """
    from biomedical_data_integration_spark.operators.text import (
        chunk_documents,
        classifier_score,
        detect_language,
    )

    by_lang = detect_language(stream, text_col=text_col).where(
        F.col("detected_lang") == lang
    )
    good = classifier_score(by_lang, text_col=text_col).where(
        F.col("clf_score") >= min_clf_score
    )
    kept = good.select(*stream.columns)
    deduped = streaming_dedup_exact(
        kept,
        text_col=text_col,
        id_col=id_col,
        state_ttl_minutes=state_ttl_minutes,
    )
    return chunk_documents(
        deduped, chunk_tokens=chunk_tokens, overlap=overlap,
        text_col=text_col, id_col=id_col,
    )


def streaming_dsir_score(
    stream: DataFrame,
    ratios_micro: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming face of the DSIR gate (round-9 verdict item 7): score
    documents at INGEST TIME against a bucket model fitted in batch
    (:func:`~biomedical_data_integration_spark.operators.sampling.dsir_bucket_ratios`)
    — the fit-batch/serve-stream split ``pq_encode`` / ``lm_score``
    already use, giving the data-selection capstone an ingest-time twin:
    target-likeness is known the moment a document lands, so
    selection/resampling can gate the stream without a batch pass.

    STATELESS expression projection — no watermark, no state store, no
    shuffle: the dense micro-quantized log-ratio table rides the plan as
    an ``n_buckets`` literal array (KBs) and each document folds its
    tokens' ratios into an exact bigint sum (salted-md5 bucket hash,
    identical to the batch scorer). Emits the batch face's columns
    ``(id_col, n_tokens, log_weight, avg_log_ratio)`` with identical
    values on an in-order replay (parity-tested); tokens hashing to
    buckets unseen by both fit corpora contribute 0, exactly like the
    batch scorer's null-skipping sum.
    """
    from biomedical_data_integration_spark.functions.hashing import (
        md5_bigint,
    )
    from biomedical_data_integration_spark.operators.text import tokens_expr

    n_buckets = len(ratios_micro)
    if n_buckets < 2:
        raise ValueError("streaming_dsir_score: need >= 2 bucket ratios")
    lit = F.array(*[F.lit(int(v)).cast("bigint") for v in ratios_micro])
    toks = tokens_expr(F.col(text_col))
    sum_micro = F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: acc
        + F.element_at(
            lit, ((md5_bigint(t, salt="dsir") % n_buckets) + 1).cast("int")
        ),
    )
    n = F.when(toks.isNull(), F.lit(0)).otherwise(F.size(toks))
    return stream.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.when(n > 0, sum_micro.cast("double") / F.lit(1e6)).alias(
            "log_weight"
        ),
        F.when(n > 0, sum_micro.cast("double") / (n * F.lit(1e6))).alias(
            "avg_log_ratio"
        ),
    )


def streaming_quality_score(
    stream: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming face of the TRAINED quality filter: score documents at
    ingest with a :func:`~biomedical_data_integration_spark.operators.text.train_quality_classifier`
    model — the fit-batch/serve-stream split :func:`streaming_dsir_score`
    uses, completing the trained-filter loop (train on a batch corpus,
    gate the firehose). Scoring is
    :func:`~biomedical_data_integration_spark.operators.text.score_quality_classifier`'s
    exact arithmetic unchanged — quality_features and the centered
    integer logit are pure expressions, so the projection compiles onto
    an unbounded stream with no watermark, no state, no shuffle; emitted
    ``score_micro`` values match the batch face bit-for-bit on replay
    (parity-tested)."""
    from biomedical_data_integration_spark.operators.text import (
        score_quality_classifier,
    )

    return score_quality_classifier(
        stream, model, text_col=text_col, id_col=id_col
    )


def streaming_hashed_score(
    stream: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming face of the TRAINED hashed-unigram classifier (round-11
    verdict item 8): serve a
    :func:`~biomedical_data_integration_spark.operators.text.train_hashed_text_classifier`
    model at ingest. The batch scorer aggregates an exploded
    (id, bucket, f) table; a stream cannot pay that shuffle, so the
    same arithmetic compiles to ONE stateless expression per document
    (no watermark, no state, no aggregation — the
    :func:`streaming_dsir_score` shape): bucket each token with the
    salted-md5 hash, fold the document's DISTINCT buckets into the
    exact integer logit — per bucket,
    ``w_b * ((count_b * n_buckets * 1e6) DIV n_tokens)`` with the
    256-entry weight vector riding as a literal array — add the bias
    term, and micro-quantize the sigmoid. Integer-for-integer the batch
    face's math (truncating DIV on non-negatives replayed as
    ``(x - x % nt) / nt`` — exact in doubles far past any document's
    feature range), so scores match bit-for-bit on replay
    (parity-tested). Token-less and null-text documents score the pure
    bias, exactly like the batch face's bias-only feature row."""
    from biomedical_data_integration_spark.functions.hashing import (
        md5_bigint,
    )
    from biomedical_data_integration_spark.operators.text import tokens_expr

    weights = model["weights"]
    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("streaming_hashed_score: empty weight vector")
    w_lit = F.array(*[F.lit(int(v)).cast("bigint") for v in weights])
    toks = F.coalesce(
        tokens_expr(F.col(text_col)), F.array().cast("array<string>")
    )
    buckets = F.transform(
        toks,
        lambda t: (md5_bigint(t, salt="hclf") % n_buckets).cast("int"),
    )
    nt = F.size(buckets).cast("bigint")

    def bucket_term(acc, b):
        c = F.size(F.filter(buckets, lambda x: x == b)).cast("bigint")
        num = c * F.lit(int(n_buckets) * 1_000_000).cast("bigint")
        f = ((num - num % nt) / nt).cast("bigint")  # truncating DIV
        return acc + F.element_at(w_lit, b + 1) * f

    z = F.when(nt > 0, F.aggregate(
        F.array_distinct(buckets),
        F.lit(0).cast("bigint"),
        bucket_term,
    )).otherwise(F.lit(0).cast("bigint")) + (
        F.lit(int(model["bias"])).cast("bigint")
        * F.lit(1_000_000).cast("bigint")
    )
    p = 1.0 / (1.0 + F.exp(-(z.cast("double") / F.lit(1e12))))
    return stream.select(
        F.col(id_col),
        F.floor(p * 1_000_000.0 + 0.5).cast("bigint").alias("score_micro"),
    )


def streaming_bm25_score(
    spark,
    stream: DataFrame,
    index_path: str,
    query: str,
    k1: float | None = None,
    b: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming face of the persisted BM25 index: score documents at
    INGEST against a fixed query (topical routing / decontamination-by-
    relevance — "how much does this incoming document smell like my
    eval query"), completing index-time/serve-batch/serve-stream
    uniformity for retrieval the way the classifier and DSIR gates
    already have it.

    Corpus statistics come from the
    :func:`~biomedical_data_integration_spark.operators.retrieval.bm25_save_index`
    sidecar, and per-term document frequencies from ONE bucket-pruned
    postings read at stream-construction time (query-terms-bounded
    collect — these are FROZEN at index time, exactly what "serve from
    a persisted index" means; rebuild the face after reindexing). The
    per-document score is then a stateless expression — tf from the
    document's own tokens, dl its token count, idf built in-plan from
    literal (n_docs, df) integers so the arithmetic is the batch
    :func:`~biomedical_data_integration_spark.operators.retrieval._bm25_rank`'s
    bit-for-bit (same quantized idf, same micro-unit floor; parity-
    tested). Emits ``(id_col, n_terms_hit, score)`` for EVERY document
    (0/0.0 when no query term hits — a stream cannot drop rows into a
    top-k, gating is the consumer's cut)."""
    from biomedical_data_integration_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        _bm25_term_bucket,
        tokenize_query,
    )
    from biomedical_data_integration_spark.operators.text import tokens_expr

    k1 = BM25_K1 if k1 is None else float(k1)
    b = BM25_B if b is None else float(b)
    terms = tokenize_query(query)
    if not terms:
        raise ValueError("streaming_bm25_score: query has no tokens")
    srow = spark.read.parquet(f"{index_path}/stats").first()
    if srow is None or not srow["n_docs"]:
        raise ValueError(
            f"streaming_bm25_score: index at {index_path} is empty"
        )
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"])
    nb = int(srow["n_buckets"])
    buckets = sorted({_bm25_term_bucket(t, nb) for t in terms})
    dfreq = {
        r["term"]: int(r["df"])
        for r in spark.read.parquet(f"{index_path}/postings")
        .where(F.col("bucket").isin(buckets))
        .where(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .collect()
    }
    toks = F.coalesce(
        tokens_expr(F.col(text_col)), F.array().cast("array<string>")
    )
    dl = F.size(toks).cast("double")
    def _tf(term: str):
        # closure helper: a defaulted 2-arg lambda would be read by
        # F.filter as the (element, index) form
        return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast(
            "double"
        )

    si_terms = []
    hit_terms = []
    for t in terms:
        df_t = dfreq.get(t, 0)
        if df_t == 0:
            continue  # term absent from the corpus: idf undefined, no hits
        tf = _tf(t)
        idf6 = (
            F.floor(
                F.log(
                    F.lit(1.0)
                    + (F.lit(float(n_docs)) - F.lit(float(df_t)) + F.lit(0.5))
                    / (F.lit(float(df_t)) + F.lit(0.5))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        )
        tfpart = (tf * F.lit(k1 + 1.0)) / (
            tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
        )
        si = F.when(
            tf > 0,
            F.floor(idf6 * tfpart * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        si_terms.append(si)
        hit_terms.append(F.when(tf > 0, 1).otherwise(0))
    if not si_terms:
        return stream.select(
            F.col(id_col),
            F.lit(0).cast("bigint").alias("n_terms_hit"),
            F.lit(0.0).alias("score"),
        )
    zsum = si_terms[0]
    for s in si_terms[1:]:
        zsum = zsum + s
    nhit = hit_terms[0]
    for h in hit_terms[1:]:
        nhit = nhit + h
    return stream.select(
        F.col(id_col),
        nhit.cast("bigint").alias("n_terms_hit"),
        (zsum.cast("double") / F.lit(1e6)).alias("score"),
    )


def streaming_ivfpq_score(
    spark,
    stream: DataFrame,
    index_path: str,
    query: list,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Streaming face of the persisted IVFPQ index (round-11 verdict
    item 8 — ANN serving gains the stream/batch/persisted symmetry the
    classifier and BM25 gates have): score vectors at INGEST against
    ONE fixed query with the frozen model's ADC arithmetic
    ("how close is this incoming embedding to my probe" — semantic
    routing / dedup-by-similarity / eval-decontamination at the vector
    level).

    The model sidecar
    (:func:`~biomedical_data_integration_spark.operators.similarity.ivfpq_save`)
    loads once at stream-construction time; the fixed query's probed
    cells and integer ADC tables come from the shared driver arithmetic
    (:func:`~biomedical_data_integration_spark.operators.similarity._ivfpq_adc_tables`
    — bit-identical to the batch probe). Each incoming vector then
    rides a STATELESS expression projection: coarse cell assignment and
    PQ codes via the exact build-time encoders
    (:func:`_ivfpq_residuals` + :func:`pq_encode` are pure expression
    projections, so they compile onto an unbounded stream unchanged —
    the appended-batch contract at stream granularity), and the ADC sum
    is an nprobe-entry literal CASE over the query's probed cells.
    Emits ``(id_col, cell, probed, adist)`` for EVERY vector — a
    stream cannot drop rows into a top-k, so vectors landing outside
    the probed cells carry ``probed=false, adist=null`` and gating is
    the consumer's cut. Parity-tested: probed rows score exactly as
    :func:`ivfpq_topk` over the same vectors with the same model."""
    from biomedical_data_integration_spark import config
    from biomedical_data_integration_spark.operators.similarity import (
        _ivfpq_adc_tables,
        _ivfpq_residuals,
        pq_encode,
    )

    r = spark.read.parquet(f"{index_path}/model").first()
    if r is None:
        raise ValueError(
            f"streaming_ivfpq_score: no model sidecar at {index_path}"
        )
    centroids = [[float(x) for x in c] for c in r["centroids"]]
    codebooks = [
        [[float(x) for x in cv] for cv in book] for book in r["codebooks"]
    ]
    query = [float(x) for x in query]
    dim = len(centroids[0])
    if len(query) != dim:
        raise ValueError(
            f"streaming_ivfpq_score: query dim {len(query)} != index "
            f"dim {dim}"
        )
    probed, tables = _ivfpq_adc_tables(query, centroids, codebooks, nprobe)
    scale = config.SIMILARITY_SCALE
    resid = _ivfpq_residuals(stream, centroids, vec_col, id_col, scale)
    coded = pq_encode(
        resid,
        codebooks,
        vec_col="__resid",
        id_col=id_col,
        scale=scale,
        extra_cols=("cell",),
    )

    def lit_table(cell: int):
        return F.array(
            *[
                F.array(*[F.lit(v).cast("bigint") for v in row])
                for row in tables[cell]
            ]
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
    is_probed = F.col("cell").isin([int(c) for c in probed])
    return coded.select(
        F.col(id_col),
        F.col("cell").cast("int").alias("cell"),
        is_probed.alias("probed"),
        F.when(is_probed, micro.cast("double") / F.lit(1_000_000.0))
        .otherwise(F.lit(None).cast("double"))
        .alias("adist"),
    )


def sliding_active_users(
    df: DataFrame,
    window_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Trailing-window active-user counts per day — the WAU/MAU curve
    (``window_days`` = 7 or 30). Distinct counts don't subtract, so a
    sliding frame can't reuse a running aggregate; the exact formulation
    here is contribution-expansion: collapse the corpus to distinct
    (user, day) pairs, explode each pair onto the ``window_days`` window
    END days it supports, and count distinct users per end day.

    Exact (no sketch), and every stage is map-side combinable: corpus ->
    (user, day) distinct, a x``window_days`` explode of that already
    user-day-sized table, then one distinct-count groupBy. At 100 TB the
    explode factor is the window length on the COLLAPSED table —
    ~|users| x |days| x window rows, independent of event volume. For
    very long windows, swap in the HLL register path
    (hll_sketch_grouped re-maxed over the window) documented on the
    sketch family.

    Output: (day, active_users) for every day that closes a window
    containing at least one active user, CLIPPED to the last day with
    any observed activity — the expansion would otherwise emit up to
    ``window_days - 1`` "future" end days past the data (a fabricated
    declining tail a dashboard would plot as real). Days with zero
    activity in range emit nothing (gapfill composes if a dense axis
    is needed).
    """
    if window_days < 1:
        raise ValueError("sliding_active_users: window_days must be >= 1")
    pairs = (
        df.select(
            F.col(user_col).alias("__u"),
            F.to_date(F.col(ts_col)).alias("__d"),
        )
        .where(F.col("__u").isNotNull() & F.col("__d").isNotNull())
        .distinct()
    )
    offsets = F.explode(
        F.array(*[F.lit(k) for k in range(window_days)])
    ).alias("__k")
    contrib = pairs.select(
        "__u", "__d", offsets
    ).select(
        "__u", F.date_add(F.col("__d"), F.col("__k")).alias("day")
    )
    # last observed activity day, straight off the source (one 1-row
    # aggregate, no distinct replay); rides a broadcast into the filter
    bound = (
        df.where(F.col(user_col).isNotNull())
        .select(F.to_date(F.col(ts_col)).alias("__d"))
        .where(F.col("__d").isNotNull())
        .agg(F.max("__d").alias("__max_d"))
    )
    return (
        contrib.groupBy("day")
        .agg(F.countDistinct("__u").cast("bigint").alias("active_users"))
        .join(F.broadcast(bound))
        .where(F.col("day") <= F.col("__max_d"))
        .drop("__max_d")
    )


def rfm_scores(
    df: DataFrame,
    revenue_type: str = "purchase",
    n_tiles: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """RFM segmentation: per-user Recency / Frequency / Monetary
    quintile scores (1..n_tiles, higher = better) — the classic
    customer-value grid marketing pipelines cut campaigns by.

    Recency is days from the user's last activity to the CORPUS
    reference day (its max activity day, so the readout is
    run-date-independent and replayable); frequency counts all events;
    monetary sums cent-quantized ``revenue_type`` value. Scores are
    ntile buckets over a TOTAL order (metric, then user id), so tied
    metrics split deterministically — the same rows land in the same
    tile in any engine and under any partitioning.

    Scale shape: ONE user groupBy collapses the corpus, a 1-row max
    rides a broadcast, and the three ntiles ride
    ``functions.prefix.global_ntile`` — distinct-metric prefix sums +
    metric-partitioned tiebreak windows, so no single-task sort over
    the user-count-sized table (|users| ~ 1e9 at corpus scale); tiles
    are bit-equal to the window ntile form.
    """
    from ..functions.prefix import global_ntile

    if n_tiles < 2:
        raise ValueError("rfm_scores: n_tiles must be >= 2")
    per_user = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(F.to_date(F.col(ts_col))).alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(type_col) == revenue_type,
                        F.floor(
                            F.col(value_col).cast("double") * F.lit(100.0)
                            + F.lit(0.5)
                        ).cast("bigint"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("__cents"),
        )
    )
    ref = per_user.agg(F.max("__last").alias("__ref"))
    staged = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.datediff(F.col("__ref"), F.col("__last"))
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        (F.col("__cents").cast("double") / F.lit(100.0)).alias("monetary"),
        "__cents",
    )
    # higher score = better: most recent / most frequent / highest spend.
    # ONE user count routes all three ntile kernels (the three metric
    # tables share the same row count — no per-ntile policy job).
    # Pin the per-user table FIRST: the routing count and the three
    # chained ntiles then share one materialization of the corpus-wide
    # user groupBy instead of replaying it per reference.
    from biomedical_data_integration_spark import planning

    staged = pin(staged)
    kern = planning.rank_cumsum_kernel(staged.count())
    tiled = global_ntile(
        staged, "recency_days", "user_id", n_tiles, "r_score",
        descending=True, kernel=kern,
    )
    tiled = global_ntile(
        tiled, "frequency", "user_id", n_tiles, "f_score", kernel=kern
    )
    tiled = global_ntile(
        tiled, "__cents", "user_id", n_tiles, "m_score", kernel=kern
    )
    out = tiled.select(
        "user_id",
        "recency_days",
        "frequency",
        (F.floor(F.col("monetary") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
    )
    return out.withColumn(
        "segment",
        F.concat_ws(
            "-",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def audience_overlap_daily(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Day-over-day audience overlap: for each day, the Jaccard overlap
    between its active-user set and the PREVIOUS day's — the
    returning-vs-churned decomposition at daily grain (retention_cohorts
    answers "came back eventually"; this answers "came back TOMORROW").

    Exact set arithmetic off the collapsed distinct (user, day) table:
    a self-join on (user, day = day + 1) counts the intersection, daily
    distinct counts supply the union by inclusion-exclusion — no set
    materialization, three map-side-combinable aggregations total.

    Output per day with a previous active day: (day, active, returning,
    new_users, churned, jaccard) where returning = |today ∩ yesterday|,
    new_users = today-only, churned = yesterday-only.
    """
    pairs = (
        df.select(
            F.col(user_col).alias("__u"),
            F.to_date(F.col(ts_col)).alias("__d"),
        )
        .where(F.col("__u").isNotNull() & F.col("__d").isNotNull())
        .distinct()
    )
    daily = pairs.groupBy("__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n")
    )
    inter = (
        pairs.alias("t")
        .join(
            pairs.select(
                "__u", F.date_add(F.col("__d"), 1).alias("__d")
            ).alias("y"),
            ["__u", "__d"],
        )
        .groupBy("__d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__i"))
    )
    today = daily.select(F.col("__d"), F.col("__n").alias("__today"))
    yday = daily.select(
        F.date_add(F.col("__d"), 1).alias("__d"),
        F.col("__n").alias("__yday"),
    )
    joined = (
        today.join(yday, "__d")
        .join(inter, "__d", "left")
        .withColumn("__i", F.coalesce(F.col("__i"), F.lit(0)).cast("bigint"))
    )
    q6 = lambda x: F.floor(x * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    union = F.col("__today") + F.col("__yday") - F.col("__i")
    return joined.select(
        F.col("__d").alias("day"),
        F.col("__today").alias("active"),
        F.col("__i").alias("returning"),
        (F.col("__today") - F.col("__i")).cast("bigint").alias("new_users"),
        (F.col("__yday") - F.col("__i")).cast("bigint").alias("churned"),
        q6(F.col("__i").cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def markov_stationary(
    events: DataFrame,
    n_iter: int = 50,
    scale: int = 6,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain — where
    behavior settles if today's transition structure persists; the
    long-run complement to event_transition_matrix's one-step
    probabilities (and the journey cousin of pagerank, which ranks a
    TOKEN graph the same way).

    The chain is |types|-sized however big the corpus, so after ONE
    corpus pass for exact transition counts the fit runs driver-side as
    a pure-INTEGER power iteration (the pca_top_component discipline):
    row probabilities are micro-quantized with truncating division,
    each step is an exact integer matvec renormalized by truncating L1
    division, so every engine replaying the same counts reproduces the
    same bits. Dangling states (no outgoing transitions) self-loop.

    Returns (state, n_out, pi): n_out = outgoing transition count,
    pi = stationary mass at ``scale`` decimals.
    """
    if n_iter < 1:
        raise ValueError("markov_stationary: n_iter must be >= 1")
    S = 10 ** scale
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    counts = (
        events.select(
            F.lag(type_col).over(w).alias("src"),
            F.col(type_col).alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    )
    states = sorted({r["src"] for r in counts} | {r["dst"] for r in counts})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    tot = [0] * k
    for r in counts:
        tot[idx[r["src"]]] += int(r["n"])
    p = [[0] * k for _ in range(k)]
    for r in counts:
        i, j = idx[r["src"]], idx[r["dst"]]
        p[i][j] = int(r["n"]) * S // tot[i]
    for i in range(k):
        if tot[i] == 0:
            p[i][i] = S
    v = [S] * k
    for _ in range(n_iter):
        wv = [0] * k
        for i in range(k):
            vi = v[i]
            if vi:
                row = p[i]
                for j in range(k):
                    if row[j]:
                        wv[j] += vi * row[j]
        s_l1 = sum(wv)
        v = [x * S // s_l1 for x in wv]
    spark = events.sparkSession
    rows = [
        (states[i], int(tot[i]), float(v[i]) / float(S)) for i in range(k)
    ]
    return local_frame(
        spark, rows, "state string, n_out bigint, pi double"
    )


def markov_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view", "signup"),
    n_iter: int = 60,
    scale: int = 6,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Markov removal-effect attribution — the data-driven alternative
    to last-touch/linear rules: build the journey chain (START ->
    touches -> CONV/NULL), and credit each channel by how much the
    overall conversion probability DROPS when that channel stops
    converting (entering it absorbs to NULL). Shares are the normalized
    removal effects (Anderl et al.'s standard formulation).

    Journeys: per user, each ``conversion_type`` event closes a journey
    (touches since the previous conversion -> CONV); a trailing
    unconverted run ends in NULL. ONE user-keyed window pass builds the
    exact transition counts; the chain is (|touches|+3)-sized, so the
    absorption solve runs driver-side as a pure-INTEGER fixpoint:
    micro-quantized row probabilities (truncating division), v <- P v
    with v_CONV pinned at 1, v_NULL at 0 — a monotone-from-below integer
    iteration, so the ``n_iter``-round value is a deterministic lower
    bound on the true absorption probability and every engine replaying
    the same counts reproduces the same bits. The removal chain
    needs no new counts: removing channel c just pins v_c to 0.

    Returns one row per channel: (channel, n_touches, p_conv_full,
    p_conv_removed, removal_effect, attribution_share).
    """
    import math

    if n_iter < 1:
        raise ValueError("markov_attribution: n_iter must be >= 1")
    S = 10 ** scale
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    kinds = [conversion_type, *touch_types]
    staged = (
        events.where(F.col(type_col).isin(kinds))
        .select(
            F.col(user_col).alias("u"),
            F.col(ts_col).alias("t"),
            F.col(id_col).alias("i"),
            F.col(type_col).alias("k"),
            F.coalesce(
                F.sum(
                    F.when(F.col(type_col) == conversion_type, 1).otherwise(
                        0
                    )
                ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).alias("j"),
        )
    )
    wj = Window.partitionBy("u", "j").orderBy("t", "i")
    seq = staged.select(
        "u",
        "j",
        "k",
        F.lag("k").over(wj).alias("prev"),
        F.row_number().over(
            Window.partitionBy("u", "j").orderBy(F.desc("t"), F.desc("i"))
        ).alias("rev"),
    )
    conv = F.col("k") == conversion_type
    step = seq.select(
        F.coalesce(F.col("prev"), F.lit("START")).alias("src"),
        F.when(conv, F.lit("CONV")).otherwise(F.col("k")).alias("dst"),
    )
    tails = seq.where((F.col("rev") == 1) & ~conv).select(
        F.col("k").alias("src"), F.lit("NULL").alias("dst")
    )
    counts = (
        step.unionByName(tails)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    )
    states = sorted(
        {r["src"] for r in counts} | {r["dst"] for r in counts}
    )
    tot: dict = {}
    for r in counts:
        tot[r["src"]] = tot.get(r["src"], 0) + int(r["n"])
    p = {
        (r["src"], r["dst"]): int(r["n"]) * S // tot[r["src"]]
        for r in counts
    }
    transient = [s for s in states if s not in ("CONV", "NULL")]

    def absorb(removed: str | None) -> int:
        v = {s: 0 for s in transient}
        for _ in range(n_iter):
            nv = {}
            for s in transient:
                acc = p.get((s, "CONV"), 0) * S
                for t in transient:
                    if t != removed and v[t]:
                        acc += p.get((s, t), 0) * v[t]
                nv[s] = acc // S
            if removed is not None:
                nv[removed] = 0
            v = nv
        return v.get("START", 0)

    full = absorb(None)
    touch_counts = {
        c: sum(int(r["n"]) for r in counts if r["dst"] == c)
        for c in touch_types
    }
    rows = []
    re_micro = {}
    for c in touch_types:
        rem = absorb(c) if c in states else full
        re_micro[c] = (S - rem * S // full) if full > 0 else 0
        rows.append((c, rem))
    re_total = sum(re_micro.values())
    out = []
    for c, rem in rows:
        share = (
            float(re_micro[c]) / float(re_total) if re_total > 0 else None
        )
        out.append(
            (
                c,
                int(touch_counts.get(c, 0)),
                float(full) / float(S),
                float(rem) / float(S),
                float(re_micro[c]) / float(S),
                None if share is None else math.floor(share * 1e6 + 0.5)
                / 1e6,
            )
        )
    spark = events.sparkSession
    return local_frame(
        spark,
        out,
        "channel string, n_touches bigint, p_conv_full double,"
        " p_conv_removed double, removal_effect double,"
        " attribution_share double",
    )


def shapley_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view", "signup"),
    scale: int = 6,
    ts_col: str = "ts",
    user_col: str = "user_id",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Shapley-value attribution (simplified game, Zhao et al.): each
    journey contributes its OBSERVED touch set; the coalition value
    v(S) is the conversion rate of journeys whose touch set is exactly
    S, and each channel's credit is the exact Shapley average of its
    marginal contributions across all coalitions. The cooperative-game
    counterpart to markov_attribution's removal effect — order-blind,
    but with the axiomatic fairness guarantees.

    Journeys are the SAME windows as markov_attribution (split at
    conversions, trailing runs unconverted). ONE corpus pass yields per
    touch-set-bitmask journey and conversion counts (at most
    2^|touches| rows); the Shapley sum then runs driver-side with
    integer-factorial weights over micro-quantized rates — exact
    rational arithmetic until one final division, engine-replayable
    since the 2^k coalition table is enumerable in SQL.

    Returns (channel, n_journeys_with, shapley_value, share): value in
    conversion-probability units; share normalizes over channels (NULL
    when all values are 0). Keep |touches| small (<= ~10): the game is
    exponential in channels by definition.
    """
    import math

    S = 10 ** scale
    k = len(touch_types)
    if k < 1:
        raise ValueError("shapley_attribution: need at least one touch type")
    if k > 12:
        raise ValueError(
            "shapley_attribution: 2^|touch_types| coalitions — keep the "
            "channel list under ~12"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    kinds = [conversion_type, *touch_types]
    staged = events.where(F.col(type_col).isin(kinds)).select(
        F.col(user_col).alias("u"),
        F.col(type_col).alias("kd"),
        F.coalesce(
            F.sum(
                F.when(F.col(type_col) == conversion_type, 1).otherwise(0)
            ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("j"),
    )
    bit = {t: 1 << i for i, t in enumerate(touch_types)}
    mask_expr = None
    for t in touch_types:
        term = F.max(
            F.when(F.col("kd") == t, F.lit(bit[t])).otherwise(F.lit(0))
        )
        mask_expr = term if mask_expr is None else mask_expr + term
    per_journey = staged.groupBy("u", "j").agg(
        mask_expr.cast("int").alias("mask"),
        F.max(
            (F.col("kd") == conversion_type).cast("int")
        ).alias("conv"),
    )
    rows = (
        per_journey.where(F.col("mask") > 0)
        .groupBy("mask")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("conv").cast("bigint").alias("nc"),
        )
        .collect()
    )
    n_by = {int(r["mask"]): int(r["n"]) for r in rows}
    c_by = {int(r["mask"]): int(r["nc"]) for r in rows}
    # v(mask) in micro units — truncating division, engine-replayable
    v = {
        m: (c_by[m] * S // n_by[m]) if n_by.get(m) else 0
        for m in range(1, 1 << k)
    }
    fact = [math.factorial(i) for i in range(k + 1)]
    denom = fact[k]
    phi_num = {t: 0 for t in touch_types}  # sum of weight*(marginal), scaled
    for t in touch_types:
        b = bit[t]
        for m in range(0, 1 << k):
            if m & b:
                continue
            s_size = bin(m).count("1")
            weight = fact[s_size] * fact[k - s_size - 1]
            phi_num[t] += weight * (v.get(m | b, 0) - v.get(m, 0))
    # phi in micro units, truncating toward zero like the engines' //
    phi = {}
    for t in touch_types:
        num = phi_num[t]
        q = abs(num) // denom
        phi[t] = q if num >= 0 else -q
    total = sum(phi.values())
    with_counts = {
        t: sum(n_by.get(m, 0) for m in range(1, 1 << k) if m & bit[t])
        for t in touch_types
    }
    out = []
    for t in touch_types:
        share = (
            math.floor(phi[t] * 1e6 / total + 0.5) / 1e6
            if total > 0
            else None
        )
        out.append(
            (
                t,
                int(with_counts[t]),
                float(phi[t]) / float(S),
                share,
            )
        )
    spark = events.sparkSession
    return local_frame(
        spark,
        out,
        "channel string, n_journeys_with bigint, shapley_value double,"
        " share double",
    )
