"""Byte-pair-encoding tokenizer training over a Spark corpus.

Engine extension (the reference has no tokenizer operators; SURVEY §2
scopes text analysis — this adds the tokenizer-TRAINING stage a
pretraining data pipeline needs). The design mirrors how real trainers
(sentencepiece, HuggingFace tokenizers) scale: BPE merges are a function
of the WORD-FREQUENCY table, not of the corpus, so

1. the corpus is scanned exactly once to aggregate ``word_counts`` —
   the only corpus-sized job, a map-side-combinable groupBy;
2. the merge loop runs on the word table, which is vocabulary-sized
   (Heaps' law: ~1e6-1e7 distinct words even at 100 TB) and is capped by
   ``max_words`` via a distributed top-k (TakeOrderedAndProject), so the
   driver collect is bounded no matter the corpus — the same
   frequency-floor truncation every production tokenizer trainer applies;
3. encoding applies the learned merge ranks per word with an
   executor-side greedy loop (Arrow-batched pandas UDF) and a per-batch
   word cache — words repeat, so amortized cost per token is far below
   one merge-scan per occurrence.

Determinism: merge selection breaks count ties on the lexicographically
smaller pair, so the merge table is a pure function of the word counts
(no dict-ordering or float dependence anywhere).
"""

from __future__ import annotations

from typing import Iterable, List, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import char_ngrams
from ..session import local_frame
from .text import tokens_expr

# The driver-side merge loop holds (word, count, symbol list) for the
# top-N words. 1M words x ~40 bytes is tens of MB — comfortably
# driver-sized; beyond it the frequency floor changes merges by at most
# the tail mass every real trainer also discards.
BPE_WORD_LIMIT = 1_000_000


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table: (word, n_words), one scan, one
    map-side-combinable groupBy. Tokenization is the engine's standard
    ``tokens_expr`` (lowercased whitespace tokens) so BPE ingests exactly
    what every other text operator emits."""
    return (
        df.select(F.explode(tokens_expr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_words"))
    )


def pair_stats(
    wc: DataFrame, word_col: str = "word", count_col: str = "n_words"
) -> DataFrame:
    """Adjacent-symbol pair counts over the word table — the first BPE
    iteration's statistics, fully expression-level: each word's char
    bigrams (``char_ngrams`` n=2) explode weighted by the word count,
    then one groupBy sums. Output (pair, pair_count) with single-char
    words contributing nothing."""
    return (
        wc.select(
            F.explode(
                char_ngrams(F.col(word_col), n_min=2, n_max=2)
            ).alias("pair"),
            F.col(count_col).alias("__n"),
        )
        .groupBy("pair")
        .agg(F.sum("__n").alias("pair_count"))
    )


def _count_pairs(vocab: List[Tuple[List[str], int]]) -> dict:
    counts: dict = {}
    for syms, n in vocab:
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            counts[p] = counts.get(p, 0) + n
    return counts


def _merge_word(syms: List[str], a: str, b: str) -> List[str]:
    """Left-to-right non-overlapping merge of (a, b) -> a+b."""
    out: List[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    wc: DataFrame,
    num_merges: int,
    min_pair_count: int = 2,
    max_words: int = BPE_WORD_LIMIT,
    word_col: str = "word",
    count_col: str = "n_words",
) -> List[Tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a :func:`word_counts` table.

    The word table is truncated to the ``max_words`` most frequent words
    (count desc, word asc — a deterministic distributed top-k, planned as
    TakeOrderedAndProject, bounding the driver collect regardless of
    corpus size), then the classic merge loop runs driver-side: count
    adjacent pairs, merge the most frequent (ties -> lexicographically
    smaller pair), repeat. Stops early when the best pair drops below
    ``min_pair_count``. Returns the ordered merge list — rank = list
    position, the artifact :func:`encode_bpe` consumes."""
    if num_merges < 0:
        raise ValueError("train_bpe: num_merges must be >= 0")
    rows = (
        wc.select(word_col, count_col)
        .orderBy(F.col(count_col).desc(), F.col(word_col).asc())
        .limit(int(max_words))
        .collect()
    )
    vocab: List[Tuple[List[str], int]] = [
        (list(r[0]), int(r[1])) for r in rows if r[0]
    ]
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        counts = _count_pairs(vocab)
        if not counts:
            break
        # deterministic argmax: highest count, then smallest pair
        best_pair, best_n = None, -1
        for p, n in counts.items():
            if n > best_n or (n == best_n and p < best_pair):
                best_pair, best_n = p, n
        if best_n < min_pair_count:
            break
        a, b = best_pair
        vocab = [(_merge_word(s, a, b), n) for s, n in vocab]
        merges.append(best_pair)
    return merges


def _encode_word(word: str, ranks: dict) -> List[str]:
    syms = list(word)
    while len(syms) > 1:
        # find the present pair with the lowest merge rank
        best_i, best_rank = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        a, b = syms[best_i], syms[best_i + 1]
        syms = _merge_word(syms, a, b)
    return syms


def encode_bpe(
    df: DataFrame,
    merges: Sequence[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col`` (array<string> of BPE subword tokens) by
    applying the learned merges greedily in rank order — the standard
    BPE encode. Executor-side pandas UDF over the token arrays with a
    per-batch word->pieces cache (words repeat heavily, so each distinct
    word pays the merge loop once per Arrow batch). The merge table
    rides the closure (merge lists are KBs — broadcast-by-closure is the
    right size class)."""
    import pandas as pd
    from pyspark.sql.types import ArrayType, StringType

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    @F.pandas_udf(ArrayType(StringType()))
    def _encode(tok_series):  # pd.Series -> pd.Series
        cache: dict = {}

        def enc(tokens) -> List[str]:
            # Arrow delivers array columns as numpy arrays (no truthiness)
            if tokens is None:
                return []
            out: List[str] = []
            for w in tokens:
                got = cache.get(w)
                if got is None:
                    got = _encode_word(w, ranks)
                    cache[w] = got
                out.extend(got)
            return out

        return tok_series.map(enc)

    return df.withColumn(out_col, _encode(tokens_expr(F.col(text_col))))


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer training — the other standard
# subword trainer next to BPE (Kudo, ACL'18). Same scale shape as train_bpe:
# the corpus is scanned once for word_counts; everything after runs on the
# Heaps-bounded word table.
# ---------------------------------------------------------------------------

# Greedy segmentation inlines the piece vocabulary as a literal array (the
# kmeans literal-centroid discipline): each fold step compares the cursor
# against every piece, so the expression is O(word_len * |pieces|). Past
# this limit encode_unigram routes to the broadcast-join kernel
# (segment_words_join) via planning.segmentation_kernel — the same
# switchover planning.centroid_assign_kernel applies to centroids.
# (Kept equal to planning.SEGMENT_LITERAL_LIMIT; this name predates the
# policy and stays as the train-side guard.)
UNIGRAM_LITERAL_LIMIT = 2_000


def _seg_kernel(n_pieces: int) -> str:
    from .. import planning

    return planning.segmentation_kernel(n_pieces)


def _greedy_segment(word, pieces: List[str]):
    """Expression: greedy longest-match-first segmentation of ``word``
    against the literal ``pieces`` vocabulary; returns array<string> of
    the VOCAB pieces consumed in order (single-character fallbacks keep
    the cursor moving but are not emitted — they are coverage, not
    vocabulary). Deterministic: two distinct pieces of equal length
    cannot match the same position, so longest-match has no ties."""
    # ONE array literal (F.lit(list)), not a per-piece CreateArray: a
    # 2000-piece vocabulary otherwise rides the plan as 2000 literal
    # expressions referenced once per cursor step — identical values,
    # far cheaper analysis/codegen (round-12 optimization)
    lit = F.lit([str(p) for p in pieces]).cast("array<string>")

    def step(acc, i):
        cand = F.filter(
            lit,
            lambda p: word.substr(acc["pos"], F.length(p)) == p,
        )
        best = F.array_max(
            F.transform(
                cand,
                lambda p: F.struct(
                    F.length(p).alias("l"), p.alias("p")
                ),
            )
        )
        hit = best.isNotNull() & (i == acc["pos"])
        return F.when(
            i != acc["pos"], acc
        ).otherwise(
            F.struct(
                F.when(hit, acc["pos"] + best["l"])
                .otherwise(acc["pos"] + 1)
                .alias("pos"),
                F.when(hit, F.concat(acc["out"], F.array(best["p"])))
                .otherwise(acc["out"])
                .alias("out"),
            )
        )

    init = F.struct(
        F.lit(1).cast("int").alias("pos"),
        F.array().cast("array<string>").alias("out"),
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
        init,
        step,
        lambda acc: acc["out"],
    )


def _greedy_segment_map(word, pos_map):
    """Expression: the same greedy longest-match cursor walk as
    :func:`_greedy_segment`, but the per-position best match comes from
    ``pos_map`` (map<int, struct<plen:int, piece:string>>, precomputed
    by the broadcast-join kernel) instead of scanning a literal piece
    array — the fold is O(word_len) and CONSTANT-SHAPE in the
    vocabulary size, so it codegens once no matter how many pieces."""
    init = F.struct(
        F.lit(1).cast("int").alias("pos"),
        F.array().cast("array<string>").alias("out"),
    )

    def step(acc, i):
        best = F.element_at(pos_map, i)
        hit = best.isNotNull()
        return F.when(i != acc["pos"], acc).otherwise(
            F.struct(
                F.when(hit, acc["pos"] + best["plen"])
                .otherwise(acc["pos"] + 1)
                .alias("pos"),
                F.when(hit, F.concat(acc["out"], F.array(best["piece"])))
                .otherwise(acc["out"])
                .alias("out"),
            )
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
        init,
        step,
        lambda acc: acc["out"],
    )


def segment_words_join(
    words: DataFrame,
    pieces: DataFrame,
    word_col: str = "word",
    piece_col: str = "piece",
) -> DataFrame:
    """Greedy longest-match segmentation of a word table against an
    arbitrarily large piece vocabulary — the ``"join"`` kernel of
    ``planning.segmentation_kernel`` (round-11 verdict item 2; the
    literal-fold kernel caps at UNIGRAM_LITERAL_LIMIT pieces while
    production SentencePiece vocabularies are 32k–256k).

    Shape (the word side — the corpus-derived table — is never
    shuffled by the matching join; pieces are vocabulary-sized and ride
    as broadcasts):

    1. candidate substrings: words × BROADCAST distinct piece LENGTHS
       (a handful of rows) explode to (word, pos, len, substr) — plan
       size O(1) in the vocabulary;
    2. matches: candidates equi-join the BROADCAST piece table on
       substring equality;
    3. longest match per (word, pos): ``max(struct(plen, piece))`` —
       ties impossible (two distinct equal-length pieces cannot equal
       the same substring); word-table-bounded aggregation;
    4. per-word position→match map, then the O(word_len) cursor fold
       (:func:`_greedy_segment_map`) replays EXACTLY the literal
       kernel's greedy semantics: advance by the matched piece length,
       or 1 on fallback (single characters are coverage, not output).

    Returns one row per input word: (word_col, ``pieces``
    array<string>); words with no matching piece get an empty array.
    Bit-equal to ``_greedy_segment`` on the same vocabulary (gated by
    tests), so the two kernels are interchangeable behind the policy."""
    word = F.col(word_col)
    lens = pieces.select(
        F.length(piece_col).cast("int").alias("__plen")
    ).distinct()
    cand = (
        words.select(word_col)
        .crossJoin(F.broadcast(lens))
        .where(F.length(word) >= F.col("__plen"))
        .select(
            word_col,
            "__plen",
            F.explode(
                F.sequence(
                    F.lit(1), F.length(word) - F.col("__plen") + 1
                )
            ).alias("__pos"),
        )
        .withColumn(
            "__sub", word.substr(F.col("__pos"), F.col("__plen"))
        )
    )
    matches = cand.join(
        F.broadcast(pieces.select(F.col(piece_col).alias("__sub"))),
        "__sub",
    )
    best = matches.groupBy(word_col, "__pos").agg(
        F.max(
            F.struct(
                F.col("__plen").alias("plen"),
                F.col("__sub").alias("piece"),
            )
        ).alias("__best")
    )
    byword = best.groupBy(word_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__pos"), F.col("__best")))
        ).alias("__m")
    )
    return words.select(word_col).join(byword, word_col, "left").select(
        word_col,
        F.when(
            F.col("__m").isNull(), F.array().cast("array<string>")
        )
        .otherwise(_greedy_segment_map(word, F.col("__m")))
        .alias("pieces"),
    )


def encode_unigram_join(
    df: DataFrame,
    pieces: "DataFrame | Sequence",
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "unigram_tokens",
) -> DataFrame:
    """Broadcast-join encode face for vocabularies past the literal
    limit: segment the corpus's DISTINCT words once
    (:func:`segment_words_join` — Heaps-bounded work no matter the
    corpus size), then reassemble each document's piece sequence in
    token order. ``pieces`` may be a DataFrame with a ``piece`` column
    (fully collect-free — the vocabulary never touches the driver) or
    the ``[(piece, n), ...]`` usage list :func:`train_unigram` returns.

    Scale: the corpus is scanned twice (distinct words; token stream),
    the match join broadcasts only vocabulary-sized tables, and the two
    corpus-side shuffles (word distinct, per-document reassembly) are
    map-side-combinable / id-keyed — the same cost class as any
    tokenize-and-regroup. Requires ``id_col`` to key the reassembly
    (documents.doc_id in the registry)."""
    if id_col not in df.columns:
        raise ValueError(
            f"encode_unigram_join: id_col {id_col!r} not in input "
            "columns — the join kernel reassembles per-document piece "
            "sequences by id"
        )
    if not isinstance(pieces, DataFrame):
        vals = [p if isinstance(p, str) else p[0] for p in pieces]
        pieces = local_frame(
            df.sparkSession, [(p,) for p in vals], "piece string"
        )
    words = df.select(
        F.explode(tokens_expr(F.col(text_col))).alias("word")
    ).distinct()
    seg = segment_words_join(words, pieces)
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens_expr(F.col(text_col))).alias(
            "__tpos", "word"
        ),
    )
    grouped = (
        toks.join(seg, "word", "left")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__tpos"),
                                F.coalesce(
                                    F.col("pieces"),
                                    F.array().cast("array<string>"),
                                ).alias("p"),
                            )
                        )
                    ),
                    lambda s: s["p"],
                )
            ).alias(out_col)
        )
    )
    return df.join(grouped, id_col, "left").withColumn(
        out_col,
        F.coalesce(F.col(out_col), F.array().cast("array<string>")),
    )


def unigram_candidates(
    wc: DataFrame,
    max_piece_len: int = 5,
    word_col: str = "word",
    count_col: str = "n_words",
) -> DataFrame:
    """Candidate-piece statistics over the word table: every substring
    of length 2..``max_piece_len`` of every word, weighted by the word's
    corpus count — the unigram trainer's seed pool (Kudo'18 builds it
    from suffix-array-frequent substrings; on a Heaps-bounded word table
    the exhaustive enumeration is vocab-sized work). One explode + one
    map-side-combinable groupBy; output (piece, piece_count)."""
    # guard the position sequence: Spark's sequence(1, stop) DESCENDS
    # ([1, 0]) when stop < 1 — an unguarded call would double-count
    # whole-word pieces for words with length == piece length
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(2), F.lit(int(max_piece_len))),
            lambda l: F.when(
                F.length(F.col(word_col)) >= l,
                F.transform(
                    F.sequence(
                        F.lit(1), F.length(F.col(word_col)) - l + 1
                    ),
                    lambda s: F.col(word_col).substr(s, l),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    return (
        wc.where(F.length(F.col(word_col)) >= 2)
        .select(F.explode(subs).alias("piece"), F.col(count_col).alias("__n"))
        .groupBy("piece")
        .agg(F.sum("__n").alias("piece_count"))
    )


def train_unigram(
    wc: DataFrame,
    vocab_size: int = 64,
    iters: int = 2,
    candidate_pool: int = 128,
    max_piece_len: int = 5,
    word_col: str = "word",
    count_col: str = "n_words",
    kernel: str | None = None,
) -> List[Tuple[str, int]]:
    """Train a unigram-LM piece vocabulary (SentencePiece's other half,
    next to :func:`train_bpe`) by fixed-iteration hard-EM with greedy
    longest-match segmentation:

    1. seed = the ``candidate_pool`` most corpus-frequent substrings of
       length 2..``max_piece_len`` (:func:`unigram_candidates`,
       deterministic (count desc, piece asc) distributed top-k);
    2. each iteration segments every word against the CURRENT piece set
       (greedy longest-match — the deterministic hard-E-step; the
       expression-level fold runs distributed over the word table with
       the pieces inlined as literals, the kmeans literal-centroid
       discipline) and counts piece usage weighted by word frequency
       (one map-side-combinable groupBy, collected at piece-vocabulary
       size);
    3. the M-step keeps the ``vocab_size`` most-used pieces
       (usage desc, piece asc); zero-usage pieces drop out — the
       unigram PRUNE step, which is what the iterations are for:
       pieces that looked frequent as raw substrings but lose every
       segmentation to a longer piece are culled, freeing slots.

    All-integer end to end (counts, never probabilities), so an
    ANSI-SQL oracle replays every iteration exactly (recursive-CTE
    segmentation). Returns the final ``[(piece, n_uses), ...]`` sorted
    (n_uses desc, piece asc) — feed to :func:`encode_unigram` /
    :func:`unigram_logprobs`."""
    if vocab_size < 1:
        raise ValueError("train_unigram: vocab_size must be >= 1")
    if iters < 1:
        raise ValueError("train_unigram: iters must be >= 1")
    if candidate_pool < vocab_size:
        raise ValueError(
            "train_unigram: candidate_pool must be >= vocab_size"
        )
    cand = (
        unigram_candidates(
            wc, max_piece_len=max_piece_len,
            word_col=word_col, count_col=count_col,
        )
        .orderBy(F.col("piece_count").desc(), F.col("piece").asc())
        .limit(int(candidate_pool))
        .collect()
    )
    pieces = [r["piece"] for r in cand]
    usage: List[Tuple[str, int]] = []
    for _ in range(int(iters)):
        if not pieces:
            break
        # E-step kernel routing (planning.segmentation_kernel): the
        # literal fold below the limit; past it — real SentencePiece
        # candidate pools are 1M+ substrings — the broadcast-join
        # kernel (segment_words_join), bit-equal by construction
        kern = kernel or _seg_kernel(len(pieces))
        if kern == "join":
            pieces_df = local_frame(
                wc.sparkSession, [(p,) for p in pieces], "piece string"
            )
            seg_rows = (
                segment_words_join(
                    wc.select(word_col), pieces_df, word_col=word_col
                )
                .join(wc, word_col)
                .select(
                    F.explode("pieces").alias("piece"),
                    F.col(count_col).alias("__n"),
                )
            )
        else:
            if len(pieces) > UNIGRAM_LITERAL_LIMIT:
                raise ValueError(
                    f"train_unigram: candidate_pool {len(pieces)} "
                    f"exceeds UNIGRAM_LITERAL_LIMIT="
                    f"{UNIGRAM_LITERAL_LIMIT} for the literal kernel — "
                    "use kernel='join' (segment_words_join)"
                )
            seg_rows = wc.select(
                F.explode(
                    _greedy_segment(F.col(word_col), pieces)
                ).alias("piece"),
                F.col(count_col).alias("__n"),
            )
        rows = (
            seg_rows.groupBy("piece")
            .agg(F.sum("__n").alias("n_uses"))
            .collect()
        )
        usage = sorted(
            ((r["piece"], int(r["n_uses"])) for r in rows),
            key=lambda t: (-t[1], t[0]),
        )[: int(vocab_size)]
        pieces = [p for p, _ in usage]
    return usage


def save_merges(
    spark, merges: Sequence[Tuple[str, str]], path: str,
    mode: str = "overwrite",
) -> None:
    """Persist a :func:`train_bpe` merge list as a (rank, left, right)
    parquet sidecar — the :func:`save_vocab` pattern for the BPE family
    (round-11 verdict item 6), completing tokenizer symmetry: both
    trainers now have a train-once artifact their encode faces serve
    from without retraining. Rank IS the model (greedy encode applies
    merges lowest-rank-first); :func:`load_merges` restores the exact
    ordered list."""
    mdf = local_frame(
        spark,
        [(int(i), str(a), str(b)) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )
    mdf.coalesce(1).write.mode(mode).parquet(path)
    spark.catalog.refreshByPath(path)


def load_merges(spark, path: str) -> List[Tuple[str, str]]:
    """Load a :func:`save_merges` sidecar back into the trainer's exact
    ordered merge list (rank ascending — the order is the model)."""
    rows = spark.read.parquet(path).collect()
    return [
        (r["left"], r["right"])
        for r in sorted(rows, key=lambda r: int(r["rank"]))
    ]


def encode_bpe_persisted(
    spark,
    df: DataFrame,
    path: str,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Serve BPE tokenization from a :func:`save_merges` sidecar: one
    driver-side sidecar read (merge lists are KBs), then
    :func:`encode_bpe`'s exact Arrow-batched encode — no training jobs
    in the plan (plan-gated); bit-identical to encoding with the
    in-memory merge list (integer ranks and strings round-trip parquet
    exactly)."""
    return encode_bpe(
        df, load_merges(spark, path), text_col=text_col, out_col=out_col
    )


def save_vocab(
    spark, usage: Sequence[Tuple[str, int]], path: str,
    mode: str = "overwrite",
) -> None:
    """Persist a trained piece vocabulary (:func:`train_unigram` /
    :func:`train_bpe` merge usage) as a (piece, n_uses) parquet sidecar
    — the classifier/IVFPQ model-sidecar pattern applied to the third
    trainer family, so tokenization serves without re-running the EM
    rounds. Integer counts round-trip exactly; :func:`load_vocab`
    restores the exact (n_uses desc, piece asc) order the trainer
    emitted."""
    mdf = local_frame(
        spark,
        [(str(p), int(n)) for p, n in usage],
        "piece string, n_uses bigint",
    )
    mdf.coalesce(1).write.mode(mode).parquet(path)
    spark.catalog.refreshByPath(path)


def load_vocab(spark, path: str) -> List[Tuple[str, int]]:
    """Load a :func:`save_vocab` sidecar back into the trainer's exact
    return value (sorted n_uses desc, piece asc — the order is part of
    the model: logprobs and literal-kernel plans depend on it)."""
    rows = spark.read.parquet(path).collect()
    return sorted(
        ((r["piece"], int(r["n_uses"])) for r in rows),
        key=lambda t: (-t[1], t[0]),
    )


def unigram_logprobs(usage: Sequence[Tuple[str, int]]) -> List[Tuple[str, int]]:
    """Quantized unigram log-probabilities in micro-nats from a
    :func:`train_unigram` usage table: ``round(1e6 * ln(n/total))`` per
    piece, computed with the half-away-from-zero integer rounding both
    engines share. Integer outputs keep oracle replays exact."""
    import math as _math

    total = sum(n for _, n in usage)
    out = []
    for p, n in usage:
        v = _math.log(n / total) * 1_000_000.0
        q = _math.floor(abs(v) + 0.5)
        out.append((p, -q if v < 0 else q))
    return out


def encode_unigram(
    df: DataFrame,
    usage: Sequence[Tuple[str, int]],
    text_col: str = "text",
    out_col: str = "unigram_tokens",
    id_col: str = "doc_id",
    kernel: str | None = None,
) -> DataFrame:
    """Append ``out_col`` (array<string>) segmenting each whitespace
    token with the trained piece vocabulary via the SAME greedy
    longest-match the trainer used. Kernel routing
    (``planning.segmentation_kernel``): at or below the literal limit,
    a pure expression projection with the pieces inlined (no Python, no
    shuffle); past it — production vocabularies are 32k–256k pieces —
    the broadcast-join kernel (:func:`encode_unigram_join`), which
    segments distinct words once and reassembles per document by
    ``id_col``. Both kernels emit identical piece sequences (gated by
    tests/test_bpe.py)."""
    pieces = [p for p, _ in usage]
    if kernel is None:
        from .. import planning

        kernel = planning.segmentation_kernel(len(pieces))
    if kernel == "join":
        return encode_unigram_join(
            df, pieces, id_col=id_col, text_col=text_col, out_col=out_col
        )
    if len(pieces) > UNIGRAM_LITERAL_LIMIT:
        raise ValueError(
            f"encode_unigram: vocab {len(pieces)} exceeds "
            f"UNIGRAM_LITERAL_LIMIT={UNIGRAM_LITERAL_LIMIT} for the "
            "literal kernel — use kernel='join' (encode_unigram_join)"
        )

    def seg_tok(w):
        expr = _greedy_segment(w, pieces)
        return expr

    return df.withColumn(
        out_col,
        F.flatten(
            F.transform(tokens_expr(F.col(text_col)), seg_tok)
        )
        if pieces
        else F.array().cast("array<string>"),
    )
