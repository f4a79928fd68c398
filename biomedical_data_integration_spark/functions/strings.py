"""String-similarity expression builders.

All of these return ``pyspark.sql.Column`` expressions built purely from
built-in functions, so they run inside whole-stage codegen (no Python in
the hot path) and are reproducible in any ANSI-SQL oracle.

Reference semantics mirrored here:
- value normalization = stringify + trim (``bdikit/api.py:360-363``)
- edit-distance similarity = normalized ratio in [0, 1]
  (``bdikit/value_matching/polyfuzz.py:77-97``; the reference uses
  rapidfuzz's Indel ratio — we use the Levenshtein ratio, same contract:
  1.0 iff equal, 0.0 iff nothing shared; see ``indel_ratio_udf`` for the
  exact-parity variant)
- "clean string" preprocessing for TF-IDF = lowercase + strip
  non-alphanumerics (PolyFuzz ``clean_string=True``,
  ``polyfuzz.py:49-74``)
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional, Tuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_value(col: Column) -> Column:
    """Stringify and trim, the reference's match-time normalization
    (``bdikit/api.py:360-363``)."""
    return F.trim(col.cast("string"))


def clean_string(col: Column) -> Column:
    """Lowercase and collapse non-alphanumerics to single spaces
    (PolyFuzz ``clean_string=True`` equivalent)."""
    cleaned = F.regexp_replace(F.lower(col), "[^a-z0-9]+", " ")
    return F.trim(cleaned)


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity in [0, 1].

    ``1 - lev(a, b) / max(len(a), len(b))``; two empty strings score 1.0.
    Chosen over rapidfuzz's Indel ratio because ``levenshtein`` is a
    built-in in both Spark and every SQL oracle, keeping the kernel
    JVM-side and hash-checkable.
    """
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / max_len
    )


def indel_ratio(a: Column, b: Column) -> Column:
    """Exact rapidfuzz ``fuzz.ratio`` parity: normalized Indel similarity.

    Indel distance is Levenshtein without substitutions:
    ``indel = len(a) + len(b) - 2 * LCS(a, b)`` and
    ``ratio = 1 - indel / (len(a) + len(b))``. LCS is not expressible with
    built-ins, so this uses a vectorized pandas UDF — keep it off the hot
    path; ``levenshtein_ratio`` is the default kernel.
    (Reference: ``bdikit/value_matching/polyfuzz.py:89``.)
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _indel(sa: "pd.Series", sb: "pd.Series") -> "pd.Series":
        import pandas as pd

        def one(x, y):
            if x is None or y is None:
                return None
            x, y = str(x), str(y)
            if not x and not y:
                return 1.0
            # classic O(len(x)*len(y)) LCS DP, row-compressed
            prev = [0] * (len(y) + 1)
            for cx in x:
                cur = [0]
                for j, cy in enumerate(y, start=1):
                    cur.append(
                        prev[j - 1] + 1 if cx == cy else max(prev[j], cur[j - 1])
                    )
                prev = cur
            lcs = prev[-1]
            return 1.0 - (len(x) + len(y) - 2 * lcs) / (len(x) + len(y))

        return pd.Series([one(x, y) for x, y in zip(sa, sb)], dtype="float64")

    return _indel(a.cast("string"), b.cast("string"))


def char_ngrams(col: Column, n_min: int = 1, n_max: int = 3) -> Column:
    """All character n-grams of ``col`` for n in [n_min, n_max], as an
    array<string> (with duplicates — term frequency is derived downstream).

    Built from ``sequence`` + ``transform`` + ``substring`` so the whole
    n-gram expansion stays in the JVM; ``flatten`` stitches the per-n
    arrays. Empty input yields an empty array.
    """
    def grams_expr(n: int) -> Column:
        return F.when(
            F.length(col) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(col) - F.lit(n) + 1),
                lambda i: col.substr(i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    parts = [grams_expr(n) for n in range(n_min, n_max + 1)]
    return F.flatten(F.array(*parts))


def py_clean_string(s: str) -> str:
    """Driver-side mirror of :func:`clean_string` (identical regex)."""
    import re

    return re.sub("[^a-z0-9]+", " ", s.lower()).strip()


def py_char_ngram_tf(s: str, n_min: int = 1, n_max: int = 3) -> dict:
    """Driver-side term-frequency map over char n-grams — mirrors
    :func:`char_ngrams` + the downstream tf aggregation exactly."""
    tf: dict = {}
    for n in range(n_min, n_max + 1):
        for i in range(len(s) - n + 1):
            g = s[i : i + n]
            tf[g] = tf.get(g, 0.0) + 1.0
    return tf


def py_tfidf_cosines(
    source: Iterable[str],
    target: Iterable[str],
    n_min: int = 1,
    n_max: int = 3,
    max_df_fraction: Optional[float] = None,
) -> Dict[Tuple[str, str], float]:
    """Driver-side char-n-gram TF-IDF cosine between ``source`` and
    ``target`` strings: tf over the n-grams of :func:`py_clean_string`,
    smooth idf fit on the union corpus (a string on both sides counts
    once per side; terms in more than ``max_df_fraction`` of it dropped),
    L2-normalized weights. Only pairs sharing a term appear, so the cost
    is shared-term pairs (an inverted index over ``target``); the dot
    product adds in source-term order, the order every caller relied on
    for bit-identical scores."""
    import math

    s_tf = {v: py_char_ngram_tf(py_clean_string(v), n_min, n_max) for v in source}
    t_tf = {v: py_char_ngram_tf(py_clean_string(v), n_min, n_max) for v in target}
    n_docs = float(len(s_tf) + len(t_tf))
    dfc: Dict[str, int] = {}
    for tf in (*s_tf.values(), *t_tf.values()):
        for term in tf:
            dfc[term] = dfc.get(term, 0) + 1
    idf = {
        term: math.log((1.0 + n_docs) / (1.0 + df)) + 1.0
        for term, df in dfc.items()
        if max_df_fraction is None or df <= max_df_fraction * n_docs
    }

    def unit(tf: dict) -> dict:
        w = {t: f * idf[t] for t, f in tf.items() if t in idf}
        norm = math.sqrt(sum(v * v for v in w.values()))
        return {t: v / norm for t, v in w.items()} if norm else {}

    inv: Dict[str, list] = {}
    for tv, tf in t_tf.items():
        for term, w in unit(tf).items():
            inv.setdefault(term, []).append((tv, w))
    sims: Dict[Tuple[str, str], float] = {}
    for sv, tf in s_tf.items():
        for term, w in unit(tf).items():
            for tv, wt in inv.get(term, ()):
                sims[(sv, tv)] = sims.get((sv, tv), 0.0) + w * wt
    return sims


def py_round_half_up(x: float, scale: int) -> float:
    """Driver-side mirror of Spark's ``F.round`` on doubles: HALF_UP over
    the double's shortest decimal representation (Python's ``round`` is
    banker's rounding, which diverges on exact .5 boundaries)."""
    from decimal import ROUND_HALF_UP, Decimal

    exp = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(x)).quantize(exp, rounding=ROUND_HALF_UP))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-gram shingles from an array<string> token column, joined with
    a single space. Documents shorter than ``n`` tokens yield one shingle
    of all their tokens (so no document silently disappears)."""
    size = F.size(tokens)
    full = F.transform(
        F.sequence(F.lit(1), size - F.lit(n) + 1),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(size >= n, full).otherwise(F.array(F.array_join(tokens, " ")))


def word_ngrams_strict(tokens: Column, n: int) -> Column:
    """Word n-grams with NO short-document fallback: documents shorter
    than ``n`` tokens yield an EMPTY array (unlike :func:`word_ngrams`,
    whose whole-document fallback exists so dedup never silently drops
    a document). Repetition/statistics operators use this form — a
    3-token document must not contribute a fake "5-gram"."""
    size = F.size(tokens)
    full = F.transform(
        F.sequence(F.lit(1), size - F.lit(n) + 1),
        lambda i: F.array_join(F.slice(tokens, i, n), " "),
    )
    return F.when(size >= n, full).otherwise(
        F.array().cast("array<string>")
    )
