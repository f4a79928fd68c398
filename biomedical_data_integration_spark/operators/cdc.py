"""Change-data-capture maintenance operators: snapshot compaction
(upsert / latest-wins merge) and SCD-type-2 history derivation.

A training-data platform ingests mutable upstream tables (user profiles,
document metadata, label corrections) as append-only change streams;
these operators turn that log into (a) the current snapshot and (b) the
full validity-interval history — the two shapes every downstream join
wants. The reference (bdi-kit) has no table-maintenance surface;
engine-claimed extension, same family as the hypertable rollup
maintenance in ``streaming/events.py``.

Scale notes: both operators are ONE window function over a key-hash
shuffle — the canonical Spark shape for log compaction. No driver
state, no iteration; skewed keys are ordinary window skew (salt the key
upstream if one entity dominates the change log).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark.session import pin

__all__ = ["upsert_snapshot", "scd2_history", "table_diff"]


def upsert_snapshot(
    changes: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "d",
) -> DataFrame:
    """Latest-wins compaction of a change log: one row per key, the row
    with the greatest ``order_cols`` (ties broken by the LAST order
    column — pass a unique change id last to make the winner total).

    ``op_col`` enables DELETE tombstones (the Debezium/CDC ``op`` field):
    when the LATEST change for a key has ``op_col == delete_op``, the key
    vanishes from the snapshot entirely — the same filter-after-winner
    step a ``MERGE ... WHEN MATCHED AND op = 'd' THEN DELETE`` performs.
    Earlier deletes followed by re-inserts behave correctly (only the
    winner's op matters).

    Equivalent to ``MERGE INTO`` replayed over the whole log, expressed
    as a single row_number window — one shuffle on the key, map-side
    nothing to combine (row identity must survive), which is the minimal
    plan for this semantics.
    """
    if not key_cols or not order_cols:
        raise ValueError("upsert_snapshot: key_cols and order_cols required")
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    out = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    if op_col is not None:
        out = out.where(
            ~F.col(op_col).eqNullSafe(F.lit(delete_op))
        )
    return out


def scd2_history(
    changes: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    attr_cols: Sequence[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2: collapse a change log into
    validity intervals. Consecutive rows of a key whose ``attr_cols``
    are unchanged merge into one interval; each output row carries
    ``valid_from`` (first ts at that attribute state) and ``valid_to``
    (the next state's valid_from; null = current).

    One ordered window pass per key: a null-safe lag comparison flags
    state changes, a running sum of flags numbers the versions, a
    min-per-version groupBy opens the intervals, and a lead window
    closes them. Two shuffles total (key window + version groupBy on the
    same key prefix — AQE coalesces the exchange reuse).
    """
    if not key_cols or not attr_cols:
        raise ValueError("scd2_history: key_cols and attr_cols required")
    order = [F.asc(ts_col)] + (
        [F.asc(tiebreak_col)] if tiebreak_col is not None else []
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        prev = F.lag(F.col(c)).over(w)
        # null-safe inequality; the first row of a key has lag NULL for
        # every attr and must open version 0 — row_number==1 handles it
        changed = changed | ~F.col(c).eqNullSafe(prev)
    is_new = F.when(F.row_number().over(w) == 1, F.lit(1)).otherwise(
        F.when(changed, F.lit(1)).otherwise(F.lit(0))
    )
    # two projections: a window function cannot nest inside another
    # window's argument, but both share the key partitioning so Catalyst
    # plans ONE exchange + one sort for the pair
    flagged = changes.withColumn("__new", is_new)
    versioned = flagged.withColumn(
        "__ver",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).drop("__new")
    intervals = versioned.groupBy(*key_cols, "__ver").agg(
        *[F.first(F.col(c)).alias(c) for c in attr_cols],
        F.min(ts_col).alias("valid_from"),
        F.count("*").cast("bigint").alias("n_changes"),
    )
    wv = Window.partitionBy(*key_cols).orderBy("__ver")
    return intervals.select(
        *key_cols,
        *attr_cols,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_changes",
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a table by key and
    report, per key, whether the row was ``added``, ``removed``,
    ``changed``, or ``unchanged`` — plus WHICH compared columns changed.
    The audit step between two loads of the same upstream (or between a
    migration's source and target) that a 100 TB pipeline runs before
    swapping a snapshot in.

    Rows are compared via a canonical per-row fingerprint: md5 over the
    null-tagged string forms of ``compare_cols`` (default: all shared
    non-key columns, in ``old``'s column order). The changed-column list
    is computed with plain null-safe inequality expressions — no UDFs.

    Scale shape: TWO phases so the big shuffle stays narrow no matter
    how wide ``compare_cols`` is. Phase 1 full-outer-joins only
    ``(key, fingerprint)`` from each side — the table-sized exchange
    carries two hashes + the key, never row payloads. Phase 2 computes
    ``changed_columns`` only for fingerprint-MISMATCHED keys: each
    source is re-scanned (column-pruned to key + compare cols) and
    semi-joined down to the changed keys before the per-column
    comparison, so the wide data shuffled is changed-rows-sized — in
    the usual reconciliation where changes are a sliver of the table,
    that's ~free. The phase-1 table is pinned: it anchors both the
    changed-key filter and the final left join, and left lazy, the
    narrow join would replay per reference. Output is
    key-count-sized; filter ``change_type != 'unchanged'`` for the
    usual delta report.
    """
    if not key_cols:
        raise ValueError("table_diff: need at least one key column")
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(key_cols)]
    if not compare_cols:
        raise ValueError("table_diff: no columns to compare")

    def canon(c: str):
        # null-tagged so NULL vs '' vs 'null' stay distinct
        return F.when(
            F.col(c).isNull(), F.lit("\x00")
        ).otherwise(F.concat(F.lit("\x01"), F.col(c).cast("string")))

    fingerprint = F.md5(
        F.concat_ws("\x1f", *[canon(c) for c in compare_cols])
    )

    def narrow(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(c) for c in key_cols],
            fingerprint.alias(f"__fp_{tag}"),
        )

    change_type = (
        F.when(F.col("__fp_o").isNull(), F.lit("added"))
        .when(F.col("__fp_n").isNull(), F.lit("removed"))
        .when(F.col("__fp_o") == F.col("__fp_n"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    base = pin(
        narrow(old, "o")
        .join(narrow(new, "n"), list(key_cols), "full_outer")
        .select(
            *[F.col(c) for c in key_cols],
            change_type.alias("change_type"),
        )
    )

    changed_keys = base.where(F.col("change_type") == "changed").select(
        *[F.col(c) for c in key_cols]
    )

    def wide(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            *[F.col(c) for c in key_cols],
            *[
                F.col(c).cast("string").alias(f"__{tag}_{c}")
                for c in compare_cols
            ],
        ).join(changed_keys, list(key_cols))

    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")),
                    F.lit(c),
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    details = (
        wide(old, "o")
        .join(wide(new, "n"), list(key_cols))
        .select(
            *[F.col(c) for c in key_cols],
            changed_cols.alias("__changed"),
        )
    )
    return base.join(details, list(key_cols), "left").select(
        *[F.col(c) for c in key_cols],
        F.col("change_type"),
        F.coalesce(F.col("__changed"), F.array().cast("array<string>"))
        .alias("changed_columns"),
    )
