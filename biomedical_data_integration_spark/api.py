"""Public API — mirrors the reference's nine functions (SURVEY §2.1,
``bdikit/api.py``), DataFrames in / DataFrames out.

Differences forced by Spark, all documented in SURVEY §1.4/§7.3:
- no ``DataFrame.attrs`` side-channel -> match results carry
  ``source_column`` / ``target_column`` / ``coverage`` as plain columns;
- ``match_values`` returns ONE long DataFrame covering every mapped pair
  (the reference returns a list of per-pair frames; use
  ``split_value_matches`` for that view);
- similarity scores are rounded and totally ordered, so results are
  deterministic under any partitioning.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biomedical_data_integration_spark import config
from biomedical_data_integration_spark.operators.schema_matching import (
    get_schema_matcher,
    one_to_one_assignment,
)
from biomedical_data_integration_spark.operators.value_matching import (
    get_value_matcher,
    match_values_pipeline,
    normalize_column_mapping,
)
from biomedical_data_integration_spark.plans.spec import (  # noqa: F401 (re-export)
    create_mapper,
    materialize_mapping,
    merge_mappings,
)
from biomedical_data_integration_spark.session import local_frame
from biomedical_data_integration_spark.sources.standards import Standard, get_standard


def _resolve_target_table(
    spark: SparkSession, target: Union[str, DataFrame, Standard]
) -> DataFrame:
    """Standard name -> wide vocabulary table (``bdikit/api.py:88-96``)."""
    if isinstance(target, DataFrame):
        return target
    if isinstance(target, str):
        target = get_standard(target)
    if isinstance(target, Standard):
        return target.to_wide_df(spark)
    raise ValueError(f"Invalid target: {target!r}")


def match_schema(
    source: DataFrame,
    target: Union[str, DataFrame, Standard] = "gdc",
    method: str = config.DEFAULT_SCHEMA_MATCHING_METHOD,
    method_args: Optional[Dict] = None,
) -> DataFrame:
    """1:1 column mapping source -> target schema (``bdikit/api.py:43-85``).

    Returns a small DataFrame (source, target); unmatched sources get ""
    (``one2one/base.py:9-15``).
    """
    spark = source.sparkSession
    target_df = _resolve_target_table(spark, target)
    matcher = get_schema_matcher(method, **(method_args or {}))
    scores = matcher.scores(source, target_df)
    assignment = one_to_one_assignment(scores, source.columns)
    return local_frame(spark, assignment, "source string, target string")


def top_matches(
    source: DataFrame,
    columns: Optional[List[str]] = None,
    target: Union[str, DataFrame, Standard] = "gdc",
    top_k: int = config.DEFAULT_SCHEMA_TOP_K,
    method: str = "ct_learning",
    method_args: Optional[Dict] = None,
) -> DataFrame:
    """Top-k candidate target columns per source column
    (``bdikit/api.py:99-152``): score -> window top-k."""
    spark = source.sparkSession
    if columns:
        source = source.select(*columns)
    target_df = _resolve_target_table(spark, target)
    matcher = get_schema_matcher(method, **(method_args or {}))
    scores = matcher.scores(source, target_df)
    w = Window.partitionBy("source").orderBy(F.desc("similarity"), F.asc("target"))
    return (
        scores.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= top_k)
        .select("source", "target", "similarity")
    )


def match_values(
    source: DataFrame,
    target: Union[str, DataFrame, Standard],
    column_mapping,
    method: str = config.DEFAULT_VALUE_MATCHING_METHOD,
    threshold: float = config.DEFAULT_VALUE_MATCHING_THRESHOLD,
    method_args: Optional[Dict] = None,
) -> DataFrame:
    """Best (top-1) target value per distinct source value for every mapped
    column pair (``bdikit/api.py:155-219``; forces top_k=1 at ``:201-205``).

    Output: (source_column, target_column, source_value, target_value,
    similarity, coverage); unmatched values carry null target/similarity.
    """
    return match_values_pipeline(
        source,
        target,
        column_mapping,
        method=method,
        top_k=1,
        threshold=threshold,
        include_unmatched=True,
        method_args=method_args,
    )


def top_value_matches(
    source: DataFrame,
    target: Union[str, DataFrame, Standard],
    column_mapping,
    top_k: int = config.DEFAULT_VALUE_TOP_K,
    method: str = config.DEFAULT_VALUE_MATCHING_METHOD,
    threshold: float = config.DEFAULT_VALUE_MATCHING_THRESHOLD,
    method_args: Optional[Dict] = None,
) -> DataFrame:
    """Top-k target values per source value (``bdikit/api.py:222-288``)."""
    return match_values_pipeline(
        source,
        target,
        column_mapping,
        method=method,
        top_k=top_k,
        threshold=threshold,
        include_unmatched=True,
        method_args=method_args,
    )


def split_value_matches(matches: DataFrame) -> Dict[tuple, DataFrame]:
    """Per-pair view of a long match result (the reference's list-of-frames
    shape, ``api.py:209-217``). Driver-side split — pairs are few."""
    pairs = [
        (r["source_column"], r["target_column"])
        for r in matches.select("source_column", "target_column").distinct().collect()
    ]
    return {
        (s, t): matches.where(
            (F.col("source_column") == s) & (F.col("target_column") == t)
        )
        for s, t in pairs
    }


class ValueMatchEditor:
    """Review-and-edit surface for value-match results — the engine's
    counterpart of the reference's editable Tabulator widget
    (``bdikit/api.py:291-330`` with ``edit=True``).

    Matches collect driver-side (value-match results are
    vocabulary-sized) into per-``(source_column, target_column)`` groups.
    Edits happen either interactively (ipywidgets text inputs per row,
    WHEN ipywidgets is importable in a notebook) or programmatically via
    :meth:`set` / :meth:`drop` — the API tests and headless pipelines
    use. :meth:`to_mapping_spec` emits the edited plan in the exact
    ``MappingSpecLike`` shape :func:`merge_mappings` consumes.
    """

    def __init__(self, matches: DataFrame):
        rows = (
            matches.select(
                "source_column", "target_column", "source_value",
                "target_value", "similarity",
            )
            .orderBy(
                "source_column", "target_column",
                F.desc_nulls_last("similarity"), "source_value",
            )
            .collect()
        )
        self._groups: dict = {}
        for r in rows:
            key = (r["source_column"], r["target_column"])
            self._groups.setdefault(key, {})[r["source_value"]] = (
                r["target_value"],
                r["similarity"],
            )

    def groups(self):
        """The ``(source_column, target_column)`` pairs under review."""
        return sorted(self._groups)

    def set(self, source_col: str, target_col: str,
            source_value: str, target_value: str) -> "ValueMatchEditor":
        """Override (or add) one value mapping; chainable."""
        key = (source_col, target_col)
        if key not in self._groups:
            raise KeyError(f"no match group {key!r}; groups: {self.groups()}")
        old = self._groups[key].get(source_value, (None, None))
        self._groups[key][source_value] = (target_value, old[1])
        return self

    def drop(self, source_col: str, target_col: str,
             source_value: str) -> "ValueMatchEditor":
        """Remove one source value from the mapping (it will pass through
        as unmatched); chainable."""
        key = (source_col, target_col)
        if key not in self._groups:
            raise KeyError(f"no match group {key!r}; groups: {self.groups()}")
        self._groups[key].pop(source_value, None)
        return self

    def to_mapping_spec(self):
        """The edited plan as ``MappingSpecLike`` — feed straight into
        :func:`merge_mappings` / :func:`materialize_mapping`. Unmatched
        (null-target) values are excluded, mirroring how the reference's
        harmonization spec drops NaN matches."""
        spec = []
        for (s, t), vals in sorted(self._groups.items()):
            matches = [
                (sv, tv)
                for sv, (tv, _sim) in sorted(vals.items())
                if tv is not None
            ]
            spec.append({"source": s, "target": t, "matches": matches})
        return spec

    def _ipython_display_(self):  # pragma: no cover - notebook path
        try:
            import ipywidgets as widgets
            from IPython.display import display
        except ImportError:
            for (s, t), vals in sorted(self._groups.items()):
                print(f"** {s} -> {t} **")
                for sv, (tv, sim) in sorted(vals.items()):
                    print(f"  {sv!r} -> {tv!r} (sim={sim})")
            return
        boxes = []
        for (s, t), vals in sorted(self._groups.items()):
            rows = [widgets.HTML(f"<b>{s} &rarr; {t}</b>")]
            for sv, (tv, sim) in sorted(vals.items()):
                text = widgets.Text(value="" if tv is None else str(tv),
                                    description=str(sv))

                def _mk(key, source_value):
                    def _on_change(change):
                        old = self._groups[key].get(source_value, (None, None))
                        self._groups[key][source_value] = (
                            change["new"] or None, old[1]
                        )
                    return _on_change

                text.observe(_mk((s, t), sv), names="value")
                rows.append(text)
            boxes.append(widgets.VBox(rows))
        display(widgets.VBox(boxes))


def view_value_matches(matches: DataFrame, edit: bool = False, n: int = 50):
    """Value-match review (``bdikit/api.py:291-330``): grouped console
    view by default; with ``edit=True`` returns a
    :class:`ValueMatchEditor` (ipywidgets in a notebook, programmatic
    ``set``/``drop`` anywhere) whose :meth:`~ValueMatchEditor.to_mapping_spec`
    feeds :func:`merge_mappings`."""
    if edit:
        return ValueMatchEditor(matches)
    matches.orderBy(
        "source_column", "target_column", F.desc("similarity")
    ).show(n, truncate=False)
    return None


def preview_domain(
    dataset: Union[str, DataFrame, Standard],
    column: str,
    limit: Optional[int] = None,
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """Distinct values of a column, or vocabulary metadata when ``dataset``
    is a standard name (``bdikit/api.py:495-552``).

    Standard branch -> (value_name, value_description, column_description);
    DataFrame branch -> (value_name).
    """
    if isinstance(dataset, str):
        dataset = get_standard(dataset)
    if isinstance(dataset, Standard):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("Pass spark= when previewing a standard's domain")
        meta = dataset.get_column_metadata([column])
        if column not in meta:
            raise ValueError(f"Column {column!r} not found in the standard")
        m = meta[column]
        rows = list(zip(m["value_names"], m["value_descriptions"]))
        if limit is not None:
            rows = rows[:limit]  # api.py:536-538
        df = local_frame(spark, rows, "value_name string, value_description string")
        return df.withColumn("column_description", F.lit(m["description"]))
    # DataFrame branch: distinct values (api.py:528)
    out = (
        dataset.select(F.col(column).cast("string").alias("value_name"))
        .where(F.col(column).isNotNull())
        .distinct()
    )
    if limit is not None:
        out = out.orderBy("value_name").limit(limit)
    return out
