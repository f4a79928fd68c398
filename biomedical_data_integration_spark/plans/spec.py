"""Harmonization plans: create_mapper / merge_mappings / materialize_mapping.

The reference's closest thing to a logical plan is the normalized mapping
spec list ``List[ColumnMappingSpec]`` (``bdikit/api.py:555-558``). Here the
plan compiles to a single Spark projection (plus broadcast joins for large
dictionaries), and execution is one narrow, shuffle-free ``select`` that
streams at any scale.

Plan construction reads data in one case only: a ``FunctionValueMapper``
on a batch string column costs one bounded read of that column's
distinct values (at most ``planning.LOCAL_DOMAIN_LIMIT + 1`` rows), which
recomputes the input's lineage for that one column. When the domain
fits, the Python function runs on the driver once per value, errors
from it surface at ``materialize_mapping``, and the mapper compiles as
the equivalent ``DictionaryMapper`` cast to its return type, so the
rows never cross into a Python worker. Streams, other source types and
larger domains keep the scalar Arrow UDF, which calls the function once
per distinct value of each Arrow batch.

Per row, the projection does JVM or Arrow C++ work only. A dictionary
matches a row to key ``k`` iff ``cast(value as string) == str(k)`` in
both of its kernels (keys deduplicated by ``str(k)``, the later entry
winning); the broadcast join probes an integral column on a ``bigint``
key and any other column on the key string.

Semantics mirrored from the reference:
- ``create_mapper`` polymorphic dispatch           ``bdikit/api.py:740-831``
- matches-list -> DictionaryMapper                 ``api.py:834-848``
- ``merge_mappings`` duplicate (source, target) rejection within each
  input list and user-first first-wins union      ``api.py:596-624``
- ``materialize_mapping`` source-column validation ``api.py:721-726``
"""

from __future__ import annotations

import itertools
from typing import Callable, Dict, List, Mapping, Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark.plans.mappers import (
    DictionaryMapper,
    ExpressionValueMapper,
    FunctionValueMapper,
    IdentityValueMapper,
    ValueMapper,
)

# A mapping spec entry is {"source": str, "target": str, "mapper": ValueMapper}
ColumnMappingSpec = Dict[str, object]

MappingSpecLike = Union[DataFrame, Sequence[object], "pandas.DataFrame"]  # noqa: F821


def _is_pandas_df(obj) -> bool:
    try:
        import pandas as pd

        return isinstance(obj, pd.DataFrame)
    except ImportError:  # pragma: no cover
        return False


def _matches_df_to_dict(df) -> dict:
    """(source, target) rows of a match-result table -> lookup dict.

    Accepts a Spark DataFrame (collected — match results are
    column-domain-sized, not data-sized) or a pandas DataFrame. Rows with a
    null target (unmatched values, ``api.py:457-485``) are dropped so they
    fall back to null on lookup.
    """
    if isinstance(df, DataFrame):
        rows = df.select("source", "target").collect()
        pairs = [(r["source"], r["target"]) for r in rows]
    else:
        pairs = list(zip(df["source"], df["target"]))
    return {s: t for s, t in pairs if t is not None and t == t}


def create_mapper(input) -> ValueMapper:
    """Polymorphic ValueMapper factory (``bdikit/api.py:740-831``).

    - None -> IdentityValueMapper
    - ValueMapper -> itself
    - str (SQL expression with ``{col}`` placeholder) -> ExpressionValueMapper
      (engine extension: JVM-codegen mapping, no Python boundary)
    - callable -> FunctionValueMapper
    - list of (source_value, target_value) tuples -> DictionaryMapper
    - dict (plain mapping of values) -> DictionaryMapper
    - DataFrame with columns {source_value, target_value} -> DictionaryMapper
    - spec dict with source/target [+ mapper | matches] -> recurse
    """
    if input is None:
        return IdentityValueMapper()

    if isinstance(input, ValueMapper):
        return input

    if isinstance(input, str):
        return ExpressionValueMapper(input)

    if callable(input):
        return FunctionValueMapper(input)

    if isinstance(input, (list, tuple)):
        return _mapper_from_value_matches(input)

    if isinstance(input, DataFrame) or _is_pandas_df(input):
        cols = set(input.columns)
        if {"source_value", "target_value"} <= cols:
            if isinstance(input, DataFrame):
                rows = input.select("source_value", "target_value").collect()
                return DictionaryMapper(
                    {r["source_value"]: r["target_value"] for r in rows}
                )
            return DictionaryMapper(
                dict(zip(input["source_value"], input["target_value"]))
            )
        if {"source", "target"} <= cols:
            return DictionaryMapper(_matches_df_to_dict(input))
        raise ValueError(
            "DataFrame mapper input must have (source_value, target_value) "
            f"or (source, target) columns, got {sorted(cols)}"
        )

    if isinstance(input, Mapping):
        if "source" in input and "target" in input:
            if "mapper" in input:
                mapper = input["mapper"]
                if isinstance(mapper, ValueMapper):
                    return mapper
                return create_mapper(mapper)
            if "matches" in input:
                matches = input["matches"]
                if isinstance(matches, (list, tuple)):
                    return _mapper_from_value_matches(matches)
                if isinstance(matches, DataFrame) or _is_pandas_df(matches):
                    return DictionaryMapper(_matches_df_to_dict(matches))
                raise ValueError(f"Invalid 'matches' value: {matches!r}")
            # match_schema output without a mapper: rename-only
            return IdentityValueMapper()
        # plain value dictionary
        return DictionaryMapper(input)

    raise ValueError(f"Failed to create a ValueMapper for given input: {input!r}")


def _mapper_from_value_matches(matches) -> DictionaryMapper:
    """List of 2-tuples / (source, target, ...) rows -> DictionaryMapper
    (``bdikit/api.py:834-848``)."""
    mapping = {}
    for m in matches:
        if hasattr(m, "source_value") and hasattr(m, "target_value"):
            mapping[m.source_value] = m.target_value
        elif isinstance(m, (list, tuple)) and len(m) >= 2:
            mapping[m[0]] = m[1]
        else:
            raise ValueError(
                "Matches must be (source_value, target_value) tuples or "
                f"ValueMatch-like objects, got {m!r}"
            )
    return DictionaryMapper(mapping)


def _normalize_mapping_spec(spec: MappingSpecLike) -> List[ColumnMappingSpec]:
    """Normalize the union input type into a list of spec dicts
    (``bdikit/api.py:640-678``)."""
    if isinstance(spec, DataFrame):
        entries: List = [r.asDict() for r in spec.collect()]
    elif _is_pandas_df(spec):
        entries = spec.to_dict(orient="records")
    elif isinstance(spec, Sequence):
        entries = list(spec)
    else:
        raise ValueError(f"Invalid mapping specification: {spec!r}")

    normalized: List[ColumnMappingSpec] = []
    for entry in entries:
        if isinstance(entry, DataFrame) or _is_pandas_df(entry):
            raise ValueError(
                "Per-entry DataFrames need explicit source/target metadata; "
                "pass {'source': ..., 'target': ..., 'matches': df} instead "
                "(Spark DataFrames have no attrs side-channel; see SURVEY §1.4)"
            )
        if not isinstance(entry, Mapping):
            raise ValueError(
                "Each mapping specification must be a dict with 'source' and "
                f"'target' keys, but was: {entry!r}"
            )
        if "source" not in entry or "target" not in entry:
            raise ValueError(
                "Each mapping specification should contain 'source', 'target' "
                f"and 'mapper' (optional) keys but found only {list(entry.keys())}."
            )
        mapper = entry.get("mapper")
        if not isinstance(mapper, ValueMapper):
            mapper = create_mapper(dict(entry))
        normalized.append(
            {"source": entry["source"], "target": entry["target"], "mapper": mapper}
        )
    return normalized


def merge_mappings(
    mappings: MappingSpecLike, user_mappings: Optional[MappingSpecLike] = None
) -> List[ColumnMappingSpec]:
    """Merge computed and user mappings into a harmonization plan.

    User mappings take precedence; duplicates *within* either list raise;
    duplicates *across* the two lists resolve first-wins (user first).
    Reference: ``bdikit/api.py:561-637``.
    """
    if user_mappings is None:
        user_mappings = []

    spec_list = _normalize_mapping_spec(mappings)
    user_list = _normalize_mapping_spec(user_mappings)

    def check_duplicates(entries: List[ColumnMappingSpec]) -> None:
        seen = set()
        for e in entries:
            key = (e["source"], e["target"])
            if key in seen:
                raise ValueError(
                    f"Duplicate mapping for source: {e['source']}, "
                    f"target: {e['target']}"
                )
            seen.add(key)

    check_duplicates(user_list)
    check_duplicates(spec_list)

    seen = set()
    final: List[ColumnMappingSpec] = []
    for e in itertools.chain(user_list, spec_list):
        key = (e["source"], e["target"])
        if key in seen:
            continue
        seen.add(key)
        final.append(e)
    return final


def materialize_mapping(
    input_table: DataFrame, mapping_spec: MappingSpecLike
) -> DataFrame:
    """Build the harmonized output table.

    Compiles the whole plan into one projection: each spec entry becomes
    ``mapper_expr(source).alias(target)``. Large-dictionary mappers are
    rewritten to broadcast LEFT joins first. No shuffle — this is the
    operator that must stream at 100 TB.

    A ``FunctionValueMapper`` on a batch string column first reads the
    column's distinct values with one bounded read (recomputing
    ``input_table``'s lineage for that column); within
    ``planning.LOCAL_DOMAIN_LIMIT`` values its function runs here, once
    per value, so its errors raise here, and it compiles as a
    ``DictionaryMapper`` cast to its ``return_type``
    (:meth:`FunctionValueMapper.as_dictionary`). Streams, other source
    types and larger domains keep its per-batch Arrow UDF.

    Reference: ``bdikit/api.py:698-737`` (eager column loop there; a single
    ``select`` here).
    """
    plan = _normalize_mapping_spec(mapping_spec)

    missing = [e["source"] for e in plan if e["source"] not in input_table.columns]
    if missing:
        raise ValueError(
            f"Source column(s) {missing} not found in the input table "
            f"(columns: {input_table.columns})"
        )

    df = input_table
    select_exprs = []
    for i, entry in enumerate(plan):
        mapper: ValueMapper = entry["mapper"]  # type: ignore[assignment]
        src, tgt = entry["source"], entry["target"]
        cast_to = None
        if isinstance(mapper, FunctionValueMapper):
            dictionary = mapper.as_dictionary(input_table, src)
            if dictionary is not None:
                mapper, cast_to = dictionary, mapper.return_type
        if isinstance(mapper, DictionaryMapper) and mapper.is_large():
            tmp = f"__materialize_{i}"
            df = mapper.as_join(df, src, tmp)
            column = F.col(tmp)
        else:
            column = mapper.expr(src)
        if cast_to is not None:
            column = column.cast(cast_to)
        select_exprs.append(column.alias(tgt))
    return df.select(*select_exprs)
