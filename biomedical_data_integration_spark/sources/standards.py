"""Standard vocabularies (target schemas for harmonization).

The reference's ``BaseStandard`` contract (``bdikit/standards/base.py:5-20``)
exposes per-column metadata and enumerated value domains; its only
implementation is GDC, a 2.6 MB JSON loaded eagerly and pivoted into a
736-column-wide padded DataFrame (``bdikit/standards/gdc.py:16-69``).

The Spark-native model keeps the vocabulary LONG-FORM —
``(column_name, column_description, value, value_description)`` — because
joins and explodes beat a wide padded table, and the long table broadcasts
(driver-sized). A Standard is itself a matcher target (:func:`resolve_target`):
matchers read its names and all-string :attr:`~Standard.schema`, its long
form, or its vocabulary domain. A matcher reads any target's values as
``(column_name, value)`` rows through :func:`long_form`, which unpivots a
DataFrame and filters a Standard's long form. The wide form is built only
for the embedding matcher's row-level fallback (see
:meth:`Standard.to_wide_df`).

Registry mirrors ``standards/standard_factory.py:7-28``: resolve by name,
helpful error listing valid names. A built-in demo vocabulary covering the
reference's test surface (ethnicity/race/figo_stage/...) ships in-code;
arbitrary GDC-format JSON files load via ``JsonStandard``.
"""

from __future__ import annotations

import json
import os
import weakref
from typing import Dict, List, Mapping, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from biomedical_data_integration_spark.session import local_frame

LONG_FORM_SCHEMA = StructType(
    [
        StructField("column_name", StringType()),
        StructField("column_description", StringType()),
        StructField("value", StringType()),
        StructField("value_description", StringType()),
    ]
)


class Standard:
    """A target vocabulary: column metadata + enumerated value domains."""

    def get_columns(self) -> List[str]:
        raise NotImplementedError

    def get_column_metadata(self, column_names: List[str]) -> Dict[str, Dict]:
        raise NotImplementedError

    def get_column_values(self, column_names: List[str]) -> Dict[str, List[str]]:
        meta = self.get_column_metadata(column_names)
        return {name: m.get("value_names", []) for name, m in meta.items()}

    @property
    def columns(self) -> List[str]:
        """The vocabulary's attribute names, as a matcher reads a target's."""
        return self.get_columns()

    @property
    def schema(self) -> StructType:
        """The target schema: one string column per attribute (values are
        value names), so a numeric-numeric pair with a Standard never occurs."""
        return StructType([StructField(c, StringType()) for c in self.get_columns()])

    def _per_session(self, attr: str, spark: SparkSession, build) -> DataFrame:
        """``build()``'s frame, memoized on this standard per session.

        Keyed on a weakref to the session, not id(): after a stopped
        session is garbage-collected CPython can reuse the same id for a
        new session, which would return a DataFrame bound to the dead one."""
        cache = getattr(self, attr, None)
        if cache is not None and cache[0]() is spark:
            return cache[1]
        df = build()
        setattr(self, attr, (weakref.ref(spark), df))
        return df

    def to_long_df(self, spark: SparkSession) -> DataFrame:
        """Long-form vocabulary table; broadcast-sized by construction.
        Memoized per (standard, session): GDC is 17k rows built in Python."""
        return self._per_session("_long_cache", spark, lambda: local_frame(
            spark, self._long_rows(), LONG_FORM_SCHEMA
        ))

    def _long_rows(self) -> List[tuple]:
        rows = []
        meta = self.get_column_metadata(self.get_columns())
        for col in self.get_columns():
            m = meta[col]
            desc = m.get("description", "")
            values = m.get("value_names", [])
            value_descs = m.get("value_descriptions", [""] * len(values))
            if not values:
                rows.append((col, desc, None, None))
            else:
                for v, vd in zip(values, value_descs):
                    rows.append((col, desc, v, vd))
        return rows

    def to_wide_df(self, spark: SparkSession) -> DataFrame:
        """Wide table: one column per vocabulary attribute, rows = values
        padded with nulls (``standards/gdc.py:58-69`` shape), every column
        a string. Matchers read a Standard target without it; the
        one remaining caller is ``EmbeddingSchemaMatcher``'s fallback for
        embedders that sample table rows (the ``tfidf_row``/``pmi``
        strategies, or an embedder with no pair form, which embeds each
        table with ``column_embeddings``). Domains are vocabulary-sized,
        so this stays driver-safe.

        The DataFrame is memoized per (standard, session) so repeated
        calls skip the pandas->Arrow conversion. It is deliberately
        NOT ``persist()``-ed: Spark's columnar cache allocates per-COLUMN
        builder buffers per task, and at 736 columns x n_tasks that
        overruns a default-sized executor heap (measured OOM)."""
        return self._per_session("_wide_cache", spark, lambda: self._wide(spark))

    def _wide(self, spark: SparkSession) -> DataFrame:
        import pandas as pd

        values = self.get_column_values(self.get_columns())
        max_len = max((len(v) for v in values.values()), default=0) or 1
        # Column-oriented pandas + Arrow beats a list of row tuples by ~100×
        # at real vocabulary size (GDC: 736 cols × 4,478 padded rows).
        pdf = pd.DataFrame(
            {
                c: pd.Series(list(v) + [None] * (max_len - len(v)), dtype="object")
                for c, v in values.items()
            }
        )
        schema = StructType([StructField(c, StringType()) for c in values])
        return local_frame(spark, pdf, schema)


class DictStandard(Standard):
    """Standard backed by an in-memory dict:
    ``{column: {"description": str, "values": {value: value_desc}}}``."""

    def __init__(self, spec: Mapping[str, Mapping]):
        self._spec = {k: dict(v) for k, v in spec.items()}

    def get_columns(self) -> List[str]:
        return list(self._spec.keys())

    def get_column_metadata(self, column_names: List[str]) -> Dict[str, Dict]:
        out: Dict[str, Dict] = {}
        for name in column_names:
            entry = self._spec.get(name)
            if entry is None:
                continue
            values = entry.get("values", {}) or {}
            out[name] = {
                "description": entry.get("description", ""),
                "value_names": list(values.keys()),
                "value_descriptions": list(values.values()),
            }
        return out


class JsonStandard(DictStandard):
    """GDC-format JSON file:
    ``{column: {column_description, value_data: {value: description}}}``
    (shape produced by ``scripts/format_schema/format_gdc.py:14-31``)."""

    def __init__(self, path: str):
        with open(path) as f:
            raw = json.load(f)
        spec = {
            col: {
                "description": entry.get("column_description", ""),
                "values": entry.get("value_data", {}) or {},
            }
            for col, entry in raw.items()
        }
        super().__init__(spec)


class DataFrameStandard(Standard):
    """Standard backed by a long-form DataFrame (column_name,
    column_description, value, value_description)."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._cache: Optional[Dict[str, Dict]] = None

    def _load(self) -> Dict[str, Dict]:
        if self._cache is None:
            rows = self._df.collect()  # vocabulary tables are driver-sized
            spec: Dict[str, Dict] = {}
            for r in rows:
                entry = spec.setdefault(
                    r["column_name"],
                    {"description": r["column_description"] or "", "values": {}},
                )
                if r["value"] is not None:
                    entry["values"][r["value"]] = r["value_description"] or ""
            self._cache = spec
        return self._cache

    def get_columns(self) -> List[str]:
        return list(self._load().keys())

    def get_column_metadata(self, column_names: List[str]) -> Dict[str, Dict]:
        spec = self._load()
        out: Dict[str, Dict] = {}
        for name in column_names:
            if name not in spec:
                continue
            values = spec[name]["values"]
            out[name] = {
                "description": spec[name]["description"],
                "value_names": list(values.keys()),
                "value_descriptions": list(values.values()),
            }
        return out


# A hand-written demo vocabulary with the GDC shape and the attribute names
# exercised by the reference's tests (``tests/test_api.py:31-64``:
# Ethnicity->ethnicity, FIGO_stage->figo_stage). Values are the public GDC
# permissible values for these fields. Includes the FIXTURES.md F5
# requirements: a column with values+description, one with description but
# no domain, one with neither.
_BIOMEDICAL_DEMO = {
    "ethnicity": {
        "description": "An individual's self-described social and cultural "
        "grouping related to Hispanic or Latino origin.",
        "values": {
            "hispanic or latino": "A person of Cuban, Mexican, Puerto Rican, "
            "South or Central American, or other Spanish culture or origin.",
            "not hispanic or latino": "A person not of Hispanic or Latino origin.",
            "not reported": "Not provided or available.",
            "unknown": "Could not be determined.",
            "not allowed to collect": "Collection prohibited by regulation.",
        },
    },
    "race": {
        "description": "An arbitrary classification of a taxonomic group "
        "that is a division of a species.",
        "values": {
            "white": "",
            "black or african american": "",
            "asian": "",
            "american indian or alaska native": "",
            "native hawaiian or other pacific islander": "",
            "other": "",
            "not reported": "",
            "unknown": "",
        },
    },
    "gender": {
        "description": "Text designations that identify gender.",
        "values": {
            "female": "",
            "male": "",
            "unspecified": "",
            "unknown": "",
            "not reported": "",
        },
    },
    "figo_stage": {
        "description": "The FIGO stage of the cancer.",
        "values": {
            "Stage 0": "",
            "Stage I": "",
            "Stage IA": "",
            "Stage IA1": "",
            "Stage IA2": "",
            "Stage IB": "",
            "Stage IB1": "",
            "Stage IB2": "",
            "Stage IC": "",
            "Stage II": "",
            "Stage IIA": "",
            "Stage IIB": "",
            "Stage III": "",
            "Stage IIIA": "",
            "Stage IIIB": "",
            "Stage IIIC": "",
            "Stage IV": "",
            "Stage IVA": "",
            "Stage IVB": "",
            "Unknown": "",
            "Not Reported": "",
        },
    },
    "tumor_grade": {
        "description": "Numeric value to express the degree of abnormality "
        "of cancer cells.",
        "values": {
            "G1": "",
            "G2": "",
            "G3": "",
            "G4": "",
            "GX": "",
            "GB": "",
            "High Grade": "",
            "Low Grade": "",
            "Unknown": "",
            "Not Reported": "",
        },
    },
    # description but empty domain (like GDC age_at_diagnosis,
    # tests/test_api.py:420-428)
    "age_at_diagnosis": {
        "description": "Age at the time of diagnosis expressed in number of "
        "days since birth.",
        "values": {},
    },
    # neither description nor domain
    "sample_id": {"description": "", "values": {}},
}

_REGISTRY: Dict[str, object] = {}  # name -> Standard | zero-arg factory


def register_standard(name: str, standard) -> None:
    """Register a Standard instance OR a zero-arg factory returning one.

    Factories defer expensive loads (the bundled GDC vocabulary is a
    2.3 MB JSON) until a standard is actually requested; the built
    instance replaces the factory on first resolution.
    """
    _REGISTRY[name.lower()] = standard


def get_standard(name: str) -> Standard:
    """Resolve a standard by name (``standards/standard_factory.py:14-28``)."""
    key = name.lower()
    if key not in _REGISTRY:
        raise ValueError(
            f"The {name!r} standard is not supported. "
            f"Supported standards are: {sorted(_REGISTRY)}"
        )
    entry = _REGISTRY[key]
    if not isinstance(entry, Standard):
        entry = entry()
        _REGISTRY[key] = entry
    return entry


def resolve_target(
    target: Union[str, DataFrame, Standard]
) -> Union[DataFrame, Standard]:
    """A matcher target: a standard's name resolves to the Standard
    (``bdikit/api.py:88-96``); a Standard or a DataFrame passes through."""
    if isinstance(target, str):
        return get_standard(target)
    if isinstance(target, (Standard, DataFrame)):
        return target
    raise ValueError(f"Invalid target: {target!r}")


def long_form(
    table: Union[DataFrame, Standard],
    cols: List[str],
    spark: Optional[SparkSession] = None,
) -> DataFrame:
    """``(column_name, value)`` rows of ``table``'s ``cols``: one row per
    non-null value, cast to string.

    A Standard's rows come from its vocabulary's long form
    (:meth:`Standard.to_long_df`, built in ``spark``), the same row
    multiset its wide frame would unpivot to. A DataFrame is unpivoted
    natively: ONE Expand node over one scan. A union of per-column
    selects is O(n_cols) plan branches each carrying the whole child
    plan, which at real vocabulary width (736 columns) took minutes to
    optimize and OOM'd the driver on constraint inference."""
    if isinstance(table, Standard):
        long = (
            table.to_long_df(spark)
            .where(F.col("value").isNotNull())
            .select("column_name", "value")
        )
        if set(cols) != set(table.columns):
            long = long.where(F.col("column_name").isin(list(cols)))
        return long
    if not cols:
        return local_frame(
            table.sparkSession, [], "column_name string, value string"
        )
    return (
        table.select([F.col(c).cast("string").alias(c) for c in cols])
        .unpivot([], cols, "column_name", "value")
        .where(F.col("value").isNotNull())
    )


def bounded_long_rows(table: DataFrame, cols: List[str], limit: int) -> Optional[list]:
    """The distinct ``(column_name, value)`` rows of ``table``'s
    :func:`long_form` over ``cols``, or None when there are more than
    ``limit``. One bounded read of at most ``limit + 1`` rows, not
    persisted: it recomputes ``table``'s lineage for ``cols``."""
    rows = long_form(table, cols).distinct().limit(limit + 1).collect()
    return None if len(rows) > limit else rows


# Path of the bundled GDC vocabulary: the public NCI Genomic Data Commons
# data dictionary (U.S. government public-domain data), flattened to the
# GDC-format shape consumed by ``JsonStandard`` (same format the reference
# produces via ``scripts/format_schema/format_gdc.py:14-31``) and rebuilt
# by ``tools/build_gdc_vocab.py``. 736 columns, 353 enumerated domains,
# largest domain 4,478 values.
GDC_RESOURCE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "gdc_schema.json",
)


def _load_gdc() -> Standard:
    if os.path.exists(GDC_RESOURCE_PATH):
        return JsonStandard(GDC_RESOURCE_PATH)
    # Resource missing (stripped checkout): degrade to the demo vocabulary
    # so ``match_schema(df)`` still resolves its default target.
    return DictStandard(_BIOMEDICAL_DEMO)


register_standard("biomedical_demo", DictStandard(_BIOMEDICAL_DEMO))
# The reference defaults to "gdc" (``bdikit/api.py:45``); resolve it to the
# bundled full vocabulary, lazily (first use pays the JSON parse once).
register_standard("gdc", _load_gdc)
