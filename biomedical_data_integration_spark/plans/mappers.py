"""Value mappers — the engine's expression-factory layer.

The reference's ``ValueMapper`` contract is ``map(pd.Series) -> pd.Series``
(``bdikit/mapping_functions.py:7-19``). In Spark a mapper is a factory for
a ``Column`` expression: ``materialize_mapping`` compiles a whole plan into
ONE narrow ``select`` — no shuffle, fully pipelined, which is what lets
materialization stream at 100 TB.

Mapper catalog (reference ``bdikit/mapping_functions.py``):
- ``IdentityValueMapper``   (:22-31) -> ``col(src)``
- ``FunctionValueMapper``   (:34-48) -> element-wise ``Series.map``
  semantics (nulls pass through without a call, matching pandas
  ``Series.map`` / the reference), the function called once per distinct
  value. In ``materialize_mapping``, a batch string column with at most
  ``planning.LOCAL_DOMAIN_LIMIT`` distinct values costs one bounded read
  at plan time (recomputing the input's lineage for that column), the
  function runs on the driver, and the mapper compiles as the equivalent
  ``DictionaryMapper``; errors from the function surface there. Streams,
  other source types and larger domains get a scalar Arrow UDF that maps
  the distinct values of each Arrow batch (dictionary encode, map the
  dictionary, take back by index)
- ``DictionaryMapper``      (:51-65) -> literal ``create_map`` lookup for
  small dicts (missing key -> null, the defaultdict(np.nan) semantics);
  for big dictionaries ``DictionaryMapper.as_join`` (broadcast LEFT join
  against a mapping table — same null-on-missing semantics). Both
  kernels follow one key rule: a row matches key ``k`` iff
  ``cast(value as string) == str(k)``; keys are deduplicated by
  ``str(k)`` (the later entry wins) and a null key matches nothing. The
  join keys an integral source on ``bigint`` (Spark casts integers to
  canonical decimal strings, so only keys whose ``str(k)`` is one can
  match) and any other source on the key string.
"""

from __future__ import annotations

import datetime
import decimal
import re
from functools import reduce
from typing import Callable, Iterable, Mapping, Optional, Tuple

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DataType,
    IntegerType,
    LongType,
    NullType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    _infer_type,
    _merge_type,
)

from biomedical_data_integration_spark import planning
from biomedical_data_integration_spark.session import local_frame
from biomedical_data_integration_spark.sources.standards import bounded_long_rows

# Above planning.LITERAL_DICT_LIMIT entries a dictionary compiles to a
# broadcast-join plan rather than a literal map expression: the literal
# map builds one F.lit per key and value and scans its keys on every row,
# so from ~1,000 entries the join is 5-40x faster (equal at 100).

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
# the decimal strings Spark's integer-to-string cast produces
_LONG_KEY = re.compile(r"0|-?[1-9][0-9]*")
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1
# Python types whose PySpark-inferred type depends on the type alone
_SCALAR_TYPES = (str, int, float, bool, bytes, bytearray, decimal.Decimal, datetime.date)


class ValueMapper:
    """Base contract: produce the output Column for a source column."""

    def expr(self, source_column: str) -> Column:
        raise NotImplementedError


class IdentityValueMapper(ValueMapper):
    """Copy the input column unchanged (rename-only mapping).

    Reference: ``bdikit/mapping_functions.py:22-31``.
    """

    def expr(self, source_column: str) -> Column:
        return F.col(source_column)


class FunctionValueMapper(ValueMapper):
    """Apply an arbitrary Python callable element-wise.

    Reference semantics is ``Series.map(fn)`` (``mapping_functions.py:48``):
    the function sees one scalar at a time and nulls pass through without
    calling ``fn``. ``fn`` must be deterministic, which Spark's UDF
    contract already assumes: it is called once per distinct value, in
    one of two places.

    - In :func:`~.plans.spec.materialize_mapping`, a batch (not
      streaming) string column whose distinct non-null values number at
      most ``planning.LOCAL_DOMAIN_LIMIT`` is mapped on the driver
      (:meth:`as_dictionary`): one bounded read at plan time, which
      recomputes the input's lineage for that column, then ``fn`` once
      per value, and the mapper runs as the equivalent
      :class:`DictionaryMapper` cast to ``return_type``. Errors from
      ``fn`` surface at ``materialize_mapping``. Nested and
      ``timestamp_ntz`` return types are excluded: their Python values
      do not round-trip exactly through a literal.
    - Everywhere else (:meth:`expr`: streams, other source types, larger
      domains) it is a scalar Arrow UDF that calls ``fn`` once per
      distinct value of each Arrow batch: the batch is dictionary
      encoded, ``fn`` maps the dictionary only, and the result is taken
      back by the indices (a null index stays null; a batch of nulls only
      is all null).

    ``fn`` sees the scalars a pandas UDF's ``Series.map`` would, on both
    paths (:meth:`_distinct_map`): the distinct values go through the
    pandas UDF converter, with one null added when the batch has nulls so
    its dtype is the whole batch's (an integer column with nulls arrives
    as float64), and NaN skips ``fn`` too. The results go back to Arrow
    through the same converter, under the session's time zone and Arrow
    safety settings read when the mapper is compiled. Nested values
    (arrays, maps), which Arrow cannot hash, are mapped row by row.

    ``return_type`` must be declared (Spark needs a schema); default
    ``string`` matches the stringly-typed harmonization domain.
    """

    def __init__(self, function: Callable, return_type: str = "string"):
        self.function = function
        self.return_type = return_type

    def _distinct_map(self) -> Tuple[DataType, pa.DataType, Callable[[pa.Array], pa.Array]]:
        """``(spark_type, arrow_type, map_distinct)``: ``map_distinct``
        maps an Arrow array of values through ``fn`` element-wise, via the
        pandas UDF converter (``Series.map``, ``na_action="ignore"``), to
        an array of ``arrow_type``. Built on the driver from the active
        session's conf; the UDF and the driver dictionary both call it."""
        from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
        from pyspark.sql.pandas.types import to_arrow_type
        from pyspark.sql.types import _parse_datatype_string

        fn = self.function
        spark_type = self.return_type
        if isinstance(spark_type, str):
            spark_type = _parse_datatype_string(spark_type)
        arrow_type = to_arrow_type(spark_type)
        conf = SparkSession.active().conf
        converter = ArrowStreamPandasSerializer(
            conf.get("spark.sql.session.timeZone"),
            conf.get("spark.sql.execution.pandas.convertToArrowArraySafely") == "true",
            conf.get("spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled")
            == "true",
        )

        def map_distinct(distinct: pa.Array) -> pa.Array:
            mapped = converter.arrow_to_pandas(distinct, 0).map(fn, na_action="ignore")
            return converter._create_array(mapped, arrow_type, spark_type, arrow_cast=True)

        return spark_type, arrow_type, map_distinct

    def expr(self, source_column: str) -> Column:
        from pyspark.sql.functions import arrow_udf

        spark_type, arrow_type, map_distinct = self._distinct_map()

        def _apply(values: pa.Array) -> pa.Array:
            import pyarrow.compute as pc

            if pa.types.is_nested(values.type):
                # arrays and maps have no hash kernel: each row is its own value
                return map_distinct(values)
            encoded = pc.dictionary_encode(values)
            distinct, indices = encoded.dictionary, encoded.indices
            if not len(distinct):
                return pa.nulls(len(values), arrow_type)
            if values.null_count:
                distinct = pa.concat_arrays([distinct, pa.nulls(1, distinct.type)])
            return map_distinct(distinct).take(indices)

        return arrow_udf(_apply, spark_type)(F.col(source_column))

    def as_dictionary(self, df: DataFrame, source_column: str) -> Optional[DictionaryMapper]:
        """The :class:`DictionaryMapper` from each distinct non-null value
        of ``df``'s string ``source_column`` to ``fn``'s result, or None
        where the mapper stays :meth:`expr`: a stream, a non-string
        source, a nested or ``timestamp_ntz`` return type, or more than
        ``planning.LOCAL_DOMAIN_LIMIT`` distinct values. A string source
        makes the dictionary's key rule exact equality."""
        if df.isStreaming or not isinstance(df.schema[source_column].dataType, StringType):
            return None
        spark_type, arrow_type, map_distinct = self._distinct_map()
        if pa.types.is_nested(arrow_type) or isinstance(spark_type, TimestampNTZType):
            return None
        rows = bounded_long_rows(df, [source_column], planning.LOCAL_DOMAIN_LIMIT)
        if rows is None:
            return None
        values = [v for _, v in rows]
        mapped = map_distinct(pa.array(values, pa.string())).to_pylist()
        return DictionaryMapper(dict(zip(values, mapped)))


class ExpressionValueMapper(ValueMapper):
    """Apply a SQL expression string to the source column — the
    Spark-first fast path for computed mappings.

    Where :class:`FunctionValueMapper` runs Python (on the driver per
    distinct value, or across the Arrow boundary per batch), an
    expression mapper stays entirely in JVM whole-stage codegen (engine
    extension; the reference only offers Python callables,
    ``bdikit/mapping_functions.py:34-48``). The source column is
    referenced as ``{col}``, e.g.::

        ExpressionValueMapper("upper(trim({col}))")
        ExpressionValueMapper("cast({col} * 100 as int)")
    """

    def __init__(self, expression: str):
        if "{col}" not in expression:
            raise ValueError(
                "expression must reference the source column as {col}, "
                f"got {expression!r}"
            )
        self.expression = expression

    def expr(self, source_column: str) -> Column:
        # plain replace, not str.format: literal braces in the SQL (regex
        # quantifiers like [0-9]{3}, map/struct literals) must pass through
        return F.expr(self.expression.replace("{col}", f"`{source_column}`"))


class DictionaryMapper(ValueMapper):
    """Dictionary lookup; missing keys map to null.

    Reference: ``defaultdict(np.nan)`` lookup
    (``bdikit/mapping_functions.py:51-65``). Null inputs map to null
    (pandas ``Series.map`` with a dict does the same).

    Small dicts compile to a literal ``map`` expression (pure codegen, no
    shuffle). Large dicts should go through :meth:`as_join`, a broadcast
    LEFT join, which has identical missing->null semantics. Both kernels
    match a row to key ``k`` iff ``cast(value as string) == str(k)``, over
    the keys deduplicated by ``str(k)`` (the later entry wins); a null key
    matches nothing.
    """

    def __init__(self, dictionary: Mapping):
        self.dictionary = dict(dictionary)
        self._entries = {str(k): v for k, v in self.dictionary.items() if k is not None}

    def expr(self, source_column: str) -> Column:
        if self.is_large():
            raise ValueError(
                f"Dictionary with {len(self._entries)} entries is too large "
                "for a literal expression; materialize_mapping will use a "
                "broadcast join (as_join) instead."
            )
        if not self._entries:
            return F.lit(None).cast("string")
        pairs: list[Column] = []
        for k, v in self._entries.items():
            pairs.append(F.lit(k))
            pairs.append(F.lit(v))
        # element_at returns null on missing key; try_element_at also covers
        # null keys (map lookup with null key raises under ANSI).
        key = F.col(source_column).cast("string")
        return F.when(
            key.isNull(), F.lit(None)
        ).otherwise(F.try_element_at(F.create_map(*pairs), key))

    def is_large(self) -> bool:
        return planning.dict_mapper_kernel(len(self._entries)) != "literal"

    def as_join(
        self, df: DataFrame, source_column: str, target_column: str
    ) -> DataFrame:
        """Broadcast-LEFT-join rewrite for large dictionaries.

        An integral source joins on a ``bigint`` key, so the probe is a
        long hash lookup with no per-row string cast: only keys whose
        ``str(k)`` is a canonical decimal integer in long range are kept,
        since no other key equals an integer cast to string. Any other
        source joins its string cast on the key string.
        """
        source_type = df.select(source_column).schema.fields[0].dataType
        if isinstance(source_type, _INTEGRAL):
            key_type = LongType()
            items = [
                (n, v) for k, v in self._entries.items()
                if _LONG_KEY.fullmatch(k) and _LONG_MIN <= (n := int(k)) <= _LONG_MAX
            ]
            source_key = F.col(source_column)
        else:
            key_type = StringType()
            items = list(self._entries.items())
            source_key = F.col(source_column).cast("string")
        schema = StructType([
            StructField("__dm_key", key_type),
            StructField(target_column, _value_type(df.sparkSession, self._entries.values())),
        ])
        mapping = local_frame(df.sparkSession, items, schema)
        joined = df.join(
            F.broadcast(mapping), source_key == F.col("__dm_key"), "left"
        )
        return joined.drop("__dm_key")


def _value_type(spark: SparkSession, values: Iterable) -> DataType:
    """The type ``createDataFrame``'s row inference gives a column of
    ``values``, without its per-row pass: each scalar Python type is
    inferred once, and only other values (datetimes, lists, maps, rows)
    go through the row inference. No non-null value gives ``string``.
    """
    first_of_type: dict = {}
    others = []
    for v in values:
        if type(v) in _SCALAR_TYPES:
            first_of_type.setdefault(type(v), v)
        elif v is not None:
            others.append((v,))
    types = [_infer_type(v) for v in first_of_type.values()]
    if others:
        types.append(spark._inferSchemaFromList(others, names=["v"]).fields[0].dataType)
    merged = reduce(_merge_type, types, NullType())
    return StringType() if isinstance(merged, NullType) else merged
