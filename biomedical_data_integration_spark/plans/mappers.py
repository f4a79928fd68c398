"""Value mappers — the engine's expression-factory layer.

The reference's ``ValueMapper`` contract is ``map(pd.Series) -> pd.Series``
(``bdikit/mapping_functions.py:7-19``). In Spark a mapper is a factory for
a ``Column`` expression: ``materialize_mapping`` compiles a whole plan into
ONE narrow ``select`` — no shuffle, fully pipelined, which is what lets
materialization stream at 100 TB.

Mapper catalog (reference ``bdikit/mapping_functions.py``):
- ``IdentityValueMapper``   (:22-31) -> ``col(src)``
- ``FunctionValueMapper``   (:34-48) -> Arrow-batched pandas UDF with
  element-wise ``Series.map`` semantics (nulls pass through unmapped,
  matching pandas ``Series.map`` / the reference)
- ``DictionaryMapper``      (:51-65) -> literal ``create_map`` lookup for
  small dicts (missing key -> null, the defaultdict(np.nan) semantics);
  for big dictionaries use ``DictionaryMapper.as_join`` (broadcast LEFT
  join against a mapping table — same null-on-missing semantics).
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biomedical_data_integration_spark import planning
from biomedical_data_integration_spark.session import local_frame

# Above planning.LITERAL_DICT_LIMIT entries a dictionary compiles to a
# broadcast-join plan rather than a literal CASE/map expression (Catalyst
# literal maps are driver-serialized into the plan; fine for vocabularies,
# wrong for a 10M-row mapping table).


class ValueMapper:
    """Base contract: produce the output Column for a source column."""

    def expr(self, source_column: str) -> Column:
        raise NotImplementedError

    def rewrite(self, df: DataFrame, source_column: str, target_column: str) -> DataFrame:
        """Default rewrite: attach/replace ``target_column`` via ``expr``.

        Mappers that need a join (large dictionaries) override this.
        """
        return df.withColumn(target_column, self.expr(source_column))


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
    calling ``fn``. Implemented as an Arrow-batched pandas UDF so the
    Python boundary is vectorized per batch even though ``fn`` itself is
    scalar.

    ``return_type`` must be declared (Spark needs a schema); default
    ``string`` matches the stringly-typed harmonization domain.
    """

    def __init__(self, function: Callable, return_type: str = "string"):
        self.function = function
        self.return_type = return_type

    def expr(self, source_column: str) -> Column:
        from pyspark.sql.functions import pandas_udf

        fn = self.function

        @pandas_udf(self.return_type)
        def _apply(s):  # pd.Series -> pd.Series
            return s.map(fn, na_action="ignore")

        return _apply(F.col(source_column))


class ExpressionValueMapper(ValueMapper):
    """Apply a SQL expression string to the source column — the
    Spark-first fast path for computed mappings.

    Where :class:`FunctionValueMapper` crosses the Python/Arrow boundary
    per batch, an expression mapper stays entirely in JVM whole-stage
    codegen (engine extension; the reference only offers Python callables,
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
    LEFT join, which has identical missing->null semantics.
    """

    def __init__(self, dictionary: Mapping):
        self.dictionary = dict(dictionary)

    def expr(self, source_column: str) -> Column:
        if planning.dict_mapper_kernel(len(self.dictionary)) != "literal":
            raise ValueError(
                f"Dictionary with {len(self.dictionary)} entries is too large "
                "for a literal expression; materialize_mapping will use a "
                "broadcast join (as_join) instead."
            )
        if not self.dictionary:
            return F.lit(None).cast("string")
        pairs: list[Column] = []
        for k, v in self.dictionary.items():
            pairs.append(F.lit(k))
            pairs.append(F.lit(v))
        # element_at returns null on missing key; try_element_at also covers
        # null keys (map lookup with null key raises under ANSI).
        key = F.col(source_column).cast("string")
        return F.when(
            key.isNull(), F.lit(None)
        ).otherwise(F.try_element_at(F.create_map(*pairs), key))

    def is_large(self) -> bool:
        return planning.dict_mapper_kernel(len(self.dictionary)) != "literal"

    def as_join(
        self, df: DataFrame, source_column: str, target_column: str
    ) -> DataFrame:
        """Broadcast-LEFT-join rewrite for large dictionaries."""
        spark = df.sparkSession
        items = [(str(k) if k is not None else None, v) for k, v in self.dictionary.items()]
        mapping = local_frame(spark, items, ["__dm_key", target_column])
        joined = df.join(
            F.broadcast(mapping),
            F.col(source_column).cast("string") == F.col("__dm_key"),
            "left",
        )
        return joined.drop("__dm_key")

    def rewrite(self, df: DataFrame, source_column: str, target_column: str) -> DataFrame:
        if self.is_large():
            return self.as_join(df, source_column, target_column)
        return df.withColumn(target_column, self.expr(source_column))
