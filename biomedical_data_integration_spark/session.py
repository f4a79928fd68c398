"""SparkSession helpers.

The engine is a library: it never owns the session, but provides a
constructor with scale-appropriate defaults. All knobs are plain Spark SQL
configuration — AQE for runtime re-planning (skew joins, coalesced
shuffles), Arrow for the pandas-UDF boundary, UTC so timestamp results are
stable against any oracle.
"""

from __future__ import annotations

from typing import Any, Iterable, List, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "biomedical-data-integration-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Return the active session or build one with engine defaults.

    On a real cluster, ``master``/``shuffle_partitions`` come from
    spark-submit; locally we default to ``local[*]`` and a modest shuffle
    width so tiny test inputs don't fan out into thousands of empty tasks
    (AQE coalescing handles the rest).
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Similarity kernels do intentional cartesian joins on *distinct
        # value domains* (small relations); don't make users opt in per-job.
        .config("spark.sql.crossJoin.enabled", "true")
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master("local[*]")
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession,
    rows: Union[Iterable[Any], "pandas.DataFrame"],  # noqa: F821
    schema: Union[StructType, str, List[str]],
) -> DataFrame:
    """A DataFrame over driver-held rows, planned as a ``LocalRelation``.

    Every relation the engine builds from driver data (domains, score
    tables, model rows, sidecars) goes through here. ``createDataFrame``
    over a Python list plans a pickled ``LogicalRDD``: each action or
    broadcast over it is a Spark job that ships the pickles through a
    Python worker. The rows are instead converted to one Arrow table,
    which Spark keeps as a ``LocalRelation`` whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says: collecting or
    broadcasting it runs no job, and the optimizer knows its exact size.

    ``rows`` is a sequence of positional rows (tuples, lists or ``Row``),
    or a pandas DataFrame for wide column-oriented tables. ``schema`` is a
    ``StructType``, a DDL string, or column names only; names are typed by
    PySpark's own row inference, as ``createDataFrame(list, names)`` would.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    elif not isinstance(schema, StructType):
        rows = list(rows)
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields]
    )
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False)
    else:
        rows = list(rows)
        columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, schema)


def pin(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now into executor storage and return a frame
    that reads the stored rows, with its lineage truncated.

    Every engine-side materialization goes through here. The pin is an
    eager ``localCheckpoint`` rather than a lazy ``persist()``: AQE
    submits independent query stages concurrently, and each stage that
    reads a cold cache recomputes the whole lineage itself (round-13
    profile: shared scans ran 4-8x concurrently). One eager job turns
    that into one computation plus cached reads.

    Pin only a frame read across references that ``ReuseExchange`` does
    not already share: separate actions, loop iterations, or branches
    whose plans differ above the shared part. Inside one plan, an
    identical exchange subtree is computed once without a pin.
    """
    return df.localCheckpoint(eager=True)


def unpin(*dfs: DataFrame) -> None:
    """Release the pins that ``dfs`` read, without blocking.

    A pin is held until the driver JVM garbage-collects its RDD; neither
    ``DataFrame.unpersist()`` nor ``spark.catalog.clearCache()`` releases
    a local checkpoint. This drops the blocks of every ``LogicalRDD``
    leaf in each frame's plan, so a caller may unpin only frames whose
    pins nothing it returns still reads: a frame read after its pin is
    released fails with "Checkpoint block ... not found".
    """
    for df in dfs:
        leaves = df._jdf.logicalPlan().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
