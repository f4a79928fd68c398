"""``session.local_frame``: the one constructor for driver-built relations.

It must type every schema shape the package builds exactly as
``createDataFrame(list)`` did, plan as a ``LocalRelation`` whether or not
Arrow is enabled for PySpark, and be the package's only route to
``createDataFrame``.
"""

import ast
import os

import pytest
from pyspark.sql import Row

from biomedical_data_integration_spark.session import local_frame

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"

# every schema shape a package call site passes
SHAPES = [
    (
        "scalars",
        [("a", 1, 2, 1.5), ("b", -(2 ** 40), -3, -0.25)],
        "s string, b bigint, i int, d double",
    ),
    ("null_cells", [("a", None, None), (None, 7, 0.5)], "s string, b bigint, d double"),
    (
        "arrays",
        [([1.0, 2.5], [1, 2 ** 40]), ([], None)],
        "ad array<double>, ab array<bigint>",
    ),
    (
        "nested_arrays",
        [([[0.5, 1.0], [2.0]], [[[1.0]], [[2.0, 3.0]]])],
        "c array<array<double>>, k array<array<array<double>>>",
    ),
    (
        "maps",
        [({"x": 1, "y": None}, [3, 4], 5, {"z": 2}, 6)],
        "wm map<string,bigint>, wa array<bigint>, bias bigint,"
        " means map<string,bigint>, n bigint",
    ),
    (
        "array_of_struct",
        [([(0, [1.0, 2.0]), (1, [0.5, None])],)],
        "__cents array<struct<cluster:int,cvec:array<double>>>",
    ),
    (
        "map_of_nested_arrays",
        [({"q|1": [[1, 2], [3]], "q|2": []},)],
        "__adc map<string,array<array<bigint>>>",
    ),
    ("zero_rows", [], "source string, target string, similarity double"),
    ("rows", [Row(a="x", b=1), Row(a=None, b=2)], "a string, b bigint"),
    ("names_only", [("k1", 1), ("k2", None)], ["__dm_key", "target"]),
    ("names_only_floats", [(1, 0.5), (2, 1.0)], ["__rh", "__rank"]),
]


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow_conf(spark, request):
    before = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, request.param)
    yield request.param
    spark.conf.set(ARROW_CONF, before)


@pytest.mark.parametrize("rows,schema", [s[1:] for s in SHAPES], ids=[s[0] for s in SHAPES])
def test_local_frame_matches_create_dataframe(spark, arrow_conf, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    df = local_frame(spark, rows, schema)
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    plan = df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    assert plan == "LocalRelation"


def test_local_frame_pandas_input(spark, arrow_conf):
    import pandas as pd

    pdf = pd.DataFrame(
        {"a": pd.Series(["x", None], dtype="object"), "b": pd.Series(["y", "z"])}
    )
    df = local_frame(spark, pdf, "a string, b string")
    assert df.collect() == spark.createDataFrame(pdf, "a string, b string").collect()
    assert df.isLocal()


def test_local_frame_collect_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_no_job", "local_frame_no_job")
    try:
        rows = local_frame(
            spark, [(f"v{i}", i) for i in range(500)], "v string, i bigint"
        ).limit(501).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 500
    assert sc.statusTracker().getJobIdsForGroup("local_frame_no_job") == []


def _create_dataframe_calls(path):
    tree = ast.parse(open(path).read(), path)
    allowed = {
        id(n)
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
        for n in ast.walk(fn)
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
        and id(node) not in allowed
    ]


def test_no_create_dataframe_outside_local_frame():
    """Gate: driver-built relations go through ``local_frame`` only."""
    import biomedical_data_integration_spark as pkg

    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                offenders += [
                    f"{os.path.relpath(path, root)}:{ln}"
                    for ln in _create_dataframe_calls(path)
                ]
    assert offenders == [], f"createDataFrame outside local_frame: {offenders}"
