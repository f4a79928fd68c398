"""Unit tests for the mapper layer (reference
``tests/test_mapping_functions.py`` coverage, SURVEY §2.2)."""

import datetime
import decimal
import warnings

import pytest
from pyspark.sql import functions as F

from biomedical_data_integration_spark import (
    DictionaryMapper,
    FunctionValueMapper,
    IdentityValueMapper,
    create_mapper,
    materialize_mapping,
)


def test_identity_mapper_copies_column(spark):
    df = spark.createDataFrame([("a",), ("b",), (None,)], ["x"])
    out = df.select(IdentityValueMapper().expr("x").alias("y"))
    assert [r["y"] for r in out.collect()] == ["a", "b", None]


def test_function_mapper_elementwise_with_null_passthrough(spark):
    df = spark.createDataFrame([("apple",), (None,), ("fig",)], ["x"])
    out = df.select(FunctionValueMapper(lambda v: v.upper()).expr("x").alias("y"))
    assert [r["y"] for r in out.collect()] == ["APPLE", None, "FIG"]


def test_function_mapper_numeric_return_type(spark):
    df = spark.createDataFrame([(1.0,), (2.5,)], ["x"])
    m = FunctionValueMapper(lambda v: v * 2, return_type="double")
    out = df.select(m.expr("x").alias("y"))
    assert [r["y"] for r in out.collect()] == [2.0, 5.0]


def test_dictionary_mapper_missing_key_is_null(spark):
    df = spark.createDataFrame([("R",), ("A",), ("Z",), (None,)], ["x"])
    m = DictionaryMapper({"R": "returned", "A": "accepted"})
    out = df.select(m.expr("x").alias("y"))
    assert [r["y"] for r in out.collect()] == ["returned", "accepted", None, None]


def test_dictionary_mapper_int_keys_coerced(spark):
    # reference test coerces int->float with NaN (test_mapping_functions.py:34-60)
    df = spark.createDataFrame([(1,), (2,), (9,)], ["x"])
    m = DictionaryMapper({"1": "one", "2": "two"})
    out = df.select(m.expr("x").alias("y"))
    assert [r["y"] for r in out.collect()] == ["one", "two", None]


def test_large_dictionary_uses_broadcast_join(spark):
    big = {f"k{i}": f"v{i}" for i in range(10_001)}
    m = DictionaryMapper(big)
    assert m.is_large()
    with pytest.raises(ValueError):
        m.expr("x")
    df = spark.createDataFrame([("k7",), ("nope",)], ["x"])
    out = materialize_mapping(df, [{"source": "x", "target": "x"},
                                   {"source": "x", "target": "y", "mapper": m}])
    got = {(r["x"], r["y"]) for r in out.collect()}
    assert got == {("k7", "v7"), ("nope", None)}


def test_create_mapper_polymorphism(spark):
    # None -> identity
    assert isinstance(create_mapper(None), IdentityValueMapper)
    # callable -> function
    assert isinstance(create_mapper(lambda v: v), FunctionValueMapper)
    # list of (source, target) matches -> dictionary
    m = create_mapper([("a", "A"), ("b", "B")])
    assert isinstance(m, DictionaryMapper)
    assert m.dictionary == {"a": "A", "b": "B"}
    # dict spec -> recurse
    m2 = create_mapper({"matches": [("x", "X")]})
    assert isinstance(m2, DictionaryMapper)
    # existing mapper passes through
    ident = IdentityValueMapper()
    assert create_mapper(ident) is ident


def test_materialize_single_projection_no_shuffle(spark):
    df = spark.createDataFrame([("R", 1.0), ("N", 2.0)], ["flag", "qty"])
    out = materialize_mapping(
        df,
        [
            {"source": "flag", "target": "rf", "matches": [("R", "ret"), ("N", "none")]},
            {"source": "qty", "target": "quantity"},
        ],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection: streams at any scale
    assert {tuple(r) for r in out.collect()} == {("ret", 1.0), ("none", 2.0)}


def test_expression_value_mapper_jvm_path(spark):
    from biomedical_data_integration_spark import (
        ExpressionValueMapper,
        create_mapper,
        materialize_mapping,
    )

    df = spark.createDataFrame([(" a ", 2.0), ("b", 3.5)], ["raw", "qty"])
    out = materialize_mapping(
        df,
        [
            {"source": "raw", "target": "clean", "mapper": "upper(trim({col}))"},
            {
                "source": "qty",
                "target": "cents",
                "mapper": ExpressionValueMapper("cast({col} * 100 as int)"),
            },
        ],
    )
    rows = {r["clean"]: r["cents"] for r in out.collect()}
    assert rows == {"A": 200, "B": 350}
    # no pandas UDF in the plan — stays in codegen
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # placeholder required
    import pytest as _pytest

    with _pytest.raises(ValueError, match="{col}"):
        create_mapper("upper(x)")


def test_expression_value_mapper_literal_braces(spark):
    """Regex quantifiers and other literal braces in the SQL expression
    must survive substitution (plain replace, not str.format)."""
    from biomedical_data_integration_spark import (
        ExpressionValueMapper,
        materialize_mapping,
    )

    df = spark.createDataFrame([("ab123cd",), ("x99y",)], ["raw"])
    out = materialize_mapping(
        df,
        [
            {
                "source": "raw",
                "target": "masked",
                "mapper": ExpressionValueMapper(
                    "regexp_replace({col}, '[0-9]{3}', 'XXX')"
                ),
            }
        ],
    )
    assert {r["masked"] for r in out.collect()} == {"abXXXcd", "x99y"}


def _rows_through(df, dictionary, kernel, monkeypatch, column):
    """Materialize ``column`` through ``dictionary`` on the named kernel;
    the join is forced by lowering the literal limit below the entry
    count."""
    from biomedical_data_integration_spark import planning

    with monkeypatch.context() as m:
        if kernel == "join":
            m.setattr(planning, "LITERAL_DICT_LIMIT", 0)
        out = materialize_mapping(
            df,
            [{"source": "id", "target": "id"},
             {"source": column, "target": "y", "mapper": DictionaryMapper(dictionary)}],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert ("BroadcastHashJoin" in plan) == (kernel == "join")
        return sorted(tuple(r) for r in out.collect())


@pytest.mark.parametrize(
    "dictionary",
    [
        {"1": "one", "2": "two", "1.5": "one and a half", "x": "ex"},
        {1: "one", 2: "two", -3: "minus three", 2**63: "too big"},
        {1: "one", "2": "two", 1.5: "one and a half", "x": "ex", False: "false",
         None: "null key", "-0": "minus zero", "03": "padded"},
    ],
    ids=["str", "int", "mixed"],
)
def test_dictionary_kernels_agree(spark, monkeypatch, dictionary):
    """Literal and join kernels give the same rows: a row matches key k
    iff cast(value as string) == str(k), whatever the key's type, on
    string, bigint, int and double sources, with a null source value and
    values missing from the dictionary."""
    df = spark.createDataFrame(
        [(0, "1", 1, 1, 1.5), (1, "2", 2, 2, 1.0), (2, "x", -3, -3, 2.0),
         (3, None, None, None, None), (4, "missing", 0, 3, -0.0), (5, "False", 7, 0, 3.5)],
        "id int, s string, b bigint, i int, d double",
    )
    matched = 0
    for column in ("s", "b", "i", "d"):
        literal = _rows_through(df, dictionary, "literal", monkeypatch, column)
        joined = _rows_through(df, dictionary, "join", monkeypatch, column)
        assert literal == joined, column
        matched += any(v is not None for _, v in literal)
    assert matched >= 3


def test_join_kernel_one_row_per_key_string(spark):
    """Two keys with one string form give one mapping row (the later
    entry wins), so the LEFT join never duplicates an input row."""
    big = {i: f"v{i}" for i in range(10_001)}
    big["5"] = "five"
    m = DictionaryMapper(big)
    assert m.is_large()
    df = spark.range(10).withColumn("s", F.col("id").cast("string"))
    for column in ("id", "s"):
        spec = [{"source": column, "target": column},
                {"source": column, "target": "y", "mapper": m}]
        out = materialize_mapping(df, spec).collect()
        assert len(out) == 10
        assert {r[column]: r["y"] for r in out}[5 if column == "id" else "5"] == "five"


def _series_map_reference(fn, return_type):
    """The parent form of FunctionValueMapper: a pandas UDF running
    ``Series.map(fn, na_action="ignore")`` over every row of a batch."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(return_type)
    def _reference(s: pd.Series) -> pd.Series:
        return s.map(fn, na_action="ignore")

    return _reference


@pytest.mark.parametrize(
    "rows, ddl, fn, return_type",
    [
        (["ab", None, "cd", "ab"], "string", lambda v: v.upper(), "string"),
        (["ab", None, "cde", "ab"], "string", lambda v: len(v), "bigint"),
        ([3, 1, 3, 2], "bigint", repr, "string"),
        ([3, None, 3, 2], "bigint", repr, "string"),
        ([3, 1, 3, 2], "bigint", lambda v: v * 2, "bigint"),
        ([3, None, 3, 2], "bigint", lambda v: v * 0.5, "double"),
        ([1.5, float("nan"), None, 1.5, -0.0, 0.0], "double", repr, "string"),
        ([1.5, float("nan"), None, 1.5], "double", lambda v: v + 1, "double"),
        ([True, None, False, True], "boolean", lambda v: "yes" if v else "no", "string"),
        ([datetime.date(2024, 2, 29), None, datetime.date(1999, 1, 1)], "date",
         repr, "string"),
        ([datetime.datetime(2024, 2, 29, 12, 30), None,
          datetime.datetime(2024, 2, 29, 12, 30)], "timestamp", repr, "string"),
        ([[1, 2], None, [1, 2], []], "array<bigint>", lambda v: str(list(v)), "string"),
        ([{"k": 1}, None, {"k": 1}], "map<string,bigint>", lambda v: len(v), "bigint"),
    ],
)
def test_function_mapper_matches_series_map(spark, rows, ddl, fn, return_type):
    """Per-distinct-value evaluation gives the rows ``Series.map`` over
    the whole batch gives: the same scalars reach ``fn`` (float64 for an
    integer batch with nulls, NaN skipped) and the same results come
    back; arrays and maps, mapped row by row, too."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rows)], f"id int, x {ddl}"
    ).coalesce(1)
    got = df.select(
        "id",
        FunctionValueMapper(fn, return_type).expr("x").alias("new"),
        _series_map_reference(fn, return_type)(F.col("x")).alias("ref"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert repr(r["new"]) == repr(r["ref"]), (r["id"], r["new"], r["ref"])


def _materialized(df, mapper, column="x"):
    """``mapper`` over ``column`` through ``materialize_mapping``, with
    the executed plan's string."""
    out = materialize_mapping(df, [
        {"source": "id", "target": "id"},
        {"source": column, "target": "new", "mapper": mapper},
    ])
    return out, out._jdf.queryExecution().executedPlan().toString()


_STRINGS = ["ab", None, "cde", "ab", "", " a ", "é", "日本", None, "x"]


@pytest.mark.parametrize(
    "fn, return_type",
    [
        (lambda v: v.upper(), "string"),
        (lambda v: None if v in ("", "x") else v.strip(), "string"),
        (len, "bigint"),
        (lambda v: len(v) / 4, "double"),
        (lambda v: None if v == "ab" else len(v) / 3, "double"),
        (lambda v: len(v) % 2 == 0, "boolean"),
        (lambda v: datetime.date(2024, 2, 1 + len(v)), "date"),
        (lambda v: datetime.datetime(2024, 2, 29, len(v), 30), "timestamp"),
        (lambda v: decimal.Decimal(len(v)) / 4, "decimal(10,2)"),
        (lambda v: None if v.isascii() else decimal.Decimal("1.5"), "decimal(10,2)"),
    ],
)
def test_materialize_function_mapper_on_driver_matches_series_map(
    spark, fn, return_type
):
    """A batch string column with a driver-sized domain is mapped on the
    driver and compiles to a dictionary: no Arrow UDF in the plan, and
    the rows ``Series.map`` over every row gives, for ``None`` results,
    empty, padded and non-ASCII values too."""
    df = spark.createDataFrame(list(enumerate(_STRINGS)), "id int, x string")
    out, plan = _materialized(df, FunctionValueMapper(fn, return_type))
    assert "ArrowEvalPython" not in plan
    ref = df.select("id", _series_map_reference(fn, return_type)(F.col("x")))
    assert out.schema["new"].dataType == ref.schema[1].dataType
    got = dict(out.collect())
    assert {i: repr(v) for i, v in got.items()} == {i: repr(v) for i, v in ref.collect()}


@pytest.mark.parametrize("rows", [[(0, None), (1, None)], []])
def test_materialize_function_mapper_all_null_or_empty(spark, rows):
    """An all-null column and an empty table have an empty domain: every
    row maps to a typed null, and ``fn`` is never called."""
    def fail(v):
        raise AssertionError(f"called with {v!r}")

    df = spark.createDataFrame(rows, "id int, x string")
    out, plan = _materialized(df, FunctionValueMapper(fail, "double"))
    assert "ArrowEvalPython" not in plan
    assert out.schema["new"].dataType.simpleString() == "double"
    assert sorted(out.collect()) == [(i, None) for i, _ in rows]


def test_materialize_function_mapper_large_domain_takes_join(spark):
    """A domain above LITERAL_DICT_LIMIT maps through the dictionary's
    broadcast join, still without a Python worker."""
    from biomedical_data_integration_spark import planning

    values = [f"v{i % 250}" if i % 7 else None for i in range(600)]
    df = spark.createDataFrame(list(enumerate(values)), "id int, x string")
    assert 250 > planning.LITERAL_DICT_LIMIT
    out, plan = _materialized(df, FunctionValueMapper(lambda v: v[::-1], "string"))
    assert "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert dict(out.collect()) == {
        i: None if v is None else v[::-1] for i, v in enumerate(values)
    }


def test_materialize_function_mapper_domain_limit_boundary(spark, monkeypatch):
    """At LOCAL_DOMAIN_LIMIT distinct values the mapper runs on the
    driver; one more and it stays the Arrow UDF. Both give the same rows."""
    from biomedical_data_integration_spark import planning

    values = ["a", "b", None, "c", "a", "d"]  # 4 distinct non-null
    df = spark.createDataFrame(list(enumerate(values)), "id int, x string")
    got = {}
    for limit, arrow in ((4, False), (3, True)):
        monkeypatch.setattr(planning, "LOCAL_DOMAIN_LIMIT", limit)
        out, plan = _materialized(df, FunctionValueMapper(lambda v: v * 2))
        assert ("ArrowEvalPython" in plan) == arrow, limit
        got[limit] = sorted(out.collect())
    assert got[4] == got[3] == sorted(
        (i, None if v is None else v * 2) for i, v in enumerate(values)
    )


def test_materialize_function_mapper_calls_once_per_distinct_value(spark):
    """On the driver path ``fn`` runs in this process, exactly once per
    distinct non-null value, and never sees a null."""
    calls = []

    def record(v):
        calls.append(v)
        return v.upper()

    values = ["a", "b", None, "a", "c", "b", None, "a"] * 4
    df = spark.createDataFrame(list(enumerate(values)), "id int, x string")
    _materialized(df, FunctionValueMapper(record))
    assert sorted(calls) == ["a", "b", "c"]


def test_materialize_function_mapper_error_surfaces_at_materialize(spark):
    def boom(v):
        raise RuntimeError(f"bad value {v}")

    df = spark.createDataFrame([(0, "a")], "id int, x string")
    with pytest.raises(RuntimeError, match="bad value a"):
        materialize_mapping(df, [
            {"source": "x", "target": "y", "mapper": FunctionValueMapper(boom)}
        ])


@pytest.mark.parametrize(
    "ddl, rows, fn, return_type",
    [
        ("bigint", [3, None, 3], lambda v: v * 2, "double"),
        ("string", ["ab", None, "ab"], list, "array<string>"),
        ("string", ["ab", None], lambda v: datetime.datetime(2024, 1, len(v)),
         "timestamp_ntz"),
    ],
)
def test_materialize_function_mapper_keeps_udf(spark, ddl, rows, fn, return_type):
    """A non-string source, and return types whose Python values do not
    round-trip through a literal, keep the Arrow UDF (streams keep it
    too: test_streaming_materialize_function_mapper_and_typed_join)."""
    df = spark.createDataFrame(list(enumerate(rows)), f"id int, x {ddl}")
    out, plan = _materialized(df, FunctionValueMapper(fn, return_type))
    assert "ArrowEvalPython" in plan
    ref = dict(df.select("id", _series_map_reference(fn, return_type)(F.col("x"))).collect())
    assert {i: repr(v) for i, v in out.collect()} == {i: repr(v) for i, v in ref.items()}


def test_function_mapper_all_null_batch_is_null(spark):
    """A batch holding only nulls maps to nulls without calling ``fn``
    (``Series.map`` over an all-NaT batch returned datetime64, which the
    string return type rejected)."""
    df = spark.createDataFrame([(None,), (None,)], "x timestamp").coalesce(1)
    out = df.select(FunctionValueMapper(repr).expr("x").alias("y")).collect()
    assert [r["y"] for r in out] == [None, None]


def test_function_mapper_called_once_per_distinct_value_per_batch(spark):
    """One partition, batches of 10 rows: every row of a batch with the
    same value gets the same call tag, the tags count the distinct
    non-null values batch by batch, and ``fn`` never sees a null."""
    calls = [0]

    def tag(v):
        assert v is not None and v == v
        calls[0] += 1
        return f"{v}#{calls[0]}"

    values = ["a", "b", None, "a", "c", "b", None, "a"] * 4  # 32 rows
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, x string"
    ).coalesce(1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # the UDF's type hints resolve: no hint warning
        mapped = FunctionValueMapper(tag).expr("x")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        out = df.select("id", mapped.alias("y")).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    y = {r["id"]: r["y"] for r in out}
    expected_calls = 0
    for start in range(0, len(values), 10):
        batch = range(start, min(start + 10, len(values)))
        tags = {}
        for i in batch:
            if values[i] is None:
                assert y[i] is None
            else:
                assert y[i].split("#")[0] == values[i]
                assert tags.setdefault(values[i], y[i]) == y[i]
        expected_calls += len(tags)
    assert len({t for t in y.values() if t is not None}) == expected_calls


def test_streaming_materialize_function_mapper_and_typed_join(spark, monkeypatch):
    """The per-distinct-value UDF and the bigint-keyed join both compile
    onto a stream: materialization stays one stateless projection."""
    import tempfile

    from biomedical_data_integration_spark import planning
    from biomedical_data_integration_spark.streaming import streaming_materialize

    monkeypatch.setattr(planning, "LITERAL_DICT_LIMIT", 1)
    df = spark.createDataFrame(
        [(1, "ab"), (2, None), (3, "ab")], "k bigint, s string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/in")
        stream = spark.readStream.schema(df.schema).parquet(f"{d}/in")
        out = streaming_materialize(stream, [
            {"source": "k", "target": "name",
             "mapper": DictionaryMapper({1: "one", "3": "three", "x": "ex"})},
            {"source": "s", "target": "upper", "mapper": FunctionValueMapper(str.upper)},
        ])
        assert out.isStreaming
        sq = (
            out.writeStream.format("memory").queryName("mat_fn_join")
            .outputMode("append").option("checkpointLocation", f"{d}/ckpt").start()
        )
        try:
            sq.processAllAvailable()
        finally:
            sq.stop()
        got = {tuple(r) for r in spark.sql("select * from mat_fn_join").collect()}
    assert got == {(None, None), ("one", "AB"), ("three", "AB")}
