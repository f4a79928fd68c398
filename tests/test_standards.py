"""Standard vocabularies: registry, long/wide forms, preview_domain."""

import json

import pytest

from biomedical_data_integration_spark import preview_domain
from biomedical_data_integration_spark.sources.standards import (
    DataFrameStandard,
    DictStandard,
    JsonStandard,
    get_standard,
    register_standard,
)


def test_registry_resolution_and_error():
    std = get_standard("gdc")
    assert "ethnicity" in std.get_columns()
    with pytest.raises(ValueError, match="not supported"):
        get_standard("nope")


def test_dict_standard_metadata():
    std = DictStandard(
        {"color": {"description": "a color", "values": {"red": "r", "blue": "b"}}}
    )
    meta = std.get_column_metadata(["color"])["color"]
    assert meta["description"] == "a color"
    assert meta["value_names"] == ["red", "blue"]
    assert std.get_column_values(["color"])["color"] == ["red", "blue"]


def test_long_and_wide_forms(spark):
    std = DictStandard(
        {
            "a": {"description": "da", "values": {"x": "", "y": ""}},
            "b": {"description": "db", "values": {"z": ""}},
        }
    )
    long_df = std.to_long_df(spark)
    assert long_df.columns == [
        "column_name", "column_description", "value", "value_description",
    ]
    assert long_df.count() == 3
    wide = std.to_wide_df(spark)
    assert set(wide.columns) == {"a", "b"}
    assert wide.count() == 2  # padded to max domain size
    vals = {r["b"] for r in wide.collect()}
    assert vals == {"z", None}


def test_long_and_wide_forms_memoized_per_session(spark):
    """Both forms are built once per (standard, session); a new session
    object gets its own frames, never one bound to another session."""
    std = DictStandard({"a": {"description": "da", "values": {"x": ""}}})
    assert std.to_long_df(spark) is std.to_long_df(spark)
    assert std.to_wide_df(spark) is std.to_wide_df(spark)
    other = spark.newSession()
    assert std.to_long_df(other) is not std.to_long_df(spark)
    assert std.to_long_df(other).sparkSession is other


def test_json_standard_roundtrip(spark, tmp_path):
    payload = {
        "stage": {
            "column_description": "the stage",
            "value_data": {"I": "one", "II": "two"},
        }
    }
    p = tmp_path / "std.json"
    p.write_text(json.dumps(payload))
    std = JsonStandard(str(p))
    assert std.get_column_values(["stage"])["stage"] == ["I", "II"]


def test_dataframe_standard(spark):
    df = spark.createDataFrame(
        [("col1", "desc", "v1", ""), ("col1", "desc", "v2", "")],
        ["column_name", "column_description", "value", "value_description"],
    )
    std = DataFrameStandard(df)
    assert std.get_columns() == ["col1"]
    assert std.get_column_values(["col1"])["col1"] == ["v1", "v2"]


def test_preview_domain_standard_branch(spark):
    out = preview_domain("gdc", "ethnicity", spark=spark)
    assert out.columns == ["value_name", "value_description", "column_description"]
    names = {r["value_name"] for r in out.collect()}
    assert "hispanic or latino" in names
    limited = preview_domain("gdc", "ethnicity", limit=2, spark=spark)
    assert limited.count() == 2


def test_preview_domain_dataframe_branch(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",), (None,)], ["c"])
    out = preview_domain(df, "c")
    assert out.columns == ["value_name"]
    assert {r["value_name"] for r in out.collect()} == {"a", "b"}


def test_preview_domain_unknown_column_raises(spark):
    with pytest.raises(ValueError, match="not found"):
        preview_domain("gdc", "no_such_column", spark=spark)


def test_register_custom_standard(spark):
    register_standard("mystd", DictStandard({"k": {"description": "", "values": {"v": ""}}}))
    assert get_standard("mystd").get_columns() == ["k"]


def test_register_lazy_factory():
    calls = []

    def factory():
        calls.append(1)
        return DictStandard({"lazy": {"description": "", "values": {}}})

    register_standard("lazystd", factory)
    assert calls == []  # not built until first resolution
    assert get_standard("lazystd").get_columns() == ["lazy"]
    assert get_standard("lazystd").get_columns() == ["lazy"]
    assert calls == [1]  # built once, instance cached


def test_gdc_is_the_full_vocabulary():
    """The default "gdc" standard is the real NCI GDC dictionary snapshot
    (``bdikit/standards/gdc.py:16-22`` scale), not a demo."""
    gdc = get_standard("gdc")
    cols = gdc.get_columns()
    assert len(cols) >= 700
    vals = gdc.get_column_values(
        ["primary_diagnosis", "figo_stage", "ethnicity", "morphology"]
    )
    assert len(vals["primary_diagnosis"]) >= 1000
    assert len(vals["morphology"]) >= 1000
    assert "Stage IIIC1" in vals["figo_stage"]
    assert "not hispanic or latino" in vals["ethnicity"]
    meta = gdc.get_column_metadata(["age_at_diagnosis"])["age_at_diagnosis"]
    assert meta["description"]  # description present even with no enum
    assert meta["value_names"] == []


def test_match_schema_default_gdc_full_vocab(spark):
    """``match_schema(df)`` with the default target behaves like
    ``bdikit/api.py:43-85`` against the real GDC vocabulary."""
    from biomedical_data_integration_spark import match_schema

    src = spark.createDataFrame(
        [("hispanic or latino", "Stage IIIC", "G2")],
        ["Ethnicity", "FIGO_stage", "Grade"],
    )
    got = {r["source"]: r["target"] for r in
           match_schema(src, method="name_similarity").collect()}
    assert got["Ethnicity"] == "ethnicity"
    assert got["FIGO_stage"] == "figo_stage"
    assert got["Grade"] == "tumor_grade"


def test_match_schema_default_method_full_vocab_completes(spark):
    """The out-of-the-box flow — default method (coma ensemble), default
    736-column GDC target — must finish and produce sane assignments.
    Regression guard for the union-of-selects unpivot that OOM'd the
    optimizer at real vocabulary width."""
    from biomedical_data_integration_spark import match_schema

    src = spark.createDataFrame(
        [("hispanic or latino", "Stage IIIC"), ("not reported", "Stage IV")],
        ["Ethnicity", "FIGO_stage"],
    )
    got = {r["source"]: r["target"] for r in match_schema(src).collect()}
    assert got["Ethnicity"] == "ethnicity"
    assert got["FIGO_stage"] == "figo_stage"
