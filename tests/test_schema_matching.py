"""Schema matchers — one golden toy case per method (reference
``tests/test_schema_matching.py:13-42`` pattern)."""

import pytest

from biomedical_data_integration_spark import match_schema, top_matches
from biomedical_data_integration_spark.operators.schema_matching import (
    CompositeSchemaMatcher,
    get_schema_matcher,
    one_to_one_assignment,
)

METHODS = [
    "name_similarity",
    "jaccard_distance",
    "similarity_flooding",
    "composite",
    "coma",       # alias of the native composite (SURVEY §2.3)
    "cupid",      # TreeMatch (structural, round 8)
    "two_phase",
    "ct_learning",
    "max_val_sim",
]


@pytest.fixture()
def toy(spark):
    source = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], ["column_1", "col_2"]
    )
    target = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], ["column_1a", "col2"]
    )
    return source, target


@pytest.mark.parametrize("method", METHODS)
def test_each_matcher_maps_toy_tables(toy, method):
    source, target = toy
    out = match_schema(source, target, method=method)
    got = {(r["source"], r["target"]) for r in out.collect()}
    assert got == {("column_1", "column_1a"), ("col_2", "col2")}


def test_unmatched_source_columns_filled_empty(spark):
    """Unmatched sources get '' (one2one/base.py:9-15)."""
    source = spark.createDataFrame([("x", "zzz")], ["shared", "only_src"])
    target = spark.createDataFrame([("x",)], ["shared"])
    out = match_schema(source, target, method="jaccard_distance")
    got = dict((r["source"], r["target"]) for r in out.collect())
    assert got["shared"] == "shared"
    assert got["only_src"] == ""


def test_one_to_one_assignment_is_injective(spark):
    scores = spark.createDataFrame(
        [("s1", "t1", 0.9), ("s2", "t1", 0.8), ("s2", "t2", 0.5)],
        ["source", "target", "similarity"],
    )
    got = dict(one_to_one_assignment(scores, ["s1", "s2"]))
    assert got == {"s1": "t1", "s2": "t2"}


def test_top_matches_respects_k(spark):
    source = spark.createDataFrame([("a", "b")], ["c1", "c2"])
    target = spark.createDataFrame([("a", "b", "c")], ["c1x", "c2x", "other"])
    out = top_matches(source, target=target, top_k=2, method="name_similarity")
    counts = out.groupBy("source").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_distribution_based_prefers_same_distribution(spark):
    src = spark.createDataFrame([(float(i),) for i in range(100)], ["uniform"])
    tgt = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(100)], ["same", "squared"]
    )
    m = get_schema_matcher("distribution_based", quantiles=16)
    scores = {
        (r["source"], r["target"]): r["similarity"]
        for r in m.scores(src, tgt).collect()
    }
    assert scores[("uniform", "same")] > scores[("uniform", "squared")]


def test_gdc_standard_target(spark):
    """Reference golden: Ethnicity->ethnicity (tests/test_api.py:31-64)."""
    src = spark.createDataFrame(
        [("hispanic or latino", "Stage I"), ("unknown", "Stage II")],
        ["Ethnicity", "FIGO_stage"],
    )
    out = match_schema(src, "gdc", method="two_phase")
    got = dict((r["source"], r["target"]) for r in out.collect())
    assert got["Ethnicity"] == "ethnicity"
    assert got["FIGO_stage"] == "figo_stage"


def test_matcher_instance_accepted(spark, toy=None):
    source = spark.createDataFrame([("a",)], ["c1"])
    target = spark.createDataFrame([("a",)], ["c1x"])
    matcher = get_schema_matcher("name_similarity")
    out = match_schema(source, target, method=matcher)
    assert out.first()["target"] == "c1x"


def test_unknown_matcher_raises(spark):
    source = spark.createDataFrame([("a",)], ["c1"])
    with pytest.raises(ValueError, match="not supported"):
        match_schema(source, source, method="bogus")


def test_gpt_schema_matcher_pipeline_with_fake_client(spark):
    """Deterministic pipeline test (prompt build, ≤15-value serialization,
    response validation, rank scoring) with a scripted client."""
    from biomedical_data_integration_spark.operators.schema_matching import (
        GptSchemaMatcher,
    )
    from biomedical_data_integration_spark import match_schema

    prompts = []

    def fake_client(messages):
        prompts.append(messages)
        ctx = messages[1]["content"]
        if "ethnicity_src" in ctx:
            # bogus label first -> must be skipped; duplicate must dedupe
            return "no_such_col; ethnicity; ethnicity; race"
        return "figo_stage"

    src = spark.createDataFrame(
        [("hispanic", "Stage I"), ("asian", "Stage II")],
        ["ethnicity_src", "stage_src"],
    )
    tgt = spark.createDataFrame([], "ethnicity string, race string, figo_stage string")
    matcher = GptSchemaMatcher(client=fake_client, top_m=10)
    got = {(r["source"], r["target"]): r["similarity"]
           for r in matcher.scores(src, tgt).collect()}
    # rank 0 -> 1.0, rank 1 -> 0.9; invalid + duplicate labels dropped
    assert got == {
        ("ethnicity_src", "ethnicity"): 1.0,
        ("ethnicity_src", "race"): 0.9,
        ("stage_src", "figo_stage"): 1.0,
    }
    # prompt serialization: column name + lowercased values, labels listed
    eth_prompt = next(p for p in prompts if "ethnicity_src" in p[1]["content"])
    assert "ethnicity_src: " in eth_prompt[1]["content"]
    assert "hispanic" in eth_prompt[1]["content"]
    assert "ethnicity, race, figo_stage" in eth_prompt[1]["content"]
    assert eth_prompt[0]["role"] == "system"

    # end-to-end through the public API (greedy 1:1 assignment)
    assign = {r["source"]: r["target"] for r in match_schema(
        src, tgt, method=matcher).collect()}
    assert assign == {"ethnicity_src": "ethnicity", "stage_src": "figo_stage"}


def test_gpt_schema_matcher_value_budget(spark):
    """Columns with >15 distinct values serialize exactly 15."""
    from biomedical_data_integration_spark.operators.schema_matching import (
        GptSchemaMatcher,
    )

    captured = {}

    def fake_client(messages):
        captured["ctx"] = messages[1]["content"]
        return "t"

    src = spark.createDataFrame([(f"v{i}",) for i in range(50)], ["c"])
    tgt = spark.createDataFrame([], "t string")
    GptSchemaMatcher(client=fake_client).scores(src, tgt).collect()
    ctx_line = captured["ctx"].split("CONTEXT: ")[1].split("\n")[0]
    n_vals = len(ctx_line.split(": ", 1)[1].split(", "))
    assert n_vals == 15


def test_gpt_schema_matcher_requires_client(spark):
    from biomedical_data_integration_spark.operators.schema_matching import (
        GptSchemaMatcher,
    )
    import pytest

    src = spark.createDataFrame([("a",)], ["c"])
    with pytest.raises(NotImplementedError, match="client"):
        GptSchemaMatcher().scores(src, src)


def test_distribution_approx_deterministic_sampler(spark):
    import random

    from biomedical_data_integration_spark.operators.schema_matching import (
        DistributionBasedSchemaMatcher,
    )

    rng = random.Random(11)
    rows = [(rng.gauss(50.0, 10.0), rng.uniform(0.0, 1.0)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "a double, b double")
    m = DistributionBasedSchemaMatcher(quantiles=16, exact=False, sample_k=256)
    one = sorted(map(tuple, m.scores(df, df).collect()))
    two = sorted(map(tuple, m.scores(df, df).collect()))
    # the sample is a pure function of the value bytes: identical results
    # across runs and partitionings (t-digest approx_percentile is not)
    assert one == two
    # self-match on the diagonal: a column's sampled sketch matches itself
    diag = {(s, t): sim for s, t, sim in one}
    assert diag[("a", "a")] == 1.0 and diag[("b", "b")] == 1.0
    # approx tracks exact: same-distribution pairs still score higher
    assert diag[("a", "a")] > diag[("a", "b")]
    ex = {
        (r["source"], r["target"]): r["similarity"]
        for r in DistributionBasedSchemaMatcher(quantiles=16).scores(df, df).collect()
    }
    for pair, sim in diag.items():
        assert abs(sim - ex[pair]) < 0.15  # sampled sketch near exact


def test_simflood_fixpoint_converges_and_is_deterministic(spark):
    from biomedical_data_integration_spark.operators.schema_matching import (
        SimilarityFloodingSchemaMatcher,
    )

    src = spark.createDataFrame([(1, "a", 2.0)], ["order_id", "name", "price"])
    tgt = spark.createDataFrame([(1, "a", 2.0)], ["orderid", "label", "cost"])
    m = SimilarityFloodingSchemaMatcher(max_iterations=200, eps=1e-9)
    one = sorted(map(tuple, m.scores(src, tgt).collect()))
    two = sorted(map(tuple, m.scores(src, tgt).collect()))
    assert one == two  # sorted-order fsum accumulation: run-to-run stable
    sims = {(s, t): v for s, t, v in one}
    # flooding propagates through shared type structure: the same-typed
    # name-similar pair dominates its row and column
    assert sims[("order_id", "orderid")] == max(
        v for (s, t), v in sims.items() if s == "order_id"
    )
    # a loose eps stops earlier but still lands near the tight fixpoint
    loose = {
        (r["source"], r["target"]): r["similarity"]
        for r in SimilarityFloodingSchemaMatcher(max_iterations=200, eps=1e-2)
        .scores(src, tgt)
        .collect()
    }
    for k, v in sims.items():
        assert abs(loose[k] - v) < 0.05


def test_simflood_inverse_average_coefficients():
    from biomedical_data_integration_spark.operators.schema_matching import (
        SimilarityFloodingSchemaMatcher,
    )

    m = SimilarityFloodingSchemaMatcher()
    # A: table with 2 columns of one type; B: table with 3 columns
    ea = [("__table__", "column", "col:a1"), ("__table__", "column", "col:a2"),
          ("col:a1", "type", "type:string"), ("col:a2", "type", "type:string")]
    eb = [("__table__", "column", "col:b1"), ("__table__", "column", "col:b2"),
          ("__table__", "column", "col:b3"),
          ("col:b1", "type", "type:string"), ("col:b2", "type", "type:string"),
          ("col:b3", "type", "type:string")]
    nodes, incoming = m._propagation_graph(ea, eb)
    tt = ("__table__", "__table__")
    # inverse average on 'column' edges out of the table pair: 2/(2+3)
    pair = ("col:a1", "col:b1")
    w = [wt for q, wt in incoming[pair] if q == tt]
    assert w == [pytest.approx(2.0 / 5.0)]
    # reverse edge into the table pair: columns have in-degree 1 each side
    back = [wt for q, wt in incoming[tt] if q == pair]
    assert back == [pytest.approx(1.0)]
    # forward into the type pair: each column has ONE type edge -> 2/(1+1)
    tp = ("type:string", "type:string")
    tw = {q: wt for q, wt in incoming[tp]}
    assert tw[("col:a1", "col:b1")] == pytest.approx(1.0)
    # reverse out of the type pair divides by the type node IN-degrees
    # (2 columns in A, 3 in B share the string type) -> 2/(2+3)
    back_t = [wt for q, wt in incoming[pair] if q == tp]
    assert back_t == [pytest.approx(2.0 / 5.0)]


def test_simflood_rejects_unknown_policy():
    from biomedical_data_integration_spark.operators.schema_matching import (
        SimilarityFloodingSchemaMatcher,
    )

    with pytest.raises(ValueError, match="coeff_policy"):
        SimilarityFloodingSchemaMatcher(coeff_policy="bogus")
    with pytest.raises(ValueError, match="formula"):
        SimilarityFloodingSchemaMatcher(formula="bogus")


def test_cupid_structural_phase_breaks_name_ties(spark):
    """Cupid TreeMatch (round-8): two source structs each carry a
    'city' leaf whose name matches BOTH target city leaves equally —
    only sibling context (street/zip vs employer name) can route them.
    The structural phase must score address.city higher against the
    location struct's city than against the company struct's city."""
    from pyspark.sql.types import (
        IntegerType, StructField, StructType, StringType,
    )

    from biomedical_data_integration_spark.operators.schema_matching import (
        CupidSchemaMatcher,
    )

    def struct(fields):
        return StructType(
            [StructField(n, t, True) for n, t in fields]
        )

    src = spark.createDataFrame(
        [],
        struct(
            [
                ("address", struct(
                    [("street", StringType()),
                     ("city", StringType()),
                     ("zip", IntegerType())])),
                ("employer", struct(
                    [("employer_name", StringType()),
                     ("city", StringType())])),
            ]
        ),
    )
    tgt = spark.createDataFrame(
        [],
        struct(
            [
                ("location", struct(
                    [("street", StringType()),
                     ("city", StringType()),
                     ("zip", IntegerType())])),
                ("company", struct(
                    [("employer_name", StringType()),
                     ("city", StringType())])),
            ]
        ),
    )
    m = CupidSchemaMatcher()
    got = {
        (r["source"], r["target"]): r["similarity"]
        for r in m.scores(src, tgt).collect()
    }
    # name sims are symmetric: without structure these four tie exactly
    assert (
        got[("address.city", "location.city")]
        > got[("address.city", "company.city")]
    )
    assert (
        got[("employer.city", "company.city")]
        > got[("employer.city", "location.city")]
    )
    # anchors themselves match strongly
    assert got[("address.street", "location.street")] >= 0.7


def test_cupid_flat_schema_ranks_by_name_with_type_compat(spark):
    """Flat schemas: Cupid degenerates to linguistic ranking modulated
    by type compatibility — an identically-named leaf with an
    incompatible type must score below a compatible one."""
    from biomedical_data_integration_spark.operators.schema_matching import (
        CupidSchemaMatcher,
    )

    src = spark.createDataFrame([], "order_total double, note string")
    tgt = spark.createDataFrame(
        [], "order_total double, order_totals string, comment string"
    )
    got = {
        (r["source"], r["target"]): r["similarity"]
        for r in CupidSchemaMatcher().scores(src, tgt).collect()
    }
    # same name + same type beats near-name + incompatible type
    assert (
        got[("order_total", "order_total")]
        > got[("order_total", "order_totals")]
    )


def test_cupid_registered_and_usable_via_match_schema(spark):
    import biomedical_data_integration_spark as bdi
    from biomedical_data_integration_spark.operators.schema_matching import (
        CupidSchemaMatcher,
        get_schema_matcher,
    )

    assert isinstance(get_schema_matcher("cupid"), CupidSchemaMatcher)
    src = spark.createDataFrame([("x", 1)], "customer_name string, qty int")
    tgt = spark.createDataFrame(
        [("y", 2)], "name_of_customer string, quantity int"
    )
    out = bdi.match_schema(src, tgt, method="cupid")
    got = {
        r["source"]: r["target"] for r in out.collect()
    }
    assert got["customer_name"] == "name_of_customer"
    assert got["qty"] == "quantity"


def test_cupid_w_struct_drives_inner_reinforcement(spark):
    """w_struct must be LIVE (ADVICE round 8): for an inner pair whose
    names match but whose structural evidence is only moderate, the
    paper's blend w_struct*ssim + (1-w_struct)*lsim decides whether
    c_inc fires. Low w_struct (name-dominated blend) clears th_high
    and amplifies the leaf ssims; w_struct=1.0 (structure-only blend)
    reproduces the raw-ssim rule and does not."""
    from pyspark.sql.types import (
        DoubleType, StringType, StructField, StructType,
    )

    from biomedical_data_integration_spark.operators.schema_matching import (
        CupidSchemaMatcher,
    )

    def struct(fields):
        return StructType([StructField(n, t, True) for n, t in fields])

    # shared inner name 'shipment'; leaves mostly DISSIMILAR by name so
    # structural evidence stays moderate (below th_high), and the probe
    # pair (weight_kg vs mass) has zero name similarity — its score is
    # pure leaf ssim, so any change isolates the reinforcement factor.
    src = spark.createDataFrame(
        [],
        struct([("shipment", struct(
            [("weight_kg", DoubleType()), ("origin_port", StringType())]
        ))]),
    )
    tgt = spark.createDataFrame(
        [],
        struct([("shipment", struct(
            [("mass", DoubleType()), ("destination", StringType())]
        ))]),
    )
    probe = ("shipment.weight_kg", "shipment.mass")

    def score(w_struct):
        m = CupidSchemaMatcher(w_struct=w_struct)
        return {
            (r["source"], r["target"]): r["similarity"]
            for r in m.scores(src, tgt).collect()
        }[probe]

    assert score(0.2) > score(1.0)


def _gdc_clinical(spark):
    """Three clinical columns whose values hit several GDC domains (so the
    value evidence is not empty), with padded values and a null."""
    return spark.createDataFrame(
        [
            ("hispanic or latino", "Stage IA", "female"),
            ("not hispanic or latino", " Stage IV ", "male"),
            ("Unknown", None, "unknown"),
            ("unknown", "Stage IA", "not reported"),
        ],
        ["Ethnicity", "FIGO_stage", "gender"],
    )


def _coma_scores(source, target):
    return get_schema_matcher("coma").scores(source, target)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n_ids", [0, 6000])
def test_coma_driver_form_matches_distributed(spark, n_ids):
    """Against a Standard, coma scores on the driver whatever the source's
    size (``n_ids`` adds an ID-like column of that many distinct values);
    the distributed kernels, which any DataFrame target runs, give
    identical rows. Handed the Standard, they read its vocabulary's long
    form, as they would unpivot its wide frame, but without 736 columns."""
    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.sources.standards import get_standard

    source = _gdc_clinical(spark)
    if n_ids:
        ids = spark.range(n_ids).select(
            F.concat(F.lit("case-"), F.col("id")).alias("case_id"),
            F.lit("hispanic or latino").alias("Ethnicity"),
            F.lit("Stage IA").alias("FIGO_stage"),
            F.lit("female").alias("gender"),
        )
        source = source.withColumn("case_id", F.lit("unknown")).unionByName(ids)
    gdc = get_standard("gdc")
    driver = _coma_scores(source, gdc)
    assert driver.isLocal()
    distributed = CompositeSchemaMatcher()._distributed_scores(source, gdc)
    assert not distributed.isLocal()
    got = _rows(driver)
    assert got == _rows(distributed)
    # the value evidence contributed: some pair scores above its name half
    names = dict(
        ((s, t), sim)
        for s, t, sim in _rows(get_schema_matcher("name_similarity").scores(source, gdc))
    )
    assert any(sim > 0.5 * names.get((s, t), 0.0) + 0.01 for s, t, sim in got)


def test_coma_numeric_pairs_take_distributed_path(spark):
    """Numeric source and target columns carry distribution evidence,
    which only the distributed kernels compute: a DataFrame target with
    numeric columns keeps its scores and matches."""
    source = spark.createDataFrame(
        [("a1", 1.0, 10), ("a2", 2.0, 20), ("a3", 3.0, 30), ("a4", 4.0, 40)],
        ["code", "dose", "age"],
    )
    target = spark.createDataFrame(
        [("a1", 12, 1.5), ("a2", 19, 2.5), ("b3", 31, 3.5), ("a4", 45, 4.5)],
        ["code_id", "age_years", "dose_mg"],
    )
    scores = _coma_scores(source, target)
    assert not scores.isLocal()
    assert _rows(scores) == [
        ("age", "age_years", 0.722589),
        ("age", "code_id", 0.014923),
        ("age", "dose_mg", 0.552814),
        ("code", "age_years", 0.019632),
        ("code", "code_id", 0.630687),
        ("code", "dose_mg", 0.058101),
        ("dose", "age_years", 0.511487),
        ("dose", "code_id", 0.079939),
        ("dose", "dose_mg", 0.811989),
    ]
    assert _rows(match_schema(source, target, method="coma")) == [
        ("age", "age_years"), ("code", "code_id"), ("dose", "dose_mg"),
    ]


def test_standard_target_never_builds_wide_frame(spark, monkeypatch):
    """A Standard is the matcher target itself: the driver-form coma, the
    embedding matcher's pair path, two-phase pruning and value matching
    read its names and vocabulary, never its 736-column wide frame."""
    from biomedical_data_integration_spark import match_values
    from biomedical_data_integration_spark.sources.standards import Standard

    def no_wide_frame(self, spark):
        raise AssertionError("to_wide_df called")

    monkeypatch.setattr(Standard, "to_wide_df", no_wide_frame)
    source = _gdc_clinical(spark)
    mapping = _rows(match_schema(source, "gdc", method="coma"))
    assert ("Ethnicity", "ethnicity") in mapping
    top = top_matches(source, target="gdc", method="ct_learning")
    assert {r["source"] for r in top.collect()} == set(source.columns)
    assert len(_rows(match_schema(source, "gdc", method="two_phase"))) == 3
    values = match_values(source, "gdc", [("Ethnicity", "ethnicity")], method="tfidf")
    assert values.where("target_value IS NOT NULL").count() > 0


def _stub_llm(messages):
    """A deterministic LLM stand-in: names two demo columns and one that
    the validation step must drop."""
    return "race; not_a_column; ethnicity"


def test_standard_and_its_wide_frame_give_same_matches(spark):
    """For every schema matcher, a Standard target and its wide frame
    passed as a plain DataFrame give the same rows from match_schema and
    top_matches: the wide frame is the reference the Standard's
    names-and-vocabulary reading must reproduce."""
    from biomedical_data_integration_spark.operators.schema_matching import (
        SCHEMA_MATCHERS,
    )
    from biomedical_data_integration_spark.sources.standards import get_standard

    std = get_standard("biomedical_demo")
    wide = std.to_wide_df(spark)
    source = spark.createDataFrame(
        [
            ("hispanic or latino", "Stage IA", "female", 41),
            ("not hispanic or latino", " Stage IV ", "male", 67),
            ("Unknown", None, "unknown", 55),
            ("unknown", "Stage IA", "not reported", 38),
        ],
        ["Ethnicity", "FIGO_stage", "gender", "age"],
    )
    for method in sorted(SCHEMA_MATCHERS):
        args = {"client": _stub_llm} if method == "gpt" else None
        for call in (
            lambda t: match_schema(source, t, method=method, method_args=args),
            lambda t: top_matches(
                source, target=t, top_k=3, method=method, method_args=args
            ),
        ):
            assert _rows(call(std)) == _rows(call(wide)), method
