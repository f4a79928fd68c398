"""Value-matching kernels (reference ``tests/test_value_matching.py`` and
the V-pipeline, SURVEY §2.1/§2.6)."""

import pytest
from pyspark.sql import functions as F

from biomedical_data_integration_spark import (
    match_values,
    split_value_matches,
    top_value_matches,
)


@pytest.fixture()
def fruits(spark):
    src = spark.createDataFrame(
        [("Red Apple",), ("Banana",), ("Oorange",), ("Strawberry",)], ["fruits"]
    )
    tgt = spark.createDataFrame(
        [("apple",), ("banana",), ("orange",), ("kiwi",)], ["fruit_names"]
    )
    return src, tgt


def test_edit_distance_fuzzy_fruits(fruits):
    """Mirrors the reference golden case: Oorange->orange matches;
    Strawberry has no close target (tests/test_value_matching.py:9-33)."""
    src, tgt = fruits
    out = match_values(
        src,
        tgt,
        [("fruits", "fruit_names")],
        method="edit_distance",
        threshold=0.5,
        method_args={"lowercase": True, "threshold": 0.5},
    ).collect()
    by_src = {r["source_value"]: r for r in out}
    assert by_src["Oorange"]["target_value"] == "orange"
    assert by_src["Oorange"]["similarity"] > 0.5
    assert by_src["Banana"]["target_value"] == "banana"
    assert by_src["Strawberry"]["target_value"] is None
    assert by_src["Strawberry"]["similarity"] is None
    # coverage carried as a plain column (no attrs in Spark, SURVEY §1.4)
    assert by_src["Banana"]["coverage"] == 0.75


def test_tfidf_matches_close_strings(fruits):
    src, tgt = fruits
    out = match_values(
        src, tgt, [("fruits", "fruit_names")], method="tfidf", threshold=0.3
    ).collect()
    by_src = {r["source_value"]: r for r in out}
    assert by_src["Oorange"]["target_value"] == "orange"
    assert by_src["Banana"]["target_value"] == "banana"


def test_top_value_matches_k_and_order(spark):
    src = spark.createDataFrame([("cat",)], ["a"])
    tgt = spark.createDataFrame([("cat",), ("cart",), ("car",), ("dog",)], ["b"])
    out = top_value_matches(
        src, tgt, [("a", "b")], top_k=3, method="edit_distance",
        threshold=0.1, method_args={"threshold": 0.1},
    )
    rows = out.orderBy(F.desc("similarity")).collect()
    assert [r["target_value"] for r in rows[:3]] == ["cat", "cart", "car"]
    assert rows[0]["similarity"] == 1.0
    assert len(rows) <= 3


def test_exact_matcher(spark):
    src = spark.createDataFrame([("A",), ("b",), ("C",)], ["x"])
    tgt = spark.createDataFrame([("A",), ("B",)], ["y"])
    out = match_values(src, tgt, [("x", "y")], method="exact").collect()
    by_src = {r["source_value"]: r["target_value"] for r in out}
    assert by_src == {"A": "A", "b": None, "C": None}
    lower = match_values(
        src, tgt, [("x", "y")], method="exact", method_args={"lowercase": True}
    ).collect()
    by_src = {r["source_value"]: r["target_value"] for r in lower}
    assert by_src == {"A": "A", "b": "B", "C": None}


def test_numeric_source_columns_skipped(spark):
    """Numeric columns are skipped for value matching (api.py:488-492)."""
    src = spark.createDataFrame([(1.5, "a")], ["num", "txt"])
    tgt = spark.createDataFrame([("a",), ("b",)], ["vals"])
    out = match_values(
        src, tgt, [("num", "vals"), ("txt", "vals")], method="exact"
    )
    pairs = {
        (r["source_column"], r["target_column"])
        for r in out.select("source_column", "target_column").distinct().collect()
    }
    assert pairs == {("txt", "vals")}


def test_multi_pair_single_job_and_split(spark):
    src = spark.createDataFrame([("a", "x")], ["c1", "c2"])
    tgt = spark.createDataFrame([("a", "x")], ["t1", "t2"])
    out = match_values(
        src, tgt, [("c1", "t1"), ("c2", "t2")], method="exact"
    )
    parts = split_value_matches(out)
    assert set(parts) == {("c1", "t1"), ("c2", "t2")}
    assert parts[("c1", "t1")].first()["target_value"] == "a"


def test_values_reported_in_original_representation(spark):
    """Stripped-string matching maps back to original values
    (api.py:360-379)."""
    src = spark.createDataFrame([("  apple  ",)], ["x"])
    tgt = spark.createDataFrame([("apple",)], ["y"])
    out = match_values(src, tgt, [("x", "y")], method="exact").collect()
    assert out[0]["source_value"] == "  apple  "
    assert out[0]["target_value"] == "apple"
    assert out[0]["similarity"] == 1.0


def test_standard_as_target(spark):
    src = spark.createDataFrame(
        [("hispanic or latino",), ("unknwn",)], ["Ethnicity"]
    )
    out = match_values(
        src, "gdc", [("Ethnicity", "ethnicity")], method="tfidf"
    ).collect()
    by_src = {r["source_value"]: r["target_value"] for r in out}
    assert by_src["hispanic or latino"] == "hispanic or latino"
    # The real GDC ethnicity domain contains BOTH "Unknown" and "unknown";
    # they tie after lowercasing and the total-order tiebreaker
    # (target_value ASC) deterministically picks "Unknown".
    assert by_src["unknwn"] == "Unknown"


def test_embedding_matcher_small_domain_exact(spark):
    src = spark.createDataFrame(
        [("automobile",), ("autmobile",), ("machines",)], ["seg"]
    )
    tgt = spark.createDataFrame(
        [("automobile",), ("machines",), ("furniture",)], ["segment"]
    )
    out = match_values(
        src, tgt, [("seg", "segment")], method="embedding", threshold=0.5
    ).collect()
    by_src = {r["source_value"]: r["target_value"] for r in out}
    assert by_src["automobile"] == "automobile"
    assert by_src["autmobile"] == "automobile"  # near-dup survives hashing
    assert by_src["machines"] == "machines"


def test_embedding_matcher_gates_to_lsh_blocking(spark):
    """Above block_threshold candidate pairs the join must carry the LSH
    bucket key; blocked results are a subset of the exact all-pairs run."""
    from biomedical_data_integration_spark.operators.value_matching import (
        EmbeddingValueMatcher,
        source_value_domain,
        target_value_domain,
    )

    src_df = spark.createDataFrame([(f"value {i}",) for i in range(30)], ["x"])
    tgt_df = spark.createDataFrame([(f"value {i}",) for i in range(0, 60, 2)], ["y"])
    pairs = [("x", "y")]
    s = source_value_domain(src_df, pairs)
    t = target_value_domain(spark, tgt_df, pairs)

    exact = EmbeddingValueMatcher(block_threshold=None).similarities(s, t)
    blocked = EmbeddingValueMatcher(block_threshold=10).similarities(s, t)
    plan = blocked._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan
    plan_exact = exact._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" not in plan_exact

    ekeys = {(r["skey"], r["target_value"], r["similarity"]) for r in exact.collect()}
    bkeys = {(r["skey"], r["target_value"], r["similarity"]) for r in blocked.collect()}
    assert bkeys <= ekeys
    # identical strings share a bucket by construction -> exact hits survive
    assert {("value 0", "value 0"), ("value 8", "value 8")} <= {
        (s_, t_) for s_, t_, _ in bkeys
    }


def test_unknown_method_raises(spark):
    src = spark.createDataFrame([("a",)], ["x"])
    tgt = spark.createDataFrame([("a",)], ["y"])
    with pytest.raises(ValueError, match="not supported"):
        match_values(src, tgt, [("x", "y")], method="bogus")


def test_gpt_value_matcher_pipeline_with_fake_client(spark):
    """Scripted-client test: prompt per distinct source value, dict-literal
    parsing (the reference's broken-intent path), membership validation,
    threshold applied by the pipeline."""
    from biomedical_data_integration_spark.operators.value_matching import (
        GptValueMatcher,
    )

    calls = []

    def fake_client(messages):
        term = messages[1]["content"].split('"')[1]
        calls.append(term)
        if term == "hispanc":
            return '{"term": "hispanic or latino", "score": 0.9}'
        if term == "unknwn":
            return '{"term": "not in the list", "score": 0.99}'  # invalid
        if term == "asian":
            return "sorry, I cannot help"  # malformed -> dropped w/ warning
        return '{"term": "white", "score": 0.2}'  # below threshold

    src = spark.createDataFrame(
        [("hispanc",), ("unknwn",), ("asian",), ("whte",)], ["Ethnicity"]
    )
    tgt = spark.createDataFrame(
        [("hispanic or latino",), ("white",), ("asian",)], ["ethnicity"]
    )
    out = match_values(
        src, tgt, [("Ethnicity", "ethnicity")],
        method=GptValueMatcher(client=fake_client), threshold=0.5,
    ).collect()
    by_src = {r["source_value"]: (r["target_value"], r["similarity"]) for r in out}
    assert by_src["hispanc"] == ("hispanic or latino", 0.9)
    assert by_src["unknwn"] == (None, None)   # invalid term -> unmatched
    assert by_src["asian"] == (None, None)    # malformed -> unmatched
    assert by_src["whte"] == (None, None)     # 0.2 < threshold -> unmatched
    assert sorted(calls) == ["asian", "hispanc", "unknwn", "whte"]


def test_gpt_value_matcher_prompts_built_distributed(spark, monkeypatch):
    """Prompt assembly happens executor-side: similarities() performs
    exactly ONE driver collect (of the finished prompts), never collecting
    the raw source/target domains to render prompts on the driver."""
    # patch the CONCRETE class: pyspark.sql.DataFrame is an abstract facade
    # in PySpark 4 and its collect is overridden by the classic session
    from pyspark.sql.classic.dataframe import DataFrame

    from biomedical_data_integration_spark.operators.value_matching import (
        GptValueMatcher,
    )

    src = spark.createDataFrame(
        [("Ethnicity", "ethnicity", "hispanc"), ("Ethnicity", "ethnicity", "whte")],
        ["source_column", "target_column", "skey"],
    )
    tgt = spark.createDataFrame(
        [
            ("Ethnicity", "ethnicity", "white", "white"),
            ("Ethnicity", "ethnicity", "hispanic or latino", "hispanic or latino"),
        ],
        ["source_column", "target_column", "tkey", "target_value"],
    )

    m = GptValueMatcher(client=lambda messages: '{"term": "white", "score": 0.7}')

    # the prompts frame carries the exact messages _prompt would build
    import json

    rows = {r["skey"]: r for r in m.prompts(src, tgt).collect()}
    want = GptValueMatcher._prompt("hispanc", ["hispanic or latino", "white"])
    assert json.loads(rows["hispanc"]["prompt"]) == want
    assert list(rows["hispanc"]["targets"]) == ["hispanic or latino", "white"]

    # exactly one collect in similarities()
    n_collects = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        n_collects.append(1)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    out = m.similarities(src, tgt)
    assert len(n_collects) == 1
    monkeypatch.undo()
    got = {(r["skey"], r["target_value"], r["similarity"]) for r in out.collect()}
    assert got == {("hispanc", "white", 0.7), ("whte", "white", 0.7)}


def test_gpt_value_matcher_requires_client(spark):
    from biomedical_data_integration_spark.operators.value_matching import (
        GptValueMatcher,
    )

    src = spark.createDataFrame([("a",)], ["x"])
    with pytest.raises(NotImplementedError, match="client"):
        match_values(src, src.withColumnRenamed("x", "y"), [("x", "y")],
                     method=GptValueMatcher())


def test_embedding_matcher_with_transformer_text_embedder(spark):
    """The reference's real-model 'embedding'/'fasttext' path: a
    transformer-backed value embedder plugged into the matcher; the model
    is faked, the UDF/join plumbing is real."""
    from biomedical_data_integration_spark.models import TransformerTextEmbedder
    from biomedical_data_integration_spark.operators.value_matching import (
        EmbeddingValueMatcher,
    )

    def fake_encode(batch):
        # unit vectors: same first letter -> identical embedding
        return [
            [1.0, 0.0] if s.startswith("a") else [0.0, 1.0] for s in batch
        ]

    emb = TransformerTextEmbedder(dim=2, batch_size=2, encode_fn=fake_encode)
    src = spark.createDataFrame([("apple",), ("banana",)], ["x"])
    tgt = spark.createDataFrame([("apricot",), ("berry",)], ["y"])
    out = match_values(
        src, tgt, [("x", "y")],
        method=EmbeddingValueMatcher(embedder=emb), threshold=0.9,
    ).collect()
    by_src = {r["source_value"]: r["target_value"] for r in out}
    assert by_src == {"apple": "apricot", "banana": "berry"}


def test_standard_target_domain_matches_dataframe_target_domain(spark):
    """A Standard's domain is deduplicated on the driver; it must equal
    the distributed trim/min(orig) domain of the same values."""
    from biomedical_data_integration_spark import DictStandard
    from biomedical_data_integration_spark.operators.value_matching import (
        target_value_domain,
    )

    values = ["a", " a", "a ", "B", "b", "é", "é", "  "]
    std = DictStandard({"t": {"values": {v: "" for v in values}}})
    tgt_df = spark.createDataFrame([(v,) for v in values], ["t"])
    pairs = [("s1", "t"), ("s2", "t")]
    cols = ["source_column", "target_column", "tkey", "target_value"]
    local = target_value_domain(spark, std, pairs)
    assert local.isLocal()
    got = sorted(tuple(r) for r in local.select(cols).collect())
    want = sorted(
        tuple(r) for r in target_value_domain(spark, tgt_df, pairs).select(cols).collect()
    )
    assert got == want


def _clinical(spark):
    return spark.createDataFrame(
        [
            ("hispanic or latino", "Stage IA"),
            ("not hispanic", "stage ia"),
            ("unknown", None),
            ("Hispanic", "Stage IV"),
        ],
        ["Ethnicity", "FIGO_stage"],
    )


def _jobs_in(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_harmonization_job_counts(spark):
    """Regression bound on Spark jobs along match_schema -> match_values
    (tfidf) against GDC. Driver-built relations are LocalRelations, so
    collecting match_schema's result runs no job, and the driver-sized
    tfidf path reads each domain once (the GDC side with no job). Both
    steps finish on the driver: coma's only query reads the source's
    per-column value counts and vocabulary hits (two shuffle stages, the
    vocabulary broadcast and the result stage), and match_values returns
    a local frame."""
    from biomedical_data_integration_spark import match_schema

    clinical = _clinical(spark)
    sm, n_sm_call = _jobs_in(
        spark,
        "bdi_jobs_sm",
        lambda: match_schema(clinical, "gdc", method="coma"),
    )
    rows, n_sm = _jobs_in(spark, "bdi_jobs_sm_collect", sm.collect)
    mapping = sorted((r["source"], r["target"]) for r in rows if r["target"])
    assert mapping == [("Ethnicity", "ethnicity"), ("FIGO_stage", "figo_stage")]
    vm, n_vm = _jobs_in(
        spark,
        "bdi_jobs_mv",
        lambda: match_values(clinical, "gdc", mapping, method="tfidf"),
    )
    vrows, n_vm_collect = _jobs_in(spark, "bdi_jobs_mv_collect", vm.collect)
    assert len(vrows) == 7
    assert n_sm_call <= 4
    assert n_sm == 0
    assert n_vm <= 4
    assert n_vm_collect == 0


@pytest.mark.parametrize("target", ["gdc", "dataframe"])
def test_match_values_leaves_no_cached_domains(spark, target):
    """The driver-sized path releases both persisted domains: repeated
    calls in one session must not grow the persistent-RDD set. (Compared
    by RDD id, not by count: the context cleaner may drop earlier tests'
    RDDs meanwhile.)"""
    clinical = _clinical(spark)
    if target == "dataframe":
        target = spark.createDataFrame(
            [("Hispanic or Latino", "Stage I"), ("Unknown", "Stage IV")],
            ["ethnicity", "figo_stage"],
        )
    mapping = [("Ethnicity", "ethnicity"), ("FIGO_stage", "figo_stage")]
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    for _ in range(3):
        match_values(clinical, target, mapping, method="tfidf").collect()
        assert persisted() - before == set()


def test_match_schema_coma_leaves_no_pins(spark):
    """coma against a Standard scores on the driver and pins nothing:
    repeated calls must not grow the persistent-RDD set (compared by id,
    as above)."""
    from biomedical_data_integration_spark import match_schema

    clinical = _clinical(spark)
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet())

    before = persisted()
    for _ in range(3):
        match_schema(clinical, "gdc", method="coma").collect()
        assert persisted() - before == set()


def _pipeline_data(spark):
    """Two mapped pairs with ties at equal similarity ("Apple"/"apple"
    and "banana"/"Banana " clean to the same string), padded source
    values, a null, and values that match nothing."""
    src = spark.createDataFrame(
        [
            ("apple", "carrot"),
            ("aple", "onion"),
            (" apple ", "onion"),
            ("Banana", None),
            ("kiwi fruit", "zzz"),
            ("qqq", "carrot"),
            (None, "Carrots"),
        ],
        ["fruit", "veg"],
    )
    tgt = spark.createDataFrame(
        [
            ("Apple", "Carrot"),
            ("apple", "carrots"),
            ("banana", "Onion"),
            ("Banana ", "onions"),
            ("kiwi", None),
        ],
        ["fruit_t", "veg_t"],
    )
    return src, tgt, [("fruit", "fruit_t"), ("veg", "veg_t")]


@pytest.mark.parametrize(
    "top_k,include_unmatched", [(0, True), (1, True), (2, True), (2, False)]
)
def test_driver_finished_pipeline_matches_distributed(
    spark, top_k, include_unmatched
):
    """The driver-sized pipeline (threshold, round, top-k, left attach,
    coverage in Python) returns the distributed pipeline's rows, with the
    threshold set exactly at one pair's raw similarity."""
    from collections import Counter

    from biomedical_data_integration_spark.operators.value_matching import (
        TfIdfValueMatcher,
        match_values_pipeline,
        source_value_domain,
        target_value_domain,
    )

    src, tgt, pairs = _pipeline_data(spark)
    raw = {
        (skey, tval): sim
        for _, _, skey, tval, sim in TfIdfValueMatcher().local_similarities(
            source_value_domain(src, pairs).collect(),
            target_value_domain(spark, tgt, pairs).collect(),
        )
    }
    threshold = raw[("aple", "apple")]
    assert threshold == raw[("aple", "Apple")] < 1.0

    def run(**method_args):
        return match_values_pipeline(
            src, tgt, pairs, method="tfidf", top_k=top_k,
            threshold=threshold, include_unmatched=include_unmatched,
            method_args=method_args,
        )

    driver = run()
    distributed = run(local_domain_limit=None)
    assert driver.isLocal() and not distributed.isLocal()
    got = Counter(tuple(r) for r in driver.collect())
    assert got == Counter(tuple(r) for r in distributed.collect())

    by_value = {}
    for sc, _, sval, tval, sim, cov in got:
        by_value.setdefault((sc, sval), []).append(tval)
    # the at-threshold pair is kept; ties order by target_value
    want = ["Apple", "apple"][:top_k] or [None]
    assert sorted(by_value[("fruit", "aple")]) == want
    if include_unmatched:
        assert by_value[("fruit", "qqq")] == [None]
    else:
        assert all(None not in v for v in by_value.values())
    coverage = {(sc, tc): cov for sc, tc, _, _, _, cov in got}
    assert (0.0 < coverage[("fruit", "fruit_t")] < 1.0) == (top_k > 0)
