"""Kernel-selection policy: boundary behavior of every switch, plus
operator wiring tests proving each operator actually flips kernels at
its policy boundary (not just that the policy function exists)."""

import pytest

from biomedical_data_integration_spark import planning


def test_policy_boundaries_flip_exactly_at_the_limit():
    assert planning.value_match_kernel(2500, 2500) == "local"
    assert planning.value_match_kernel(2500, 2501) == "distributed"
    assert planning.pair_blocking_kernel(1000, 2000) == "exact"
    assert planning.pair_blocking_kernel(1000, 2001) == "lsh"
    assert planning.ann_pair_kernel(20_000) == "brute"
    assert planning.ann_pair_kernel(20_001) == "lsh"
    assert planning.components_kernel(1_000_000) == "driver"
    assert planning.components_kernel(1_000_001) == "distributed"
    assert planning.dict_mapper_kernel(10_000) == "literal"
    assert planning.dict_mapper_kernel(10_001) == "broadcast_join"
    assert planning.semdedup_kernel(20_000) == "flat"
    assert planning.semdedup_kernel(20_001) == "two_level"
    assert planning.rank_cumsum_kernel(4_000_000) == "window"
    assert planning.rank_cumsum_kernel(4_000_001) == "bucketed"
    assert planning.seeding_kernel(20) == "maxmin"
    assert planning.seeding_kernel(21) == "parallel"


def test_policy_limit_overrides():
    assert planning.value_match_kernel(3, 3, limit=5) == "distributed"
    assert planning.pair_blocking_kernel(2, 3, limit=6) == "exact"
    assert planning.ann_pair_kernel(7, limit=6) == "lsh"
    assert planning.components_kernel(9, limit=9) == "driver"
    assert planning.dict_mapper_kernel(4, limit=3) == "broadcast_join"
    assert planning.semdedup_kernel(5, limit=4) == "two_level"
    assert planning.seeding_kernel(4, limit=3) == "parallel"


def test_semantic_dedup_auto_k_routes_through_two_level(spark):
    """semantic_dedup(k=None) past the flat limit must return the
    two-level survivors remapped to the flat (id, cluster) surface —
    and an explicit k must stay flat regardless of the limit."""
    import pyspark.sql.functions as F

    from biomedical_data_integration_spark.operators.clustering import (
        semantic_dedup,
        semantic_dedup_two_level,
    )

    rows = [
        (i, [float(i % 9), float((i * 3) % 7), float(i) / 40.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    routed = semantic_dedup(
        df, k=None, max_iter=1, target_cluster_size=5, flat_limit=10
    )
    assert routed.columns == ["vec_id", "cluster"]
    # k = ceil(40/5) = 8 -> k1 = 3, k2 = 3: cluster = coarse*3 + sub
    direct = semantic_dedup_two_level(
        df, max_iter=1, target_cluster_size=5
    ).select(
        "vec_id",
        (F.col("coarse") * 3 + F.col("sub")).cast("int").alias("cluster"),
    )
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # below the limit: byte-identical to the explicit flat fit
    flat = semantic_dedup(
        df, k=None, max_iter=1, target_cluster_size=5, flat_limit=100
    )
    explicit = semantic_dedup(df, k=8, max_iter=1)
    assert sorted(map(tuple, flat.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def _domains(spark, n_src, n_tgt):
    """Distinct value domains shaped like the V-pipeline feeds matchers."""
    from pyspark.sql import functions as F

    src = spark.range(n_src).select(
        F.lit("c1").alias("source_column"),
        F.lit("t1").alias("target_column"),
        F.concat(F.lit("sv"), F.col("id")).alias("skey"),
    )
    tgt = spark.range(n_tgt).select(
        F.lit("c1").alias("source_column"),
        F.lit("t1").alias("target_column"),
        F.concat(F.lit("sv"), F.col("id")).alias("tkey"),
        F.concat(F.lit("sv"), F.col("id")).alias("target_value"),
    )
    return src, tgt


def test_tfidf_switches_local_to_distributed_at_boundary(spark):
    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.value_matching import (
        TfIdfValueMatcher,
        match_values_pipeline,
    )

    # combined domain 8 (4 source + 4 target values): limit 8 -> the
    # pipeline finishes on the driver (a local frame, no Exchange);
    # limit 7 -> the distributed kernel (shuffled term-sharing join)
    src = spark.range(4).select(F.concat(F.lit("sv"), F.col("id")).alias("c1"))
    tgt = spark.range(4).select(F.concat(F.lit("sv"), F.col("id")).alias("t1"))

    def run(limit):
        return match_values_pipeline(
            src, tgt, [("c1", "t1")], method="tfidf",
            method_args={"local_domain_limit": limit},
        )

    local, dist = run(8), run(7)
    local_plan = local._jdf.queryExecution().executedPlan().toString()
    dist_plan = dist._jdf.queryExecution().executedPlan().toString()
    assert local.isLocal() and "Exchange" not in local_plan
    assert "Exchange" in dist_plan
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, dist.collect()))

    # both kernels produce the same similarities
    s, t = _domains(spark, 4, 4)
    m = TfIdfValueMatcher()
    a = {
        (skey, tval): round(sim, 6)
        for _, _, skey, tval, sim in m.local_similarities(s.collect(), t.collect())
    }
    b = {
        (r["skey"], r["target_value"]): round(r["similarity"], 6)
        for r in m.similarities(s, t).collect()
    }
    assert a == b


def test_embedding_value_matcher_blocks_above_pair_limit(spark):
    from biomedical_data_integration_spark.operators.value_matching import (
        EmbeddingValueMatcher,
    )

    src, tgt = _domains(spark, 4, 5)
    exact = EmbeddingValueMatcher(block_threshold=20).similarities(src, tgt)
    blocked = EmbeddingValueMatcher(block_threshold=19).similarities(src, tgt)
    assert "__bucket" not in exact._jdf.queryExecution().analyzed().toString()
    assert "__bucket" in blocked._jdf.queryExecution().analyzed().toString()
    # exact path scores the full 4x5 product
    assert exact.count() == 20


def test_embedding_cosine_pairs_gates_on_vector_count(spark):
    from biomedical_data_integration_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    rows = [(i, [float(i % 3), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    brute = embedding_cosine_pairs(
        df, id_col="vec_id", threshold=0.99, brute_threshold=10
    )
    lsh = embedding_cosine_pairs(
        df, id_col="vec_id", threshold=0.99, brute_threshold=9
    )
    assert "bucket" not in brute._jdf.queryExecution().analyzed().toString()
    assert "bucket" in lsh._jdf.queryExecution().analyzed().toString()


def test_duplicate_clusters_switch_produces_same_labels(spark):
    from biomedical_data_integration_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_a bigint, id_b bigint"
    )
    # 5 edges: driver path at the limit, distributed path just under it
    drv = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(pairs, driver_threshold=5).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in duplicate_clusters(pairs, driver_threshold=4).collect()
    }
    assert drv == dist
    assert (3, 1) in drv and (22, 20) in drv


def test_dictionary_mapper_consults_policy(monkeypatch):
    from biomedical_data_integration_spark.plans.mappers import DictionaryMapper

    big = DictionaryMapper({str(i): str(i) for i in range(11)})
    small = DictionaryMapper({"a": "b"})
    monkeypatch.setattr(planning, "LITERAL_DICT_LIMIT", 10)
    assert big.is_large() and not small.is_large()
    with pytest.raises(ValueError, match="literal"):
        big.expr("c")
