"""Tests for operators/clustering.py (kmeans + semantic_dedup)."""

import pytest
from pyspark.sql import functions as F

from biomedical_data_integration_spark.operators.clustering import (
    kmeans,
    semantic_dedup,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_two_blobs(spark):
    # two tight blobs far apart; k=2 seeded from the two lowest ids, one in
    # each blob -> assignment must recover the blobs exactly
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [0.1, -0.1]),
        (3, [9.9, 10.1]),
        (4, [-0.2, 0.1]),
        (5, [10.2, 9.8]),
    ]
    assigned, cents = kmeans(_vecs(spark, rows), k=2, max_iter=3)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}
    # centroids converge to the blob means (rounded)
    assert cents[0] == pytest.approx([-0.033333, 0.0], abs=1e-6)
    assert cents[1] == pytest.approx([10.033333, 9.966667], abs=1e-6)


def test_kmeans_deterministic(spark):
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4)]) for i in range(40)]
    df = _vecs(spark, rows)
    a1, c1 = kmeans(df, k=4, max_iter=2)
    a2, c2 = kmeans(df, k=4, max_iter=2)
    assert c1 == c2
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, a2.collect()))


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # k=3 but only two distinct locations: the seed centroid that loses
    # all members must survive unchanged, not crash or go NaN
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.1]),
        (2, [8.0, 8.0]),
        (3, [0.1, 0.0]),
        (4, [8.1, 8.0]),
    ]
    assigned, cents = kmeans(_vecs(spark, rows), k=3, max_iter=2)
    assert len(cents) == 3
    assert all(all(c == c for c in vec) for vec in cents)  # no NaN
    n_clusters = assigned.select("cluster").distinct().count()
    assert n_clusters <= 3


def test_kmeans_needs_k_rows(spark):
    with pytest.raises(ValueError, match="at least k"):
        kmeans(_vecs(spark, [(0, [1.0, 2.0])]), k=5)


def test_semantic_dedup_drops_near_duplicates(spark):
    # 1 and 3 are near-identical to 0 (same direction); 2 is orthogonal
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.001]),
        (2, [0.0, 1.0]),
        (3, [1.001, -0.001]),
    ]
    kept = semantic_dedup(
        _vecs(spark, rows), k=2, max_iter=2, threshold=0.99
    )
    ids = sorted(r["vec_id"] for r in kept.collect())
    assert ids == [0, 2]  # lowest id per near-dup group survives


def test_semantic_dedup_cross_cluster_pairs_not_compared(spark):
    # identical vectors forced into different clusters are NOT deduped:
    # the cluster id is the blocking key by design
    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [10.0, 10.0]),
    ]
    # k=2 seeds at ids 0 and 1 -> 1,2 share a cluster and dedup; if
    # blocking were ignored nothing changes here, so also check survivors
    kept = semantic_dedup(_vecs(spark, rows), k=2, max_iter=1, threshold=0.99)
    ids = sorted(r["vec_id"] for r in kept.collect())
    assert ids == [0, 1]


def test_semantic_dedup_auto_k_derives_from_cluster_size(spark):
    rows = [(i, [float(i % 7), float(i % 3)]) for i in range(30)]
    kept = semantic_dedup(
        _vecs(spark, rows), k=None, max_iter=1, threshold=1.1,
        target_cluster_size=10,
    )
    # threshold > 1 means nothing dedups; k should be ceil(30/10)=3
    assert kept.count() == 30
    assert kept.select("cluster").distinct().count() <= 3


def test_assign_clusters_streaming_face(spark):
    import tempfile

    from biomedical_data_integration_spark.operators.clustering import (
        assign_clusters,
    )

    batch = _vecs(
        spark,
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.2, 0.1]), (3, [9.8, 10.0])],
    )
    cents = [[0.0, 0.0], [10.0, 10.0]]
    # batch face
    got = {r["vec_id"]: r["cluster"] for r in assign_clusters(batch, cents).collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}
    # streaming face: same expression on readStream, no state required
    with tempfile.TemporaryDirectory() as d:
        src, ckpt = f"{d}/in", f"{d}/ckpt"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out = assign_clusters(stream, cents)
        assert out.isStreaming
        sq = (
            out.writeStream.format("memory")
            .queryName("assign_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        sq.processAllAvailable()
        sq.stop()
        srows = {
            r["vec_id"]: r["cluster"]
            for r in spark.sql("select * from assign_test").collect()
        }
        assert srows == got


# ---------------------------------------------------------------------------
# property-based equivalence: kmeans vs an independent numpy replay
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _replay_kmeans(rows, k, iters, scale=6):
    """Reference Lloyd's with the engine's determinism contract, written
    against numpy instead of Spark."""
    import numpy as np

    ids = sorted(r[0] for r in rows)
    vecs = {r[0]: np.array(r[1], dtype="float64") for r in rows}
    cents = [vecs[i].copy() for i in ids[:k]]

    def assign():
        out = {}
        for i in ids:
            d = [round(float(((vecs[i] - c) ** 2).sum()), scale) for c in cents]
            out[i] = min(range(k), key=lambda j: (d[j], j))
        return out

    for _ in range(iters):
        a = assign()
        for j in range(k):
            members = [vecs[i] for i in ids if a[i] == j]
            if members:
                cents[j] = np.array(
                    [round(float(x), scale) for x in np.mean(members, axis=0)]
                )
    return assign()


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.tuples(
                st.integers(min_value=-8, max_value=8),
                st.integers(min_value=-8, max_value=8),
            ),
        ),
        min_size=4,
        max_size=25,
        unique_by=lambda r: r[0],
    )
)
def test_kmeans_matches_numpy_replay(spark, rows):
    data = [(i, [float(a), float(b)]) for i, (a, b) in rows]
    k = min(3, len(data))
    got_df, _ = kmeans(_vecs(spark, data), k=k, max_iter=2)
    got = {r["vec_id"]: r["cluster"] for r in got_df.collect()}
    assert got == _replay_kmeans(data, k, 2)


def test_kmeans_maxmin_seeding_recovers_spread_blobs(spark):
    # the three lowest ids all sit in blob A: lowest_id seeding starts all
    # seeds there, maxmin spreads seeds across blobs by construction
    rows = [
        (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
        (3, [50.0, 50.0]), (4, [50.1, 50.0]),
        (5, [-50.0, 50.0]), (6, [-50.1, 50.1]),
    ]
    df = _vecs(spark, rows)
    _, seeds = kmeans(df, k=3, max_iter=0, init="maxmin")
    # seed set = one per blob: (0,0), (50,50)-ish, (-50,50)-ish
    blobs = {(round(s[0] / 50), round(s[1] / 50)) for s in seeds}
    assert blobs == {(0, 0), (1, 1), (-1, 1)}
    # deterministic
    _, seeds2 = kmeans(df, k=3, max_iter=0, init="maxmin")
    assert seeds == seeds2


def test_kmeans_parallel_seeding_spreads_and_replays(spark):
    """k-means‖ (init='parallel'): deterministic replay (hash-gated
    coins, no RNG state), k distinct seeds, and blob coverage on the
    same clumped fixture maxmin handles — with a scan count FLAT in k
    (the point of the variant; curve in PERF_NOTES)."""
    import random

    random.seed(7)
    rows = []
    # three far blobs, 60 points each, ids interleaved so lowest ids
    # do NOT span the blobs
    for i in range(180):
        cx, cy = [(0.0, 0.0), (50.0, 50.0), (-50.0, 50.0)][i % 3]
        rows.append(
            (i, [cx + random.uniform(-1, 1), cy + random.uniform(-1, 1)])
        )
    df = _vecs(spark, rows)
    assigned, seeds = kmeans(df, k=3, max_iter=1, init="parallel")
    assert len(seeds) == 3 and len({tuple(s) for s in seeds}) == 3
    blobs = {(round(s[0] / 50), round(s[1] / 50)) for s in seeds}
    assert blobs == {(0, 0), (1, 1), (-1, 1)}
    # deterministic end-to-end: seeds AND assignments replay bit-equal
    assigned2, seeds2 = kmeans(df, k=3, max_iter=1, init="parallel")
    assert seeds == seeds2
    assert sorted(map(tuple, assigned.collect())) == sorted(
        map(tuple, assigned2.collect())
    )


def test_kmeans_parallel_tiny_input_tops_up(spark):
    # n barely >= k: sampling may harvest < k candidates; the lowest-id
    # top-up must keep the fit total instead of failing
    rows = [(i, [float(i), 0.0]) for i in range(4)]
    df = _vecs(spark, rows)
    _, seeds = kmeans(df, k=4, max_iter=1, init="parallel")
    assert len(seeds) == 4 and len({tuple(s) for s in seeds}) == 4
    with pytest.raises(ValueError, match="at least k"):
        kmeans(df, k=5, init="parallel")


def test_kmeans_rejects_unknown_init(spark):
    with pytest.raises(ValueError, match="init"):
        kmeans(_vecs(spark, [(0, [1.0, 1.0]), (1, [2.0, 2.0])]), k=2,
               init="random")


def test_kmeans_maxmin_needs_k_rows(spark):
    with pytest.raises(ValueError, match="at least k"):
        kmeans(_vecs(spark, [(0, [1.0, 1.0]), (1, [2.0, 2.0])]), k=5,
               init="maxmin")


def test_kmeans_maxmin_ignores_null_vectors(spark):
    from biomedical_data_integration_spark.operators.clustering import kmeans

    rows = [
        (1, [0.0, 0.0]),
        (2, None),  # must not poison the farthest-point ordering
        (3, [10.0, 10.0]),
        (4, [0.1, 0.1]),
        (5, [10.1, 10.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    assigned, cents = kmeans(df, k=2, max_iter=2, init="maxmin")
    assert len(cents) == 2
    # the two seeds span the blobs, not a degenerate null row
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got[1] == got[4] and got[3] == got[5] and got[1] != got[3]


def test_kmeans_maxmin_raises_on_duplicate_seeds(spark):
    import pytest as _pytest

    from biomedical_data_integration_spark.operators.clustering import kmeans

    # only 2 distinct vectors but k=3: the third farthest-point scan finds
    # max-min distance 0 and must refuse rather than duplicate a seed
    rows = [(i, [float(i % 2), 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="distinct"):
        kmeans(df, k=3, max_iter=1, init="maxmin")


# ---------------------------------------------------------------------------
# PCA: integer covariance + quantized power iteration
# ---------------------------------------------------------------------------


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(5)
    X = rng.uniform(-1, 1, (300, 6))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<double>",
    )
    from biomedical_data_integration_spark.operators.clustering import (
        embedding_covariance,
    )

    out = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(df).collect()}
    Q = np.floor(X * 1e6 + 0.5)
    C = np.cov(Q.T, ddof=1) / 1e12
    assert len(out) == 21  # upper triangle of 6x6
    for (i, j), v in out.items():
        assert abs(v - C[i, j]) < 2e-6, (i, j)


def test_pca_top_component_spiked_data(spark):
    import numpy as np

    # strong rank-1 spike along a known direction -> fast convergence
    rng = np.random.RandomState(9)
    d = np.array([3.0, -2.0, 1.0, 0.5])
    d = d / np.linalg.norm(d)
    X = np.outer(rng.normal(0, 5.0, 400), d) + rng.normal(0, 0.1, (400, 4))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id bigint, embedding array<double>",
    )
    from biomedical_data_integration_spark.operators.clustering import (
        pca_project,
        pca_top_component,
    )

    rows = sorted(pca_top_component(df).collect(), key=lambda r: r["idx"])
    v = np.array([r["loading"] for r in rows])
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    assert abs(abs(float(np.dot(v, d))) - 1.0) < 1e-3
    # sign convention: the largest-|loading| entry is positive
    assert v[np.argmax(np.abs(v))] > 0
    # eigenvalue ~ spike variance (25) + noise
    assert 20.0 < rows[0]["eigenvalue"] < 30.0
    # projection is the literal dot product
    proj = pca_project(df, [float(x) for x in v]).collect()
    ref = X @ v
    got = {r["vec_id"]: r["pc1"] for r in proj}
    for i in range(0, 400, 97):
        assert abs(got[i] - ref[i]) < 1e-4


def test_pca_deterministic_across_partitionings(spark):
    import numpy as np

    rng = np.random.RandomState(2)
    X = rng.uniform(-1, 1, (120, 5))
    rows = [(i, [float(x) for x in r]) for i, r in enumerate(X)]
    from biomedical_data_integration_spark.operators.clustering import (
        pca_top_component,
    )

    a = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    b = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(17)
    la = [r["loading"] for r in sorted(pca_top_component(a).collect(), key=lambda r: r["idx"])]
    lb = [r["loading"] for r in sorted(pca_top_component(b).collect(), key=lambda r: r["idx"])]
    assert la == lb  # exact equality: integer pipeline end to end


def test_embedding_centroid_drift_identical_corpora(spark):
    import numpy as np

    from biomedical_data_integration_spark.operators.clustering import (
        embedding_centroid_drift,
    )

    rng = np.random.RandomState(7)
    vecs = [(i, [float(x) for x in rng.randn(8)]) for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    r = embedding_centroid_drift(df, df).collect()[0]
    assert r["centroid_cosine"] == 1.0
    assert r["n_a"] == r["n_b"] == 20
    assert abs(r["centroid_norm_a"] - r["centroid_norm_b"]) < 1e-9
    # numpy parity on the norm
    mean = np.mean([v for _, v in vecs], axis=0)
    # quantization first, like the operator
    q = np.floor(np.array([v for _, v in vecs]) * 1e6 + 0.5)
    ref_norm = np.sqrt((q.sum(axis=0) ** 2).sum()) / (20 * 1e6)
    assert abs(r["centroid_norm_a"] - ref_norm) < 1e-6


def test_embedding_centroid_drift_opposed_and_partition_invariance(spark):
    import numpy as np

    from biomedical_data_integration_spark.operators.clustering import (
        embedding_centroid_drift,
    )

    a = [(i, [1.0, 0.0, 2.0]) for i in range(5)]
    b = [(i, [-1.0, 0.0, -2.0]) for i in range(7)]
    da = spark.createDataFrame(a, "vec_id bigint, embedding array<double>")
    db = spark.createDataFrame(b, "vec_id bigint, embedding array<double>")
    r = embedding_centroid_drift(da, db).collect()[0]
    assert r["centroid_cosine"] == -1.0
    # repartitioning must not change a single output digit
    r2 = embedding_centroid_drift(
        da.repartition(13), db.repartition(3)
    ).collect()[0]
    assert r == r2


def test_kmeans_two_level_refines_coarse(spark):
    from biomedical_data_integration_spark.operators.clustering import (
        kmeans,
        kmeans_two_level,
    )

    # four obvious 2-D blobs: coarse split left/right, sub split up/down
    pts = []
    vid = 0
    for cx, cy in [(0.0, 0.0), (0.0, 10.0), (100.0, 0.0), (100.0, 10.0)]:
        for dx in (0.0, 0.5, 1.0):
            pts.append((vid, [cx + dx, cy + dx]))
            vid += 1
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    out = kmeans_two_level(df, k1=2, k2=2, max_iter=3).collect()
    assert len(out) == 12
    # coarse assignment matches the standalone phase-1 fit exactly
    coarse, _ = kmeans(df, k=2, max_iter=3)
    want = {r["vec_id"]: r["cluster"] for r in coarse.collect()}
    assert all(r["coarse"] == want[r["vec_id"]] for r in out)
    # cells are the four blobs: each (coarse, sub) cell holds one blob
    cells = {}
    for r in out:
        cells.setdefault((r["coarse"], r["sub"]), set()).add(r["vec_id"] // 3)
    assert len(cells) == 4
    assert all(len(blobs) == 1 for blobs in cells.values())
    # every point sits near its sub-centroid
    assert all(r["dist2"] <= 1.0 for r in out)


def test_kmeans_two_level_partitioning_invariance(spark):
    from biomedical_data_integration_spark.operators.clustering import (
        kmeans_two_level,
    )

    import random

    rng = random.Random(7)
    pts = [
        (i, [rng.uniform(0, 10), rng.uniform(0, 10), rng.uniform(0, 10)])
        for i in range(60)
    ]
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    a = kmeans_two_level(df, k1=3, k2=2, max_iter=2).collect()
    b = kmeans_two_level(
        df.repartition(7), k1=3, k2=2, max_iter=2
    ).collect()
    ka = {r["vec_id"]: (r["coarse"], r["sub"], r["dist2"]) for r in a}
    kb = {r["vec_id"]: (r["coarse"], r["sub"], r["dist2"]) for r in b}
    assert ka == kb


def test_semantic_dedup_two_level_drops_same_cell_dups(spark):
    from biomedical_data_integration_spark.operators.clustering import (
        semantic_dedup_two_level,
    )

    # identical vectors land in the same cell; lowest id survives
    pts = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
           (3, [0.0, 1.0]), (4, [0.70710678, 0.70710678])]
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    out = semantic_dedup_two_level(
        df, max_iter=2, threshold=0.99, target_cluster_size=2
    )
    survivors = {r["vec_id"] for r in out.collect()}
    # exact duplicates: the higher id of each identical pair is dropped
    assert 0 in survivors and 2 in survivors and 4 in survivors
    assert 1 not in survivors and 3 not in survivors


def test_centroid_assignment_matches_python_replay(spark):
    """The assignment kernel gives BIT-EQUAL (cluster, dist2) to a replay
    of the contract every SQL oracle follows: a left-to-right double fold
    of squared differences, rounded HALF_UP to ``scale``, then argmin on
    (dist2, cluster) — at k = 1, at small k and past it."""
    import random

    from biomedical_data_integration_spark.functions.strings import py_round_half_up
    from biomedical_data_integration_spark.operators.clustering import _with_assignment

    rng = random.Random(11)
    pts = [(i, [rng.uniform(-5, 5) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")

    def dist2(vec, c):
        acc = 0.0
        for v, x in zip(vec, c):
            acc = acc + (v - x) * (v - x)
        return py_round_half_up(acc, 6)

    for k in (1, 4, 12):
        cents = [[rng.uniform(-5, 5) for _ in range(16)] for _ in range(k)]
        out = _with_assignment(df, "embedding", cents, 6).select("vec_id", "__a")
        got = {r[0]: (r[1]["dist2"], r[1]["cluster"]) for r in out.collect()}
        want = {i: min((dist2(v, c), j) for j, c in enumerate(cents)) for i, v in pts}
        assert got == want, k


def test_assign_clusters_streaming_join_kernel(spark):
    """Streaming assignment at k=8 rides the broadcast centroid table
    (stream-static crossJoin) and still matches the batch face row for
    row."""
    import tempfile

    from biomedical_data_integration_spark.operators.clustering import (
        assign_clusters,
    )

    cents = [[float(5 * i), 0.0] for i in range(8)]
    batch = _vecs(
        spark, [(i, [float(5 * i) + 0.4, 0.1]) for i in range(8)]
    )
    want = {r["vec_id"]: (r["cluster"], r["dist2"])
            for r in assign_clusters(batch, cents).collect()}
    assert {c for c, _ in want.values()} == set(range(8))
    with tempfile.TemporaryDirectory() as d:
        src, ckpt = f"{d}/in", f"{d}/ckpt"
        batch.write.parquet(src)
        stream = spark.readStream.schema(batch.schema).parquet(src)
        out = assign_clusters(stream, cents)
        assert out.isStreaming
        sq = (
            out.writeStream.format("memory")
            .queryName("assign_join_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        sq.processAllAvailable()
        sq.stop()
        got = {
            r["vec_id"]: (r["cluster"], r["dist2"])
            for r in spark.sql("select * from assign_join_test").collect()
        }
    assert got == want


def test_embedding_outliers_flags_far_vector(spark):
    from biomedical_data_integration_spark.operators.clustering import (
        embedding_outliers,
    )

    # one tight blob + one vector far from it, k=1: the far vector's
    # robust z dwarfs the blob members'
    pts = [(i, [float(i % 3) * 0.1, 0.0]) for i in range(9)]
    pts.append((9, [50.0, 50.0]))
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>")
    out = {r["vec_id"]: r for r in
           embedding_outliers(df, k=1, max_iter=2).collect()}
    assert len(out) == 10
    z_far = out[9]["outlier_rz"]
    assert z_far is not None and z_far > 10
    assert all(
        out[i]["outlier_rz"] is None or out[i]["outlier_rz"] < z_far
        for i in range(9)
    )


def test_embedding_health_report_golden(spark):
    """Known fixture: two unit vectors + one zero vector. mean_norm =
    2/3, median (type-1, rank ceil(3/2)=2) = 1.0... wait rank 2 of
    sorted norms [0, 1, 1] is 1.0; anisotropy of opposite unit vectors
    cancels the mean vector to ~0; zero_frac = 1/3."""
    from biomedical_data_integration_spark.operators.clustering import (
        embedding_health_report,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    r = embedding_health_report(df).collect()[0]
    assert r["n"] == 3 and r["dim"] == 2
    assert r["n_dim_mismatch"] == 0
    assert abs(r["mean_norm"] - 2.0 / 3.0) < 1e-6
    assert abs(r["median_norm"] - 1.0) < 1e-9
    assert abs(r["anisotropy"]) < 1e-9          # opposing vectors cancel
    assert abs(r["zero_frac"] - 1.0 / 3.0) < 1e-6
    # cone degeneration: identical vectors -> anisotropy 1
    cone = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(5)],
        "vec_id int, embedding array<double>",
    )
    rc = embedding_health_report(cone).collect()[0]
    assert abs(rc["anisotropy"] - 1.0) < 1e-6
    assert abs(rc["mean_norm"] - 5.0) < 1e-6 and rc["zero_frac"] == 0.0
    # empty input: well-defined NULL readouts, no division errors
    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    re_ = embedding_health_report(empty).collect()[0]
    assert re_["n"] == 0 and re_["mean_norm"] is None
    assert re_["dim"] is None  # data-derived, matching the oracle's guard
    assert re_["anisotropy"] is None and re_["zero_frac"] is None
    assert re_["n_dim_mismatch"] == 0


def test_embedding_health_flags_mixed_dims(spark):
    """A corpus with vectors of differing lengths — the encoder-bug
    case the gate exists for — must surface a non-zero
    n_dim_mismatch instead of silently blending component sums
    (ADVICE round 8)."""
    from biomedical_data_integration_spark.operators.clustering import (
        embedding_health_report,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [1.0, 0.0]),        # truncated output
            (3, [0.6, 0.8, 0.0]),
        ],
        "vec_id int, embedding array<double>",
    )
    r = embedding_health_report(df).collect()[0]
    assert r["dim"] == 3 and r["n_dim_mismatch"] == 1


def test_kmeans_parallel_raises_on_duplicate_vectors(spark):
    """Review r8: fewer than k DISTINCT vectors must raise (the maxmin
    contract) instead of silently returning duplicate seeds that leave
    permanently empty clusters."""
    rows = [(i, [float(i % 2), 0.0]) for i in range(8)]
    df = _vecs(spark, rows)
    with pytest.raises(ValueError, match="distinct"):
        kmeans(df, k=3, max_iter=1, init="parallel")


def test_kmeans_init_auto_routes_by_seeding_policy(spark, monkeypatch):
    """init="auto" must consult planning.seeding_kernel(k): below the
    limit the maxmin seeder runs, above it the k-means-parallel one —
    asserted by instrumenting both seeders (the policy-wiring test
    pattern, round-9 verdict item)."""
    from biomedical_data_integration_spark import planning
    from biomedical_data_integration_spark.operators import clustering

    rows = [(i, [float(i % 17), float((i * 3) % 13)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    calls = []
    real_maxmin = clustering._maxmin_seeds
    real_parallel = clustering._parallel_seeds

    def spy_maxmin(*a, **kw):
        calls.append("maxmin")
        return real_maxmin(*a, **kw)

    def spy_parallel(*a, **kw):
        calls.append("parallel")
        return real_parallel(*a, **kw)

    monkeypatch.setattr(clustering, "_maxmin_seeds", spy_maxmin)
    monkeypatch.setattr(clustering, "_parallel_seeds", spy_parallel)
    clustering.kmeans(df, k=3, max_iter=1, init="auto")
    assert calls == ["maxmin"]
    monkeypatch.setattr(planning, "MAXMIN_SEED_LIMIT", 2)
    clustering.kmeans(df, k=3, max_iter=1, init="auto")
    assert calls == ["maxmin", "parallel"]


def test_two_level_coarse_init_threads_through(spark, monkeypatch):
    """kmeans_two_level(coarse_init=...) must reach the phase-1 kmeans
    fit; the default stays on the SQL-replayable lowest-id contract."""
    from biomedical_data_integration_spark.operators import clustering

    rows = [(i, [float(i % 11), float((i * 7) % 5)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    seen = []
    real_kmeans = clustering.kmeans

    def spy(df_, *a, **kw):
        seen.append(kw.get("init", "lowest_id"))
        return real_kmeans(df_, *a, **kw)

    monkeypatch.setattr(clustering, "kmeans", spy)
    clustering.kmeans_two_level(df, k1=2, k2=2, max_iter=1)
    clustering.kmeans_two_level(
        df, k1=2, k2=2, max_iter=1, coarse_init="maxmin"
    )
    assert seen == ["lowest_id", "maxmin"]


def test_parallel_seeds_cap_raises_on_degenerate_coins(spark, monkeypatch):
    """The per-round candidate collect has a HARD 8*oversample bound
    (round-9 verdict): force every sampling coin to zero (the
    degenerate-cost simulation) and the seeder must raise with
    guidance instead of collecting the whole corpus to the driver."""
    import pyspark.sql.functions as F
    import pytest

    from biomedical_data_integration_spark.functions import hashing
    from biomedical_data_integration_spark.operators import clustering

    rows = [
        (i, [float(i), float(2 * i % 31)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    monkeypatch.setattr(
        hashing, "md5_bigint", lambda col, salt=None: F.lit(0)
    )
    with pytest.raises(ValueError, match="oversample"):
        clustering._parallel_seeds(
            df, "embedding", "vec_id", k=2, scale=6, oversample=2
        )


def test_embedding_health_drift_golden_and_empty_side(spark):
    """Batch drift face: per-side readouts match embedding_health_report
    on the same slices, deltas are quantized b - a, and an empty
    baseline yields NULL readouts/deltas instead of divide errors."""
    from biomedical_data_integration_spark.operators.clustering import (
        embedding_health_drift,
        embedding_health_report,
    )

    a = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    b = spark.createDataFrame(
        [(3, [3.0, 4.0]), (4, [3.0, 4.0])],
        "vec_id int, embedding array<double>",
    )
    row = embedding_health_drift(a, b).collect()[0]
    ra = embedding_health_report(a).collect()[0]
    rb = embedding_health_report(b).collect()[0]
    for m in ("n", "dim", "n_dim_mismatch", "mean_norm", "anisotropy",
              "zero_frac"):
        assert row[f"{m}_a"] == ra[m] and row[f"{m}_b"] == rb[m]
    assert row["d_mean_norm"] == pytest.approx(5.0 - 2.0 / 3.0, abs=1e-6)
    assert row["d_anisotropy"] == pytest.approx(1.0, abs=1e-6)
    assert row["d_zero_frac"] == pytest.approx(-1.0 / 3.0, abs=1e-6)
    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    er = embedding_health_drift(empty, b).collect()[0]
    assert er["n_a"] == 0 and er["mean_norm_a"] is None
    assert er["d_mean_norm"] is None and er["d_anisotropy"] is None
