"""ANN similarity search: brute-force cosine top-k, hyperplane LSH, IVF."""

import pytest

from biomedical_data_integration_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    ivf_topk,
)


def _vecs(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
        (4, [0.7, 0.7]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_golden(spark):
    emb = _vecs(spark)
    queries = emb.where("vec_id = 0")
    out = cosine_topk(queries, emb, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [1, 4]
    assert out[0]["cosine"] > out[1]["cosine"] > 0.7
    # query never matches itself
    assert all(r["neighbor_id"] != 0 for r in out)


def test_cosine_topk_k_bound(spark):
    emb = _vecs(spark)
    out = cosine_topk(emb, emb, k=2)
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= 2 for r in counts)


def test_ivf_topk_full_probe_equals_bruteforce(spark):
    """With nprobe == n_cells every cell is searched, so IVF must return
    exactly the brute-force result."""
    emb = _vecs(spark)
    queries = emb.where("vec_id = 0")
    brute = [tuple(r) for r in cosine_topk(queries, emb, k=3).collect()]
    ivf = [
        tuple(r)
        for r in ivf_topk(queries, emb, k=3, n_cells=2, nprobe=2).collect()
    ]
    assert ivf == brute


def test_ivf_topk_partial_probe_subset(spark):
    """nprobe < n_cells returns a subset of brute force with identical
    scores (vec 4 probes the cell holding vec 1; vecs in unprobed cells
    are legitimately missed — the recall trade)."""
    emb = _vecs(spark)
    queries = emb.where("vec_id = 4")
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(queries, emb, k=4).collect()
    }
    part = ivf_topk(queries, emb, k=4, n_cells=3, nprobe=1).collect()
    assert 0 < len(part) <= 4
    for r in part:
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cosine"]


def test_lsh_topk_subset_of_bruteforce_scores(spark):
    """LSH returns true cosines for bucket-mates; every returned neighbor
    must carry the same score brute force assigns it."""
    emb = _vecs(spark)
    queries = emb.where("vec_id = 0")
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(queries, emb, k=4).collect()
    }
    lsh = hyperplane_lsh_topk(queries, emb, dim=2, k=4, planes=2).collect()
    for r in lsh:
        key = (r["query_id"], r["neighbor_id"])
        assert key in brute
        assert brute[key] == r["cosine"]


def test_quantize_embeddings_int8_roundtrip(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        dequantize_expr,
        quantize_embeddings_int8,
    )
    from pyspark.sql import functions as F

    vecs = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [127.0, 0.0, -127.0])],
        ["vec_id", "embedding"],
    )
    q = quantize_embeddings_int8(vecs)
    got = {r["id"]: (r["qvec"], r["scale"]) for r in q.collect()}
    assert got[1][0] == [127, -64, 32]          # scale = 1/127
    assert got[2] == ([0, 0, 0], 0.0)           # all-zero vector
    assert got[3][0] == [127, 0, -127] and got[3][1] == 1.0
    # dequantized values are within one quantization step
    dq = q.select("id", dequantize_expr(F.col("qvec"), F.col("scale")).alias("v"))
    v1 = {r["id"]: r["v"] for r in dq.collect()}[1]
    assert all(abs(a - b) <= 1 / 127 for a, b in zip(v1, [1.0, -0.5, 0.25]))


def test_ivf_trained_centroids_recall(spark):
    """A kmeans-trained coarse quantizer must not lose recall vs the
    lowest-id quantizer at the same nprobe, and both are measured against
    brute force on real testdata embeddings."""
    from biomedical_data_integration_spark.operators.clustering import kmeans
    from biomedical_data_integration_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    from pyspark.sql import functions as F

    corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = corpus.where(F.col("vec_id") % 50 == 0)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    truth = pairs(cosine_topk(queries, corpus, k=5))
    naive = pairs(ivf_topk(queries, corpus, k=5, n_cells=16, nprobe=4))
    _, cents = kmeans(corpus, k=16, max_iter=2)
    trained = pairs(
        ivf_topk(queries, corpus, k=5, n_cells=16, nprobe=4, centroids=cents)
    )
    recall_naive = len(naive & truth) / len(truth)
    recall_trained = len(trained & truth) / len(truth)
    assert recall_trained >= recall_naive - 0.05  # never meaningfully worse
    assert recall_trained >= 0.5  # sane floor on this data


def test_set_similarity_join_matches_brute_force(spark):
    import itertools
    import random

    from biomedical_data_integration_spark.operators.similarity import (
        set_similarity_join,
    )

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(4, 12))
        rows.append((i, base))
        if rng.random() < 0.4:  # planted near-duplicates
            twin = list(base)
            if len(twin) > 5 and rng.random() < 0.5:
                twin.pop()
            rows.append((100 + i, twin))
    df = spark.createDataFrame(rows, ["doc_id", "toks"])
    t = 0.8
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in set_similarity_join(df, "toks", threshold=t).collect()
    }
    want = {}
    sets = {i: set(s) for i, s in rows}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
        if j >= t:
            want[(a, b)] = j
    assert got == want
    assert want  # the planted twins guarantee a non-trivial answer


def test_set_similarity_join_exact_duplicates(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        set_similarity_join,
    )

    df = spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["c", "b", "a"]), (3, ["x", "y", "z"])],
        ["doc_id", "toks"],
    )
    got = set_similarity_join(df, "toks", threshold=1.0).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(1, 2, 1.0)]


def test_set_similarity_join_validates(spark):
    import pytest

    from biomedical_data_integration_spark.operators.similarity import (
        set_similarity_join,
    )

    df = spark.createDataFrame([(1, ["a"])], ["doc_id", "toks"])
    with pytest.raises(ValueError):
        set_similarity_join(df, "toks", threshold=0.0)


def test_mine_triplets_golden(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        mine_triplets,
    )

    # label 0: ids 0,1 near each other; label 1: ids 2,3; id 4 label 2 alone
    pts = [
        (0, [1.0, 0.0], 0),
        (1, [0.98, 0.2], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.2, 0.98], 1),
        (4, [-1.0, 0.0], 2),
    ]
    df = spark.createDataFrame(pts, "vec_id int, embedding array<double>, label int")
    out = {r["anchor_id"]: r for r in
           mine_triplets(df, df.where("vec_id IN (0, 4)")).collect()}
    r0 = out[0]
    assert r0["positive_id"] == 1           # same-label nearest
    assert r0["negative_id"] in (2, 3)      # best different-label
    assert r0["positive_cosine"] > r0["negative_cosine"]
    # singleton label: no positive exists
    r4 = out[4]
    assert r4["positive_id"] is None and r4["positive_cosine"] is None
    assert r4["negative_id"] is not None


def test_mine_triplets_null_labels_excluded(spark):
    """NULL-label rows are neither anchors nor candidates (ADVICE r8):
    an unlabeled neighbor must not become a silent hard negative, and
    the nearest LABELED neighbor wins instead."""
    from biomedical_data_integration_spark.operators.similarity import (
        mine_triplets,
    )

    pts = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.99, 0.05], None),  # nearest to 0 overall, but unlabeled
        (3, [0.0, 1.0], 1),
        (4, [0.5, 0.5], None),    # unlabeled anchor candidate
    ]
    df = spark.createDataFrame(
        pts, "vec_id int, embedding array<double>, label int"
    )
    out = {r["anchor_id"]: r for r in
           mine_triplets(df, df.where("vec_id IN (0, 4)")).collect()}
    assert 4 not in out, "NULL-label anchor must be dropped"
    r0 = out[0]
    assert r0["positive_id"] == 1, "unlabeled id 2 must not shadow the positive"
    assert r0["negative_id"] == 3, "unlabeled id 2 must not be a hard negative"


# ---------------------------------------------------------------------------
# product quantization (round 9)
# ---------------------------------------------------------------------------


def _pq_fixture(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    # 4 planted groups in 8 dims so 2-iteration codebooks separate them
    centers = rng.randn(4, 8) * 3
    rows = []
    for i in range(80):
        v = centers[i % 4] + rng.randn(8) * 0.05
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"]), rows


def test_pq_roundtrip_finds_planted_neighbors(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    df, rows = _pq_fixture(spark)
    cb = pq_train(df, m=2, n_codes=4, max_iter=2)
    assert len(cb) == 2 and len(cb[0]) == 4 and len(cb[0][0]) == 4
    codes = pq_encode(df, cb)
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    assert set(got) == {r[0] for r in rows}
    # same planted group -> same code word in every subspace
    for i in range(4, 80):
        assert got[i] == got[i % 4], f"vec {i} split from its group"
    # ADC top-k for a group-0 query returns only group-0 vectors first
    q = rows[0][1]
    top = pq_topk(codes, q, cb, k=10).collect()
    assert len(top) == 10
    assert all(r["vec_id"] % 4 == 0 for r in top)
    # ascending adist, deterministic id tiebreak within equal distances
    dists = [r["adist"] for r in top]
    assert dists == sorted(dists)
    ids_at_min = [r["vec_id"] for r in top if r["adist"] == dists[0]]
    assert ids_at_min == sorted(ids_at_min)


def test_pq_matches_numpy_replay(spark):
    import numpy as np

    from biomedical_data_integration_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    df, rows = _pq_fixture(spark)
    m, nc, iters = 2, 4, 2
    cb = pq_train(df, m=m, n_codes=nc, max_iter=iters)
    X = np.array([r[1] for r in rows])
    dsub = X.shape[1] // m
    books = [
        [list(X[i][s * dsub : (s + 1) * dsub]) for i in range(nc)]
        for s in range(m)
    ]
    for _ in range(iters):
        new = {}
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            C = np.array(books[s])
            d2 = np.round(((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1), 6)
            assign = np.argmin(d2, axis=1)
            for c in range(nc):
                if (assign == c).any():
                    new[(s, c)] = list(
                        np.round(Xs[assign == c].mean(0), 6)
                    )
        books = [
            [new.get((s, c), books[s][c]) for c in range(nc)]
            for s in range(m)
        ]
    for s in range(m):
        for c in range(nc):
            assert cb[s][c] == pytest.approx(books[s][c], abs=1e-9)
    # encode agrees with the replayed books
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cb).collect()}
    for i, (vid, v) in enumerate(rows):
        for s in range(m):
            C = np.array(books[s])
            d2 = np.round(
                ((np.array(v[s * dsub : (s + 1) * dsub]) - C) ** 2).sum(-1), 6
            )
            assert got[vid][s] == int(np.argmin(d2))


def test_pq_validation_errors(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        pq_topk,
        pq_train,
    )

    df, _ = _pq_fixture(spark)
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(df, m=3)
    with pytest.raises(ValueError, match="n_codes"):
        pq_train(df.limit(2), m=2, n_codes=4)
    with pytest.raises(ValueError, match="query dim"):
        pq_topk(df, [0.0] * 5, [[[0.0] * 4] * 4] * 2)


def test_pq_encode_plan_is_projection_only(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        pq_encode,
        pq_train,
    )

    df, _ = _pq_fixture(spark)
    cb = pq_train(df, m=2, n_codes=4, max_iter=1)
    plan = (
        pq_encode(df, cb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, "encode must be a pure projection"
    assert "BatchEvalPython" not in plan


def test_ivfpq_residual_coding_beats_plain_pq(spark):
    """Residual quantization: the query vector (which IS a coarse
    centroid here, residual 0) must come back with adist == 0, and an
    exact-L2 ground-truth overlap at least as good as plain PQ."""
    import numpy as np

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=4, m=2, n_codes=4, max_iter=2)
    q = rows[0][1]
    got = ivfpq_topk(idx, q, cents, cb, k=10, nprobe=2).collect()
    assert got[0]["vec_id"] == 0 and got[0]["adist"] == 0.0
    X = np.array([r[1] for r in rows])
    exact = set(np.argsort(((X - np.array(q)) ** 2).sum(1))[:10].tolist())
    ivfpq_ids = {r["vec_id"] for r in got}
    cb2 = pq_train(df, m=2, n_codes=4, max_iter=2)
    pq_ids = {
        r["vec_id"]
        for r in pq_topk(pq_encode(df, cb2), q, cb2, k=10).collect()
    }
    assert len(ivfpq_ids & exact) >= len(pq_ids & exact)


def test_ivfpq_index_layout_and_probe_prunes(spark):
    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=4, m=2, n_codes=4, max_iter=1)
    assert idx.columns == ["vec_id", "cell", "codes"]
    cells = {r["cell"] for r in idx.select("cell").distinct().collect()}
    assert cells <= set(range(4))
    # nprobe=1 scores ONLY the query's own cell members
    q = rows[0][1]
    got = ivfpq_topk(idx, q, cents, cb, k=80, nprobe=1).collect()
    own_cell = [r["cell"] for r in idx.where("vec_id = 0").collect()][0]
    members = {
        r["vec_id"] for r in idx.where(F.col("cell") == own_cell).collect()
    }
    assert {r["vec_id"] for r in got} <= members
    # the cell predicate is pushed to the scan when reading from parquet
    import os, tempfile

    d = tempfile.mkdtemp()
    idx.write.mode("overwrite").parquet(os.path.join(d, "idx"))
    idx2 = spark.read.parquet(os.path.join(d, "idx"))
    plan = (
        ivfpq_topk(idx2, q, cents, cb, k=5, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # nprobe=1 folds isin([c]) to an equality predicate; either way the
    # cell gate must reach the parquet scan
    assert "PushedFilters: [" in plan
    assert "In(cell" in plan or "EqualTo(cell" in plan


def test_ivfpq_save_load_roundtrip_serves_identically(spark):
    """Persist → load → probe must score bit-identically to probing the
    in-memory index (parquet round-trips doubles exactly), the loaded
    model must equal the trained one, and the serve plan must read the
    index as a partition-pruned scan with NO training lineage."""
    import os
    import tempfile

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_load,
        ivfpq_save,
        ivfpq_topk,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=4, m=2, n_codes=4, max_iter=2)
    path = os.path.join(tempfile.mkdtemp(), "ivfpq")
    ivfpq_save(idx, cents, cb, path)
    idx2, cents2, cb2 = ivfpq_load(spark, path)
    assert cents2 == cents and cb2 == cb
    q = rows[3][1]
    mem = [tuple(r) for r in ivfpq_topk(idx, q, cents, cb, k=10, nprobe=2).collect()]
    srv = [tuple(r) for r in ivfpq_topk(idx2, q, cents2, cb2, k=10, nprobe=2).collect()]
    assert srv == mem
    plan = (
        ivfpq_topk(idx2, q, cents2, cb2, k=10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [" in plan
    assert not plan.split("PartitionFilters: [", 1)[1].startswith("]")
    # idempotent re-save (mode=overwrite) keeps serving the same answers
    ivfpq_save(idx, cents, cb, path)
    idx3, cents3, cb3 = ivfpq_load(spark, path)
    assert [
        tuple(r) for r in ivfpq_topk(idx3, q, cents3, cb3, k=10, nprobe=2).collect()
    ] == mem


def test_ivfpq_validation(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
    )

    df, _ = _pq_fixture(spark)
    with pytest.raises(ValueError, match="n_cells"):
        ivfpq_index(df.limit(2), n_cells=4, m=2, n_codes=2)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=1)
    with pytest.raises(ValueError, match="query dim"):
        ivfpq_topk(idx, [0.0] * 3, cents, cb)


def _mmr_corpus(spark):
    # A (id 1) and A' (id 2) are near-duplicates of the query direction;
    # B (id 3) is moderately relevant but diverse. Plain top-2 = {1, 2};
    # MMR should swap the redundant A' for B.
    rows = [
        (0, [1.0, 0.0, 0.0]),       # query
        (1, [0.99, 0.14, 0.0]),     # A
        (2, [0.99, 0.141, 0.0]),    # A' ~ duplicate of A
        (3, [0.6, 0.0, 0.8]),       # B diverse
        (4, [-1.0, 0.0, 0.0]),      # anti-correlated filler
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_mmr_diversifies_over_plain_topk(spark):
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    emb = _mmr_corpus(spark)
    queries = emb.where("vec_id = 0")
    plain = [
        r["neighbor_id"]
        for r in cosine_topk(queries, emb, k=2)
        .orderBy("cosine", ascending=False)
        .collect()
    ]
    assert plain == [1, 2]  # redundant near-duplicates
    out = (
        mmr_topk(queries, emb, k=2, pool=4, lam=0.5)
        .orderBy("rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in out] == [1, 3]
    assert [r["rank"] for r in out] == [1, 2]
    # rank 1 is the plain most-relevant candidate, scored lam * rel
    assert out[0]["mmr_score"] == pytest.approx(0.5 * out[0]["relevance"], abs=1e-6)


def test_mmr_negative_sims_are_true_max_no_zero_floor(spark):
    """The redundancy penalty is the TRUE max similarity to the selected
    set — an anti-correlated candidate gets a NEGATIVE penalty (bonus),
    not a zero floor (the formula in Carbonell & Goldberg has no clamp)."""
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.5]),    # most relevant
        (2, [0.5, 0.25]),   # same direction as 1 (sim 1.0, penalized)
        (3, [0.3, -0.9]),   # sim to 1 is NEGATIVE (-0.158): boosted
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.where("vec_id = 0")
    out = (
        mmr_topk(queries, emb, k=2, pool=3, lam=0.5).orderBy("rank").collect()
    )
    assert out[0]["neighbor_id"] == 1
    # with the true-max penalty, 3's negative sim to 1 outweighs 2's
    # higher relevance at lam=0.5
    assert out[1]["neighbor_id"] == 3
    assert out[1]["mmr_score"] > 0.5 * out[1]["relevance"]


def test_mmr_matches_greedy_replay(spark):
    """Independent numpy greedy over the same rounded inputs reproduces
    the operator's selection exactly (ids, ranks, scores)."""
    import numpy as np

    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.where("vec_id < 2")
    k, pool, lam = 4, 10, 0.7
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["mmr_score"])
        for r in mmr_topk(queries, emb, k=k, pool=pool, lam=lam).collect()
    }

    def cos(a, b):
        na, nb = np.sqrt((a * a).sum()), np.sqrt((b * b).sum())
        return 0.0 if na * nb == 0 else float(a.dot(b) / (na * nb))

    for qid in (0, 1):
        rel = {
            i: round(cos(vecs[qid], vecs[i]), 6) for i in range(40) if i != qid
        }
        cand = sorted(rel, key=lambda i: (-rel[i], i))[:pool]
        maxsim = {c: None for c in cand}
        remaining = set(cand)
        for rank in range(1, k + 1):
            best, best_m = None, None
            for c in sorted(remaining):
                pen = 0.0 if maxsim[c] is None else maxsim[c]
                m = lam * rel[c] - (1 - lam) * pen
                if best is None or m > best_m:
                    best, best_m = c, m
            nid, score = got[(qid, rank)]
            assert nid == best
            assert score == pytest.approx(best_m, abs=1.1e-6)
            remaining.discard(best)
            for c in remaining:
                s = round(cos(vecs[c], vecs[best]), 6)
                if maxsim[c] is None or s > maxsim[c]:
                    maxsim[c] = s


def test_mmr_pool_of_one_and_short_corpus(spark):
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.where("vec_id = 0")
    out = mmr_topk(queries, emb, k=3, pool=5, lam=0.7).collect()
    assert len(out) == 1  # only one candidate exists; loop stops early
    assert out[0]["neighbor_id"] == 1 and out[0]["rank"] == 1


def test_mmr_validation(spark):
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    emb = _mmr_corpus(spark)
    with pytest.raises(ValueError, match="k <= pool"):
        mmr_topk(emb, emb, k=10, pool=5)
    with pytest.raises(ValueError, match="lam"):
        mmr_topk(emb, emb, k=2, pool=5, lam=1.5)


def test_mmr_string_ids(spark):
    """id columns keep their input types — string doc ids work (the
    applyInPandas output schema is derived, not hardcoded bigint)."""
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    rows = [
        ("q", [1.0, 0.0, 0.0]),
        ("a", [0.99, 0.14, 0.0]),
        ("b", [0.99, 0.141, 0.0]),
        ("c", [0.6, 0.0, 0.8]),
    ]
    emb = spark.createDataFrame(rows, ["doc_id", "embedding"])
    queries = emb.where("doc_id = 'q'")
    out = mmr_topk(
        queries, emb, k=2, pool=3, lam=0.5,
        query_id="doc_id", corpus_id="doc_id",
    ).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in out] == ["a", "c"]
    assert out[0]["query_id"] == "q"


def test_mmr_precomputed_candidates_match_self_computed(spark):
    """candidates= rides a precomputed ANN table (the standing-state
    reuse contract): feeding cosine_topk's own output must reproduce the
    self-computed path exactly, and a wider table is re-cut to pool."""
    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 100 = 0")
    self_computed = sorted(
        tuple(r) for r in mmr_topk(queries, emb, k=4, pool=8, lam=0.6).collect()
    )
    pre = cosine_topk(queries, emb, k=12)  # wider than pool: re-cut to 8
    reused = sorted(
        tuple(r)
        for r in mmr_topk(
            queries, emb, k=4, pool=8, lam=0.6, candidates=pre
        ).collect()
    )
    assert reused == self_computed


def test_facility_location_greedy_golden(spark):
    """Hand-checkable geometry: two tight clusters + an outlier. The
    first pick is the best single center; the second covers the OTHER
    cluster (marginal gain) rather than duplicating the first."""
    from biomedical_data_integration_spark.operators.similarity import (
        facility_location_select,
    )

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.99, 0.14]),     # cluster A with 0
        (2, [0.0, 1.0]),
        (3, [0.14, 0.99]),     # cluster B with 2
        (4, [-1.0, -1.0]),     # anti-correlated outlier: sim+ = 0 to all
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = facility_location_select(emb, k=3, pool=5).orderBy("rank").collect()
    picked = [r["vec_id"] for r in out]
    # one representative from each cluster before any duplicate
    assert {picked[0], picked[1]} & {0, 1}
    assert {picked[0], picked[1]} & {2, 3}
    gains = [r["gain_micro"] for r in out]
    assert all(a >= b for a, b in zip(gains, gains[1:]))  # submodular
    assert out[-1]["objective_micro"] == sum(gains)


def test_facility_location_matches_numpy_replay(spark):
    """Independent numpy greedy over the same floor-quantized clamped
    cosines reproduces the selection and exact integer gains."""
    import numpy as np

    from biomedical_data_integration_spark.operators.similarity import (
        facility_location_select,
    )
    import hashlib

    rng = np.random.RandomState(11)
    vecs = rng.randn(30, 6).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    k, pool = 4, 10
    got = [
        (r["rank"], r["vec_id"], r["gain_micro"])
        for r in facility_location_select(emb, k=k, pool=pool)
        .orderBy("rank")
        .collect()
    ]

    def md5key(i):
        return (hashlib.md5(f"fl|{i}".encode()).hexdigest(), i)

    cand = sorted(range(30), key=md5key)[:pool]

    def simp(a, b):
        na, nb = np.sqrt((a * a).sum()), np.sqrt((b * b).sum())
        c = 0.0 if na * nb == 0 else float(a.dot(b) / (na * nb))
        return int(np.floor(max(c, 0.0) * 1_000_000))

    S = {c: {x: simp(vecs[c], vecs[x]) for x in range(30)} for c in cand}
    cur = {x: 0 for x in range(30)}
    remaining = set(cand)
    want = []
    for rank in range(1, k + 1):
        best, best_g = None, None
        for c in sorted(remaining):
            g = sum(max(S[c][x] - cur[x], 0) for x in range(30))
            if best is None or g > best_g:
                best, best_g = c, g
        if best_g == 0:
            break
        want.append((rank, best, best_g))
        remaining.discard(best)
        for x in range(30):
            cur[x] = max(cur[x], S[best][x])
    assert got == want


def test_facility_location_validation(spark):
    from biomedical_data_integration_spark.operators.similarity import (
        facility_location_select,
    )

    emb = _mmr_corpus(spark)
    with pytest.raises(ValueError, match="k must be"):
        facility_location_select(emb, k=0)
    with pytest.raises(ValueError, match="pool >= k"):
        facility_location_select(emb, k=5, pool=3)


def test_mmr_candidates_dedup_scope_and_stale_ids(spark):
    """The candidates= surface honors its contract: duplicate rows are
    deduped (no silently eaten pool slots), queries outside `queries`
    are not reranked, and stale neighbor ids absent from corpus drop
    BEFORE the pool cut — a dirty store reranks exactly like the clean
    one, full pool intact (ADVICE r9)."""
    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import mmr_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id = 0")
    base = cosine_topk(emb.where("vec_id % 100 = 0"), emb, k=8)
    want = sorted(
        tuple(r)
        for r in mmr_topk(queries, emb, k=3, pool=6, candidates=base).collect()
    )
    # duplicates (self-union) + an extra query id + a stale neighbor id
    dirty = (
        base.unionByName(base)
        .unionByName(
            spark.createDataFrame(
                [(0, 999_999, 0.999999)], "query_id long, neighbor_id long, cosine double"
            )
        )
    )
    got = sorted(
        tuple(r)
        for r in mmr_topk(queries, emb, k=3, pool=6, candidates=dirty).collect()
    )
    assert {r[0] for r in got} == {0}          # scoped to `queries`
    assert all(r[2] != 999_999 for r in got)   # stale id dropped
    # stale rows are purged BEFORE the pool cut, so the dirty store
    # (duplicates + out-of-scope query + stale high-cosine row)
    # reranks IDENTICALLY to the clean store — full pool preserved
    assert got == want
    assert want  # sanity: the clean path produced rows


def test_ivfpq_ensure_gate_trains_once(spark):
    """_ensure_ivfpq_index builds on first call and only LOADS after:
    the persisted index files must not be rewritten by a second call."""
    import os
    import shutil

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    path = e._ivfpq_index_path(sf)
    shutil.rmtree(path, ignore_errors=True)
    idx1, cents1, cb1 = e._ensure_ivfpq_index(spark, sf)
    # the gate keys on the LAST-written artifact (model/ lands after
    # index/), so a crash between the writes stays rebuildable
    marker = os.path.join(path, "model", "_SUCCESS")
    mtime1 = os.path.getmtime(marker)
    idx2, cents2, cb2 = e._ensure_ivfpq_index(spark, sf)
    assert os.path.getmtime(marker) == mtime1  # no rewrite, no retrain
    assert cents2 == cents1 and cb2 == cb1
    assert idx2.count() == idx1.count()


def test_ivfpq_probe_many_matches_per_query_probes(spark):
    """Batch ADC probe: per query, EXACTLY ivfpq_topk's rows (shared
    _ivfpq_adc_tables arithmetic), one pruned scan for the whole
    batch."""
    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe_many,
        ivfpq_topk,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=4, m=2, n_codes=4, max_iter=2)
    qids = [rows[3][0], rows[7][0], rows[11][0]]
    queries = df.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    many = ivfpq_probe_many(idx, queries, cents, cb, k=8, nprobe=2)
    got = {
        qid: [
            (r["vec_id"], r["adist"])
            for r in many.where(F.col("query_id") == qid)
            .orderBy("adist", "vec_id")
            .collect()
        ]
        for qid in qids
    }
    by_id = dict(rows)
    for qid in qids:
        want = [
            (r["vec_id"], r["adist"])
            for r in ivfpq_topk(
                idx, by_id[qid], cents, cb, k=8, nprobe=2
            ).collect()
        ]
        assert got[qid] == want, f"query {qid} diverges from single probe"


def test_ivfpq_probe_many_validation(spark):
    import pytest as _pytest

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe_many,
    )

    df, _ = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=1)
    empty = spark.createDataFrame([], "query_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="empty query table"):
        ivfpq_probe_many(idx, empty, cents, cb)
    bad = spark.createDataFrame(
        [(1, [0.0, 1.0, 2.0])], "query_id bigint, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="dim"):
        ivfpq_probe_many(idx, bad, cents, cb)


def test_ivfpq_append_index_matches_frozen_model_encoding(spark):
    """build(A) + append(B) must equal encoding A ∪ B with A's frozen
    model (the FAISS `add` contract): same (id, cell, codes) rows, and
    probes serve the union."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import (
        _ivfpq_residuals,
        ivfpq_append_index,
        ivfpq_index,
        ivfpq_load,
        ivfpq_save,
        ivfpq_topk,
        pq_encode,
    )

    df, rows = _pq_fixture(spark)
    a = df.where(F.col("vec_id") % 2 == 0)
    b = df.where(F.col("vec_id") % 2 == 1)
    idx, cents, cb = ivfpq_index(a, n_cells=2, m=2, n_codes=4, max_iter=2)
    path = os.path.join(tempfile.mkdtemp(), "ivfpq_incr")
    ivfpq_save(idx, cents, cb, path)
    ivfpq_append_index(b, path)
    stored, cents2, cb2 = ivfpq_load(spark, path)
    assert cents2 == cents and cb2 == cb
    # ground truth: encode the union with A's frozen model
    from biomedical_data_integration_spark import config
    resid = _ivfpq_residuals(df, cents, "embedding", "vec_id",
                             config.SIMILARITY_SCALE)
    want = {
        r["vec_id"]: (r["cell"], list(r["codes"]))
        for r in pq_encode(resid, cb, vec_col="__resid", id_col="vec_id",
                           extra_cols=("cell",)).collect()
    }
    got = {
        r["vec_id"]: (int(r["cell"]), list(r["codes"]))
        for r in stored.collect()
    }
    assert got == want
    # and the probe serves the grown index
    q = rows[5][1]
    served = ivfpq_topk(stored, q, cents2, cb2, k=8, nprobe=2).collect()
    assert len(served) == 8


def test_ivfpq_probe_many_rejects_duplicate_query_ids(spark):
    """ADVICE r11: duplicate query_ids would double-count fan-out rows
    and last-wins the ADC tables dict — the batch probe must refuse."""
    import pytest as _pytest

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe_many,
    )

    df, _ = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=1)
    dim = len(cents[0])
    dupes = spark.createDataFrame(
        [(7, [0.0] * dim), (7, [1.0] * dim)],
        "query_id bigint, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="duplicate"):
        ivfpq_probe_many(idx, dupes, cents, cb)


def test_ivfpq_append_index_rejects_wrong_dim_batch(spark):
    """ADVICE r11: a wrong-dim batch must fail the append job loudly
    instead of persisting null-padded (cell, codes) garbage into the
    served index."""
    import os
    import tempfile

    import pytest as _pytest

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_index,
        ivfpq_save,
    )

    df, _ = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=1)
    path = os.path.join(tempfile.mkdtemp(), "ivfpq_dim")
    ivfpq_save(idx, cents, cb, path)
    dim = len(cents[0])
    bad = spark.createDataFrame(
        [(999, [0.0] * (dim + 1))], "vec_id bigint, embedding array<double>"
    )
    with _pytest.raises(Exception, match="dim"):
        ivfpq_append_index(bad, path)
    # the served index must NOT have gained the bad row
    stored = spark.read.parquet(f"{path}/index")
    assert stored.where("vec_id = 999").count() == 0


def test_ivfpq_compact_and_delete_lifecycle(spark):
    """Append fragments cell partitions -> compact rewrites them to one
    file each with probes hash-equal; delete anti-joins only affected
    cells and equals never-having-added the deleted vectors."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_append_index,
        ivfpq_compact_index,
        ivfpq_delete_ids,
        ivfpq_index,
        ivfpq_load,
        ivfpq_save,
        ivfpq_topk,
    )

    df, rows = _pq_fixture(spark)
    a = df.where(F.col("vec_id") % 2 == 0)
    b = df.where(F.col("vec_id") % 2 == 1)
    idx, cents, cb = ivfpq_index(a, n_cells=2, m=2, n_codes=4, max_iter=2)
    path = os.path.join(tempfile.mkdtemp(), "ivfpq_life")
    ivfpq_save(idx, cents, cb, path)
    ivfpq_append_index(b, path)

    def files_per_cell():
        return {
            c: len(glob.glob(os.path.join(c, "*.parquet")))
            for c in glob.glob(os.path.join(path, "index", "cell=*"))
        }

    assert any(n > 1 for n in files_per_cell().values())
    stored, c2, b2 = ivfpq_load(spark, path)
    q = rows[0][1]
    before = [tuple(r) for r in ivfpq_topk(stored, q, c2, b2, k=8,
                                           nprobe=2).collect()]
    compacted = ivfpq_compact_index(spark, path)
    assert compacted
    assert all(n == 1 for n in files_per_cell().values())
    stored2, _, _ = ivfpq_load(spark, path)
    after = [tuple(r) for r in ivfpq_topk(stored2, q, c2, b2, k=8,
                                          nprobe=2).collect()]
    assert after == before
    assert ivfpq_compact_index(spark, path) == []

    # delete the odd batch entirely -> stored rows == batch A's rows
    odd_ids = [r[0] for r in b.select("vec_id").collect()]
    res = ivfpq_delete_ids(spark, path, odd_ids)
    assert res["n_vectors_removed"] == len(odd_ids)
    remaining = {r["vec_id"] for r in
                 spark.read.parquet(f"{path}/index").collect()}
    assert remaining == {r[0] for r in a.select("vec_id").collect()}
    # delete-then-probe == probe over A-only codes with the same model
    storedA, _, _ = ivfpq_load(spark, path)
    got = [tuple(r) for r in ivfpq_topk(storedA, q, c2, b2, k=8,
                                        nprobe=2).collect()]
    want = [tuple(r) for r in ivfpq_topk(idx, q, cents, cb, k=8,
                                         nprobe=2).collect()]
    assert got == want
    assert not os.path.exists(os.path.join(path, "_MAINT_PENDING"))
    assert ivfpq_delete_ids(spark, path, [10**9])["n_vectors_removed"] == 0


def test_ivfpq_probe_many_matches_single_probes_and_constant_plan(spark):
    """The broadcast-map ADC kernel (round-11 verdict item 4) must score
    every query of a batch bit-identically to :func:`ivfpq_topk` run on
    that query alone (both read ``_ivfpq_adc_tables``), and its plan
    must stay constant-shape as the batch grows (the ADC values live in
    the broadcast relation, not the plan)."""
    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_probe_many,
        ivfpq_topk,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=2)
    queries = spark.createDataFrame(
        [(int(i), [float(x) for x in rows[i][1]]) for i in range(6)],
        "query_id bigint, embedding array<double>",
    )
    batch = ivfpq_probe_many(idx, queries, cents, cb, k=5, nprobe=2).collect()
    got = sorted((r["query_id"], r["vec_id"], r["adist"]) for r in batch)
    want = sorted(
        (i, r["vec_id"], r["adist"])
        for i in range(6)
        for r in ivfpq_topk(idx, rows[i][1], cents, cb, k=5, nprobe=2).collect()
    )
    assert got == want

    # constant plan shape: doubling the batch must not grow the plan
    # string (same expressions, the map is data)
    def plan_len(qdf):
        out = ivfpq_probe_many(idx, qdf, cents, cb, k=5, nprobe=2)
        return len(out._jdf.queryExecution().executedPlan().toString())

    small = queries.limit(3)
    assert abs(plan_len(queries) - plan_len(small)) < 200


def test_ivfpq_upsert_replaces_vectors(spark):
    """Upsert = delete + frozen-model append: the upserted ids' stored
    (cell, codes) must equal encoding the NEW vectors with the frozen
    model, old rows gone, everything else untouched."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from biomedical_data_integration_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_save,
        ivfpq_upsert_vectors,
    )

    df, rows = _pq_fixture(spark)
    idx, cents, cb = ivfpq_index(df, n_cells=2, m=2, n_codes=4, max_iter=2)
    path = os.path.join(tempfile.mkdtemp(), "ivfpq_up")
    ivfpq_save(idx, cents, cb, path)
    a, b = df.alias("a"), df.alias("b")
    batch = (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .where(F.col("a.vec_id") % 3 == 0)
        .select(F.col("a.vec_id").alias("vec_id"),
                F.col("b.embedding").alias("embedding"))
    )
    n_batch = batch.count()
    assert n_batch > 0
    res = ivfpq_upsert_vectors(batch, path)
    assert res["n_vectors_removed"] == n_batch
    stored = {r["vec_id"]: (int(r["cell"]), list(r["codes"]))
              for r in spark.read.parquet(f"{path}/index").collect()}
    orig = {r["vec_id"]: (int(r["cell"]), list(r["codes"]))
            for r in idx.collect()}
    assert len(stored) == len(orig)  # no dupes, no losses
    donors = {r["vec_id"] for r in batch.collect()}
    for vid, v in stored.items():
        if vid in donors:
            assert v == orig[vid + 1]  # donor's encoding under kept id
        else:
            assert v == orig[vid]
