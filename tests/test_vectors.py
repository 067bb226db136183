"""Golden distance values from /root/reference/src/types/metric.rs:64-74:
sqeuclidean([1,2,3],[4,5,6]) == 27.0 exactly; cosine distance rounds to 0.
"""

import math

import pytest
from pyspark.sql import functions as F

from oasysdb_spark.errors import InvalidArgumentError
from oasysdb_spark.functions.vectors import (
    cosine_distance,
    distance_expr,
    dot_product,
    l2_norm,
    make_pandas_cosine,
    make_pandas_sqeuclidean,
    sqeuclidean,
    to_f32,
)


@pytest.fixture(scope="module")
def pair_df(spark):
    return spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<float>, b array<float>"
    )


def test_sqeuclidean_golden(pair_df):
    assert pair_df.select(sqeuclidean("a", "b").alias("d")).first()["d"] == 27.0


def test_cosine_golden(pair_df):
    d = pair_df.select(cosine_distance("a", "b").alias("d")).first()["d"]
    assert round(d, 1) == 0.0
    assert d == pytest.approx(1 - 32 / (math.sqrt(14) * math.sqrt(77)))


def test_dot_and_norm(pair_df):
    row = pair_df.select(
        dot_product("a", "b").alias("dp"), l2_norm("a").alias("na")
    ).first()
    assert row["dp"] == 32.0
    assert row["na"] == pytest.approx(math.sqrt(14))


def test_cosine_zero_norm_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<float>, b array<float>")
    assert df.select(cosine_distance("a", "b").alias("d")).first()["d"] is None


def test_distance_expr_dispatch_and_error(pair_df):
    assert pair_df.select(distance_expr("EUCLIDEAN", "a", "b").alias("d")).first()["d"] == 27.0
    # "manhattan" may be registered as a user metric by other suites
    # (global registry) — use a name nothing registers.
    with pytest.raises(InvalidArgumentError):
        distance_expr("chebyshev", "a", "b")


def test_f32_truncation(pair_df):
    # distances computed in f64, truncated to f32 in results
    # (/root/reference/src/cores/index.rs:189-193)
    d = pair_df.select(to_f32(sqeuclidean("a", "b") + 1e-9).alias("d")).first()["d"]
    assert d == 27.0


def test_pandas_udf_paths_match_native(spark):
    rows = [([float(i), float(i + 1), float(i + 2)],) for i in range(50)]
    df = spark.createDataFrame(rows, "emb array<float>")
    q = [1.0, 2.0, 3.0]
    native = df.select(
        sqeuclidean(F.array(*[F.lit(x) for x in q]), F.col("emb")).alias("d")
    ).collect()
    arrow = df.select(make_pandas_sqeuclidean(q)(F.col("emb")).alias("d")).collect()
    assert [r["d"] for r in native] == pytest.approx([r["d"] for r in arrow])

    native_c = df.select(
        cosine_distance(F.array(*[F.lit(x) for x in q]), F.col("emb")).alias("d")
    ).collect()
    arrow_c = df.select(make_pandas_cosine(q)(F.col("emb")).alias("d")).collect()
    assert [r["d"] for r in native_c] == pytest.approx([r["d"] for r in arrow_c])


def test_custom_metric_registry(spark):
    """User-extensible metrics (the UDF surface the reference's closed
    enum lacks — /root/reference/src/types/metric.rs:19-22)."""
    from oasysdb_spark.functions import vectors as V

    def manhattan(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    V.register_metric("manhattan", manhattan)
    df = spark.createDataFrame([([1.0, 2.0], [4.0, 0.0])], "a array<float>, b array<float>")
    got = df.select(V.distance_expr("Manhattan", "a", "b").alias("d")).first()["d"]
    assert got == 5.0
    with pytest.raises(InvalidArgumentError):
        V.register_metric("euclidean", manhattan)


def test_lsh_knn_parity_and_semantics(spark, sf_dir):
    """LSH results are true vectors with the same (rounded) cosine
    distances as brute force, self is nearest, and the result is
    deterministic across runs (seeded md5 planes)."""
    from oasysdb_spark.operators import vectorops as vec

    a = [(r["vec_id"], r["distance"]) for r in vec.lsh_knn(spark, sf_dir).collect()]
    b = [(r["vec_id"], r["distance"]) for r in vec.lsh_knn(spark, sf_dir).collect()]
    assert a == b and len(a) > 0
    assert a[0][0] == 0 and a[0][1] == 0.0  # query's own bucket contains it
    exact = {
        r["vec_id"]: r["distance"]
        for r in vec.knn_bruteforce(spark, sf_dir, k=500, metric="cosine").collect()
    }
    for vid, d in a:
        assert exact[vid] == d  # same rounded distance as the exact scan
    # distances ascend (orderBy contract)
    assert [d for _, d in a] == sorted(d for _, d in a)


def test_lsh_indexed_prunes_partitions_and_matches(spark, sf_dir, tmp_path):
    """The materialized bucket layout turns probing into partition pruning
    (scan reads num_planes+1 directories, never the corpus), and the
    single-table result is identical to the recompute-per-query path."""
    from oasysdb_spark.operators import vectorops as vec

    wd = str(tmp_path / "lsh_layout")
    df = vec.lsh_knn_indexed(spark, sf_dir, work_dir=wd)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = [l for l in plan.splitlines() if "FileScan" in l and "bucket" in l]
    assert scan_line and "PartitionFilters" in plan
    # the probed-bucket predicate must sit in PartitionFilters (pruning),
    # not a post-scan Filter over the whole corpus
    assert "bucket" in plan.split("PartitionFilters")[1][:200]

    indexed = [(r["vec_id"], r["distance"]) for r in df.collect()]
    recompute = [
        (r["vec_id"], r["distance"]) for r in vec.lsh_knn(spark, sf_dir).collect()
    ]
    assert indexed == recompute


def test_lsh_multi_table_recall_improves(spark, sf_dir, tmp_path):
    """Salted plane tables union independent candidate sets: recall@10 vs
    brute force must not drop, and the candidate pool strictly widens."""
    from oasysdb_spark.operators import vectorops as vec

    exact = [
        r["vec_id"]
        for r in vec.knn_bruteforce(spark, sf_dir, k=10, metric="cosine").collect()
    ]

    def recall(n_tables):
        got = [
            r["vec_id"]
            for r in vec.lsh_knn_indexed(
                spark, sf_dir, num_tables=n_tables,
                work_dir=str(tmp_path / f"l{n_tables}"),
            ).collect()
        ]
        return len(set(got) & set(exact)) / len(exact)

    r1, r4 = recall(1), recall(4)
    assert r4 >= r1
    assert r4 > 0.3  # multi-table lifts the documented single-table floor


def test_pq_codes_shape_and_adc_matches_numpy(spark, sf_dir):
    """PQ encode yields m in-range codes per row (4 bytes vs 256 raw),
    and the JVM ADC lookup expression equals the numpy table lookup."""
    import numpy as np
    from pyspark.sql import functions as F

    from oasysdb_spark.index import pq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq.fit_codebooks(embs.select("embedding"), m=8, nbits=4, seed=1)
    assert books.shape == (8, 16, 8)
    codes = pq.encode(embs, books).cache()
    sample = codes.orderBy("vec_id").limit(20).collect()
    for r in sample:
        assert len(r["pq_code"]) == 8
        assert all(0 <= c < 16 for c in r["pq_code"])

    q = list(sample[0]["embedding"])
    table = pq.adc_table(q, books)
    got = {
        r["vec_id"]: r["adc"]
        for r in codes.select("vec_id", pq.adc_score_expr(table).alias("adc"))
        .orderBy("vec_id")
        .limit(20)
        .collect()
    }
    for r in sample:
        expect = float(sum(table[j][c] for j, c in enumerate(r["pq_code"])))
        assert abs(got[r["vec_id"]] - expect) < 1e-9


def test_pq_knn_rerank_recall(spark, sf_dir):
    """ADC candidate generation + exact re-rank must recover (almost
    all of) the true top-10 on the isotropic fixture — PQ's worst case;
    the self-match (distance 0) must always survive."""
    from oasysdb_spark.index import pq
    from oasysdb_spark.operators import vectorops as vec

    got = [r["vec_id"] for r in pq.pq_knn(spark, sf_dir, query_vec_id=7, k=10).collect()]
    brute = [
        r["vec_id"] for r in vec.knn_bruteforce(spark, sf_dir, query_vec_id=7, k=10).collect()
    ]
    assert got[0] == 7  # self-match survives ADC + re-rank
    recall = len(set(got) & set(brute)) / len(brute)
    assert recall >= 0.8, f"PQ rerank recall {recall}"

    # rerank < k must not shrink the result below k: the candidate cut
    # is max(rerank, k)
    embs = vec.load_embeddings(spark, sf_dir)
    books = pq.fit_codebooks(embs.select("embedding"), m=8, nbits=4, seed=42)
    codes = pq.encode(embs, books).cache()
    short = pq.pq_knn(
        spark, sf_dir, query_vec_id=7, k=10, rerank=4,
        codes_df=codes, codebooks=books,
    ).collect()
    assert len(short) == 10
    codes.unpersist()


def test_ivfpq_residual_beats_flat_pq_and_prunes(spark, sf_dir):
    """IVFADC gates, averaged over 5 queries so single-query coder noise
    on the isotropic fixture (residual PQ's worst case — k=16 coarse
    clusters barely shrink isotropic residual norms) can't flip the
    comparison: (a) mean recall@10 of residual coding at full probing
    must be >= flat PQ's at the SAME code budget and rerank, minus a
    small tolerance; (b) the pruned path (probes=4 of 16) keeps the
    self-match and usable recall; (c) prebuilt-layout reuse equals the
    one-shot path. (A wider 10-query probe measured means at rerank=32
    of residual 0.64 / flat 0.55 / pruned 0.53; this test's 5-query
    subset gates the same ordering with a 0.05 tolerance.)"""
    from oasysdb_spark.index import pq
    from oasysdb_spark.operators import vectorops as vec

    codes, cents, books = pq.build_ivfpq(spark, sf_dir, n_clusters=16, seed=1)
    codes = codes.cache()
    embs = vec.load_embeddings(spark, sf_dir)
    fbooks = pq.fit_codebooks(embs.select("embedding"), m=8, nbits=4, seed=1)
    fcodes = pq.encode(embs, fbooks).cache()

    queries = [3, 7, 19, 42, 77]
    mean = {"full": 0.0, "flat": 0.0, "pruned": 0.0}
    for q in queries:
        brute = {
            r["vec_id"]
            for r in vec.knn_bruteforce(spark, sf_dir, query_vec_id=q, k=10).collect()
        }
        full = [
            r["vec_id"]
            for r in pq.ivfpq_knn(
                spark, sf_dir, query_vec_id=q, k=10, probes=16, rerank=32,
                codes_df=codes, centroids=cents, codebooks=books,
            ).collect()
        ]
        flat = [
            r["vec_id"]
            for r in pq.pq_knn(
                spark, sf_dir, query_vec_id=q, k=10, rerank=32,
                codes_df=fcodes, codebooks=fbooks,
            ).collect()
        ]
        pruned = [
            r["vec_id"]
            for r in pq.ivfpq_knn(
                spark, sf_dir, query_vec_id=q, k=10, probes=4, rerank=32,
                codes_df=codes, centroids=cents, codebooks=books,
            ).collect()
        ]
        assert pruned[0] == q  # self-match survives pruning + ADC + re-rank
        mean["full"] += len(set(full) & brute) / 10 / len(queries)
        mean["flat"] += len(set(flat) & brute) / 10 / len(queries)
        mean["pruned"] += len(set(pruned) & brute) / 10 / len(queries)

    # rerank < k must not shrink the result below k (both tiers cut at
    # max(rerank, k))
    for rows in (
        pq.ivfpq_knn(
            spark, sf_dir, query_vec_id=7, k=10, probes=4, rerank=4,
            codes_df=codes, centroids=cents, codebooks=books,
        ),
        pq.pq_knn(
            spark, sf_dir, query_vec_id=7, k=10, rerank=4,
            codes_df=fcodes, codebooks=fbooks,
        ),
    ):
        assert len(rows.collect()) == 10

    assert mean["full"] >= mean["flat"] - 0.05, mean
    assert mean["full"] >= 0.5, mean
    assert mean["pruned"] >= 0.4, mean

    oneshot = [
        r["vec_id"]
        for r in pq.ivfpq_knn(
            spark, sf_dir, query_vec_id=7, k=10, probes=4, rerank=32,
            n_clusters=16, seed=1,
        ).collect()
    ]
    prebuilt = [
        r["vec_id"]
        for r in pq.ivfpq_knn(
            spark, sf_dir, query_vec_id=7, k=10, probes=4, rerank=32,
            codes_df=codes, centroids=cents, codebooks=books,
        ).collect()
    ]
    assert oneshot == prebuilt


def test_sq_fit_encode_decode_error_bound(spark, sf_dir):
    """SQ8 quantization error is bounded per dimension: |x − decode| ≤
    step/2 (+eps); constant dimensions encode 0 with zero error; codes
    stay in [0, 255]."""
    import numpy as np
    from pyspark.sql import functions as F

    from oasysdb_spark.index import sq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # add a constant dimension to pin the zero-width path
    embs2 = embs.withColumn(
        "embedding", F.concat(F.col("embedding"), F.array(F.lit(3.5)))
    )
    model = sq.fit_sq(embs2)
    mins, steps = model
    assert steps[-1] == 0.0 and mins[-1] == 3.5
    rows = sq.encode_sq(embs2, model).orderBy("vec_id").limit(30).collect()
    for r in rows:
        codes = np.array(r["sq_code"])
        assert codes.min() >= 0 and codes.max() <= 255
        assert codes[-1] == 0
        dec = sq.decode_sq(codes, model)
        err = np.abs(np.array(r["embedding"]) - dec)
        assert (err <= steps / 2 + 1e-9).all()


def test_sq_score_expr_matches_numpy_decode(spark, sf_dir):
    """The expanded-square JVM score equals the numpy squared distance
    to the DECODED vectors — the expression is exact over the codes,
    not an approximation of an approximation."""
    import numpy as np

    from oasysdb_spark.index import sq

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = sq.fit_sq(embs)
    codes = sq.encode_sq(embs, model)
    sample = codes.orderBy("vec_id").limit(20).collect()
    q = np.array(sample[3]["embedding"])
    got = {
        r["vec_id"]: r["s"]
        for r in codes.select("vec_id", sq.sq_score_expr(q, model).alias("s"))
        .orderBy("vec_id")
        .limit(20)
        .collect()
    }
    for r in sample:
        dec = sq.decode_sq(r["sq_code"], model)
        want = float(((q - dec) ** 2).sum())
        assert abs(got[r["vec_id"]] - want) < 1e-6 * max(1.0, want)


def test_sq_knn_near_exact_recall(spark, sf_dir):
    """SQ8 first-pass scores are near-exact, so recall@10 vs brute force
    must be full at a small rerank; the self-match survives; prebuilt
    model/codes reuse equals the one-shot path; dimension mismatch
    raises cleanly."""
    import pytest as _pytest

    from oasysdb_spark.errors import InvalidArgumentError
    from oasysdb_spark.index import sq
    from oasysdb_spark.operators import vectorops as vec

    got = [
        r["vec_id"]
        for r in sq.sq_knn(spark, sf_dir, query_vec_id=7, k=10).collect()
    ]
    brute = [
        r["vec_id"]
        for r in vec.knn_bruteforce(spark, sf_dir, query_vec_id=7, k=10).collect()
    ]
    assert got[0] == 7
    recall = len(set(got) & set(brute)) / len(brute)
    assert recall >= 0.9, f"SQ8 rerank recall {recall}"

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = sq.fit_sq(embs)
    codes = sq.encode_sq(embs, model).cache()
    pre = [
        r["vec_id"]
        for r in sq.sq_knn(
            spark, sf_dir, query_vec_id=7, k=10, codes_df=codes, model=model
        ).collect()
    ]
    assert pre == got
    with _pytest.raises(InvalidArgumentError, match="dimension"):
        sq.sq_score_expr([1.0, 2.0], model)
    # rerank < k must not shrink the result below k: the candidate cut
    # is max(rerank, k), shared by pq_knn/opq_knn/ivfpq_knn through
    # pq._rerank_top_k and matching Database.query
    short = sq.sq_knn(
        spark, sf_dir, query_vec_id=7, k=10, rerank=3,
        codes_df=codes, model=model,
    ).collect()
    assert len(short) == 10


def test_hnsw_sharded_knn_recall_and_discipline(spark, sf_dir):
    """Sharded HNSW (index/hnsw.py — the reference family's pre-v0.7
    graph index, restored Spark-first as independent per-shard graphs):
    recall@10 vs brute force averaged over 5 queries must be ≥ 0.9;
    the self-match survives; returned distances bit-match the
    brute-force op's round_dist values for shared ids (the shard task's
    numpy distances only pick candidates — output re-ranks through the
    exact JVM path); prebuilt-graph reuse equals the one-shot path;
    m < 2 raises cleanly."""
    import pytest as _pytest

    from oasysdb_spark.errors import InvalidArgumentError
    from oasysdb_spark.index import hnsw
    from oasysdb_spark.operators import vectorops as vec

    g = hnsw.build_hnsw_shards(spark, sf_dir, shards=8).cache()
    g.count()

    hits = 0
    for qid in (0, 7, 13, 21, 34):
        got = [
            (r["vec_id"], r["distance"])
            for r in hnsw.hnsw_knn(
                spark, sf_dir, query_vec_id=qid, k=10, graph_df=g
            ).collect()
        ]
        brute = {
            r["vec_id"]: r["distance"]
            for r in vec.knn_bruteforce(
                spark, sf_dir, query_vec_id=qid, k=10
            ).collect()
        }
        assert got[0][0] == qid  # self-match first at distance 0.0
        hits += len({v for v, _ in got} & set(brute))
        for v, d in got:
            if v in brute:
                assert d == brute[v], (qid, v, d, brute[v])
    recall = hits / 50
    assert recall >= 0.9, f"sharded-HNSW recall@10 {recall}"

    one_shot = [
        tuple(r)
        for r in hnsw.hnsw_knn(spark, sf_dir, query_vec_id=7, k=10, shards=8).collect()
    ]
    reused = [
        tuple(r)
        for r in hnsw.hnsw_knn(
            spark, sf_dir, query_vec_id=7, k=10, graph_df=g
        ).collect()
    ]
    assert one_shot == reused
    with _pytest.raises(InvalidArgumentError, match="m must be"):
        hnsw.build_hnsw_shards(spark, sf_dir, m=1)


def test_hnsw_graph_deterministic_and_bounded_degree(spark, sf_dir):
    """The graph is a pure function of the shard contents: two builds
    yield identical rows (levels come from the md5 family, insertion
    order is sorted, ties break on id). Degrees respect the paper's
    bounds (M at upper layers, 2M at layer 0), and every neighbor id
    stays inside its own shard (graphs are independent)."""
    from oasysdb_spark.index import hnsw

    rows = lambda: sorted(  # noqa: E731
        (r["shard_id"], r["vec_id"], r["level"], [list(x) for x in r["neighbors"]])
        for r in hnsw.build_hnsw_shards(spark, sf_dir, shards=4, m=8).collect()
    )
    a, b = rows(), rows()
    assert a == b
    shard_of = {vid: sid for sid, vid, _, _ in a}
    for sid, vid, level, nbrs in a:
        assert len(nbrs) == level + 1
        for lc, lst in enumerate(nbrs):
            bound = 16 if lc == 0 else 8
            assert len(lst) <= bound, (vid, lc, len(lst))
            for nb in lst:
                assert shard_of[nb] == sid


def test_opq_rotation_orthogonal_and_beats_pq_on_correlated_data(spark):
    """OPQ gates (Ge et al. 2013): the learned rotation is orthogonal
    to machine precision, and on data with strong cross-subspace
    correlation (where plain PQ's independent-subspace assumption is
    maximally wrong) the OPQ sample quantization MSE is at or below
    plain PQ's at the same (m, nbits) budget. Built on a seeded
    synthetic: isotropic Gaussian pushed through a skewed mixing
    matrix so energy concentrates along rotated directions."""
    import numpy as np

    from oasysdb_spark.index import pq

    rng = np.random.default_rng(7)
    d, n = 64, 2000
    mix = rng.normal(size=(d, d)) * np.geomspace(1.0, 0.05, d)[None, :]
    mat = rng.normal(size=(n, d)) @ mix
    df = spark.createDataFrame(
        [([float(x) for x in row],) for row in mat], "embedding array<double>"
    )

    books_pq = pq.fit_codebooks(df, m=8, nbits=4, seed=1)
    rot, books_opq = pq.fit_opq(df, m=8, nbits=4, seed=1, n_iter=5)

    assert np.allclose(rot @ rot.T, np.eye(d), atol=1e-10)

    def mse(x, books, r=None):
        xr = x if r is None else x @ r
        y = pq._reconstruct_local(pq._encode_local(xr, books), books)
        return float(((xr - y) ** 2).sum(axis=1).mean())

    m_pq = mse(mat, books_pq)
    m_opq = mse(mat, books_opq, rot)
    assert m_opq <= m_pq, (m_opq, m_pq)
    # on this correlated design the rotation buys a real margin
    assert m_opq < 0.9 * m_pq, (m_opq, m_pq)


def test_opq_knn_rerank_recall(spark, sf_dir):
    """OPQ serving path: same recall bar as pq_knn on the isotropic
    fixture (rotation is a no-op distribution-wise there — the gate
    proves the rotated encode/query plumbing doesn't LOSE anything),
    self-match survives, and the prebuilt (codes_df, opq) reuse path
    equals the one-shot path."""
    from oasysdb_spark.index import pq
    from oasysdb_spark.operators import vectorops as vec

    got = [
        r["vec_id"]
        for r in pq.opq_knn(spark, sf_dir, query_vec_id=7, k=10).collect()
    ]
    brute = [
        r["vec_id"]
        for r in vec.knn_bruteforce(spark, sf_dir, query_vec_id=7, k=10).collect()
    ]
    assert got[0] == 7
    recall = len(set(got) & set(brute)) / len(brute)
    assert recall >= 0.8, f"OPQ rerank recall {recall}"

    embs = vec.load_embeddings(spark, sf_dir)
    opq = pq.fit_opq(embs.select("embedding"), m=8, nbits=4, seed=42, n_iter=5)
    codes = pq.encode(embs, opq[1], rotation=opq[0]).cache()
    again = [
        r["vec_id"]
        for r in pq.opq_knn(
            spark, sf_dir, query_vec_id=7, k=10, codes_df=codes, opq=opq
        ).collect()
    ]
    assert again == got
    # rerank < k must not shrink the result below k
    short = pq.opq_knn(
        spark, sf_dir, query_vec_id=7, k=10, rerank=4, codes_df=codes, opq=opq
    ).collect()
    assert len(short) == 10


def test_query_embedding_memo_tracks_fixture_signature(spark, tmp_path):
    """vectorops.query_embedding's memo (r15): values match a fresh
    fetch, and rewriting the embeddings fixture at the same path changes
    the file signature so the memo MISSES and the new vector is read —
    the guard that keeps the serving-path amortization safe for tests
    that overwrite tmp fixtures."""
    from pyspark.sql import functions as F

    from oasysdb_spark.operators import vectorops as vec

    d = str(tmp_path)
    path = f"{d}/embeddings.parquet"
    spark.createDataFrame(
        [(0, [1.0, 2.0], 0), (1, [3.0, 4.0], 1)],
        "vec_id bigint, embedding array<double>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(path)

    assert vec.query_embedding(spark, d, 0) == [1.0, 2.0]
    assert vec.embedding_dim(spark, d) == 2
    assert vec.query_embedding(spark, d, 99) is None  # miss memoized too
    # memo hit returns the same values without re-reading
    assert vec.query_embedding(spark, d, 0) == [1.0, 2.0]

    # rewrite the fixture: signature changes, memo misses, new values
    spark.createDataFrame(
        [(0, [9.0, 8.0, 7.0], 0)],
        "vec_id bigint, embedding array<double>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(path)
    assert vec.query_embedding(spark, d, 0) == [9.0, 8.0, 7.0]
    assert vec.embedding_dim(spark, d) == 3
    assert vec.query_embedding(spark, d, 1) is None
