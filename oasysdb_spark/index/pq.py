"""Product quantization (PQ) for memory-bounded ANN.

The scale problem this solves: a 100 TB corpus of float32 embeddings
cannot keep raw vectors hot for scoring — PQ compresses each vector to
``m`` small codes (here m sub-codes of ``nbits`` bits each: 8×4 bits =
4 bytes per 64-dim vector, a 64× reduction from float32) by splitting
the dimension into ``m`` subspaces and k-means-quantizing each subspace
independently (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011 — public literature; the reference engine has no
compression tier, /root/reference/src/cores/index.rs stores raw f32).

Query-side scoring is ASYMMETRIC DISTANCE COMPUTATION (ADC): the query
stays uncompressed, a per-query table of ``m × 2^nbits`` partial squared
distances is computed once driver-side (tiny), and each row's
approximate distance is ``m`` table lookups — expressed here as a pure
JVM ``aggregate(zip_with(...))`` over the code array against a literal
flattened table, so the scan runs whole-stage-codegen with NO Python in
the hot path and NO raw-vector IO. An exact re-rank of the top
candidates (fetching raw vectors for only those rows) restores recall —
the standard PQ + re-rank serving shape.

Codebook fit mirrors the IVF path's discipline (index/ivf.py
fit_centroids): seeded uniform sample, Arrow collect, per-subspace
seeded k-means — never ``limit()``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oasysdb_spark.errors import InvalidArgumentError
from oasysdb_spark.index.ivf import (
    _kmeans_fit_local,
    fit_centroids,
    nearest_centroids,
    topk_cluster_assigner,
)
from oasysdb_spark.session import release_pins_with, tiny_df
from oasysdb_spark.sources.tables import memo


def fit_codebooks(
    df: DataFrame,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    fit_sample_size: int = 100_000,
    n: int | None = None,
) -> np.ndarray:
    """Fit PQ codebooks: returns ``(m, 2**nbits, dim // m)`` float64.

    ``df`` must expose an ``embedding`` array column whose dimension is
    divisible by ``m``. Each subspace is quantized with the same seeded
    local k-means the IVF tier uses (small k — k-means++ always)."""
    if n is None:
        n = df.count()
    if n == 0:
        raise InvalidArgumentError("cannot fit PQ codebooks over zero rows")
    fit_df = df
    if n > fit_sample_size:
        fit_df = df.sample(fraction=fit_sample_size / n, seed=seed)
    pdf = fit_df.select("embedding").toPandas()
    mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    return _fit_codebooks_local(mat, m, nbits, seed, max_iter)


def _fit_codebooks_local(
    mat: np.ndarray, m: int, nbits: int, seed: int, max_iter: int
) -> np.ndarray:
    """Driver-side per-subspace codebook fit over an (n, dim) sample
    matrix — shared by the plain PQ fit and the OPQ alternation."""
    dim = mat.shape[1]
    if dim % m != 0:
        raise InvalidArgumentError(f"dimension {dim} not divisible by m={m}")
    dsub = dim // m
    k = 2**nbits
    books = np.empty((m, k, dsub), dtype=np.float64)
    for j in range(m):
        sub = np.ascontiguousarray(mat[:, j * dsub : (j + 1) * dsub])
        cents = _kmeans_fit_local(sub, k=min(k, len(sub)), seed=seed + j, max_iter=max_iter)
        got = np.asarray(cents)
        if len(got) < k:  # degenerate tiny input: pad by repeating
            got = np.vstack([got] * ((k // len(got)) + 1))[:k]
        books[j] = got
    return books


def _encode_local(mat: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Encode an (n, dim) matrix: each subspace's nearest codeword
    (:func:`~oasysdb_spark.index.ivf.nearest_centroids`), shape (n, m)
    int32. The OPQ fit calls it driver-side and the ``encode`` UDF once
    per Arrow batch."""
    m, k, dsub = books.shape
    codes = np.empty((len(mat), m), dtype=np.int32)
    for j in range(m):
        codes[:, j] = nearest_centroids(mat[:, j * dsub : (j + 1) * dsub], books[j])[:, 0]
    return codes


def _reconstruct_local(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_encode_local`: concatenate each row's chosen
    codewords back into an (n, dim) reconstruction."""
    m, k, dsub = books.shape
    return np.concatenate([books[j][codes[:, j]] for j in range(m)], axis=1)


def fit_opq(
    df: DataFrame,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    n_iter: int = 5,
    max_iter: int = 10,
    fit_sample_size: int = 100_000,
    n: int | None = None,
) -> "tuple[np.ndarray, np.ndarray]":
    """Optimized Product Quantization (Ge et al. 2013, "Optimized
    Product Quantization for Approximate Nearest Neighbor Search" —
    the non-parametric alternation): learn an ORTHOGONAL rotation
    ``R`` so the rotated data's subspaces are as independent and
    balanced as PQ assumes, then quantize the rotated vectors. Plain
    PQ's error is dominated by correlated/unbalanced dimensions
    (energy concentrated in one subspace); rotation redistributes it.

    Alternation from ``R = I``: (1) fix R, fit per-subspace codebooks
    on ``X @ R``; (2) fix the quantization ``Y``, solve the orthogonal
    Procrustes problem ``min_R ||X R − Y||_F`` in closed form
    (``R = U Vᵀ`` from ``svd(Xᵀ Y)``) — each half-step cannot increase
    the quantization error, so the sample MSE is non-increasing (the
    twin test asserts OPQ ≤ plain PQ on correlated data). All fit work
    is driver-side over the same seeded bounded sample discipline as
    :func:`fit_codebooks` (the d×d SVD is O(d³), microseconds at
    embedding dims); serving reuses the entire PQ/ADC path with the
    query rotated driver-side and rows rotated inside the one
    Arrow-batched encode pass — distances are rotation-invariant so
    the exact re-rank tail is unchanged.

    Returns ``(R, codebooks)`` with ``R`` (dim, dim) orthogonal and
    codebooks shaped like :func:`fit_codebooks`'s."""
    if n is None:
        n = df.count()
    if n == 0:
        raise InvalidArgumentError("cannot fit OPQ over zero rows")
    fit_df = df
    if n > fit_sample_size:
        fit_df = df.sample(fraction=fit_sample_size / n, seed=seed)
    pdf = fit_df.select("embedding").toPandas()
    mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
    dim = mat.shape[1]
    if dim % m != 0:
        raise InvalidArgumentError(f"dimension {dim} not divisible by m={m}")
    rot = np.eye(dim)
    for _ in range(n_iter):
        xr = mat @ rot
        books = _fit_codebooks_local(xr, m, nbits, seed, max_iter)
        y = _reconstruct_local(_encode_local(xr, books), books)
        u, _s, vt = np.linalg.svd(mat.T @ y)
        rot = u @ vt
    # final books consistent with the final rotation
    books = _fit_codebooks_local(mat @ rot, m, nbits, seed, max_iter)
    return rot, books


def encode(
    df: DataFrame,
    codebooks: np.ndarray,
    col: str = "embedding",
    rotation: "np.ndarray | None" = None,
) -> DataFrame:
    """Append ``pq_code array<int>`` (length m): per-subspace nearest
    codeword of the ``col`` array column, computed Arrow-batched with one
    BLAS matmul per subspace. Run ONCE at ingest and store the codes —
    queries never touch raw vectors except in the re-rank tail.
    ``rotation`` (OPQ): rotate each batch by the broadcast (dim, dim)
    orthogonal matrix before quantizing — one extra GEMM in the same
    Arrow pass, nothing else changes."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (
            np.asarray(codebooks, dtype=np.float64),
            None if rotation is None else np.asarray(rotation, dtype=np.float64),
        )
    )

    @F.pandas_udf("array<int>")
    def _enc(emb: pd.Series) -> pd.Series:
        books, rot = bc.value
        x = np.asarray(emb.tolist(), dtype=np.float64)
        if rot is not None:
            x = x @ rot
        return pd.Series(_encode_local(x, books).tolist())

    return df.withColumn("pq_code", _enc(F.col(col)))


def residual_frame(
    df: DataFrame, centroid_rows: "list[tuple[int, list[float]]]"
) -> DataFrame:
    """Append ``__resid = embedding − centroid[cluster_id]`` (JVM-side
    ``zip_with`` against the broadcast-joined centroid table). ``df`` must
    carry ``cluster_id``; the joined ``__cent`` column is dropped."""
    spark = df.sparkSession
    cent_df = tiny_df(
        spark,
        [(int(c), [float(x) for x in v]) for c, v in centroid_rows],
        "cluster_id int, __cent array<double>",
    )
    return (
        df.join(F.broadcast(cent_df), "cluster_id")
        .withColumn(
            "__resid",
            F.zip_with("embedding", "__cent", lambda a, b: a.cast("double") - b),
        )
        .drop("__cent")
    )


def encode_residual(
    df: DataFrame,
    codebooks: np.ndarray,
    centroid_rows: "list[tuple[int, list[float]]]",
    rotation: "np.ndarray | None" = None,
) -> DataFrame:
    """Residual (IVFADC) encode for a frame that carries ``cluster_id``:
    codes quantize ``embedding − centroid[cluster_id]`` (rotated first
    when an OPQ rotation is attached — rotation is linear, so
    ``R(x − c) = Rx − Rc`` and the query side rotates its residual the
    same way)."""
    return encode(
        residual_frame(df, centroid_rows), codebooks, col="__resid", rotation=rotation
    ).drop("__resid")


def adc_table(query: "list[float] | np.ndarray", codebooks: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup table ``(m, k)``: squared distance from the
    query's j-th sub-vector to each codeword of subspace j. Tiny (m·k
    doubles), computed once driver-side like the IVF centroid ranking."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, k, dsub = books.shape
    q = np.asarray(query, dtype=np.float64).reshape(m, dsub)
    return ((books - q[:, None, :]) ** 2).sum(axis=2)


def adc_score_expr(table: np.ndarray):
    """JVM-side ADC score for a ``pq_code`` column: flatten the table to
    a literal array and sum ``m`` lookups via aggregate(zip_with) —
    whole-stage codegen, no Python, no raw vectors."""
    m, k = table.shape
    flat = F.array(*[F.lit(float(v)) for v in table.ravel()])
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    partials = F.zip_with(
        F.col("pq_code"),
        idx,
        lambda c, j: F.element_at(flat, (j * k + c + 1).cast("int")),
    )
    return F.aggregate(partials, F.lit(0.0), lambda acc, x: acc + x)


def adc_score_col(table_col, k: int):
    """Batched ADC: score ``pq_code`` against a PER-ROW flattened lookup
    table column — the multi-query form, where each broadcast-joined
    query row carries its own ``m*k`` table instead of a plan literal.
    Same whole-stage-codegen aggregate(zip_with) shape as
    :func:`adc_score_expr`."""
    idx = F.sequence(F.lit(0), F.size("pq_code") - 1)
    partials = F.zip_with(
        F.col("pq_code"),
        idx,
        lambda c, j: F.element_at(table_col, (j * k + c + 1).cast("int")),
    )
    return F.aggregate(partials, F.lit(0.0), lambda acc, x: acc + x)


PQ_FILE = "pq.json"


def build_pq(
    db,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    max_iter: int = 10,
    fit_sample_size: int = 100_000,
    residual: bool = False,
    opq: bool = False,
    opq_iter: int = 5,
) -> np.ndarray:
    """Attach the PQ compression tier to a Database: fit codebooks over
    the record embeddings (seeded guarded sample), rewrite the records
    table with a ``pq_code`` column (cluster layout preserved), and
    persist the codebooks as ``pq.json`` beside ``params.json`` (m·2^nbits
    ·dsub doubles — centroid-table sized). Afterwards
    ``Database.query(..., approx="pq")`` serves ADC + exact-re-rank from
    the codes, and ``insert_batch`` encodes new rows at ingest so codes
    never go missing. Codebooks drift as the data distribution does —
    rebuild on the same maintenance schedule as ``compact()``.

    ``residual=True`` builds the IVFADC variant (requires the IVF index):
    codes quantize ``embedding − centroid[cluster_id]`` instead of the
    raw vector — residual norms shrink with the coarse fit, so the same
    code bytes quantize finer. Query-side, each probed cluster then gets
    its own ADC table on ``q − centroid_c`` (see ``Database.query``). The
    flag is persisted in ``pq.json`` so serving and ingest agree with the
    build forever after.

    ``opq=True`` additionally learns the Ge-et-al. orthogonal rotation
    (:func:`fit_opq`) over the same fit frame (raw vectors, or the
    residuals under ``residual=True`` — rotation is linear so residual
    OPQ is sound) and persists it in ``pq.json``: ingest rotates inside
    the one encode pass and every query path rotates its vector (or
    per-cluster residual) driver-side before building ADC tables."""
    import json
    import os

    from oasysdb_spark.core.config import atomic_write_text

    if residual and not db.is_indexed():
        raise InvalidArgumentError(
            "residual PQ (IVFADC) requires the IVF index: build_index first"
        )
    records = db.records_df()
    if "pq_code" in records.columns:
        records = records.drop("pq_code")
    n = records.count()
    if n == 0:
        raise InvalidArgumentError("cannot build PQ over zero records")
    if residual:
        fit_src = residual_frame(records, db.centroid_rows())
        fit_col, fit_frame = "__resid", fit_src
    else:
        fit_col, fit_frame = "embedding", records
    rot = None
    if opq:
        rot, books = fit_opq(
            fit_frame.select(F.col(fit_col).alias("embedding")),
            m=m,
            nbits=nbits,
            seed=seed,
            n_iter=opq_iter,
            max_iter=max_iter,
            fit_sample_size=fit_sample_size,
            n=n,
        )
    else:
        books = fit_codebooks(
            fit_frame.select(F.col(fit_col).alias("embedding")),
            m=m,
            nbits=nbits,
            seed=seed,
            max_iter=max_iter,
            fit_sample_size=fit_sample_size,
            n=n,
        )
    if residual:
        encoded = encode(fit_src, books, col="__resid", rotation=rot).drop("__resid")
    else:
        encoded = encode(records, books, rotation=rot)
    partition = ["cluster_id"] if db.is_indexed() else None
    db.records.write(encoded, partition_by=partition)
    atomic_write_text(
        os.path.join(db.dir, PQ_FILE),
        json.dumps(
            {
                "m": m,
                "nbits": nbits,
                "residual": residual,
                # build knobs beyond the learned artifacts: a portable
                # import rebuilds from these, so a non-default seed /
                # opq_iter must survive the manifest round-trip
                # (r10 review — knobs.get("seed", 42) was dead code)
                "seed": seed,
                "opq_iter": opq_iter,
                "codebooks": books.tolist(),
                "rotation": None if rot is None else rot.tolist(),
            }
        ),
    )
    return books


def reencode_residual_codes(db) -> bool:
    """Re-encode ``pq_code`` over the CURRENT centroids when a RESIDUAL
    PQ layout is attached; returns True when a rewrite happened.

    Residual codes quantize ``embedding − centroid[cluster_id]``, so ANY
    centroid movement (``build_index`` re-run, ``refresh_centroids``,
    ``split_oversized_clusters``) silently invalidates them — the query
    side would join fresh centroids' ADC tables against stale residuals
    and return garbage candidates with no error. Every centroid-
    maintenance path therefore calls this hook after writing the new
    centroid table. Raw-vector PQ codes don't depend on centroids and
    are left untouched (returns False). The rewrite is one encode pass
    over the table — maintenance-job cost, same class as the rewrite
    that moved the centroids. Codebook DRIFT (the residual distribution
    changing shape) is the separate, documented rebuild-on-schedule
    concern; this hook restores the serving math's correctness, which
    requires codes against current centroids."""
    meta = load_codebooks_meta(db)
    if meta is None or not meta[1]:
        return False
    books, _residual, rot = meta
    records = db.records_df()
    if "pq_code" in records.columns:
        records = records.drop("pq_code")
    encoded = encode_residual(records, books, db.centroid_rows(), rotation=rot)
    db.records.write(encoded, partition_by=["cluster_id"])
    return True


def load_codebooks_meta(db) -> "tuple[np.ndarray, bool, np.ndarray | None] | None":
    """``(codebooks, residual, rotation)`` for a Database, or None when
    PQ was never built. The ``residual`` flag records whether the
    layout is IVFADC (codes over ``embedding − centroid``); ``rotation``
    is the OPQ matrix (None for plain PQ) — serving and ingest must
    honor both or scores are garbage.

    Held in the session memo (kind ``pq``, keyed and signed by
    ``pq.json``), so every handle sees a ``build_pq`` rebuild (different
    m/nbits/residual) by any other: stale codebooks would encode new
    inserts into wrong-length codes that score NULL under ADC and
    silently vanish from approx queries. An absent ``pq.json`` returns
    None and stores nothing."""
    import json
    import os

    path = os.path.join(db.dir, PQ_FILE)
    if not os.path.exists(path):
        return None

    def compute():
        with open(path, encoding="utf-8") as f:
            d = json.load(f)
        raw_rot = d.get("rotation")
        return (
            np.asarray(d["codebooks"], dtype=np.float64),
            bool(d.get("residual", False)),
            None if raw_rot is None else np.asarray(raw_rot, dtype=np.float64),
        )

    return memo(db.spark, "pq", os.path.abspath(path), (path,), compute)


def _rerank_top_k(scored: DataFrame, embs: DataFrame, qvec, rerank: int, k: int) -> DataFrame:
    """The candidate-then-exact tail of every quantized fixture k-NN:
    keep the best ``max(rerank, k)`` rows of ``scored`` (``vec_id``,
    approximate ``adc`` score) — nulls last, ties by ``vec_id``; a
    rerank under k must not shrink the result below k — join their raw
    vectors from ``embs``, and return the top ``k`` by exact euclidean
    distance to ``qvec``."""
    from oasysdb_spark.functions.vectors import const_distance
    from oasysdb_spark.operators.vectorops import round_dist

    cand = scored.orderBy(F.col("adc").asc_nulls_last(), "vec_id").limit(max(rerank, k))
    exact = cand.join(embs, "vec_id").select(
        "vec_id", round_dist(const_distance("euclidean", qvec)).alias("distance")
    )
    return exact.orderBy(F.col("distance").asc(), "vec_id").limit(k)


def load_codebooks(db) -> "np.ndarray | None":
    """Codebooks only (see :func:`load_codebooks_meta`)."""
    meta = load_codebooks_meta(db)
    return None if meta is None else meta[0]


def pq_knn(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 128,
    seed: int = 42,
    codes_df: DataFrame | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """PQ + exact-re-rank k-NN over the embeddings fixture: ADC scores
    every code row (JVM lookups over 4-byte codes), keeps the best
    ``max(rerank, k)`` candidates, then computes exact distances for
    only those rows and returns the top ``k`` — the memory-bounded
    serving path.

    Measured recall@10 vs brute force on the isotropic random fixture
    (PQ's worst case — no manifold structure for the codebooks to
    exploit) at m=8, nbits=4: rerank 64 → 0.6, 128 → 0.9, 256 → 1.0;
    gated ≥0.8 in tests at the default. Real embedding distributions
    recall far higher at the same settings. ``rerank`` is the
    recall/IO lever: raw-vector reads scale with it, not with N.

    Pass ``codes_df``/``codebooks`` to reuse a prebuilt encode (the
    steady-state shape: encode once at ingest, query many times); a
    passed ``codes_df`` stays the caller's, while codes this call
    encodes and caches itself ride the result (``release_frame``)."""
    from oasysdb_spark.operators.vectorops import load_embeddings, query_embedding

    embs = load_embeddings(spark, sf_dir)
    if codebooks is None:
        codebooks = fit_codebooks(
            embs.select("embedding"), m=m, nbits=nbits, seed=seed
        )
    pins = ()
    if codes_df is None:
        codes_df = encode(embs, codebooks).cache()
        pins = (codes_df,)
    qvec = query_embedding(spark, sf_dir, query_vec_id)
    if qvec is None:
        raise InvalidArgumentError(f"query vec_id {query_vec_id} not found")

    table = adc_table(qvec, codebooks)
    scored = codes_df.select("vec_id", adc_score_expr(table).alias("adc"))
    return release_pins_with(_rerank_top_k(scored, embs, qvec, rerank, k), *pins)


def opq_knn(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 128,
    seed: int = 42,
    n_iter: int = 5,
    codes_df: DataFrame | None = None,
    opq: "tuple[np.ndarray, np.ndarray] | None" = None,
) -> DataFrame:
    """OPQ + exact-re-rank k-NN — :func:`pq_knn` with the learned
    rotation applied: rows rotate inside the one ingest-time encode
    pass, the query rotates driver-side before the ADC table, and
    because rotation preserves Euclidean distance the candidate
    ADC ordering approximates the SAME true distances, so the exact
    re-rank tail (raw vectors, unrotated) is byte-identical to PQ's.
    Same memory budget as PQ at equal (m, nbits); the rotation buys
    quantization error, which buys recall-per-rerank on correlated
    data (the fixture is isotropic — PQ's worst case and OPQ's
    no-op case — so the recall gate reuses PQ's bar and the
    MSE-improvement gate runs on correlated synthetic data). Codes this
    call encodes itself ride the result, as in :func:`pq_knn`."""
    from oasysdb_spark.operators.vectorops import load_embeddings, query_embedding

    embs = load_embeddings(spark, sf_dir)
    if opq is None:
        opq = fit_opq(
            embs.select("embedding"), m=m, nbits=nbits, seed=seed, n_iter=n_iter
        )
    rot, books = opq
    pins = ()
    if codes_df is None:
        codes_df = encode(embs, books, rotation=rot).cache()
        pins = (codes_df,)
    _q = query_embedding(spark, sf_dir, query_vec_id)
    if _q is None:
        raise InvalidArgumentError(f"query vec_id {query_vec_id} not found")
    qvec = np.asarray(_q, dtype=np.float64)

    table = adc_table(qvec @ rot, books)
    scored = codes_df.select("vec_id", adc_score_expr(table).alias("adc"))
    return release_pins_with(_rerank_top_k(scored, embs, qvec, rerank, k), *pins)


def build_ivfpq(
    spark,
    sf_dir: str,
    n_clusters: int = 16,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
):
    """Fit the IVFADC layout over the embeddings fixture: coarse IVF
    centroids (the shared guarded `fit_centroids` path), then RESIDUAL
    PQ codebooks — each vector is quantized as
    ``x ≈ centroid[cluster(x)] + codeword(residual)`` (Jégou et al. 2011
    §IVFADC). Residuals are much smaller in norm than raw vectors, so
    the same 4-byte code budget quantizes them more finely; this is why
    every production IVF-PQ system encodes residuals, not raw vectors.

    Returns ``(codes_df, centroids, codebooks)`` where ``codes_df`` is
    ``(vec_id, cluster_id, pq_code)`` — the steady-state table an ingest
    job would persist partitioned by ``cluster_id``. The codes come back
    CACHED and materialized (the assign+encode UDF chain runs once, at
    build time) and stay the CALLER's to release; the intermediate
    residual frame is unpersisted. The residual is
    computed JVM-side (``zip_with`` against the broadcast-joined
    centroid), so the only Python in the build is the Arrow-batched
    assign/encode pair that already powers the IVF and PQ tiers."""
    from oasysdb_spark.operators.vectorops import load_embeddings

    embs = load_embeddings(spark, sf_dir)
    cents = fit_centroids(embs, k=n_clusters, seed=seed)
    assign = topk_cluster_assigner(spark, list(enumerate(cents)), "euclidean", 1)
    cent_df = tiny_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster_id int, centroid array<double>",
    )
    resid = (
        embs.withColumn("cluster_id", assign(F.col("embedding"))[0])
        .join(F.broadcast(cent_df), "cluster_id")
        .select(
            "vec_id",
            "cluster_id",
            F.zip_with(
                "embedding", "centroid", lambda a, b: a.cast("double") - b
            ).alias("embedding"),
        )
        .cache()  # reused by the codebook fit AND the encode pass
    )
    books = fit_codebooks(
        resid.select("embedding"), m=m, nbits=nbits, seed=seed
    )
    # materialize the codes eagerly (build is the batch/ingest step) so
    # the assign+encode UDF chain runs ONCE, then release the residuals
    codes = (
        encode(resid, books).select("vec_id", "cluster_id", "pq_code").cache()
    )
    codes.count()
    resid.unpersist()
    return codes, cents, books


def ivfpq_knn(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_clusters: int = 16,
    probes: int = 4,
    m: int = 8,
    nbits: int = 4,
    rerank: int = 128,
    seed: int = 42,
    codes_df: DataFrame | None = None,
    centroids: "list[list[float]] | None" = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVFADC k-NN: probe the ``probes`` nearest coarse clusters
    (partition pruning on ``cluster_id`` — at scale the codes table is
    partitioned by it, so unprobed clusters are never read), score the
    survivors by ADC over RESIDUAL codes — per probed cluster the query
    residual ``q - centroid_c`` gets its own tiny lookup table, shipped
    as a ``probes``-row broadcast frame and summed by the same
    whole-stage-codegen ``aggregate(zip_with)`` as the flat PQ path —
    then exact-re-rank the best ``max(rerank, k)`` candidates from raw
    vectors.

    The two approximation levers compose independently: ``probes``
    bounds how much of the corpus is scanned (IO), ``rerank`` bounds
    raw-vector reads (recall repair). Residual coding beats flat PQ at
    equal code bytes because residual norms shrink with the coarse fit.

    Pass ``codes_df``/``centroids``/``codebooks`` from
    :func:`build_ivfpq` to reuse a prebuilt layout (the steady-state
    serving shape); a layout this call builds itself rides the result
    (``release_frame``)."""
    from oasysdb_spark.operators.vectorops import load_embeddings, query_embedding

    prebuilt = (codes_df is not None, centroids is not None, codebooks is not None)
    if any(prebuilt) and not all(prebuilt):
        # a partial layout is always a mistake: rebuilding would silently
        # ignore the expensive pieces the caller DID pass, and mixing
        # pieces from different builds scores garbage
        raise InvalidArgumentError(
            "pass codes_df, centroids and codebooks together (from build_ivfpq) "
            "or none of them"
        )
    pins = ()
    if codes_df is None:
        codes_df, centroids, codebooks = build_ivfpq(
            spark, sf_dir, n_clusters=n_clusters, m=m, nbits=nbits, seed=seed
        )
        pins = (codes_df,)
    embs = load_embeddings(spark, sf_dir)
    _q = query_embedding(spark, sf_dir, query_vec_id)
    if _q is None:
        raise InvalidArgumentError(f"query vec_id {query_vec_id} not found")
    qvec = np.asarray(_q, dtype=np.float64)

    carr = np.asarray(centroids, dtype=np.float64)
    probe_ids = nearest_centroids(qvec, carr, keep=probes)[0].tolist()
    tab_df = tiny_df(
        spark,
        [
            (c, [float(v) for v in adc_table(qvec - carr[c], codebooks).ravel()])
            for c in probe_ids
        ],
        "cluster_id int, adc_flat array<double>",
    )
    scored = (
        codes_df.where(F.col("cluster_id").isin(probe_ids))
        .join(F.broadcast(tab_df), "cluster_id")
        # stride derives from the codebooks actually in use, NOT the
        # nbits parameter — a prebuilt layout with a different nbits
        # would otherwise silently read the wrong table entries
        .select(
            "vec_id",
            adc_score_col(F.col("adc_flat"), int(np.asarray(codebooks).shape[1])).alias(
                "adc"
            ),
        )
    )
    return release_pins_with(_rerank_top_k(scored, embs, qvec, rerank, k), *pins)
