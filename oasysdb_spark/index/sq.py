"""Scalar quantization (SQ8) — the middle rung of the compression
ladder: raw float32 → SQ8 (4×, near-exact) → PQ/IVFADC (64×, coarser;
``index/pq.py``).

One uint8 per dimension under a per-dimension affine range: the fit is
a single EXACT distributed aggregation (per-dim min/max — no sampling,
no k-means, nothing to converge), encode is a row-local expression, and
query-side scoring never touches Python or raw vectors: with
``q' = q − min`` the squared distance to a decoded code expands to

    Σ_d (q'_d − c_d·s_d)²  =  Σ_d q'_d²  −  Σ_d (2 q'_d s_d) c_d
                              +  Σ_d s_d² c_d²

so the scan is two ``aggregate(zip_with(codes, <literal array>))``
passes (linear + quadratic term) plus a per-query constant — pure
whole-stage-codegen JVM arithmetic over the 1-byte codes, the same
no-raw-IO shape as PQ's ADC. Exact re-rank of the top candidates
restores the last recall fraction, though SQ8's quantization error is
bounded per-dimension (≤ step/2), so candidates are already near-exact.

The Database's attached compression tier stays PQ (``build-pq`` /
``--approx pq`` — the 64× option you need at 100 TB); SQ8 is the
package-level option for corpora that fit 4× compression and want
near-exact first-pass scores.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oasysdb_spark.errors import InvalidArgumentError


def fit_sq(df: DataFrame, col: str = "embedding") -> np.ndarray:
    """Per-dimension affine ranges over an embedding column: returns
    ``(2, dim)`` float64 — row 0 the minima, row 1 the steps
    ``(max − min)/255`` (0.0 for constant dimensions). ONE exact
    aggregation: positions explode, per-position min/max, dim rows
    collected (the whole model is 2·dim doubles)."""
    rows = (
        df.select(F.posexplode(col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    if not rows:
        raise InvalidArgumentError("cannot fit SQ over zero records")
    dim = max(r["pos"] for r in rows) + 1
    mins = np.zeros(dim)
    steps = np.zeros(dim)
    for r in rows:
        mins[r["pos"]] = r["lo"]
        steps[r["pos"]] = (r["hi"] - r["lo"]) / 255.0
    return np.stack([mins, steps])


def _lit_arr(vals) -> "F.Column":
    return F.array(*[F.lit(float(v)) for v in vals])


def encode_sq(df: DataFrame, model: np.ndarray, col: str = "embedding") -> DataFrame:
    """Add ``sq_code`` (array<int>, values 0..255): row-local expression
    ``clamp(round((x − min)/step))``; constant dimensions encode 0."""
    mins, steps = model
    inv = np.where(steps > 0, 1.0 / np.where(steps > 0, steps, 1.0), 0.0)
    shifted = F.zip_with(F.col(col), _lit_arr(mins), lambda x, mn: x - mn)
    codes = F.zip_with(
        shifted,
        _lit_arr(inv),
        lambda d, iv: F.least(
            F.lit(255), F.greatest(F.lit(0), F.round(d * iv).cast("int"))
        ),
    )
    return df.withColumn("sq_code", codes)


def sq_score_expr(query, model: np.ndarray):
    """Approximate squared-Euclidean distance of a query to an
    ``sq_code`` row, as a JVM expression (expanded-square form): a
    per-query constant plus a linear and a quadratic aggregate over the
    code bytes against literal coefficient arrays."""
    mins, steps = model
    q = np.asarray(query, dtype=np.float64)
    if q.shape[0] != mins.shape[0]:
        raise InvalidArgumentError(
            f"query dimension {q.shape[0]} != fitted dimension {mins.shape[0]}"
        )
    qp = q - mins
    const = float((qp * qp).sum())
    b = 2.0 * qp * steps
    c = steps * steps
    lin = F.aggregate(
        F.zip_with(F.col("sq_code"), _lit_arr(b), lambda code, bb: code * bb),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    quad = F.aggregate(
        F.zip_with(
            F.col("sq_code"), _lit_arr(c), lambda code, cc: code * code * cc
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.lit(const) - lin + quad


def decode_sq(codes, model: np.ndarray) -> np.ndarray:
    """Driver-side decode (tests/diagnostics): code → min + code·step."""
    mins, steps = model
    return mins + np.asarray(codes, dtype=np.float64) * steps


def sq_knn(
    spark,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    rerank: int = 32,
    codes_df: DataFrame | None = None,
    model: np.ndarray | None = None,
) -> DataFrame:
    """SQ8 + exact-re-rank k-NN over the embeddings fixture, mirroring
    ``pq.pq_knn``: score every code row JVM-side, keep the best
    ``max(rerank, k)``, exact distances for only those, top ``k``. SQ8
    first-pass scores are near-exact (per-dim error ≤ step/2), so small
    reranks already reach full recall — gated in tests.

    Pass ``codes_df``/``model`` to reuse a prebuilt encode (steady
    state: encode once at ingest, query many times)."""
    from oasysdb_spark.index.pq import _rerank_top_k
    from oasysdb_spark.operators.vectorops import load_embeddings, query_embedding

    embs = load_embeddings(spark, sf_dir)
    if model is None:
        model = fit_sq(embs)
    if codes_df is None:
        codes_df = encode_sq(embs, model)
    qvec = query_embedding(spark, sf_dir, query_vec_id)
    if qvec is None:
        raise InvalidArgumentError(f"query vec_id {query_vec_id} not found")

    scored = codes_df.select("vec_id", sq_score_expr(qvec, model).alias("adc"))
    return _rerank_top_k(scored, embs, qvec, rerank, k)
