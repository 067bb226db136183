"""Text → embedding → ANN, end to end, with a REAL embedding algorithm:
feature hashing (the "hashing trick", Weinberger et al. 2009 — the
construction behind HashingVectorizer). Each token hashes to a bucket
``h % dim`` with sign from an independent hash bit; the document vector
is the signed bucket count, optionally L2-normalized. No vocabulary, no
training, deterministic across engines — so unlike a learned-model stub,
the whole text→vector→search path is exactly checkable.

The bucket sums are INTEGERS (sums of ±1), so the driver oracle compares
them with no float hazards; cosine re-ranking on top reuses the
oracle-covered vector machinery.

Scale shape: embedding is row-local (one Arrow batch pass, no shuffle);
search is the same brute-force / IVF / LSH machinery as the embeddings
table — build the IVF layout over hashed vectors and probing is partition
pruning, exactly as in index/ivf.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import read_parquet_cached, prepared

from oasysdb_spark.functions.hashing import hash64
from oasysdb_spark.functions.stats import from_micro, round6, to_micro
from oasysdb_spark.functions.text import tokens

SIGN_BIT = 40  # sign bit far above any bucket bit (bucket = h % dim, dim < 2^40)


def _hash_embed_py(toks: list[str], dim: int) -> list[int]:
    """Driver/test-side twin of the expression + UDF paths."""
    import hashlib

    out = [0] * dim
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        out[h % dim] += 1 if (h >> SIGN_BIT) & 1 else -1
    return out


def hashing_embedding_expr(toks, dim: int):
    """Signed-bucket-count embedding as a pure Column expression (JVM
    twin, kept for cross-validation — interpreted HOFs make it the slow
    path at high dim; the Arrow UDF below is the hot path)."""
    h = lambda t: hash64(t)  # noqa: E731
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.when(
                h(t) % dim == d,
                F.when(h(t).bitwiseAND(F.lit(1 << SIGN_BIT)) != 0, 1).otherwise(-1),
            ).otherwise(0),
        ),
    )


def hashing_embedding_udf(dim: int):
    """Arrow-batched hot path: identical values to the expression twin
    (md5 → first 15 hex → int64, bucket ``h % dim``, sign bit 40)."""
    import hashlib
    import re

    import numpy as np

    split = re.compile("[^a-z0-9]+")
    # token→(bucket, ±1) memo: md5 runs once per distinct token per
    # worker lifetime instead of once per occurrence (Zipf repetition
    # makes the hit rate ~99% on natural text). Capped; bit-identical.
    memo: dict = {}
    memo_cap = 1 << 20

    @F.pandas_udf("array<bigint>")
    def udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            toks_ = [w for w in split.split(t.lower()) if w]
            v = np.zeros(dim, dtype=np.int64)
            for w in toks_:
                hit = memo.get(w)
                if hit is None:
                    h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    hit = (h % dim, 1 if (h >> SIGN_BIT) & 1 else -1)
                    if len(memo) < memo_cap:
                        memo[w] = hit
                v[hit[0]] += hit[1]
            out.append(v.tolist())
        return pd.Series(out)

    return udf


def hash_embeddings(
    spark: SparkSession, sf_dir: str, dim: int = 8
) -> DataFrame:
    """Driver-contract query: every document's feature-hashed embedding,
    exploded to (doc_id, pos, val) integer rows — cross-engine exact."""
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    emb = hashing_embedding_expr(tokens(F.col("text")), dim)
    return (
        docs.select("doc_id", F.posexplode(emb).alias("pos", "val"))
        .select("doc_id", F.col("pos").cast("int").alias("pos"), F.col("val").cast("bigint").alias("val"))
    )


def train_lang_classifier(
    spark: SparkSession,
    sf_dir: str,
    dim: int = 256,
    test_fold: int = 4,
    n_folds: int = 5,
):
    """The engine-feeds-training story: hashed-feature embeddings from
    this module train an MLlib model end to end (StringIndexer →
    LogisticRegression), split train/test by a deterministic doc_id fold.
    Returns ``(model, metrics_df)`` where metrics_df has one row:
    n_train, n_test, accuracy.

    The target is WEAK SUPERVISION: the engine's own stopword-heuristic
    language prediction (``functions.text.predict_lang``) — the standard
    production move of distilling a cheap rule into a model that
    generalizes past it. (The fixture's ``lang`` column is intentionally
    label noise — word-salad text drawn from a shared pool — so it is not
    learnable from content and is not the target.)

    Everything upstream of the estimator is this engine's machinery —
    row-local Arrow embedding, no driver materialization; MLlib consumes
    the DataFrame directly (the same handoff a real pretraining-data
    pipeline makes to a trainer)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StringIndexer
    from pyspark.ml.functions import array_to_vector

    from oasysdb_spark.functions.text import predict_lang

    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    data = docs.select(
        "doc_id",
        predict_lang(tokens(F.col("text"))).alias("lang"),
        array_to_vector(
            hashing_embedding_udf(dim)(F.col("text")).cast("array<double>")
        ).alias("features"),
    )
    train = data.where(F.col("doc_id") % n_folds != test_fold)
    test = data.where(F.col("doc_id") % n_folds == test_fold)

    pipe = Pipeline(
        stages=[
            StringIndexer(inputCol="lang", outputCol="label"),
            LogisticRegression(maxIter=30, regParam=0.01),
        ]
    )
    model = pipe.fit(train)
    # Strip the training summary before transform: the fitted LR model
    # holds a BinaryLogisticRegressionTrainingSummary that references
    # the live SparkSession, and once ANY observe() query has run in
    # the session (the composed pipeline's per-stage counts do), task
    # serialization of the transform's ScalaUDF walks model → summary →
    # session → ObservationManager and dies with
    # NotSerializableException (Spark 4.1, found r15). A write/load
    # roundtrip is the supported way to get a summary-free model; loads
    # are eager, so the temp dir can be dropped immediately.
    import tempfile

    from pyspark.ml import PipelineModel

    with tempfile.TemporaryDirectory(prefix="oasys_lang_clf_") as _d:
        model.write().overwrite().save(_d)
        model = PipelineModel.load(_d)
    pred = model.transform(test)
    metrics = pred.select(
        (F.col("label") == F.col("prediction")).cast("int").alias("hit")
    ).agg(
        F.lit(train.count()).cast("bigint").alias("n_train"),
        F.count("*").cast("bigint").alias("n_test"),
        F.round(F.avg("hit"), 6).alias("accuracy"),
    )
    return model, metrics


def corpus_text_search(
    spark: SparkSession,
    sf_dir: str,
    query_text: str,
    k: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Search the document corpus BY TEXT: hash-embed every doc (Arrow,
    row-local), hash-embed the query driver-side with the same function,
    cosine top-k via TakeOrderedAndProject. The full text→vector→ANN
    story in one call; at corpus scale the embedding column is written
    once and indexed (IVF/LSH layouts) instead of recomputed."""
    import re

    from oasysdb_spark.functions.vectors import cosine_distance
    from oasysdb_spark.operators.vectorops import round_dist

    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    embedded = docs.select(
        "doc_id", hashing_embedding_udf(dim)(F.col("text")).alias("emb")
    )
    qtoks = [w for w in re.split("[^a-z0-9]+", query_text.lower()) if w]
    qv = _hash_embed_py(qtoks, dim)
    q = F.array(*[F.lit(float(x)) for x in qv])
    dist = cosine_distance(q, F.col("emb"))
    return (
        embedded.select("doc_id", round_dist(dist).alias("distance"))
        .where(F.col("distance").isNotNull())
        .orderBy("distance", "doc_id")
        .limit(k)
    )


def chunk_retrieval_topk(
    spark: SparkSession,
    sf_dir: str,
    query_doc_id: int = 0,
    k: int = 10,
    dim: int = 16,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """RAG retrieval end-to-end, cross-engine EXACT: chunk every
    document into overlapping token windows (the
    :func:`~oasysdb_spark.operators.textops.chunk_documents` geometry),
    hash-embed each chunk with the signed-bucket family, and return the
    top ``k`` chunks by cosine similarity to the query — here the full
    text of document ``query_doc_id``, embedded driver-side with the
    byte-identical Python twin (the query doc's own chunks are
    excluded). Returns ``(rank, doc_id, chunk_id, cos_sim)``.

    Embeddings are INTEGER vectors, so the dot product and both squared
    norms are exact integer aggregations (partition order cannot move
    them); the only floating step is ONE ``dot / sqrt(nq·nc)``
    division, identical in the oracle. Zero-norm chunks (signs cancelled) are
    excluded on both sides before ranking, and ties break on
    (doc_id, chunk_id).

    Scale shape: chunk embeddings form row-locally (expression HOFs —
    at production dim swap in the Arrow
    :func:`hashing_embedding_udf` twin and WRITE the chunk embedding
    table once, then serve it through the IVF/PQ/HNSW tiers instead of
    rescoring); scoring is a literal-vector expression over one scan,
    and the selection is a bounded TakeOrderedAndProject."""
    import re

    if overlap < 0 or overlap >= chunk_tokens:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            f"overlap must be in [0, chunk_tokens) (got overlap={overlap}, "
            f"chunk_tokens={chunk_tokens}): stride would be <= 0 and the "
            "window would never advance"
        )
    stride = chunk_tokens - overlap
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    piece = lambda i: F.slice(  # noqa: E731 — row-local window expr
        F.col("tk"), i * stride + 1, chunk_tokens
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("tk") - overlap) / F.lit(float(stride))).cast("int"),
    )
    # spread (r15): chunking + per-chunk hash embedding is the op's
    # dominant per-row cost and the single-file fixture otherwise plans
    # it onto ONE task; conditional no-op at corpus scale. explode_outer
    # + null filter rather than plain explode for the same reason: the
    # inferred size-test filter would re-evaluate the whole chunk-embed
    # transform per row (n_chunks >= 1 makes the array never empty, so
    # the outer generate emits no null rows at all).
    from oasysdb_spark.sources.tables import spread_scan

    chunks = (
        spread_scan(
            spark,
            docs.where(F.col("doc_id") != query_doc_id),
            key_path=f"{sf_dir}/documents.parquet",
        )
        .select("doc_id", tokens(F.col("text")).alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.struct(
                        i.cast("bigint").alias("chunk_id"),
                        hashing_embedding_expr(piece(i), dim).alias("emb"),
                    ),
                )
            ).alias("c"),
        )
        .where(F.col("c").isNotNull())
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.emb").alias("emb"),
        )
    )

    qrow = (
        docs.where(F.col("doc_id") == query_doc_id)
        .select("text")
        .first()
    )
    if qrow is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(f"query doc_id {query_doc_id} not found")
    qtoks = [w for w in re.split("[^a-z0-9]+", qrow["text"].lower()) if w]
    qv = _hash_embed_py(qtoks, dim)
    nq = sum(x * x for x in qv)
    if nq == 0:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            f"query doc {query_doc_id} hash-embeds to the zero vector "
            "(empty text or fully cancelled signs): cosine is undefined"
        )
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in qv])

    dot = F.aggregate(
        F.zip_with(F.col("emb"), qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.col("emb"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    scored = (
        chunks.select(
            "doc_id",
            "chunk_id",
            dot.alias("dot"),
            nc.alias("nc"),
        )
        .where(F.col("nc") > 0)
        .select(
            "doc_id",
            "chunk_id",
            round6(
                F.col("dot") / F.sqrt((F.col("nc") * F.lit(int(nq))).cast("double"))
            ).alias("cos_sim"),
        )
    )
    top = scored.orderBy(
        F.desc("cos_sim"), F.asc("doc_id"), F.asc("chunk_id")
    ).limit(k)
    from pyspark.sql import Window

    win = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"), F.asc("chunk_id"))
    return top.withColumn(
        "rank", F.row_number().over(win).cast("bigint")
    ).select("rank", "doc_id", "chunk_id", "cos_sim")


def _balanced_sample_summary(
    labeled: DataFrame, stratum: str, salt: str = "cmix"
) -> DataFrame:
    """Shared tail of the domain-mix rebalancers: given ``(vec_id,
    <stratum>)`` rows, downsample every stratum toward the MEDIAN stratum
    size with a deterministic salted-hash keep rule (the
    text_stratified_sample discipline — reproducible across runs AND
    engines, no rand()). Returns per-stratum
    ``(<stratum>, n_total, n_kept, keep_ppm)``.

    Scale shape: two stratum-keyed aggregations with map-side partials
    (sizes, then kept counts) and one broadcast of the k-row rate table —
    the corpus shuffles nothing wider than partial counts; the keep
    decision is a row-local hash compare."""
    labeled = labeled.cache()
    sizes = labeled.groupBy(stratum).agg(F.count("*").alias("n_total"))
    # k-row aggregate -> scalar collect (a crossJoin of the 1-row median
    # frame would plan as BroadcastNestedLoopJoin and trip the plan sweep)
    med = sizes.agg(F.median("n_total")).first()[0]
    if med is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError("cannot balance-sample an empty corpus")
    target = float(med)
    rates = sizes.select(
        stratum,
        "n_total",
        F.least(
            F.lit(1_000_000),
            F.floor(F.lit(1_000_000.0) * F.lit(target) / F.col("n_total")),
        )
        .cast("bigint")
        .alias("keep_ppm"),
    )
    kept = (
        labeled.join(F.broadcast(rates.select(stratum, "keep_ppm")), stratum)
        .where(
            hash64(F.col("vec_id").cast("string"), salt) % 1_000_000
            < F.col("keep_ppm")
        )
        .groupBy(stratum)
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(kept, stratum, "left")
        .select(
            stratum,
            F.col("n_total").cast("bigint").alias("n_total"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            "keep_ppm",
        )
        .orderBy(stratum)
    )


def label_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing blocked on the fixture's ``label`` column —
    the EXACT twin of :func:`cluster_balanced_sample` (same salted-hash
    keep rule, same median target), fully DuckDB-replayable since the
    stratum is a stored column instead of a learned cluster id. Carries
    the driver-oracle row for the sampling arithmetic."""
    embs = read_parquet_cached(spark, f"{sf_dir}/embeddings.parquet")
    return _balanced_sample_summary(embs.select("vec_id", "label"), "label")


def cluster_balanced_sample(
    spark: SparkSession,
    sf_dir: str,
    n_clusters: int = 8,
    seed: int = 42,
) -> DataFrame:
    """SEMANTIC domain-mix rebalancing — the production path: strata are
    learned IVF cluster ids (seeded :func:`fit_centroids` through the
    guarded sample path, argmin assignment), so over-represented
    semantic domains get downsampled toward the median cluster size even
    when no domain metadata exists (the SemDeDup / DoReMi-style curation
    move). Same deterministic keep rule as the label twin; no SQL oracle
    by nature (learned clustering) — the twin carries the oracle row,
    and tests gate determinism + proportion convergence."""
    from oasysdb_spark.index.ivf import fit_centroids, topk_cluster_assigner

    embs = read_parquet_cached(spark, f"{sf_dir}/embeddings.parquet")
    n = embs.count()
    k = min(n_clusters, n)
    C = fit_centroids(embs.select("embedding"), k=k, seed=seed, max_iter=10, n=n)
    assigner = topk_cluster_assigner(spark, list(enumerate(C)), "euclidean", 1)
    labeled = embs.select(
        "vec_id", assigner(F.col("embedding"))[0].alias("cluster_id")
    )
    return _balanced_sample_summary(labeled, "cluster_id")


def _exact_label_centroids(embs: DataFrame) -> DataFrame:
    """(label, cvec): per-label mean vector with cross-engine-exact
    arithmetic — each component is an integer micro-sum
    (``round(val·1e8)`` per element, accumulated as bigint so partition
    order can't perturb it), divided once and displayed with
    ``from_micro``.
    The shuffle carries only ``(label, pos)`` pairs; reduce state is
    O(labels × dim)."""
    v = F.col("embedding").cast("array<double>")
    return (
        embs.select("label", F.posexplode(v).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.round(F.col("val") * 1e8).cast("bigint")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "label",
            "pos",
            from_micro(F.col("s") / F.col("n") / F.lit(100.0)).alias("cv"),
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cv"))).alias("pc"))
        .select("label", F.transform("pc", lambda s: s["cv"]).alias("cvec"))
    )


def embedding_outlier_stats(
    spark: SparkSession,
    sf_dir: str | None = None,
    min_cos: float = 0.5,
    embs: DataFrame | None = None,
) -> DataFrame:
    """Per-label embedding OUTLIER audit — the mislabel/noise detector a
    training pipeline runs before trusting labels: for each label,
    compute the label centroid, every member's cosine similarity to its
    OWN centroid, and report how many members sit below ``min_cos``
    (likely mislabeled, near-empty, or junk vectors) plus the mean and
    10th-percentile cohesion. A label whose p10 collapses after an
    ingest batch is the classic label-drift signal.

    Returns ``(label, n_vecs, mean_cos, p10_cos, n_outliers,
    outlier_frac)`` — one row per label.

    Centroid components are exact integer sums (``round(val·1e8)`` per
    element, summed as bigint, divided once) so the centroid doubles are
    bit-identical in Spark and DuckDB regardless of partition order;
    per-row cosines are quantized to micro-units before aggregation, so
    the mean is an exact integer sum and the percentile interpolates
    exact integers.

    Scale shape: the centroid pass shuffles only ``(label, pos)`` pairs
    (reduce state O(labels × dim), same as ``label_centroids``); the
    cosine pass is a broadcast join of the tiny centroid table onto one
    scan of the vectors; the final rollup shuffles one quantized bigint
    per row with map-side partial aggregation. Output is |labels| rows."""
    from oasysdb_spark.functions.vectors import dot_product, l2_norm
    from oasysdb_spark.operators.vectorops import load_embeddings

    if embs is None:
        embs = load_embeddings(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    cent = _exact_label_centroids(embs)
    denom = l2_norm(v) * l2_norm(F.col("cvec"))
    joined = embs.join(F.broadcast(cent), "label").select(
        "label",
        F.when(denom != 0.0, dot_product(v, F.col("cvec")) / denom).alias(
            "cos_sim"
        ),
    )
    cm = to_micro(F.col("cos_sim"))
    cut = int(round(min_cos * 1_000_000))
    return (
        joined.where(F.col("cos_sim").isNotNull())
        .select("label", cm.alias("cm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            from_micro(F.sum("cm") / F.count("*")).alias("mean_cos"),
            from_micro(F.percentile(F.col("cm"), F.lit(0.1))).alias("p10_cos"),
            F.sum(F.when(F.col("cm") < cut, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "label",
            "n_vecs",
            "mean_cos",
            "p10_cos",
            "n_outliers",
            round6(
                F.col("n_outliers") / F.col("n_vecs").cast("double")
            ).alias("outlier_frac"),
        )
    )


def label_centroid_similarity(
    spark: SparkSession,
    sf_dir: str | None = None,
    embs: DataFrame | None = None,
) -> DataFrame:
    """Label-confusion proxy matrix — the embedding-space audit run
    before trusting labels as training classes: pairwise cosine
    similarity between LABEL CENTROIDS. Two labels whose centroids sit
    near cosine 1 are candidates for merging (or evidence of systematic
    mislabeling); a label far from every other is either genuinely
    distinct or junk. Complements :func:`embedding_outlier_stats`
    (within-label cohesion) with the between-label separation half.

    Returns ``(label_a, label_b, n_a, n_b, cos_sim)`` for every
    unordered label pair (``label_a < label_b``), ordered by pair.

    Centroids come from :func:`_exact_label_centroids` (integer
    micro-sums, bit-identical cross-engine); the pair cosine is one
    dot/norm evaluation over the 6-dp centroid components.

    Scale shape: one (label, pos) shuffle builds the centroid table
    (O(labels × dim) reduce state); the pair matrix is a broadcast
    self-join of that TINY table — |labels|² rows total, no data-sized
    shuffle anywhere; Catalyst plans the inequality join as a
    BroadcastNestedLoopJoin, which is CORRECT here (both sides are the
    label-bounded centroid table — whitelist it in the repo-wide
    nested-loop guard on promotion). The raw vectors are scanned
    exactly once."""
    from oasysdb_spark.functions.vectors import dot_product, l2_norm
    from oasysdb_spark.operators.vectorops import load_embeddings

    if embs is None:
        embs = load_embeddings(spark, sf_dir)
    counts = embs.groupBy("label").agg(F.count("*").cast("bigint").alias("n"))
    cent = _exact_label_centroids(embs).join(counts, "label")
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("n").alias("n_a"),
        F.col("cvec").alias("cvec_a"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("n").alias("n_b"),
        F.col("cvec").alias("cvec_b"),
    )
    denom = l2_norm(F.col("cvec_a")) * l2_norm(F.col("cvec_b"))
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            # deterministic centroid doubles through one IEEE dot/divide
            round6(
                F.when(
                    denom != 0.0,
                    dot_product(F.col("cvec_a"), F.col("cvec_b")) / denom,
                )
            ).alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


@prepared("embedding_norm_stats")
def embedding_norm_stats(
    spark: SparkSession,
    sf_dir: str | None = None,
    embs: DataFrame | None = None,
) -> DataFrame:
    """Per-label embedding NORM distribution — the collapsed/exploded-
    vector detector: an encoder bug (dead model, fp16 overflow, wrong
    normalization) shows up as a label whose norms collapse toward 0,
    blow up, or bimodalize long before cosine-level audits move.
    Returns ``(label, n_vecs, mean_norm, p10_norm, p90_norm, min_norm,
    max_norm)`` ordered by label.

    The norm is the expression-side sequential fold
    (``sqrt(Σx²)`` == ``sqrt(list_sum(...))``), quantized to 1e-6 units
    before aggregation — mean is an exact integer sum divided once,
    percentiles interpolate exact integers (Spark exact ``percentile``
    == DuckDB ``quantile_cont``), min/max are exact.

    Scale shape: one scan, one map-side-combined shuffle of a single
    bigint per row down to |labels| rows. Nothing else moves."""
    from oasysdb_spark.functions.vectors import l2_norm
    from oasysdb_spark.operators.vectorops import load_embeddings

    if embs is None:
        embs = load_embeddings(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    nm = to_micro(l2_norm(v))
    return (
        embs.select("label", nm.alias("nm"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            # mean and percentiles land on FRACTIONAL micro-units;
            # min/max are exact integers
            from_micro(F.sum("nm") / F.count("*")).alias("mean_norm"),
            from_micro(F.percentile(F.col("nm"), F.lit(0.1))).alias("p10_norm"),
            from_micro(F.percentile(F.col("nm"), F.lit(0.9))).alias("p90_norm"),
            F.round(F.min("nm") / 1e6, 6).alias("min_norm"),
            F.round(F.max("nm") / 1e6, 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def rp_sign_matrix(dim_in: int, dim_out: int) -> "list[list[int]]":
    """The deterministic Johnson-Lindenstrauss sign matrix, shared by
    the Spark operator and its DuckDB oracle: ``s[i][j] = +1`` iff the
    repo's 60-bit md5 hash of ``"{i},{j}"`` salted ``"rp"`` is odd
    (functions/hashing.py family — both engines can re-derive it, and
    the pytest self-oracle does, via ``hash64_sql`` over the same
    literals). A fixed public hash instead of an RNG keeps every build
    of the projection bit-identical everywhere — the repo-wide
    determinism rule."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{i},{j}#rp".encode()).hexdigest()[:15], 16
            )
            & 1
            else -1
            for j in range(dim_out)
        ]
        for i in range(dim_in)
    ]


def random_projection(
    spark: SparkSession,
    sf_dir: str | None = None,
    dim_out: int = 16,
    embs: DataFrame | None = None,
    max_codegen_terms: int = 256,
) -> DataFrame:
    """Deterministic sign random projection (Achlioptas 2003,
    "Database-friendly random projections": ±1 entries satisfy the
    Johnson-Lindenstrauss lemma) — the standard cheap dimensionality
    cut before large-scale near-dup / ANN passes: a 64-d corpus
    projected to 16-d costs 4× less in every downstream distance, with
    pairwise distances preserved in expectation (``E[‖Px‖²] = ‖x‖²``
    after the 1/√k scale — pinned by the pytest distortion gate).

    Returns ``(vec_id, rp_00..rp_{k-1})`` wide, one column per output
    dimension, each ``round(Σᵢ ±eᵢ / √k, 6)`` with the sign matrix from
    :func:`rp_sign_matrix` and the sum chained in ascending-dimension
    order — the cross-engine float discipline (DuckDB replays the same
    left-associated chain bit-for-bit).

    Scale shape: a pure narrow map, two value-identical engines picked
    by term count (``dim_in × dim_out``):

    - at or below ``max_codegen_terms`` (default 256 — r15 measured:
      the fixture's 64→16 = 1024-term chain costs ~7 s of DRIVER-side
      Catalyst analysis + codegen per invocation against ~0.3 s of
      executor work, so the literal engine only wins for genuinely tiny
      matrices; the r7 "chains codegen, runs at scan speed" claim holds
      for the executor but ignored the per-plan driver cost): literal
      ± chains inside whole-stage codegen (no UDF, no matrix broadcast,
      no shuffle);
    - above it, or past chain DEPTH 256 (measured, r9: a 768-deep ±
      chain never reaches codegen — Spark 4's per-node-recursive
      ColumnNodeToExpressionConverter throws StackOverflowError at
      plan conversion; depth 384 still converts on the default JVM
      stack but the knee is a JVM -Xss artifact, so the guard stays
      conservative at 256 — and even below the overflow, Janino
      method-size limits + quadratic Catalyst analysis make ~98k
      nodes interpreted-slow): an Arrow-batched numpy twin
      (``mapInPandas``) that accumulates the SAME left-associated
      ascending-dimension float64 chain vectorized over the batch —
      IEEE addition order identical term for term, so the two engines
      are bit-equal (pinned by the pytest equivalence gate). The twin
      emits raw sums; the shared final projection applies the same
      ``round(x / √k, 6)`` Spark expression on both paths.

    Still zero-shuffle on either path; at 100 TB both run at scan
    speed, the twin bounded by one ``rows × dim_out`` float64 batch
    buffer."""
    import math

    from oasysdb_spark.errors import InvalidArgumentError
    from oasysdb_spark.operators.vectorops import load_embeddings

    # memoized dim probe on the fixture path (r15, guide §5.4): the
    # per-call first() rode a full-scan action. A spread of the GEMM
    # input was measured and REJECTED (min wall 0.39 -> 0.56 s: the
    # numpy GEMM over the whole fixture is faster on one task than 32
    # worker batch setups + the ramp exchange).
    dim_in = None
    if embs is None:
        from oasysdb_spark.operators.vectorops import query_embedding

        embs = load_embeddings(spark, sf_dir)
        emb0 = query_embedding(spark, sf_dir, 0)
        if emb0 is not None:
            dim_in = len(emb0)
    if dim_in is None:
        first = embs.select(F.size("embedding").alias("d")).first()
        if first is None:
            raise InvalidArgumentError("random_projection over zero vectors")
        dim_in = int(first["d"])
    if not (0 < dim_out <= dim_in):
        raise InvalidArgumentError(
            f"dim_out must be in (0, {dim_in}], got {dim_out}"
        )
    signs = rp_sign_matrix(dim_in, dim_out)
    scale = math.sqrt(float(dim_out))
    out_names = [f"rp_{j:02d}" for j in range(dim_out)]

    if dim_in * dim_out <= max_codegen_terms and dim_in <= 256:
        cols = [F.col("vec_id")]
        for j in range(dim_out):
            acc = None
            for i in range(dim_in):
                term = F.element_at("embedding", i + 1).cast("double")
                if acc is None:
                    acc = term if signs[i][j] > 0 else -term
                elif signs[i][j] > 0:
                    acc = acc + term
                else:
                    acc = acc - term
            cols.append(
                F.round(acc / F.lit(scale), 6).alias(out_names[j])
            )
        return embs.select(*cols)

    # GEMM twin: same chain, vectorized over the Arrow batch. np.float64
    # widening of float32 inputs is exact (like the CAST above); x - e is
    # IEEE-defined as x + (-e) and ±1.0 * e flips only the sign bit, so
    # each per-row accumulator sees the bit-identical sequence of adds.
    import numpy as np
    import pandas as pd

    sgn = np.asarray(signs, dtype=np.float64)  # dim_in × dim_out
    raw_names = [f"__s_{j:02d}" for j in range(dim_out)]
    # preserve the caller's id type (the literal engine does) — a
    # bigint cast here would silently NULL string-keyed frames on one
    # engine only (r9 self-review)
    id_type = dict(embs.dtypes)["vec_id"]
    out_schema = f"vec_id {id_type}, " + ", ".join(
        f"{c} double" for c in raw_names
    )

    def _accumulate(emb):
        # left-associated: start at ±e₀ (NOT 0 + ±e₀ — a -0.0 first
        # term must survive), then fold dims in ascending order
        acc = emb[:, 0:1] * sgn[0:1, :]
        for i in range(1, dim_in):
            acc = acc + emb[:, i : i + 1] * sgn[i : i + 1, :]
        return acc

    def _project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = list(pdf["embedding"])
            null_mask = [v is None for v in vals]
            good = []
            for i2, (v, isnull) in enumerate(zip(vals, null_mask)):
                if isnull:
                    continue
                g = np.asarray(v, dtype=np.float64)
                # the literal engine raises INVALID_ARRAY_INDEX on a
                # ragged row under ANSI — the twin must not silently
                # differ (r9 code review)
                if g.ndim != 1 or g.shape[0] != dim_in:
                    raise ValueError(
                        "random_projection: embedding of length "
                        f"{g.shape[0] if g.ndim == 1 else g.shape} does "
                        f"not match dim_in={dim_in}"
                    )
                # a PER-ELEMENT null arrives from Arrow as NaN after
                # asarray; the literal path's element_at yields NULL and
                # the ± chain propagates it to a NULL output — the twin
                # must match, so NaN-bearing rows join the null branch
                # (r9 ADVICE). KNOWN divergence: a genuine float-NaN
                # payload (outside the engine's data model) would
                # propagate as NaN on the literal path but maps to NULL
                # here — Arrow conflates the two worker-side, so the
                # twin cannot tell them apart; we pick the NULL-parity
                # side because per-element nulls are the real input
                # class
                if np.isnan(g).any():
                    null_mask[i2] = True
                    continue
                good.append(g)
            if not any(null_mask):
                out = pd.DataFrame(_accumulate(np.asarray(good)),
                                   columns=raw_names)
                out.insert(0, "vec_id", pdf["vec_id"].to_numpy())
                yield out
                continue
            # NULL embeddings propagate to NULL outputs, exactly like
            # element_at over a NULL array on the literal path
            acc = _accumulate(np.asarray(good)) if good else None
            n = len(vals)
            cols: dict = {"vec_id": list(pdf["vec_id"])}
            for j, name in enumerate(raw_names):
                col = [None] * n
                gi = 0
                for i2, isnull in enumerate(null_mask):
                    if not isnull:
                        col[i2] = float(acc[gi, j])
                        gi += 1
                cols[name] = col
            yield pd.DataFrame(cols)

    raw = embs.select("vec_id", "embedding").mapInPandas(
        _project, schema=out_schema
    )
    return raw.select(
        "vec_id",
        *[
            F.round(F.col(r) / F.lit(scale), 6).alias(o)
            for r, o in zip(raw_names, out_names)
        ],
    )


def hybrid_search_rrf(
    spark: SparkSession,
    sf_dir: str,
    query: str = "hash join merge sort window",
    k: int = 10,
    dim: int = 16,
    pool: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (Cormack, Clarke &
    Buettcher 2009: RRF outperforms either ranker alone and needs no
    score calibration): fuse the BM25 lexical top-``pool`` and the
    signed-bucket hash-embedding cosine top-``pool`` by ``score(d) =
    Σ_legs 1/(rrf_k + rank_leg(d))`` — the standard first stage of a
    modern RAG stack (lexical recall + semantic recall, union'd).

    Returns ``(rank, doc_id, rrf_score, bm25_rank, cos_rank)`` for the
    ``k`` best; a doc absent from one leg's pool carries a NULL rank
    there and contributes only the other leg's term.

    Leg ranks are integers derived from ALREADY ROUNDED leg scores with
    doc_id tie-breaks (both engines rank the identical rounded values),
    and the fused score is a two-term sum of exact reciprocals.

    Scale shape: each leg is the already-audited operator (BM25's only
    corpus shuffle is the query-term-filtered tf; the embedding leg is
    one scan + an Arrow row-local embed + TakeOrderedAndProject); the
    fusion joins two ``pool``-row frames — broadcast-trivial at any
    corpus size."""
    import re

    from pyspark.sql import Window

    from oasysdb_spark.errors import InvalidArgumentError
    from oasysdb_spark.operators import textops

    if k <= 0 or pool < k:
        raise InvalidArgumentError(
            f"need 0 < k <= pool (got k={k}, pool={pool})"
        )
    qtoks = [w for w in re.split("[^a-z0-9]+", query.lower()) if w]
    if not qtoks:
        raise InvalidArgumentError("query tokenizes to nothing")

    lex_w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        textops.bm25_search(spark, sf_dir, query=query, top_k=pool)
        .withColumn("bm25_rank", F.row_number().over(lex_w).cast("bigint"))
        .select("doc_id", "bm25_rank")
    )

    qv = _hash_embed_py(qtoks, dim)
    nq = sum(x * x for x in qv)
    if nq == 0:
        raise InvalidArgumentError(
            "query hash-embeds to the zero vector (signs cancelled): "
            "cosine is undefined — use a longer query or larger dim"
        )
    # spread load (r15, guide §2.1): the hash-embedding UDF + the
    # array dot/norm folds below otherwise run on the single-split
    # fixture scan's ONE task; single consumer (the TakeOrdered cut),
    # so the conditional exchange runs exactly once and not at all at
    # real corpus split counts. Per-row deterministic arithmetic with a
    # doc_id tie-broken cut — partitioning cannot change the result.
    from oasysdb_spark.sources.tables import spread_scan

    docs = spread_scan(
        spark,
        read_parquet_cached(spark, f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        ),
        key_path=f"{sf_dir}/documents.parquet",
    )
    qlit = F.array(*[F.lit(int(x)).cast("long") for x in qv])
    emb = hashing_embedding_udf(dim)(F.col("text"))
    dot = F.aggregate(
        F.zip_with(F.col("emb"), qlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nc = F.aggregate(
        F.col("emb"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    scored = (
        docs.select("doc_id", emb.alias("emb"))
        .select("doc_id", dot.alias("dot"), nc.alias("nc"))
        .where(F.col("nc") > 0)
        .select(
            "doc_id",
            round6(
                F.col("dot") / F.sqrt((F.col("nc") * F.lit(int(nq))).cast("double"))
            ).alias("cos_sim"),
        )
    )
    sem_top = scored.orderBy(F.desc("cos_sim"), F.asc("doc_id")).limit(pool)
    sem_w = Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
    sem = sem_top.withColumn(
        "cos_rank", F.row_number().over(sem_w).cast("bigint")
    ).select("doc_id", "cos_rank")

    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        round6(
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("cos_rank")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    out_w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(out_w).cast("bigint"))
        .select("rank", "doc_id", "rrf_score", "bm25_rank", "cos_rank")
    )
