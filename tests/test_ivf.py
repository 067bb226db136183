"""IVF index invariants:

- probes = #clusters degenerates to the exact brute-force answer
  (/root/reference/src/cores/index.rs:176-177; BASELINE.md §3).
- recall@10 vs the brute-force oracle on the embeddings fixture
  (spirit of /root/reference/docs/changelog.md:110-116).
- density split: oversized clusters get divided
  (test_insert_many, /root/reference/src/cores/index.rs:315-332).
- delete of a cluster's last member removes its centroid
  (test_delete, /root/reference/src/cores/index.rs:334-366).
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from oasysdb_spark.core.database import Database, RECORD_SCHEMA
from oasysdb_spark.index.ivf import build_index, split_oversized_clusters

DIM = 8
N = 300


@pytest.fixture(scope="module")
def indexed_db(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivfdb"))
    db = Database.configure(spark, d, dimension=DIM, density=32)
    rows = [
        (f"r{i:05d}", [float(i)] * DIM, {}, {"number": 1000.0 + i}, {})
        for i in range(N)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    k = build_index(db, seed=42)
    assert k >= N // 32
    return db


def test_indexed_exact_when_all_probed(indexed_db):
    n_clusters = len(indexed_db.centroid_rows())
    brute = [
        (r["id"], round(r["distance"], 3))
        for r in _brute(indexed_db, [5.0] * DIM, 10)
    ]
    ivf = [
        (r["id"], round(r["distance"], 3))
        for r in indexed_db.query([5.0] * DIM, k=10, probes=n_clusters)
    ]
    assert ivf == brute


def _brute(db, vec, k, **kw):
    # brute force = bypass the index by querying the unclustered plan
    from oasysdb_spark.filters import MapLayout, compile_filter
    from oasysdb_spark.functions.vectors import distance_expr, to_f32

    df = db.records_df()
    dist = distance_expr(db.params.metric, F.array(*[F.lit(x) for x in vec]), F.col("embedding"))
    rows = (
        df.withColumn("distance", dist)
        .orderBy(F.col("distance").asc_nulls_last(), F.col("id"))
        .limit(k)
        .select("id", to_f32("distance").alias("distance"))
        .collect()
    )
    return [{"id": r["id"], "distance": r["distance"]} for r in rows]


def test_recall_at_default_probes(indexed_db):
    # default probes=32 over ~10 clusters: full recall; tighten to probes=2
    # to make the test meaningful, demand ≥0.9 like BASELINE.md §3
    hits = 0
    for q in ([10.0] * DIM, [100.0] * DIM, [250.0] * DIM):
        brute_ids = {r["id"] for r in _brute(indexed_db, q, 10)}
        ivf_ids = {r["id"] for r in indexed_db.query(q, k=10, probes=2)}
        hits += len(brute_ids & ivf_ids)
    assert hits / 30 >= 0.9


def test_prefilter_on_indexed_path(indexed_db):
    n_clusters = len(indexed_db.centroid_rows())
    res = indexed_db.query([1.0] * DIM, k=10, filter="number > 1050", probes=n_clusters)
    assert res[0]["id"] == "r00051"
    assert all(r["metadata"]["number"] > 1050 for r in res)


def test_query_many_indexed_agrees_with_single(indexed_db):
    """Batched multi-probe ANN through the index: every query's hit list
    equals its standalone query() call, at full probing (exact) and at
    tight probes with a filter (the approximate scale path)."""
    n_clusters = len(indexed_db.centroid_rows())
    qs = [[5.0] * DIM, [100.0] * DIM, [333.0] * DIM]
    batched = indexed_db.query_many(qs, k=7, probes=n_clusters)
    for i, q in enumerate(qs):
        assert batched[i] == indexed_db.query(q, k=7, probes=n_clusters)
    batched = indexed_db.query_many(qs, k=5, filter="number > 1050", probes=2)
    for i, q in enumerate(qs):
        assert batched.get(i, []) == indexed_db.query(
            q, k=5, filter="number > 1050", probes=2
        )


def test_query_many_cosine_and_dataframe_input_agree_with_single(spark, tmp_path):
    """The batch agrees with N single queries on a cosine IVF collection
    too, a (query_id, qvec) DataFrame batch answers exactly like the same
    list batch, and a zero-norm query (no defined cosine) comes back
    empty on both paths instead of breaking the batch."""
    db = Database.configure(spark, str(tmp_path / "cos"), dimension=DIM,
                            metric="cosine", density=16)
    rows = [
        (f"c{i:04d}", [float((i * (j + 3)) % 11) - 5.0 for j in range(DIM)],
         {}, {"number": float(i)}, {})
        for i in range(120)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, seed=7)
    qs = [[1.0] * DIM, [0.0] * DIM, [float(j) - 3.5 for j in range(DIM)]]
    batched = db.query_many(qs, k=5, probes=2)
    for i, q in enumerate(qs):
        assert batched.get(i, []) == db.query(q, k=5, probes=2)
    assert batched.get(1, []) == [] and len(batched[0]) == 5
    df = spark.createDataFrame(
        [(10 * i, q) for i, q in enumerate(qs)], "query_id bigint, qvec array<double>"
    )
    assert db.query_many(df, k=5, probes=2) == {10 * i: v for i, v in batched.items()}


def test_query_equals_query_many_on_probe_near_tie(spark, tmp_path):
    """A query whose two nearest centroids are a floating-point near-tie
    probes the same cluster alone and in a batch: both paths rank
    centroids with one formula, so query(q) == query_many([q])[0]
    (and the same inside a larger batch)."""
    c = [-0.5874276757240295, 0.37970173358917236, -0.016804279759526253,
         1.615681767463684]
    db = Database.configure(spark, str(tmp_path / "tie"), dimension=4, density=1)
    db.insert(c[::-1], record_id="a")
    db.insert(c, record_id="b")
    build_index(db, seed=42)
    q = [0.73] * 4
    single = db.query(q, k=1, probes=1)
    assert db.query_many([q], k=1, probes=1)[0] == single
    assert db.query_many([q, [0.0, 1.0, 2.0, 3.0]], k=1, probes=1)[0] == single


@pytest.mark.parametrize("c, qv", [
    ([0.001606382429599762, -0.12731382250785828, -1.4105581045150757,
      0.15059097111225128], 1.8119990825653076),
    ([-0.8454467058181763, -0.03200168535113335, -0.25857844948768616,
      1.181558609008789], 0.9582732915878296),
])
def test_insert_is_stored_in_its_first_probed_cluster(spark, tmp_path, c, qv):
    """A vector inserted after the build lands in the cluster its own
    query probes first, even when its two nearest centroids are a
    floating-point near-tie: insert and probe rank with one formula."""
    db = Database.configure(spark, str(tmp_path / "tie"), dimension=4, density=1)
    db.insert(c[::-1], record_id="a")
    db.insert(c, record_id="b")
    build_index(db, seed=42)
    q = [qv] * 4
    db.insert(q, record_id="r")
    assert [r["id"] for r in db.query(q, k=1, probes=1)] == ["r"]


def test_exact_tie_split_insert_probes_its_cluster(spark, tmp_path):
    """Splitting a cluster of identical vectors leaves several equal
    centroids. centroid_rows() lists them by cluster_id, so insert and
    probe both break the exact tie toward the lowest id."""
    v = [1.0, 2.0, 3.0, 4.0]
    db = Database.configure(spark, str(tmp_path / "same"), dimension=4, density=2)
    rows = [(f"s{i}", v, {}, {}, {}) for i in range(8)]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, k=1, seed=42)
    split_oversized_clusters(db, seed=42)
    split_oversized_clusters(db, seed=42)
    ids = [cid for cid, _ in db.centroid_rows()]
    assert len(ids) == 4 and ids == sorted(ids)
    db.insert(v, record_id="fresh")
    stored = db.records_df().where(F.col("id") == "fresh").first()["cluster_id"]
    assert stored == db._probe_cluster_ids([v], 1)[0][0] == ids[0]


def test_second_handle_sees_a_rebuilt_index(spark, tmp_path):
    """A handle that served a query before another handle rebuilt the
    index assigns its next insert from the NEW centroids: the record is
    stored in a live cluster, so an indexed query finds it."""
    d = str(tmp_path / "rebuilt")
    a = Database.configure(spark, d, dimension=4, density=8)
    rows = [(f"r{c}-{i}", [10.0 * c + 0.1 * i] * 4, {}, {}, {})
            for c in range(4) for i in range(8)]
    a.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    assert build_index(a, seed=42) == 4
    a.query([0.0] * 4, k=1)
    b = Database.open(spark, d)
    build_index(b, k=2, seed=42)
    a.insert([20.0] * 4, record_id="late")
    stored = a.records_df().where(F.col("id") == "late").first()["cluster_id"]
    assert stored in [cid for cid, _ in b.centroid_rows()]
    fresh = Database.open(spark, d)
    assert [r["id"] for r in fresh.query([20.0] * 4, k=1, probes=100)] == ["late"]


def _nearest_reference(x, cents, metric, keep):
    """Per-pair loop: Σ(c−x)² or 1 − x·c/(|x||c|), NaN last, ties by position."""
    out = []
    for row in x:
        d = []
        for c in cents:
            with np.errstate(all="ignore"):
                if metric == "euclidean":
                    d.append(float(((row - c) ** 2).sum()))
                else:
                    d.append(float(1.0 - (row @ c) / (np.linalg.norm(row) * np.linalg.norm(c))))
        order = sorted(range(len(cents)),
                       key=lambda j: (math.isnan(d[j]), 0.0 if math.isnan(d[j]) else d[j], j))
        out.append(order[:keep])
    return out


@pytest.mark.parametrize("metric", ["euclidean", "cosine"])
@pytest.mark.parametrize("keep", [1, 3, 10])
def test_nearest_centroids_matches_reference(monkeypatch, metric, keep):
    """nearest_centroids against a per-pair loop on small-integer data,
    where every dot product is exact: exact ties (a duplicated centroid,
    a scaled one under cosine) go to the lower position, a zero-norm
    cosine centroid ranks last and a zero-norm cosine query keeps
    position order, keep > #centroids clamps, and a tiny row budget
    forces several chunks without changing the answer."""
    from oasysdb_spark.index import ivf

    rng = np.random.default_rng(5)
    cents = rng.integers(-3, 4, size=(7, 4)).astype(np.float64)
    cents[4] = cents[1]
    cents[5] = 2 * cents[2]
    cents[6] = 0.0
    x = rng.integers(-3, 4, size=(300, 4)).astype(np.float64)
    x[7] = 0.0
    want = _nearest_reference(x, cents, metric, keep)
    got = ivf.nearest_centroids(x, cents, metric, keep)
    assert got.shape == (300, min(keep, 7)) and got.tolist() == want
    monkeypatch.setattr(ivf, "_ASSIGN_BUDGET_ELEMS", 1)  # 64-row chunks
    assert ivf.nearest_centroids(x, cents, metric, keep).tolist() == want
    if metric == "cosine":  # zero-norm query: every distance NaN
        assert want[7] == list(range(min(keep, 7)))
    if metric == "cosine" and keep >= 7:  # zero-norm centroid ranks last
        assert all(r[-1] == 6 for i, r in enumerate(want) if i != 7)


def test_one_records_read_per_call(spark, tmp_path, monkeypatch):
    """Serving and the read-modify-write verbs read the records table once
    per call: whether the table is indexed comes from the frame the call
    already read, not from a second is_indexed() read."""
    from oasysdb_spark.core.tables import VersionedTable

    db = Database.configure(spark, str(tmp_path / "reads"), dimension=DIM, density=16)
    rows = [(f"r{i:03d}", [float(i)] * DIM, {}, {"number": float(i)}, {})
            for i in range(64)]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, seed=3)
    db.centroid_rows()  # warm the centroid cache: count records reads only
    calls = []
    orig = VersionedTable.read
    monkeypatch.setattr(
        VersionedTable, "read", lambda self, s: calls.append(self.root) or orig(self, s)
    )
    qdf = spark.createDataFrame([(0, [1.0] * DIM), (1, [9.0] * DIM)],
                                "query_id bigint, qvec array<double>")
    upd = spark.createDataFrame([("r010", {"t": "x"}, {}, {})],
                                "id string, m_text map<string,string>, "
                                "m_num map<string,double>, m_bool map<string,boolean>")
    for name, call in [
        ("query", lambda: db.query([1.0] * DIM, k=3, probes=2)),
        ("query_many list", lambda: db.query_many([[1.0] * DIM, [9.0] * DIM], k=3)),
        ("query_many frame", lambda: db.query_many(qdf, k=3)),
        ("delete", lambda: db.delete(["r020", "r021"])),
        ("update_metadata_batch", lambda: db.update_metadata_batch(upd)),
        ("update_metadata", lambda: db.update_metadata("r011", {"t": "y"})),
    ]:
        calls.clear()
        call()
        assert calls == [db.records.root], (name, calls)


def test_partition_pruning_in_plan(indexed_db):
    """The probed scan must prune cluster partitions: the parquet scan's
    PartitionFilters should carry the cluster_id IN (...) predicate."""
    df = indexed_db.query_df([5.0] * DIM, k=10, probes=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "cluster_id" in plan and ("PartitionFilters" in plan or "partition" in plan.lower())


def test_serving_plan_shapes(indexed_db):
    """One query attaches as plan literals: no broadcast join, and the
    plan ends in TakeOrderedAndProject (the bounded heap). A batch is
    pruned by the static cluster_id partition filter and probes on the
    driver, so its plan runs no Arrow Python UDF."""
    single = indexed_db.query_df([5.0] * DIM, k=10, probes=2)._jdf.queryExecution()
    plan = single.executedPlan()
    assert "BroadcastHashJoin" not in plan.toString()
    assert plan.nodeName() == "TakeOrderedAndProject"
    batch = indexed_db.query_many_df([[5.0] * DIM, [100.0] * DIM], k=10, probes=2)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:300]
    assert "cluster_id" in pf and "IN (" in pf.upper()
    assert "ArrowEvalPython" not in plan


def test_split_oversized(spark, tmp_path):
    db = Database.configure(spark, str(tmp_path / "splitdb"), dimension=4, density=16)
    # two natural blobs, each > density, forced into one cluster first
    rows = [
        (f"a{i}", [float(i % 7), 0.0, 0.0, 0.0], {}, {}, {})
        for i in range(40)
    ] + [
        (f"b{i}", [100.0 + (i % 7), 0.0, 0.0, 0.0], {}, {}, {})
        for i in range(40)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, k=1, seed=42)
    assert len(db.centroid_rows()) == 1
    n_split = split_oversized_clusters(db, seed=42)
    assert n_split == 1
    assert len(db.centroid_rows()) == 2
    # the two blobs separate cleanly
    groups = (
        db.records_df()
        .groupBy("cluster_id")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    assert sorted(g["c"] for g in groups) == [40, 40]


def test_incremental_insert_assigns_cluster(indexed_db):
    before = len(indexed_db.centroid_rows())
    indexed_db.insert([3.0] * DIM, {"number": 3.0}, record_id="r_new")
    row = (
        indexed_db.records_df().where(F.col("id") == "r_new").select("cluster_id").first()
    )
    assert row["cluster_id"] is not None
    # assigned to the same cluster as its nearest neighbors
    near = (
        indexed_db.records_df().where(F.col("id") == "r00003").select("cluster_id").first()
    )
    assert row["cluster_id"] == near["cluster_id"]
    assert len(indexed_db.centroid_rows()) == before  # no split on hot path


def test_delete_last_member_removes_centroid(spark, tmp_path):
    db = Database.configure(spark, str(tmp_path / "deldb"), dimension=2, density=4)
    rows = [(f"x{i}", [float(i * 50), 0.0], {}, {}, {}) for i in range(4)]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, k=4, seed=1)
    n0 = len(db.centroid_rows())
    victim_cluster = (
        db.records_df().where(F.col("id") == "x0").select("cluster_id").first()["cluster_id"]
    )
    members = [
        r["id"]
        for r in db.records_df().where(F.col("cluster_id") == victim_cluster).collect()
    ]
    db.delete(members)
    assert len(db.centroid_rows()) == n0 - 1


def test_split_density_convergence(spark, tmp_path):
    """F6 fixture (/root/reference/src/cores/index.rs:315-332 spirit):
    1000 seeded-random vectors at density 64 — after build + maintenance
    splits, the cluster count grows well beyond N/density's floor and
    oversized clusters shrink toward the density bound."""
    import random

    from oasysdb_spark.index.ivf import split_oversized_clusters

    rng = random.Random(42)
    db = Database.configure(spark, str(tmp_path / "f6"), dimension=16, density=64)
    rows = [
        (f"r{i:04d}", [rng.uniform(-1, 1) for _ in range(16)], {}, {}, {})
        for i in range(1000)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    # deliberately under-provisioned build (k=8) so clusters start oversized
    build_index(db, k=8, seed=42)
    n0 = len(db.centroid_rows())
    for _ in range(5):
        if split_oversized_clusters(db, seed=42) == 0:
            break
    sizes = [
        r["cnt"]
        for r in db.records_df().groupBy("cluster_id").agg(F.count("*").alias("cnt")).collect()
    ]
    assert len(sizes) > n0
    assert len(sizes) > 1000 // 64  # > 15 clusters, like the reference's >20-of-1000 shape
    assert max(sizes) <= 2 * db.params.density  # converging toward the bound
    assert sum(sizes) == 1000  # no rows lost across rewrites


def test_reopen_database_preserves_index(spark, indexed_db):
    """open() on an indexed directory restores params + index + data
    (the reference's snapshot-load roundtrip,
    /root/reference/src/cores/database.rs:111-126)."""
    db2 = Database.open(spark, indexed_db.dir)
    assert db2.params.dimension == DIM
    assert db2.is_indexed()
    res = db2.query([5.0] * DIM, k=3)
    assert res[0]["id"] == "r00005"


def test_probe_scan_partition_prunes(indexed_db):
    """The probe's isin(cluster_ids) must reach the file source as a
    PartitionFilter on the cluster_id-partitioned records table — probing
    = partition pruning is the core scale claim of the IVF design
    (SURVEY.md §4 row 'cluster probing'); a filter evaluated after a
    full-table scan would silently still pass every correctness test."""
    df = indexed_db.query_df([5.0] * DIM, k=5, probes=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "cluster_id" in pf and "IN (" in pf.upper()


def test_distributed_kmeans_path_end_to_end(spark, tmp_path):
    """Force the MLlib k-means|| branch (local_fit_limit=0): the fit never
    collects vectors to the driver, its centroids feed the same one-pass
    argmin assignment, and probing every cluster stays EXACT vs brute
    force — the path a 100 TB build would actually take."""
    d = str(tmp_path / "dist_ivf")
    db = Database.configure(spark, d, dimension=DIM, density=32)
    rows = [
        (f"m{i:05d}", [float(i)] * DIM, {}, {"number": float(i)}, {})
        for i in range(N)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    k = build_index(db, seed=42, local_fit_limit=0)
    assert k >= N // 32
    assert len(db.centroid_rows()) == k

    brute = [r["id"] for r in db.query([7.0] * DIM, k=5, probes=k)]
    assert brute == [f"m{i:05d}" for i in (7, 6, 8, 5, 9)]


def test_pq_tier_on_database(spark, tmp_path):
    """PQ through the Database surface: build_pq rewrites records with
    codes, query(approx='pq') at full rerank equals the exact query,
    pre-filtering holds, and post-build inserts are encoded at ingest."""
    from oasysdb_spark.index.pq import build_pq

    d = str(tmp_path / "pqdb")
    db = Database.configure(spark, d, dimension=8, density=32)
    rows = [
        (f"p{i:04d}", [float(i)] * 8, {}, {"number": 1000.0 + i}, {})
        for i in range(120)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, seed=5)
    books = build_pq(db, m=4, nbits=4, seed=5)
    assert books.shape == (4, 16, 2)
    assert "pq_code" in db.records_df().columns

    exact = db.query([7.0] * 8, k=10, probes=99)
    approx = db.query([7.0] * 8, k=10, probes=99, approx="pq", rerank=120)
    assert approx == exact  # full rerank == exact, metadata and all

    flt = db.query([7.0] * 8, k=5, probes=99, filter="number > 1050",
                   approx="pq", rerank=120)
    assert flt == db.query([7.0] * 8, k=5, probes=99, filter="number > 1050")
    assert all(r["metadata"]["number"] > 1050 for r in flt)

    # tight rerank still finds the near neighborhood on this 1-D line
    tight = db.query([7.0] * 8, k=5, probes=99, approx="pq", rerank=16)
    assert {r["id"] for r in tight} & {r["id"] for r in exact[:5]}

    # inserts after build_pq carry codes (encode-at-ingest)
    db.insert([500.0] * 8, record_id="late")
    late = db.records_df().where("id = 'late'").first()
    assert late["pq_code"] is not None and len(late["pq_code"]) == 4

    # unknown approx mode / non-built DB raise cleanly
    import pytest as _pytest

    from oasysdb_spark.errors import InvalidArgumentError

    with _pytest.raises(InvalidArgumentError):
        db.query([1.0] * 8, k=3, approx="nope")
    d2 = str(tmp_path / "nopq")
    db2 = Database.configure(spark, d2, dimension=2)
    db2.insert([1.0, 2.0], record_id="x")
    with _pytest.raises(InvalidArgumentError):
        db2.query([1.0, 2.0], k=1, approx="pq")


def test_ivfpq_combined_pruning_and_code_only_candidate_scan(spark, tmp_path):
    """IVF + PQ composed: with a genuinely small probe count the PQ path
    answers from the probed clusters only (equal to the exact probed
    query at full rerank), and the ADC candidate stage's scan schema
    excludes the raw embedding column — codes (and filter maps) only;
    vectors are read by the second scan for the rerank winners alone."""
    from oasysdb_spark.index.pq import build_pq

    d = str(tmp_path / "ivfpqdb")
    db = Database.configure(spark, d, dimension=8, density=16)
    rows = [
        (f"v{i:04d}", [float(i % 40) + (i // 40) * 0.01] * 8, {}, {"n": float(i)}, {})
        for i in range(200)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, seed=5)
    build_pq(db, m=4, nbits=4, seed=5)

    q = [7.0] * 8
    exact_probed = db.query(q, k=10, probes=2)
    pq_probed = db.query(q, k=10, probes=2, approx="pq", rerank=200)
    assert pq_probed == exact_probed

    # FileScan metadata (ReadSchema included) truncates at 100 chars by
    # default — widen it so the schema assertion sees every column
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = (
            db.query_df(q, k=10, probes=2, approx="pq")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    import re

    # capture to end of line — nested generics (map<string,string>) break
    # a non-greedy <...> match
    schemas = re.findall(r"ReadSchema: struct<(.*)", plan)
    assert schemas, "expected parquet scans in the plan"
    code_scans = [s for s in schemas if "pq_code" in s]
    assert code_scans and all("embedding" not in s for s in code_scans)
    vec_scans = [s for s in schemas if "embedding" in s]
    assert vec_scans and all("pq_code" not in s for s in vec_scans)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pq_codebook_cache_invalidated_across_handles(spark, tmp_path):
    """A handle that cached codebooks before another handle's rebuild
    must pick up the NEW books (mtime-stamped cache): encode-at-ingest
    after a rebuild writes codes of the new m, never stale-length codes
    that would NULL out of ADC scoring."""
    from oasysdb_spark.index.pq import build_pq, load_codebooks

    d = str(tmp_path / "pqswap")
    db1 = Database.configure(spark, d, dimension=8, density=32)
    rows = [(f"r{i:03d}", [float(i)] * 8, {}, {}, {}) for i in range(64)]
    db1.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_pq(db1, m=4, nbits=4, seed=5)

    db2 = Database.open(spark, d)
    assert load_codebooks(db2).shape[0] == 4  # db2 caches the m=4 books

    import time

    time.sleep(0.05)  # mtime granularity
    build_pq(db1, m=8, nbits=4, seed=5)  # rebuild with different m

    assert load_codebooks(db2).shape[0] == 8  # stale cache invalidated
    db2.insert([9.0] * 8, record_id="late")
    late = db2.records_df().where("id = 'late'").first()
    assert late["pq_code"] is not None and len(late["pq_code"]) == 8


def test_query_many_pq_agrees_with_single_pq_and_exact(spark, tmp_path):
    """Batched PQ: each query's list equals its standalone
    query(approx='pq') call; at full rerank both equal the exact batched
    answer. Runs indexed with small probes so the combined
    IVF+PQ+batched path is what executes."""
    from oasysdb_spark.index.pq import build_pq

    d = str(tmp_path / "qmpq")
    db = Database.configure(spark, d, dimension=8, density=16)
    rows = [
        (f"v{i:04d}", [float(i % 40) + (i // 40) * 0.01] * 8, {}, {"n": float(i)}, {})
        for i in range(200)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))
    build_index(db, seed=5)
    build_pq(db, m=4, nbits=4, seed=5)

    qs = [[7.0] * 8, [23.0] * 8, [39.5] * 8]
    batched = db.query_many(qs, k=5, probes=3, approx="pq", rerank=200)
    for i, q in enumerate(qs):
        assert batched[i] == db.query(q, k=5, probes=3, approx="pq", rerank=200)
        assert batched[i] == db.query(q, k=5, probes=3)  # full rerank == exact

    # tight rerank + filter still agrees with the single-query path
    batched = db.query_many(
        qs, k=3, probes=3, filter="n > 100", approx="pq", rerank=16
    )
    for i, q in enumerate(qs):
        assert batched.get(i, []) == db.query(
            q, k=3, probes=3, filter="n > 100", approx="pq", rerank=16
        )


def test_residual_pq_tier_on_database(spark, tmp_path):
    """IVFADC through the Database surface: build_pq(residual=True)
    quantizes embedding - centroid, query(approx='pq') transparently
    serves per-probed-cluster ADC tables and equals the exact query at
    full rerank, query_many matches N single queries, inserts after the
    build carry RESIDUAL codes, and the unindexed/residual mismatch
    raises cleanly."""
    import pytest as _pytest

    from oasysdb_spark.errors import InvalidArgumentError
    from oasysdb_spark.index.pq import PQ_FILE, build_pq, load_codebooks_meta

    d = str(tmp_path / "rpqdb")
    db = Database.configure(spark, d, dimension=8, density=16)
    rows = [
        (f"r{i:04d}", [float(i % 40), float(i // 40)] * 4, {}, {"number": float(i)}, {})
        for i in range(160)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))

    # residual build without an index is an explicit error
    with _pytest.raises(InvalidArgumentError):
        build_pq(db, m=4, nbits=4, residual=True)

    build_index(db, seed=5)
    build_pq(db, m=4, nbits=4, seed=5, residual=True)
    books, residual, _rot = load_codebooks_meta(db)
    assert residual is True and books.shape == (4, 16, 2)

    q = [7.0, 0.0] * 4
    exact = db.query(q, k=10, probes=99)
    approx = db.query(q, k=10, probes=99, approx="pq", rerank=160)
    assert approx == exact  # full rerank == exact through residual codes

    flt = db.query(q, k=5, probes=99, filter="number > 30",
                   approx="pq", rerank=160)
    assert flt == db.query(q, k=5, probes=99, filter="number > 30")

    # batched residual serving agrees with N single queries
    qs = [q, [1.0, 1.0] * 4]
    many = db.query_many(qs, k=5, probes=99, approx="pq", rerank=160)
    for qid, qv in enumerate(qs):
        assert many[qid] == db.query(qv, k=5, probes=99, approx="pq", rerank=160)

    # pruned probing still keeps the near neighborhood
    pruned = db.query(q, k=5, probes=2, approx="pq", rerank=64)
    assert {r["id"] for r in pruned} & {r["id"] for r in exact[:5]}

    # inserts after the residual build carry codes that DIFFER from a
    # raw-vector encode (they quantize the residual, not the embedding)
    from oasysdb_spark.index.pq import encode

    db.insert([3.0, 0.0] * 4, record_id="late")
    late = db.records_df().where("id = 'late'").first()
    assert late["pq_code"] is not None and len(late["pq_code"]) == 4
    raw_code = (
        encode(
            spark.createDataFrame([([3.0, 0.0] * 4,)], "embedding array<float>"),
            books,
        ).first()["pq_code"]
    )
    # raw encode vs residual encode agree only if the centroid were ~0;
    # the fixture's centroids are far from 0, so the codes must differ
    assert list(late["pq_code"]) != list(raw_code)

    # corrupting the layout to residual-without-index must hit the
    # residual guard itself, not the generic "PQ tier not built" check —
    # so db2's records DO carry pq_code columns (written directly) and
    # only the index is missing
    import json as _json

    from pyspark.sql import functions as F

    with open(f"{d}/{PQ_FILE}") as f:
        meta = _json.load(f)
    d2 = str(tmp_path / "rpq_noidx")
    db2 = Database.configure(spark, d2, dimension=8, density=16)
    db2.insert_batch(spark.createDataFrame(rows[:20], RECORD_SCHEMA))
    with open(f"{d2}/{PQ_FILE}", "w") as f:
        _json.dump(meta, f)
    coded = db2.records_df().withColumn(
        "pq_code", F.array(*[F.lit(0)] * 4)
    )
    db2.records.write(coded)
    assert not db2.is_indexed() and "pq_code" in db2.records_df().columns
    with _pytest.raises(InvalidArgumentError, match="residual"):
        db2.query(q, k=3, approx="pq")
    with _pytest.raises(InvalidArgumentError, match="residual"):
        db2.query_many([q], k=3, approx="pq")


def test_residual_codes_survive_centroid_maintenance(spark, tmp_path):
    """Centroid maintenance must re-encode the residual layout: a
    density split rewrites records into NEW clusters with NEW centroids,
    which silently invalidates codes quantized against the old ones —
    the reencode hook restores them, so residual approx queries at full
    rerank still equal the exact query, and the stored codes match a
    fresh residual encode over the current centroids."""
    import numpy as np
    from pyspark.sql import functions as F

    from oasysdb_spark.index.pq import build_pq, encode_residual, load_codebooks_meta

    d = str(tmp_path / "rpq_maint")
    db = Database.configure(spark, d, dimension=8, density=8)
    rng = np.random.default_rng(3)
    blob = [
        (f"b{i:03d}", [float(x) for x in rng.normal(0.0, 1.0, 8)], {}, {}, {})
        for i in range(30)
    ]
    far = [
        (f"f{i:03d}", [float(x) for x in rng.normal(50.0, 1.0, 8)], {}, {}, {})
        for i in range(10)
    ]
    db.insert_batch(spark.createDataFrame(blob + far, RECORD_SCHEMA))
    build_index(db, k=2, seed=5)
    build_pq(db, m=4, nbits=4, seed=5, residual=True)

    n_split = split_oversized_clusters(db, seed=5)
    assert n_split >= 1  # the 30-point blob exceeded density=8

    q = [0.0] * 8
    exact = db.query(q, k=10, probes=99)
    approx = db.query(q, k=10, probes=99, approx="pq", rerank=40)
    assert approx == exact  # stale codes would break this silently

    books, residual, _rot = load_codebooks_meta(db)
    assert residual
    stored = {
        r["id"]: list(r["pq_code"]) for r in db.records_df().collect()
    }
    fresh = {
        r["id"]: list(r["pq_code"])
        for r in encode_residual(
            db.records_df().drop("pq_code"), books, db.centroid_rows()
        ).collect()
    }
    assert stored == fresh


def test_opq_tier_on_database(spark, tmp_path):
    """OPQ through the Database surface: build_pq(opq=True) persists
    the learned rotation in pq.json, query(approx='pq') rotates the
    query driver-side and equals the exact query at full rerank,
    query_many matches N single queries, inserts after the build are
    encoded through the rotation (codes differ from an unrotated
    encode), a second handle picks the rotation up from disk, and the
    residual+opq composition serves correctly too."""
    import numpy as np

    from oasysdb_spark.index.pq import build_pq, encode, load_codebooks_meta

    d = str(tmp_path / "opqdb")
    db = Database.configure(spark, d, dimension=8, density=16)
    rows = [
        (f"r{i:04d}", [float(i % 40), float(i // 40)] * 4, {}, {"number": float(i)}, {})
        for i in range(160)
    ]
    db.insert_batch(spark.createDataFrame(rows, RECORD_SCHEMA))

    build_pq(db, m=4, nbits=4, seed=5, opq=True)
    books, residual, rot = load_codebooks_meta(db)
    assert residual is False and rot is not None and rot.shape == (8, 8)
    assert np.allclose(rot @ rot.T, np.eye(8), atol=1e-10)

    q = [7.0, 0.0] * 4
    exact = db.query(q, k=10)
    approx = db.query(q, k=10, approx="pq", rerank=160)
    assert approx == exact  # full rerank == exact through rotated codes

    qs = [q, [1.0, 1.0] * 4]
    many = db.query_many(qs, k=5, approx="pq", rerank=160)
    for qid, qv in enumerate(qs):
        assert many[qid] == db.query(qv, k=5, approx="pq", rerank=160)

    # inserts after the build go through the rotation: the stored code
    # differs from an UNROTATED encode of the same vector
    db.insert([3.0, 0.0] * 4, record_id="late")
    late = db.records_df().where("id = 'late'").first()
    assert late["pq_code"] is not None and len(late["pq_code"]) == 4
    raw_code = (
        encode(
            spark.createDataFrame([([3.0, 0.0] * 4,)], "embedding array<float>"),
            books,
        )
        .first()["pq_code"]
    )
    rot_code = (
        encode(
            spark.createDataFrame([([3.0, 0.0] * 4,)], "embedding array<float>"),
            books,
            rotation=rot,
        )
        .first()["pq_code"]
    )
    assert list(late["pq_code"]) == list(rot_code)
    del raw_code
    # the rotation is materially non-identity: across the table, the
    # rotated and unrotated encodes disagree somewhere (a single vector
    # can coincide by chance, the whole table cannot)
    base = db.records_df().select("embedding")
    both = (
        encode(base, books)
        .withColumnRenamed("pq_code", "raw")
        .join(
            encode(base, books, rotation=rot).withColumnRenamed(
                "pq_code", "rotated"
            ),
            on="embedding",
        )
    )
    assert both.where("raw != rotated").count() > 0

    # a FRESH handle reads the rotation from pq.json and serves equally
    db2 = Database.open(spark, d)
    assert db2.query(q, k=10, approx="pq", rerank=160) == exact

    # residual + opq compose: rebuild as IVFADC with rotation
    build_index(db, seed=5)
    build_pq(db, m=4, nbits=4, seed=5, residual=True, opq=True)
    books2, residual2, rot2 = load_codebooks_meta(db)
    assert residual2 is True and rot2 is not None
    exact2 = db.query(q, k=10, probes=99)
    assert db.query(q, k=10, probes=99, approx="pq", rerank=200) == exact2
