"""Named-collection catalog (judge r10 task 2): the reference's
v0.3-v0.6 multi-collection lineage (`db.create_collection("vectors", ...)`
/ `save_collection` / get, /root/reference/docs/changelog.md:350-368)
restored over the v0.8-shaped Database. Pins:

- lifecycle: two collections under one root with DIFFERENT
  dimensions/metrics/densities, independent records and independent
  index tiers (IVF on one, PQ on the other — neither leaks into the
  other's directory or serving results);
- create-or-replace `save_collection` (the v0.3 semantics);
- membership errors are typed (duplicate create, open/drop of a missing
  name, path-traversal names refused);
- portable hand-off of the WHOLE catalog: export → import round-trips
  every collection bit-equal with its tiers rebuilt, and a snapshot
  whose collection set was tampered with (a collection dropped in
  transit) refuses before any import runs;
- the CLI verbs drive the same paths end to end.
"""

import json
import os
import shutil

import pytest

from oasysdb_spark import errors
from oasysdb_spark.core.catalog import (
    CATALOG_FILE,
    CATALOG_SNAPSHOT_FILE,
    Catalog,
    export_catalog,
    import_catalog,
)
from oasysdb_spark.core.database import Database


def _vecs(n, dim, scale=1.0):
    return [
        [((i * 7 + j * 13) % 29) / 7.0 * scale - 2.0 for j in range(dim)]
        for i in range(n)
    ]


def _fill(db, n, dim, scale=1.0):
    rows = [
        (f"id{i:05d}", v, {"name": f"rec-{i}"}, {"score": float(i)},
         {"flag": i % 2 == 0})
        for i, v in enumerate(_vecs(n, dim, scale))
    ]
    df = db.spark.createDataFrame(
        rows,
        "id string, embedding array<float>, m_text map<string,string>, "
        "m_num map<string,double>, m_bool map<string,boolean>",
    )
    db.insert_batch(df)


def _records_sorted(db):
    return sorted(
        (r["id"], tuple(r["embedding"]))
        for r in db.records_df().select("id", "embedding").collect()
    )


def _serve(db, vec, **kw):
    return sorted(
        (r["id"], r["distance"]) for r in db.query_df(vec, k=5, **kw).collect()
    )


def test_catalog_lifecycle_two_collections_independent_tiers(spark, tmp_path):
    from oasysdb_spark.index.ivf import build_index
    from oasysdb_spark.index.pq import build_pq

    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)

    # two collections, different dims AND metrics AND densities
    # (IVF composes with cosine; PQ is euclidean-only by contract)
    docs = cat.create_collection("docs", dimension=6, metric="cosine",
                                 density=16)
    imgs = cat.create_collection("imgs", dimension=4, metric="euclidean",
                                 density=8)
    _fill(docs, 120, 6)
    _fill(imgs, 80, 4, scale=0.5)

    assert cat.list_collections() == [
        {"name": "docs", "dimension": 6, "metric": "cosine", "density": 16,
         "relevancy": -1.0},
        {"name": "imgs", "dimension": 4, "metric": "euclidean", "density": 8,
         "relevancy": -1.0},
    ]
    counted = cat.list_collections(counts=True)
    assert [(c["name"], c["n_records"]) for c in counted] == [
        ("docs", 120), ("imgs", 80),
    ]

    # independent index tiers: IVF on docs, PQ on imgs
    build_index(docs, k=5)
    build_pq(imgs, m=4, nbits=4, seed=7)
    assert docs.is_indexed() and not imgs.is_indexed()
    assert os.path.exists(os.path.join(imgs.dir, "pq.json"))
    assert not os.path.exists(os.path.join(docs.dir, "pq.json"))

    # each serves with its own dimension/metric; the other's dim refuses
    q6, q4 = _vecs(1, 6)[0], _vecs(1, 4)[0]
    assert len(_serve(cat.open_collection("docs"), q6, probes=3)) == 5
    assert len(_serve(cat.open_collection("imgs"), q4, approx="pq")) == 5
    with pytest.raises(errors.InvalidArgumentError):
        cat.open_collection("docs").query_df(q4, k=5)

    # reopen from disk: membership and parameters survive
    cat2 = Catalog.open(spark, root)
    assert cat2.open_collection("docs").params.metric == "cosine"

    # drop is real: manifest entry AND directory gone, open refuses
    dropped_dir = cat2.open_collection("imgs").dir
    cat2.drop_collection("imgs")
    assert [c["name"] for c in cat2.list_collections()] == ["docs"]
    assert not os.path.isdir(dropped_dir)
    with pytest.raises(errors.NotFoundError):
        cat2.open_collection("imgs")
    with pytest.raises(errors.NotFoundError):
        cat2.drop_collection("imgs")

    # typed membership / naming errors
    with pytest.raises(errors.InvalidArgumentError):
        cat2.create_collection("docs", dimension=3)  # duplicate
    for bad in ("../escape", "a/b", "", ".hidden", "x" * 65):
        with pytest.raises(errors.InvalidArgumentError):
            cat2.create_collection(bad, dimension=3)
    with pytest.raises(errors.InvalidArgumentError):
        Catalog.init(spark, root)  # refuses re-init without overwrite
    with pytest.raises(errors.NotFoundError):
        Catalog.open(spark, str(tmp_path / "nowhere"))


def test_orphan_directory_vacuum(spark, tmp_path):
    """Crash-window recovery: the ordering discipline (dirs created
    before their entry, deleted after it) means the only crash residue
    is an UNREFERENCED directory — a fresh create of the same name
    works immediately (new dir id) and vacuum() reclaims exactly the
    unreferenced dirs, touching nothing the manifest references."""
    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    db = cat.create_collection("docs", dimension=2)
    _fill(db, 5, 2)
    keep = cat.create_collection("keep", dimension=2)
    # simulate a drop killed between manifest update and rmtree
    manifest = cat._read_manifest()
    del manifest["docs"]
    cat._write_manifest(manifest)
    assert os.path.isdir(db.dir)  # the unreferenced residue
    with pytest.raises(errors.NotFoundError):
        cat.open_collection("docs")
    db2 = cat.create_collection("docs", dimension=3)  # name free again
    assert db2.count() == 0 and db2.params.dimension == 3
    # a stray plain file under collections/ is skipped, not rmtree'd
    stray = os.path.join(root, "collections", ".DS_Store")
    with open(stray, "w") as f:
        f.write("x")
    # default grace spares fresh residue (an in-flight concurrent
    # create looks exactly like this); zero grace reclaims it
    assert cat.vacuum() == []
    removed = cat.vacuum(min_age_seconds=0)
    assert removed == [os.path.basename(db.dir)]
    assert not os.path.isdir(db.dir)
    assert os.path.isdir(keep.dir) and os.path.isdir(db2.dir)
    assert os.path.exists(stray)
    assert cat.vacuum(min_age_seconds=0) == []  # idempotent


def test_rename_swap_and_blue_green_reindex(spark, tmp_path):
    """The atomic name operations: rename is one manifest write with
    the data travelling by reference; swap is THE blue-green reindex
    cut-over — a live name atomically repoints to a rebuilt collection
    (different density + an IVF tier) while the staging name ends up
    holding the old data for inspection-then-drop."""
    from oasysdb_spark.index.ivf import build_index

    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    live = cat.create_collection("live", dimension=4, density=64)
    _fill(live, 40, 4)

    # rename: data travels with the entry, old name gone
    cat.rename_collection("live", "corpus")
    assert cat.open_collection("corpus").count() == 40
    with pytest.raises(errors.NotFoundError):
        cat.open_collection("live")
    with pytest.raises(errors.NotFoundError):
        cat.rename_collection("live", "x")
    cat.create_collection("other", dimension=2)
    with pytest.raises(errors.InvalidArgumentError):
        cat.rename_collection("corpus", "other")  # target exists

    # blue-green: build the re-indexed copy aside, then swap
    staging = cat.create_collection("corpus_staging", dimension=4, density=8)
    _fill(staging, 60, 4, scale=0.5)
    build_index(staging, k=3)
    old_dir = cat.open_collection("corpus").dir
    new_dir = staging.dir
    cat.swap_collections("corpus", "corpus_staging")
    # readers of the live name now see the rebuilt collection —
    # parameters AND data travelled together, atomically
    cut_over = cat.open_collection("corpus")
    assert cut_over.dir == new_dir
    assert cut_over.count() == 60 and cut_over.params.density == 8
    assert cut_over.is_indexed()
    assert len(cut_over.query_df(_vecs(1, 4)[0], k=5, probes=2).collect()) == 5
    # the staging name holds the old data until dropped
    parked = cat.open_collection("corpus_staging")
    assert parked.dir == old_dir and parked.count() == 40
    cat.drop_collection("corpus_staging")
    assert not os.path.isdir(old_dir)
    assert cat.open_collection("corpus").count() == 60

    with pytest.raises(errors.NotFoundError):
        cat.swap_collections("corpus", "corpus_staging")


def test_save_collection_create_or_replace(spark, tmp_path):
    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    df1 = spark.createDataFrame(
        [(f"a{i}", [float(i), 0.0], None, None, None) for i in range(10)],
        "id string, embedding array<float>, m_text map<string,string>, "
        "m_num map<string,double>, m_bool map<string,boolean>",
    )
    cat.save_collection("vectors", df1, dimension=2)  # create
    assert cat.open_collection("vectors").count() == 10

    df2 = spark.createDataFrame(
        [(f"b{i}", [0.0, float(i), 1.0], None, None, None) for i in range(4)],
        df1.schema,
    )
    # replace: new parameters, new records — NOT a merge (v0.3 semantics)
    cat.save_collection("vectors", df2, dimension=3, metric="cosine")
    db = cat.open_collection("vectors")
    assert db.count() == 4 and db.params.dimension == 3
    assert {r[0][:1] for r in _records_sorted(db)} == {"b"}

    # a FAILED replace load must leave the existing collection intact
    # (the load runs into an unreferenced dir before the name repoints
    # — r11 review: the old order rmtree'd the live data first)
    bad = spark.createDataFrame(
        [("c0", [1.0, 2.0], None, None, None)], df1.schema
    )  # wrong dimension for the declared 3
    with pytest.raises(errors.InvalidArgumentError):
        cat.save_collection("vectors", bad, dimension=3)
    db = cat.open_collection("vectors")
    assert db.count() == 4 and db.params.metric == "cosine"
    assert cat.vacuum(min_age_seconds=0) != []  # only residue to reap


def test_replace_defers_displaced_dir_to_vacuum_grace(spark, tmp_path):
    """r12 ADVICE: create/save with overwrite must NOT rmtree the
    displaced directory at commit — a reader that resolved the old dir
    id just before the repoint would lose its parquet files mid-query.
    The displaced dir stays on disk (unreferenced, grace clock touched
    at displacement) until vacuum's grace window passes; drop stays
    eager by documented contract."""
    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    df1 = spark.createDataFrame(
        [(f"a{i}", [float(i), 0.0], None, None, None) for i in range(6)],
        "id string, embedding array<float>, m_text map<string,string>, "
        "m_num map<string,double>, m_bool map<string,boolean>",
    )
    cat.save_collection("vectors", df1, dimension=2)
    old_dir = cat.open_collection("vectors").dir
    old_df = cat.open_collection("vectors").records_df()

    cat.save_collection("vectors", df1, dimension=2)  # replace
    assert cat.open_collection("vectors").dir != old_dir
    # the displaced dir survives the commit AND a graced vacuum — the
    # in-flight reader above can still finish
    assert os.path.isdir(old_dir)
    assert cat.vacuum(min_age_seconds=3600) == []
    assert old_df.count() == 6  # reader of the OLD version still serves
    # and the ungraced vacuum reclaims exactly it
    removed = cat.vacuum(min_age_seconds=0)
    assert removed == [os.path.basename(old_dir)]
    assert not os.path.isdir(old_dir)


def test_import_catalog_rejects_invalid_manifest_names(spark, tmp_path):
    """r12 ADVICE: collection names inside a snapshot manifest are
    untrusted input — a crafted name like '../x' must refuse with the
    typed error BEFORE any path join or import, even with verify=False."""
    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    df = spark.createDataFrame(
        [("a0", [1.0, 2.0], None, None, None)],
        "id string, embedding array<float>, m_text map<string,string>, "
        "m_num map<string,double>, m_bool map<string,boolean>",
    )
    cat.save_collection("alpha", df, dimension=2)
    out = str(tmp_path / "snap")
    export_catalog(cat, out)
    # tamper: traversal name in the snapshot manifest
    mpath = os.path.join(out, CATALOG_SNAPSHOT_FILE)
    with open(mpath, encoding="utf-8") as f:
        manifest = json.load(f)
    manifest["collections"] = ["../escape"]
    with open(mpath, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    for verify in (True, False):
        dest = str(tmp_path / f"dest_{verify}")
        with pytest.raises(errors.InvalidArgumentError, match="invalid"):
            import_catalog(spark, out, dest, verify=verify)


def test_catalog_from_jdbc_blue_green_rebuild(spark, tmp_path, capsys):
    """create_collection_from_jdbc composes the v0.7 SQL sourcing with
    the catalog's blue-green primitive: bulk-load under a staging name
    (load + index build run into an UNREFERENCED dir; one manifest
    write publishes), swap with the live name, drop staging — readers
    cut over atomically. A failed load (dim mismatch) must leave the
    live collection untouched. CLI verb included."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark import cli

    dbdir = str(tmp_path / "derby_cat")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    src = spark.createDataFrame(
        [(f"r{i}", [float(i), 0.0], i % 3) for i in range(24)],
        "id string, vec array<double>, label int",
    ).select("id", F.to_json("vec").alias("embedding"), "label")
    src.write.jdbc(url, "vectors", mode="overwrite", properties=props)

    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    live = cat.create_collection_from_jdbc(
        "serving", url, "vectors", properties=props, density=8,
    )
    assert live.count() == 24 and live.is_indexed()
    assert live.params.dimension == 2

    # SQL side re-written (say, re-embedded at a new dimension): rebuild
    # under staging, swap, drop — the blue-green path
    src3 = spark.createDataFrame(
        [(f"n{i}", [float(i), 1.0, 2.0], i % 3) for i in range(10)],
        "id string, vec array<double>, label int",
    ).select("id", F.to_json("vec").alias("embedding"), "label")
    src3.write.jdbc(url, "vectors_v2", mode="overwrite", properties=props)
    cat.create_collection_from_jdbc(
        "serving_staging", url, "vectors_v2", properties=props, density=8,
    )
    cat.swap_collections("serving", "serving_staging")
    cat.drop_collection("serving_staging")
    now = cat.open_collection("serving")
    assert now.count() == 10 and now.params.dimension == 3

    # a failed load never touches the live name: bad dim refuses inside
    # the unreferenced staging dir, manifest unchanged, residue
    # vacuum-able
    with pytest.raises(errors.InvalidArgumentError):
        cat.create_collection_from_jdbc(
            "serving", url, "vectors", dimension=7,
            properties=props, overwrite=True,
        )
    assert cat.open_collection("serving").count() == 10
    assert cat.vacuum(min_age_seconds=0) != []

    # duplicate-name refusal without overwrite
    with pytest.raises(errors.InvalidArgumentError, match="exists"):
        cat.create_collection_from_jdbc(
            "serving", url, "vectors", properties=props,
        )

    # CLI verb
    rc = cli.main([
        "catalog-from-jdbc", "--root", root, "--name", "cli_coll",
        "--url", url, "--table", "vectors",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
        "--density", "8",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["count"] == 24 and out["indexed"]


def _commit_worker(args):
    """Module-level so multiprocessing can pickle it: commit M distinct
    entries against a shared catalog root from this process."""
    root, worker, n_commits = args
    from oasysdb_spark.core.catalog import Catalog

    cat = Catalog(None, root)  # manifest ops never touch the session
    for i in range(n_commits):
        cat._commit_entry(f"w{worker:02d}_c{i:03d}", f"dir_{worker}_{i}", {
            "dimension": 2, "metric": "euclidean", "density": 8,
            "relevancy": -1.0,
        })
    return worker


def test_catalog_manifest_flock_across_processes(spark, tmp_path):
    """The advisory flock must serialize manifest read-modify-write
    sections ACROSS PROCESSES, not just threads (the r11 claim, pinned
    same-process until now): 8 forked workers x 25 commits each against
    one root — without the lock, interleaved re-reads lose entries
    (the loser's write erases the winner's). Every one of the 200
    committed names must survive in the final manifest."""
    import multiprocessing as mp

    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    with mp.get_context("fork").Pool(8) as pool:
        done = pool.map(_commit_worker, [(root, w, 25) for w in range(8)])
    assert sorted(done) == list(range(8))
    names = {c["name"] for c in cat.list_collections()}
    want = {f"w{w:02d}_c{i:03d}" for w in range(8) for i in range(25)}
    assert names == want, f"lost {len(want - names)} committed entries"


def test_catalog_portable_roundtrip_and_tamper_refusal(spark, tmp_path):
    from oasysdb_spark.index.ivf import build_index

    root = str(tmp_path / "src")
    cat = Catalog.init(spark, root)
    a = cat.create_collection("alpha", dimension=6, density=16, relevancy=9.5)
    b = cat.create_collection("beta", dimension=4, metric="cosine", density=8)
    _fill(a, 100, 6)
    _fill(b, 60, 4)
    build_index(a, k=4, seed=13)

    out = str(tmp_path / "snap")
    manifest = export_catalog(cat, out)
    assert manifest["n_collections"] == 2
    assert set(manifest["collections"]) == {"alpha", "beta"}
    # refusal-to-clobber
    with pytest.raises(errors.InvalidArgumentError):
        export_catalog(cat, out)

    dest = str(tmp_path / "dest")
    cat2 = import_catalog(spark, out, dest)
    assert [c["name"] for c in cat2.list_collections()] == ["alpha", "beta"]
    for name in ("alpha", "beta"):
        assert _records_sorted(cat2.open_collection(name)) == _records_sorted(
            cat.open_collection(name)
        )
    # alpha's IVF tier rebuilt from the recorded seed: probed results
    # round-trip exactly; beta stays unindexed
    q = _vecs(1, 6)[0]
    assert _serve(cat2.open_collection("alpha"), q, probes=2) == _serve(
        cat.open_collection("alpha"), q, probes=2
    )
    assert cat2.open_collection("alpha").is_indexed()
    assert not cat2.open_collection("beta").is_indexed()
    # the full Parameters — including the v0.4 relevancy threshold —
    # survive the catalog-level hand-off
    assert cat2.open_collection("alpha").params.relevancy == 9.5
    assert cat2.open_collection("beta").params.relevancy == -1.0

    # re-export with overwrite after dropping a collection: the stale
    # per-collection snapshot dir from the previous export must NOT
    # survive and trip the set check on the tool's own output
    cat.drop_collection("beta")
    export_catalog(cat, out, overwrite=True)
    dest3 = str(tmp_path / "dest3")
    cat3 = import_catalog(spark, out, dest3)
    assert [c["name"] for c in cat3.list_collections()] == ["alpha"]

    # tamper: drop a collection from the snapshot in transit → the
    # collection-set check refuses BEFORE any import runs
    export_catalog(cat, out, overwrite=True)
    shutil.rmtree(os.path.join(out, "collections", "alpha"))
    dest2 = str(tmp_path / "dest2")
    with pytest.raises(errors.InvalidArgumentError, match="collection"):
        import_catalog(spark, out, dest2)
    assert not os.path.exists(os.path.join(dest2, CATALOG_FILE))
    # not-a-snapshot refuses with a typed error
    with pytest.raises(errors.NotFoundError):
        import_catalog(spark, str(tmp_path / "empty"), dest2)


def test_catalog_random_walk_matches_model(spark, tmp_path):
    """Model-based invariant check: a seeded random walk over
    create / create-overwrite / save / drop / rename / swap / vacuum
    must keep the on-disk catalog in lockstep with a trivial Python
    dict model, and every manifest-referenced directory must exist and
    open with the parameters the manifest advertises — the invariants
    all the crash-ordering reasoning rests on."""
    import random

    rng = random.Random(11)
    root = str(tmp_path / "cat")
    cat = Catalog.init(spark, root)
    names = ["a", "b", "c", "d"]
    model: dict[str, int] = {}  # name -> dimension (the param we vary)
    dims = iter(range(2, 200))

    def check():
        listed = cat.list_collections()
        assert [(c["name"], c["dimension"]) for c in listed] == sorted(
            model.items()
        )
        for c in listed:
            db = cat.open_collection(c["name"])
            assert db.params.dimension == model[c["name"]]
            assert os.path.isdir(db.dir)

    for _ in range(30):
        op = rng.choice(["create", "overwrite", "save", "drop", "rename",
                         "swap", "vacuum"])
        name = rng.choice(names)
        if op == "create":
            dim = next(dims)
            if name in model:
                with pytest.raises(errors.InvalidArgumentError):
                    cat.create_collection(name, dimension=dim)
            else:
                cat.create_collection(name, dimension=dim)
                model[name] = dim
        elif op == "overwrite":
            dim = next(dims)
            cat.create_collection(name, dimension=dim, overwrite=True)
            model[name] = dim
        elif op == "save":
            dim = next(dims)
            df = spark.createDataFrame(
                [("x0", [0.0] * dim, None, None, None)],
                "id string, embedding array<float>, "
                "m_text map<string,string>, m_num map<string,double>, "
                "m_bool map<string,boolean>",
            )
            cat.save_collection(name, df, dimension=dim)
            model[name] = dim
        elif op == "drop":
            if name in model:
                cat.drop_collection(name)
                del model[name]
            else:
                with pytest.raises(errors.NotFoundError):
                    cat.drop_collection(name)
        elif op == "rename":
            other = rng.choice(names)
            if name not in model:
                with pytest.raises(errors.NotFoundError):
                    cat.rename_collection(name, other)
            elif other in model:
                with pytest.raises(errors.InvalidArgumentError):
                    cat.rename_collection(name, other)
            else:
                cat.rename_collection(name, other)
                model[other] = model.pop(name)
        elif op == "swap":
            other = rng.choice(names)
            if name in model and other in model and name != other:
                cat.swap_collections(name, other)
                model[name], model[other] = model[other], model[name]
            elif name not in model or other not in model:
                with pytest.raises(errors.NotFoundError):
                    cat.swap_collections(name, other)
        else:
            cat.vacuum(min_age_seconds=0)
        check()
    # end state: vacuum leaves exactly the referenced dirs on disk
    cat.vacuum(min_age_seconds=0)
    on_disk = set(os.listdir(os.path.join(root, "collections")))
    referenced = {e["dir"] for e in cat._read_manifest().values()}
    assert on_disk == referenced


def test_catalog_cli_roundtrip(spark, tmp_path, capsys):
    from oasysdb_spark import cli

    root = str(tmp_path / "cat")
    assert cli.main(["catalog-init", "--root", root]) == 0
    assert cli.main([
        "catalog-create", "--root", root, "--name", "docs",
        "--dimension", "4", "--density", "8",
    ]) == 0
    assert cli.main([
        "catalog-create", "--root", root, "--name", "imgs",
        "--dimension", "3", "--metric", "cosine",
    ]) == 0
    _fill(Catalog.open(spark, root).open_collection("docs"), 30, 4)

    capsys.readouterr()
    assert cli.main(["catalog-list", "--root", root, "--counts"]) == 0
    listed = json.loads(capsys.readouterr().out.strip())["collections"]
    assert [(c["name"], c["n_records"]) for c in listed] == [
        ("docs", 30), ("imgs", 0),
    ]

    snap = str(tmp_path / "snap")
    dest = str(tmp_path / "dest")
    assert cli.main(["export-catalog", "--root", root, "--out", snap]) == 0
    assert os.path.exists(os.path.join(snap, CATALOG_SNAPSHOT_FILE))
    capsys.readouterr()
    assert cli.main(["import-catalog", "--root", dest, "--src", snap]) == 0
    imported = json.loads(capsys.readouterr().out.strip())["collections"]
    assert [(c["name"], c["n_records"]) for c in imported] == [
        ("docs", 30), ("imgs", 0),
    ]

    assert cli.main(["catalog-drop", "--root", root, "--name", "imgs"]) == 0
    capsys.readouterr()
    assert cli.main(["catalog-list", "--root", root]) == 0
    listed = json.loads(capsys.readouterr().out.strip())["collections"]
    assert [c["name"] for c in listed] == ["docs"]

    # name ops + vacuum through the CLI
    assert cli.main(["catalog-rename", "--root", root,
                     "--name", "docs", "--to", "corpus"]) == 0
    assert cli.main(["catalog-create", "--root", root, "--name", "docs",
                     "--dimension", "4"]) == 0
    assert cli.main(["catalog-swap", "--root", root,
                     "--a", "corpus", "--b", "docs"]) == 0
    cat2 = Catalog.open(spark, root)
    assert cat2.open_collection("docs").count() == 30  # swapped back in
    assert cat2.open_collection("corpus").count() == 0
    capsys.readouterr()
    assert cli.main(["catalog-vacuum", "--root", root]) == 0
    assert json.loads(capsys.readouterr().out.strip())["removed_dirs"] == []


def test_catalog_sync_and_reconcile_jdbc_verbs(spark, tmp_path, capsys):
    """The named-collection operational lifecycle of the v0.7 SQL
    lineage in one CLI flow: catalog-from-jdbc with a declared
    watermark (state seeded pre-load, mark excluded from metadata),
    catalog-sync-jdbc pulling only rows newer than the bulk load, and
    catalog-reconcile-jdbc propagating an UPDATE + DELETE — all
    resolved through collection NAMES, never directory paths."""
    import json as _json

    from pyspark.sql import functions as F

    from oasysdb_spark import cli

    dbdir = str(tmp_path / "derby_catops")
    url = f"jdbc:derby:{dbdir};create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}

    def frame(rows):
        return spark.createDataFrame(
            rows, "id string, vec array<double>, seq int"
        ).select("id", F.to_json("vec").alias("embedding"), "seq")

    frame([(f"r{i}", [float(i), 0.0], i) for i in range(10)]).write.jdbc(
        url, "vectors", mode="overwrite", properties=props
    )
    root = str(tmp_path / "cat")
    assert cli.main(["catalog-init", "--root", root]) == 0
    rc = cli.main([
        "catalog-from-jdbc", "--root", root, "--name", "serving",
        "--url", url, "--table", "vectors", "--watermark-col", "seq",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
        "--density", "8",
    ])
    assert rc == 0

    # sync by NAME: only the two appended rows land (seeded mark)
    frame([("r10", [10.0, 0.0], 10), ("r11", [11.0, 0.0], 11)]).write.jdbc(
        url, "vectors", mode="append", properties=props
    )
    rc = cli.main([
        "catalog-sync-jdbc", "--root", root, "--name", "serving",
        "--url", url, "--table", "vectors", "--watermark-col", "seq",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["ingested"] == 2 and out["count"] == 12

    # mutate the source (update r3's vector, delete r7), reconcile by NAME
    mutated = [
        (f"r{i}", [float(i), 0.0], i) for i in range(12) if i not in (3, 7)
    ] + [("r3", [3.0, 9.0], 3)]
    frame(mutated).write.jdbc(url, "vectors", mode="overwrite", properties=props)
    rc = cli.main([
        "catalog-reconcile-jdbc", "--root", root, "--name", "serving",
        "--url", url, "--table", "vectors",
        "--driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver",
    ])
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and out["updated"] == 1 and out["deleted"] == 1
    assert out["added"] == 0 and out["count"] == 11

    db = Catalog.open(spark, root).open_collection("serving")
    assert db.query_df([3.0, 9.0], k=1).collect()[0]["id"] == "r3"


def test_jdbc_verbs_match_their_catalog_twins():
    """Each JDBC verb and its catalog- twin take the same flags with the
    same defaults, apart from the target (--dir versus --root/--name):
    both declare their flags through one function per verb, and one
    keyword builder serves both dispatch sites. No Spark needed."""
    import argparse

    from oasysdb_spark import cli

    parser = cli.build_parser()
    verbs = next(
        a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
    ).choices

    def flags(name, target):
        out = {}
        for a in verbs[name]._actions:
            if a.dest in target or a.dest == "help":
                continue
            out[tuple(a.option_strings)] = (
                a.dest, a.default, a.required, a.type, a.nargs, a.const,
            )
        return out

    for verb in ("from-jdbc", "sync-jdbc", "reconcile-jdbc"):
        own = flags(verb, {"dir"})
        twin = flags(f"catalog-{verb}", {"root", "name"})
        assert own and own == twin, verb
        assert "dir" in {a.dest for a in verbs[verb]._actions}
        assert {"root", "name"} <= {
            a.dest for a in verbs[f"catalog-{verb}"]._actions
        }
