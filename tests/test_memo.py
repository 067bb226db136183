"""The one in-process session memo (``sources.tables.memo``): default
work dirs build once and follow the embeddings signature, a build's own
outputs are signed after it runs, only positively stopped sessions are
purged, and no second module-level memo exists."""

import ast
import glob
import os
import shutil
import tempfile
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as E
from oasysdb_spark.operators import vectorops as vec
from oasysdb_spark.sources import tables as T

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture()
def emb_dir(sf_dir, tmp_path):
    d = tmp_path / "fx"
    d.mkdir()
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).slice(0, 64)
    pq.write_table(t, str(d / "embeddings.parquet"))
    return str(d)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _plan_hits():
    return T.memo_stats().get("plan", {}).get("hits", 0)


@pytest.mark.parametrize(
    "name, build_fn, prefix",
    [
        ("ivf_knn", "_ivf_knn_build", "oasys_ivf_"),
        ("lsh_knn_indexed", "_lsh_knn_indexed_build", "oasys_lsh_"),
    ],
)
def test_default_index_builds_once_and_repeats_hit_the_plan_memo(
    spark, emb_dir, monkeypatch, name, build_fn, prefix
):
    built = []
    real = getattr(vec, build_fn)
    monkeypatch.setattr(vec, build_fn, lambda *a: built.append(1) or real(*a))
    pattern = os.path.join(tempfile.gettempdir(), prefix + "*")
    before = set(glob.glob(pattern))
    fn = getattr(vec, name)
    first = _rows(fn(spark, emb_dir))
    hits = _plan_hits()
    repeats = [_rows(fn(spark, emb_dir)) for _ in range(2)]
    new_dirs = set(glob.glob(pattern)) - before
    assert len(built) == 1
    assert _plan_hits() == hits + 2
    assert len(new_dirs) == 1
    assert repeats == [first, first]
    for d in new_dirs:
        shutil.rmtree(d, ignore_errors=True)


def test_default_work_dirs_follow_an_embeddings_rewrite(spark, emb_dir, tmp_path):
    defaults = {
        "lsh_knn_indexed": lambda: vec.lsh_knn_indexed(spark, emb_dir),
        "ivf_knn": lambda: vec.ivf_knn(spark, emb_dir),
        "entry._ivf_knn": lambda: E._ivf_knn(spark, emb_dir),
    }
    for default in defaults.values():
        _rows(default())
    # replace-style rewrite keeping the even ids (query id 0 stays)
    path = os.path.join(emb_dir, "embeddings.parquet")
    t = pq.read_table(path)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t["vec_id"], 1), 0)), path + ".new")
    os.replace(path + ".new", path)
    fresh_lsh = _rows(vec.lsh_knn_indexed(spark, emb_dir, work_dir=str(tmp_path / "l")))
    fresh_ivf = _rows(vec.ivf_knn(spark, emb_dir, work_dir=str(tmp_path / "i")))
    assert all(r[0] % 2 == 0 for r in fresh_lsh + fresh_ivf)
    assert _rows(defaults["lsh_knn_indexed"]()) == fresh_lsh
    assert _rows(defaults["ivf_knn"]()) == fresh_ivf
    assert _rows(defaults["entry._ivf_knn"]()) == fresh_ivf


class _StoppedContext:  # a classic SparkContext after stop()
    _jsc = None


class _StoppedSession:
    _sc = _StoppedContext()


class _ConnectSession:  # Spark Connect: no classic context to probe
    @property
    def _sc(self):
        raise RuntimeError("no JVM SparkContext under Spark Connect")


def test_purge_drops_only_positively_stopped_sessions(tmp_path):
    sig = tmp_path / "f"
    sig.write_text("x")
    connect, stopped = _ConnectSession(), _StoppedSession()
    computed = []

    def get(s, key="k"):
        return T.memo(s, "stub", key, (str(sig),), lambda: computed.append(s))

    try:
        get(connect)
        get(stopped)
        get(connect, key="other")  # a miss runs the purge
        get(connect)
        get(stopped)
        assert computed == [connect, stopped, connect, stopped]
    finally:
        for k in [k for k in list(T._MEMO) if k[0] in (connect, stopped)]:
            T._MEMO.pop(k, None)


def test_memo_is_bounded_across_kinds(tmp_path):
    sig = tmp_path / "f"
    sig.write_text("x")
    owner = _ConnectSession()
    try:
        for i in range(T._MEMO_MAX + 10):
            T.memo(owner, f"kind{i % 3}", i, (str(sig),), lambda: i)
        assert len(T._MEMO) <= T._MEMO_MAX
        # FIFO: the newest entry survives, the oldest is gone
        assert (owner, "kind0", 0) not in T._MEMO
        assert T._MEMO[(owner, f"kind{(T._MEMO_MAX + 9) % 3}", T._MEMO_MAX + 9)]
    finally:
        for k in [k for k in list(T._MEMO) if k[0] is owner]:
            T._MEMO.pop(k, None)


def test_none_signature_is_not_memoized(tmp_path):
    owner = _ConnectSession()
    computed = []
    for _ in range(2):
        T.memo(owner, "stub", "k", (str(tmp_path / "missing"),), lambda: computed.append(1))
    assert computed == [1, 1]
    assert not any(k[0] is owner for k in T._MEMO)


# module-level dict memos allowed to exist: the session memo itself, the
# python-worker-side hnsw resident cache, and (not matched by the name
# rule) similarity_join's broadcast ledgers _INDEX_BCS/_PLAN_FPS
_ALLOWED_MEMOS = {
    ("oasysdb_spark/sources/tables.py", "_MEMO"),
    ("oasysdb_spark/sources/tables.py", "_MEMO_STATS"),
    ("oasysdb_spark/index/hnsw.py", "_RESIDENT_CACHE"),
    ("oasysdb_spark/index/hnsw.py", "_RESIDENT_CACHE_BYTES"),
}
_DICT_FACTORIES = {"dict", "OrderedDict", "defaultdict", "Counter",
                   "WeakKeyDictionary", "WeakValueDictionary"}


def _module_memos(src: str):
    """Names of module-level dict assignments containing MEMO or CACHE."""
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        func = getattr(value, "func", None)
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            getattr(func, "id", getattr(func, "attr", None)) in _DICT_FACTORIES
        )
        for t in targets:
            name = getattr(t, "id", "")
            if is_dict and ("MEMO" in name.upper() or "CACHE" in name.upper()):
                yield name


def test_guard_detects_module_level_memos():
    src = "_X_CACHE: dict = {}\n_y_memo = collections.OrderedDict()\n_LIST_CACHE = []\n"
    assert list(_module_memos(src)) == ["_X_CACHE", "_y_memo"]


def test_no_module_memo_outside_the_session_memo():
    files = sorted(REPO.glob("oasysdb_spark/**/*.py")) + [REPO / "__spark_entry__.py"]
    found = {
        (str(f.relative_to(REPO)), name)
        for f in files
        for name in _module_memos(f.read_text())
    }
    assert found - _ALLOWED_MEMOS == set()


def _cache_attributes(src: str):
    """Names of attribute assignments (``x.foo_cache = ...``, plain,
    annotated or augmented) whose target name ends in ``_cache``."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            continue
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Attribute) and sub.attr.endswith("_cache"):
                    yield sub.attr


def test_guard_detects_cache_attributes():
    src = (
        "class D:\n"
        "    def __init__(self):\n"
        "        self._centroid_cache: list | None = None\n"
        "def f(db):\n"
        "    db._hnsw_cache = None\n"
        "    a, db.x_cache = 1, 2\n"
        "    db.cache = {}\n"
        "    _local_cache = {}\n"
        "    return db._pq_cache\n"
    )
    assert sorted(_cache_attributes(src)) == ["_centroid_cache", "_hnsw_cache", "x_cache"]


def test_no_per_handle_cache_attribute_outside_the_session_memo():
    """Index state (centroids, PQ codebooks, the HNSW freshness check) is
    cached only in the session memo, which every handle on a directory
    shares and which a rewrite of the signed files invalidates."""
    files = sorted(REPO.glob("oasysdb_spark/**/*.py")) + [REPO / "__spark_entry__.py"]
    found = {
        (str(f.relative_to(REPO)), name)
        for f in files
        for name in _cache_attributes(f.read_text())
    }
    assert found == set()
