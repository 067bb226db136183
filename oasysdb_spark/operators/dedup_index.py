"""Persisted near-duplicate signature index + incremental delta dedup.

Production corpora are refreshed in increments: recomputing MinHash over
100 TB of corpus to dedup a 100 GB crawl batch is the anti-pattern this
module removes. The corpus's signature tables are computed ONCE and
persisted; each new batch probes them, and — once scrubbed — extends
them, so per-batch cost scales with the batch, not the corpus.

Layout under ``index_dir``:

- ``bands/``    (doc_id, band_id, band_key) — candidate generation side
- ``shingles/`` (doc_id, sh: array<bigint>) — hashed-shingle verify side
- ``_META.json`` — the (num_hashes, band_size, shingle_n) the index was
  built with. A probe MUST use the same parameters (band keys from a
  different signature scheme silently match nothing), so the probe
  reads them from the index instead of trusting the caller.

Scale shape of :func:`delta_near_dups` (mirrors
``dedup.decontaminate_against``, whose physics are driver-verified):
the batch side computes signatures row-locally and BROADCASTS
(size-guarded) — candidate generation is then a map-side broadcast-hash
join streaming over the persisted band table, so the corpus-scale band
index never shuffles. The verify join (candidates ⋈ index shingles) is
a plain equi-join: the candidate count is batch_rows × per-doc corpus
collisions — NOT bounded by the batch-row guard — so it is never
force-broadcast; AQE converts it to a broadcast join at runtime
whenever it measures small. Past the guard the whole probe degrades to
shuffled equi-joins — still bucketed, never all-pairs.

Intra-batch duplicates are deliberately out of scope here: run the
existing self-join ops (``dedup.minhash_lsh_pairs`` /
``minhash_candidate_edges``) on the batch alone — it is batch-sized
work and needs no index.

Reference parity note: the reference engine has no text/dedup tier at
all (SURVEY §2.5); this extends the north-star LLM-pipeline surface.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oasysdb_spark.errors import InvalidArgumentError
from oasysdb_spark.operators.dedup import (
    band_candidates,
    jaccard_best_match,
    join_sides,
    lsh_bands,
    minhash_signatures,
)
from oasysdb_spark.session import release_pins_with

_META = "_META.json"


def _meta_path(index_dir: str) -> str:
    return os.path.join(index_dir, _META)


def load_index_meta(index_dir: str) -> dict:
    try:
        with open(_meta_path(index_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise InvalidArgumentError(
            f"{index_dir} is not a signature index (missing {_META}); "
            "build one with build_signature_index"
        )
    except json.JSONDecodeError as e:
        # a torn/corrupt meta fails LOUD with the same remedy as a
        # missing one, not a raw decode traceback
        raise InvalidArgumentError(
            f"{index_dir} has a corrupt {_META} ({e}); rebuild with "
            "build_signature_index"
        )


def build_signature_index(
    docs: DataFrame,
    index_dir: str,
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
) -> dict:
    """Compute and persist the corpus signature index. One corpus pass:
    the Arrow MinHash UDF runs once (cached) and feeds both tables.
    Returns the meta dict (parameters + row counts)."""
    if num_hashes % band_size != 0:
        raise InvalidArgumentError("num_hashes must be divisible by band_size")
    # torn-build safety: invalidate the meta FIRST, restore it (atomic
    # rename) only after both tables are fully written — a rebuild that
    # dies mid-write leaves an index that fails LOUD ("not a signature
    # index") instead of stale meta silently matching nothing against
    # half-rewritten band tables
    os.makedirs(index_dir, exist_ok=True)
    try:
        os.remove(_meta_path(index_dir))
    except FileNotFoundError:
        pass
    sigs = minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n, hashed=True
    ).cache()
    try:
        n_docs = sigs.count()
        bands = lsh_bands(sigs, num_hashes, band_size)
        bands.write.mode("overwrite").parquet(os.path.join(index_dir, "bands"))
        sigs.select("doc_id", "sh").write.mode("overwrite").parquet(
            os.path.join(index_dir, "shingles")
        )
    finally:
        sigs.unpersist()
    meta = {
        "num_hashes": num_hashes,
        "band_size": band_size,
        "shingle_n": shingle_n,
        "n_docs": n_docs,
    }
    _write_meta(index_dir, meta)
    return meta


def _write_meta(index_dir: str, meta: dict) -> None:
    tmp = _meta_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, _meta_path(index_dir))


def delta_near_dups(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    threshold: float = 0.5,
    batch_broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Flag new-batch documents that near-duplicate the indexed corpus:
    ``(doc_id, corpus_doc_id, jaccard)`` with each flagged batch doc's
    best corpus match (max Jaccard, tie-break min corpus id) — the same
    output contract as ``decontaminate_against`` so the two are
    cross-checkable. Signature parameters come from the index's meta;
    the cached batch signature frame rides the result."""
    meta = load_index_meta(index_dir)
    num_hashes, band_size = meta["num_hashes"], meta["band_size"]

    b_sigs = minhash_signatures(
        new_docs,
        num_hashes=num_hashes,
        shingle_n=meta["shingle_n"],
        hashed=True,
    ).cache()
    # guard count doubles as cache materialization (rows, not bytes:
    # band keys + shingle digests are fixed-width per row)
    broadcast_batch = b_sigs.count() <= batch_broadcast_limit

    cand = band_candidates(
        spark.read.parquet(os.path.join(index_dir, "bands")),
        lsh_bands(b_sigs, num_hashes, band_size),
        {"r": "doc_id", "l": "corpus_doc_id"},
        broadcast=broadcast_batch,
    )
    # cand is NOT broadcast: its size is batch_rows x per-doc corpus
    # collisions, unbounded by the batch-row guard (a template-heavy web
    # corpus can fan one batch doc out to thousands of band matches).
    # The verify join shuffles (index shingles ⋈ cand) on corpus id —
    # AQE still converts it to a broadcast join at runtime whenever cand
    # MEASURES small, which is the common case the guard can't prove.
    pairs = join_sides(
        cand,
        (spark.read.parquet(os.path.join(index_dir, "shingles")), b_sigs),
        ("corpus_doc_id", "doc_id"),
        ("_i", "_b"),
        broadcast=broadcast_batch,
        sides_first=True,
    )
    best = jaccard_best_match(
        pairs, "doc_id", "corpus_doc_id", "sh_i", "sh_b", threshold
    )
    return release_pins_with(best, b_sigs)


def extend_signature_index(
    new_docs: DataFrame,
    index_dir: str,
    exclude_ids: DataFrame | None = None,
    batch_broadcast_limit: int = 1_000_000,
) -> int:
    """Append a (scrubbed) batch to the index so the NEXT batch dedups
    against it too. ``exclude_ids`` (one id column) drops the batch's
    flagged duplicates via an anti-join before writing — pass the
    ``doc_id`` column of :func:`delta_near_dups`'s output; the anti-join
    broadcasts only under the same size guard as the probe (a mostly-
    duplicate re-crawl flags nearly the whole batch). Appends are plain
    parquet file adds (no rewrite of the corpus-scale tables); returns
    the number of docs appended."""
    meta = load_index_meta(index_dir)
    sigs = minhash_signatures(
        new_docs,
        num_hashes=meta["num_hashes"],
        shingle_n=meta["shingle_n"],
        hashed=True,
    )
    if exclude_ids is not None:
        key = exclude_ids.columns[0]
        excl = exclude_ids.select(F.col(key).alias("doc_id"))
        if excl.count() <= batch_broadcast_limit:
            excl = F.broadcast(excl)
        sigs = sigs.join(excl, "doc_id", "left_anti")
    sigs = sigs.cache()
    try:
        n = sigs.count()
        # torn-append safety, mirroring build_signature_index: invalidate
        # the meta FIRST, restore it (atomic rename via _write_meta) only
        # after BOTH appends land — a crash between the bands append and
        # the shingles append would otherwise leave band rows whose
        # candidates silently vanish in the verify inner join
        # (under-dedup with no signal); this way a torn index fails LOUD
        # at the next load instead
        os.remove(_meta_path(index_dir))
        lsh_bands(sigs, meta["num_hashes"], meta["band_size"]).write.mode(
            "append"
        ).parquet(os.path.join(index_dir, "bands"))
        sigs.select("doc_id", "sh").write.mode("append").parquet(
            os.path.join(index_dir, "shingles")
        )
    finally:
        sigs.unpersist()
    meta["n_docs"] += n
    _write_meta(index_dir, meta)
    return n
