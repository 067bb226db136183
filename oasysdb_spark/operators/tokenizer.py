"""Distributed BPE tokenizer training and encoding.

The tokenizer-training primitive of an LLM data pipeline: learn a
byte-pair-encoding merge table from the corpus, then encode documents
with it. Semantics follow the published BPE algorithm (Sennrich et al.
2016 training; GPT-2-style min-rank encoding) — the reference engine has
no text tier at all (SURVEY §2.5), so this is north-star surface.

Scale design (the 100 TB story):

- The ONLY corpus-scale pass is ``pretoken_counts``: one
  ``groupBy(pretoken).count()`` with map-side partial aggregation —
  document text never shuffles; only (pretoken, count) pairs do.
  Training then operates on the Zipf-collapsed distinct-pretoken table,
  which is orders of magnitude smaller than the corpus (and bounded
  further by the standard ``min_count`` frequency floor).
- ``bpe_train`` makes the local-vs-distributed choice BEFORE any
  collect, mirroring ``index/ivf.py fit_centroids``: a floored pretoken
  table within ``local_train_limit`` rows is collected and trained with
  the incremental pair-count algorithm every production tokenizer
  trainer uses; above the limit the pure-Spark path runs block
  Zipf-head training (r6) — per BLOCK, one pair-count aggregation
  picks a frequency threshold, the words containing any
  above-threshold pair are collected and trained incrementally on the
  driver (exact, see ``_bpe_train_distributed``), and the whole merge
  block is applied in one Arrow pass with ``localCheckpoint``
  truncating lineage (the same exponential-plan hazard as
  ``dedup.connected_components``) — so the job count is per block,
  not per merge (the pre-r6 one-aggregation-per-merge loop was a
  ~50k-sequential-job driver bottleneck at production vocab sizes).
  Both paths implement identical deterministic semantics —
  overlap-inclusive pair counting, greedy left-to-right merge
  application, ties broken by (count desc, left asc, right asc) — and
  are equivalence-tested against each other, including a forced
  multi-block run.
- ``encode`` is row-local: an Arrow-batched pandas UDF with the (tiny,
  ≤ n_merges rows) rank table captured in the closure and a per-batch
  pretoken memo — words repeat heavily, so each distinct pretoken is
  encoded once per batch, not once per occurrence.

Encoding in rank order is EXACTLY equivalent to replaying training:
a pair can only match merge r if both its symbols existed at training
step r, so pairs created by applying merge r only ever match merges
ranked after r — processing ranks in increasing order reproduces the
training-time transformation (pinned in tests).
"""

from __future__ import annotations

import json
import re
from collections import Counter, defaultdict

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import read_parquet_cached

from oasysdb_spark.functions.text import TOKEN_RE
from oasysdb_spark.session import free_local_checkpoint

END_OF_WORD = "</w>"
# compiled from the SAME constant functions/text.tokens splits on the
# complement of — training (Spark side) and encoding (Python side) must
# agree on what a pretoken is, or every word goes effectively OOV
_PRETOKEN_RE = re.compile(TOKEN_RE)


def pretoken_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (pretoken, cnt), the one corpus-scale aggregation.

    Pretokens are the lowercased alphanumeric runs of
    ``functions.text.tokens`` so the tokenizer tier shares the corpus
    stats tier's notion of a word."""
    from oasysdb_spark.functions import text as T

    return (
        docs.select(F.explode(T.tokens(F.col(text_col))).alias("pretoken"))
        .groupBy("pretoken")
        .agg(F.count("*").alias("cnt"))
    )


def _initial_symbols(pretoken: str) -> tuple[str, ...]:
    """A pretoken's starting symbol sequence: its characters plus the
    end-of-word marker as a separate symbol."""
    return tuple(pretoken) + (END_OF_WORD,)


def _merge_word(sym: tuple[str, ...], left: str, right: str) -> tuple[str, ...]:
    """Greedy left-to-right application of one merge to one symbol
    sequence ("aaa" under (a,a) → (aa, a), not (a, aa))."""
    out: list[str] = []
    i = 0
    n = len(sym)
    while i < n:
        if i + 1 < n and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def _pairs(sym: tuple[str, ...]) -> list[tuple[str, str]]:
    """Adjacent symbol pairs, overlap-inclusive ("aaa" → (a,a) twice) —
    the published counting rule, and what the distributed recount
    computes, so the local delta updates must match it exactly."""
    return [(sym[i], sym[i + 1]) for i in range(len(sym) - 1)]


def _bpe_train_local(
    word_counts: list[tuple[str, int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str, int]]:
    """Driver-side trainer over raw pretokens: split to initial symbol
    sequences, then run the incremental core."""
    return _bpe_train_local_presplit(
        [(_initial_symbols(w), c) for w, c in word_counts],
        n_merges,
        min_pair_count,
    )


def _bpe_train_local_presplit(
    word_counts: list[tuple[tuple[str, ...], int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[str, str, int]]:
    """Incremental trainer core over already-split symbol sequences
    (the block Zipf-head path feeds partially-merged words here): exact
    per-word multiset deltas (subtract a touched word's old pairs, add
    its new ones — arithmetically identical to a full recount, without
    the known off-by-overlap bugs of in-place counters)."""
    words: list[tuple[tuple[str, ...], int]] = list(word_counts)
    pair_counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> word ids containing it
    for wid, (sym, cnt) in enumerate(words):
        for p in _pairs(sym):
            pair_counts[p] += cnt
            where[p].add(wid)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best: tuple[str, str] | None = None
        best_cnt = 0
        for p, c in pair_counts.items():
            if c > best_cnt or (c == best_cnt and best is not None and p < best):
                best, best_cnt = p, c
        if best is None or best_cnt < min_pair_count:
            break
        left, right = best
        merges.append((left, right, best_cnt))
        for wid in list(where[best]):
            sym, cnt = words[wid]
            new_sym = _merge_word(sym, left, right)
            for p in _pairs(sym):
                pair_counts[p] -= cnt
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                where[p].discard(wid)
            for p in _pairs(new_sym):
                pair_counts[p] += cnt
                where[p].add(wid)
            words[wid] = (new_sym, cnt)
    return merges


def _pairs_col(sym_col):
    """Expression-level adjacent-pair structs over a symbols array."""
    idx = F.sequence(F.lit(1), F.size(sym_col) - 1)
    grams = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(sym_col, i).alias("left"),
            F.element_at(sym_col, i + 1).alias("right"),
        ),
    )
    return F.when(F.size(sym_col) >= 2, grams).otherwise(
        F.array().cast("array<struct<left:string,right:string>>")
    )


def _in_head_udf(hset: frozenset):
    """Arrow-batched membership test: does a symbol sequence contain any
    adjacent pair from ``hset``? (factory, so the set binds eagerly)."""

    @F.pandas_udf("boolean")
    def in_head(s: pd.Series) -> pd.Series:
        return s.map(
            lambda sym: any(
                (sym[i], sym[i + 1]) in hset for i in range(len(sym) - 1)
            )
        )

    return in_head


def _apply_merges_distributed(words: DataFrame, block: list[tuple[str, str, int]]):
    """One Arrow-batched pass applying a whole merge BLOCK in learned
    order to every word — identical to replaying training round by
    round, because within a word the greedy left-to-right application
    of merge r transforms exactly the symbols training had at step r."""
    seq = [(l, r) for l, r, _ in block]

    @F.pandas_udf("array<string>")
    def apply_block(s: pd.Series) -> pd.Series:
        def rewrite(sym):
            t = tuple(sym)
            for left, right in seq:
                t = _merge_word(t, left, right)
            return list(t)

        return s.map(rewrite)

    out = words.select(
        apply_block(F.col("symbols")).alias("symbols"), "cnt"
    ).localCheckpoint(eager=True)
    free_local_checkpoint(words)
    return out


def _bpe_train_distributed(
    counts: DataFrame,
    n_merges: int,
    min_pair_count: int,
    head_limit: int = 500_000,
    head_pairs: int = 4096,
) -> list[tuple[str, str, int]]:
    """Pure-Spark trainer for pretoken tables too large to collect —
    block Zipf-head training, EXACTLY equivalent to the sequential
    local algorithm (equivalence-gated in tests/test_tokenizer.py,
    including a multi-block run forced with a tiny ``head_limit``).

    Per block: ONE overlap-inclusive pair aggregation ranks pairs by
    count; a frequency threshold ``T`` is chosen so that every pair at
    or above it is known (``T`` = count of the ``head_pairs``-th pair
    + 1, or ``min_pair_count`` when the ranking is complete); the words
    containing any such pair — the Zipf HEAD, driver-bounded by
    ``head_limit`` — are collected and trained with the incremental
    local algorithm until the best pair falls below ``T``; the learned
    block is applied to the distributed table in ONE Arrow pass and the
    loop recounts. Jobs per BLOCK, not per merge (the r5 version ran
    one full aggregation + one full rewrite + one checkpoint per merge
    — a ~50k-job driver bottleneck at production vocab sizes;
    job-count now gated by a status-tracker test).

    Why block training is exact and not an approximation:

    - every word containing a pair of current count ≥ T contains, by
      definition, a pair of count ≥ T — so it is IN the head, and the
      driver's pair counts for all candidates ≥ T are total counts,
      not samples;
    - old pairs only ever lose occurrences (merging a,b removes
      (x,a)/(a,b)/(b,y) adjacencies and creates only pairs involving
      the new symbol ab), so a tail pair (count < T) can never rise to
      argmax while the argmax stays ≥ T;
    - new pairs involve the merged symbol, which exists only in head
      words — their counts are fully tracked on the driver and their
      tail contribution is zero;
    - therefore, while the driver-side argmax is ≥ T it equals the
      global argmax, and the block stops exactly when that guarantee
      expires.

    Degenerate shapes (threshold excludes everything, or the head
    exceeds ``head_limit`` after retries) fall back to single-merge
    rounds — same semantics, old cost — so progress is guaranteed."""
    chars = F.filter(F.split(F.col("pretoken"), ""), lambda t: t != "")
    words = counts.select(
        F.concat(chars, F.array(F.lit(END_OF_WORD))).alias("symbols"),
        F.col("cnt"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    try:
        while len(merges) < n_merges:
            ranked = (
                words.select(
                    F.explode(_pairs_col(F.col("symbols"))).alias("p"), "cnt"
                )
                .groupBy("p.left", "p.right")
                .agg(F.sum("cnt").alias("pc"))
                .orderBy(F.desc("pc"), F.asc("left"), F.asc("right"))
                .limit(head_pairs)
                .collect()
            )
            if not ranked or ranked[0]["pc"] < min_pair_count:
                break
            complete = len(ranked) < head_pairs
            t_floor = (
                min_pair_count if complete else int(ranked[-1]["pc"]) + 1
            )
            block = self_block = None
            for _ in range(4):  # shrink the head at most 4 times
                hset = {
                    (r["left"], r["right"])
                    for r in ranked
                    if r["pc"] >= t_floor
                }
                if not hset:
                    break

                head = (
                    words.where(_in_head_udf(frozenset(hset))(F.col("symbols")))
                    .limit(head_limit + 1)
                    .collect()
                )
                if len(head) <= head_limit:
                    wc = sorted(
                        (tuple(r["symbols"]), int(r["cnt"])) for r in head
                    )
                    self_block = _bpe_train_local_presplit(
                        wc,
                        n_merges - len(merges),
                        max(t_floor, min_pair_count),
                    )
                    block = self_block
                    break
                # head too big for the driver: raise the bar to the
                # median surviving pair count and retry
                alive = sorted(
                    {int(r["pc"]) for r in ranked if r["pc"] >= t_floor}
                )
                if len(alive) <= 1:
                    break
                t_floor = alive[len(alive) // 2] + 1
                complete = False
            if not block:
                # degenerate: fall back to one exact single-merge round
                top = ranked[0]
                block = [(top["left"], top["right"], int(top["pc"]))]
            merges.extend(block)
            words = _apply_merges_distributed(words, block)
            if complete and self_block is not None and len(merges) < n_merges:
                # the ranking was complete and the local trainer stopped
                # below min_pair_count on full information: globally done
                break
    finally:
        # only the merges list (driver-side, tiny) leaves this function
        free_local_checkpoint(words)
    return merges


def bpe_train(
    counts: DataFrame,
    n_merges: int = 256,
    min_count: int = 1,
    min_pair_count: int = 2,
    local_train_limit: int = 2_000_000,
    force_distributed: bool = False,
) -> list[tuple[str, str, int]]:
    """Learn a ranked merge table ``[(left, right, pair_count), ...]``
    from a (pretoken, cnt) frame. ``min_count`` floors rare pretokens
    out before training (the standard frequency threshold — at corpus
    scale this is the knob bounding the training working set);
    ``min_pair_count`` stops once the best pair is no longer worth a
    vocab slot. The local-vs-distributed choice happens BEFORE any
    collect, on the floored distinct-pretoken count."""
    floored = counts.where(F.col("cnt") >= min_count)
    if force_distributed:
        return _bpe_train_distributed(floored, n_merges, min_pair_count)
    # cache so the size guard's count() and the path taken after it share
    # ONE execution of the corpus-scale aggregation feeding `counts`
    # (the cached table is the collapsed vocab — small by construction)
    floored = floored.cache()
    try:
        if floored.count() <= local_train_limit:
            rows = floored.collect()
            # deterministic regardless of partition order: the trainer's
            # tie-break is on pair identity, and word ORDER never matters
            # (pair counts are order-free sums); sort for stable tests
            wc = sorted((r["pretoken"], int(r["cnt"])) for r in rows)
            return _bpe_train_local(wc, n_merges, min_pair_count)
        return _bpe_train_distributed(floored, n_merges, min_pair_count)
    finally:
        floored.unpersist()


def encode_pretoken(
    pretoken: str, ranks: dict[tuple[str, str], int], merges: list[tuple[str, str, int]]
) -> list[str]:
    """GPT-2-style encode of one pretoken: repeatedly apply the
    lowest-ranked merge present (greedy left-to-right within the word).
    Characters unseen in training simply remain single-symbol — the
    byte-fallback analogue."""
    sym = _initial_symbols(pretoken)
    while len(sym) > 1:
        best_rank: int | None = None
        for p in _pairs(sym):
            r = ranks.get(p)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
        if best_rank is None:
            break
        left, right, _ = merges[best_rank]
        sym = _merge_word(sym, left, right)
    return list(sym)


def encode(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Per-document encoding stats: pretoken/token/char counts under the
    learned merges, as ``bpe_``-prefixed columns (the documents fixture
    already carries an ``n_chars`` of its own). Row-local Arrow UDF; the
    rank table rides the closure (≤ n_merges entries) and a per-batch
    memo encodes each DISTINCT pretoken once."""
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}

    @F.pandas_udf("struct<bpe_pretokens:int,bpe_tokens:int,bpe_chars:int>")
    def enc(texts: pd.Series) -> pd.DataFrame:
        memo: dict[str, int] = {}
        out = []
        for t in texts:
            pts = _PRETOKEN_RE.findall((t or "").lower())
            n_tok = 0
            n_chars = 0
            for p in pts:
                if p not in memo:
                    memo[p] = len(encode_pretoken(p, ranks, merges))
                n_tok += memo[p]
                n_chars += len(p)
            out.append((len(pts), n_tok, n_chars))
        return pd.DataFrame(
            out, columns=["bpe_pretokens", "bpe_tokens", "bpe_chars"]
        )

    return docs.withColumn("_enc", enc(F.col(text_col))).select(
        *[c for c in docs.columns], "_enc.*"
    )


UNK_ID = 0


def build_vocab(
    counts: DataFrame,
    merges: list[tuple[str, str, int]],
    min_count: int = 1,
) -> list[str]:
    """The token vocabulary a merge table implies: every single
    character observed in the (floored) pretoken table, the end-of-word
    marker, and every merged symbol. Returned as a deterministic
    driver-side list where index = token id; id 0 is reserved for
    ``<unk>`` (characters unseen in training). Tiny by construction:
    |charset| + n_merges + 2 entries."""
    chars = (
        counts.where(F.col("cnt") >= min_count)
        .select(
            F.explode(
                F.filter(F.split("pretoken", ""), lambda t: t != "")
            ).alias("ch")
        )
        .distinct()
        .collect()
    )
    base = sorted({r["ch"] for r in chars} | {END_OF_WORD})
    return ["<unk>"] + base + [l + r for l, r, _ in merges]


def encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    vocab: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Per-document token-ID sequences (``bpe_ids: array<int>``) under
    the learned merges — the tensor-ready form. Row-local Arrow UDF,
    memoized per distinct pretoken; symbols outside the vocabulary
    (characters unseen in training) map to UNK_ID."""
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}
    ids = {t: i for i, t in enumerate(vocab)}

    @F.pandas_udf("array<int>")
    def enc(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[int]] = {}
        out = []
        for t in texts:
            seq: list[int] = []
            for p in _PRETOKEN_RE.findall((t or "").lower()):
                if p not in memo:
                    memo[p] = [
                        ids.get(s, UNK_ID)
                        for s in encode_pretoken(p, ranks, merges)
                    ]
                seq.extend(memo[p])
            out.append(seq)
        return pd.Series(out)

    return docs.withColumn("bpe_ids", enc(F.col(text_col)))


def tokenize_and_shard(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 16,
    n_merges: int = 256,
    min_count: int = 2,
    seed: str = "shard0",
    docs: DataFrame | None = None,
) -> DataFrame:
    """The end of the pipeline: train BPE on the corpus, encode every
    document to token ids, assign each doc to a shard by the same
    seeded row-local hash rule as ``textops.shard_plan`` (re-sharding
    for a new epoch = a salt change), and write
    ``out_dir/shard=K/*.parquet`` with (doc_id, source, bpe_ids).
    Returns the per-shard manifest (docs, tokens) read back FROM the
    written files, so the returned stats are the artifact's, not the
    plan's.

    Scale shape: one corpus aggregation (training), one row-local
    encode pass, and exactly ONE exchange — assignment key ==
    repartition key == partition column, so the write is a single
    shuffle into size-balanced shard files."""
    from oasysdb_spark.functions.hashing import hash64

    if docs is None:
        docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    # trainer AND vocab builder read the pretoken table: cache it so the
    # corpus-scale aggregation executes once
    counts = pretoken_counts(docs).cache()
    try:
        merges = bpe_train(counts, n_merges=n_merges, min_count=min_count)
        vocab = build_vocab(counts, merges, min_count=min_count)
    finally:
        counts.unpersist()

    encoded = encode_ids(docs, merges, vocab).select(
        "doc_id",
        "source",
        "bpe_ids",
        F.pmod(hash64(F.col("doc_id").cast("string"), salt=seed), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    )
    (
        encoded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size("bpe_ids")).cast("bigint").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def tokenizer_stats(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int = 256,
    min_count: int = 2,
    docs: DataFrame | None = None,
) -> DataFrame:
    """End-to-end entry: train BPE on the documents corpus, encode it,
    and report per-source compression — tokens, chars/token (how much
    each merge budget buys per domain), and the fertility ratio
    (tokens per whitespace-ish word). Deterministic: the merge table is
    a pure function of the corpus. ``docs`` overrides the fixture read
    (any frame with text + source columns)."""
    if docs is None:
        docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    merges = bpe_train(
        pretoken_counts(docs), n_merges=n_merges, min_count=min_count
    )
    enc = encode(docs, merges)
    return (
        enc.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum("bpe_pretokens").cast("bigint").alias("pretokens"),
            F.sum("bpe_tokens").cast("bigint").alias("tokens"),
            # a source with no [a-z0-9] text at all has zero pretokens
            # AND zero tokens: 0.0 ratios, not silent nulls
            F.when(
                F.sum("bpe_tokens") > 0,
                F.round(F.sum("bpe_chars") / F.sum("bpe_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("chars_per_token"),
            F.when(
                F.sum("bpe_pretokens") > 0,
                F.round(F.sum("bpe_tokens") / F.sum("bpe_pretokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("fertility"),
        )
        .orderBy("source")
    )


def save_tokenizer(
    path: str, merges: list[tuple[str, str, int]], vocab: list[str]
) -> None:
    """Persist a trained tokenizer (merge table + id space) as one JSON
    file — tiny by construction (n_merges + |vocab| rows), written
    atomically like the PQ codebooks, so encode jobs never refit:
    train once on the corpus, ship the file to every consumer."""
    from oasysdb_spark.core.config import atomic_write_text

    atomic_write_text(
        path,
        json.dumps(
            {
                "format": "oasysdb_bpe_v1",
                "end_of_word": END_OF_WORD,
                "merges": [[l, r, c] for l, r, c in merges],
                "vocab": vocab,
            }
        ),
    )


def load_tokenizer(path: str) -> tuple[list[tuple[str, str, int]], list[str]]:
    """Load a tokenizer saved by :func:`save_tokenizer`; a wrong or
    corrupt file raises a clean error instead of mis-encoding."""
    from oasysdb_spark.errors import InvalidArgumentError

    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise InvalidArgumentError(f"cannot read tokenizer file {path}: {e}")
    if blob.get("format") != "oasysdb_bpe_v1":
        raise InvalidArgumentError(
            f"{path} is not an oasysdb_bpe_v1 tokenizer file"
        )
    merges = [(l, r, int(c)) for l, r, c in blob["merges"]]
    return merges, list(blob["vocab"])
