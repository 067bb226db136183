"""Text-analysis operators over ``documents``: language ID, quality
scoring, token counting, fingerprinting. All row-local column expressions
(embarrassingly parallel — no shuffle except final aggregations), each with
an exact DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas-UDF type hints resolve in module globals
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import read_parquet_cached, prepared

from oasysdb_spark.functions.hashing import hash64
from oasysdb_spark.functions.stats import from_micro, round6, to_micro
from oasysdb_spark.session import release_pins_with

from oasysdb_spark.functions.text import (
    doc_fingerprint,
    mean_token_len,
    predict_lang,
    punct_ratio,
    stopword_ratio,
    token_count_bpe,
    token_count_ws,
    tokens,
    uniq_token_ratio,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet_cached(spark, f"{sf_dir}/documents.parquet")


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language prediction per document, summarized as
    (pred_lang, n_docs, n_matching_label) — the last column compares the
    prediction with the fixture's ``lang`` label."""
    docs = _docs(spark, sf_dir)
    pred = docs.select(
        "doc_id", "lang", predict_lang(tokens(F.col("text"))).alias("pred_lang")
    )
    return (
        pred.groupBy("pred_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matching_label"),
        )
        .orderBy("pred_lang")
    )


def quality_rules(text_col, toks) -> "F.Column":
    """The 4-rule quality composite — THE single definition shared by
    ``quality_scores`` (the ``text_quality`` oracle surface), both corpus
    pipelines, and ``source_curation_stats``: +1 each for ≥20 tokens,
    punct ratio ≤0.1, stopword ratio ≥0.05, distinct-token ratio ≥0.3.
    Each ratio is rounded to 6 BEFORE the threshold compare, matching the
    DuckDB oracle's arithmetic exactly; tweak a threshold here and every
    consumer (and its oracle twin) moves together."""
    return (
        F.when(F.size(toks) >= 20, 1).otherwise(0)
        + F.when(F.round(punct_ratio(text_col), 6) <= 0.1, 1).otherwise(0)
        + F.when(F.round(stopword_ratio(toks), 6) >= 0.05, 1).otherwise(0)
        + F.when(F.round(uniq_token_ratio(toks), 6) >= 0.3, 1).otherwise(0)
    )


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: length, token stats, punctuation /
    stopword / uniqueness ratios, and a composite quality bucket."""
    # (r15) a spread load here was measured at TWO scales and reverted:
    # it won at sf0.1 (0.83 -> 0.68 min wall) but lost at sf1 (2.90 ->
    # 3.09 min, interleaved A/B) — the per-doc ratio EXPRESSIONS are
    # too light per byte to pay for the ramp exchange once the input
    # grows, unlike the Arrow-UDF pass in repetition_stats (its sf1
    # A/B won 1.39 -> 1.00 and its spread stays).
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_m"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        round6(mean_token_len(toks)).alias("mean_token_len"),
        round6(punct_ratio(F.col("text"))).alias("punct_ratio"),
        round6(stopword_ratio(toks)).alias("stopword_ratio"),
        round6(uniq_token_ratio(toks)).alias("uniq_ratio"),
        quality_rules(F.col("text"), toks).cast("bigint").alias("quality"),
    )


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics: whitespace vs BPE-ish token counts per
    language (total + mean)."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "lang",
        token_count_ws(F.col("text")).alias("ws_tokens"),
        token_count_bpe(F.col("text")).alias("bpe_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
            round6(F.avg("ws_tokens")).alias("mean_ws_tokens"),
        )
        .orderBy("lang")
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit content fingerprints (hash of normalized text) — the cheap
    primary key for exact-dup detection across shards."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


def pack_sequences(
    spark: SparkSession, sf_dir: str, budget: int = 512
) -> DataFrame:
    """Token-budget sequence packing: concatenate documents in doc_id
    order and cut at ``budget``-token boundaries — the standard
    chunked-concatenation layout for LLM pretraining batches. A doc's
    sequence id is ``floor(exclusive_cumulative_tokens / budget)``.

    Scale shape: packing is PER SHARD (here ``lang`` is the shard key),
    so the running sum is an ordinary partitioned window — embarrassingly
    parallel across shards, one shuffle on the shard key, no global
    ordering bottleneck. That mirrors production pipelines, which pack
    within each data shard rather than imposing a corpus-wide order."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "doc_id", "lang", token_count_bpe(F.col("text")).cast("bigint").alias("bpe")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq_id = F.floor((F.sum("bpe").over(w) - F.col("bpe")) / F.lit(float(budget)))
    return (
        per_doc.withColumn("seq_id", seq_id.cast("bigint"))
        .groupBy("lang", "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("bpe").cast("bigint").alias("seq_tokens"),
        )
    )


def chunk_documents(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 32,
    overlap: int = 8,
) -> DataFrame:
    """Overlapping token-window chunking — the standard RAG /
    embedding-prep split (LangChain/LlamaIndex's recursive splitter
    reduced to its fixed-window token core): each document yields
    windows of ``chunk_tokens`` tokens advancing by ``chunk_tokens -
    overlap`` (the stride), so consecutive chunks share ``overlap``
    tokens of context; the last window may be shorter but every token
    is covered. ``n_chunks = max(1, ceil((t - overlap) / stride))``
    for a ``t``-token doc. Returns one row per chunk ``(doc_id,
    chunk_id, start_tok, n_tokens, chunk_hash)`` — the hash (same
    oracle-replayable ``hash64`` family) identifies chunk CONTENT so
    downstream joins/dedups/embeds without this op ever emitting text.

    Scale shape: pure row-local expression work — one ``transform``
    over the start sequence then ``explode``; ZERO shuffles, no UDFs,
    fully whole-stage-codegen. The op that feeds `embed.py`'s
    text→vector bridge and the ANN tier at corpus scale."""
    if overlap < 0 or overlap >= chunk_tokens:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            f"overlap must be in [0, chunk_tokens) (got overlap={overlap}, "
            f"chunk_tokens={chunk_tokens}): stride would be <= 0 and the "
            "window would never advance"
        )
    stride = chunk_tokens - overlap
    docs = _docs(spark, sf_dir)
    piece = lambda i: F.slice(  # noqa: E731 — row-local window expr
        F.col("tk"), i * stride + 1, chunk_tokens
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("tk") - overlap) / F.lit(float(stride))).cast("int"),
    )
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("tk"))
        .where(F.size("tk") > 0)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.struct(
                        i.cast("bigint").alias("chunk_id"),
                        (i * stride).cast("bigint").alias("start_tok"),
                        F.size(piece(i)).cast("bigint").alias("n_tokens"),
                        hash64(F.concat_ws(" ", piece(i))).alias(
                            "chunk_hash"
                        ),
                    ),
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
    )


# Deterministic per-stratum keep rates (percent) for the domain-mixing
# sampler; strata absent from the map keep everything.
MIX_RATES = {"en": 25, "de": 50, "es": 75}


def pack_sequences_ffd(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 512,
    n_buckets: int = 4,
) -> DataFrame:
    """WHOLE-DOCUMENT packing via first-fit-decreasing (Krell et al.
    2021, "Efficient Sequence Packing without Cross-contamination"):
    where :func:`pack_sequences` concatenates and CUTS at the budget
    (documents straddle sequence boundaries), FFD keeps every document
    intact — docs sorted longest-first, each placed into the first bin
    with room — trading a little padding waste for no cross-document
    attention contamination. Docs longer than ``budget`` are truncated
    to it (the standard pretraining rule). Returns one row per bin:
    ``(lang, bucket, bin_id, n_docs, bin_tokens, fill_frac)``.

    Scale shape: true FFD is inherently sequential, so packing runs
    per ``(lang, bucket)`` group with ``bucket = hash64(doc_id) %
    n_buckets`` — each group is a BOUNDED, independent packing problem
    solved in one Arrow task over (doc_id, n_tokens) int pairs (text
    never enters the op at all), and bucket count scales with the
    cluster. Per-bucket packing costs at most ``n_buckets - 1`` extra
    partially-filled bins versus corpus-global FFD — amortized to
    nothing as bins-per-bucket grows; the greedy itself is within
    11/9·OPT + 6/9 bins of optimal (Dósa's tight FFD bound)."""
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "doc_id",
        "lang",
        (hash64(F.col("doc_id").cast("string"), salt="ffd") % n_buckets).alias(
            "bucket"
        ),
        F.least(
            token_count_bpe(F.col("text")).cast("bigint"), F.lit(budget)
        ).alias("n"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n", "doc_id"], ascending=[False, True]
        )  # decreasing, doc_id tiebreak → deterministic
        fills: list[int] = []
        counts: list[int] = []
        assign = []
        for n in pdf["n"]:
            n = int(n)
            for b in range(len(fills)):
                if fills[b] + n <= budget:
                    fills[b] += n
                    counts[b] += 1
                    assign.append(b)
                    break
            else:
                fills.append(n)
                counts.append(1)
                assign.append(len(fills) - 1)
        lang = pdf["lang"].iloc[0]
        bucket = int(pdf["bucket"].iloc[0])
        return pd.DataFrame(
            {
                "lang": [lang] * len(fills),
                "bucket": [bucket] * len(fills),
                "bin_id": list(range(len(fills))),
                "n_docs": counts,
                "bin_tokens": fills,
                "fill_frac": [round(f / budget, 6) for f in fills],
            }
        )

    return per_doc.groupBy("lang", "bucket").applyInPandas(
        pack,
        schema=(
            "lang string, bucket int, bin_id int, n_docs bigint, "
            "bin_tokens bigint, fill_frac double"
        ),
    )


def stratified_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing via deterministic hash sampling: each stratum
    (``lang``) keeps ``MIX_RATES[lang]`` percent of its documents, chosen
    by a salted 64-bit content-independent hash of the doc id — stable
    across runs, shards, and engines (no RNG state to coordinate), the
    way production training mixes downsample over-represented domains.
    Row-local decision, one aggregation shuffle."""
    docs = _docs(spark, sf_dir)
    rate = F.when(F.col("lang") == "en", MIX_RATES["en"])
    for lang, r in list(MIX_RATES.items())[1:]:
        rate = rate.when(F.col("lang") == lang, r)
    rate = rate.otherwise(100)
    keep = (hash64(F.col("doc_id").cast("string"), salt="mix") % 100) < rate
    per_doc = docs.select(
        "lang",
        keep.alias("keep"),
        token_count_bpe(F.col("text")).cast("bigint").alias("bpe"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("bpe")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            round6(F.avg(F.when(F.col("keep"), 1).otherwise(0))).alias("kept_frac"),
        )
        .orderBy("lang")
    )


# PII scrubbing patterns — a common-subset regex dialect (Java regex and
# RE2 agree on these), applied in a fixed order so both engines transform
# identically.
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_URL = "https?://[^ ]+"
PII_DIGITS = "[0-9]{4,}"


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over the corpus: redact emails, URLs, and long digit
    runs, reporting match counts and the size effect. The fixture corpus
    is synthetic word-salad with no PII, so the query first INJECTS
    deterministic synthetic PII (derived from doc_id, documented — every
    3rd doc an email, every 5th a URL, every 7th a numeric id) and then
    proves the scrubber removes it; the oracle replays injection +
    scrubbing identically. Row-local regex work, one aggregation."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit(" mail u"), did, F.lit("@ex.org"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit(" link https://ex.org/p/"), did)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(" ref "), (F.col("doc_id") + 1_000_000).cast("string"))).otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL, "<EMAIL>"), PII_URL, "<URL>"
        ),
        PII_DIGITS,
        "<NUM>",
    )
    per_doc = docs.select(
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL), F.lit(0))).alias("n_email"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_URL), F.lit(0))).alias("n_url"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_DIGITS), F.lit(0))).alias("n_digits"),
        F.length(aug).alias("len_raw"),
        F.length(scrubbed).alias("len_clean"),
    )
    return per_doc.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("emails_found"),
        F.sum("n_url").cast("bigint").alias("urls_found"),
        F.sum("n_digits").cast("bigint").alias("digit_runs_found"),
        F.sum(F.col("len_raw") - F.col("len_clean")).cast("bigint").alias("chars_removed"),
        round6(F.avg("len_clean")).alias("mean_clean_len"),
    )


def exact_then_near_dedup(
    spark: SparkSession, scored: DataFrame, near_threshold: float
):
    """The dedup-survivors stage shared by :func:`prepare_training_corpus`
    and :func:`oasysdb_spark.pipeline.corpus_to_shards` — one definition
    so the two pipeline entry points can never dedup differently.

    ``scored`` carries at least (doc_id, text, fp, bpe). Exact dedup
    keeps the min doc_id per fingerprint; near-dup MinHash components
    keep the QUALITY representative — the member with the most BPE
    tokens, tie → min doc_id (real pipelines keep the longest/most
    complete copy, not blindly the smallest id). This shares the
    struct-max MECHANISM with ``dedup.representative_pick`` but not the
    measure: the oracle-gated pick ranks by ``n_chars`` (the fixture's
    raw length column), this pipeline stage by the token count it has
    already computed — the two can keep different survivors for the
    same component when char-longest ≠ token-longest.

    Returns ``(exact_unique, survivors, comps, obs_exact, obs_final)``:
    ``exact_unique`` backed by an EAGER localCheckpoint (r15 — it is
    the fan-out hub every downstream frame reads, and a cache would
    keep the whole scoring lineage inside every downstream plan;
    release with ``release_frame``/``free_local_checkpoint``),
    ``survivors`` cached, ``comps`` backed by the components'
    final-round localCheckpoint — the CALLER must release these once
    every action over the survivors is finished (not merely once they
    are cached: cache eviction recomputes through lineage). ``obs_exact``/``obs_final`` are ``Observation``
    handles whose single metric ``n`` is the row count of
    ``exact_unique``/``survivors``, collected as a free side effect of
    the jobs the pipeline already runs (r15, guide §1/§5 — the callers'
    separate ``.count()`` actions were whole extra passes; at corpus
    scale each was a full scan of the cached text had the cache
    evicted). ``obs_exact`` has always fired by the time this returns
    (the components fixpoint scans ``exact_unique``); read
    ``obs_final`` only after an action has consumed ``survivors``."""
    from pyspark.sql import Observation

    from oasysdb_spark.operators.dedup import dedup_components

    obs_exact = Observation()
    obs_final = Observation()
    # min-doc_id-per-fingerprint as ONE window over a single read of
    # ``scored`` (r16, guide §2.4 — the r15 shape was a groupBy-min +
    # equi-join-back that read ``scored`` twice through three exchanges,
    # and its two concurrent branch stages needed a dedicated populate
    # count() whenever the input was cached, to keep cluster runs from
    # double-firing the callers' observe() counters riding below the
    # cache; the single linear lineage removes both the extra pass and
    # the race, so the guard job is gone too). Equivalence: doc_id is
    # unique, so rank-1-by-doc_id within fp IS the min-doc_id row.
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    # eager localCheckpoint, not cache (r15, guide §7.3/§5): this frame
    # is the FAN-OUT HUB — the MinHash signatures, the representative
    # pick and the survivors join all read it — and a cache keeps the
    # full six-UDF-deep scoring lineage inside every downstream plan,
    # so Catalyst re-optimized a several-hundred-node tree per action
    # (measured ~2.5s of driver gaps per composed-pipeline run). The
    # checkpoint truncates downstream plans to a LogicalRDD leaf; the
    # observation fires on the checkpoint's own materialization job.
    exact_unique = (
        scored.withColumn("_rn", F.row_number().over(w_fp))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .observe(obs_exact, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # spread the signature input (r16, guide §2.5 "input skew" class):
    # AQE coalesces the fp-window exchange above to ~1 partition at
    # fixture bytes, so the checkpoint hands the expensive MinHash
    # signature UDF a SERIAL stage (profiled 0.69 s on one task at
    # sf0.1; ~linear in corpus size). The probe is cheap here — the
    # frame is a materialized LogicalRDD — and at corpus scale the
    # post-AQE partition count already covers the cores, so no exchange
    # is added.
    from oasysdb_spark.sources.tables import spread_scan

    comps = dedup_components(
        spark,
        threshold=near_threshold,
        docs=spread_scan(spark, exact_unique.select("doc_id", "text")),
    )
    reps = (
        comps.join(exact_unique.select("doc_id", "bpe"), "doc_id")
        .groupBy("component_id")
        .agg(
            F.max(
                F.struct(F.col("bpe"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("best")
        )
        .select((-F.col("best.neg_id")).alias("doc_id"))
    )
    survivors = (
        exact_unique.join(reps, "doc_id")
        .observe(obs_final, F.count(F.lit(1)).alias("n"))
        .cache()
    )
    return exact_unique, survivors, comps, obs_exact, obs_final


def prepare_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    budget: int = 512,
    near_threshold: float = 0.5,
    n_shards: int = 8,
    boiler_top_n: int = 20,
    boiler_min_hits: int = 5,
) -> DataFrame:
    """The COMPLETE training-data prep pipeline composed from the tested
    pieces, text in → packed sequences out:

        quality+language filter → Gopher REPETITION filter (top-n-gram /
        duplicate-5-gram rules, Arrow hot path) → BOILERPLATE scrub
        (mine top-DF n-grams, drop dominated docs) → exact dedup
        (fingerprint, keep min id) → NEAR-dup clustering (MinHash
        components, keep the QUALITY representative: most BPE tokens,
        tie → min doc_id — representative_pick's struct-max mechanism
        over the pipeline's token measure) → token-budget
        sequence packing per hash shard

    Returns one summary row: document counts surviving each stage, the
    packed sequence count, and the token total. Every stage is the
    oracle-checked operator it composes (`text_quality` /
    `text_boilerplate_scrub` / `text_fingerprints` / `dedup_components` /
    `text_pack_sequences`); this composition pins the stage ORDER a real
    pipeline uses — boilerplate is mined over the quality survivors
    (template chrome on junk pages shouldn't steer the miner), near-dup
    clustering runs after exact dedup (why hash N docs' shingles when
    fingerprints already collapsed exact copies), packing runs last over
    survivors only. The fixture is word-salad so the boilerplate stage
    drops ~0 docs here; on a real corpus it is the C4 template-cleaning
    pass (the injection-backed proof lives in :func:`boilerplate_scrub`)."""
    from oasysdb_spark.functions.text import word_shingles
    from oasysdb_spark.operators.dedup import dedup_components
    from oasysdb_spark.sources.tables import spread_scan

    # spread the (locally single-split) scan before the expensive
    # per-row stages — scale-adaptive: a real corpus's split count
    # already covers the cores and no exchange is added (r15)
    from pyspark.sql import Observation

    docs = spread_scan(
        spark, _docs(spark, sf_dir), key_path=f"{sf_dir}/documents.parquet"
    )
    toks = tokens(F.col("text"))
    quality = quality_rules(F.col("text"), toks)
    # Stage layout (r15 — same filters, same order, same counts; ONE
    # text materialization and zero dedicated counting actions): every
    # per-stage count is an ``observe()`` metric collected as a side
    # effect of a job the pipeline must run anyway (guide §1/§5 — the
    # old pass-A cache + 5 separate count()/first() actions were each a
    # full extra pass locally and a cache-eviction recompute hazard at
    # corpus scale). The quality/language expressions now run inline in
    # the repetition-filter stage instead of materializing a scored
    # cache first; fp/bpe/grams are still computed only on rows the
    # early gates keep.
    keep = (F.col("q") >= 3) & (F.col("pl") == "en")
    obs_head = Observation()
    obs_rep = Observation()
    scored = docs.select(
        "doc_id",
        "text",
        quality.alias("q"),
        predict_lang(toks).alias("pl"),
    ).observe(
        obs_head,
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(keep.cast("bigint")).alias("n_clean"),
    )
    clean = scored.where(keep)

    # Gopher repetition filter: the template/spam rules run right after
    # the format rules, before anything expensive touches the text —
    # row-local Arrow pass, same flags as text_repetition_stats. The
    # filter sits BEFORE the projection, so fp/bpe/grams are computed
    # only on rows that pass it.
    rep_kept = (
        clean.withColumn("rep", _rep_struct_udf()(F.col("text")))
        .where(_rep_pass(F.col("rep")))
        .select(
            "doc_id",
            "text",
            doc_fingerprint(F.col("text")).alias("fp"),
            token_count_bpe(F.col("text")).cast("bigint").alias("bpe"),
            word_shingles(tokens(F.col("text")), n=3).alias("grams"),
        )
        .observe(obs_rep, F.count(F.lit(1)).alias("n"))
        .cache()
    )

    # boilerplate scrub: mine the top-DF n-grams over the quality
    # survivors, drop docs carrying >= boiler_min_hits of them (row-local
    # array_intersect against the driver-collected top_n-row mined set —
    # no join, no extra shuffle beyond the mining count). The mining
    # collect is the action that populates rep_kept's cache and fires
    # obs_head/obs_rep.
    _sc = spark.sparkContext
    _prev_desc = _sc.getLocalProperty("spark.job.description")
    _sc.setJobDescription("ptc: score+mine boilerplate")
    _, boiler = _mine_boilerplate(rep_kept, boiler_top_n)
    obs_scrub = Observation()
    # NOT cached (r16): the window-based exact dedup inside
    # exact_then_near_dedup reads this exactly once, so a cache would be
    # a third full text materialization (after rep_kept's cache and the
    # exact_unique checkpoint) with no second reader; the row-local
    # array_intersect filter recomputes off rep_kept's cache for free.
    scrubbed = (
        rep_kept.where(
            F.size(F.array_intersect(F.col("grams"), boiler)) < boiler_min_hits
        )
        .drop("grams")
        .observe(obs_scrub, F.count(F.lit(1)).alias("n"))
    )

    # exact dedup: keep the min doc_id per fingerprint. The components
    # fixpoint inside scans scrubbed and exact_unique, firing
    # obs_scrub/obs_exact.
    _sc.setJobDescription("ptc: exact+near dedup")
    exact_unique, final, comps, obs_exact, obs_final = exact_then_near_dedup(
        spark, scrubbed, near_threshold
    )

    # pack survivors into budgeted sequences, sharded by doc_id hash so
    # packing parallelizes (no corpus-wide ordering)
    shard = F.pmod(F.hash("doc_id"), F.lit(n_shards))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = (
        final.withColumn("shard", shard)
        .withColumn(
            "seq_id",
            F.floor((F.sum("bpe").over(w) - F.col("bpe")) / F.lit(float(budget))),
        )
        .groupBy("shard", "seq_id")
        .agg(F.sum("bpe").alias("toks"))
    )
    _sc.setJobDescription("ptc: pack")
    seq_stats = packed.agg(
        F.count("*").alias("n_sequences"), F.sum("toks").alias("total_tokens")
    ).first()
    _sc.setJobDescription(_prev_desc)

    # every observation has fired by now (mining → head/rep, the
    # components fixpoint → scrub/exact, the packing agg above →
    # final), so the gets below return immediately
    n_raw = int(obs_head.get["n_raw"])
    n_clean = int(obs_head.get["n_clean"] or 0)
    n_rep = int(obs_rep.get["n"])
    n_scrubbed = int(obs_scrub.get["n"])
    n_exact = int(obs_exact.get["n"])
    n_final = int(obs_final.get["n"])

    # every action over the dedup frames is done and the return row is
    # built from driver-side literals — the components checkpoint can't
    # be needed for any recompute now, so release its executor blocks
    # (a cached-but-not-checkpointed frame would NOT be safe to free
    # earlier: cache eviction recomputes through lineage)
    from oasysdb_spark.session import free_local_checkpoint, release_frame

    free_local_checkpoint(comps)
    # likewise the per-stage caches: nothing downstream reads them, so
    # a long-lived session calling the pipeline repeatedly (the bench
    # does; an hourly curation job would) must not accumulate one set
    # of cached stage frames per call (r10 — the pipeline is now
    # bench-tracked per round, which made the leak visible; r15 —
    # exact_unique is an eager localCheckpoint, released via
    # release_frame's checkpoint path; r16 — scrubbed is no longer
    # cached at all, so only rep_kept / exact_unique / final retain)
    for stage_df in (rep_kept, exact_unique, final):
        release_frame(stage_df)

    # one-row summary as a JVM-only literal projection over a
    # single-partition range (r16): createDataFrame([...]) parallelizes
    # the row across defaultParallelism pickled-Python slices, so the
    # caller's action paid 32 Python-runner tasks (~0.3-1.8 s measured)
    # to emit ONE row of driver-side literals
    vals = [
        ("n_raw", n_raw),
        ("n_clean", n_clean),
        ("n_rep_kept", n_rep),
        ("n_boiler_kept", n_scrubbed),
        ("n_exact_unique", n_exact),
        ("n_neardup_unique", n_final),
        ("n_sequences", int(seq_stats["n_sequences"])),
        ("total_tokens", int(seq_stats["total_tokens"] or 0)),
    ]
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(v).cast("bigint").alias(k) for k, v in vals]
    )


def boilerplate_ngrams(
    spark: SparkSession, sf_dir: str, n: int = 3, top_n: int = 20
) -> DataFrame:
    """Boilerplate mining: the word n-grams appearing in the most
    documents (shingles are distinct per doc, so the count IS document
    frequency). High-DF n-grams are template/boilerplate candidates a
    cleaning pipeline strips before training. Row-local shingling, one
    count shuffle on the n-gram, top-n cut — linear at corpus scale."""
    from oasysdb_spark.functions.text import tokens, word_shingles
    from oasysdb_spark.operators.dedup import load_documents

    # spread load + explode_outer (r15): the md5-free but still heavy
    # tokenize+shingle expression dominated a ONE-task stage on the
    # single-file fixture, and the old `size(tokens) >= n` pre-filter +
    # the explode's inferred size-test each re-evaluated the expression
    # — word_shingles already guards short docs to an EMPTY array, so
    # the outer explode + null drop yields the identical ngram multiset
    # (shingles are concat_ws strings, never null) with the expression
    # evaluated once, parallel.
    docs = load_documents(spark, sf_dir, spread=True)
    grams = docs.select(
        F.explode_outer(word_shingles(tokens(F.col("text")), n=n)).alias("ngram")
    ).where(F.col("ngram").isNotNull())
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").cast("bigint").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "ngram")
        .limit(top_n)
    )


def bm25_search(
    spark: SparkSession,
    sf_dir: str,
    query: str = "hash join merge sort window",
    top_k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k retrieval over the corpus (Robertson/Sparck-Jones idf
    with the +1 smoothing Lucene uses): score(D, Q) = Σ_t idf(t) ·
    tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl)).

    Returns ``(doc_id, bm25)`` for the ``top_k`` best documents, ordered
    by (rounded score desc, doc_id) so the cut is deterministic across
    engines.

    Scale shape (r15 rewrite, guide §2.1/§2.4): a query carries a
    HANDFUL of terms, so per-doc tf for each query term is a row-local
    ``size(filter(tk, = term))`` — no token explode, no (doc, term)
    shuffle, no df join. ONE tiny aggregate collects every scalar the
    score needs (N, avgdl, and per-term df = count of docs containing
    the term) in a single pass over the cached token column; scoring is
    then a pure per-row expression and the cut is a
    TakeOrderedAndProject. The only corpus-wide work is the one
    tokenize pass (cached) plus that scan aggregate; nothing about the
    corpus shuffles at scale — the spread under the token cache is the
    local-fixture ramp (r15, guide §2.1: the single-split scan put the
    tokenize pass on ONE core; the cache sits above the conditional
    exchange, so both consumers read tokenized rows and the exchange
    runs at most once, and never at real split counts). Result safety:
    avgdl averages integral lengths (exact in double partial sums below
    2^53) and the df/N sums are integer, so partial-aggregation order
    cannot move any scored bit."""
    from oasysdb_spark.sources.tables import spread_scan

    q_terms = sorted({t for t in query.lower().split() if t})
    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    if not q_terms:
        # no query terms → no (doc, term) matches; empty result, same
        # schema as the scored path
        return docs.select(
            "doc_id", F.lit(0.0).alias("bm25")
        ).where(F.lit(False))
    base = (
        spread_scan(
            spark,
            docs.select("doc_id", "text"),
            key_path=f"{sf_dir}/documents.parquet",
        )
        .select("doc_id", toks.alias("tk"))
        .cache()
    )

    def _is_term(term: str):
        return lambda x: x == term

    tf_cols = [
        F.size(F.filter(F.col("tk"), _is_term(t))).alias(f"tf_{i}")
        for i, t in enumerate(q_terms)
    ]
    per_doc = base.select("doc_id", F.size("tk").alias("dl"), *tf_cols)
    # every scalar the score needs — N, avgdl, per-term document
    # frequency — in ONE tiny aggregate, collected once like a centroid
    # table (a crossJoin of the 1-row aggregate would plan as a
    # BroadcastNestedLoopJoin and trip the no-nested-loops sweep)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(q_terms))
        ],
    ).first()
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    if not n_docs or avgdl is None:
        # zero docs (or all-null token arrays): no corpus scalars to
        # score with — return the same empty frame the no-terms path
        # and the pre-r15 join shape produce (the scalar path would
        # otherwise crash on float(None) building the df literals)
        base.unpersist()
        return docs.select(
            "doc_id", F.lit(0.0).alias("bm25")
        ).where(F.lit(False))

    # per-TERM score quantized to integer micro-units before the per-doc
    # sum: a double SUM over terms is partial-aggregation-order
    # dependent, an integer sum is not
    def term_micro(i: int):
        df = float(stats[f"df_{i}"])
        idf = F.log(
            F.lit((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        )
        tf = F.col(f"tf_{i}")
        norm = tf + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        score = idf * (tf * (k1 + 1.0)) / norm
        return F.when(tf > 0, to_micro(score)).otherwise(F.lit(0).cast("bigint"))

    total_micro = term_micro(0)
    for i in range(1, len(q_terms)):
        total_micro = total_micro + term_micro(i)
    matched = F.greatest(
        *[F.col(f"tf_{i}") for i in range(len(q_terms))]
    ) > 0 if len(q_terms) > 1 else F.col("tf_0") > 0
    return (
        per_doc.where(matched)
        .select(
            "doc_id",
            F.round(total_micro / F.lit(1e6), 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(top_k)
    )


# The stopword list Gopher's quality rules check for (Rae et al. 2021,
# "Scaling Language Models" §A1.1): a document should contain at least
# two of these to look like running English prose.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (the public Rae et al. 2021
    repetition/format heuristics that apply to a plain-text corpus):
    word count in [50, 100k], mean word length in [3, 10], ≥80% of words
    containing an alphabetic character, and ≥2 stopword occurrences.
    Returns ONE summary row of per-rule pass counts plus the all-rules
    count — the corpus-health dashboard a filtering pipeline reads before
    choosing thresholds. 'Word' here = whitespace token (the paper's
    definition), unlike the alphanumeric `tokens()` used elsewhere.

    Scale shape: every rule is a row-local array expression over one
    scan; the only shuffle is the final single-row aggregate."""
    docs = _docs(spark, sf_dir)
    ws = F.filter(F.split(F.col("text"), "\\s+"), lambda w: w != "")
    nw = F.size(ws)
    total_wl = F.aggregate(
        F.transform(ws, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = total_wl.cast("double") / nw
    alpha_n = F.size(F.filter(ws, lambda w: F.lower(w).rlike("[a-z]")))
    stop_n = F.size(F.filter(ws, lambda w: F.lower(w).isin(*GOPHER_STOPWORDS)))

    per = docs.select(
        ((nw >= 50) & (nw <= 100_000)).alias("r_wc"),
        ((nw > 0) & (mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("r_wl"),
        ((nw > 0) & (alpha_n.cast("double") / nw >= 0.8)).alias("r_alpha"),
        (stop_n >= 2).alias("r_stop"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("bigint")  # noqa: E731
    return per.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        cnt("r_wc").alias("n_word_count_ok"),
        cnt("r_wl").alias("n_mean_wl_ok"),
        cnt("r_alpha").alias("n_alpha_ok"),
        cnt("r_stop").alias("n_stopword_ok"),
        F.sum(
            F.when(
                F.col("r_wc") & F.col("r_wl") & F.col("r_alpha") & F.col("r_stop"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pass_all"),
    )


# Deterministic boilerplate template injected by boilerplate_scrub (the
# fixture corpus is word-salad with near-unique n-grams, so removal has
# nothing real to remove — same injection pattern as pii_scrub_stats).
# 11 tokens → 9 distinct 3-gram shingles, far past the drop threshold.
BOILERPLATE_TEMPLATE = (
    "subscribe to our newsletter terms of service apply all rights reserved"
)


def boilerplate_scrub(
    spark: SparkSession,
    sf_dir: str,
    n: int = 3,
    top_n: int = 20,
    min_hits: int = 5,
) -> DataFrame:
    """Boilerplate REMOVAL — the other half of :func:`boilerplate_ngrams`:
    mine the corpus's ``top_n`` highest-document-frequency n-grams, then
    flag every document containing ``min_hits`` or more of them as
    boilerplate-dominated (C4-style template cleaning: pages carrying the
    site chrome get dropped, everything else keeps). The synthetic
    fixture is word-salad whose 3-grams are near-unique, so the query
    first INJECTS :data:`BOILERPLATE_TEMPLATE` into every 4th document
    (``doc_id % 4 == 0`` — the pii_scrub_stats pattern) and then proves
    mining + scrubbing identifies exactly the injected docs.

    Returns per-doc ``(doc_id, n_shingles, boiler_hits, keep)``.

    Scale shape: mining is one count shuffle + deterministic top-n cut
    (ties broken by the n-gram itself); the mined set is ``top_n`` rows
    by construction, so it collects to the driver like a centroid table
    and hit-counting is a row-local ``array_intersect`` — no join, no
    second shuffle, one cached shingle scan feeding both consumers."""
    from oasysdb_spark.functions.text import tokens, word_shingles
    from oasysdb_spark.operators.dedup import load_documents

    # spread load (r15): the cached shingle table materializes under the
    # mining collect, and on the single-file fixture that tokenize+
    # shingle pass planned onto ONE task; conditional no-op at scale
    docs = load_documents(spark, sf_dir, spread="rescue")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit(" " + BOILERPLATE_TEMPLATE)
        ).otherwise(F.lit("")),
    )
    shingled = docs.select(
        "doc_id", word_shingles(tokens(aug), n=n).alias("grams")
    ).cache()
    _, boiler = _mine_boilerplate(shingled, top_n)
    hits = F.size(F.array_intersect(F.col("grams"), boiler))
    return shingled.select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_shingles"),
        hits.cast("bigint").alias("boiler_hits"),
        (hits < min_hits).alias("keep"),
    )



def _mine_boilerplate(shingled, top_n: int):
    """Top-``top_n`` document-frequency n-grams over a frame carrying a
    ``grams`` column (ties -> n-gram ascending), collected driver-side
    like a centroid table, returned as (list, typed array Column) ready
    for a row-local ``array_intersect`` hit count. Shared by
    :func:`boilerplate_scrub` and the composed pipeline so the keep rule
    and the empty-mined-set guard (a bare ``F.array()`` is array<null>
    and breaks array_intersect) exist exactly once."""
    mined = (
        shingled.select(F.explode("grams").alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), "ngram")
        .limit(top_n)
    )
    top = [r["ngram"] for r in mined.collect()]
    boiler = (
        F.array(*[F.lit(g) for g in top])
        if top
        else F.array().cast("array<string>")
    )
    return top, boiler


def clean_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepared-plan wrapper (r16): the pipeline body is one declarative
    plan with no caches/pins (~0.26 s of py4j construction, measured
    warm) — repeat invocations reuse the constructed frame via the
    signature-guarded ledger; every action still scans the corpus."""
    from oasysdb_spark.sources.tables import prepared_plan

    return prepared_plan(
        spark,
        "clean_corpus_pipeline",
        (sf_dir,),
        (f"{sf_dir}/documents.parquet",),
        lambda: _clean_corpus_pipeline_build(spark, sf_dir),
    )


def _clean_corpus_pipeline_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data prep story as ONE declarative plan:

        score (quality + language) -> filter -> exact-dedup -> corpus stats

    Everything before the final aggregates is row-local (zero shuffle);
    the dedup groupBy on the 64-bit fingerprint is the single data
    shuffle, and ``min(struct(doc_id, bpe))`` picks the kept doc per
    duplicate group without a join-back (DuckDB twin: ``arg_min``). At
    100 TB this is the plan you want: one pass, one shuffle on a
    uniformly-distributed hash key, counters as conditional aggregates.

    r15: the scan is spread (:func:`spread_scan`) so the expensive
    per-row text expressions parallelize when the input is a single
    small file — at corpus scale the condition is false and the plan
    stays one scan + the one fp groupBy exchange.
    """
    from oasysdb_spark.sources.tables import spread_scan

    docs = spread_scan(
        spark, _docs(spark, sf_dir), key_path=f"{sf_dir}/documents.parquet"
    )
    toks = tokens(F.col("text"))
    quality = quality_rules(F.col("text"), toks)
    scored = docs.select(
        "doc_id",
        predict_lang(toks).alias("pred_lang"),
        quality.alias("quality"),
        doc_fingerprint(F.col("text")).alias("fp"),
        token_count_bpe(F.col("text")).cast("bigint").alias("bpe"),
    )
    keep = (F.col("quality") >= 3) & (F.col("pred_lang") == "en")
    # Single pass: rejected docs get a NULL group key, so the expensive
    # text expressions evaluate once per row and the whole pipeline is one
    # scan + one shuffle. The NULL group is not a skew hazard: partial
    # (map-side) aggregation collapses it to one row per task before the
    # exchange.
    grouped = (
        scored.select(
            F.when(keep, F.col("fp")).alias("fp_clean"), "doc_id", "bpe"
        )
        .groupBy("fp_clean")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(F.struct("doc_id", "bpe")).alias("k"),
        )
    )
    is_clean = F.col("fp_clean").isNotNull()
    return grouped.agg(
        F.sum("n_rows").cast("bigint").alias("n_raw"),
        F.sum(F.when(is_clean, F.col("n_rows")).otherwise(0)).cast("bigint").alias("n_clean"),
        F.count(F.when(is_clean, 1)).cast("bigint").alias("n_unique"),
        F.sum(F.when(is_clean, F.col("k.bpe"))).cast("bigint").alias("total_bpe_tokens"),
        round6(F.avg(F.when(is_clean, F.col("k.bpe")))).alias("mean_bpe"),
    )


def _word_ngrams(tk, n: int):
    """Space-joined word n-grams of a token array, ascending position.
    Empty (typed) array when the doc has fewer than ``n`` tokens."""
    return F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - n),
            lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _top_gram_run(grams):
    """Row-local mode of a gram array: ``struct(best_run, best)`` where
    ``best`` is the most frequent gram (ties -> lexicographically first,
    matching the oracle's ``ORDER BY c DESC, g``). Implemented as
    array_sort + a run-length scan inside ``F.aggregate`` — O(m log m)
    per ROW, no shuffle, so at 100 TB it rides the scan instead of
    exploding ~100 tokens/doc into a (doc_id, gram) aggregation
    exchange. The empty-string sentinel in ``prev`` cannot collide with
    a real gram (tokens are non-empty by construction)."""

    def merge(acc, x):
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run2 > acc["best_run"]
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.when(better, run2).otherwise(acc["best_run"]).alias("best_run"),
            F.when(better, x).otherwise(acc["best"]).alias("best"),
        )

    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_run"),
        F.lit("").alias("best"),
    )
    acc = F.aggregate(F.array_sort(grams), init, merge)
    return F.struct(acc["best_run"].alias("best_run"), acc["best"].alias("best"))


def _rep_metrics_py(text) -> list[float]:
    """Pure-Python twin of the repetition metrics — one doc in, the four
    unrounded fractions out. Must mirror the expression path exactly:
    same tokenization as :func:`tokens`, same tie-break (count desc,
    gram asc), same normalized-token-stream character accounting."""
    import re
    from collections import Counter

    toks = [t for t in re.split(r"[^a-z0-9]+", (text or "").lower()) if t]
    nc = len(" ".join(toks))
    out: list[float] = []
    for n in (2, 3, 4):
        if len(toks) < n or nc == 0:
            out.append(0.0)
            continue
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        cnt = Counter(grams)
        mx = max(cnt.values())
        best = min(g for g, c in cnt.items() if c == mx)
        out.append(mx * len(best) / nc)
    if len(toks) < 5:
        out.append(0.0)
    else:
        g5 = [" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)]
        out.append((len(g5) - len(set(g5))) / len(g5))
    return out


_REP_UDF = {}


def _rep_struct_udf():
    """Arrow-batched repetition metrics UDF (built lazily — pandas_udf
    decoration needs an active SparkSession; cached per process). Shared
    by :func:`repetition_stats` and the corpus-pipeline stage."""
    if "rep" not in _REP_UDF:

        @F.pandas_udf("top2 double, top3 double, top4 double, dup5 double")
        def rep(text: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(
                [_rep_metrics_py(t) for t in text],
                columns=["top2", "top3", "top4", "dup5"],
            )

        _REP_UDF["rep"] = rep
    return _REP_UDF["rep"]


def _rep_pass(m) -> "F.Column":
    """The pass_repetition predicate over a metrics struct column —
    rounds first so stand-alone stats and pipeline stage agree exactly."""
    return (
        (F.round(m["top2"], 6) <= 0.20)
        & (F.round(m["top3"], 6) <= 0.18)
        & (F.round(m["top4"], 6) <= 0.16)
        & (F.round(m["dup5"], 6) <= 0.15)
    )


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style REPETITION rules (Rae et al. 2021 §A1.1) — the other
    half of :func:`gopher_quality_flags`'s format rules: per document,
    the fraction of characters contained in the most frequent word
    {2,3,4}-gram (thresholds 0.20 / 0.18 / 0.16) and the fraction of
    duplicated 5-grams (threshold 0.15; the paper counts duplicated-gram
    *characters* — we use the gram-count fraction, same signal, and
    document the simplification). ``pass_repetition`` is the AND of all
    four — the template/spam filter a corpus pipeline runs right after
    the format rules.

    HOT PATH: Arrow-batched pandas UDF (the minhash/simhash discipline —
    measured 3.6 s vs the interpreted higher-order expression twin at
    sf0.1; the per-row Counter beats four interpreted array_sort +
    aggregate passes). Rounding happens JVM-side AFTER the UDF so both
    paths share Spark's HALF_UP `F.round` — the raw doubles are
    IEEE-identical (integer counts, one division). The expression twin
    (:func:`repetition_stats_expr`) carries the plan-shape guarantee and
    is asserted bit-identical in tests. Still shuffle-free at scale:
    one scan, one ArrowEvalPython, and no exchange beyond the
    conditional spread ramp below (r15, guide §2.1 — the single-split
    fixture scan put the Arrow Counter pass on ONE core; at real corpus
    split counts the condition is false and the plan is exchange-free,
    which the plan pin asserts as 'no hash exchange, at most one
    round-robin ramp')."""
    from oasysdb_spark.sources.tables import spread_scan

    docs = spread_scan(
        spark,
        _docs(spark, sf_dir).select("doc_id", "text"),
        key_path=f"{sf_dir}/documents.parquet",
    )
    m = docs.select("doc_id", _rep_struct_udf()(F.col("text")).alias("m"))

    # the expression twin rounds identically, so the bit-equality pin
    # holds
    out = m.select(
        "doc_id",
        round6(F.col("m.top2")).alias("top2_frac"),
        round6(F.col("m.top3")).alias("top3_frac"),
        round6(F.col("m.top4")).alias("top4_frac"),
        round6(F.col("m.dup5")).alias("dup5_frac"),
    )
    return out.select(
        "*",
        (
            (F.col("top2_frac") <= 0.20)
            & (F.col("top3_frac") <= 0.18)
            & (F.col("top4_frac") <= 0.16)
            & (F.col("dup5_frac") <= 0.15)
        ).alias("pass_repetition"),
    )


def repetition_stats_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-JVM expression twin of :func:`repetition_stats` (row-local
    array_sort + run-length aggregate, zero Python). Interpreted
    higher-order functions make it the slower path at corpus scale, but
    it is the cross-validation anchor: tests assert it bit-identical to
    the Arrow path, and its plan contains no Exchange at all."""
    docs = _docs(spark, sf_dir)
    tk = tokens(F.col("text"))
    base = docs.select("doc_id", tk.alias("tk")).select(
        "doc_id",
        "tk",
        F.length(F.concat_ws(" ", F.col("tk"))).alias("nc"),
        *[_word_ngrams(F.col("tk"), n).alias(f"g{n}") for n in (2, 3, 4, 5)],
    )

    def top_frac(g):
        t = _top_gram_run(g)
        return F.when(
            (F.size(g) > 0) & (F.col("nc") > 0),
            round6(
                (t["best_run"] * F.length(t["best"])).cast("double")
                / F.col("nc")
            ),
        ).otherwise(F.lit(0.0))

    dup5 = F.when(
        F.size("g5") > 0,
        round6(
            (F.size("g5") - F.size(F.array_distinct("g5"))).cast("double")
            / F.size("g5")
        ),
    ).otherwise(F.lit(0.0))

    out = base.select(
        "doc_id",
        top_frac(F.col("g2")).alias("top2_frac"),
        top_frac(F.col("g3")).alias("top3_frac"),
        top_frac(F.col("g4")).alias("top4_frac"),
        dup5.alias("dup5_frac"),
    )
    return out.select(
        "*",
        (
            (F.col("top2_frac") <= 0.20)
            & (F.col("top3_frac") <= 0.18)
            & (F.col("top4_frac") <= 0.16)
            & (F.col("dup5_frac") <= 0.15)
        ).alias("pass_repetition"),
    )


def vocabulary(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 15,
    min_df: int = 5,
) -> DataFrame:
    """Per-language vocabulary construction — the tokenizer-training /
    feature-selection primitive: for each ``lang``, the ``top_k`` terms
    by corpus term frequency (ties -> term ascending) among terms whose
    document frequency is at least ``min_df``. Returns
    ``(lang, rank, term, tf, df)``.

    Scale shape: explode -> ONE (lang, term) aggregation (map-side
    partial combine collapses each task to its local vocab before the
    exchange; ``count_distinct(doc_id)`` is the standard two-phase
    expand). The ranking window partitions by ``lang`` — cardinality =
    vocab size per language, far below the corpus, so the top-k cut is
    over an already-tiny aggregate, never the raw token stream."""
    docs = _docs(spark, sf_dir)
    terms = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term")
    )
    agg = (
        terms.groupBy("lang", "term")
        .agg(
            F.count("*").cast("bigint").alias("tf"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .where(F.col("df") >= min_df)
    )
    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("term"))
    return (
        agg.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= top_k)
        .select("lang", F.col("rank").cast("bigint").alias("rank"), "term", "tf", "df")
        .orderBy("lang", "rank")
    )


def span_dedup_stats(
    spark: SparkSession, sf_dir: str, k: int = 5
) -> DataFrame:
    """EXACT-SUBSTRING span dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr side
    of the paper, reduced to token k-grams): any ``k``-token span whose
    content appears more than once ANYWHERE in the corpus (cross-doc or
    within-doc) is marked duplicated, and the per-doc union of the
    marked fixed-length intervals is the text that substring dedup would
    cut. Returns per doc ``(doc_id, n_tokens, n_dup_positions,
    n_removed_tokens, keep_frac)``.

    The word-salad fixture's k-grams are near-unique, so the query
    injects :data:`BOILERPLATE_TEMPLATE` into every 4th document (the
    boilerplate_scrub / pii_scrub pattern) and the stats prove exactly
    the injected spans get cut.

    Scale shape (the 100 TB contract): spans are hashed to 8 bytes
    row-locally BEFORE any exchange, so the only shuffles are one
    count aggregation and one equi-join on the 64-bit span hash —
    raw text never shuffles. The interval union is a row-local
    run-length pass over the sorted duplicate positions
    (``sum(min(k, gap))``), never a window over the token stream."""
    docs = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0, F.lit(" " + BOILERPLATE_TEMPLATE)
        ).otherwise(F.lit("")),
    )
    tk = tokens(aug)
    base = docs.select(
        "doc_id",
        tk.alias("tk"),
    ).select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.when(
            F.size("tk") >= k,
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - k),
                lambda i: F.struct(
                    i.alias("p"),
                    hash64(F.concat_ws(" ", F.slice(F.col("tk"), i + 1, k))).alias("h"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<p:int,h:bigint>>"))
        .alias("sh"),
    )
    base = base.cache()  # feeds positions AND the final left join
    pos = base.select("doc_id", F.explode("sh").alias("s")).select(
        "doc_id", F.col("s.p").alias("p"), F.col("s.h").alias("h")
    )
    dup = pos.groupBy("h").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    mark = pos.join(dup.select("h"), "h")

    # row-local union of fixed-length intervals over sorted dup starts:
    # first span contributes k, each next min(k, gap to previous start)
    def cover(acc, p):
        add = F.when(acc["prev"] < 0, F.lit(k)).otherwise(
            F.least(F.lit(k), p - acc["prev"])
        )
        return F.struct(p.alias("prev"), (acc["cov"] + add).alias("cov"))

    per = mark.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_dup_positions"),
        F.sort_array(F.collect_list("p")).alias("ps"),
    )
    per = per.select(
        "doc_id",
        "n_dup_positions",
        F.aggregate(
            F.col("ps"),
            F.struct(F.lit(-1).alias("prev"), F.lit(0).alias("cov")),
            cover,
        )["cov"]
        .cast("bigint")
        .alias("n_removed_tokens"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_dup_positions", F.lit(0)).cast("bigint").alias("n_dup_positions"),
            F.coalesce("n_removed_tokens", F.lit(0)).cast("bigint").alias("n_removed_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                round6(
                    1.0
                    - F.coalesce("n_removed_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens")
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("keep_frac"),
        )
    )


# Exactly line_dedup_stats' line_len (10) tokens, so the injected line
# occupies pseudo-line 0 of every 3rd document verbatim and the rest of
# the document's chunk boundaries are untouched.
LINE_TEMPLATE = "subscribe to our newsletter terms of service apply all rights"


def line_dedup_stats(
    spark: SparkSession, sf_dir: str, line_len: int = 10
) -> DataFrame:
    """CCNet-style LINE-level dedup (Wenzek et al. 2019, "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    every line that appears more than once ANYWHERE in the corpus keeps
    exactly ONE copy — the first winner by ``(doc_id, position)`` — and
    all other occurrences are cut; documents are then reassembled from
    their surviving lines. The fixture corpus has no newlines, so a
    "line" is a deterministic ``line_len``-token chunk of the token
    stream (the last chunk may be shorter), and :data:`LINE_TEMPLATE`
    (exactly ``line_len`` tokens) is prepended to every 3rd document so
    cross-doc duplicate lines actually exist — the same injection
    pattern as :func:`span_dedup_stats` / :func:`boilerplate_scrub`.

    Returns per doc ``(doc_id, n_lines, n_kept, n_dup_dropped,
    kept_chars, kept_hash_sum, keep_frac)``. ``kept_hash_sum`` —
    ``sum(line_hash % 1_000_000_007)`` over the SURVIVING lines — is an
    order-independent checksum of exactly which lines each reassembled
    document contains, so the oracle hash-checks the reassembly without
    either engine ever concatenating (or shuffling) text.

    Scale shape (the 100 TB contract): line hashes and char counts are
    computed row-locally BEFORE any exchange, so the only rows that
    ever shuffle are ``(doc_id, p, h, nc)`` — four fixed-width ints per
    line, never text. The first-winner pick is ``min(struct(doc_id,
    p, nc))`` grouped by the line hash — an aggregation, NOT a
    ``row_number`` window, deliberately: partial (map-side) combine
    collapses even a boilerplate mega-clique (one line quoted by
    billions of docs — a guaranteed hot key at corpus scale) to one
    row per task before the exchange, where a window would funnel the
    whole clique through a single reducer and sort it. Two shuffles
    total (winner agg + per-doc agg), both skew-proof. CCNet's
    production sharding (hash-bucketed line files) is exactly this
    plan with the exchange made explicit."""
    docs = _docs(spark, sf_dir)
    aug = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0, F.lit(LINE_TEMPLATE + " ")
        ).otherwise(F.lit("")),
        F.col("text"),
    )
    line = lambda i: F.concat_ws(  # noqa: E731 — row-local chunk expr
        " ", F.slice(F.col("tk"), i * line_len + 1, line_len)
    )
    base = docs.select("doc_id", tokens(aug).alias("tk")).select(
        "doc_id",
        F.when(
            F.size("tk") > 0,
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("tk") / F.lit(float(line_len))).cast("int")
                    - 1,
                ),
                lambda i: F.struct(
                    i.alias("p"),
                    hash64(line(i)).alias("h"),
                    F.length(line(i)).alias("nc"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<p:int,h:bigint,nc:int>>"))
        .alias("ln"),
    )
    base = base.cache()  # feeds the line table AND the final left joins
    pos = base.select("doc_id", F.explode("ln").alias("s")).select(
        "doc_id",
        F.col("s.p").alias("p"),
        F.col("s.h").alias("h"),
        F.col("s.nc").alias("nc"),
    )
    # first winner per distinct line = min (doc_id, p); nc rides along
    # (never compared — (doc_id, p) is unique). Partial-agg, skew-proof.
    winners = pos.groupBy("h").agg(
        F.min(F.struct("doc_id", "p", "nc")).alias("w")
    )
    per_kept = (
        winners.select(
            F.col("w.doc_id").alias("doc_id"),
            F.col("w.nc").alias("nc"),
            (F.col("h") % F.lit(1_000_000_007)).alias("hm"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("nc").cast("bigint").alias("kept_chars"),
            F.sum("hm").cast("bigint").alias("kept_hash_sum"),
        )
    )
    totals = pos.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return (
        base.select("doc_id")
        .join(totals, "doc_id", "left")
        .join(per_kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).cast("bigint").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.coalesce("n_lines", F.lit(0)) - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_dup_dropped"),
            F.coalesce("kept_chars", F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.coalesce("kept_hash_sum", F.lit(0))
            .cast("bigint")
            .alias("kept_hash_sum"),
            F.when(
                F.coalesce("n_lines", F.lit(0)) > 0,
                round6(
                    F.coalesce("n_kept", F.lit(0)).cast("double") / F.col("n_lines")
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("keep_frac"),
        )
    )


def line_dedup_apply(
    docs: DataFrame, line_len: int = 10
) -> DataFrame:
    """The TRANSFORM half of :func:`line_dedup_stats` — CCNet line
    dedup applied: returns ``(doc_id, text)`` with every non-winning
    duplicate line removed and each document reassembled from its
    surviving lines in position order. Takes a ``(doc_id, text)``
    DataFrame (no fixture injection — callers pass the corpus as-is),
    so it slots into pipeline compositions between quality filtering
    and fuzzy dedup exactly where CCNet runs it. Docs whose every line
    was claimed elsewhere come back with empty text (callers drop or
    keep them; CCNet drops).

    Scale shape: winner selection is the stats op's int-only,
    skew-proof plan — the (doc_id, p, h) stream shuffles twice
    (min-struct winner aggregation + per-doc collect of kept
    positions), never text. Reassembly then joins the
    per-doc kept-position ARRAY (one small int array per doc) back to
    the original docs on doc_id and rebuilds the text ROW-LOCALLY by
    re-chunking the token array and concatenating the kept chunks — so
    the corpus text moves through exactly ONE doc_id-keyed exchange
    (the join), not the two line-level text shuffles of the naive
    explode→dedup→regroup plan."""
    line = lambda i: F.concat_ws(  # noqa: E731 — row-local chunk expr
        " ", F.slice(F.col("tk"), i * line_len + 1, line_len)
    )
    base = docs.select("doc_id", tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        "tk",
        F.when(
            F.size("tk") > 0,
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size("tk") / F.lit(float(line_len))).cast("int")
                    - 1,
                ),
                lambda i: F.struct(
                    i.alias("p"), hash64(line(i)).alias("h")
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<p:int,h:bigint>>"))
        .alias("ln"),
    )
    base = base.cache()  # feeds the winner agg AND the reassembly join
    pos = base.select("doc_id", F.explode("ln").alias("s")).select(
        "doc_id", F.col("s.p").alias("p"), F.col("s.h").alias("h")
    )
    # min-struct winner agg, not a window: partial combine keeps a
    # boilerplate mega-clique from funneling into one reducer (same
    # skew argument as line_dedup_stats)
    kept_pos = (
        pos.groupBy("h")
        .agg(F.min(F.struct("doc_id", "p")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.p").alias("p"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("p")).alias("keep_ps"))
    )
    return (
        base.select("doc_id", "tk")
        .join(kept_pos, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("keep_ps").isNotNull(),
                F.concat_ws(
                    " ",
                    F.transform(F.col("keep_ps"), lambda p: line(p)),
                ),
            )
            .otherwise(F.lit(""))
            .alias("text"),
        )
    )


def heavy_hitter_terms(
    spark: SparkSession,
    sf_dir: str,
    share_denom: int = 64,
    sketch_k: int = 256,
) -> DataFrame:
    """Corpus-wide heavy-hitter terms — every term with frequency above
    ``1/share_denom`` of all tokens, with EXACT counts. The classic
    two-pass shape that survives 100 TB:

    pass 1 (sketch): a Misra-Gries sketch per partition via
    ``mapInPandas`` — state is ``sketch_k`` counters regardless of
    partition size, and only the ≤ ``partitions × sketch_k`` sketch rows
    leave the executors (never the token stream). Merged sketches keep
    the no-false-negative guarantee (error bounds add: anything with
    global share > 1/share_denom survives when sketch_k ≥ share_denom).

    pass 2 (exact): recount ONLY the surviving candidates (an `isin`
    prune pushed into the scan) and apply the exact threshold — so the
    sketch affects efficiency, never the answer, and the output is
    DuckDB-replayable with a plain GROUP BY ... HAVING. A term's exact
    count also certifies the MG bound in tests.

    Returns ``(term, tf)`` ordered by tf desc, term."""
    from oasysdb_spark.functions.stats import misra_gries_merge, misra_gries_update

    if sketch_k < share_denom:
        raise ValueError("sketch_k must be >= share_denom for the capture guarantee")
    docs = _docs(spark, sf_dir)
    terms = docs.select(F.explode(tokens(F.col("text"))).alias("term"))

    def sketch_partition(batches):
        counters: dict = {}
        n = 0
        for pdf in batches:
            for t in pdf["term"]:
                n += 1
                misra_gries_update(counters, t, sketch_k)
        rows = [(t, int(c), 0) for t, c in counters.items()]
        rows.append((None, 0, n))
        yield pd.DataFrame(rows, columns=["term", "est", "n"])

    sk = terms.mapInPandas(sketch_partition, "term string, est long, n long").collect()
    total_n = sum(r["n"] for r in sk)
    merged: dict = {}
    for r in sk:
        if r["term"] is not None:
            merged = misra_gries_merge(merged, {r["term"]: r["est"]})
    cand = sorted(merged)
    if not cand or total_n == 0:
        return terms.groupBy("term").agg(F.count("*").cast("bigint").alias("tf")).limit(0)
    return (
        terms.where(F.col("term").isin(cand))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("tf"))
        .where(F.col("tf") * share_denom > total_n)
        .orderBy(F.col("tf").desc(), "term")
    )


def source_curation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation report — the per-SOURCE rollup a curation
    team reads before deciding what to crawl more of or cut: for each
    ``source``, doc count, total BPE tokens, how many of its docs are
    corpus-wide exact duplicates (hash-membership in >1-sized content
    groups — dup-heavy sources are usually mirrors/scrapers), and mean
    quality score (the same 4-rule composite as ``text_quality``).

    Scale shape: quality and content hash are row-local; duplicate
    membership is one (hash) aggregation + one hash equi-join back (the
    text itself never shuffles — only the 8-byte digest does); the
    rollup is one (source) aggregation."""
    from oasysdb_spark.functions.hashing import hash64

    docs = _docs(spark, sf_dir)
    toks = tokens(F.col("text"))
    quality = quality_rules(F.col("text"), toks)
    scored = docs.select(
        "source",
        token_count_bpe(F.col("text")).cast("bigint").alias("n_tokens"),
        quality.cast("bigint").alias("quality"),
        hash64(F.col("text")).alias("ch"),
    ).cache()  # feeds BOTH sides of the dup join: without this the
    # tokenize/ratio/md5 expressions run twice over the corpus
    dup_hashes = (
        scored.groupBy("ch")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("ch")
    )
    flagged = scored.join(
        dup_hashes.withColumn("is_dup", F.lit(1)), "ch", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_docs"),
            round6(F.avg("quality")).alias("mean_quality"),
        )
    )


def oov_rate(spark: SparkSession, sf_dir: str, top_k: int = 500) -> DataFrame:
    """Vocabulary-coverage scoring — the tokenizer-fit signal: build the
    corpus-wide ``top_k`` vocabulary (by term frequency, ties → term
    ascending, the same deterministic cut as :func:`vocabulary`), then
    report each doc's out-of-vocabulary token share,
    ``(doc_id, n_tokens, n_oov, oov_rate)``. High-OOV docs are the ones
    a fixed tokenizer will shred into bytes — a curation/routing signal.

    Scale shape: one (term) aggregation (map-side partials) feeds a
    top-k cut over the already-aggregated vocab table (≪ corpus); the
    vocab broadcasts to the token stream (k rows by construction); one
    (doc) aggregation finishes. The raw text never shuffles."""
    docs = _docs(spark, sf_dir)
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    vocab = (
        terms.groupBy("term")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.col("tf").desc(), "term")
        .limit(top_k)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
        )
        .withColumn("oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6))
    )


def shard_plan(
    spark: SparkSession, sf_dir: str, n_shards: int = 16, seed: str = "shard0"
) -> DataFrame:
    """Training-output shard planning — the step between a cleaned corpus
    and the files a trainer reads: assign every doc to one of
    ``n_shards`` shards by a SEEDED deterministic hash of its id (the
    global shuffle that decorrelates adjacent source docs), and report
    per-shard balance, ``(shard, n_docs, total_tokens, distinct_sources)``.
    A skewed row means a bad hash or key pathology — this is the check
    you run BEFORE burning a 1000-executor write.

    Scale shape: assignment is a row-local md5-based hash (the same
    cross-engine family the dedup tier uses, salted by ``seed`` so
    re-sharding for a new epoch is a salt change, not new machinery);
    the stats are one groupBy on the shard id. The physical write is
    ``df.repartition(n_shards, "shard").write`` — assignment and
    partitioning share the same key, so the plan has exactly one
    exchange and shard files come out size-balanced."""
    from oasysdb_spark.functions.hashing import hash64

    docs = _docs(spark, sf_dir)
    shard = F.pmod(
        hash64(F.col("doc_id").cast("string"), salt=seed), F.lit(n_shards)
    )
    return (
        docs.select(
            shard.cast("int").alias("shard"),
            token_count_bpe(F.col("text")).cast("bigint").alias("n_tokens"),
            "source",
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("source").cast("bigint").alias("distinct_sources"),
        )
    )


def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-based curriculum assignment (short→long is the classic
    LM curriculum): bucket every doc into quartiles of its BPE token
    count and report per-bucket corpus stats,
    ``(bucket, n_docs, min_tokens, max_tokens, total_tokens)``.

    Scale shape: assignment is NOT a global sort/ntile — the three exact
    quartile thresholds are computed once by an ordered aggregate (the
    same exact-``percentile`` surface as ``percentile_stats``; its
    mergeable-sketch twin is the 100 TB path), collected driver-side as
    three doubles, and bucketing is then a row-local comparison chain,
    so the corpus itself never globally sorts. Spark's exact
    ``percentile`` matches DuckDB's ``quantile_cont`` bit-for-bit, and
    every output column is integer, so the oracle hash has no float
    surface at all."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", token_count_bpe(F.col("text")).cast("bigint").alias("n_tokens")
    )
    t1, t2, t3 = (
        scored.agg(
            F.expr("percentile(n_tokens, array(0.25, 0.5, 0.75))").alias("t")
        ).first()["t"]
    )
    bucket = (
        F.when(F.col("n_tokens") > F.lit(float(t1)), 1).otherwise(0)
        + F.when(F.col("n_tokens") > F.lit(float(t2)), 1).otherwise(0)
        + F.when(F.col("n_tokens") > F.lit(float(t3)), 1).otherwise(0)
    )
    return (
        scored.withColumn("bucket", bucket.cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram corpus-LM quality signal — the next rung up from
    :func:`unigram_surprisal` toward the CCNet/KenLM perplexity filter:
    fit add-one-smoothed bigram probabilities over the corpus itself,
    then score every document by its mean per-bigram surprisal in bits,
    ``-log2 (c(w1,w2) + 1) / (c(w1) + V)``. Repetitive/templated text
    (predictable continuations) scores low; incoherent token salad
    scores near ``log2 V``; both tails are curation targets. Returns
    ``(doc_id, n_bigrams, bits_per_bigram)`` for docs with ≥ 2 tokens.

    Scale shape: bigrams form ROW-LOCALLY (an expression-level
    ``transform`` over the token array — no window, no shuffle), then
    one (bigram) aggregation builds the LM; context counts ``c(w1)``
    derive from the already-aggregated bigram-count table (vocab²-bounded,
    ≪ corpus) rather than a second pass over the stream; scoring is two
    hash equi-joins (bigram → c2, first-token → c1) and one (doc)
    aggregation. Both engines run the same integer-ratio-into-log
    arithmetic."""
    docs = _docs(spark, sf_dir)
    # tk is read twice (bigram build + vocab count) but both passes are
    # cheap row-local tokenization — recompute beats pinning a second
    # corpus-scale frame in executor storage for the session lifetime
    tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    bigr = (
        tk.where(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("tk", i + 1),
                        F.element_at("tk", i + 2),
                    ),
                )
            ).alias("bg"),
        )
        .cache()
    )
    bg_counts = bigr.groupBy("bg").agg(F.count("*").alias("c2"))
    ctx = (
        bg_counts.withColumn("w1", F.split("bg", " ")[0])
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    vocab_size = (
        tk.select(F.explode("tk").alias("t")).agg(F.countDistinct("t")).first()[0]
    )
    bits = F.log(
        (F.col("c1") + F.lit(int(vocab_size))).cast("double")
        / (F.col("c2") + F.lit(1.0))
    ) / F.log(F.lit(2.0))
    bits_u6 = to_micro(bits)
    return release_pins_with(
        bigr.join(bg_counts, "bg")
        .withColumn("w1", F.split("bg", " ")[0])
        .join(ctx, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            from_micro(F.sum(bits_u6) / F.count("*")).alias("bits_per_bigram"),
        ),
        bigr,
    )


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM statistical quality signal (the CCNet move, with the
    honest training-free surrogate: a unigram LM instead of KenLM): fit
    token frequencies over the corpus itself, then score every document
    by its mean per-token surprisal in bits — template/spam text scores
    low (high-frequency tokens), lexically rich text scores high; both
    tails are what a curation pipeline inspects. Returns
    ``(doc_id, n_tokens, bits_per_token)``.

    Scale shape: one (term) aggregation builds the LM (map-side
    partials; vocab ≪ corpus), one equi-join scores the token stream
    (Spark auto-broadcasts a small vocab), one (doc) aggregation
    averages. Both engines run the same ``ln(N/tf)/ln(2)``."""
    docs = _docs(spark, sf_dir)
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).cache()
    vocab = terms.groupBy("term").agg(F.count("*").alias("tf"))
    n_total = terms.count()
    bits = F.log(F.lit(float(n_total)) / F.col("tf")) / F.log(F.lit(2.0))
    bits_u6 = to_micro(bits)
    return release_pins_with(
        terms.join(vocab, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            from_micro(F.sum(bits_u6) / F.count("*")).alias("bits_per_token"),
        ),
        terms,
    )


def quality_percentile_filter(
    spark: SparkSession,
    sf_dir: str,
    q: float = 0.5,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Per-source LM-quality percentile pruning — the "keep the top q
    of every domain by perplexity" curation step (CCNet's per-shard
    perplexity buckets; FineWeb-style per-dump thresholds): score every
    doc with the corpus-unigram surprisal (the
    :func:`unigram_surprisal` arithmetic, bits/token rounded to 6),
    take each SOURCE's exact q-quantile as its threshold, and keep the
    docs at or below it (low surprisal = familiar, template-leaning
    text; the direction is a knob in a real pipeline — what the op
    proves is the derive-threshold-then-filter shape). Per-source
    thresholds matter because surprisal is not comparable across
    domains — a flat corpus-wide cut just deletes the rarest domain.

    Each TERM's surprisal is quantized to integer micro-bits, so the
    per-doc accumulation is exact integer math; the per-doc score STAYS
    an integer and the quantile runs over those integers, where midpoint
    interpolation is exactly representable (a quantile over rounded
    DOUBLES flips the last digit between engines). The keep comparison
    is ``bits_micro <= thr`` on the unrounded threshold, so the kept SET
    is identical across engines.

    Scale shape: one (term) aggregation for the LM, one scoring join,
    one (doc) aggregation, one per-source exact percentile (each
    source's bits buffer on one node — exact quantiles don't sketch),
    one broadcast-join of the |sources|-row threshold table, one final
    aggregation. Raw text shuffles zero times. Returns
    ``(source, n_docs, thr_bits, n_kept, kept_frac, kept_tokens)``.

    ``approx_accuracy``: past ~10⁸ docs per source the exact
    percentile's single-node buffer is the knee — pass an accuracy
    (e.g. 10_000) to switch the threshold to ``percentile_approx``
    (Greenwald-Khanna sketch: bounded memory, mergeable partials, rank
    error ≤ 1/accuracy). The kept SET then differs from exact only for
    docs whose bits fall inside the sketch's rank-error band around
    the threshold — the twin test bounds that drift on the fixture."""
    docs = _docs(spark, sf_dir)
    terms = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("term")
    ).cache()
    vocab = terms.groupBy("term").agg(F.count("*").alias("tf"))
    n_total = terms.count()
    bits_micro = to_micro(
        F.log(F.lit(float(n_total)) / F.col("tf")) / F.log(F.lit(2.0))
    )
    per_doc = (
        terms.join(vocab.withColumn("bm", bits_micro), "term")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("bm") / F.count("*"))
            .cast("bigint")
            .alias("bits_micro"),
        )
    )
    if approx_accuracy is not None:
        thr = per_doc.groupBy("source").agg(
            F.percentile_approx("bits_micro", q, approx_accuracy)
            .cast("double")
            .alias("thr")
        )
    else:
        thr = per_doc.groupBy("source").agg(
            F.expr(f"percentile(bits_micro, {q})").alias("thr")
        )
    keep = F.col("bits_micro") <= F.col("thr")
    return release_pins_with(
        per_doc.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # an even-count median is x.5 micro-bits; the KEEP comparison
            # above uses the unrounded thr, so the kept set is untouched
            from_micro(F.max("thr")).alias("thr_bits"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            round6(
                F.sum(F.when(keep, 1).otherwise(0)) / F.count("*").cast("double")
            ).alias("kept_frac"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        ),
        terms,
    )


def dsir_importance_sample(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 1024,
    top_k: int = 100,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc by
    how target-like its hashed n-gram feature distribution is, then
    keep the highest-scoring docs. Features are word bigrams hashed
    into ``n_buckets`` buckets; the target slice is the corpus's
    English documents (``lang = 'en'`` — the DSIR shape: a trusted
    target distribution vs the whole raw crawl). Per bucket the
    add-one-smoothed log-likelihood ratio

        lr_f = log2( (t_f + 1) * (R + B)  /  ((r_f + 1) * (T + B)) )

    (t_f/r_f = target/raw bucket counts, T/R their totals, B =
    ``n_buckets``) is rounded to 6; a doc's score is the MEAN lr over
    its bigram positions (mean, not sum, so score is length-invariant
    — DSIR's per-feature normalization), rounded to 6. The
    deterministic variant of DSIR's Gumbel-top-k: rank by
    ``(score_bits DESC, doc_id)`` and keep ``top_k``. Returns
    ``(rank, doc_id, source, lang, n_bigrams, score_bits)``.

    The ratio is ONE log2 of integer products (identical
    parenthesization in the oracle), immediately quantized to integer
    micro-bits, so the per-doc accumulation is exact integer arithmetic;
    the rank orders by the rounded score with doc_id as tiebreak.

    Scale shape (the 100 TB contract): bigrams form and hash
    row-locally, then ONE aggregation compresses the corpus into
    per-doc bucket counts — at most ``n_buckets`` rows per document
    however long it is, the only pass that ever touches the token
    stream. Everything downstream works off that bounded frame: the
    bucket model is a second tiny aggregation over it (raw + target
    counts in one pass, ≤ B rows out, totals derived from the bucket
    table itself — no extra corpus jobs), the ≤ B-row log-ratio table
    broadcasts back onto it, and the per-doc score is the exact
    weighted mean ``Σ c_f·lr_f / Σ c_f`` (identical to the
    per-position mean). The final top-k is a bounded
    TakeOrderedAndProject, not a global sort."""
    from oasysdb_spark.operators.dedup import load_documents

    # spread load (r15): the tokenize+bigram-hash pass that materializes
    # the feats cache otherwise runs on the single-file fixture's ONE
    # task; the cache sits above the exchange so every consumer reads it
    # and the exchange runs once. Conditional no-op at corpus scale.
    docs = load_documents(spark, sf_dir, spread=True)
    # guarded array + explode_outer (r15): the old `size(tk) >= 2` gate
    # was a pushable tokenize-bearing filter that sank below the spread
    # exchange onto the one-task scan stage (and sequence(0, size-2)
    # counts DOWN for 1-token docs, so the guard must stay in some
    # form). Short docs now yield an empty array -> one null row ->
    # dropped by the cheap attribute filter; identical bigram multiset,
    # tokenize evaluated once, above the exchange.
    grams = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("tk") - 2),
            lambda i: F.concat_ws(" ", F.slice(F.col("tk"), i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = (
        docs.select(
            "doc_id", "source", "lang", tokens(F.col("text")).alias("tk")
        )
        .select(
            "doc_id", "source", "lang", F.explode_outer(grams).alias("g")
        )
        .where(F.col("g").isNotNull())
        .select(
            "doc_id",
            "source",
            "lang",
            (hash64(F.col("g")) % n_buckets).alias("f"),
        )
        .groupBy("doc_id", "source", "lang", "f")
        .agg(F.count("*").alias("c"))
        .cache()  # bounded: ≤ n_buckets rows per doc, reused twice
    )
    counts = feats.groupBy("f").agg(
        F.sum("c").alias("r_f"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias(
            "t_f"
        ),
    )
    tot = counts.agg(
        F.sum("r_f").alias("r_total"), F.sum("t_f").alias("t_total")
    ).first()
    if tot["r_total"] is None:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            "cannot fit DSIR importance weights: no document has >= 2 "
            "tokens (the bigram feature stream is empty)"
        )
    r_total, t_total = int(tot["r_total"]), int(tot["t_total"] or 0)
    lr = counts.select(
        "f",
        to_micro(
            F.log(
                (F.col("t_f") + 1).cast("double")
                * (r_total + n_buckets)
                / ((F.col("r_f") + 1).cast("double") * (t_total + n_buckets))
            )
            / F.log(F.lit(2.0))
        ).alias("lr_micro"),
    )
    # the per-doc mean stays in INTEGER micro-bits to the display
    scored = (
        feats.join(F.broadcast(lr), "f")
        .groupBy("doc_id", "source", "lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            from_micro(
                F.sum(F.col("c") * F.col("lr_micro")) / F.sum("c")
            ).alias("score_bits"),
        )
    )
    # bounded top-k FIRST (TakeOrderedAndProject — never a global sort),
    # then the rank window runs over ≤ top_k rows, not the corpus
    top = scored.orderBy(F.desc("score_bits"), F.asc("doc_id")).limit(top_k)
    win = Window.orderBy(F.desc("score_bits"), F.asc("doc_id"))
    return release_pins_with(
        top.withColumn("rank", F.row_number().over(win).cast("bigint")).select(
            "rank", "doc_id", "source", "lang", "n_bigrams", "score_bits"
        ),
        feats,
    )


def trigram_backoff_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM quality signal with STUPID BACKOFF (Brants et al.
    2007, "Large Language Models in Machine Translation") — the scoring
    scheme invented FOR distributed count-based LMs: no discounting or
    normalization pass, just raw count ratios with a fixed 0.4 backoff
    factor, so the whole model is three aggregation tables:

        S(w3|w1 w2) = c(w1 w2 w3) / c(w1 w2)       if trigram seen
                    = 0.4  * c(w2 w3) / c(w2)      else if bigram seen
                    = 0.4² * (c(w3) + 1) / (N + V) otherwise

    (the unigram tier is UNIFORMLY add-one-smoothed — for OOV w3 it is
    the floor 1/(N+V); Brants' plain c(w3)/N would send OOV to -inf)

    Every doc scores its mean per-position -log2 S in bits; repetitive
    text scores low, token salad high — one rung past
    :func:`bigram_surprisal` toward the KenLM filter. The model fits on
    a REFERENCE partition (``doc_id % 2 == 0`` — the CCNet shape: fit
    on a trusted slice, score the whole corpus): scoring the fit corpus
    against itself would make tier 1 total by construction and the
    backoff dead code. Returns ``(doc_id, n_trigrams,
    bits_per_trigram)`` for docs with ≥ 3 tokens; an empty fit split
    raises instead of dividing by zero (ANSI mode) or silently nulling
    every score.

    Scale shape: n-grams form ROW-LOCALLY (expression transforms, no
    window/shuffle); the model is three hash aggregations (trigram,
    bigram, unigram — each vocab-bounded below corpus size); scoring is
    left hash equi-joins of the position stream against those tables
    plus one doc aggregation. Tier 2 only fires when the (w2 w3) bigram
    was seen in fit, which implies w2 was too — so only the w3 lookup
    needs the null-coalesced add-one. Integer-count ratios go into
    ln/log2 with identical parenthesization in the DuckDB oracle."""
    docs = _docs(spark, sf_dir)
    all_tk = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    tk = all_tk.where(F.col("doc_id") % 2 == 0)

    def grams(n):
        return F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("tk", i + j) for j in range(1, n + 1)]
                ),
            )
        )

    # uni is vocab-bounded and feeds three consumers (N/V stats + two
    # scoring joins) — cache it so the fit corpus is tokenized once for
    # the unigram side; N = Σc1 and V = |uni| come from the tiny
    # aggregated table, not extra corpus-scale scans
    uni = (
        tk.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
        .cache()
    )
    stats = uni.agg(
        F.sum("c1").alias("n"), F.count("*").alias("v")
    ).first()
    n_tokens = int(stats["n"] or 0)
    vocab_size = int(stats["v"] or 0)
    if n_tokens == 0:
        raise ValueError(
            "trigram_backoff_surprisal: the fit split (doc_id % 2 == 0) "
            "matched no tokens — the backoff denominators would be zero"
        )
    bi = (
        tk.where(F.size("tk") >= 2)
        .select(grams(2).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("cb"))
    )
    tri = (
        tk.where(F.size("tk") >= 3)
        .select(grams(3).alias("tg"))
        .groupBy("tg")
        .agg(F.count("*").alias("c3"))
    )

    pos = all_tk.where(F.size("tk") >= 3).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("tk") - 3),
                lambda i: F.struct(
                    F.concat_ws(
                        " ",
                        F.element_at("tk", i + 1),
                        F.element_at("tk", i + 2),
                        F.element_at("tk", i + 3),
                    ).alias("tg"),
                    F.concat_ws(
                        " ",
                        F.element_at("tk", i + 1),
                        F.element_at("tk", i + 2),
                    ).alias("ctx12"),
                    F.concat_ws(
                        " ",
                        F.element_at("tk", i + 2),
                        F.element_at("tk", i + 3),
                    ).alias("bg23"),
                    F.element_at("tk", i + 2).alias("w2"),
                    F.element_at("tk", i + 3).alias("w3"),
                ),
            )
        ).alias("p"),
    ).select("doc_id", "p.*")

    scored = (
        pos.join(tri, "tg", "left")
        .join(bi.select(F.col("bg").alias("ctx12"), F.col("cb").alias("c12")), "ctx12", "left")
        .join(bi.select(F.col("bg").alias("bg23"), F.col("cb").alias("c23")), "bg23", "left")
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c1").alias("cw2")),
            "w2",
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w3"), F.col("c1").alias("cw3")),
            "w3",
            "left",
        )
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c12"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(0.4) * (F.col("c23").cast("double") / F.col("cw2")),
        )
        .otherwise(
            F.lit(0.16)
            * (
                (F.coalesce(F.col("cw3"), F.lit(0)) + F.lit(1)).cast("double")
                / F.lit(n_tokens + vocab_size)
            )
        )
    )
    bits = -(F.log(s) / F.log(F.lit(2.0)))
    bits_u6 = to_micro(bits)
    return release_pins_with(
        scored.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("n_trigrams"),
            from_micro(F.sum(bits_u6) / F.count("*")).alias("bits_per_trigram"),
        ),
        uni,
    )


def ngram_decontaminate_stats(
    spark: SparkSession, sf_dir: str, n: int = 8
) -> DataFrame:
    """Exact n-gram overlap decontamination over the fixture — the
    (spark, sf_dir) entry shape for :func:`~oasysdb_spark.operators.
    dedup.ngram_overlap_flags` (GPT-3/PaLM-style verbatim-quote
    contamination, vs the fuzzy whole-doc MinHash path of
    ``dedup_decontaminate``). Split mirrors ``dedup_decontaminate``:
    train = ``doc_id % 10 != 3`` against eval = ``doc_id % 10 == 3``.
    The word-salad fixture shares no natural 8-grams across the split,
    so the query INJECTS :data:`BOILERPLATE_TEMPLATE` into every eval
    document and every 4th train document (the span_dedup/pii_scrub
    injection pattern) and the stats prove exactly the injected train
    docs are flagged — ≥4 template-internal 8-gram positions each
    (11-token template ⇒ 4 fully-internal 8-grams; boundary-straddling
    grams match too when a train doc's trailing salad tokens coincide
    with an eval doc's)."""
    from oasysdb_spark.operators.dedup import load_documents, ngram_overlap_flags

    # spread load (r15): the 8-gram hashing is the op's dominant cost
    # and the single-file fixture otherwise plans it onto one task;
    # conditional no-op at corpus scale (spread_scan)
    docs = load_documents(spark, sf_dir, spread="rescue")
    aug_train = docs.where(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" " + BOILERPLATE_TEMPLATE)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    aug_eval = docs.where(F.col("doc_id") % 10 == 3).select(
        "doc_id", F.concat("text", F.lit(" " + BOILERPLATE_TEMPLATE)).alias("text")
    )
    return ngram_overlap_flags(aug_train, aug_eval, n=n)


def ngram_contamination_report_stats(
    spark: SparkSession, sf_dir: str, n: int = 8, max_train_df: int | None = 10
) -> DataFrame:
    """Per-eval-doc contamination audit over the fixture — the
    (spark, sf_dir) entry shape for :func:`~oasysdb_spark.operators.
    dedup.ngram_contamination_report`, on the SAME split + template
    injection as :func:`ngram_decontaminate_stats` (train =
    ``doc_id % 10 != 3`` with every 4th doc injected, eval =
    ``doc_id % 10 == 3`` all injected). Under the DEFAULT
    ``max_train_df=10`` frequent-gram guard the injected template grams
    (quoted by 25% of train docs) are excluded as boilerplate — exactly
    the GPT-3 appendix-C rule — so the report surfaces only the
    fixture's deliberate cross-split duplicates (train-df 1-2); pass
    ``max_train_df=None`` for the exact audit, where every eval doc
    shows ≥4 dirty template positions and counts every injected train
    doc (both modes pinned by the pytest replays)."""
    from oasysdb_spark.operators.dedup import (
        load_documents,
        ngram_contamination_report,
    )

    # spread load (r15): same rationale as ngram_decontaminate_stats
    docs = load_documents(spark, sf_dir, spread="rescue")
    aug_train = docs.where(F.col("doc_id") % 10 != 3).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit(" " + BOILERPLATE_TEMPLATE)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    aug_eval = docs.where(F.col("doc_id") % 10 == 3).select(
        "doc_id", F.concat("text", F.lit(" " + BOILERPLATE_TEMPLATE)).alias("text")
    )
    return ngram_contamination_report(
        aug_train, aug_eval, n=n, max_train_df=max_train_df
    )


def domain_mixture_sample(
    spark: SparkSession, sf_dir: str, temperature: float | None = None
) -> DataFrame:
    """DoReMi-style domain-mixture rebalancing to a UNIFORM token target:
    compute each source's token mass, then deterministically downsample
    every source to the SCARCEST source's mass — the "equalize domains"
    step a training-mix pipeline runs before packing (DoReMi/Pile-style
    reweighting with uniform target weights). ``temperature`` switches
    to exponentiated smoothing — target share ∝ tokens^(1/T), the
    multilingual-LM sampling rule (T→∞ = uniform, T=1 = natural mix),
    with rates derived driver-side from the tiny totals table. Where
    :func:`stratified_sample_stats` applies GIVEN per-stratum rates,
    this op DERIVES the rates from the corpus itself.

    Per-doc acceptance is the shared salted content-independent hash
    (stable across runs/shards/engines); the keep threshold is an
    integer ppm — ``floor(1e6 * min_tokens / src_tokens)`` — so both
    engines compare identical integers (IEEE double division + floor is
    bit-deterministic; token sums stay far below 2^53). Doc-level
    acceptance approximates token mass (docs are exchangeable under the
    hash), which is exactly how production mixes subsample.

    Scale shape: one corpus aggregation for the totals (map-side
    partials), a ~|sources|-row broadcast of the derived rates, and one
    row-local accept + final aggregation — the corpus text never
    shuffles. Returns one row per source:
    ``(source, src_tokens, keep_ppm, n_docs, n_kept, kept_tokens,
    realized_frac)``."""
    if temperature is not None and temperature <= 0:
        from oasysdb_spark.errors import InvalidArgumentError

        raise InvalidArgumentError(
            f"temperature must be > 0 (got {temperature}): T→0 would be a "
            "degenerate argmax mix and negative T inverts the smoothing"
        )
    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        "source",
        "doc_id",
        token_count_bpe(F.col("text")).cast("bigint").alias("bpe"),
    )
    # the per-source token-mass table is materialized ONCE (eager
    # localCheckpoint, r15 — guide §2.4): the min-scalar (uniform mode)
    # or the driver collect (temperature mode) and the rates broadcast
    # are separate consumers of this lineage, and Spark does not share
    # common subtrees, so the expensive per-doc BPE-count pass ran once
    # per consumer; the pinned rows are |sources| (source, tokens)
    # pairs. The accept join below still re-reads per_doc — doc-level
    # acceptance needs doc-level rows, and pinning the corpus-sized
    # per_doc table would be a payload-scale cache, so that one pass
    # stays.
    totals = (
        per_doc.groupBy("source")
        .agg(F.sum("bpe").cast("bigint").alias("src_tokens"))
        .localCheckpoint(eager=True)
    )
    if temperature is None:
        mt = totals.agg(F.min("src_tokens").alias("min_tokens"))
        rates = totals.crossJoin(F.broadcast(mt)).select(
            "source",
            "src_tokens",
            F.floor(
                F.lit(1_000_000.0) * F.col("min_tokens") / F.col("src_tokens")
            )
            .cast("bigint")
            .alias("keep_ppm"),
        )
    else:
        # exponentiated (temperature) smoothing, the multilingual-LM
        # sampling rule: target share w_s ∝ tokens_s^(1/T), keep rate
        # r_s = λ·w_s / tokens_s with λ = min_s tokens_s/w_s so the most
        # under-sampled source keeps everything and no rate exceeds 1.
        # T→∞ recovers the uniform target; T=1 keeps the natural mix.
        # Rates are computed DRIVER-SIDE from the ~|sources|-row totals
        # (pow is not bit-identical across libm implementations, so this
        # parameterized mode is pytest-gated by a Python replay rather
        # than a SQL oracle; the uniform default stays oracle-exact).
        rows = totals.collect()
        alpha = 1.0 / float(temperature)
        w = {r["source"]: float(r["src_tokens"]) ** alpha for r in rows}
        lam = min(r["src_tokens"] / w[r["source"]] for r in rows)
        ppm = {
            r["source"]: int(
                (1_000_000.0 * lam * w[r["source"]]) // r["src_tokens"]
            )
            for r in rows
        }
        spark_rows = [
            (r["source"], int(r["src_tokens"]), ppm[r["source"]]) for r in rows
        ]
        from oasysdb_spark.session import tiny_df

        rates = tiny_df(
            spark, spark_rows, "source string, src_tokens bigint, keep_ppm bigint"
        )
    keep = (
        hash64(F.col("doc_id").cast("string"), salt="mixture")
        % F.lit(1_000_000)
    ) < F.col("keep_ppm")
    return release_pins_with(
        per_doc.join(F.broadcast(rates), "source")
        .select("source", "src_tokens", "keep_ppm", "bpe", keep.alias("keep"))
        .groupBy("source", "src_tokens", "keep_ppm")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("keep"), F.col("bpe")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
            round6(
                F.sum(F.when(F.col("keep"), F.col("bpe")).otherwise(0))
                / F.col("src_tokens").cast("double")
            ).alias("realized_frac"),
        ),
        totals,
    )


# Injected encoding-damage marker (the span_dedup/pii_scrub injection
# pattern — the ASCII fixture carries no natural mojibake): a classic
# latin-1-as-utf-8 mojibake pair and a U+FFFD replacement character.
ENCODING_MARKER = " caf\u00c3\u00a9 bro\ufffdken"

_CTL_RE = "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]"
_NON_ASCII_RE = "[^\\x00-\\x7f]"
_REPL_RE = "\ufffd"


def encoding_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage audit — the data-quality check a web-scale corpus
    runs before training (mojibake from double-decoded latin-1, U+FFFD
    replacement chars from lossy decodes, stray control characters):
    per source, documents flagged and characters counted per damage
    class. Every 7th doc gets :data:`ENCODING_MARKER` appended so the
    deterministic fixture exercises the detectors; real corpora skip
    the injection and audit as-is.

    Char counts use the length-delta idiom (``len(text) -
    len(regexp_replace(text, cls, ''))``) over a regex dialect both
    engines agree on (same common-subset discipline as the PII tier).
    Row-local + one aggregation; text never shuffles."""
    docs = _docs(spark, sf_dir)
    aug = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(ENCODING_MARKER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )

    def n_matched(cls):
        return F.length("text") - F.length(F.regexp_replace("text", cls, ""))

    m = aug.select(
        "source",
        F.length("text").alias("n_chars"),
        n_matched(_REPL_RE).alias("repl"),
        n_matched(_CTL_RE).alias("ctl"),
        n_matched(_NON_ASCII_RE).alias("non_ascii"),
    )
    flagged = (
        (F.col("repl") > 0) | (F.col("ctl") > 0) | (F.col("non_ascii") > 0)
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("repl").cast("bigint").alias("repl_chars"),
            F.sum("ctl").cast("bigint").alias("ctl_chars"),
            F.sum("non_ascii").cast("bigint").alias("non_ascii_chars"),
            round6(
                F.sum("non_ascii") / F.sum("n_chars").cast("double")
            ).alias("non_ascii_ratio"),
        )
    )


def source_token_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source ‖ corpus) in bits
    over the unigram distributions — the domain-shift diagnostic a mix
    designer reads next to :func:`source_curation_stats` (a source whose
    KL spikes is off-distribution: boilerplate farm, wrong language,
    template dump). KL is computed with the cross-engine float
    discipline: the probability ratio is formed as ONE integer-product
    ratio ``(c_st·N) / (n_s·c_t)`` (exact in doubles far past this
    corpus scale), log2'd, weighted, and rounded once after the final
    sum (sum order across engines differs only past the 1e-6 round at
    this vocabulary scale — the same post-round stability contract the
    surprisal tier has held across rounds). Vocabulary-bounded
    aggregations only — the corpus-scale pass is the (source, term)
    count; text never shuffles. Returns
    ``(source, n_tokens, n_terms, kl_bits)``."""
    from oasysdb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    terms = docs.select("source", F.explode(tokens(F.col("text"))).alias("t"))
    # the (source, term) count table is materialized ONCE (eager
    # localCheckpoint, r15 — guide §2.4): s_tot, ct, n_total and the
    # scoring join are FOUR consumers of this lineage, and Spark does
    # not share common subtrees, so the corpus tokenize+explode+shuffle
    # ran four times; the pinned rows are vocab×|sources|-bounded counts
    st = (
        terms.groupBy("source", "t")
        .agg(F.count("*").alias("c_st"))
        .localCheckpoint(eager=True)
    )
    s_tot = st.groupBy("source").agg(
        F.sum("c_st").alias("n_s"), F.count("*").alias("n_terms")
    )
    ct = st.groupBy("t").agg(F.sum("c_st").alias("c_t"))
    n_total = F.broadcast(
        ct.agg(F.sum("c_t").cast("bigint").alias("n_all"))
    )
    j = (
        st.join(F.broadcast(ct), "t")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(n_total)
    )
    contrib = (
        (F.col("c_st") / F.col("n_s"))
        * F.log2(
            (F.col("c_st") * F.col("n_all"))
            / (F.col("n_s") * F.col("c_t")).cast("double")
        )
    )
    # per-term KL contribution quantizes to micro-units before the sum
    # (a double sum is partition-order nondeterministic)
    contrib_u6 = to_micro(contrib)
    return release_pins_with(
        j.groupBy("source")
        .agg(
            F.first("n_s").cast("bigint").alias("n_tokens"),
            F.first("n_terms").cast("bigint").alias("n_terms"),
            F.round(F.sum(contrib_u6) / F.lit(1e6), 6).alias("kl_bits"),
        ),
        st,
    )


def ngram_novelty_curve(
    spark: SparkSession,
    sf_dir: str | None = None,
    n: int = 3,
    n_shards: int = 10,
    docs: DataFrame | None = None,
) -> DataFrame:
    """N-gram NOVELTY curve over ingest order — the saturation diagnostic
    a corpus owner reads before paying for more crawl: split the corpus
    into ``n_shards`` equal doc-id ranges (ingest order), and per shard
    report how many distinct token ``n``-grams appear, how many are NEW
    (first occurrence anywhere in the corpus lands in this shard), and
    the novelty fraction. A curve that flattens early says additional
    data from this source is mostly repetition; a flat-high curve says
    the source is still yielding fresh text. Complements
    :func:`source_token_divergence` (who differs) with WHEN the corpus
    stopped learning new phrases.

    Returns ``(shard, n_grams, n_distinct, n_new, novelty_frac)`` —
    at most ``n_shards`` rows.

    Scale shape: grams are hashed row-locally (the oracle-replayable
    md5 family — raw text never shuffles); one exchange on
    ``(gram, shard)`` with map-side partial counting collapses the gram
    stream to ≤ |distinct grams|·|shards| rows; the first-occurrence
    shard is a ``gh``-partitioned window over that SAME collapsed
    lineage (r15: the old ``groupBy("gh").min`` + join-back branch made
    Spark re-run the whole tokenize/hash/explode/exchange pipeline a
    second time — same bytes as the window's ``gh`` exchange, but a
    duplicated gram-stream pass), and the per-shard rollup partials
    map-side to ≤ |shards| rows per task. Output is ``n_shards`` rows
    regardless of corpus size. The shard boundary derives from
    ``max(doc_id)`` via a broadcast one-row aggregate, not a driver
    collect."""
    from oasysdb_spark.operators.dedup import _token_ngram_hashes, load_documents

    if docs is None:
        docs = load_documents(spark, sf_dir, spread="rescue")
    bounds = docs.agg(F.max("doc_id").alias("_max_id"))
    sharded = docs.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(n_shards - 1).cast("bigint"),
            F.floor(F.col("doc_id") * n_shards / (F.col("_max_id") + 1)),
        ).alias("shard"),
        "doc_id",
        "text",
    )
    grams = _token_ngram_hashes(sharded, n, keep=("shard",))
    # explode_outer + post-generate null filter instead of a plain
    # explode (r15): InferFiltersFromGenerate turns a plain explode into
    # a `size(gh) > 0` filter that predicate-pushdown rewrites through
    # the projection into the FULL md5 gram-transform expression and
    # sinks below the spread exchange — the whole gram hash then runs
    # twice (once per row in the under-parallel scan stage just to test
    # emptiness, again above the exchange to generate). The outer
    # generate admits no such inference; empty-gram docs surface as one
    # null row each and the cheap attribute filter drops them, with the
    # identical (shard, gh) multiset coming out (array elements are
    # conv()-built bigints, never null).
    per_gram_shard = (
        grams.select("shard", F.explode_outer("gh").alias("gh"))
        .where(F.col("gh").isNotNull())
        .groupBy("gh", "shard")
        .agg(F.count("*").alias("c"))
    )
    # a gram is NEW in the shard holding its min(shard); exactly one of
    # each gh's rows satisfies shard == min-over-gh, so summing that
    # indicator per shard reproduces the old groupBy("gh").min +
    # join-back counts (left-join's missing-shard → 0 becomes the
    # indicator summing to 0) without a second gram-stream pass
    first_shard = F.min("shard").over(Window.partitionBy("gh"))
    return (
        per_gram_shard.withColumn("_first", first_shard)
        .groupBy("shard")
        .agg(
            F.sum("c").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(
                F.when(F.col("shard") == F.col("_first"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_grams",
            "n_distinct",
            "n_new",
            round6(
                F.col("n_new") / F.col("n_distinct").cast("double")
            ).alias("novelty_frac"),
        )
    )


@prepared("tfidf_top_terms")
def tfidf_top_terms(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Per-source CHARACTERISTIC terms via TF-IDF — the "what is this
    source actually about" audit read next to
    :func:`source_token_divergence`: for each ``source``, the ``top_k``
    terms by ``tf · ln(n_docs/df)`` (corpus-wide document frequency, so
    a term every source uses scores ~0 however often it appears).
    :func:`vocabulary` ranks by raw frequency within a language; this
    ranks by DISTINCTIVENESS across the corpus — the pair catches
    template farms whose top terms are distinctive but whose raw
    vocabulary looks normal. Returns ``(source, rank, term, tf, df,
    score)`` ordered by (source, rank).

    ``score = tf · ln(n_docs/df)``: an integer ratio into ``ln`` then
    ONE multiply by an exact integer; no double summation anywhere.
    Rank ties break (score desc, tf desc, term asc) so row_number is
    deterministic.

    Scale shape: ONE corpus-scale shuffle — the (doc_id, source, term)
    pre-aggregation that collapses the token stream (map-side combine).
    Everything downstream derives from vocab-bounded tables: since
    (doc_id, term) is unique in the pre-agg and source is functionally
    dependent on doc_id, per-source document frequency is a plain
    ``count(*)`` in the (source, term) rollup, and corpus df is a
    ``sum(df_s)`` WINDOW over the (source, term) table partitioned by
    term (r15, guide §2.4: the old ``groupBy("term")`` + join-back
    branch made Spark RECOMPUTE the whole scan→explode→aggregate
    subtree a second time — common subtrees are not shared across the
    self-join — so the corpus was tokenized twice; the window keeps one
    lineage and adds only a vocab-bounded exchange). The doc-count
    scalar comes from a shuffle-free scan aggregate. The ranking window
    partitions by ``source`` over per-source vocab only. Text shuffles
    only through the conditional spread ramp below — a local-fixture
    parallelism fix that cannot fire at real corpus split counts
    (parquet's 128 MB split sizing plans more splits than cores on any
    genuinely large input)."""
    from oasysdb_spark.functions.text import tokens

    from oasysdb_spark.sources.tables import spread_scan

    docs = _docs(spark, sf_dir)
    # spread load + explode_outer (r15, guide §2.1 / the
    # InferFiltersFromGenerate note at ngram_overlap_flags): the
    # tokenize+explode pass feeding the ONE corpus shuffle otherwise
    # runs on the single-split fixture scan's one task, and a plain
    # explode makes Catalyst infer a size(tokens(text))>0 filter that
    # evaluates the tokenize a second time below the exchange. Single
    # consumer (the pre-agg shuffle sits above), so the conditional
    # exchange runs exactly once — and never at real split counts.
    # Token elements are never null, so the isNotNull drop removes
    # exactly the empty-array marker rows: identical term multiset.
    d1 = (
        spread_scan(
            spark,
            docs.select("doc_id", "source", "text"),
            key_path=f"{sf_dir}/documents.parquet",
        )
        .select(
            "doc_id",
            "source",
            F.explode_outer(tokens(F.col("text"))).alias("term"),
        )
        .where(F.col("term").isNotNull())
        .groupBy("doc_id", "source", "term")
        .agg(F.count("*").alias("c"))
    )
    st = d1.groupBy("source", "term").agg(
        F.sum("c").cast("bigint").alias("tf"),
        F.count("*").cast("bigint").alias("df_s"),
    )
    w_term = Window.partitionBy("term")
    nd = F.broadcast(
        docs.agg(
            F.sum(
                F.when(F.size(tokens(F.col("text"))) > 0, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_docs")
        )
    )
    scored = (
        st.withColumn("df", F.sum("df_s").over(w_term).cast("bigint"))
        .where(F.col("df") >= min_df)
        .crossJoin(nd)
        .select(
            "source",
            "term",
            "tf",
            "df",
            # exact integers through one IEEE log+multiply (identical
            # doubles on both engines)
            round6(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term")
    )
    return (
        scored.select("*", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= top_k)
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            "term",
            "tf",
            "df",
            "score",
        )
        .orderBy("source", "rank")
    )


def source_length_drift(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Per-source LENGTH-distribution drift — the structural twin of
    :func:`source_token_divergence` (that op asks "does this source use
    different words"; this one asks "does it ship differently-SHAPED
    documents"): a KS-style statistic, the maximum absolute gap between
    each source's empirical token-length CDF and the corpus CDF,
    evaluated on the corpus's own decile grid. A source whose ks_stat
    spikes is structurally off-distribution (tweet dumps in a book
    corpus, truncation bugs, template farms) even when its vocabulary
    looks normal. Returns ``(source, n_docs, ks_stat)`` ordered by
    source.

    Every CDF value is ONE division of two exact integers (doc counts
    at or below a grid point); the decile grid is Spark's exact
    ``percentile`` over integer lengths, which matches DuckDB
    ``quantile_cont`` bit-for-bit. Each per-decile gap (a DIFFERENCE of
    two such ratios) quantizes to micro-units FIRST; the KS max runs
    over those integers.

    Scale shape: one corpus-scale pass computes token counts row-locally
    and collapses to a (source, len) histogram in a single
    map-side-combined shuffle (distinct lengths are bounded — hundreds,
    not corpus-sized); the decile grid is a broadcast one-row aggregate
    over the already-collapsed histogram, and every CDF/KS step
    aggregates histogram rows. Text never shuffles; output is
    |sources| rows."""
    from oasysdb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    lens = docs.select(
        "source", F.size(tokens(F.col("text"))).cast("bigint").alias("len")
    )
    # the histogram is materialized ONCE (eager localCheckpoint, r15 —
    # guide §2.4): the decile grid and the CDF join are two consumers of
    # this lineage, and Spark does not share common subtrees, so the
    # corpus tokenize ran twice; the pinned rows are the bounded
    # (source, len) counts
    hist = (
        lens.groupBy("source", "len")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    # frequency-weighted percentile over the collapsed histogram —
    # re-expanding rows just for the grid would be corpus-sized again
    grid = F.broadcast(
        hist.agg(
            F.percentile(
                F.col("len"),
                F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
                F.col("c"),
            ).alias("qs")
        )
    )
    g = grid.select(F.posexplode("qs").alias("d", "q"))
    joined = hist.crossJoin(F.broadcast(g))
    per_sd = joined.groupBy("source", "d", "q").agg(
        F.sum(F.when(F.col("len") <= F.col("q"), F.col("c")).otherwise(0)).alias(
            "le"
        ),
        F.sum("c").alias("n_s"),
    )
    corpus = per_sd.groupBy("d").agg(
        F.sum("le").alias("le_all"), F.sum("n_s").alias("n_all")
    )
    gap = F.abs(
        F.col("le") / F.col("n_s").cast("double")
        - F.col("le_all") / F.col("n_all").cast("double")
    )
    gap_u6 = to_micro(gap)
    return release_pins_with(
        per_sd.join(F.broadcast(corpus), "d")
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            F.round(F.max(gap_u6) / F.lit(1e6), 6).alias("ks_stat"),
        )
        .orderBy("source"),
        hist,
    )


def term_burstiness(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 25,
    min_df: int = 5,
) -> DataFrame:
    """Term BURSTINESS audit (Church-Gale): for each term, the
    variance-to-mean ratio of its per-document counts GIVEN presence —
    content words burst (a doc about trains says "train" nine times),
    function words and template boilerplate spread flat. The top of
    this table is what the corpus is actually about; a term with high
    df AND flat burstiness that isn't a stopword is boilerplate the
    scrubbers missed. Returns the ``top_k`` terms by burstiness among
    terms with ``df >= min_df``: ``(rank, term, df, tf, burstiness)``.

    Float discipline: with per-term integer moments df, S1 = Σc,
    S2 = Σc² over the docs containing the term,

        burstiness = VMR = (df·S2 − S1²) / (df·S1)

    — ONE division of two exact integers, rounded once; the rank
    tie-break (burstiness desc, tf desc, term asc) is total.

    Scale shape: the same single corpus-scale shuffle as
    :func:`tfidf_top_terms` (the (doc, term) pre-aggregation with
    map-side combine); moments roll up vocab-bounded; the top-k is a
    bounded ``orderBy(...).limit(top_k)`` (TakeOrderedAndProject —
    per-partition heaps, never a global sort), and the rank window
    then runs over ≤ ``top_k`` rows, not the vocabulary."""
    from oasysdb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    d1 = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("c"))
    )
    mom = (
        d1.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.sum("c").cast("bigint").alias("tf"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        )
        .where(F.col("df") >= min_df)
    )
    b = F.round(
        (F.col("df") * F.col("s2") - F.col("tf") * F.col("tf")).cast("double")
        / (F.col("df") * F.col("tf")).cast("double"),
        6,
    )
    scored = mom.select("term", "df", "tf", b.alias("burstiness"))
    # bounded top-k FIRST (TakeOrderedAndProject — never a global sort),
    # then the rank window runs over ≤ top_k rows, not the vocabulary;
    # the orderBy tie-break is total, so the set and order are identical
    top = scored.orderBy(
        F.col("burstiness").desc(), F.col("tf").desc(), F.col("term")
    ).limit(top_k)
    w = Window.orderBy(F.col("burstiness").desc(), F.col("tf").desc(), F.col("term"))
    return (
        top.select("*", F.row_number().over(w).alias("rank"))
        .select(F.col("rank").cast("bigint").alias("rank"), "term", "df", "tf", "burstiness")
        .orderBy("rank")
    )


def _term_source_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus pass → one sorted source-set array per term.

    The distinct (source, term) table collapses map-side-combined (the
    single shuffle every vocabulary op pays), then rolls up to ONE
    ``sort_array(collect_set(source))`` row per term — sort_array makes
    the nondeterministic collect_set order total AND gives
    source_a < source_b for free downstream. Split out as a named
    helper so the plan pin can assert the collect_set shape below the
    caller's lineage-truncating localCheckpoint."""
    docs = _docs(spark, sf_dir)
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .distinct()
    )
    return st.groupBy("term").agg(
        F.sort_array(F.collect_set("source")).alias("ss")
    )


def source_vocab_overlap_matrix(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """PAIRWISE source-vocabulary overlap — the attribution view the
    one-vs-all :func:`source_token_divergence` cannot give: for every
    source pair, the Jaccard similarity of their distinct-term
    vocabularies. A pair with outlier overlap is a duplication CHANNEL
    (mirror sites, a re-crawled feed, the same wire story syndicated)
    even when no document is an exact or near duplicate — vocabulary
    identity survives paraphrase and reformatting that defeats the
    digest-level :func:`dedup.cross_source_duplication_stats`. Returns
    ``(source_a, source_b, n_a, n_b, n_common, jaccard)`` for every
    unordered pair, ordered by the pair.

    Float discipline: n_a / n_b / n_common are exact distinct-term
    counts; jaccard = n_common / (n_a + n_b − n_common) is ONE division
    of two exact integers, rounded once — the documented-safe class.

    Scale shape: one corpus-scale pass collapses to the DISTINCT
    (source, term) table (map-side-combined — the same single shuffle
    every vocabulary op pays); that table rolls up to ONE sorted
    source-set array per term (|sources|-bounded), and the C(S,2)
    pairs per term are generated ROW-LOCALLY by a NESTED pair of
    Generates — first the anchor index, then that index's tail slice —
    feeding the partial aggregate in the same stage, so the per-term
    S² fan-out is streamed CPU inside a map task with immediate
    combine and O(|sources|) peak allocation per generated row (never
    one flattened C(S,2) struct array: a term present in 10⁴ sources
    would otherwise materialize ~5·10⁷ structs in a single task), and
    the only rows that ever shuffle are the |sources|²-bounded
    (source_a, source_b) partial counts (never an S²-row join output —
    a term shared by hundreds of sources would otherwise emit tens of
    thousands of join rows per stopword). Sizes broadcast onto the
    pair grid. Text never shuffles."""
    # per-term sorted source SET (see _term_source_sets), materialized
    # ONCE (eager localCheckpoint): three downstream branches read it —
    # the pair stream plus both sides of the size grid — and without
    # the pin each branch re-tokenized the corpus (r15, guide §2.4: 3
    # full text passes measured in the plan; now 1). Vocab-bounded
    # rows, so the checkpoint is the same retention class as the
    # components fixpoint's final round. The plan pin
    # (tests/test_plans.py test_vocab_overlap_pairs_generate_row_locally)
    # asserts the collect_set shape on the helper directly, since the
    # checkpoint truncates the final plan's visible lineage.
    ss_all = _term_source_sets(spark, sf_dir).localCheckpoint(eager=True)
    # per-source distinct-term counts, recovered from the checkpointed
    # source sets instead of a second corpus pass: each distinct
    # (source, term) contributes exactly one element of exactly one ss
    # row, so the explode-count is the same integer the old
    # st.groupBy("source") computed.
    sizes = (
        ss_all.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    ss = ss_all.where(F.size("ss") >= 2)
    # nested Generates: explode the anchor index first (one row per
    # (term, i) carrying the O(S) array), then that anchor's tail
    # slice — the pair stream is identical to the old flattened form
    # but peak per-row allocation stays O(S), never a C(S,2) struct
    # array (the r14 audit's stopword-at-S≈10⁴ hazard). Both Generates
    # chain in one stage into the map-side-combined count below.
    anchors = ss.select(
        "ss",
        F.explode(F.sequence(F.lit(0), F.size("ss") - 2)).alias("i"),
    )
    pairs = anchors.select(
        F.element_at("ss", F.col("i") + 1).alias("source_a"),
        F.explode(
            F.slice(F.col("ss"), F.col("i") + 2, F.size("ss"))
        ).alias("source_b"),
    )
    inter = (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    # anchor on the full pair grid so disjoint-vocabulary pairs emit a
    # 0-overlap row instead of vanishing (the oracle's cross-join shape)
    grid = (
        sa.crossJoin(sb)
        .where(F.col("source_a") < F.col("source_b"))
    )
    return release_pins_with(
        grid.join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce("n_common", F.lit(0))).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b"),
        ss_all,
    )


def term_pmi_collocations(
    spark: SparkSession,
    sf_dir: str,
    top_k: int = 30,
    min_count: int = 5,
) -> DataFrame:
    """Top collocations by pointwise mutual information (Church & Hanks
    1990) — the corpus-audit rung between :func:`term_burstiness`
    (per-term dispersion) and :func:`text_boilerplate_ngrams` (verbatim
    repeats): adjacent token pairs that co-occur far above chance.
    The top of this table is the corpus's multi-word vocabulary
    ("new york", "machine learning"); template garbage shows up as
    impossibly high PMI at low counts, which the ``min_count`` floor
    suppresses (the classic PMI low-frequency pathology). Returns the
    ``top_k`` pairs with pair count >= ``min_count``:
    ``(rank, bigram, pair_count, pmi)``.

    With integer counts c12 (pair), c1/c2 (unigram), Np (bigram
    positions), Nt (tokens),

        pmi = log2( (c12/Np) / ((c1/Nt)(c2/Nt)) )

    evaluates as ONE double expression with identical parenthesization
    in the DuckDB twin — every operand an exact integer cast once to
    double. The rank
    tie-break (pmi desc at full double precision, c12 desc, bigram asc)
    is total.

    Scale shape: bigrams form ROW-LOCALLY (the same expression-level
    transform as :func:`bigram_surprisal` — no window, no shuffle);
    pair counts collapse in one map-side-combined shuffle; unigram
    counts take a SECOND corpus-scale pass over the token stream (a
    bigram-derived count would miss each document's final token), also
    map-side-combined to a vocab-bounded table that is materialized
    ONCE (eager localCheckpoint) because the scoring join reads it
    twice — without that pin Spark re-tokenized the whole corpus for
    each of the c1/c2 joins (r15, guide §2.4: common subtrees are not
    shared). The two scalar totals come from one tokenize-only scan
    aggregate (``Nt = Σ size(tk)``, ``Np = Σ (size(tk)−1 | ≥2 tokens)``
    — identical integers to summing the count tables, without
    recomputing their explode+aggregate subtrees) and broadcast; the
    top-k is a bounded ``orderBy(...).limit(top_k)``
    (TakeOrderedAndProject — per-partition heaps, never a global sort),
    and the rank window then runs over ≤ ``top_k`` rows. Net corpus
    passes: 5 before the r15 reshape, 3 after (bigram, unigram, scalar
    scan)."""
    docs = _docs(spark, sf_dir)
    # (r15) a spread load here was measured and REJECTED: tk has three
    # consumers (bigram, unigram, totals) and no pin over the raw text,
    # so each pass repeats the exchange — the refuted trigram-surprisal
    # shape (interleaved A/B: min 1.44 -> 1.68 s, executor CPU 4x).
    tk = docs.select(tokens(F.col("text")).alias("tk"))
    # guarded array + explode_outer (r15, the dsir shape): the old
    # `size(tk) >= 2` gate was a pushable tokenize-bearing filter whose
    # pushed-down form evaluated the FULL tokenize a second time per
    # row below the tk projection (plan-verified: Filter(size(split(
    # lower(text))...)>=2) under Project(split(lower(text))) — and
    # sequence(0, size-2) counts DOWN for 1-token docs, so the guard
    # must stay in some form). Short docs now yield an empty array ->
    # one null row -> dropped on the generated attribute; identical
    # bigram multiset, tokenize evaluated once.
    bigr = tk.select(
        F.explode_outer(
            F.when(
                F.size("tk") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("tk") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at("tk", i + 1),
                        F.element_at("tk", i + 2),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg")
    ).where(F.col("bg").isNotNull())
    pair_counts = bigr.groupBy("bg").agg(F.count("*").alias("c12"))
    # unigram counts from the corpus token stream (a bigram-derived
    # count would miss each doc's final token); vocab-bounded, pinned
    # once for the two joins below. localCheckpoint (not cache) so a
    # second invocation never silently reuses this run's blocks.
    # explode_outer for the same reason as bigr: a plain explode's
    # inferred size(tk)>0 filter substitutes tokens(text) and evaluates
    # the tokenize a second time per row in the pin's materialization
    # job. Token elements are never null, so the isNotNull drop removes
    # exactly the empty-array marker rows.
    # the two scalar totals ride an observe() on the unigram pin's own
    # materialization job (r16, guide §1.2/§5): the r15 shape ran a
    # THIRD full corpus tokenize just to sum Nt/Np — identical integers
    # are collected here as a free side effect of the pass the pin pays
    # anyway, then enter the scoring expression as literals (the same
    # exact-bigint operands the broadcast one-row aggregate carried).
    from pyspark.sql import Observation

    obs_tot = Observation()
    uni = (
        tk.observe(
            obs_tot,
            F.sum(F.size("tk")).cast("bigint").alias("nt"),
            F.sum(F.greatest(F.size("tk") - 1, F.lit(0)))
            .cast("bigint")
            .alias("np_"),
        )
        .select(F.explode_outer("tk").alias("t"))
        .where(F.col("t").isNotNull())
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    nt_val = int(obs_tot.get["nt"] or 0)
    np_val = int(obs_tot.get["np_"] or 0)
    w1 = F.split("bg", " ")[0]
    w2 = F.split("bg", " ")[1]
    scored = (
        pair_counts.where(F.col("c12") >= min_count)
        .withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")), "w2")
        .withColumn("nt", F.lit(nt_val).cast("bigint"))
        .withColumn("np_", F.lit(np_val).cast("bigint"))
    )
    # one double expression, mirrored term-for-term in the oracle:
    # (c12/Np) / ((c1/Nt)*(c2/Nt)), then ln/ln(2)
    x = (
        F.col("c12").cast("double") / F.col("np_").cast("double")
    ) / (
        (F.col("c1").cast("double") / F.col("nt").cast("double"))
        * (F.col("c2").cast("double") / F.col("nt").cast("double"))
    )
    pmi_full = F.log(x) / F.log(F.lit(2.0))
    # bounded top-k FIRST (TakeOrderedAndProject — never a global sort),
    # then the rank window runs over ≤ top_k rows, not the bigram table;
    # the orderBy tie-break is total, so the set and order are identical
    top = (
        scored.select("bg", "c12", pmi_full.alias("pmi_full"))
        .orderBy(F.col("pmi_full").desc(), F.col("c12").desc(), F.col("bg"))
        .limit(top_k)
    )
    rank_w = Window.orderBy(
        F.col("pmi_full").desc(), F.col("c12").desc(), F.col("bg")
    )
    return release_pins_with(
        top.select("*", F.row_number().over(rank_w).alias("rank"))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            F.col("bg").alias("bigram"),
            F.col("c12").cast("bigint").alias("pair_count"),
            round6(F.col("pmi_full")).alias("pmi"),
        )
        .orderBy("rank"),
        uni,
    )


def zipf_slope(
    spark: SparkSession,
    sf_dir: str,
    top_n: int = 100,
) -> DataFrame:
    """Per-source ZIPF-fit audit: the OLS slope of ln(frequency) against
    ln(rank) over each source's ``top_n`` most frequent terms. Natural
    text sits near slope −1; a source that flattens (−0.5ish) is
    boilerplate/template-heavy (many near-equal-frequency strings), one
    that steepens is dominated by a few tokens (log spam, genome dumps).
    Reads next to :func:`term_burstiness` (which flags the offending
    terms) as the distribution-level summary. Returns
    ``(source, n_terms, slope, intercept)`` ordered by source.

    Ranks and frequencies are exact integers; ln of
    an integer is the identical double in both engines; the four OLS
    sums fold SEQUENTIALLY over the rank-sorted list (``F.aggregate``
    over ``array_sort``ed structs == DuckDB ``list_sum`` over
    ``ORDER BY``ed lists — the proven cross-engine fold), and slope/
    intercept are single closed-form expressions of those sums.

    Scale shape: the same single corpus shuffle as every vocabulary op
    (the (source, term) count with map-side combine); ranking windows
    run per source over vocab-bounded rows; the fold list is ≤ top_n
    structs per source. Output is |sources| rows."""
    from oasysdb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    w = Window.partitionBy("source").orderBy(F.col("tf").desc(), F.col("term"))
    ranked = st.select(
        "source", "tf", F.row_number().over(w).alias("rnk")
    ).where(F.col("rnk") <= top_n)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("rnk").alias("rnk"),
                F.log(F.col("rnk").cast("double")).alias("x"),
                F.log(F.col("tf").cast("double")).alias("y"),
            )
        )
    )
    agg = ranked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_terms"), arr.alias("a")
    )

    def fold(expr):
        return F.aggregate(expr, F.lit(0.0), lambda acc, v: acc + v)

    sx = fold(F.transform("a", lambda s: s["x"]))
    sy = fold(F.transform("a", lambda s: s["y"]))
    sxy = fold(F.transform("a", lambda s: s["x"] * s["y"]))
    sxx = fold(F.transform("a", lambda s: s["x"] * s["x"]))
    n = F.col("n_terms").cast("double")
    den = n * sxx - sx * sx
    slope = F.when(den != 0.0, (n * sxy - sx * sy) / den)
    # fold over an ORDER-PINNED array → identical doubles on both
    # engines
    return (
        agg.select(
            "source",
            "n_terms",
            round6(slope).alias("slope"),
            round6(
                F.when(den != 0.0, (sy - ((n * sxy - sx * sy) / den) * sx) / n)
            ).alias("intercept"),
        )
        .orderBy("source")
    )


def weighted_sample_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 100,
    salt: str = "wsample",
) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement
    (Efraimidis-Spirakis 2006 priority sampling), deterministic: each
    doc draws a pseudo-uniform u from the oracle-replayable hash family
    and keeps priority ``ln(u)/w`` with w = its token count; the top-k
    priorities ARE a weight-proportional sample. The standard "sample
    2 % of the corpus, long docs proportionally more" primitive —
    :func:`stratified_sample_stats` fixes per-group rates, DSIR targets
    a distribution; this one is the plain weighted draw, reproducible
    across engines and runs because the randomness is a salted content
    hash, not an RNG. Returns ``(rank, doc_id, n_tokens, priority)``.

    u = hash64(doc_id, salt)/2^60 is an exact-dyadic
    double in (0, 1]; ``ln(u)/w`` is one log and one divide of
    identical doubles (the monotone transform of u^(1/w) — same order,
    no pow); ranking compares the rounded priority with a doc_id
    tie-break so the cut is total. u = 0 is impossible (md5 of a
    non-empty string; hash64 yields ≥ 0 — the +1 shift keeps it
    positive).

    Scale shape: weight and priority are row-local (one scan, no text
    leaving the row); the top-k is a bounded TakeOrderedAndProject,
    never a global sort. Output is k rows."""
    from oasysdb_spark.functions.text import tokens

    docs = _docs(spark, sf_dir)
    w = F.size(tokens(F.col("text"))).cast("bigint")
    u = (hash64(F.col("doc_id").cast("string"), salt=salt) + 1).cast(
        "double"
    ) / F.lit(float(1 << 60))
    pri = round6(F.log(u) / w.cast("double"))
    ranked = (
        docs.select("doc_id", w.alias("n_tokens"), pri.alias("priority"))
        .where(F.col("n_tokens") > 0)
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(k)
    )
    win = Window.orderBy(F.col("priority").desc(), F.col("doc_id"))
    return ranked.select(
        F.row_number().over(win).cast("bigint").alias("rank"),
        "doc_id",
        "n_tokens",
        "priority",
    ).orderBy("rank")


def source_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy — the distribution-SHAPE audit
    between :func:`zipf_slope` (the power-law exponent) and
    :func:`source_token_divergence` (the one-vs-all KL): for each
    source, ``H = -Σ p(t)·log2 p(t)`` over its token unigram
    distribution, with type/token counts. Low entropy flags templated
    or boilerplate-heavy sources (probability mass collapsed onto few
    terms); a drift in H between two crawls of the same source is a
    distribution change the count audits cannot see. STAGED r16
    promotion candidate (pytest self-oracle; not in the driver
    contract yet).

    Each term's contribution ``-(c/N)·log2(c/N)`` is quantized to
    integer micro-bits PER TERM, then exactly summed: sums of raw
    per-row transcendental doubles are partial-agg-order
    nondeterministic.

    Scale shape: one corpus-scale pass collapses to the (source, term)
    count table (map-side combined — the same single shuffle every
    vocabulary op pays); the per-source totals broadcast back onto it,
    the entropy terms are row-local, and only |sources|-bounded rows
    leave the final aggregate."""
    docs = _docs(spark, sf_dir)
    st = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    totals = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    p = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    ubits = to_micro(-p * F.log2(p))
    return (
        st.join(F.broadcast(totals), "source")
        .groupBy("source")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.max("n_types").alias("n_types"),
            F.sum(ubits).alias("ub"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.round(F.col("ub").cast("double") / 1e6, 6).alias("entropy_bits"),
        )
        .orderBy("source")
    )
