"""Single-shot pin release (r16): the audit queries that eagerly pin a
key/vocab-bounded intermediate (localCheckpoint) attach it to their
result, and ``release_frame(result)`` — the repo's established cleanup
idiom — frees the pinned executor blocks deterministically. Automatic
GC-finalizer release was REJECTED (r16 review, confirmed repro): Python
reachability of the result object is not plan reachability, so a
finalizer fired by an idiomatic derived chain (``fn(...).limit(3)``)
would free blocks a live derived plan still needs. Callers that never
release explicitly fall back to JVM GC + ContextCleaner, the pre-r16
behavior."""

import pytest


def _persistent_rdd_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _entry(name):
    return __import__("__spark_entry__").queries()[name]


def _bloom_overlap_flags_split(spark, sf_dir):
    from pyspark.sql import functions as F

    from oasysdb_spark.operators.dedup import bloom_overlap_flags, load_documents

    docs = load_documents(spark, sf_dir)
    return bloom_overlap_flags(
        docs.where(F.col("doc_id") % 10 != 3), docs.where(F.col("doc_id") % 10 == 3)
    )


@pytest.mark.parametrize(
    "call",
    [
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.relational", fromlist=["x"]
        ).join_key_skew_stats(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.relational", fromlist=["x"]
        ).skew_salted_user_join(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.relational", fromlist=["x"]
        ).q11_important_parts(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.textops", fromlist=["x"]
        ).term_pmi_collocations(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.textops", fromlist=["x"]
        ).source_token_divergence(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.textops", fromlist=["x"]
        ).source_length_drift(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.textops", fromlist=["x"]
        ).source_vocab_overlap_matrix(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.textops", fromlist=["x"]
        ).domain_mixture_sample(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.dedup", fromlist=["x"]
        ).minhash_lsh_pairs(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.dedup", fromlist=["x"]
        ).minhash_jaccard_calibration(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.dedup", fromlist=["x"]
        ).containment_pairs(sp, sf),
        lambda sp, sf: __import__("__spark_entry__")._decontaminate(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.dedup", fromlist=["x"]
        ).simhash_wide_pairs(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.operators.multimodal", fromlist=["x"]
        ).multimodal_dhash_near_pairs(sp, sf),
        lambda sp, sf: __import__(
            "oasysdb_spark.index.pq", fromlist=["x"]
        ).pq_knn(sp, sf),
        lambda sp, sf: _entry("ngram_decontaminate_stats")(sp, sf),
        lambda sp, sf: _entry("ngram_contamination_report_stats")(sp, sf),
        _bloom_overlap_flags_split,
        lambda sp, sf: _entry("text_unigram_surprisal")(sp, sf),
        lambda sp, sf: _entry("text_trigram_surprisal")(sp, sf),
        lambda sp, sf: _entry("quality_percentile_filter")(sp, sf),
        lambda sp, sf: _entry("dsir_importance_sample")(sp, sf),
    ],
    ids=[
        "join_key_skew_stats",
        "skew_salted_user_join",
        "q11_important_parts",
        "term_pmi_collocations",
        "source_token_divergence",
        "source_length_drift",
        "source_vocab_overlap_matrix",
        "domain_mixture_sample",
        "minhash_lsh_pairs",
        "minhash_jaccard_calibration",
        "containment_pairs",
        "decontaminate_against",
        "simhash_wide_pairs",
        "multimodal_dhash_near_pairs",
        "pq_knn",
        "ngram_decontaminate_stats",
        "ngram_contamination_report_stats",
        "bloom_overlap_flags",
        "text_unigram_surprisal",
        "text_trigram_surprisal",
        "quality_percentile_filter",
        "dsir_importance_sample",
    ],
)
def test_single_shot_pins_release_via_release_frame(spark, sf_dir, call):
    from oasysdb_spark.session import release_frame

    # an earlier unreleased call of the same query in this session leaves
    # its identical plan cached, and caching an already-cached plan adds
    # no persisted RDD — start from an empty CacheManager
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    df = call(spark, sf_dir)
    df.write.mode("overwrite").format("noop").save()
    pinned = _persistent_rdd_ids(spark) - before
    assert pinned, "expected the query to pin at least one frame"
    assert getattr(df, "_oasys_pins", ()), "pins must ride the result"
    release_frame(df)
    leaked = (_persistent_rdd_ids(spark) - before) & pinned
    assert not leaked, f"pinned blocks survived release_frame: {leaked}"


def test_derived_chain_off_audit_result_is_safe(spark, sf_dir):
    """The r16-review repro: a derived frame whose PARENT object is
    refcount-collected immediately must still be actionable — the pin
    may only die with an EXPLICIT release, never with the parent's GC."""
    import gc

    from oasysdb_spark.operators.relational import join_key_skew_stats

    derived = join_key_skew_stats(spark, sf_dir).limit(3)
    gc.collect()  # parent result object is gone; pin must survive
    assert len(derived.collect()) == 3


def test_release_pins_with_attaches_and_releases(spark):
    from pyspark.sql import functions as F

    from oasysdb_spark.session import release_frame, release_pins_with

    before = _persistent_rdd_ids(spark)
    pin = spark.range(0, 10).localCheckpoint(eager=True)
    pinned = _persistent_rdd_ids(spark) - before
    assert pinned
    res = release_pins_with(pin.agg(F.sum("id").alias("s")), pin)
    assert res.first()["s"] == 45
    release_frame(res)
    assert not (_persistent_rdd_ids(spark) & pinned), "pin survived release"
