"""Prepared-plan ledger (r16): hit-path result equality, staleness
invalidation on input rewrite, parameterized bypass, conf-key behavior,
and the memo bound."""

from pyspark.sql import functions as F


def test_prepared_plan_hit_returns_equal_results_and_fresh_planning(
    spark, tmp_path
):
    from oasysdb_spark.sources import tables as tables_mod

    path = str(tmp_path / "t")
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("y")
    ).write.parquet(path)

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return (
            spark.read.parquet(path).groupBy((F.col("y") % 7).alias("k"))
            .agg(F.sum("id").alias("s"))
        )

    def plan_hits():
        return tables_mod.memo_stats().get("plan", {}).get("hits", 0)

    a = tables_mod.prepared_plan(spark, "t_hit", (path,), (path,), build)
    rows_a = sorted(map(tuple, a.collect()))
    hits = plan_hits()
    b = tables_mod.prepared_plan(spark, "t_hit", (path,), (path,), build)
    rows_b = sorted(map(tuple, b.collect()))
    assert calls["n"] == 1, "second call must be a ledger hit"
    assert plan_hits() == hits + 1
    assert rows_a == rows_b
    # the hit is a FRESH Dataset over the stored analyzed plan, so a
    # physical-planning conf flip is honored (the first-cut bug served
    # a stale once-materialized QueryExecution)
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        c = tables_mod.prepared_plan(spark, "t_hit", (path,), (path,), build)
        assert calls["n"] == 1
        assert plan_hits() == hits + 2
        plan = c._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_prepared_plan_invalidates_on_input_rewrite(spark, tmp_path):
    from oasysdb_spark.sources import tables as tables_mod

    path = str(tmp_path / "t2")
    spark.range(10).write.parquet(path)

    def build():
        return spark.read.parquet(path).agg(F.sum("id").alias("s"))

    assert tables_mod.prepared_plan(
        spark, "t_inv", (path,), (path,), build
    ).first()["s"] == 45
    spark.range(20).write.mode("overwrite").parquet(path)
    assert tables_mod.prepared_plan(
        spark, "t_inv", (path,), (path,), build
    ).first()["s"] == 190


def test_prepared_decorator_bypasses_parameterized_calls(spark, sf_dir):
    # default-shape call is ledgered; a parameterized call builds fresh
    # and must not poison or read the default entry
    from oasysdb_spark.operators.textops import tfidf_top_terms

    default = tfidf_top_terms(spark, sf_dir)
    small = tfidf_top_terms(spark, sf_dir, top_k=3)
    assert default.count() > small.count() > 0
    # and the default entry is still served correctly after the bypass
    assert tfidf_top_terms(spark, sf_dir).count() == default.count()


def test_plan_memo_is_bounded(spark, tmp_path):
    from oasysdb_spark.sources import tables as tables_mod

    path = str(tmp_path / "t3")
    spark.range(5).write.parquet(path)
    for i in range(tables_mod._MEMO_MAX + 10):
        tables_mod.prepared_plan(
            spark,
            "t_bound",
            (path, i),
            (path,),
            lambda: tables_mod.read_parquet_cached(spark, path),
        )
    assert len(tables_mod._MEMO) <= tables_mod._MEMO_MAX
