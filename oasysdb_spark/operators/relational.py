"""Relational operator suite over the TPC-H-ish fixtures — the extended
north-star surface (SURVEY.md §2.5: every category the reference lacks,
expressed as idiomatic Catalyst plans).

Determinism rules shared with the DuckDB oracles in ``__spark_entry__.py``:
- every float output is ROUNDed (2dp money, 6dp ratios) in BOTH engines;
- every LIMIT/top-k cut orders by the *rounded* measure plus a unique
  tie-break key, so FP jitter between engines can't flip the cut;
- counts/keys are cast to bigint so schemas line up.

Scale notes: fact-to-fact joins (lineitem⋈orders) shuffle on the join key
and benefit from AQE; dimension joins (region/nation/customer/supplier ⋈
anything) are broadcast — Catalyst picks that automatically under the size
threshold, and the dimension tables stay small by design at any SF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oasysdb_spark.sources.tables import prepared

from oasysdb_spark.session import tiny_df, release_pins_with

from oasysdb_spark.functions.time import epoch_ms
from oasysdb_spark.functions.stats import from_micro, round6, to_micro


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from oasysdb_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _u4_sum_to_cents(u4_sum):
    """Exact 1e-4-unit integer sum → half-up CENTS, in integer math.

    The legacy ``round(sum_u4 / 100.0)`` converts the bigint sum to
    double first; past 2^53 (a per-group revenue sum at roughly
    sf >= 50) that conversion silently loses cents (r10 ADVICE). The
    decimal form ``(s + 50) / 100`` is exact at any bigint magnitude
    and truncates to floor((s+50)/100) — half-up for the nonnegative
    revenue sums here — matching DuckDB's ``(s + 50) // 100``
    term-for-term (identical outputs verified at both small and
    past-2^53 magnitudes). The final /100.0 display divide stays
    double, whose cents-level exactness now holds to ~2^53 cents
    (~$90 T per group) instead of ~2^53 1e-4 units (~$900 B)."""
    return (
        (u4_sum + F.lit(50).cast("bigint")).cast("decimal(38,0)") / F.lit(100)
    ).cast("bigint")


def _dec_unit_sum(col, scale: int):
    """Exact integer-unit sum, overflow-proof and hash-agg fast.

    Per-row quantize a finite-decimal input to ``scale`` integer units
    (lossless by construction — the fixtures' money/quantity columns are
    exact 2dp / integral, so price×(1−disc) is an exact 4-decimal and
    ×(1+tax) an exact 6-decimal). A single bigint accumulator caps out
    near $920 T per group at u4 (three decades sooner at u6 — a
    100 TB-scale q1 whole-table group passes both), and a straight
    decimal(38,0) SUM is exact but ~2.8× slower than the double it
    replaced (measured 1.04 s vs 0.38 s on the q1 shape — Decimal128
    update per row, off the codegen fast path). So: TWO bigint lanes —
    per-row split v into (lo = v % 1e6, hi = (v−lo)/1e6, exact for
    |v| < 2^53 units and sign-consistent for negatives), sum each as a
    codegen'd long (measured 0.60 s), and recombine hi·1e6+lo in
    decimal(38,0) on the handful of OUTPUT rows. Exact while
    n·max(|v|)/1e6 and n·1e6 stay under 2^63 — ≳ sf300k whole-table
    groups, two decades past the 100 TB target. The DuckDB twin sums
    the unsplit units as HUGEINT (always exact): identical integer
    VALUE, and every display op downstream mirrors term-for-term."""
    v = F.round(col * scale).cast("bigint")
    lo = v % F.lit(1_000_000)
    hi = ((v - lo) / F.lit(1_000_000)).cast("bigint")
    return (
        F.sum(hi).cast("decimal(38,0)") * F.lit(1_000_000) + F.sum(lo)
    )


def _dec_units_to_cents(unit_sum, per_cent: int):
    """decimal(38,0) integer-unit sum → half-AWAY-from-zero CENTS bigint.

    Signed generalization of ``_u4_sum_to_cents``: add ±half before the
    divide so negative sums (q9 profit can dip below zero per group)
    round away from zero exactly like a fresh ``round()`` would. Spark's
    decimal→bigint cast and DuckDB's hugeint ``//`` BOTH truncate toward
    zero (verified: −123506/100 → −1235 on each), so the mirror is
    ``(s ± half) // per_cent`` term-for-term."""
    half = per_cent // 2
    adj = F.when(unit_sum >= 0, F.lit(half)).otherwise(F.lit(-half))
    return ((unit_sum + adj) / F.lit(per_cent)).cast("bigint")


def _cents_disp(cents):
    """Exact integer cents → the 2dp double display both engines share.

    cents→double conversion is round-to-nearest in both engines
    (BigDecimal.doubleValue / hugeint cast) and exact below 2^53 cents
    (~$90 T per group); the final round(·,2) re-lands on the 2dp value."""
    return F.round(cents.cast("double") / F.lit(100.0), 2)



def _money_disp(expr, scale: int = 10000):
    """The shared 2dp money display (the Spark twin of the oracle's
    _REV_2DP fragment): exact integer units in decimal(38,0), signed
    half-away cents conversion, one /100 at display."""
    return _cents_disp(
        _dec_units_to_cents(_dec_unit_sum(expr, scale), scale // 100)
    )

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepared-plan wrapper (r16, guide §1.2/§5): the Q1 body is ~100
    py4j Column constructions (~0.3 s of driver wall, measured warm);
    the plan is pure-lazy (no caches/pins), so repeat invocations reuse
    the constructed frame via the signature-guarded ledger. Every action
    still scans lineitem.parquet."""
    from oasysdb_spark.sources.tables import prepared_plan

    return prepared_plan(
        spark,
        "q1_pricing_summary",
        (sf_dir,),
        (f"{sf_dir}/lineitem.parquet",),
        lambda: _q1_pricing_summary_build(spark, sf_dir),
    )


def _q1_pricing_summary_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy agg with map-side partial aggregation;
    the parquet scan reads only the 7 referenced columns.

    Every money/quantity sum accumulates as exact integer units in
    decimal(38,0) (quantity/price in cents, disc_price in 1e-4 units,
    charge in 1e-6 units — each lossless for the fixtures'
    finite-decimal inputs) and the averages divide exact integer sums.
    A sum of doubles loses cents past 2^53 (~sf50 group sums); Q1's
    four whole-table groups are the first place that bites."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    qty_int = F.round(F.col("l_quantity")).cast("bigint")
    disc_c2 = F.round(F.col("l_discount") * 100).cast("bigint")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _cents_disp(_dec_unit_sum(F.col("l_quantity"), 100)).alias("sum_qty"),
            _cents_disp(_dec_unit_sum(F.col("l_extendedprice"), 100)).alias(
                "sum_base_price"
            ),
            _money_disp(disc_price).alias("sum_disc_price"),
            _money_disp(charge, 1000000).alias("sum_charge"),
            # integral quantities / 2dp discounts: avg of an exact integer
            # sum
            round6(F.avg(qty_int)).alias("avg_qty"),
            from_micro(F.avg(disc_c2) * F.lit(1e4)).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@prepared("q3_shipping_priority")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → agg → top-10.
    customer is broadcast; the only shuffle is lineitem⋈orders on orderkey."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > F.lit("1996-01-01"))
    # revenue accumulates as exact 1e-4-unit integers (2dp price × 2dp
    # discount factor = a 4-decimal product, zero per-row loss) and
    # displays via the scale-0 rounding form — the r9 rule: scale-k
    # rounds of unscaled double sums flip last digits between engines
    # at exact decimal boundaries, ~1-in-1e6 per value
    rev_u4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                _u4_sum_to_cents(F.sum(rev_u4)) / F.lit(100.0),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "revenue")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS (left-semi join) + agg: orders in a quarter having any
    heavy lineitem."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    heavy = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(heavy, orders.o_orderkey == heavy.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@prepared("q5_local_supplier_volume")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dimensions broadcast, facts shuffle
    once on orderkey. Customer and supplier must share the nation."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            # exact 1e-4-unit integer sum + scale-0 display (r10
            # migration of the legacy round(sum(double), 2) site)
            F.round(
                _u4_sum_to_cents(
                    F.sum(
                        F.round(
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * 10000
                        ).cast("bigint")
                    )
                )
                / F.lit(100.0),
                2,
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@prepared("q6_forecast_revenue")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan+filter+scalar agg — every predicate pushes
    into the parquet reader; zero shuffles (single-stage partial+final agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # exact 1e-4-unit integers in decimal(38,0) (single whole-table
            # group — the bigint u4 form overflows first here), scale-0
            # display (r12 migration)
            _money_disp(
                F.col("l_extendedprice") * F.col("l_discount")
            ).alias("revenue")
        )
    )


@prepared("top_orders_per_customer")
def top_orders_per_customer(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """Ranking window: top-n orders by value per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), F.col("rn").cast("int").alias("rn"))
    )


def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window with an explicit ROWS frame: cumulative order value
    per customer in (date, orderkey) order."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # exact cents over the frame (o_totalprice is 2dp — the
    # orders_trailing_spend recipe): integer window sums are
    # partition-order-proof; one /100 at display (r12 migration)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(cents).over(w) / F.lit(100.0), 2).alias("running_total"),
    )


def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over (returnflag, linestatus) with grouping_id —
    partial aggregates at every level in one pass."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            # exact integer-cent accumulation, decimal(38,0) against the
            # whole-table grand-total row (r12 migration)
            _cents_disp(_dec_unit_sum(F.col("l_quantity"), 100)).alias("sum_qty"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (status, priority)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents, decimal(38,0) against the grand-total cell (r12)
            _cents_disp(_dec_unit_sum(F.col("o_totalprice"), 100)).alias("total"),
        )
    )


def setop_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: big-spender customers EXCEPT the BUILDING segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("tot"))
        .where(F.col("tot") > 300000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return spenders.exceptAll(building).orderBy("custkey")


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via left-anti join: customers with no URGENT order.

    r7: the subtrahend is restricted to ``o_orderpriority = '1-URGENT'``
    — the fixture generator gives every customer at least one order, so
    the unrestricted anti-join was 0 rows on both engines at every SF
    and its oracle hash-match proved nothing about the anti-join
    (judge's r6 coverage-hygiene finding). The priority slice leaves
    ~13% of customers (203 rows at sf0.01) so a wrong join type or a
    dropped filter now flips the hash. The filter sits on the orders
    side BEFORE the anti-join — pushed into the parquet scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def string_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function suite: upper/substring/contains/length/regexp over
    part names, grouped by extracted word."""
    part = _t(spark, sf_dir, "part")
    first_word = F.regexp_extract(F.col("p_name"), "^(\\w+)", 1)
    return (
        part.select(
            first_word.alias("first_word"),
            F.upper(F.col("p_type")).alias("ptype"),
            F.length("p_name").alias("name_len"),
            F.when(F.col("p_name").contains("red"), 1).otherwise(0).alias("has_red"),
        )
        .groupBy("first_word")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("has_red").cast("bigint").alias("n_red"),
            F.min("name_len").cast("bigint").alias("min_len"),
            F.max("name_len").cast("bigint").alias("max_len"),
            F.countDistinct("ptype").alias("n_types"),
        )
        .orderBy("first_word")
    )


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time functions: year/month extraction, quarter, date_trunc."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
            F.month("o_orderdate").cast("int").alias("mo"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            # exact cents, scale-0 display (r12 migration)
            _cents_disp(_dec_unit_sum(F.col("o_totalprice"), 100)).alias("total"),
        )
        .orderBy("yr", "mo")
    )


def json_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction over events.props (a JSON object column), grouped
    by event type."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.select("event_type", k.alias("k"), "value")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            # integer mean + exact-cents sum
            round6(F.avg("k")).alias("avg_k"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def sessionize_events(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a session breaks when the gap to the previous
    event of the same user exceeds ``gap_minutes``. lag + cumulative-sum
    windows — the batch analog of a stateful streaming session window."""
    events = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = epoch_ms("ts")
    gap = ms - F.lag(ms).over(order)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 1000), 1).otherwise(0)
    sess = events.withColumn("new_sess", is_new).withColumn(
        "session_seq", F.sum("new_sess").over(order.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "n_events",
            "n_types",
            "sum_value",
        )
    )


def event_funnel(
    spark: SparkSession,
    sf_dir: str,
    steps: "tuple[str, ...]" = ("view", "click", "purchase"),
) -> DataFrame:
    """ORDERED funnel analysis — the classic product-analytics query
    (Amplitude/Mixpanel's core op): for each step of ``steps``, how
    many users performed it AFTER completing every earlier step, in
    event-time order. Matching is greedy-earliest (provably maximal
    for funnel reachability: taking the earliest valid event for each
    step can only leave MORE room for later steps), with ``(ts,
    event_id)`` as the deterministic order so same-timestamp events
    tie-break identically in both engines. Returns ``(step, step_name,
    n_users, conversion_frac)`` with conversion relative to step 1.

    Scale shape: ONE shuffle — events filter to the step types
    row-locally, group by user, and the greedy match is a row-local
    ``aggregate`` fold over each user's sorted event list (per-user
    event counts bound the sort, the universal assumption of
    user-keyed funnels); the summary is an aggregation over one row
    per user, and the step table is |steps| rows. Contrast with the
    textbook k-way self-join funnel, which shuffles the events table
    k−1 times."""
    events = _t(spark, sf_dir, "events")
    k = len(steps)
    # sentinel pad so element_at(acc+1) stays in bounds at acc == k
    # (ANSI mode raises on out-of-range element_at)
    steps_lit = F.array(*[F.lit(s) for s in steps], F.lit("__done__"))
    per_user = (
        events.where(F.col("event_type").isin(list(steps)))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("seq")
        )
    )
    reached = per_user.select(
        F.aggregate(
            F.col("seq"),
            F.lit(0),
            lambda acc, e: F.when(
                (acc < k)
                & (e["event_type"] == F.element_at(steps_lit, acc + 1)),
                acc + 1,
            ).otherwise(acc),
        ).alias("reached")
    )
    counts = reached.select(
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("step"), "reached"
    ).groupBy("step").agg(
        F.sum((F.col("reached") >= F.col("step")).cast("long"))
        .cast("bigint")
        .alias("n_users")
    )
    # anchor on a driver-built steps frame so EVERY step emits a row
    # even when no user performed it (zero events of the step types →
    # counts is empty, but the funnel's shape is |steps| rows with
    # n_users=0 — the oracle's UNION ALL form, r8 review finding)
    steps_df = tiny_df(
        spark,
        [(i + 1, s) for i, s in enumerate(steps)],
        "step bigint, step_name string",
    )
    base = steps_df.join(
        counts.select(F.col("step").cast("bigint").alias("step"), "n_users"),
        "step",
        "left",
    ).select(
        "step",
        "step_name",
        F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
    )
    # k-row bounded window: conversion relative to step 1
    w = Window.orderBy("step").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    first_n = F.max(F.when(F.col("step") == 1, F.col("n_users"))).over(w)
    return base.select(
        "step",
        "step_name",
        "n_users",
        F.when(
            first_n > 0,
            round6(F.col("n_users").cast("double") / first_n),
        )
        .otherwise(F.lit(0.0))
        .alias("conversion_frac"),
    )


def math_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math-function suite: sqrt/pow/ln/abs/ceil/floor over lineitem
    aggregates per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    # exact integer accumulation wherever the input has finite decimal
    # precision (quantity integral, discount² an exact 4-decimal), and
    # per-row micro-quantization for the transcendental ln term (double
    # sums are partition-order nondeterministic)
    qty_sum = F.sum(F.round(F.col("l_quantity")).cast("bigint"))
    dsq_u4 = F.round(F.pow(F.col("l_discount"), 2) * 10000).cast("bigint")
    ln_u6 = to_micro(F.log(F.col("l_extendedprice") + 1))
    return (
        li.groupBy("l_returnflag")
        .agg(
            round6(F.sqrt(qty_sum / F.count("*"))).alias("sqrt_avg_qty"),
            from_micro(F.sum(dsq_u4) / F.count("*") * 100).alias("avg_disc_sq"),
            from_micro(F.sum(ln_u6) / F.count("*")).alias("avg_ln_price"),
            F.sum(F.ceil("l_quantity")).cast("bigint").alias("sum_ceil_qty"),
            F.sum(F.floor("l_quantity")).cast("bigint").alias("sum_floor_qty"),
            round6(F.max(F.abs(F.col("l_discount") - 0.05))).alias("max_abs_disc_dev"),
        )
        .orderBy("l_returnflag")
    )


def window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + analytic window functions in one pass: rank, dense_rank,
    ntile, lag/lead, percent_rank (rank-based ⇒ exact rationals)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        # scale-0 display rounding throughout (r10 migration): raw 2dp
        # prices pass through exact-cents integers; percent_rank is an
        # exact rational whose 6dp display pre-scales to micro-units
        F.round(
            F.round(F.lag("o_totalprice", 1).over(w) * 100).cast("bigint")
            / F.lit(100.0),
            2,
        ).alias("prev_price"),
        F.round(
            F.round(F.lead("o_totalprice", 1).over(w) * 100).cast("bigint")
            / F.lit(100.0),
            2,
        ).alias("next_price"),
        round6(F.percent_rank().over(w)).alias("pct_rank"),
    )


def pivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns per returnflag (the oracle expresses
    the same thing as conditional aggregation)."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        # quantities are integral doubles: exact 1e-2-unit integer sum
        # + one /100 at display (r10 scale-0 migration)
        .agg(
            F.round(
                F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
                / F.lit(100.0),
                2,
            )
        )
        .orderBy("l_returnflag")
    )
    return out.select(
        "l_returnflag", F.col("O").alias("qty_open"), F.col("F").alias("qty_filled")
    )


def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers that are both big spenders and frequent buyers."""
    orders = _t(spark, sf_dir, "orders")
    spenders = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("tot"))
        .where(F.col("tot") > 200000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    frequent = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 10)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return spenders.intersect(frequent).orderBy("custkey")


def parts_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced above the overall average."""
    part = _t(spark, sf_dir, "part")
    avg_price = part.agg(F.avg("p_retailprice")).first()[0]
    return (
        part.where(F.col("p_retailprice") > avg_price)
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("p_retailprice"))
        .orderBy("p_partkey")
    )


def ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: order→ship latency in days, averaged per priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lat = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_orderpriority", lat.alias("days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.avg("days"), 6).alias("avg_days"),
            F.min("days").cast("bigint").alias("min_days"),
            F.max("days").cast("bigint").alias("max_days"),
        )
        .orderBy("o_orderpriority")
    )


def parts_like_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / regexp predicates: prefix, suffix, infix, and rlike counts."""
    part = _t(spark, sf_dir, "part")
    return part.agg(
        F.sum(F.when(F.col("p_name").like("small%"), 1).otherwise(0)).cast("bigint").alias("n_small_prefix"),
        F.sum(F.when(F.col("p_name").like("%gear"), 1).otherwise(0)).cast("bigint").alias("n_gear_suffix"),
        F.sum(F.when(F.col("p_name").like("%ring%"), 1).otherwise(0)).cast("bigint").alias("n_ring_infix"),
        F.sum(F.when(F.col("p_name").rlike("^(red|blue) "), 1).otherwise(0)).cast("bigint").alias("n_color_prefix"),
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a fact⋈dim join —
    ECONOMY parts' share of one month's revenue."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01")) & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # exact 1e-4-unit integers: the share is a ratio of two exact
    # decimal sums — cast each to double once (round-to-nearest in both
    # engines) and divide; total_revenue converts u4→cents in integer
    # math
    rev_u4 = F.round(rev * 10000).cast("bigint").cast("decimal(38,0)")
    promo_u4 = F.when(F.col("p_type") == "ECONOMY", rev_u4).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            from_micro(
                F.sum(promo_u4).cast("double")
                / F.sum(rev_u4).cast("double")
                * F.lit(1e8)
            ).alias("promo_share"),
            _cents_disp(_dec_units_to_cents(F.sum(rev_u4), 100)).alias(
                "total_revenue"
            ),
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact agg, then joins back to
    customer/orders for the detail rows."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy("o_orderkey")
    )


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): totals by status,
    by priority, and overall — via the SQL API (same Catalyst plan)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total,
               CAST(grouping_id() AS INTEGER) AS gid
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def filter_dsl_embeddings(
    spark: SparkSession, sf_dir: str, expr: str = "label >= 3 AND label <= 7"
) -> DataFrame:
    """The reference's filter DSL applied over a relational table via the
    ColumnLayout compiler (predicates push into the parquet scan)."""
    from oasysdb_spark.filters import ColumnLayout, compile_filter

    embs = _t(spark, sf_dir, "embeddings")
    pred = compile_filter(expr, ColumnLayout(embs))
    return embs.where(pred).select("vec_id", "label").orderBy("vec_id")


# ---------------------------------------------------------------------------
# TPC-H-adapted deep-coverage suite (q7/q9/q10/q12/q13/q15/q17/q19/q22
# shapes, adjusted to the fixture schema — no partsupp/l_shipmode/c_phone).
# These exercise the categories Catalyst must optimize at 100 TB: correlated
# scalar subqueries (decorrelation), outer-join aggregation, disjunctive
# predicate pushdown, and double aggregation.
# ---------------------------------------------------------------------------


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. supplier/customer/nation are broadcast; the fact-fact shuffle is
    lineitem⋈orders only."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    orders = _t(spark, sf_dir, "orders")
    nations = ("NATION_1", "NATION_2")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .where(F.col("n_name").isin(*nations))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .where(F.col("n_name").isin(*nations))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("integer").alias("l_year"))
        .agg(
            # exact 1e-4-unit integer revenue, scale-0 display (r12)
            _money_disp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (sans partsupp): profit = revenue − retail cost share,
    per supplier nation × year, parts whose name contains 'green'."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("integer").alias("l_year"),
        )
        .agg(
            # per-row profit is an exact 4-decimal (2dp price × 2dp factor
            # minus 2dp retail × integral qty × 0.1 = a 3-decimal); the
            # SIGNED u4→cents conversion matters here — group profit can
            # go negative, and half-away must match on both engines (r12)
            _money_disp(profit).alias("sum_profit")
        )
    )


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20 by
    rounded revenue (unique c_custkey tie-break keeps the cut stable)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1996-01-01", "1996-12-31")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            # exact 1e-4-unit integer revenue, scale-0 display (r12)
            _money_disp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q12_latency_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode → ship-latency bucket): count critical
    vs non-critical orders per late/on-time shipment bucket."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = (F.datediff("l_shipdate", "o_orderdate") > 90).alias("late")
    critical = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy(late)
        .agg(
            F.sum(F.when(critical, 1).otherwise(0)).cast("bigint").alias("critical_count"),
            F.sum(F.when(critical, 0).otherwise(1)).cast("bigint").alias("other_count"),
        )
        .orderBy("late")
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer including
    zero-order customers (left outer join + two-level aggregation)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the maximum quarterly
    revenue — scalar-subquery-on-aggregate, decorrelated as a bounded
    window max over the per-supplier aggregate (r15, guide §2.4: the
    old separate max-aggregate + join-back read ``rev`` twice, and
    Spark does not share common subtrees across a self-join — the
    filtered lineitem scan + aggregate ran TWICE; the window keeps one
    lineage, and its single-partition frame holds at most |suppliers|
    rows — the same bounded-window class as the top-k rank passes).
    The max is taken over the ROUNDED revenue so both engines cut
    identically."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1996-03-31")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            # exact 1e-4-unit integer revenue, scale-0 display (r12) —
            # the max and the equality cut both act on this exact 2dp value
            _money_disp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("total_revenue")
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    w_all = Window.partitionBy()
    return (
        rev.withColumn("m", F.max("total_revenue").over(w_all))
        .where(F.col("total_revenue") == F.col("m"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "total_revenue",
        )
        .orderBy("s_suppkey")
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the per-part mean quantity) were dropped —
    correlated aggregate subquery, decorrelated as a per-part window
    mean over the Brand-filtered join (r15, guide §2.4/§2.3: the old
    self-agg join computed the mean for EVERY part over the FULL fact
    table, then joined it back — a second complete lineitem scan plus
    an all-parts fact-scale aggregate, of which only the Brand#1 part
    keys were ever read. p_partkey is unique in part, so the broadcast
    join adds no row multiplicity and the window's per-part frame holds
    exactly that part's lineitems — the mean is bit-identical). ONE
    scan, one partkey exchange of the filtered rows only."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    # the cut is 0.2 × an avg over INTEGRAL quantities (exact bigint
    # sum → one double divide), so both engines cut bit-identically
    qty_int = F.round(F.col("l_quantity")).cast("bigint")
    w_part = Window.partitionBy("l_partkey")
    qty_cut = from_micro(F.avg(qty_int).over(w_part) * F.lit(2e5))
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .withColumn("qty_cut", qty_cut)
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            # exact cents (decimal-accumulated — single group), /7 in
            # cents space, rounded at scale 0, one /100 at display (r12)
            F.round(
                F.round(
                    F.sum(cents.cast("decimal(38,0)")).cast("double") / F.lit(7.0)
                ).cast("bigint")
                / F.lit(100.0),
                2,
            ).alias("avg_yearly")
        )
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three brand/size/quantity
    conjunctions — exercises disjunctive predicate pushdown + broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return j.where(c1 | c2 | c3).agg(
        # exact 1e-4-unit integers in decimal(38,0) (single whole-join
        # group), scale-0 display (r12 migration)
        _money_disp(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers (balance above the positive-
    balance mean) with no URGENT order, grouped by nation — scalar
    subquery + anti-join. (Every fixture customer has ~10 orders, so the
    classic "never ordered" form would be vacuously empty.)"""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    # exact-cents mean (acctbal is 2dp), so the threshold is the same
    # double on both engines
    bal_c = F.round(F.col("c_acctbal") * 100).cast("bigint")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        from_micro(F.avg(bal_c) * F.lit(1e4)).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.where(F.col("o_orderpriority") == "1-URGENT"),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            # exact (possibly negative) cents sum — no division rounding
            # needed, just the shared cents display (r12 migration)
            _cents_disp(_dec_unit_sum(F.col("c_acctbal"), 100)).alias(
                "totacctbal"
            ),
        )
    )


def sketch_stats(spark: SparkSession, sf_dir: str, rsd: float = 0.02) -> DataFrame:
    """Sketch-based aggregates: HLL++ approximate distinct counts and
    T-digest-style approximate percentiles next to their exact twins.

    At 100 TB the exact forms are the expensive ones — ``count(DISTINCT)``
    shuffles every distinct key and exact percentiles buffer whole groups,
    while both sketches are fixed-size mergeable state with map-side
    partial aggregation. No cross-engine oracle by nature (Spark's HLL++ /
    percentile_approx differ from DuckDB's sketches), so this operator is
    gated by error-bound tests against the exact twins instead
    (tests/test_operators.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd).alias("parts_approx"),
            F.countDistinct("l_partkey").alias("parts_exact"),
            F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("price_med_approx"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("price_med_exact"),
        )
        .orderBy("l_returnflag")
    )


def percentile_stats(
    spark: SparkSession, sf_dir: str, approx_accuracy: int | None = None
) -> DataFrame:
    """Exact percentiles/median per group — the ordered-aggregate surface.
    Spark's ``percentile`` (exact, linear interpolation) matches DuckDB's
    ``quantile_cont`` bit-for-bit on the same doubles; the approximate
    twins (``percentile_approx`` / ``approx_quantile``) use different
    sketches per engine and are deliberately NOT on the oracle surface.

    ``approx_accuracy`` is the 100 TB lever (the same switch
    ``textops.quality_percentile_filter`` ships): the exact
    ``percentile`` buffers every group's values in the aggregation
    state — fine at key-bounded group counts, the memory-risk variant
    when one group holds billions of rows. Passing an accuracy (e.g.
    10000 → ~1/10000 max rank error) swaps in ``percentile_approx``,
    Spark's mergeable KLL-style sketch with O(accuracy) state per
    group, keeping the identical output schema and display rounding.
    The driver oracle calls with ``None`` (exact) — cross-engine
    hash-equality of an engine-specific sketch is not a meaningful
    contract; the approx band is pytest-gated instead
    (tests/test_operators.py).

    The exact distinct count runs as a separate pre-aggregated branch
    joined back on the 3-row group key: mixing count_distinct with the
    percentile buffers in ONE aggregate makes Catalyst Expand every row
    2x under the ObjectHashAggregate, which measured 3-4x slower at
    sf0.1 than this two-branch plan.

    A spread of the percentile branch was measured TWICE and reverted
    (r15): it won at sf0.1 (min wall 1.94 -> 1.70 — the 3-split fixture
    scan left 29 cores idle) but LOST at sf1 (2.7 -> 3.3 s: ten
    under-split files still trip the ramp there, and the exchange now
    carries 6M rows while the per-row work is only decimal casts —
    unlike the tokenize/UDF spreads, a compute-light aggregate never
    pays for its own exchange once the input grows). The scale-first
    call is no exchange: both branches read the pruned 3-column scan
    directly."""
    li = _t(spark, sf_dir, "lineitem")
    # percentiles interpolate INTEGER cents (o/l prices are 2dp), so
    # midpoints land on exactly-representable halves (interpolating 2dp
    # doubles lands on unrepresentable boundaries)
    _pfn = "percentile" if approx_accuracy is None else "percentile_approx"
    _acc = "" if approx_accuracy is None else f", {int(approx_accuracy)}"
    pcts = F.expr(
        f"{_pfn}(CAST(round(l_extendedprice * 100) AS BIGINT), "
        f"array(0.5, 0.9, 0.99){_acc})"
    )

    pct = li.groupBy("l_returnflag").agg(
        from_micro(pcts[0] * 10000).alias("price_med"),
        from_micro(pcts[1] * 10000).alias("price_p90"),
        from_micro(pcts[2] * 10000).alias("price_p99"),
        # quantities are integral: the median carries at most one
        # decimal digit (a .5 midpoint)
        round6(
            F.expr(
                "median(l_quantity)"
                if approx_accuracy is None
                else f"percentile_approx(l_quantity, 0.5{_acc})"
            )
        ).alias("qty_med"),
    )
    nd = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
    )
    return pct.join(nd, "l_returnflag").select(
        "l_returnflag", "price_med", "price_p90", "price_p99", "qty_med", "n_parts"
    )


def skew_salted_user_join(spark: SparkSession, sf_dir: str, salts: int = 8) -> DataFrame:
    """Skew-mitigated fact⋈dim join: the fact side's hot keys (events is
    heavily skewed per user) are spread over ``salts`` sub-keys and the
    dim side is replicated once per salt, so no single task owns a whole
    hot key. Results are identical to the plain join — the oracle runs
    the unsalted SQL. At fixture scale the dim also broadcasts; the
    salted shape is what survives when BOTH sides are too big to
    broadcast and one key dominates (AQE skew-join's manual twin).

    The derived per-user dimension is materialized once (eager
    localCheckpoint, r15 — guide §2.4: the tier threshold is an
    aggregate of the dimension itself, and without the pin the
    events scan + user groupBy ran twice, once under ``avg_events``
    and once under ``dim``; the pinned rows are (id, count) pairs,
    user-cardinality-bounded). The fact side still scans the raw
    events table exactly once.
    """
    events = _t(spark, sf_dir, "events")
    # derived per-user dimension (stands in for a real user-profile table)
    counts = events.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("user_events")
    ).localCheckpoint(eager=True)
    # mean of exact integer counts — also the heavy/light THRESHOLD, so
    # both engines must agree on it
    avg_events = counts.agg(
        round6(F.avg("user_events")).alias("avg_events")
    )
    dim = counts.join(F.broadcast(avg_events)).withColumn(
        "tier",
        F.when(F.col("user_events") >= F.col("avg_events"), "heavy").otherwise("light"),
    ).drop("avg_events")
    salted_fact = events.withColumn(
        "salt", (F.pmod(F.col("event_id"), F.lit(salts))).cast("int")
    )
    salted_dim = dim.join(
        F.broadcast(spark.range(salts).select(F.col("id").cast("int").alias("salt"))),
    )
    j = salted_fact.join(
        salted_dim,
        (salted_fact.user_id == salted_dim.user_id) & (salted_fact.salt == salted_dim.salt),
    )
    return release_pins_with(
        ((
            j.groupBy("tier")
            .agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.countDistinct(salted_fact.user_id).cast("bigint").alias("n_users"),
                # events.value is 2dp: exact cents sum, /100 at display
                F.round(
                    F.sum(F.round(F.col("value") * 100).cast("bigint"))
                    / F.lit(100.0),
                    2,
                ).alias("sum_value"),
            )
        )),
        counts,
    )


def join_key_skew_stats(
    spark: SparkSession,
    sf_dir: str,
    table: str = "events",
    key: str = "user_id",
    top_k: int = 10,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Pre-join key-skew diagnostic — the audit a pipeline runs BEFORE
    deciding between a plain shuffle join, AQE skew handling, and the
    manual salting of :func:`skew_salted_user_join`: the ``top_k``
    hottest key values with their row share, plus the global shape of
    the key distribution (distinct keys, max/p50/p99 per-key rows, and
    the distribution's Shannon entropy in bits next to the uniform
    bound ``log2(n_keys)`` — the gap between the two IS the skew; a
    hot-key-dominated table reads several bits under uniform).

    The per-key entropy term ``c·log2(c)`` quantizes to micro-units
    before the sum (exact integer accumulation); p50/p99 are Spark's
    exact ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit (p99
    interpolates at frac(0.99·(n−1)), an arbitrary fraction, so the
    interpolated double is NOT guaranteed representable).

    ``approx_accuracy`` swaps the exact percentiles for the mergeable
    ``percentile_approx`` sketch (O(accuracy) state instead of the
    buffered per-group value list) — the 100 TB lever, though this audit's
    aggregation input is (key, count) pairs, key-cardinality-bounded
    rather than row-bounded, so exact is usually safe here. The driver
    oracle calls with ``None``; the approx band is pytest-gated.

    Scale shape: ONE map-side-combined shuffle to (key, count) — the
    same pass any aggregation would make — then everything downstream
    is key-cardinality-bounded: a TakeOrderedAndProject for the top-k
    (never a global window over all keys) and a one-row global
    aggregate crossJoined back (broadcast scalar pattern). The (key,
    count) table is materialized ONCE (eager localCheckpoint, r15 —
    guide §2.4: the stats aggregate and the top-k cut are two branches
    of the same lineage, and Spark does not share common subtrees, so
    without the pin the fact scan + groupBy ran TWICE; the pinned rows
    are 16-byte pairs, key-cardinality-bounded). Nothing re-reads the
    fact table."""
    df = _t(spark, sf_dir, table)
    per_key = df.groupBy(key).agg(
        F.count("*").cast("bigint").alias("key_rows")
    ).localCheckpoint(eager=True)
    c = F.col("key_rows").cast("double")
    em = to_micro(c * F.log2(c))
    stats = per_key.agg(
        F.sum("key_rows").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("key_rows").cast("bigint").alias("max_key_rows"),
        (
            F.percentile(F.col("key_rows"), F.lit(0.5))
            if approx_accuracy is None
            else F.percentile_approx(
                F.col("key_rows"), F.lit(0.5), F.lit(int(approx_accuracy))
            ).cast("double")
        ).alias("__p50"),
        (
            F.percentile(F.col("key_rows"), F.lit(0.99))
            if approx_accuracy is None
            else F.percentile_approx(
                F.col("key_rows"), F.lit(0.99), F.lit(int(approx_accuracy))
            ).cast("double")
        ).alias("__p99"),
        F.sum(em).alias("__sm"),
    ).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        round6(F.col("__p50")).alias("p50_key_rows"),
        round6(F.col("__p99")).alias("p99_key_rows"),
        round6(
            F.log2(F.col("n_rows").cast("double"))
            - (F.col("__sm") / 1e6) / F.col("n_rows")
        ).alias("entropy_bits"),
        round6(F.log2(F.col("n_keys").cast("double"))).alias("uniform_bits"),
    )
    top = per_key.orderBy(F.desc("key_rows"), F.asc(key)).limit(top_k)
    w = Window.orderBy(F.desc("key_rows"), F.asc(key))
    ranked = top.withColumn("rank", F.row_number().over(w).cast("bigint"))
    return release_pins_with(
        ((
            ranked.crossJoin(F.broadcast(stats))
            .select(
                "rank",
                # display as STRING, not bigint: the key parameter is
                # generic (any joinable column) — a bigint cast errors
                # under ANSI mode / silently nulls on non-numeric keys
                F.col(key).cast("string").alias("key_value"),
                "key_rows",
                round6(F.col("key_rows") / F.col("n_rows")).alias("key_frac"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                "p50_key_rows",
                "p99_key_rows",
                "entropy_bits",
                "uniform_bits",
            )
            .orderBy("rank")
        )),
        per_key,
    )


@prepared("q8_market_share")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_1 suppliers' share of AMERICA-region
    customers' STANDARD-part volume, per order year. Every dimension
    (part, customer->nation->region, supplier->nation) broadcasts; the
    only shuffle is lineitem join orders plus the tiny final agg, so the
    plan survives a 1000-executor scale-up with one fact-fact exchange."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    # volumes accumulate as exact 1e-4-unit integers; the share is a
    # ratio of two exact integers
    vol_u4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("o_orderdate").cast("integer").alias("o_year"))
        .agg(
            round6(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", vol_u4).otherwise(
                        F.lit(0).cast("bigint")
                    )
                )
                / F.sum(vol_u4)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@prepared("q21_waiting_supplier")
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted to the fixture schema (no l_receiptdate /
    l_commitdate -> "late" means shipped >90 days after the order date):
    suppliers who were the SOLE late shipper in a finished multi-supplier
    order. The oracle runs the faithful EXISTS / NOT EXISTS formulation;
    here the correlated subqueries become per-(order, supplier) aggregates
    plus per-order window counts. The explicit ``repartition(l_orderkey)``
    is load-bearing: hash(l_orderkey) satisfies the (l_orderkey,
    l_suppkey) groupBy (subset rule) AND the window's partitionBy, so the
    fact table is scanned once and shuffled ONCE -- the naive
    per_pair/per_order self-join plan scans lineitem twice and shuffles
    it four times."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = F.datediff("l_shipdate", "o_orderdate") > 90
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", late.alias("late")
    )
    per_pair = (
        j.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("late_lines"))
    )
    w = Window.partitionBy("l_orderkey")
    sole = per_pair.select(
        "*",
        F.count("*").over(w).alias("n_supp"),
        F.sum((F.col("late_lines") > 0).cast("int")).over(w).alias("n_late_supp"),
    ).where(
        (F.col("late_lines") > 0)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(supp), sole.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_lines").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping (unpivot/melt — the inverse of
    ``pivot_lineitem``): three per-flag measures melt into (flag, measure,
    value) rows. Unpivot is a zero-shuffle Expand over the already-tiny
    aggregate, so the plan is one scan + one agg exchange regardless of
    measure count."""
    li = _t(spark, sf_dir, "lineitem")
    # exact integer-cent accumulation for all three measures before the
    # melt (r12 migration) — quantity integral, price/discount exact 2dp
    agg = li.groupBy("l_returnflag").agg(
        _cents_disp(_dec_unit_sum(F.col("l_quantity"), 100)).alias("sum_qty"),
        _cents_disp(_dec_unit_sum(F.col("l_extendedprice"), 100)).alias(
            "sum_price"
        ),
        _cents_disp(_dec_unit_sum(F.col("l_discount"), 100)).alias("sum_disc"),
    )
    return agg.unpivot(
        "l_returnflag", ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


def bucketed_revenue_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem joins orders through their bucketed twins (both written
    bucketBy(orderkey) once — sources/bucketed.py), so the fact-fact join
    itself needs NO exchange: each task sort-merges one matching bucket
    pair, and the only shuffle left is the tiny priority aggregate. This
    is the amortize-the-shuffle path for the join every relational query
    here repeats; results are identical to the plain join (the oracle
    runs the unbucketed SQL)."""
    from oasysdb_spark.sources.bucketed import bucketed_join

    j = bucketed_join(spark, sf_dir, "lineitem", "orders", "l_orderkey", "o_orderkey")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            # exact 1e-4-unit integer revenue + scale-0 display (r10)
            F.round(
                _u4_sum_to_cents(
                    F.sum(
                        F.round(
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * 10000
                        ).cast("bigint")
                    )
                )
                / F.lit(100.0),
                2,
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
        .orderBy("o_orderpriority")
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted to the fixture schema (no partsupp — the
    supplier×part relation is derived from lineitem): distinct-supplier
    count per (brand, size), excluding complaint suppliers via NOT IN.
    s_suppkey is non-nullable, so the null-aware NOT IN is planned as a
    broadcast ANTI join (the scalable form — a nullable column would
    force a BroadcastNestedLoop null-check); part broadcasts too, so the
    only fact shuffle is the distinct aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") != "Brand#1")
    bad = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted to the fixture schema (no partsupp — the
    part×supplier offer relation is derived from lineitem, priced as the
    average discounted sale price): for each EUROPE-region part of the
    target size/type, the supplier(s) achieving the regional minimum
    price. The correlated min subquery decorrelates to a per-part
    window min over the offer aggregate (r15, guide §2.4: the old
    groupBy-min + equi-join-back read ``offers`` twice, and Spark does
    not share common subtrees across a self-join — the whole
    lineitem-scan → broadcast-join → aggregate pipeline ran TWICE; the
    window keeps one lineage and adds only an offer-bounded exchange
    on p_partkey). Every dimension (part, supplier, nation, region)
    broadcasts, so the only fact shuffle is the offer aggregate.
    Reference surface: /root/reference has no relational tier at all
    (SURVEY.md §2.5) — this is the completeness extension."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") < 15) & (F.col("p_type") == "ECONOMY")
    )
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # per-row price quantizes at the INPUT's exact precision (1e-4:
    # 2dp extendedprice × 2dp discount factor = a 4-decimal product)
    # before the mean — integer accumulation, one divide + round at
    # the end. round(avg(double)) sat within 1 ulp of a .005 boundary
    # at sf0.1 and flipped the 2dp round across engines (r9
    # third-scale sweep find); the first fix quantized to CENTS, which
    # shifted a group mean by up to half a cent vs the true mean (r9
    # ADVICE) — 1e-4 units lose NOTHING per row, so avg_price is now
    # the exact true mean displayed at 2dp
    u4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(eur), li.l_suppkey == eur.s_suppkey)
        .groupBy("p_partkey", "p_brand", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(
            # exact integer mean scaled to display CENTS, rounded at
            # SCALE 0 (both engines round the identical double
            # half-away at integer boundaries), then one exact /100 —
            # scale-2 rounding of the unscaled mean can still disagree
            # at decimal boundaries
            F.round(
                F.round(F.sum(u4) / F.count("*") / F.lit(100.0))
                .cast("bigint")
                / F.lit(100.0),
                2,
            ).alias("avg_price")
        )
    )
    w_part = Window.partitionBy("p_partkey")
    return (
        offers.withColumn("min_price", F.min("avg_price").over(w_part))
        .where(F.col("avg_price") == F.col("min_price"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("p_partkey").cast("bigint").alias("p_partkey"),
            "p_brand",
            "avg_price",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp — part value is the discounted sale
    revenue from one nation's suppliers over lineitem): parts whose value
    exceeds ``fraction`` of the national total. The scalar total is a
    broadcast single-row cross join over the per-part value table,
    which is materialized ONCE (eager localCheckpoint, r15 — guide
    §2.4: Catalyst does NOT reuse the aggregated values for both sides
    of a self-referencing join, so without the pin the lineitem join +
    per-part aggregate ran twice; the pinned rows are (partkey, value)
    pairs, part-cardinality-bounded — far below the fact table — and
    they stay distributed, unlike the single-partition pass an
    unpartitioned window total would force). Both engines compare on
    ROUNDED values so the HAVING cut is bit-identical."""
    li = _t(spark, sf_dir, "lineitem")
    nat_supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_0")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    value = (
        li.join(F.broadcast(nat_supp), li.l_suppkey == nat_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            # exact 1e-4-unit integer revenue, scale-0 display (r12)
            _money_disp(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("value")
        )
        .localCheckpoint(eager=True)
    )
    # the national total re-sums the exact 2dp part values in cents (r12)
    total = value.agg(
        _cents_disp(_dec_unit_sum(F.col("value"), 100)).alias("total")
    )
    return release_pins_with(
        ((
            value.join(F.broadcast(total))
            .where(F.col("value") > 0.001 * F.col("total"))
            .select(F.col("l_partkey").cast("bigint").alias("p_partkey"), "value")
            .orderBy(F.desc("value"), "p_partkey")
        )),
        value,
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp — "availqty" becomes the all-time
    shipped quantity per part×supplier): suppliers of NATION_0 who, for
    some part named ``small%``, shipped more than half of their all-time
    quantity of that part during 1995 alone. The nested correlated IN
    decorrelates to one conditional aggregate per (supplier, part) —
    quantity sums are integer-valued doubles, so the 0.5× comparison is
    exact on both engines — followed by a semi join onto supplier."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    pair = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum("l_quantity").alias("qty_total"),
            F.sum(
                F.when(
                    F.col("l_shipdate").between("1995-01-01", "1995-12-31"),
                    F.col("l_quantity"),
                ).otherwise(0.0)
            ).alias("qty_1995"),
        )
        .where(F.col("qty_1995") > 0.5 * F.col("qty_total"))
        .select("l_suppkey")
        .distinct()
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_0")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    return (
        supp.join(pair, supp.s_suppkey == pair.l_suppkey, "left_semi")
        .select(F.col("s_suppkey").cast("bigint").alias("s_suppkey"), "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel over the event stream: per user, the
    first ``view``, the first ``click`` STRICTLY AFTER that view, and the
    first ``purchase`` strictly after that click; returns one row of
    stage counts — the order-sensitive funnel metric (a click before any
    view does not count) that plain per-type counts can't express.

    Scale shape (r15 reshape, guide §2.4): ONE scan and ONE user-keyed
    shuffle. The old three-branch lineage (per-type min-aggregate +
    join per stage) made Spark recompute each earlier stage under the
    later ones — six scans of the events table for three stages. Now
    the funnel-relevant events shuffle by user_id once and three
    chained whole-partition windows (``partitionBy(user_id)``, no
    ordering — each frame is the full user group, so no sort beyond
    the first) derive the staged minimums with the identical strict
    ``ts >`` comparisons row-locally; the per-user rollup and the final
    count ride the same partitioning, so the plan holds exactly two
    exchanges (user hash + the 1-row final aggregate). No per-user
    collect; window state is one timestamp per stage."""
    w = Window.partitionBy("user_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_type")
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .withColumn("t_view", F.min(F.when(is_type("view"), F.col("ts"))).over(w))
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    is_type("click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    is_type("purchase") & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    funnel = (
        ev.groupBy("user_id")
        .agg(
            F.max("t_view").alias("t_view"),
            F.max("t_click").alias("t_click"),
            F.max("t_purchase").alias("t_purchase"),
        )
        .where(F.col("t_view").isNotNull())
    )
    return funnel.agg(
        F.count("*").cast("bigint").alias("n_viewed"),
        F.count("t_click").cast("bigint").alias("n_clicked_after_view"),
        F.count("t_purchase").cast("bigint").alias("n_purchased_after_click"),
    )


def orders_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (the frame type :func:`window_functions_suite`
    and ``running_revenue`` don't cover): per order, the customer's
    total spend over the trailing 30 days — a VALUE-bounded frame
    (``rangeBetween(-30, 0)`` over epoch days), so all orders on a tie
    date enter the frame together regardless of row order, which is what
    makes the result engine-independent. One shuffle on the window key."""
    orders = _t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-30, 0)
    )
    # exact cents over the frame (o_totalprice is 2dp), one /100 at
    # display — integer window sums are partition-order-proof and the
    # quotient of an exact integer rounds identically on both engines
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        days.cast("bigint").alias("day_no"),
        F.round(F.sum(cents).over(w) / F.lit(100.0), 2).alias(
            "trailing30_spend"
        ),
        F.count("*").over(w).cast("bigint").alias("trailing30_orders"),
    )


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the product-analytics staple: cohort =
    the Monday of a user's first active week; for every later week the
    user is active, count them into (cohort_week, week_offset). Scale
    shape: one distinct on (user, week) — partial-aggregatable — one
    per-user min, one broadcast-sized join back (users ≪ events), one
    final aggregation."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    joined = ev.join(first, "user_id")
    offset = F.floor(F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
    return (
        joined.groupBy("cohort_week", offset.cast("bigint").alias("week_offset"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def lineitem_price_qty_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between quantity and extended price per
    return flag — the statistical-functions entry, computed the
    HASH-SAFE way: NOT ``F.corr`` (whose running double accumulation is
    partition-order dependent and engine-specific) but exact integer
    moments — quantity is already integral, price quantizes to cents,
    and the five sums (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as
    DECIMAL(38,0)/HUGEINT EXACTLY in both engines; the closed form

        r = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²) · (nΣy² − (Σy)²))

    then evaluates over identical doubles and rounds once. Returns
    ``(l_returnflag, n_rows, corr_qty_price)`` ordered by flag.

    Scale shape: one scan, one map-side-combined aggregation to
    |flags| rows. Decimal partials are a few bytes wider than longs —
    the price of bit-exactness at any row count (Σy² overflows int64
    past ~60k rows of 5-digit prices)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(20,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(20,0)")
    agg = li.select("l_returnflag", x.alias("x"), y.alias("y")).groupBy(
        "l_returnflag"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return (
        agg.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            round6(F.when(den != 0.0, (n * sxy - sx * sy) / den)).alias(
                "corr_qty_price"
            ),
        )
        .orderBy("l_returnflag")
    )


@prepared("user_rfm_segments")
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation over the event stream — the classic
    recency/frequency/monetary quartile grid marketing and growth teams
    run daily: per user compute recency (last event time), frequency
    (event count) and monetary (summed value in exact cents), bucket
    each into quartiles against the USER population's exact
    percentiles, and return the segment grid
    ``(r_q, f_q, m_q, n_users, avg_monetary)`` (≤ 64 rows). Segment
    (4,4,4) is the champions cell; a growing (1,4,4) cell is churning
    whales — the actionable read.

    All three per-user metrics are exact integers
    (epoch millis, counts, cents); quartile thresholds are Spark's
    exact ``percentile`` over those integers (== ``quantile_cont``);
    bucketing is strict-greater comparison against the thresholds
    (ties fall low — deterministic, no rank ambiguity);
    ``avg_monetary`` is an integer-cents sum divided once.

    Scale shape: one map-side-combined shuffle collapses the stream to
    |users| rows; the threshold pass is one broadcast one-row aggregate
    over that table; bucketing is row-local and the final rollup is
    segment-bounded. The event stream is scanned exactly once."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        epoch_ms(F.max("ts")).cast("bigint").alias("r"),
        F.count("*").cast("bigint").alias("f"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("m"),
    )
    qs = F.broadcast(
        per_user.agg(
            F.percentile(F.col("r"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("rq"),
            F.percentile(F.col("f"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("fq"),
            F.percentile(F.col("m"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("mq"),
        )
    )

    def bucket(col, q):
        one = F.lit(1).cast("bigint")
        return (
            one
            + (F.col(col) > F.element_at(F.col(q), 1)).cast("bigint")
            + (F.col(col) > F.element_at(F.col(q), 2)).cast("bigint")
            + (F.col(col) > F.element_at(F.col(q), 3)).cast("bigint")
        )

    return (
        per_user.crossJoin(qs)
        .select(
            bucket("r", "rq").alias("r_q"),
            bucket("f", "fq").alias("f_q"),
            bucket("m", "mq").alias("m_q"),
            "m",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            # mean cents is fractional
            from_micro(F.sum("m") / F.count("*") * 1e4).alias("avg_monetary"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / stickiness over the event stream — the product-
    analytics daily: per calendar day, distinct active users that day
    (DAU), distinct users over the trailing 7 days (WAU), and the
    DAU/WAU stickiness ratio. Returns ``(day, dau, wau, stickiness)``
    ordered by day (days with no trailing-window activity don't occur:
    every emitted day has ≥ 1 active user).

    The rolling DISTINCT is the interesting plan problem: a window
    ``countDistinct`` doesn't exist, and re-scanning the stream per day
    is quadratic. Instead the stream collapses ONCE to distinct
    (day, user) pairs (map-side combined); each pair then explodes to
    the ≤ 7 window-days it serves (a bounded explode of an already
    day-bounded table), and WAU is a plain countDistinct over that
    small frame. Spark-side cost: one corpus-scale shuffle + day-scale
    aggregates.

    DAU/WAU are exact integers; stickiness is one integer ratio."""
    events = _t(spark, sf_dir, "events")
    du = (
        events.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
        )
        .distinct()
    )
    dau = du.groupBy("day").agg(F.countDistinct("user_id").cast("bigint").alias("dau"))
    served = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day"),
        "user_id",
    )
    # only days that actually occur in the data (the explode also emits
    # 6 days past the last event)
    wau = (
        served.join(dau.select("day"), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            round6(F.col("dau") / F.col("wau").cast("double")).alias("stickiness"),
        )
        .orderBy("day")
    )
