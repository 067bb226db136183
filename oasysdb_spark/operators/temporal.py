"""Temporal join + windowed-aggregation operators.

SURVEY.md §2.5 lists range/as-of/interval joins and tumbling/sliding
windows as categories the reference lacks but a complete engine needs
(the reference's only temporal behavior is the 600 s snapshot timer,
/root/reference/src/main.rs:16,57-61). These are Spark-first designs:

- ``asof_join`` is the union + carry-forward formulation: tag both
  inputs, union, one shuffle on the key, and a running ``last(...,
  ignorenulls=True)`` window. Cost is a single hash partition on the
  join key plus a per-partition sort — linear at 100 TB, no range
  explosion, no broadcast requirement on either side (contrast a naive
  ``left.join(right, key).where(r_ts <= l_ts)`` + argmax, which
  materializes every candidate pair).
- range/band joins broadcast the (tiny) band dimension so Catalyst
  picks BroadcastNestedLoopJoin — the right physical plan when one
  side is a handful of rows and the predicate is an inequality.
- tumbling/sliding aggregations use the built-in ``F.window`` bucketing
  expression (the same operator Structured Streaming uses), so the
  batch queries here are literally the streaming plans minus the
  watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oasysdb_spark.session import tiny_df

from oasysdb_spark.functions.time import epoch_ms
from oasysdb_spark.functions.stats import round6
from oasysdb_spark.sources.tables import load_table, prepared


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
    right_tiebreak: str | None = None,
) -> DataFrame:
    """Backward as-of join: for each left row, attach the payload of the
    latest right row with ``right[right_ts] <= left[left_ts]`` and the
    same ``on`` key (ties at equal timestamps DO match, like DuckDB's
    ``ASOF JOIN ... ON r.ts <= l.ts``).

    ``payload`` maps output column name -> right column name. Right rows
    must be unique per (on, right_ts) for a deterministic answer; if they
    are not, pass ``right_tiebreak`` (a right column name) and the
    max-tiebreak row wins each (key, ts) — the dedup rides the window's
    sort instead of costing its own groupBy exchange.

    Implementation: union both sides with a side tag (right=0 sorts
    before left=1 at equal ts), then carry payload forward with
    ``last(ignorenulls=True)`` over (key, ts, side[, tiebreak]). One
    shuffle on ``on``; scales linearly with rows.
    """
    out_cols = [c for c in left.columns]
    clash = set(payload) & set(out_cols)
    if clash:
        raise ValueError(f"payload output names collide with left columns: {sorted(clash)}")
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_tb"),
        F.struct(*left.columns).alias("_row"),
        *[F.lit(None).cast(dict(right.dtypes)[src]).alias(dst) for dst, src in payload.items()],
    )
    tb = (F.col(right_tiebreak) if right_tiebreak else F.lit(0)).cast("long")
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        tb.alias("_tb"),
        F.lit(None).cast(l.schema["_row"].dataType).alias("_row"),
        *[F.col(src).alias(dst) for dst, src in payload.items()],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = l.unionByName(r).select(
        "_side",
        "_row",
        *[F.last(dst, ignorenulls=True).over(w).alias(dst) for dst in payload],
    )
    return merged.where(F.col("_side") == 1).select(
        *[F.col(f"_row.{c}").alias(c) for c in out_cols], *payload.keys()
    )


def asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click event, the most recent view by the same user at or
    before the click (backward as-of), plus the gap in milliseconds."""
    events = _t(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    # duplicate (user, ts) views resolve to max event_id via the window
    # tiebreak — no pre-dedup groupBy, so the whole as-of is ONE shuffle
    views = events.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    joined = asof_join(
        clicks, views, on="user_id", left_ts="click_ts", right_ts="view_ts",
        payload={"view_id": "view_id", "view_ts": "view_ts"},
        right_tiebreak="view_id",
    )
    return joined.select(
        "click_id",
        "user_id",
        (epoch_ms("click_ts") - epoch_ms("view_ts")).cast("bigint").alias("gap_ms"),
        "view_id",
    )


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: orders against a tiny price-band dimension on an
    inequality predicate. The dim is broadcast, so the physical plan is
    BroadcastNestedLoopJoin — correct at any fact-side scale."""
    orders = _t(spark, sf_dir, "orders")
    bands = tiny_df(
        spark,
        [("low", 0.0, 75_000.0), ("mid", 75_000.0, 150_000.0), ("high", 150_000.0, 1e12)],
        "band string, lo double, hi double",
    )
    j = orders.join(
        F.broadcast(bands),
        (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
    )
    # exact-cents integer accumulation (o_totalprice is 2dp) with
    # scale-0 display rounds (r10 migration): the sum is an exact
    # integer /100; the mean pre-scales to display cents and rounds
    # at scale 0 before dividing back
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        j.groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.round(F.sum(cents) / F.lit(100.0), 2).alias("sum_price"),
            F.round(
                F.round(F.sum(cents) / F.count("*")).cast("bigint")
                / F.lit(100.0),
                2,
            ).alias("avg_price"),
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    extra_cond=None,
    bucket_width: int = 3_600_000,
) -> DataFrame:
    """Interval-overlap join: all (left, right) pairs whose ``[start, end]``
    ranges overlap (touching endpoints count: ``l_start <= r_end AND
    r_start <= l_end``). Bounds are numeric (e.g. epoch millis).

    NOT a nested-loop: each interval explodes to the fixed-width buckets it
    spans, the join is an EQUI-join on bucket id, and the exact overlap
    predicate filters candidates. Two overlapping intervals always share the
    bucket containing ``max(starts)`` (that instant lies in both), so
    candidate generation is complete — and because that bucket is *unique*
    per pair, keeping only the join row whose bucket equals it emits each
    pair exactly once with NO dedup exchange at all (the old version
    ``dropDuplicates``'d full payload structs — a whole-row shuffle this
    filter replaces for free). Cost is linear in intervals ×
    buckets-per-interval + pairs-per-bucket — the classic spatial-grid trick,
    vs O(|L|·|R|) for the naive inequality join Catalyst would otherwise plan
    as BroadcastNestedLoopJoin. ``bucket_width`` trades explode factor
    against bucket selectivity; a hot bucket (everything overlapping one
    hour) is ordinary join skew, handled by AQE skew-join.

    ``extra_cond(l, r) -> Column`` adds an extra join predicate evaluated
    inside the equi-join (e.g. an ordering condition for self-joins).
    """
    l = left.select(
        F.struct(*left.columns).alias("_l"),
        F.explode(
            F.sequence(
                (F.col(l_start) / bucket_width).cast("bigint"),
                (F.col(l_end) / bucket_width).cast("bigint"),
            )
        ).alias("_bucket"),
    )
    r = right.select(
        F.struct(*right.columns).alias("_r"),
        F.explode(
            F.sequence(
                (F.col(r_start) / bucket_width).cast("bigint"),
                (F.col(r_end) / bucket_width).cast("bigint"),
            )
        ).alias("_bucket"),
    )
    cond = l["_bucket"] == r["_bucket"]
    if extra_cond is not None:
        cond = cond & extra_cond(F.col("_l"), F.col("_r"))
    # one-bucket-owns-the-pair: emit only in the bucket of max(starts)
    owner = F.greatest(
        (F.col(f"_l.{l_start}") / bucket_width).cast("bigint"),
        (F.col(f"_r.{r_start}") / bucket_width).cast("bigint"),
    )
    pairs = (
        l.join(r, cond)
        .where(l["_bucket"] == owner)
        .where(
            (F.col(f"_l.{l_start}") <= F.col(f"_r.{r_end}"))
            & (F.col(f"_r.{r_start}") <= F.col(f"_l.{l_end}"))
        )
        .select("_l", "_r")
    )
    return pairs.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r.{c}").alias(c) for c in right.columns],
    )


def _user_sessions(events: DataFrame, gap_ms: int = 1_800_000) -> DataFrame:
    """Gap-based sessionization to (user_id, session_seq, s_ms, e_ms) —
    the same lag + cumulative-sum construction as
    relational.sessionize_events, aggregated to interval bounds."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = epoch_ms("ts")
    new_sess = F.when(
        (ms - F.lag(ms).over(w)).isNull() | ((ms - F.lag(ms).over(w)) > gap_ms), 1
    ).otherwise(0)
    ws = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        events.select("user_id", "event_id", "ts")
        .withColumn("session_seq", F.sum(new_sess).over(ws))
        .groupBy("user_id", "session_seq")
        .agg(F.min(epoch_ms("ts")).alias("s_ms"), F.max(epoch_ms("ts")).alias("e_ms"))
    )


def interval_overlap_sessions(
    spark: SparkSession, sf_dir: str, top_n: int = 50
) -> DataFrame:
    """Driver-contract interval join: cross-user session overlaps. Both
    sides are the (thousands-row) derived session table, so neither is
    broadcast-able — exactly the case the bucketized equi-join exists for.
    Returns the ``top_n`` longest overlaps (ms), deterministic tie-break on
    all pair keys."""
    # persisted: with the current events fixture the derived session
    # table is ~95k rows (it was ~10k when this chose not to cache), and
    # the A/B now favors computing the window/groupBy once — warm runs
    # measured 0.9-1.1 s cached vs 1.2-1.4 s with both sides re-deriving.
    # Spark dedupes the cache entry by plan equality, so repeated calls
    # reuse one bounded entry instead of stacking copies.
    sessions = _user_sessions(_t(spark, sf_dir, "events")).persist()
    out = interval_overlap_join(
        sessions.select(
            F.col("user_id").alias("user_a"), F.col("session_seq").alias("sess_a"),
            F.col("s_ms").alias("start_a"), F.col("e_ms").alias("end_a"),
        ),
        sessions.select(
            F.col("user_id").alias("user_b"), F.col("session_seq").alias("sess_b"),
            F.col("s_ms").alias("start_b"), F.col("e_ms").alias("end_b"),
        ),
        "start_a", "end_a", "start_b", "end_b",
        extra_cond=lambda l, r: l["user_a"] < r["user_b"],
    )
    overlap = F.least("end_a", "end_b") - F.greatest("start_a", "start_b")
    return (
        out.select(
            F.col("user_a").cast("bigint").alias("user_a"),
            F.col("sess_a").cast("bigint").alias("sess_a"),
            F.col("user_b").cast("bigint").alias("user_b"),
            F.col("sess_b").cast("bigint").alias("sess_b"),
            overlap.cast("bigint").alias("overlap_ms"),
        )
        .orderBy(F.col("overlap_ms").desc(), "user_a", "sess_a", "user_b", "sess_b")
        .limit(top_n)
    )


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream — the
    batch twin of the Structured Streaming windowed-count plan."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            # exact-cents accumulation (r12 migration — the sliding-window
            # twin took the same form at r11): events.value is exact 2dp
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0, 2
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral audit between :func:`event_funnel`'s
    fixed step ladder and :func:`sessionize_events`' gap cutting: for
    every ordered pair of event types, how often does ``next`` follow
    ``prev`` in some user's timeline, and with what conditional
    probability. The curation read: a transition matrix that shifts
    between two crawls of an interaction log is drift the per-type
    rate audit (:func:`event_rate_anomalies`) cannot see, because
    SEQUENCE changes don't move marginal counts.

    Returns ``(prev_type, next_type, n_transitions, p_next)`` with
    ``p_next = n / Σ_next n`` per ``prev_type`` — one division of two
    exact integer counts, rounded once (the documented-safe class).
    Successor order is total: ``ts`` then ``event_id`` breaks
    same-timestamp ties identically in both engines.

    Scale shape: ONE exchange on ``user_id`` (narrow rows: user, type,
    ts, event_id — props/value pruned at the scan) feeds the per-user
    lag window; the pair rollup is map-side combined down to the
    ≤ |types|² matrix, and the per-prev totals window runs over that
    tiny matrix, partitioned by ``prev_type`` (never a single-partition
    window over event-scale rows)."""
    events = _t(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(seq))
        .where(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count("*").cast("bigint").alias("n_transitions"))
    per_prev = Window.partitionBy("prev_type")
    return (
        counts.select(
            "prev_type",
            "next_type",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(per_prev).cast("double"),
                6,
            ).alias("p_next"),
        )
        .orderBy("prev_type", "next_type")
    )


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h size, 30 min slide): each event lands in two
    overlapping windows. ``F.window`` expands the buckets JVM-side."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            # exact-cents accumulation (r11 migration): events.value is
            # an exact 2-decimal input, so sum bigint cents and divide
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0, 2
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "n_users", "sum_value")
    )


@prepared("event_rate_anomalies")
def event_rate_anomalies(
    spark: SparkSession,
    sf_dir: str,
    z_threshold: float = 2.5,
) -> DataFrame:
    """Hourly event-RATE anomaly detection per event type — the ops
    audit run over an ingest stream's history: bucket events into
    (event_type, hour) counts, compute each bucket's population z-score
    against its type's own hourly distribution, and return the buckets
    whose |z| meets ``z_threshold`` (traffic spikes and outage troughs).
    Returns ``(event_type, hour_ts, n_events, z_score)`` ordered by
    (event_type, hour_ts).

    The z-score is formed from EXACT integers only —
    with per-type n (hours), S1 = Σc, S2 = Σc², a bucket count c has

        z = (c·n − S1) / sqrt(n·S2 − S1²)

    (algebraically (c − μ)/σ_pop scaled into one integer numerator and
    one integer sqrt argument), so both engines evaluate the identical
    expression tree over identical integers; rounded once to 6 dp.
    Zero-variance types produce no rows (sqrt argument 0 → filtered).

    Scale shape: one shuffle — the (event_type, hour) count with
    map-side partial aggregation (state = types × hours, far below the
    event stream). Per-type moments are WINDOW aggregates over those
    buckets (r15, guide §2.4: the old ``event_rate_baseline(events)``
    join-back re-built the hourly table from the raw stream — Spark
    does not share common subtrees across a self-join, so the events
    scan + hourly aggregate ran TWICE; the window keeps one lineage at
    the cost of one types-keyed exchange of the tiny bucket table).
    The anomaly filter is bucket-local. The raw stream is scanned once
    and never reshuffled. The streaming scorer still fits its offline
    baseline via :func:`event_rate_baseline` — same integers, since the
    window computes the identical n/S1/S2 per type."""
    events = _t(spark, sf_dir, "events")
    w_type = Window.partitionBy("event_type")
    hourly = _hourly_type_counts(events).select(
        "event_type",
        "hour_ts",
        "c",
        F.count("*").over(w_type).cast("bigint").alias("n"),
        F.sum("c").over(w_type).cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w_type).cast("bigint").alias("s2"),
    )
    num = F.col("c") * F.col("n") - F.col("s1")
    den2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    # exact integers through one IEEE sqrt+divide (identical doubles on
    # both engines)
    z = round6(num.cast("double") / F.sqrt(den2.cast("double")))
    return (
        hourly.where(den2 > 0)
        .select(
            "event_type",
            "hour_ts",
            F.col("c").alias("n_events"),
            z.alias("z_score"),
        )
        .where(F.abs(F.col("z_score")) >= z_threshold)
        .orderBy("event_type", "hour_ts")
    )


def _hourly_type_counts(events: DataFrame) -> DataFrame:
    """(event_type, hour_ts, c): hourly bucket counts — ONE map-side-
    combined shuffle whose state is types × hours, far below the
    stream."""
    return events.groupBy(
        F.col("event_type"),
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"),
    ).agg(F.count("*").cast("bigint").alias("c"))


def event_rate_baseline(events: DataFrame) -> DataFrame:
    """(event_type, n, s1, s2): per-type moments of the HOURLY count
    distribution (n hours, Σc, Σc²) — the offline fit
    :func:`event_rate_anomalies` scores against, and the tiny table the
    streaming scorer (``streaming.ingest.event_rate_anomaly_stream_flags``)
    broadcasts. Exact integers only, so the z-score expression is
    bit-identical wherever it is evaluated."""
    return _hourly_type_counts(events).groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
