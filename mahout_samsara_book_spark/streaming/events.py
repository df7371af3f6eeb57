"""Event-time processing over the events table: tumbling-window
aggregation (batch + Structured Streaming with watermark) and gap-based
sessionization (SURVEY §2A note: absent from the reference, supplied by
the engine as the idiomatic Spark-native surface).

``events.ts`` is normalized to int64 epoch MICROSECONDS by
:func:`mahout_samsara_book_spark.sources.tables.ts_us`, which accepts
both fixture generations (parquet TIMESTAMP(MICROS) → TIMESTAMP_NTZ, and
legacy int64-nanos under ``nanosAsLong``). All event-time arithmetic here
is integer-µs so Spark and the DuckDB oracle stay bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mahout_samsara_book_spark.sources.tables import load_table, ts_us
from mahout_samsara_book_spark.tmpdirs import fresh_tmpdir

US_PER_SEC = 1_000_000


def with_event_time(ev: DataFrame) -> DataFrame:
    """``ts`` (either representation) → timestamp ``event_time`` (UTC),
    truncated to whole seconds via INTEGER division on the µs
    normalization — float µs→s conversion could flip bucket boundaries
    against the oracle's exact integer arithmetic."""
    return ev.withColumn("_t_us", ts_us(ev)).withColumn(
        "event_time",
        F.timestamp_seconds(F.expr(f"_t_us div {US_PER_SEC}")),
    ).drop("_t_us")


def windowed_counts(ev: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type:
    ``(window_start: epoch secs, event_type, n, total_value)``."""
    return (
        with_event_time(ev)
        .groupBy(F.window("event_time", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_windowed_counts(
    ev_stream: DataFrame, width: str = "1 hour", watermark: str = "0 seconds"
) -> DataFrame:
    """Streaming twin of :func:`windowed_counts`: watermarked event-time
    windows; append-mode emits each window once it is final (window end ≤
    watermark). Late rows beyond the watermark are dropped — the standard
    late-data contract."""
    return (
        with_event_time(ev_stream)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_click_error_join(
    clicks: DataFrame,
    errors: DataFrame,
    lookback_secs: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: for each error event, the
    same user's clicks in the OPEN interval
    ``(error_time − lookback, error_time)`` — the same convention as the
    batch :func:`~mahout_samsara_book_spark.functions.relational.
    range_join_clicks_before_errors`, so batch and stream agree on
    boundary rows. The canonical Spark stream-stream shape: BOTH sides
    watermarked and the join condition combines the user equi-key with a
    bounded event-time range, so the state store evicts click rows once
    they fall behind ``error watermark − lookback`` — bounded state at
    any input volume. Works unchanged on batch DataFrames
    (``withWatermark`` is a no-op in batch), which is what the
    equivalence test exploits.
    ``(user_id, error_id, error_time, click_time, click_value)``."""
    c = (
        with_event_time(clicks)
        .withWatermark("event_time", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("click_time"),
            F.col("value").alias("click_value"),
        )
    )
    e = (
        with_event_time(errors)
        .withWatermark("event_time", watermark)
        .select(
            "user_id",
            F.col("event_id").alias("error_id"),
            F.col("event_time").alias("error_time"),
        )
    )
    return e.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_time") < F.col("error_time"))
        & (
            F.col("click_time")
            > F.col("error_time") - F.expr(f"INTERVAL {lookback_secs} SECONDS")
        ),
        "inner",
    ).select("user_id", "error_id", "error_time", "click_time", "click_value")


def sessionize(ev: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user (lag + cumulative-flag formulation —
    one shuffle on user_id): ``(user_id, session_id, n_events,
    session_start, session_end, total_value)``; epoch-second bounds.
    Pure integer-µs arithmetic (see module docstring)."""
    gap_us = gap_minutes * 60 * US_PER_SEC
    ev = ev.withColumn("t_us", ts_us(ev))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            (F.lag("t_us").over(w).isNull())
            | (F.col("t_us") - F.lag("t_us").over(w) > gap_us),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return flagged.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.expr(f"min(t_us) div {US_PER_SEC}").alias("session_start"),
        F.expr(f"max(t_us) div {US_PER_SEC}").alias("session_end"),
        F.sum("value").alias("total_value"),
    )


def session_window_agg(ev: DataFrame, gap_minutes: int = 20) -> DataFrame:
    """Native session windows (``F.session_window`` — Spark's
    UpdatingSessions physical operator, the engine-supported twin of the
    composed :func:`sessionize` islands): per user, merge events whose
    gap is at most ``gap_minutes`` — an exact-gap event MERGES (Spark
    treats ts == last+gap as overlapping the session's extension
    window), the same ``diff > gap`` new-session rule as the composed
    formulation; pinned by test_session_window_gap_boundary. ``(user_id, session_start, session_end, n_events,
    total_value)``; start = first event's epoch-sec, end = (last event
    + gap) epoch-sec, both integer-truncated from µs."""
    ev = ev.withColumn("_t_us", ts_us(ev)).withColumn(
        "_et", F.timestamp_micros(F.col("_t_us"))
    )
    return (
        ev.groupBy(
            F.session_window("_et", f"{gap_minutes} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def stream_session_counts(
    ev_stream: DataFrame,
    gap_minutes: int = 20,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of :func:`session_window_agg`: watermarked native
    session windows in append mode — a session emits once the watermark
    passes its close (last event + gap). The stateful merge
    (UpdatingSessions + state store) is exactly the path a 100 TB
    event stream would run; the batch twin is the replayable oracle."""
    ev = ev_stream.withColumn("_t_us", ts_us(ev_stream)).withColumn(
        "_et", F.timestamp_micros(F.col("_t_us"))
    )
    return (
        ev.withWatermark("_et", watermark)
        .groupBy(
            F.session_window("_et", f"{gap_minutes} minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("sw.start").cast("long").alias("session_start"),
            F.col("sw.end").cast("long").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_replayed_events(ev: DataFrame) -> DataFrame:
    """Batch twin of :func:`stream_dedup_events`: keep one row per
    event_id. Duplicates produced by at-least-once delivery are full-row
    identical, so which copy survives is immaterial — output is
    deterministic. ``(event_id, user_id, event_type, t_sec, value)``."""
    ev = ev.withColumn("t_us", ts_us(ev))
    return ev.dropDuplicates(["event_id"]).select(
        "event_id",
        "user_id",
        "event_type",
        F.expr(f"t_us div {US_PER_SEC}").alias("t_sec"),
        "value",
    )


def stream_dedup_events(
    ev_stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming at-least-once dedup: ``dropDuplicatesWithinWatermark``
    on event_id — the canonical replay-dedup shape. State holds one key
    per event_id seen within the watermark horizon and is EVICTED once
    the event time falls behind it, so state is bounded by (arrival
    rate × watermark), not by stream history — the property that keeps
    this runnable forever at 100 TB/day. A replayed duplicate arriving
    within the horizon is dropped even if its timestamp differs slightly
    from the original (the within-watermark contract, vs the exact-match
    semantics of plain streaming dropDuplicates)."""
    ev = ev_stream.withColumn("t_us", ts_us(ev_stream)).withColumn(
        "event_time",
        F.timestamp_seconds(F.expr(f"t_us div {US_PER_SEC}")),
    )
    return (
        ev.withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr(f"t_us div {US_PER_SEC}").alias("t_sec"),
            "value",
        )
    )


def enriched_nation_counts(ev: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static enrichment join + rollup: events enriched with the
    customer dimension (user_id → c_custkey) and aggregated per
    (c_nationkey, event_type). The dimension side is explicitly
    broadcast — on a stream the static side re-resolves per micro-batch
    and the join is a broadcast hash join, so the unbounded side never
    shuffles; in batch it is the same plan. Works on either a batch or
    streaming ``ev`` (aggregation on a stream then needs an output mode,
    see the streaming test)."""
    dim = customers.select("c_custkey", "c_nationkey")
    return (
        ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
        .groupBy("c_nationkey", "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )


def funnel_steps(
    ev: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered-funnel analysis: for each user with at least one
    ``steps[0]`` event, the earliest timestamp of each step that occurs
    STRICTLY AFTER the previous step's chosen timestamp (the classic
    product-analytics funnel — a later-step event before the first
    view doesn't count). ``(user_id, t_<step>... epoch secs with NULLs
    past the drop-off point, steps_reached)``.

    Scale shape: one aggregation per funnel stage, every one keyed on
    user_id (map-side combinable min), chained by broadcast-free
    equi-joins on the same user_id key — co-partitioned by the first
    shuffle, no quadratic relation, no window over the full event
    stream. Funnel depth (≈3) bounds the stage count, not data size."""
    ev = ev.withColumn("t_us", ts_us(ev))
    prev = (
        ev.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_0"))
    )
    out = prev
    for i, step in enumerate(steps[1:], start=1):
        nxt = (
            ev.filter(F.col("event_type") == step)
            .join(out.select("user_id", f"t_{i-1}"), "user_id")
            .filter(F.col("t_us") > F.col(f"t_{i-1}"))
            .groupBy("user_id")
            .agg(F.min("t_us").alias(f"t_{i}"))
        )
        out = out.join(nxt, "user_id", "left")
    reached = F.lit(1)
    for i in range(1, len(steps)):
        reached = reached + F.when(F.col(f"t_{i}").isNotNull(), 1).otherwise(0)
    cols = [F.col("user_id")] + [
        F.expr(f"t_{i} div {US_PER_SEC}").alias(f"t_{s}")
        for i, s in enumerate(steps)
    ]
    return out.select(*cols, reached.cast("long").alias("steps_reached"))


def retention_cohorts(ev: DataFrame) -> DataFrame:
    """Day-cohort retention triangle: cohort = the user's first active
    day (any event type), ``(cohort_day, day_offset, n_users)`` =
    distinct users from that cohort active ``day_offset`` days later —
    epoch-day integers, offset 0 row is the cohort size.

    Two shuffles total at any scale: min-day per user (map-side
    combinable), then a distinct-aggregate keyed on the (cohort,
    offset) pair after a same-key user join — the standard shape; no
    per-day scans, no driver loops."""
    # ts_us materialized once; `day` is integer epoch-days
    ev = ev.withColumn("ts_us_col", ts_us(ev)).withColumn(
        "day", F.expr(f"(ts_us_col div {US_PER_SEC}) div 86400")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.select("user_id", "day")
        .join(first, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def value_anomalies(
    events: DataFrame,
    z_thresh: float = 3.0,
    group_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """``(event_id, event_type, value, z)`` — events whose value
    deviates more than ``z_thresh`` sample standard deviations from
    their type's mean (monitoring / data-quality gate over a metric
    stream).

    Moments are EXPLICIT sums (Σv, Σv², n) rather than the engine's
    stddev aggregate: Spark's Welford-style one-pass and another
    engine's formulation differ in last-ulp ways, while the textbook
    two-pass formula applies the identical IEEE op sequence in any
    engine — the determinism the oracle gate needs. Two scans of the
    group (one for moments, one for the probe) = the standard
    broadcast-join shape; the moment relation is |groups| rows."""
    v = F.col(value_col).cast("double")
    stats = events.groupBy(group_col).agg(
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.count("*").cast("double").alias("n"),
    )
    var = (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n")) / (
        F.col("n") - F.lit(1.0)
    )
    stats = stats.select(
        group_col,
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(var).alias("sd"),
    )
    z = (v - F.col("mu")) / F.col("sd")
    return (
        events.join(F.broadcast(stats), group_col)
        .select(
            F.col(id_col),
            F.col(group_col),
            v.alias(value_col),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > F.lit(z_thresh))
    )


def sliding_active_users(
    ev: DataFrame, width: str = "1 hour", slide: str = "15 minutes"
) -> DataFrame:
    """Sliding-window activity rollup — the HAU/DAU shape: for every
    ``slide``-aligned window of length ``width``, the EXACT distinct
    user count and event count. ``(window_start: epoch secs, n_users,
    n_events)``.

    Spark-first: ``F.window(event_time, width, slide)`` — Catalyst
    expands each event into its width/slide covering windows map-side
    (no self-join), then one hash aggregate with a distinct phase. At
    100 TB the distinct-user aggregate is the standard two-shuffle
    (partial per (window, user), then count) plan Spark picks
    automatically; swap count_distinct for the HLL sketch variant
    (sketches.hll_distinct) when approximation is acceptable. Window
    alignment is in absolute epoch time, so session timezone never
    moves a bucket (same pinning as windowed_counts)."""
    return (
        with_event_time(ev)
        .groupBy(F.window("event_time", width, slide).alias("w"))
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_users",
            "n_events",
        )
    )


_STREAM_RUN_SEQ = [0]

# State-store parallelism for the bounded gate/pytest runs. Stateful
# streaming cost is per (partition × micro-batch): every shuffle
# partition materializes its own state store instance and rewrites its
# delta files each batch, so a 25-row aggregate spread over 32
# partitions pays 32 stores' worth of fixed overhead (measured 17.6 s →
# 4.2 s on the stream-stream join at sf0.01 going 32 → 4). A production
# deployment sizes this to the cluster — state VOLUME scales with key
# cardinality and must spread — which is exactly why it's a knob here,
# not a hardcode. Spark pins the value into the query's checkpoint at
# start, so setting it around ``start()`` and restoring the session
# value immediately is safe and leaks nothing to other queries.
BOUNDED_STATE_PARTITIONS = 4


def _adaptive_state_partitions(
    sf_dir: str, fname: str = "events.parquet"
) -> int:
    """Size the state-store parallelism to the bounded source instead
    of hard-pinning the small-fixture optimum (round 7): 4 partitions
    win while state overhead dominates (17.6 s → 4.2 s at sf0.01), but
    they strangle a 100× batch — the sf10 session-window run pushed
    10M events (9.7M session keys) through 4 stateful tasks and
    measured 425 s; at 32 it is 122 s. One store per ~2 MB of source,
    clamped to [4, 32] — the small fixtures stay at the measured
    4-store optimum while anything sf1-plus widens. Results are
    partitioning-invariant (hash-checked), so the dial is pure
    throughput; a real deployment sizes it to key cardinality ×
    cluster width the same way.

    Round-12 refinement: a third measured point at sf0.1 (2 MB events,
    10k users — the per-key pandas overhead regime) put the optimum at
    8 stores (min-of-3: 8 → 6.1 s, 4 → 7.6 s, 16 → 7.9 s, 32 → 13.5 s
    for the watermarked as-of), so the curve grows one store per
    ~256 KB of source instead of per 2 MB — the sf0.01 floor (4) and
    the sf10 ceiling (32) keep their previously measured optima."""
    import os

    try:
        sz = os.path.getsize(os.path.join(sf_dir, fname))
    except OSError:
        return BOUNDED_STATE_PARTITIONS
    return max(BOUNDED_STATE_PARTITIONS, min(32, sz // (256 << 10)))


def _run_bounded_stream(
    spark, out: DataFrame, prefix: str, output_mode: str, state_partitions: int
) -> DataFrame:
    """Start ``out`` as an availableNow streaming query into a memory
    sink named ``{prefix}_{seq}``, block until the backlog drains, and
    return the sink table. Sets state-store parallelism for the query
    (restoring the session conf immediately — the engine pins the value
    per query at start)."""
    _STREAM_RUN_SEQ[0] += 1
    name = f"{prefix}_{_STREAM_RUN_SEQ[0]}"
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions))
    try:
        q = (
            out.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, old)
    try:
        q.awaitTermination()
    finally:
        if q.isActive:  # pragma: no cover — availableNow self-terminates
            q.stop()
    return spark.table(name)


def run_stream_enriched_counts(spark, sf_dir: str) -> DataFrame:
    """Execute :func:`enriched_nation_counts` as a REAL Structured
    Streaming query: ``readStream`` over the events parquet joined to
    the STATIC customer dimension (the stream-static broadcast join —
    the dimension re-resolves per micro-batch, the unbounded side never
    shuffles for the join), aggregated in complete mode into a memory
    sink, ``availableNow`` trigger. Complete-mode totals are
    arrival-order-invariant, so the result hash-matches the batch
    oracle exactly — the registry's proof that stream-static
    enrichment computes the batch answer through the actual streaming
    engine (micro-batches + state store), not a batch shortcut."""
    batch_schema = load_table(spark, sf_dir, "events").schema
    ev_stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    customers = load_table(spark, sf_dir, "customer")
    out = enriched_nation_counts(ev_stream, customers)
    return _run_bounded_stream(
        spark, out, "ev_stream_enriched", "complete", _adaptive_state_partitions(sf_dir)
    )


def run_stream_windowed_counts(
    spark, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Execute :func:`stream_windowed_counts` as a REAL Structured
    Streaming query — ``readStream`` over the events parquet,
    ``availableNow`` trigger, complete-mode memory sink — block until
    the backlog drains, and return the final result table.

    This is the registry's proof that the streaming twin computes the
    batch answer on the same bytes (the DuckDB oracle is the batch
    aggregation): the plan really runs through the streaming engine —
    micro-batches, state store, aggregation state recovery — not a
    batch shortcut. Complete mode keeps every window in state; the
    production variant for unbounded streams is the append-mode
    watermarked form above, which the pytest equivalence suite drives.
    ``availableNow`` bounds the run (process the snapshot, then stop),
    which is also the standard incremental-backfill trigger in
    production."""
    batch_schema = load_table(spark, sf_dir, "events").schema
    ev_stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = stream_windowed_counts(ev_stream, width=width)
    return _run_bounded_stream(
        spark, out, "ev_stream_windowed", "complete", _adaptive_state_partitions(sf_dir)
    )


def run_stream_windowed_append(
    spark,
    sf_dir: str,
    width: str = "1 hour",
    watermark: str = "0 seconds",
) -> DataFrame:
    """Execute :func:`stream_windowed_counts` in the PRODUCTION
    unbounded shape — watermark + **append** output mode — through the
    real streaming engine and return the emitted rows.

    Complete mode (``run_stream_windowed_counts``) keeps every window
    in the state store forever: fine for a bounded proof, unbounded
    memory on an unbounded stream. Append mode is what a 100 TB
    deployment runs: a window row is emitted exactly once, when the
    watermark (max observed event time − delay) passes the window end,
    and its state is evicted — state is O(open windows), not O(history).

    Determinism & oracle: the bounded fixture is ONE parquet file, so
    availableNow delivers every row in a single data micro-batch
    (no partial-window emission against an intermediate watermark);
    the engine then runs the final no-data batch with the advanced
    watermark, emitting every window whose end ≤ max event-time second.
    The only rows withheld are the trailing window(s) still open at the
    final watermark — a closed-form condition
    (``window_start + width ≤ max_event_second``) the DuckDB oracle
    applies to the batch aggregation, so the append run stays exactly
    hash-checkable."""
    batch_schema = load_table(spark, sf_dir, "events").schema
    ev_stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = stream_windowed_counts(ev_stream, width=width, watermark=watermark)
    return _run_bounded_stream(
        spark, out, "ev_stream_append", "append", _adaptive_state_partitions(sf_dir)
    )


def run_stream_session_counts(
    spark,
    sf_dir: str,
    gap_minutes: int = 20,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Execute :func:`stream_session_counts` — native
    ``session_window`` sessionization — through the real streaming
    engine in the production APPEND shape: the stateful session-merge
    (UpdatingSessionsExec + state store) runs per micro-batch, a
    session row is emitted exactly once when the watermark passes its
    close (last event + gap), and its state is evicted. The bounded
    fixture is one parquet file, so availableNow delivers one data
    micro-batch and the final no-data batch flushes every session that
    closed before the final watermark; the only rows withheld are each
    user's trailing still-open session — a closed-form condition the
    batch oracle replays (see ``o_ev_stream_session``)."""
    batch_schema = load_table(spark, sf_dir, "events").schema
    ev_stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    out = stream_session_counts(
        ev_stream, gap_minutes=gap_minutes, watermark=watermark
    )
    return _run_bounded_stream(
        spark, out, "ev_stream_session", "append", _adaptive_state_partitions(sf_dir)
    )


def run_stream_click_error_join(
    spark,
    sf_dir: str,
    lookback_secs: int = 600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Execute :func:`stream_click_error_join` — the watermarked
    STREAM-STREAM interval join, the hardest stateful shape in
    Structured Streaming — through the real engine and return the
    matched pairs.

    Both sides are independent ``readStream`` sources over the same
    bounded events fixture; the join buffers each side in the state
    store keyed by user, and the event-time range condition lets the
    watermark evict click rows once they fall behind
    ``error watermark − lookback`` — bounded state at any input volume,
    the property that makes this shape deployable on an unbounded
    100 TB stream. Stream-stream inner joins support append mode only.

    Determinism & oracle: each side is ONE parquet file, so
    availableNow delivers both sides complete in micro-batch 0; every
    match is emitted there (an inner join emits on arrival of the
    matching pair — eviction only drops UNMATCHED future potential,
    which a bounded replay never exercises). The result is therefore
    exactly the batch join on truncated-to-second event times, which
    the DuckDB oracle replays closed-form."""
    batch_schema = load_table(spark, sf_dir, "events").schema

    def _src():
        return (
            spark.readStream.schema(batch_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    clicks = _src().filter(F.col("event_type") == "click")
    errors = _src().filter(F.col("event_type") == "error")
    out = stream_click_error_join(
        clicks, errors, lookback_secs=lookback_secs, watermark=watermark
    )
    return _run_bounded_stream(
        spark, out, "ev_stream_join", "append", _adaptive_state_partitions(sf_dir)
    )


def run_stream_dedup(spark, sf_dir: str, watermark: str = "30 minutes") -> DataFrame:
    """Execute :func:`stream_dedup_events` — at-least-once replay dedup
    via ``dropDuplicatesWithinWatermark`` — through the real engine.
    The source directory carries TWO copies of the events file (the
    at-least-once delivery simulation, same doubling as the batch
    ev_dedup twin); the dedup state drops the replayed copy and emits
    each event once. Duplicates are full-row identical, so which copy
    survives is immaterial and the bounded result equals the original
    relation — the batch oracle. State is bounded by (arrival rate ×
    watermark), the property that keeps this shape runnable forever on
    an unbounded stream."""
    import shutil

    src = fresh_tmpdir("dedup_src")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/b.parquet")
    batch_schema = load_table(spark, sf_dir, "events").schema
    ev_stream = spark.readStream.schema(batch_schema).parquet(src)
    out = stream_dedup_events(ev_stream, watermark=watermark)
    try:
        return _run_bounded_stream(
            spark, out, "ev_stream_dedup", "append", _adaptive_state_partitions(sf_dir)
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)


def sliding_hll_users(
    ev: DataFrame,
    width_s: int = 3600,
    slide_s: int = 900,
    b: int = 6,
) -> DataFrame:
    """``(window_start, n_est, n_regs)`` — APPROXIMATE distinct users
    per sliding window via the portable HLL sketch: the scale path of
    :func:`sliding_active_users`. The exact variant's distinct phase
    shuffles every (window, user) pair — width/slide copies of the
    stream; this one contracts each partition to ≤ windows × 2^b
    register rows before the shuffle (map-side max combine), the same
    reason HLL exists. Window membership is integer µs arithmetic
    (absolute epoch alignment, timezone-proof), identical to the
    oracle's replay."""
    from mahout_samsara_book_spark.operators.sketches import hll_distinct
    from mahout_samsara_book_spark.partitioning import ensure_min_partitions

    nw = width_s // slide_s
    # the nw-way window explode + register build is the hot narrow
    # stage; widen small-file scans first (no-op at real scale)
    ev = ensure_min_partitions(ev)
    t = ev.withColumn("_t_us", ts_us(ev))
    sec = F.expr(f"_t_us div {US_PER_SEC}")
    starts = F.array(
        *[
            (sec - sec % F.lit(slide_s)) - F.lit(i * slide_s)
            for i in range(nw)
        ]
    )
    exploded = t.select(
        F.explode(starts).alias("ws"), F.col("user_id")
    )
    out = hll_distinct(exploded, "ws", "user_id", b=b)
    return out.select(
        F.col("ws").alias("window_start"), "n_est", "n_regs"
    )
