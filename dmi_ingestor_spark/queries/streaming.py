"""Streaming operators St1-St6 in batch mode (SURVEY.md §2.9).

The window()/session_window() expressions are the *same objects* the
streaming runner executes (``streaming/windows.py``) — batch mode is
what the DuckDB oracle can check; streaming execution is covered by
``tests/test_streaming.py`` and the two rows-only entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import sql_sum_exact
from dmi_ingestor_spark.registry import register
from dmi_ingestor_spark.streaming.windows import (
    dedup_by_key,
    session_windows,
    sliding_counts,
    streaming_dedup_watermarked,
    streaming_tumbling_watermarked,
    tumbling_counts,
)

HOUR_US = 3_600_000_000
HALF_HOUR_US = 1_800_000_000
GAP_US = 300_000_000  # 5 minutes


@register(
    "st_tumbling_counts",
    oracle=f"""
    SELECT
      (epoch_us(CAST(ts AS TIMESTAMP)) // {HOUR_US}) * {HOUR_US} AS win_start_us,
      (epoch_us(CAST(ts AS TIMESTAMP)) // {HOUR_US}) * {HOUR_US} + {HOUR_US} AS win_end_us,
      event_type,
      COUNT(*) AS n_events,
      {sql_sum_exact("value", "sum_value")}
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="St1: tumbling 1h event-time windows per event_type (epoch-aligned).",
    tags=("streaming", "events"),
)
def st_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(table(spark, sf_dir, "events"))


@register(
    "st_sliding_counts",
    oracle=f"""
    WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
    assigned AS (
      SELECT t, (t // {HALF_HOUR_US}) * {HALF_HOUR_US} - k * {HALF_HOUR_US} AS win_start_us
      FROM e, UNNEST([0, 1]) AS u(k)
      WHERE (t // {HALF_HOUR_US}) * {HALF_HOUR_US} - k * {HALF_HOUR_US} + {HOUR_US} > t
    )
    SELECT
      win_start_us,
      win_start_us + {HOUR_US} AS win_end_us,
      COUNT(*) AS n_events
    FROM assigned
    GROUP BY 1, 2
    """,
    doc=(
        "St2: sliding 1h/30min windows — every event counted in 2 "
        "overlapping windows (oracle reproduces Spark's window "
        "assignment arithmetic)."
    ),
    tags=("streaming", "events"),
)
def st_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(table(spark, sf_dir, "events"))


@register(
    "st_session_windows",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ),
    flagged AS (
      SELECT user_id, t,
        CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                  > {GAP_US}
             OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM e
    ),
    sess AS (
      SELECT user_id, t,
        SUM(new_sess) OVER (
          PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS sess_id
      FROM flagged
    )
    SELECT
      user_id,
      MIN(t) AS sess_start_us,
      MAX(t) + {GAP_US} AS sess_end_us,
      COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sess_id
    """,
    doc=(
        "St3: per-user session windows, 5-minute gap. Spark "
        "session_window merges events with gap < 5min and reports "
        "end = last_event + gap; the oracle rebuilds exactly that via "
        "the lag/flag/cumsum idiom. Note Spark's gap comparison is "
        "strict (an event exactly gap-after extends nothing), matched "
        "by `>` in the oracle."
    ),
    tags=("streaming", "events", "window"),
)
def st_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(table(spark, sf_dir, "events"))


@register(
    "st_dedup_by_key",
    oracle="""
    SELECT DISTINCT event_id, user_id, event_type, value
    FROM (
      SELECT event_id, user_id, event_type, value FROM events
      UNION ALL
      SELECT event_id, user_id, event_type, value FROM events
    ) doubled
    """,
    doc=(
        "St5 batch twin: keyed dedup over a deliberately doubled input "
        "(simulating at-least-once delivery). Identical copies collapse "
        "deterministically; in streaming mode the same dropDuplicates "
        "runs state-backed under the watermark."
    ),
    tags=("streaming", "dedup", "events"),
)
def st_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return dedup_by_key(e.union(e))


@register(
    "st_stream_tumbling_watermarked",
    oracle=None,  # real streaming execution; invariants in tests
    doc=(
        "St1+St4+St6 executed as a real stream: readStream → "
        "withWatermark(10m) → tumbling agg → Trigger.AvailableNow → "
        "memory sink. Append mode withholds windows newer than the "
        "final watermark (late-data safety), asserted in tests."
    ),
    tags=("streaming", "rows-only"),
)
def st_stream_tumbling_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_tumbling_watermarked(spark, sf_dir)


@register(
    "st_stream_session_windows",
    oracle=None,  # real streaming execution; invariants in tests
    doc=(
        "St3+St4 executed as a real stream: readStream → watermark → "
        "session_window(5m) per user → availableNow → append. Emitted "
        "sessions are exactly the batch twin's sessions sealed by the "
        "final watermark (tested)."
    ),
    tags=("streaming", "rows-only"),
)
def st_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import streaming_session_watermarked

    return streaming_session_watermarked(spark, sf_dir)


@register(
    "st_stream_dedup",
    oracle=None,
    doc="St5 executed as a real stream: watermarked stateful dropDuplicates.",
    tags=("streaming", "rows-only"),
)
def st_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return streaming_dedup_watermarked(spark, sf_dir)


@register(
    "st_stateful_user_totals",
    oracle=None,  # custom state-store operator; invariants in tests
    doc=(
        "Custom stateful streaming operator: applyInPandasWithState "
        "running (count, sum) per user under Trigger.AvailableNow. "
        "Final emission per key equals the batch groupBy (tested)."
    ),
    tags=("streaming", "stateful", "pandas", "rows-only"),
)
def st_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import stateful_user_totals

    return stateful_user_totals(spark, sf_dir)


SESSION_GAP_S = 1800


@register(
    "sessionize_events_lag",
    oracle=f"""
    WITH gaps AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_S} * 1000000 THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id, ts,
           CAST(SUM(new_sess) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM gaps
    """,
    doc=(
        "Sessionization via lag+cumsum (the window-composition twin of "
        "session_window): gap > 30 min opens a session; session_id is "
        "the running count of opens. One shuffle on user_id serves both "
        "window passes."
    ),
    tags=("window", "sessionization", "events"),
)
def sessionize_events_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # exact MICROSECOND gap on both engines (r7 sf0.5 sweep catch):
    # unix_timestamp() truncates to whole seconds while the oracle's
    # epoch() kept the fraction, so any true gap inside (1800, 1801)s
    # opened a session in DuckDB but not in Spark — ~2.4e-5 of gaps,
    # invisible until the fixture had ~1e5 of them
    new_sess = F.when(prev_ts.isNull(), 1).when(
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.unix_micros(prev_ts.cast("timestamp"))
        > SESSION_GAP_S * 1_000_000,
        1,
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select("event_id", "user_id", "ts", new_sess.alias("new_sess"))
        .select(
            "event_id",
            "user_id",
            "ts",
            F.sum("new_sess").over(wsum).cast("long").alias("session_id"),
        )
    )


@register(
    "st_stream_static_join",
    oracle=None,  # streaming execution; equality-to-batch in tests
    doc=(
        "Stream-static join: readStream events ⋈ broadcast static "
        "customer dim → per-segment counts (complete mode). The batch "
        "twin (same expressions on static frames) is the test oracle."
    ),
    tags=("streaming", "join", "rows-only"),
)
def st_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import stream_static_enriched_counts

    return stream_static_enriched_counts(spark, sf_dir)


@register(
    "st_stream_stream_join",
    oracle=None,  # streaming execution; equality-to-batch in tests
    doc=(
        "Stream-stream inner join: purchases ⋈ clicks per user within "
        "the preceding hour, watermarks on both sides bound the state "
        "store. Batch twin equality asserted in tests."
    ),
    tags=("streaming", "join", "rows-only"),
)
def st_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import (
        stream_stream_purchase_after_click,
    )

    return stream_stream_purchase_after_click(spark, sf_dir)


@register(
    "st_stream_stream_outer_join",
    oracle=None,  # streaming execution; equality-to-batch in tests
    doc=(
        "Left-outer stream-stream join: purchases with their preceding-"
        "hour click or NULL once the watermark proves none can arrive. "
        "Null emission exercised via a multi-batch staged feed; batch "
        "left-join equality asserted in tests."
    ),
    tags=("streaming", "join", "outer", "rows-only"),
)
def st_stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import stream_stream_purchase_outer

    return stream_stream_purchase_outer(spark, sf_dir)


@register(
    "st_static_join_batch",
    oracle="""
    SELECT
      COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
      COUNT(*) AS n_events
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
    doc=(
        "Batch twin of st_stream_static_join with a full DuckDB oracle — "
        "the hash-green anchor for the streaming-join family: identical "
        "expressions (broadcast customer dim, per-segment counts) run on "
        "the static frames, so the rows-only streaming variant is checked "
        "against this via tests AND this query is checked against SQL."
    ),
    tags=("streaming", "join", "batch-twin"),
)
def st_static_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    customers = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        events.join(
            F.broadcast(customers),
            events.user_id == customers.c_custkey,
            "left",
        )
        .groupBy(
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "st_foreachbatch_upsert",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_sum_exact("value", "sum_value")}
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "foreachBatch keyed-upsert sink: 4 real micro-batches "
        "(maxFilesPerTrigger=1) of an update-mode aggregation merged "
        "into a parquet target via staging + Hadoop FS rename. The "
        "final table is batch-boundary-independent, so DuckDB's "
        "one-shot global aggregate is an exact oracle — the streaming "
        "sink family's second hash-green anchor (with "
        "st_static_join_batch)."
    ),
    tags=("streaming", "sink", "foreachBatch", "events"),
)
def st_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import foreachbatch_upsert_totals

    return foreachbatch_upsert_totals(spark, sf_dir)


@register(
    "st_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN event_type = 'error' THEN 120000000
                  ELSE 300000000 END AS gap_us
      FROM events
    ), m AS (
      SELECT user_id, t, gap_us,
             MAX(t + gap_us) OVER (
               PARTITION BY user_id ORDER BY t, gap_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_end
      FROM e
    ), s AS (
      SELECT user_id, t, gap_us,
             SUM(CASE WHEN prev_end IS NULL OR t >= prev_end
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY t, gap_us
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT user_id,
           MIN(t) AS sess_start_us,
           MAX(t + gap_us) AS sess_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    doc=(
        "St3 with a DYNAMIC gap: session_window(ts, expr) where the "
        "inactivity gap depends on the row (errors seal after 2 min, "
        "everything else 5 min) — the adaptive-session shape Spark "
        "added in 3.2 that fixed-gap engines can't express directly. "
        "The oracle restates it as classic interval merging (running "
        "MAX of t+gap, break when t >= prev running end) in integer "
        "micros, proving the built-in's merge semantics exactly."
    ),
    tags=("streaming", "session", "events"),
)
def st_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("event_type") == "error", "2 minutes")
        .otherwise("5 minutes")
        .alias("gap"),
    )
    return (
        e.groupBy(F.session_window("ts", F.col("gap")), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("sess_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("sess_end_us"),
            "n_events",
        )
    )


@register(
    "st_stream_stream_full_outer_join",
    oracle=None,  # streaming execution; equality-to-batch in tests
    doc=(
        "Full-outer stream-stream join (the last join mode in the "
        "matrix): matched purchase/click pairs, purchases with no "
        "preceding-hour click (NULL click), AND clicks with no "
        "following-hour purchase (NULL purchase) — each unmatched row "
        "emitted only once the watermark proves its partner can no "
        "longer arrive. State stays bounded by the 1 h interval on "
        "both sides. Batch full-outer equality asserted in tests."
    ),
    tags=("streaming", "join", "outer", "rows-only"),
)
def st_stream_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import stream_stream_purchase_outer

    return stream_stream_purchase_outer(spark, sf_dir, how="full_outer")


@register(
    "st_transform_with_state",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc=(
        "Arbitrary stateful streaming: applyInPandasWithState keeps a "
        "per-user (count, max) state record under availableNow (the "
        "Spark 4 transformWithStateInPandas form needs google.protobuf, "
        "which the engine does not depend on); "
        "the wrapped emissions reduce to the final state, and because "
        "count/max are order-independent the result is HASH-checkable "
        "against the plain batch aggregate — a real-streaming-execution "
        "query with a full SQL oracle, not rows-only. See "
        "streaming/windows.py transform_with_state_user_stats."
    ),
    tags=("streaming", "stateful", "pandas"),
)
def st_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.streaming.windows import transform_with_state_user_stats

    return transform_with_state_user_stats(spark, sf_dir)


@register(
    "analytics_bounce_rate",
    oracle=f"""
    WITH gaps AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > {SESSION_GAP_S} * 1000000 THEN 1
                  ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM gaps
    ),
    per_sess AS (
      SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT)
             AS n_bounces,
           CAST(1000 * COUNT(CASE WHEN n_events = 1 THEN 1 END)
                // COUNT(*) AS BIGINT) AS bounce_permille
    FROM per_sess
    """,
    doc=(
        "Bounce rate — single-event sessions over total sessions, the "
        "standard engagement KPI — composed directly on the "
        "sessionize_events_lag definition (same 30-min gap), then one "
        "session-grain aggregate and a 1-row rollup with integer "
        "permille. Proves the sessionizer's output composes: the "
        "session_id keys feed a downstream aggregate without "
        "re-sorting (the session-grain groupBy reuses the user_id "
        "partitioning)."
    ),
    tags=("analytics", "sessionization", "events"),
)
def analytics_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sess = sessionize_events_lag(spark, sf_dir)
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    counts = per_sess.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1))
        .cast("long")
        .alias("n_bounces"),
    )
    # guarded division: 0 sessions (empty input) -> NULL, not an ANSI
    # divide-by-zero error
    return counts.select(
        "n_sessions",
        "n_bounces",
        F.when(
            F.col("n_sessions") > 0,
            F.floor(1000 * F.col("n_bounces") / F.col("n_sessions")).cast(
                "long"
            ),
        ).alias("bounce_permille"),
    )


@register(
    "st_trending_topk_windows",
    oracle="""
    WITH w AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
             COUNT(*) AS n
      FROM events
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
             ROW_NUMBER() OVER (
               PARTITION BY win_start ORDER BY n DESC, event_type
             ) AS rk
      FROM w
    )
    SELECT win_start, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    doc=(
        "St1-family trending top-k: per tumbling hour, the 3 busiest "
        "event types by count (deterministic tie-break) — the "
        "'trending now' widget every event platform ships. Batch twin "
        "of the streaming form (the same window()+rank expressions "
        "under a watermark; in streaming the rank runs per finalized "
        "window in foreachBatch, exactly how st_foreachbatch_upsert "
        "executes). Window partitions by win_start — parallel across "
        "windows, top-k inside each is a bounded sort."
    ),
    tags=("streaming", "window", "events"),
)
def st_trending_topk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("win_start"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("win_start").orderBy(F.desc("n"), "event_type")
    )
    return (
        w.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= 3)
        .select("win_start", "event_type", "n", "rk")
    )


# ---------------------------------------------------------------------------
# Watermark lateness audit (batch twin, oracle-bearing)
# ---------------------------------------------------------------------------

_WM_DELAY_S = 3600  # 1-hour watermark delay


@register(
    "st_watermark_late_audit_batch",
    oracle=f"""
    WITH arr AS (
      SELECT event_id, user_id, ts,
             MAX(ts) OVER (
               PARTITION BY user_id % 8
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS max_seen
      FROM events
    ),
    flagged AS (
      SELECT user_id % 8 AS shard,
             CASE WHEN ts < max_seen - INTERVAL {_WM_DELAY_S} SECONDS
                  THEN 1 ELSE 0 END AS is_late
      FROM arr
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_late) AS BIGINT) AS n_late_dropped,
           CAST((1000000 * SUM(is_late)) // COUNT(*) AS BIGINT)
             AS late_ppm
    FROM flagged
    GROUP BY shard
    ORDER BY shard
    """,
    doc=(
        "Watermark lateness audit — the BATCH twin that explains "
        "exactly which rows a streaming watermark would drop: events "
        "replay in arrival order (event_id is the arrival sequence), "
        "the per-shard watermark is the running max event-time minus "
        f"the {_WM_DELAY_S}s delay, and a row whose event time falls "
        "behind it is counted as dropped — the same rule "
        "withWatermark applies per partition in the streaming "
        "pipeline (tests/test_streaming.py pins the streaming side; "
        "this query pins the SEMANTICS with a DuckDB oracle, which "
        "the rows-only streaming checks cannot). The per-shard "
        "late-data budget is the number you tune a production "
        "watermark against: too small drops data, too large holds "
        "state. One running-max window per shard, one grouped "
        "aggregate — nothing driver-side."
    ),
    tags=("streaming", "watermark", "events", "batch-twin"),
)
def st_watermark_late_audit_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 8).alias("shard"), "ts"
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = e.select(
        "shard",
        (
            F.col("ts")
            < F.max("ts").over(w) - F.expr(f"INTERVAL {_WM_DELAY_S} SECONDS")
        )
        .cast("long")
        .alias("is_late"),
    )
    return (
        flagged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_late").cast("long").alias("n_late_dropped"),
            F.expr("CAST((1000000 * SUM(is_late)) div COUNT(*) AS BIGINT)")
            .alias("late_ppm"),
        )
        .orderBy("shard")
    )
