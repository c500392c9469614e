"""Streaming-execution invariants: the batch twin is the oracle."""

from __future__ import annotations

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.registry import load_all
from dmi_ingestor_spark.streaming.windows import tumbling_counts

REGISTRY = load_all()


def test_stream_tumbling_matches_batch_up_to_watermark(spark, sf_dir):
    streamed = REGISTRY["st_stream_tumbling_watermarked"].builder(spark, sf_dir)
    batch = tumbling_counts(table(spark, sf_dir, "events"))
    s = {
        (r.win_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in streamed.collect()
    }
    b = {
        (r.win_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert s, "stream produced no closed windows"
    # every emitted window agrees exactly with batch
    for key, val in s.items():
        assert b[key] == val, key
    # append mode must withhold the windows newer than the final watermark
    max_win = max(k[0] for k in b)
    assert all(k[0] < max_win for k in s)
    # and all but the tail windows were emitted
    assert len(s) >= len(b) - 2 * 5  # ≤2 withheld windows × 5 event types


def test_stream_dedup_matches_batch(spark, sf_dir):
    streamed = REGISTRY["st_stream_dedup"].builder(spark, sf_dir)
    n_events = table(spark, sf_dir, "events").count()
    got = streamed.count()
    assert got == n_events  # event_ids are unique; dedup is lossless here


def test_stateful_user_totals_matches_batch(spark, sf_dir):
    """The last emission per key from applyInPandasWithState must equal
    the batch groupBy — the state store saw every event exactly once."""
    from pyspark.sql import functions as F

    streamed = REGISTRY["st_stateful_user_totals"].builder(spark, sf_dir)
    # update-mode memory sink keeps one row per key per micro-batch;
    # totals are cumulative, so the max row per key is the final state
    final = (
        streamed.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .collect()
    )
    batch = {
        r.user_id: (r.n, r.total)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert len(final) == len(batch)
    for r in final:
        n, total = batch[r.user_id]
        assert r.n_events == n, r.user_id
        assert abs(r.total_value - total) <= 1e-9 * max(1.0, abs(total))


def test_stream_static_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    got = {
        r.segment: r.n_events
        for r in REGISTRY["st_stream_static_join"].builder(spark, sf_dir).collect()
    }
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    want = {
        r.segment: r.n
        for r in e.join(c, e.user_id == c.c_custkey, "left")
        .groupBy(F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    streamed = REGISTRY["st_stream_stream_join"].builder(spark, sf_dir)
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    got = {(r.purchase_id, r.click_id) for r in streamed.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    # single availableNow batch: no row is dropped by the watermark, so
    # stream output must equal the batch join exactly
    assert got == want and len(got) > 0


def test_stream_stream_outer_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    streamed = REGISTRY["st_stream_stream_outer_join"].builder(spark, sf_dir)
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    got = {(r.purchase_id, r.click_id) for r in streamed.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    # the sentinel advances the final watermark past every real
    # purchase's eviction bound, so unmatched purchases MUST surface
    # with a NULL click — full equality with the batch left join
    assert got == want
    assert any(c is None for _, c in got), "expected null-padded outer rows"


def test_stream_session_matches_batch_sealed_sessions(spark, sf_dir):
    """Streaming session windows: every emitted (sealed) session must
    match the batch twin exactly; sessions past the final watermark are
    withheld by append mode."""
    from dmi_ingestor_spark.streaming.windows import session_windows

    streamed = REGISTRY["st_stream_session_windows"].builder(spark, sf_dir)
    batch = session_windows(table(spark, sf_dir, "events"))
    s = {
        (r.user_id, r.sess_start_us): (r.sess_end_us, r.n_events)
        for r in streamed.collect()
    }
    b = {
        (r.user_id, r.sess_start_us): (r.sess_end_us, r.n_events)
        for r in batch.collect()
    }
    assert s, "stream produced no sealed sessions"
    for key, val in s.items():
        assert b[key] == val, key
    # everything but the watermark tail must be emitted
    assert len(s) >= len(b) * 0.9


def test_available_now_checkpoint_processes_only_delta(spark, sf_dir, tmp_path):
    """St6 incremental re-run: a second Trigger.AvailableNow start from
    the SAME checkpoint must read only files added since the first run
    — the engine-native version of the reference's re-run-per-cycle
    container (Dockerfile:28), with the checkpoint replacing 'delete
    and refetch everything'."""
    import glob
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    first_half = ev.filter(F.col("event_id") % 2 == 0)
    second_half = ev.filter(F.col("event_id") % 2 == 1)

    def stage(df, name):
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.makedirs(src, exist_ok=True)
        os.rename(part, f"{src}/{name}.parquet")

    seen: list[int] = []

    def run_once():
        stream = (
            spark.readStream.schema("event_id long, event_type string")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: seen.append(bdf.count())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    stage(first_half, "a")
    run_once()
    n_first = sum(seen)
    assert n_first == first_half.count()

    seen.clear()
    stage(second_half, "b")
    run_once()
    # ONLY the delta file is read on the second start
    assert sum(seen) == second_half.count()


def test_stream_stream_full_outer_join_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    streamed = REGISTRY["st_stream_stream_full_outer_join"].builder(spark, sf_dir)
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    )
    got = {(r.purchase_id, r.click_id) for r in streamed.collect()}
    want = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == want
    # both null-padded directions must be present
    assert any(p is None for p, _ in got), "expected purchase-side nulls"
    assert any(c is None for _, c in got), "expected click-side nulls"


def test_transform_with_state_matches_batch(spark, sf_dir):
    """The applyInPandasWithState per-user (count, max) equals the batch
    aggregate."""
    from pyspark.sql import functions as F

    from dmi_ingestor_spark.streaming.windows import transform_with_state_user_stats

    got = {
        r["user_id"]: (r["n_events"], r["max_value"])
        for r in transform_with_state_user_stats(spark, sf_dir).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["mx"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_rows_across_restarts(spark, tmp_path):
    """St4 late-data semantics under REAL streaming execution: rows
    arriving in a later micro-batch with event time older than
    (max_event_time - delay) seen by the previous batch must be
    DROPPED from windowed aggregation state. Run 1 advances the
    watermark past the late row's window; run 2 (same checkpoint)
    delivers the late row; the window's count must NOT change."""
    import glob
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out: dict[str, int] = {}

    def stage(rows, name):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = str(tmp_path / ("w_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        os.makedirs(src, exist_ok=True)
        os.rename(part, f"{src}/{name}.parquet")

    def run_once():
        stream = spark.readStream.schema("event_id long, ts timestamp").parquet(
            src
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

        def sink(bdf, bid):
            for r in bdf.collect():
                out[str(r["w"]["start"])] = (
                    out.get(str(r["w"]["start"]), 0) + r["n"]
                )

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # run 1: two rows in window [00:00,00:10) and one far ahead at 01:00
    # — the max event time (01:00) pushes the watermark to 00:50, sealing
    # and EMITTING the first window (append mode emits only sealed
    # windows)
    stage([(1, ts(1)), (2, ts(5)), (3, ts(60))], "a")
    run_once()
    first_window = str(ts(0))
    assert out.get(first_window) == 2

    # run 2: a LATE row for the sealed window — state was dropped, the
    # row is older than the persisted watermark, so the sealed count
    # must not be re-emitted or corrected
    stage([(4, ts(2))], "b")
    run_once()
    assert out.get(first_window) == 2, out
