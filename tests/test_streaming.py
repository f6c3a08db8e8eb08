"""M4 — streaming mode proofs: the same transforms that pass the batch
oracle produce identical results under readStream (memory sink,
availableNow), watermarked dedup bounds state, and the stateful
sessionizer matches session_window semantics for closed sessions."""

from __future__ import annotations

from pyspark.sql import functions as F

from s3_glue_redshift_guide_spark.catalog import load_table
from s3_glue_redshift_guide_spark.streaming import (
    first_event_per_key,
    streaming_dedup,
    tumbling_counts,
)
from s3_glue_redshift_guide_spark.streaming.source import read_events_stream
from s3_glue_redshift_guide_spark.streaming.stateful import sessionize_stream
from s3_glue_redshift_guide_spark.streaming.windows import session_stats

from .conftest import SF_SMOKE


def _run_stream(df, name, tmp_path, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / name))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMOKE)
    agg = tumbling_counts(stream.withWatermark("ts", "10 minutes"))
    got = _run_stream(agg, "t_tumbling", tmp_path, mode="complete")
    want = tumbling_counts(load_table(spark, SF_SMOKE, "events"))
    cols = ["window_start", "event_type", "n_events", "value_total"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_equals_batch_first(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMOKE)
    dedup = streaming_dedup(stream, ["user_id", "event_type"])
    got = _run_stream(dedup, "t_dedup", tmp_path)
    # one row per key; batch twin keeps the deterministic earliest row,
    # streaming keeps the first *seen* — key sets must match exactly.
    want = first_event_per_key(load_table(spark, SF_SMOKE, "events"),
                               ["user_id", "event_type"])
    cols = ["user_id", "event_type"]
    assert _rows(got.select(*cols), cols) == _rows(want.select(*cols), cols)


def test_stateful_sessionizer_matches_session_window(spark, tmp_path):
    stream = read_events_stream(spark, SF_SMOKE).filter(F.col("user_id") < 8)
    sessions = sessionize_stream(stream, gap_seconds=300)
    got = _run_stream(sessions, "t_sessions", tmp_path)
    # The stateful operator emits CLOSED sessions; the last session per user
    # stays open in state. Compare against session_window minus each user's
    # final session.
    batch = session_stats(
        load_table(spark, SF_SMOKE, "events").filter(F.col("user_id") < 8),
        "5 minutes",
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("session_start"))
    closed = (
        batch.withColumn("rn", F.row_number().over(w)).filter("rn > 1").drop("rn")
    )
    got_keys = _rows(
        got.select("user_id", F.col("session_start").cast("timestamp_ntz").alias("s"),
                   "n_events"),
        ["user_id", "s", "n_events"],
    )
    want_keys = _rows(
        closed.select("user_id", F.col("session_start").alias("s"), "n_events"),
        ["user_id", "s", "n_events"],
    )
    assert got_keys == want_keys


def test_stream_sliding_and_session_equal_batch(spark, tmp_path):
    from s3_glue_redshift_guide_spark.streaming import session_stats, sliding_counts

    stream = read_events_stream(spark, SF_SMOKE)
    batch = load_table(spark, SF_SMOKE, "events")

    got_slide = _run_stream(
        sliding_counts(stream.withWatermark("ts", "10 minutes")),
        "t_slide", tmp_path, mode="complete",
    )
    want_slide = sliding_counts(batch)
    cols = ["window_start", "event_type", "n_events"]
    assert _rows(got_slide, cols) == _rows(want_slide, cols)

    got_sess = _run_stream(
        session_stats(stream.withWatermark("ts", "10 minutes")),
        "t_sess", tmp_path, mode="complete",
    )
    want_sess = session_stats(batch)
    cols = ["session_start", "session_end", "user_id", "n_events", "value_total"]
    assert _rows(got_sess, cols) == _rows(want_sess, cols)


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    # click -> purchase attribution within 10 minutes per user: the
    # watermark + event-time bound keep join state bounded; the same
    # function on batch frames (watermark no-ops) must give identical rows
    from s3_glue_redshift_guide_spark.streaming.joins import (
        interval_join_stream,
    )

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("buy_ts"),
            F.col("event_id").alias("buy_id"),
        )
        return clicks, buys

    stream = read_events_stream(spark, SF_SMOKE)
    sc, sb = sides(stream)
    joined = interval_join_stream(
        sc, sb, "user_id", "click_ts", "buy_ts", 0, 600
    )
    got = _run_stream(joined, "t_interval_join", tmp_path)

    batch = load_table(spark, SF_SMOKE, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    bc, bb = sides(batch)
    want = interval_join_stream(
        bc, bb, "user_id", "click_ts", "buy_ts", 0, 600
    )
    cols = ["user_id", "click_id", "buy_id"]
    assert len(_rows(got, cols)) > 0
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_interval_join_left_outer_emits_after_watermark(
    spark, tmp_path
):
    # Outer results of a stream-stream join may only emit once the
    # GLOBAL watermark closes a left row's window — and with watermarks
    # on both sides the global watermark is their MIN, so both sides
    # must see late events before anything is evicted. Sequence: one
    # matched pair + one never-matched click; then far-future events on
    # BOTH sides advance the watermark; a final batch gives the engine a
    # trigger in which eviction runs. The unmatched click must emit with
    # NULL, while the far-future clicks (windows still open) stay
    # withheld in state — the semantics that make outer results
    # correct-but-late on an unbounded stream.
    import datetime as dt

    from s3_glue_redshift_guide_spark.streaming.joins import (
        interval_join_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    ddl = "user_id long, ts timestamp, event_type string, event_id long"
    src = str(tmp_path / "ev")
    import os

    os.makedirs(src)
    raw = spark.readStream.schema(ddl).parquet(src)
    clicks = raw.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    buys = raw.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("buy_ts"),
        F.col("event_id").alias("buy_id"),
    )
    joined = interval_join_stream(
        clicks, buys, "user_id", "click_ts", "buy_ts", 0, 600,
        watermark="30 minutes", how="leftOuter",
    )

    out: list[tuple] = []

    def sink(df, _epoch):
        out.extend((r["click_id"], r["buy_id"]) for r in df.collect())

    batches = [
        [
            (1, ts(0), "click", 101),
            (1, ts(5), "purchase", 102),
            (2, ts(0), "click", 201),          # never purchases
        ],
        [
            (99, ts(120), "click", 991),       # advance clicks watermark
            (98, ts(120), "purchase", 992),    # advance buys watermark
        ],
        [
            (99, ts(180), "click", 993),       # the eviction trigger
            (98, ts(180), "purchase", 994),
        ],
    ]
    # one availableNow run per landed file against ONE checkpoint: the
    # watermark persists in the checkpoint, so emission timing is
    # deterministic run to run (foreachBatch supports recovery; the
    # memory sink does not)
    for b in batches:
        spark.createDataFrame(b, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = (
            joined.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    got = dict(out)
    assert got[101] == 102          # matched pair
    assert got[201] is None         # window closed by watermark -> NULL
    assert got[991] is None         # its window also closed by batch 3
    assert 993 not in got           # window still open -> withheld
