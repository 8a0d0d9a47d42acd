"""Streaming session windows: Spark's stateful merging-session operator
(`session_window` under a watermark) over a replayed event stream — the
Structured-Streaming counterpart of datapipe/sessions.sessionize_native,
converging to the identical batch result once the stream drains.

Determinism for the oracle: sessions only EMIT in append mode when the
watermark passes them, so the replay appends one far-future SENTINEL
event per user — after the drain, every real session is final and the
output (minus the sentinels' own singleton sessions) equals the batch
gap-scan closed form (sessionize_native_oracle_sql). What this row gates
is the stateful streaming machinery itself: the session-store merge path,
watermark-driven finalization, and append-mode emission.

Scale: session state is per (user, open-session) — bounded by active
users, not history; the stream shuffles once on the user key into
STATE_PARTITIONS state stores (sized to the keyspace at real scale).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .epoch import run_available_now

SENTINEL_US = 1_893_456_000_000_000  # 2030-01-01, past every fixture event


def streaming_session_windows(
    spark: SparkSession,
    events: DataFrame,
    work_dir: str,
    gap_minutes: int,
    user: str = "user_id",
    ts: str = "ts",
) -> DataFrame:
    """Replay `events` (batch DF with a timestamp column) through a
    watermarked streaming session_window; returns the finalized sessions
    (user_id, n_events, start_us, end_us), sentinels excluded."""
    from ..datapipe.sessions import _epoch_micros_expr

    src = os.path.join(work_dir, "src")
    out_dir = os.path.join(work_dir, "out")
    ckpt = os.path.join(work_dir, "ckpt")
    base = events.where(F.col(ts).isNotNull() & F.col(user).isNotNull()).select(
        F.col(user).alias("user_id"),
        _epoch_micros_expr(events, ts).alias("t_us"),
    )
    sentinels = base.select("user_id").distinct().select(
        "user_id", F.lit(SENTINEL_US).alias("t_us")
    )
    base.unionByName(sentinels).write.mode("overwrite").json(src)

    stream = spark.readStream.schema("user_id long, t_us long").json(src)
    agged = (
        stream.withColumn("t", F.timestamp_micros("t_us"))
        .withWatermark("t", "0 seconds")
        .groupBy("user_id", F.session_window("t", f"{gap_minutes} minutes"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("end_us"),
        )
        .select("user_id", "n_events", "start_us", "end_us")
    )
    run_available_now(spark, agged, ckpt, path=out_dir)
    return (
        spark.read.schema("user_id long, n_events long, start_us long, end_us long")
        .parquet(out_dir)
        .where(F.col("start_us") < SENTINEL_US)
    )
