"""Stream-stream interval join: two event streams joined on key + an
event-time range — Structured Streaming's stateful two-sided join
operator (the one streaming join class not covered by stream-static
enrich / the incremental join view, which manage their own state).

The classic attribution shape: each click joined to the same user's
views at-or-before it within a bounded window. Both sides replay from
the SAME staged batch files (maxFilesPerTrigger=1), so matches routinely
span micro-batches — the view may arrive two epochs before its click and
must be held in join state until the other side shows up; that
cross-epoch buffering is exactly what this row gates.

Determinism: the watermark delay is set beyond the dataset's full time
span, so nothing is ever dropped or evicted and the drained inner-join
output equals the batch pair join — the DuckDB oracle — exactly. (A
production deployment uses a tight delay so state stays bounded by the
interval width; the windowed-watermark row gates the drop semantics.)
Time arithmetic stays in integer microseconds: both sides' timestamps
come from timestamp_micros(ts_us) and the range bound is an exact
interval add, so the join predicate is integer comparison in both
engines.

Scale: state per key is bounded by the interval width under a real
watermark; the join shuffles both sides on user_id once (stream-stream
joins co-partition by key), and emission is append-mode via foreachBatch
executor-side parquet — nothing through the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .enrich import STREAM_SCHEMA
from .epoch import run_available_now

JOIN_WINDOW_MINUTES = 60


def stream_interval_join(
    spark: SparkSession,
    staged_dir: str,
    work_dir: str,
    window_minutes: int = JOIN_WINDOW_MINUTES,
) -> DataFrame:
    ckpt = os.path.join(work_dir, "ckpt")
    emit_dir = os.path.join(work_dir, "emitted")

    def side(name: str, etype: str):
        return (
            spark.readStream.schema(STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(os.path.join(staged_dir, "b*"))
            .where(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{name}_id"),
                F.col("user_id").alias(f"{name}_user"),
                F.timestamp_micros(F.col("ts_us")).alias(f"{name}_ts"),
            )
            # beyond the 30-day dataset span: lossless (see module doc)
            .withWatermark(f"{name}_ts", "60 days")
        )

    views = side("view", "view")
    clicks = side("click", "click")
    joined = views.join(
        clicks,
        F.expr(
            f"view_user = click_user AND click_ts >= view_ts "
            f"AND click_ts <= view_ts + interval {window_minutes} minutes"
        ),
    ).select(
        "view_id",
        "click_id",
        F.col("view_user").alias("user_id"),
        F.unix_micros("view_ts").alias("view_ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
    )
    out_schema = joined.schema

    run_available_now(
        spark,
        joined,
        ckpt,
        lambda batch_df, _: batch_df.write.mode("append").parquet(emit_dir),
    )
    try:
        return spark.read.schema(out_schema).parquet(emit_dir)
    except Exception:  # no matches emitted
        return spark.createDataFrame([], out_schema)


def stream_interval_join_oracle_sql(
    table: str = "events", window_minutes: int = JOIN_WINDOW_MINUTES
) -> str:
    return f"""
    SELECT v.event_id AS view_id, c.event_id AS click_id,
           v.user_id,
           epoch_us(v.ts) AS view_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM {table} v
    JOIN {table} c
      ON c.user_id = v.user_id
     AND c.ts >= v.ts
     AND c.ts <= v.ts + INTERVAL {window_minutes} MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    """
