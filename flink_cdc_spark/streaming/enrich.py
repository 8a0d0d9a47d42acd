"""Stream-static enrichment: a replayed event stream LEFT-joined per
micro-batch to a static dimension table — the Structured Streaming
"stream-static join" feature (the streaming counterpart of the batch
as-of/dimension enrich in datapipe/features.py, and the CDC use case of
enriching a change stream against a reference table).

Replay determinism: the staged batches from streaming/windowed.py
(write_replay_batches) are delivered with maxFilesPerTrigger=1, so the
join runs once per micro-batch against the same static snapshot; since a
stream-static join is stateless (the static side is re-planned per
batch), the union of per-batch outputs equals the one-shot batch join —
which IS the DuckDB oracle. What this row gates is the streaming
machinery itself: per-batch static re-plan, broadcast of the filtered
dim, append-mode file-sink emission via foreachBatch.

Scale: the static dim is broadcast per micro-batch when under the
broadcast threshold (the plan this fixture produces); a larger dim falls
back to a shuffle join per batch — either way no streaming state is
kept, so the operator's memory is O(dim), not O(stream).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .epoch import run_available_now

STREAM_SCHEMA = "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE"


def stream_static_enrich(
    spark: SparkSession,
    staged_dir: str,
    dim: DataFrame,
    work_dir: str,
    dim_key: str = "c_custkey",
    dim_payload: str = "c_mktsegment",
) -> DataFrame:
    """Replay the staged event batches as ONE availableNow streaming
    query (maxFilesPerTrigger=1 -> one micro-batch per staged file),
    left-joining each micro-batch to `dim`; emissions append to a
    parquet sink executor-side. Returns the accumulated enriched rows.
    """
    ckpt = os.path.join(work_dir, "ckpt")
    emit_dir = os.path.join(work_dir, "emitted")
    dim_narrow = dim.select(
        F.col(dim_key).alias("__dk"), F.col(dim_payload).alias("segment")
    )
    stream = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(staged_dir, "b*"))
    )
    enriched = stream.join(
        dim_narrow, stream.user_id == dim_narrow.__dk, "left"
    ).select("event_id", "user_id", "event_type", "segment")
    out_schema = enriched.schema

    run_available_now(
        spark,
        enriched,
        ckpt,
        lambda batch_df, _: batch_df.write.mode("append").parquet(emit_dir),
    )
    try:
        return spark.read.schema(out_schema).parquet(emit_dir)
    except Exception:
        return spark.createDataFrame([], out_schema)


def stream_static_enrich_oracle_sql(
    events: str = "events", customer: str = "customer"
) -> str:
    """The stateless stream-static join's closed form: the plain batch
    left join."""
    return f"""
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment AS segment
    FROM {events} e
    LEFT JOIN {customer} c ON c.c_custkey = e.user_id
    """
