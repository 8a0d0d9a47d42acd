"""Bounded-state streaming dedup with a watermark TTL —
``dropDuplicatesWithinWatermark`` (the production form of streaming
dedup: the stateful-dedup row keeps first-seen state forever, which is
correct for its contract but unbounded at 100 TB; this operator's state
is bounded by the watermark delay, the shape the reference's
deduplicating sinks rely on for infinite streams).

Replay design (4 deterministic micro-batches over the events table):

  * batch b = least(days-since-2024-01-01 // 7, 3) — four 7-day stripes;
  * every row in batch b carries the SAME arrival time (the stripe
    start), so the watermark trajectory and the emitted payloads are
    closed-form and any within-batch survivor is bit-identical;
  * delay = 3 days (must be < stripe/2 for the eviction schedule below).

Exact engine semantics (probed empirically on Spark 4.1.2 and encoded
in the oracle):

  * first arrival of a key is emitted immediately and stores
    expiry = event_time + delay; duplicate hits are dropped WITHOUT
    extending the expiry;
  * batch b processes against the watermark committed after batch b-1
    (max arrival over batches < b, minus delay) and evicts expired
    state only at its own end, AFTER its input was deduped — so state
    emitted at batch e survives batch e+1 unconditionally (the eviction
    watermark lags one batch: W_end(e+1) = stripe*e - delay < expiry =
    stripe*e + delay for any positive delay) and is evicted at the end
    of e+2 iff stripe > 2*delay — hence delay=3 < 7/2 days, and the
    state is gone from e+3 on;
  * therefore, per key with batch set B: emit at min(B), and emit again
    at batch 3 iff 3 in B and min(B) == 0 — the re-arrival-after-
    eviction path (632 of 750 keys at sf0.01 exercise it).

Scale: state is hash-partitioned on the dedup key and bounded by
(keys arriving within one delay window), not the corpus; emission is
executor-side parquet via foreachBatch.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .epoch import run_available_now

STRIPE_DAYS = 7
N_TTL_BATCHES = 4
DELAY = "3 days"
BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_DAY_US = 86_400_000_000

TTL_BATCH_EXPR = (
    f"least(datediff(CAST(ts AS DATE), DATE'2024-01-01') div {STRIPE_DAYS}, "
    f"{N_TTL_BATCHES - 1})"
)


def stage_ttl_batches(events: DataFrame, out_dir: str) -> None:
    """Stage (user_id, event_type, arrival_us) as one parquet file per
    stripe batch, mtimes forced increasing for file-source ordering."""
    tagged = events.selectExpr(
        "user_id", "event_type", f"{TTL_BATCH_EXPR} AS __b"
    ).withColumn(
        "arrival_us",
        (F.lit(BASE_US) + F.col("__b").cast("long") * STRIPE_DAYS * _DAY_US),
    )
    for b in range(N_TTL_BATCHES):
        d = os.path.join(out_dir, f"b{b}")
        # one file per batch: a replay batch must be ONE micro-batch, or
        # the watermark would advance inside it and the drop/evict rule
        # would depend on intra-batch file order — replay-harness-only
        # pattern, NOT for production staging
        tagged.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        now = time.time()
        files = [fn for fn in os.listdir(d) if fn.endswith(".parquet")]
        # the closed-form oracle assumes every stripe commits a watermark;
        # an empty stripe would silently shift the eviction trajectory
        assert files, (
            f"TTL replay stripe {b} ({out_dir}) staged no parquet file — "
            f"the input corpus has no events in that 7-day stripe, so the "
            f"closed-form eviction oracle does not apply to it"
        )
        for fn in files:
            os.utime(os.path.join(d, fn), (now + b, now + b))


def streaming_ttl_dedup(
    spark: SparkSession,
    staged_dir: str,
    work_dir: str,
    emit_dir: str,
    on_epoch=None,
) -> DataFrame:
    """Drain the staged batches through dropDuplicatesWithinWatermark
    and return the emitted rows (user_id, event_type, arrival_us).

    on_epoch: optional callable(epoch_id, phase) invoked inside the
    foreachBatch with phase 'pre' (before the epoch's emit write) and
    'post' (after it, before the checkpoint commit) — the crash-restart
    differential's fault-injection point; None in production."""
    ckpt = os.path.join(work_dir, "ckpt")
    stream = (
        spark.readStream.schema("user_id LONG, event_type STRING, arrival_us LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(staged_dir, "b*"))
        .withColumn("ats", F.timestamp_micros("arrival_us"))
        .withWatermark("ats", DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "arrival_us")
    )

    def emit(batch_df, epoch_id):
        if on_epoch is not None:
            on_epoch(epoch_id, "pre")
        # epoch-keyed overwrite, NOT a flat append: foreachBatch must be
        # idempotent under crash-retry — a crash between an append and
        # the checkpoint commit would duplicate the batch's rows on
        # restart, while rewriting e{epoch} is a no-op (the same
        # discipline as retract_agg's versioned state writes)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(emit_dir, f"e{epoch_id}")
        )
        if on_epoch is not None:
            on_epoch(epoch_id, "post")

    run_available_now(spark, stream, ckpt, emit)
    return spark.read.schema(
        "user_id LONG, event_type STRING, arrival_us LONG"
    ).parquet(os.path.join(emit_dir, "e*"))


def ttl_dedup_oracle_sql(table: str = "events") -> str:
    """Closed-form replay of the probed semantics: emit at the key's
    first batch, and again at batch 3 when the first was batch 0 (state
    evicted at the end of batch 2)."""
    b = (
        f"least(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) "
        f"// {STRIPE_DAYS}, {N_TTL_BATCHES - 1})"
    )
    return f"""
    WITH ev AS (
      SELECT user_id, event_type, {b} AS b FROM {table}
    ),
    k AS (
      SELECT user_id, event_type, min(b) AS b0, bool_or(b = 3) AS has3
      FROM ev GROUP BY user_id, event_type
    ),
    em AS (
      SELECT user_id, event_type, b0 AS eb FROM k
      UNION ALL
      SELECT user_id, event_type, 3 AS eb FROM k WHERE has3 AND b0 = 0
    )
    SELECT user_id, event_type,
           CAST({BASE_US} + eb * {STRIPE_DAYS} * {_DAY_US} AS BIGINT)
             AS arrival_us
    FROM em
    """
