"""TTL dedup (dropDuplicatesWithinWatermark) invariants: the emission
schedule the oracle encodes, restart-resume over the same checkpoint,
and state boundedness (eviction actually happens)."""

import os
import time

from pyspark.sql import functions as F

from flink_cdc_spark.streaming.ttl_dedup import (
    BASE_US,
    _DAY_US,
    DELAY,
    STRIPE_DAYS,
    streaming_ttl_dedup,
)


def _write_batch(spark, d, b, keys):
    arrival = BASE_US + b * STRIPE_DAYS * _DAY_US
    df = spark.createDataFrame(
        [(k, "t", arrival) for k in keys],
        "user_id LONG, event_type STRING, arrival_us LONG",
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"b{b}"))
    now = time.time()
    for fn in os.listdir(os.path.join(d, f"b{b}")):
        if fn.endswith(".parquet"):
            os.utime(os.path.join(d, f"b{b}", fn), (now + b, now + b))


def _emissions(df):
    return sorted(
        (r.user_id, (r.arrival_us - BASE_US) // (STRIPE_DAYS * _DAY_US))
        for r in df.collect()
    )


def test_emission_schedule_matches_probed_semantics(spark, tmp_path):
    """key 1: batches 0,1,2,3 -> emits at 0 and 3 (evicted end of 2);
    key 2: batches 1,3 -> emits at 1 only (state alive through 3);
    key 3: batch 0 only -> emits once; key 4: batch 3 only -> emits once;
    key 5: batches 0,2 -> emits at 0 only (still in state during 2)."""
    staged = str(tmp_path / "src")
    _write_batch(spark, staged, 0, [1, 1, 3, 5])  # within-batch dup of 1
    _write_batch(spark, staged, 1, [1, 2])
    _write_batch(spark, staged, 2, [1, 5])
    _write_batch(spark, staged, 3, [1, 2, 4])
    out = streaming_ttl_dedup(
        spark, staged, str(tmp_path / "work"), str(tmp_path / "emit")
    )
    assert _emissions(out) == [(1, 0), (1, 3), (2, 1), (3, 0), (4, 3), (5, 0)]


def test_restart_resumes_dedup_state_from_checkpoint(spark, tmp_path):
    """Drain batches 0-1, then add 2-3 and run a FRESH query over the
    same checkpoint: dedup state (and its expiries) survive the restart.
    Note the first drain's TRAILING EMPTY BATCH (availableNow always
    finalizes with one) already applies eviction with the batch-1
    watermark (day 7 - 3 = day 4), so batch-0 state (expiry day 3) is
    gone ONE batch earlier than in a single uninterrupted run — the
    restart schedule below encodes that, and is exactly what a
    production query that stops and resumes would produce."""
    staged = str(tmp_path / "src")
    work = str(tmp_path / "work")
    emit = str(tmp_path / "emit")
    _write_batch(spark, staged, 0, [1, 3])
    _write_batch(spark, staged, 1, [1, 2])
    first = _emissions(streaming_ttl_dedup(spark, staged, work, emit))
    assert first == [(1, 0), (2, 1), (3, 0)]
    _write_batch(spark, staged, 2, [1, 3])
    _write_batch(spark, staged, 3, [1, 2, 3])
    total = _emissions(streaming_ttl_dedup(spark, staged, work, emit))
    # batch-0 state evicted by run 1's finalize batch -> 1 and 3 re-emit
    # at batch 2; key 2 (expiry day 10) survives — eviction at the end of
    # batch 2 uses the LAGGED watermark (day 4 from the restored
    # checkpoint), so key 2's batch-3 arrival is still deduped; 1 and 3
    # are alive again -> dropped at 3
    assert total == [(1, 0), (1, 2), (2, 1), (3, 0), (3, 2)]


def test_state_is_bounded_by_eviction(spark, tmp_path):
    """After the full drain the state holds only keys whose expiry is
    at or past the final watermark — NOT every key ever seen."""
    staged = str(tmp_path / "src")
    # 40 keys arrive only in batch 0; 5 fresh keys per later batch
    _write_batch(spark, staged, 0, list(range(40)))
    _write_batch(spark, staged, 1, [100, 101, 102, 103, 104])
    _write_batch(spark, staged, 2, [200, 201, 202, 203, 204])
    _write_batch(spark, staged, 3, [300, 301, 302, 303, 304])
    from flink_cdc_spark.streaming.epoch import (
        STATE_PARTITIONS,
        scoped_shuffle_partitions,
        unload_state_store_providers,
    )

    stream = (
        spark.readStream.schema("user_id LONG, event_type STRING, arrival_us LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(staged, "b*"))
        .withColumn("ats", F.timestamp_micros("arrival_us"))
        .withWatermark("ats", DELAY)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    with scoped_shuffle_partitions(spark, STATE_PARTITIONS):
        q = (
            stream.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        state_rows = None
        for prog in reversed(q.recentProgress):
            if prog.stateOperators:
                state_rows = prog.stateOperators[0].numRowsTotal
                break
    unload_state_store_providers(spark)
    # 55 keys seen; the batch-0 block (40 keys) must have been evicted
    assert state_rows is not None and state_rows <= 15, state_rows
