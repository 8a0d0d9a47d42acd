"""Watermarked windowed aggregation over a replayed event stream.

The Structured Streaming shape the brief calls for ("watermarks +
windowed aggs for late data") driven deterministically so a closed-form
oracle exists:

  * the event table is split into REPLAY BATCHES by a deterministic rule
    (mostly time-ordered, with a salted subset of events bumped into a
    later batch than their event time — genuine late arrivals);
  * each batch is one file; ``maxFilesPerTrigger=1`` + forced mtime order
    makes Spark process them as separate micro-batches in batch order;
  * ``withWatermark(delay=0)`` then drops a late event iff its window is
    already older than the watermark — which, with delay 0, is the max
    event time of all PRIOR batches. Append mode emits exactly the
    windows the final watermark has passed.

Both halves of that semantics (per-batch drop rule, final emission rule)
are plain SQL over (event, batch) — the DuckDB oracle in
``windowed_watermark_oracle_sql``.

Scale: the aggregation state is per-window (tiny); the stream shuffles
once on the window key; late-row filtering happens before the shuffle in
the watermark operator. Sums run in DECIMAL so partial-aggregation order
cannot change the result (float discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .epoch import run_available_now

N_BATCHES = 3


def rotate_emit_dir(root: str) -> str:
    """Allocate a fresh per-invocation emit subdirectory under a
    persistent latest-wins root, deleting only PREDECESSOR runs: the
    previous invocation's directory survives this whole invocation (the
    caller of the PREVIOUS run may still hold a lazily-evaluated
    DataFrame pointing at it) and is removed by the run after next —
    'consumed before the next row runs' is enforced, not relied upon
    (ADVICE r12)."""
    import shutil
    import time

    os.makedirs(root, exist_ok=True)
    runs = sorted(d for d in os.listdir(root) if d.startswith("run_"))
    for d in runs[:-1]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    stamp = time.time_ns()
    if runs:
        stamp = max(stamp, int(runs[-1][4:]) + 1)
    new = os.path.join(root, f"run_{stamp:020d}")
    os.makedirs(new)
    return new


DAYS_PER_BATCH = 10
LATE_MOD = 50  # event_id % LATE_MOD == 0 arrives one batch later than its time
WINDOW = "1 day"


def batch_expr(ts: str = "ts", event_id: str = "event_id") -> str:
    """Deterministic replay-batch assignment: batch by 10-day stripe of
    event time, with every LATE_MOD-th event bumped one batch later (the
    late stragglers the watermark exists for)."""
    stripe = f"int((datediff(CAST({ts} AS DATE), DATE'2024-01-01')) / {DAYS_PER_BATCH})"
    bumped = f"(CASE WHEN {event_id} % {LATE_MOD} = 0 THEN 1 ELSE 0 END)"
    return f"least({stripe} + {bumped}, {N_BATCHES - 1})"


def write_replay_batches(events: DataFrame, out_dir: str) -> None:
    """One JSON file-set per batch, mtimes forced increasing so the file
    stream source processes them in batch order. Rows move executor-side
    (df.write.json); the driver only touches mtimes."""
    import time

    with_batch = events.selectExpr(
        "event_id",
        # session tz is pinned UTC, so the NTZ->LTZ cast is the identity
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        "user_id",
        "event_type",
        "value",
        f"{batch_expr()} AS __b",
    )
    for b in range(N_BATCHES):
        d = os.path.join(out_dir, f"b{b}")
        # one file per batch: a replay batch must be ONE micro-batch, or
        # the watermark would advance inside it and the drop rule would
        # depend on intra-batch file order
        with_batch.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
            "overwrite"
        ).json(d)
        now = time.time()
        for fn in os.listdir(d):
            if fn.endswith(".json"):
                os.utime(os.path.join(d, fn), (now + b, now + b))


def windowed_watermark_aggregate(
    spark: SparkSession, staged_dir: str, work_dir: str
) -> DataFrame:
    """Replay the staged batches through ONE logical streaming query:
    each replay batch is delivered by moving its file into the active
    source directory and draining with availableNow against the SAME
    checkpoint — the event-time watermark persists in the checkpoint
    across runs, so batch b's late rows are filtered by the watermark
    committed at the end of batch b-1 (exactly the deterministic rule the
    oracle reproduces). Append-mode emissions are collected per run
    (windows finalize when the advancing watermark passes their end)."""
    import shutil

    active = os.path.join(work_dir, "active")
    ckpt = os.path.join(work_dir, "ckpt")
    emit_dir = os.path.join(work_dir, "emitted")
    os.makedirs(active, exist_ok=True)
    for b in range(N_BATCHES):
        src = os.path.join(staged_dir, f"b{b}")
        for fn in os.listdir(src):
            if fn.endswith(".json"):
                shutil.copy2(os.path.join(src, fn), os.path.join(active, f"b{b}-{fn}"))
        stream = spark.readStream.schema(
            "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE"
        ).json(active)
        agged = (
            stream.withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", WINDOW))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                F.col("cnt"),
                F.col("total_dec").cast("double").alias("total"),
            )
        )
        # emission stays distributed: each epoch's finalized windows are
        # written executor-side as parquet — nothing funnels through the
        # driver (at scale the emission is itself big)
        run_available_now(
            spark,
            agged,
            ckpt,
            lambda batch_df, _: batch_df.write.mode("append").parquet(emit_dir),
        )
    try:
        return spark.read.schema(agged.schema).parquet(emit_dir)
    except Exception:  # no window finalized -> no files written
        return spark.createDataFrame([], agged.schema)


def windowed_watermark_oracle_sql(table: str = "events") -> str:
    """Closed form of the streaming result: an event survives iff it is in
    batch 0 or its 1-day window end exceeds the watermark its batch starts
    with (max prior-batch event time, delay 0); a window is emitted iff
    the final watermark (global max event time) has passed its end."""
    stripe = f"CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / {DAYS_PER_BATCH}) AS INTEGER)"
    bumped = f"(CASE WHEN event_id % {LATE_MOD} = 0 THEN 1 ELSE 0 END)"
    return f"""
    WITH e AS (
      SELECT event_id, ts, value,
             least({stripe} + {bumped}, {N_BATCHES - 1}) AS b,
             CAST(CAST(ts AS DATE) AS TIMESTAMP) AS w_start,
             CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY AS w_end
      FROM {table}
    ),
    wm AS (
      SELECT 0 AS b, TIMESTAMP '1970-01-01' AS w
      UNION ALL SELECT 1, max(ts) FROM e WHERE b < 1
      UNION ALL SELECT 2, max(ts) FROM e WHERE b < 2
    ),
    kept AS (
      SELECT e.* FROM e JOIN wm ON e.b = wm.b WHERE e.w_end > wm.w
    )
    SELECT w_start AS window_start,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM kept
    WHERE w_end <= (SELECT max(ts) FROM e)
    GROUP BY w_start
    """
