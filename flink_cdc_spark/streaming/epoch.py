"""The runtime every streaming call site shares.

Each streaming query in this package is a bounded replay: an availableNow
query drains its source's files and stops (the foreachBatch execution model
of Structured Streaming, SIGMOD 2018). ``run_available_now`` is the one
place such a query is started, awaited and checked: a query that outlives
its timeout is stopped and reported, so no caller seals state under a
running query, and the state-store providers are unloaded on every exit
path.

``EpochStateMachine`` is the one skeleton of the four Flink-SQL-style
carry machines (incremental join view, retract Top-N, retract aggregate,
streaming temporal join). It owns what each of them needs around its
per-epoch fold:

  * replay staging: single-file batches in mtime order, one micro-batch
    each under ``maxFilesPerTrigger=1``;
  * the LSM state store and its epoch provenance. Each epoch announces
    itself (``begin_epoch``) and drops any delta a crashed attempt of
    itself left behind (``drop_epoch_deltas``), so the fold reads the
    committed predecessor and replay OVERWRITES its own delta;
  * the carry: the post-commit state a fold computes anyway, handed to the
    next epoch in memory instead of re-resolved from disk. It is trusted
    only for epochs strictly after the one that produced it, and
    re-anchored in a ``localCheckpoint`` every ``_CKPT_EVERY``-th epoch so
    plans don't grow without bound;
  * ``run()``: the availableNow query, ``seal()`` on the success path
    only, and the carry's release on every path.

A subclass names its LSM table (``_TABLE``) and supplies ``_fold``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.envelope import ENVELOPE_OP, OP_INSERT, OP_UPDATE

N_REPLAY_BATCHES = 4
STATE_PARTITIONS = 4
# an availableNow query still running after this many seconds is stopped
# and raised, never sealed over
AVAILABLE_NOW_TIMEOUT_S = 300


@contextlib.contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily lower spark.sql.shuffle.partitions around a streaming
    query: the HDFS-backed state store creates one store per shuffle
    partition, so a 32-partition default means 32 snapshot reloads per
    restart and 32 delta files per version for a handful of windows —
    pure fixed overhead (the r7 bench creep). State volume here is tiny;
    at real scale the caller sizes this to the keyspace instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def unload_state_store_providers(spark: SparkSession) -> None:
    """Unload the state-store providers still held for FINISHED queries.

    Spark keeps each terminated streaming query's state-store providers
    loaded in the executor JVM, and the shared maintenance thread keeps
    snapshotting them — a session that drains many short availableNow
    queries accumulates stale providers that pin executor memory and add
    20-40% wall time to every LATER stateful query (measured here: a
    4-query sequence left the next interval join at 6.1s vs 4.2s after
    unloading). ``StateStore.stop()`` drops all providers and the
    maintenance pool; the next stateful query lazily restarts both, and
    restores its own state from the checkpoint as on any restart. Call
    only between queries — unloading under an ACTIVE query is correct
    (providers reload from the checkpoint) but slow.
    """
    try:
        jvm = spark._jvm  # py4j absent under Spark Connect — best-effort
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass


def run_available_now(
    spark: SparkSession,
    df: DataFrame,
    checkpoint: str,
    process=None,
    *,
    path: Optional[str] = None,
    partitions: Optional[int] = STATE_PARTITIONS,
    timeout: Optional[float] = None,
) -> None:
    """Drain the streaming frame ``df`` through one availableNow query.

    Each micro-batch goes to ``process(batch_df, epoch_id)`` through
    foreachBatch or, without one, to a parquet file sink at ``path``.
    ``partitions`` scopes spark.sql.shuffle.partitions around both start
    and await (None keeps the session width): the query snapshots the
    width at start, and foreachBatch bodies that read through the caller's
    session see it while the query runs. A query still running after
    ``timeout`` seconds (default ``AVAILABLE_NOW_TIMEOUT_S``) is stopped
    and TimeoutError raised."""
    writer = df.writeStream.option("checkpointLocation", checkpoint).trigger(
        availableNow=True
    )
    if process is not None:
        writer = writer.foreachBatch(process)
    else:
        writer = writer.format("parquet").option("path", path)
    if timeout is None:
        timeout = AVAILABLE_NOW_TIMEOUT_S
    scope = (
        scoped_shuffle_partitions(spark, partitions)
        if partitions
        else contextlib.nullcontext()
    )
    try:
        with scope:
            q = writer.start()
            if not q.awaitTermination(timeout):
                q.stop()
                raise TimeoutError(
                    f"availableNow query on checkpoint {checkpoint} still "
                    f"running after {timeout}s; stopped"
                )
    finally:
        unload_state_store_providers(spark)


def stage_replay_batches(
    env_with_b: DataFrame, active: str, n_batches: int = N_REPLAY_BATCHES
) -> None:
    """ONE pass over the changelog: hash-repartition on __b then
    partitionBy-write — each batch value lives in exactly one task, so
    each __b= dir gets exactly one file (a replay batch must be one file
    for maxFilesPerTrigger=1 micro-batch ordering). The previous
    per-batch filtered writes scanned the changelog n_batches
    times. mtimes forced increasing so the file source delivers batches
    in order."""
    staged = os.path.join(active, "_staged")
    env_with_b.repartition(n_batches, "__b").write.mode(
        "overwrite"
    ).partitionBy("__b").parquet(staged)
    now = time.time()
    for b in range(n_batches):
        d = os.path.join(staged, f"__b={b}")
        if not os.path.isdir(d):
            continue
        files = [fn for fn in os.listdir(d) if fn.endswith(".parquet")]
        assert len(files) == 1, f"replay batch {b} must be one file: {files}"
        dst = os.path.join(active, f"b{b}.parquet")
        shutil.move(os.path.join(d, files[0]), dst)
        os.utime(dst, (now + b, now + b))
    shutil.rmtree(staged)
    with open(os.path.join(active, "_STAGED"), "w") as f:
        f.write("ok")  # marker: a partially-moved dir never passes staged()


def staged_schema(spark, active: str):
    """Replay schema of a pre-staged directory, read from the FIRST
    existing b*.parquet: stage_replay_batches skips absent batch values,
    so a changelog with (say) no even-parity insert keys legitimately
    stages without b0.parquet — hard-coding b0 crashed every
    attach-to-prestaged run of such a changelog."""
    batches = sorted(
        fn for fn in os.listdir(active)
        if fn.startswith("b") and fn.endswith(".parquet")
    )
    if not batches:
        raise FileNotFoundError(f"no staged b*.parquet batches in {active}")
    return spark.read.parquet(os.path.join(active, batches[0])).schema


class EpochStateMachine:
    """An LSM-backed state machine driven epoch by epoch over a staged
    changelog (see the module docstring). ``staged_dir`` reuses an
    already-staged batch directory: staging is deterministic per input,
    so re-runs share it while checkpoint and state stay per-run under
    ``work_dir``."""

    _TABLE: str  # the LSM table every epoch commits to
    _CKPT_EVERY = 4

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        staged_dir: Optional[str] = None,
        compact_every: int = 8,
    ):
        from ..sinks.lsm_store import LsmStateStore

        self.spark = spark
        self.active = staged_dir or os.path.join(work_dir, "active")
        self.ckpt = os.path.join(work_dir, "ckpt")
        self.state_dir = os.path.join(work_dir, "state")
        os.makedirs(self.active, exist_ok=True)
        os.makedirs(self.state_dir, exist_ok=True)
        self.state = LsmStateStore(
            spark, self.state_dir, compact_every=compact_every
        )
        self._schema = None
        self._carry = None
        self._carry_epoch = None

    # -- staging --------------------------------------------------------------

    def stage(self, env: DataFrame) -> None:
        """Inserts, then updates, then deletes, one replay batch each — a
        mutation always targets rows an earlier micro-batch accumulated.
        Three epochs: per-epoch cost is dominated by the fixed state
        write regardless of batch size, so splitting the inserts over two
        epochs bought no extra coverage for a full extra epoch."""
        env = env.withColumn(
            "__b",
            F.when(F.col(ENVELOPE_OP) == OP_INSERT, F.lit(0))
            .when(F.col(ENVELOPE_OP) == OP_UPDATE, F.lit(1))
            .otherwise(F.lit(2)),
        )
        self._schema = env.drop("__b").schema
        stage_replay_batches(env, self.active)

    def staged(self) -> bool:
        return os.path.exists(os.path.join(self.active, "_STAGED"))

    # -- state ----------------------------------------------------------------

    def _versions(self):
        """Epochs with a live delta commit in the LSM manifest (compaction
        folds older epochs' deltas into the base, so after a compaction
        this reflects only the uncompacted tail)."""
        m = self.state._load(self._TABLE)
        if m is None:
            return []
        return sorted({d["epoch"] for d in m["deltas"] if "epoch" in d})

    def _commit_planes(self, combined: DataFrame) -> None:
        """ONE pk-unique delta commit of a union-tagged frame keyed
        (``__t`` plane tag, ``__k1``, ``__k2``), ``__dead`` marking
        tombstones — a single all-or-nothing write job per epoch,
        hive-partitioned on the plane tag so per-plane reads prune at
        file listing."""
        from ..sources.envelope import wrap_as_upsert_deletes

        self.state.merge(
            self._TABLE,
            wrap_as_upsert_deletes(combined, self._TABLE, "__dead"),
            combined.drop("__dead").schema,
            ["__t", "__k1", "__k2"],
            partition_keys=["__t"],
            batch_unique=True,
        )

    # -- the carry ------------------------------------------------------------

    def _adopt_carry(self, frame: DataFrame, epoch_id: int) -> None:
        """Hand ``frame`` — cached, its cache filled by this epoch's
        commit job — to the next epoch; the caller no longer owns it.
        Epochs in between carry the cached frame itself (zero extra jobs);
        every ``_CKPT_EVERY``-th re-anchors it in a localCheckpoint.

        No-recompute assumption: between anchors the carry is only a
        filled MEMORY_AND_DISK cache whose lineage references store delta
        files a later compact()/drop_epoch_deltas() may rewrite — fine in
        local mode (blocks never recompute), but an executor/block loss on
        a real cluster would recompute against a mutated store;
        deployments with eviction should set _CKPT_EVERY = 1."""
        prev = self._carry
        if epoch_id % self._CKPT_EVERY == self._CKPT_EVERY - 1:
            self._carry = frame.localCheckpoint(eager=True)
            frame.unpersist()
        else:
            self._carry = frame
        self._carry_epoch = epoch_id
        if prev is not None:
            prev.unpersist()

    def _drop_carry(self) -> None:
        if self._carry is not None:
            self._carry.unpersist()
        self._carry = None
        self._carry_epoch = None

    # -- the epoch and the streaming query --------------------------------------

    def _merge_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # replay-overwrite: announce the epoch and drop any delta a crashed
        # attempt of it left behind, so the fold reads the state exactly as
        # of the committed predecessor
        self.state.begin_epoch(epoch_id)
        self.state.drop_epoch_deltas(self._TABLE, epoch_id)
        if self._carry_epoch is not None and self._carry_epoch >= epoch_id:
            # replayed/retried epoch in-process: the carry reflects a
            # commit this epoch is about to overwrite
            self._drop_carry()
        self._fold(batch_df, epoch_id)

    def _fold(self, batch_df: DataFrame, epoch_id: int) -> None:
        raise NotImplementedError

    def run(self) -> None:
        if self._schema is None:  # attached to a pre-staged directory
            self._schema = staged_schema(self.spark, self.active)
        stream = (
            self.spark.readStream.schema(self._schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.active)
        )
        try:
            # looked up per epoch, so instance and subclass overrides of
            # _merge_epoch take effect
            run_available_now(
                self.spark,
                stream,
                self.ckpt,
                lambda df, eid: self._merge_epoch(df, eid),
            )
            # checkpoint committed: clear the persisted in-flight marker.
            # Deliberately NOT in the finally: a failed run's last epoch
            # can still replay, and sealing would let a maintenance
            # compact() bake its delta into the base.
            self.state.seal(self._TABLE)
        finally:
            # the carry's cached blocks must not outlive the run, failed
            # or not (run_available_now unloads the providers on every path)
            self._drop_carry()
