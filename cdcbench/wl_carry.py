"""carry_views: the incremental join view over staged changelog epochs.

Seeded orders and customer tables become changelogs with the parquet
source's mutation-tail semantics (``MutationSpec``: deterministic UPDATEs
and DELETEs; some updates re-point an order to another customer, some
deletes remove a customer that orders reference). The engine's
``stage_replay_batches`` stages them as ``N_EPOCHS`` single-file epochs —
inserts over the first two, then updates, then deletes — one more than
the view's own three-epoch staging, so its every-4th-epoch carry anchor
(a ``localCheckpoint`` of the carried image plane) runs. Each pass drives
``IncrementalJoinView`` (orders JOIN customer) over them into fresh state;
``WARM_PASSES`` unscored passes come first.

Check: DuckDB over the same parquet, through the engine's oracle SQL
builder ``MutationSpec.oracle_final_state_sql``.
"""

from __future__ import annotations

import os
import shutil
import time

from . import checks, common, gen, tracing
from .outcome import Outcome, closed_loop

N_CUSTOMER = 500
N_ORDERS = 5_000
N_EPOCHS = 4
WARM_PASSES = 1  # unscored passes before the window

# the harmonized payload both tables ride in one stream (as the registry's view)
_VIEW_SUPERSET = [
    ("o_orderkey", "bigint"), ("o_totalprice", "double"), ("o_orderstatus", "string"),
    ("o_custkey", "bigint"), ("c_custkey", "bigint"), ("c_name", "string"),
    ("c_acctbal", "double"), ("c_mktsegment", "string"),
]
_ORDER_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
_CUST_COLS = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]


class CarryViews:
    name = "carry_views"

    def __init__(self, seed: int, root: str):
        from flink_cdc_spark.sources.parquet_source import MutationSpec

        self.root = root
        self.seed = seed
        self.orders_mut = MutationSpec(
            key_column="o_orderkey", update_mod=7, update_rem=seed % 7,
            update_exprs={"o_totalprice": "o_totalprice + 1000", "o_orderstatus": "'U'",
                          "o_custkey": f"(o_custkey % {N_CUSTOMER}) + 1"},
            delete_mod=13, delete_rem=(seed // 7) % 13)
        self.cust_mut = MutationSpec(
            key_column="c_custkey", update_mod=5, update_rem=seed % 5,
            update_exprs={"c_acctbal": "c_acctbal + 50", "c_mktsegment": "'VIEWSEG'"},
            delete_mod=17, delete_rem=seed % 17)

    def _connect(self):
        con = checks.connect()
        for t in ("orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.src}/{t}.parquet')")
        return con

    def generate(self, in_dir: str) -> None:
        tables = gen.tpch_like(self.seed, N_CUSTOMER, N_ORDERS, lines_per_order=1)
        del tables["lineitem"]
        self.src = os.path.join(in_dir, "src")
        gen.write_tables(tables, self.src)
        self.active = os.path.join(in_dir, "active")

    def stage(self, spark) -> None:
        """Both tables' changelogs in one harmonized stream, staged by the
        engine's ``stage_replay_batches`` as ``N_EPOCHS`` single-file
        epochs: inserts split by key parity over epochs 0 and 1, then
        updates, then deletes."""
        from pyspark.sql import functions as F

        from flink_cdc_spark.sources.envelope import ENVELOPE_OP, OP_INSERT, OP_UPDATE
        from flink_cdc_spark.sources.parquet_source import ParquetTableSource
        from flink_cdc_spark.streaming.incremental_join import harmonize_envelope
        from flink_cdc_spark.streaming.retract_agg import stage_replay_batches

        src = ParquetTableSource(spark, self.src)
        env = harmonize_envelope(
            src.changelog("orders", "default.orders", self.orders_mut), _VIEW_SUPERSET
        ).unionByName(harmonize_envelope(
            src.changelog("customer", "default.customer", self.cust_mut), _VIEW_SUPERSET))
        key = F.coalesce(F.col("after.o_orderkey"), F.col("after.c_custkey"))
        env = env.withColumn(
            "__b", F.when(F.col(ENVELOPE_OP) == OP_INSERT, key % 2)
            .when(F.col(ENVELOPE_OP) == OP_UPDATE, F.lit(2)).otherwise(F.lit(3)))
        stage_replay_batches(env, self.active, n_batches=N_EPOCHS)

    def _oracle(self):
        fo = self.orders_mut.oracle_final_state_sql("orders", _ORDER_COLS)
        fc = self.cust_mut.oracle_final_state_sql("customer", _CUST_COLS)
        con = self._connect()
        try:
            return con.execute(
                f"WITH fo AS ({fo}), fc AS ({fc}) "
                "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus, "
                "c_name, c_acctbal, c_mktsegment FROM fo JOIN fc ON o_custkey = c_custkey").df()
        finally:
            con.close()

    def measure(self, spark, seconds: float, tracer=None) -> Outcome:
        import pyarrow.parquet as pq

        from flink_cdc_spark.streaming.incremental_join import IncrementalJoinView

        self.n_events = sum(
            pq.ParquetFile(os.path.join(self.active, f"b{e}.parquet")).metadata.num_rows
            for e in range(N_EPOCHS))
        expected = self._oracle()
        n = [0]
        self.progress = []
        self.state_footprints = []

        def one_pass(tracer):
            work = os.path.join(self.root, f"pass{n[0]}")
            n[0] += 1
            view = IncrementalJoinView(
                spark, work, left_table_id="default.orders",
                right_table_id="default.customer", pk_left="o_orderkey",
                join_key="o_custkey", pk_right="c_custkey", left_cols=_ORDER_COLS,
                right_cols=_CUST_COLS, staged_dir=self.active)
            done = set()
            body = view._merge_epoch

            def counted_epoch(df, epoch_id):
                body(df, epoch_id)
                done.add(epoch_id)

            view._merge_epoch = counted_epoch  # run() calls it through self
            remove = None
            if tracer:
                progress, remove = tracing.progress_listener(spark)
            try:
                with tracing.installed(tracer):
                    c0, t0 = common.tree_cpu_s(), time.perf_counter()
                    view.run()
                    dt, cpu = time.perf_counter() - t0, common.tree_cpu_s() - c0
                if tracer:
                    tracing.wait_for_progress(progress, len(done))
                    self.progress += progress
                    self.state_footprints.append(tracing.state_footprint(view.state_dir))
            finally:
                if remove is not None:
                    remove()
            o = Outcome(attempted=N_EPOCHS, busy_s=dt, rates=[self.n_events / dt],
                        cpu_rates=[self.n_events / cpu], failed=N_EPOCHS - len(done))

            def check() -> bool:
                try:
                    return not checks.check_frames(
                        expected, view.current_view(), float_cols={"o_totalprice", "c_acctbal"})
                finally:
                    shutil.rmtree(work, ignore_errors=True)

            return o, check

        out = closed_loop(seconds, one_pass, tracer, warm_passes=WARM_PASSES)
        out.info.update({"epochs": N_EPOCHS, "changelog_events": self.n_events})
        return out

    def finish_layers(self, out: Outcome, self_times: dict, per: float) -> dict:
        m = tracing.streaming_metrics(self.progress, per)
        if self.state_footprints:
            k = len(self.state_footprints)
            m["sinks.lsm_state_bytes"] = sum(b for b, _ in self.state_footprints) / k
            m["sinks.lsm_files"] = sum(f for _, f in self.state_footprints) / k
        return m
