"""snapshot_load: a YAML batch pipeline through ``cli.run_pipeline``.

Three TPC-H-shaped parquet tables (customer, orders, lineitem; 382.5k
rows, TPC-H scale factor 0.05) with declared primary keys -> transform (computed
projection + filter) -> route (rename into ``replica.*``) -> keyed parquet
sink. Closed loop, one client: one pass after another, each into a fresh
sink directory, each checked against DuckDB over the same parquet.

Traced passes also time three prefixes of the same plan with Spark's
``noop`` sink, which evaluates every column without writing:
source only, source + transform, and the full composed plan.
"""

from __future__ import annotations

import os
import shutil
import time

from . import checks, common, gen, tracing
from .outcome import Outcome, closed_loop

N_CUSTOMER = 7_500
N_ORDERS = 75_000
LINES_PER_ORDER = 4
TABLES = ("customer", "orders", "lineitem")
WARM_PASSES = 1  # unscored passes before the window
MIN_QTY = 10.0  # lineitem filter: keeps ~80% of the rows

_YAML = """
source:
  type: parquet
  path: {src}
  tables: customer,orders,lineitem
  primary-key.customer: c_custkey
  primary-key.orders: o_orderkey
  primary-key.lineitem: l_orderkey,l_linenumber
sink:
  type: parquet
  path: {sink}
transform:
  - source-table: default.orders
    projection: o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, UPPER(o_orderpriority) AS priority
    filter: o_orderstatus <> 'P'
  - source-table: default.lineitem
    projection: l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice * (1 - l_discount) AS net_price, l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, l_returnflag, l_shipdate
    filter: l_quantity > {min_qty}
  - source-table: default.customer
    projection: c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
{route}pipeline:
  name: cdcbench-snapshot
  execution.runtime-mode: BATCH
"""

_ROUTE = """route:
  - source-table: default.customer
    sink-table: replica.customer
  - source-table: default.orders
    sink-table: replica.orders
  - source-table: default.lineitem
    sink-table: replica.lineitem
"""


class SnapshotLoad:
    name = "snapshot_load"

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        # a fixed threshold: the seed changes the rows, not how much work a pass does
        self.min_qty = MIN_QTY
        self.src = None

    def generate(self, in_dir: str) -> None:
        self.src = in_dir
        gen.write_tables(gen.tpch_like(self.seed, N_CUSTOMER, N_ORDERS, LINES_PER_ORDER), in_dir)

    def stage(self, spark) -> None:
        """Nothing to stage: the pipeline reads the generated parquet."""

    @property
    def n_rows(self) -> int:
        return N_CUSTOMER + N_ORDERS + N_ORDERS * LINES_PER_ORDER

    def _pipeline(self, sink: str, routed: bool = True):
        from flink_cdc_spark.pipeline.yaml_parser import parse_pipeline_yaml

        return parse_pipeline_yaml(_YAML.format(
            src=self.src, sink=sink, min_qty=self.min_qty, route=_ROUTE if routed else ""))

    def _prefixes(self, spark) -> dict:
        """Timed prefixes of the plan, each forced through the noop sink."""
        from flink_cdc_spark import cli
        from flink_cdc_spark.pipeline.composer import BatchPipelineComposer
        from flink_cdc_spark.sources.parquet_source import ParquetTableSource

        def run_all(frames) -> float:
            t0 = time.perf_counter()
            for df in frames:
                df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        src = ParquetTableSource(spark, self.src)
        p_src = run_all([src.changelog(t, f"default.{t}") for t in TABLES])
        bare = self._pipeline(os.path.join(self.root, "unused"), routed=False)
        res = BatchPipelineComposer(spark, bare).compose(cli._parquet_streams(spark, bare))
        p_tr = run_all(res.changelogs.values())
        full = self._pipeline(os.path.join(self.root, "unused"))
        res = BatchPipelineComposer(spark, full).compose(cli._parquet_streams(spark, full))
        p_all = run_all(res.tables.values())
        return {"sources.snapshot_read_s": p_src,
                "operators.transform_s": max(0.0, p_tr - p_src),
                "pipeline.route_merge_s": max(0.0, p_all - p_tr),
                "_prefix_all_s": p_all}

    def measure(self, spark, seconds: float, tracer=None) -> Outcome:
        from flink_cdc_spark.cli import run_pipeline

        con = checks.connect()
        n = [0]

        def one_pass(tracer):
            o = Outcome(attempted=1)
            if tracer:
                o.layers = self._prefixes(spark)
            sink = os.path.join(self.root, f"sink{n[0]}")
            n[0] += 1
            with tracing.installed(tracer):
                c0, t0 = common.tree_cpu_s(), time.perf_counter()
                run_pipeline(spark, self._pipeline(sink))
                dt, cpu = time.perf_counter() - t0, common.tree_cpu_s() - c0
            o.busy_s, o.rates, o.cpu_rates = dt, [self.n_rows / dt], [self.n_rows / cpu]
            if tracer:
                o.layers["_full_s"] = dt

            def check() -> bool:
                try:
                    return checks.check_snapshot_sink(con, self.src, sink, self.min_qty) == 0
                finally:
                    shutil.rmtree(sink, ignore_errors=True)

            return o, check

        try:
            return closed_loop(seconds, one_pass, tracer, min_passes=3, warm_passes=WARM_PASSES)
        finally:
            con.close()

    def finish_layers(self, out: Outcome, self_times: dict, per: float) -> dict:
        """Per-pass layer times from the prefixes and the wrapped compose."""
        lay = {k: v / per for k, v in out.layers.items()}
        compose_s = self_times.get("pipeline.compose", (0, 0.0))[1] / per
        return {
            "sources.snapshot_read_s": lay.get("sources.snapshot_read_s", 0.0),
            "operators.transform_s": lay.get("operators.transform_s", 0.0),
            "pipeline.route_merge_s": lay.get("pipeline.route_merge_s", 0.0),
            "sinks.materialize_write_s": max(
                0.0, lay.get("_full_s", 0.0) - lay.get("_prefix_all_s", 0.0) - compose_s),
        }
