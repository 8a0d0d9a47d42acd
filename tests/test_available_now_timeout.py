"""An availableNow query that outlives its timeout fails loudly: the
query is stopped, TimeoutError names its checkpoint, and no state is
sealed under it (streaming/epoch.run_available_now)."""

import time

import pytest

from flink_cdc_spark.core.events import CreateTableEvent, DataChangeEvent
from flink_cdc_spark.core.schema import new_schema
from flink_cdc_spark.core.table_id import TableId
from flink_cdc_spark.pipeline import parse_pipeline_yaml
from flink_cdc_spark.sources.envelope import (
    ENVELOPE_META,
    ENVELOPE_OP,
    ENVELOPE_SEQ,
    ENVELOPE_TABLE_ID,
    OP_INSERT,
    OP_UPDATE,
)
from flink_cdc_spark.streaming import StreamingPipelineRunner, write_wire_file
from flink_cdc_spark.streaming import epoch
from flink_cdc_spark.streaming.retract_agg import RetractAggregateStream


def test_runner_timeout_stops_query_and_raises(spark, tmp_path):
    tid = TableId.parse("db.t")
    schema = (
        new_schema().physical_column("id", "BIGINT NOT NULL").primary_key("id").build()
    )
    src = tmp_path / "src"
    src.mkdir()
    write_wire_file(
        str(src / "f0.json"),
        [CreateTableEvent(tid, schema), DataChangeEvent.insert(tid, (1,))],
    )
    ckpt = str(tmp_path / "ckpt")
    runner = StreamingPipelineRunner(
        spark,
        parse_pipeline_yaml(
            "source: {type: wire}\nsink: {type: state}\n"
            "pipeline: {schema.change.behavior: EVOLVE}\n"
        ),
        state_root=str(tmp_path / "state"),
        checkpoint_dir=ckpt,
    )

    def slow_batch(batch, batch_id):
        time.sleep(3)

    runner.process_batch = slow_batch
    with pytest.raises(TimeoutError, match=ckpt):
        runner.run_available(str(src), timeout=1)
    assert spark.streams.active == []


class _SlowAgg(RetractAggregateStream):
    """Epoch 0 commits its delta, then outlives the query timeout."""

    def _merge_epoch(self, batch_df, epoch_id):
        super()._merge_epoch(batch_df, epoch_id)
        if epoch_id == 0:
            time.sleep(12)


def test_carry_machine_timeout_leaves_state_unsealed(spark, tmp_path, monkeypatch):
    payload = "struct<k:bigint, grp:string, v:double>"
    env = spark.createDataFrame(
        [
            ("t.t", OP_INSERT, None, (1, "A", 10.0), {}, 1),
            ("t.t", OP_UPDATE, (1, "A", 10.0), (1, "B", 5.0), {}, 2),
        ],
        f"{ENVELOPE_TABLE_ID} string, {ENVELOPE_OP} string, "
        f"before {payload}, after {payload}, "
        f"{ENVELOPE_META} map<string,string>, {ENVELOPE_SEQ} bigint",
    )
    ra = _SlowAgg(spark, str(tmp_path / "work"), "grp", "v")
    ra.stage(env)
    monkeypatch.setattr(epoch, "AVAILABLE_NOW_TIMEOUT_S", 5)
    with pytest.raises(TimeoutError, match=ra.ckpt):
        ra.run()
    assert spark.streams.active == []
    # never sealed: epoch 0 may still replay
    assert ra.state._load(ra._TABLE)["in_flight_epoch"] == 0
