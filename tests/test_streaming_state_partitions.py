"""Streaming state stores are sized from the session's cores.

Streams run with AQE off, so every stateful operator gets
``spark.sql.shuffle.partitions`` state store instances, fixed when its
checkpoint is created. ``session.tune`` sets that conf to
``defaultParallelism`` (8 under conftest's ``local[8]``); batch plans keep
AQE's ``initialPartitionNum``. A checkpoint created under another count
keeps it on restart.
"""

from __future__ import annotations

import os
import time

from real_time_weather_data_pipeline_for_philippine_cities_spark.session import tune
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.dedup import (
    dedup_stream,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.metrics import (
    ProgressRecorder,
)

SCHEMA = "doc_id long, text string, ts timestamp"


def _land(spark, landing: str, ids) -> None:
    """One parquet file; a duplicated id repeats the whole row, so which
    copy dedup keeps does not change the output."""
    rows = [(i, f"doc {i}", f"2024-01-01 00:{i % 60:02d}:00") for i in ids]
    (
        spark.createDataFrame(rows, "doc_id long, text string, ts string")
        .selectExpr("doc_id", "text", "CAST(ts AS timestamp) AS ts")
        .coalesce(1)
        .write.mode("append")
        .parquet(landing)
    )


def _drain(spark, landing: str, out: str, ckpt: str) -> list[dict]:
    """One AvailableNow invocation of ``dedup_stream`` into a parquet sink;
    returns that query's events as the ProgressRecorder saw them."""
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        stream = spark.readStream.schema(SCHEMA).parquet(landing)
        q = (
            dedup_stream(stream, ("doc_id",), "ts")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None
        # listener callbacks are async; progress may trail termination
        want = len(q.recentProgress)
        for _ in range(80):
            if len([e for e in rec.events if e["query_id"] == str(q.id)]) >= want:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(rec)
    events = [e for e in rec.events if e["query_id"] == str(q.id)]
    assert events, "no progress events captured"
    return events


def _state_partitions(ckpt: str) -> int:
    """Partition directories of the first stateful operator's store."""
    return sum(1 for d in os.listdir(os.path.join(ckpt, "state", "0")) if d.isdigit())


def _rows(spark, out: str) -> list[tuple]:
    return sorted(map(tuple, spark.read.parquet(out).collect()))


def test_fresh_checkpoint_gets_one_state_store_per_core(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    landing, out, ckpt = (str(tmp_path / d) for d in ("land", "out", "ckpt"))
    _land(spark, landing, [1, 2, 2, 3])

    events = _drain(spark, landing, out, ckpt)

    assert {e["state_store_instances"] for e in events} == {cores}
    assert _state_partitions(ckpt) == cores
    assert [r[0] for r in _rows(spark, out)] == [1, 2, 3]


def test_checkpoint_keeps_the_partition_count_it_was_created_with(spark, tmp_path):
    landing, out, ckpt = (str(tmp_path / d) for d in ("land", "out", "ckpt"))
    _land(spark, landing, range(0, 40))
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        first = _drain(spark, landing, out, ckpt)
    finally:
        tune(spark)
    assert {e["state_store_instances"] for e in first} == {32}

    # Restart under the session default: ids 30..39 are duplicates across
    # invocations and must stay dropped by the restored 32-partition state.
    _land(spark, landing, range(30, 70))
    again = _drain(spark, landing, out, ckpt)
    assert sum(e["num_input_rows"] for e in again) == 40
    assert {e["state_store_instances"] for e in again} == {32}
    assert _state_partitions(ckpt) == 32

    one_shot_out = str(tmp_path / "one_out")
    _drain(spark, landing, one_shot_out, str(tmp_path / "one_ckpt"))
    assert _rows(spark, out) == _rows(spark, one_shot_out)
    assert [r[0] for r in _rows(spark, out)] == list(range(70))


def test_batch_shuffles_still_start_from_aqe_initial_partitions(spark):
    """With AQE coalescing on, batch shuffles (and the shuffled-hash planner
    gate) read initialPartitionNum, not the session's core count."""
    assert spark._jsparkSession.sessionState().conf().numShufflePartitions() == 256
