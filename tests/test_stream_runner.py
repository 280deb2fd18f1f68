"""The bounded-stream runner (streaming.events_stream.run_bounded_stream)
and the event-time rule the batch and stream readers share."""

from __future__ import annotations

import time
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException

from marketing_etl_analytics_spark.streaming import events_stream
from marketing_etl_analytics_spark.streaming.events_stream import (
    read_events_stream,
    read_table_stream,
    run_bounded_stream,
)
from marketing_etl_analytics_spark.streaming.sinks import start_foreach_batch
from marketing_etl_analytics_spark.suite import SUITE
from marketing_etl_analytics_spark.suite.common import events as batch_events

SF = "/root/testdata/sf0.001"


@pytest.fixture
def small_table(spark, tmp_path):
    """A 100-row parquet table ``t`` under ``tmp_path``, as an sf_dir."""
    spark.range(100).write.parquet(str(tmp_path / "t.parquet"))
    return str(tmp_path)


def _foreach_batch_run(spark, sf_dir, batch_fn):
    def start(base):
        stream = read_table_stream(spark, sf_dir, "t")
        return start_foreach_batch(stream, "append", batch_fn, f"{base}/ckpt")

    return run_bounded_stream(spark, sf_dir, "t", start, lambda base: spark.range(1))


def test_overrunning_stream_raises_and_is_stopped(spark, small_table, monkeypatch):
    monkeypatch.setattr(events_stream, "STREAM_TIMEOUT_S", 1)

    def slow_batch(batch_df, batch_id):
        time.sleep(4)

    with pytest.raises(TimeoutError, match="did not finish within 1 s"):
        _foreach_batch_run(spark, small_table, slow_batch)
    assert spark.streams.active == []


def test_shuffle_partitions_restored(spark, small_table):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        out = run_bounded_stream(
            spark, small_table, "t", read_table_stream(spark, small_table, "t")
        )
        assert out.count() == 100
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"

        def failing_batch(batch_df, batch_id):
            raise ValueError("batch failed")

        with pytest.raises(StreamingQueryException):
            _foreach_batch_run(spark, small_table, failing_batch)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.streams.active == []
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_memory_sink_leaves_no_temp_view(spark):
    before = {tb.name for tb in spark.catalog.listTables()}
    counts = [SUITE["stream_sessionize"].fn(spark, SF).count() for _ in range(2)]
    assert counts[0] == counts[1] > 0
    assert {tb.name for tb in spark.catalog.listTables()} == before


def test_stream_and_batch_events_agree(spark):
    """Every row and column of events, ts included, is the same through
    the stream reader and the runner as through the batch reader."""
    batch = batch_events(spark, SF)
    streamed = run_bounded_stream(spark, SF, "events", read_events_stream(spark, SF))
    assert streamed.dtypes == batch.dtypes
    got = Counter(tuple(r) for r in streamed.collect())
    assert got == Counter(tuple(r) for r in batch.collect())
