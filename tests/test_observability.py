"""Streaming stats listener + resource sampler tests (SURVEY §2.10)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.observability import (
    ResourceSampler,
    StatsListener,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    events_file_stream,
)

SF = "/root/testdata/sf0.001"


def test_stats_listener_collects_batch_progress(spark):
    listener = StatsListener()
    spark.streams.addListener(listener)
    try:
        stream = events_file_stream(spark, SF)
        agg = stream.groupBy("event_type").agg(F.count("*").alias("n"))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("obs_test")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # listener events are delivered asynchronously
        import time

        for _ in range(40):
            if listener.stats.total_batches:
                break
            time.sleep(0.25)
        s = listener.stats
        assert s.total_batches >= 1
        assert s.total_records == 1000  # sf0.001 events row count
        d = s.as_dict()
        assert d["avg_batch_size"] > 0
        # the whole trigger breakdown is kept, not just triggerExecution
        for b in s.batches:
            assert {"walCommit", "commitOffsets", "triggerExecution"} <= set(b["durationMs"])
            assert b["durationMs"]["triggerExecution"] == b["triggerExecutionMs"]
        # the aggregation's state operator, with its custom metrics
        ops = [op for b in s.batches for op in b["stateOperators"]]
        assert ops and all("numRowsTotal" in op and "customMetrics" in op for op in ops)
    finally:
        spark.streams.removeListener(listener)


def test_resource_sampler_summary():
    rs = ResourceSampler()
    a = rs.capture("start")
    b = rs.capture("end")
    if a is None:  # psutil absent: sampler degrades to no-op
        assert rs.summary() == {}
        return
    s = rs.summary()
    assert set(s) == {"cpu_percent", "memory_percent", "memory_used_mb"}
    assert s["memory_used_mb"]["min"] <= s["memory_used_mb"]["max"]
