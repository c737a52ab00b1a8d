"""The one drain path for hermetic streams (streaming/replay.drain) and the
single owners it relies on: ``sources.tables.normalize_events`` for the
events ``ts`` dtype and ``streaming.statestore.rocksdb_state`` for the
RocksDB provider pin.

The guard test keeps each mechanism in one place; the leak test proves a
registered stream leaves no running query and no checkpoint behind.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import re
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import real_time_fraud_detection_system_using_big_data_analytics_spark as engine
from real_time_fraud_detection_system_using_big_data_analytics_spark.plans import registry
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    normalize_events,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.replay import (
    drain,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.sources import (
    events_file_stream,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.streaming.statestore import (
    PROVIDER_CONF,
    ROCKSDB_PROVIDER,
    rocksdb_state,
)

PACKAGE = Path(engine.__file__).resolve().parent


def _count(pattern: str) -> dict[str, int]:
    """Occurrences of ``pattern`` per engine-package file (non-zero only)."""
    rx = re.compile(pattern)
    hits = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        n = len(rx.findall(path.read_text()))
        if n:
            hits[str(path.relative_to(PACKAGE))] = n
    return hits


@pytest.mark.parametrize(
    "pattern, owner",
    [
        (r"""format\(\s*["']memory["']\s*\)""", "streaming/replay.py"),
        (r"RocksDBStateStoreProvider", "streaming/statestore.py"),
        (r"ts div 1000", "sources/tables.py"),
        (r"""==\s*["']timestamp_ntz["']""", "sources/tables.py"),
    ],
)
def test_each_mechanism_has_one_owner(pattern, owner):
    assert _count(pattern) == {owner: 1}


def _ckpt_dirs() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "ckpt_*")))


@pytest.mark.parametrize(
    "name",
    [
        "stream_rule_alerts",
        "stream_velocity_stateful",
        "stream_account_profile_rocksdb",
        "stream_tumbling_window_agg",
    ],
)
def test_registered_stream_leaves_no_query_or_checkpoint(spark, sf_dir, name):
    registry.load_all()
    before = _ckpt_dirs()
    rows = registry.QUERIES[name](spark, sf_dir).count()
    assert rows > 0
    assert spark.streams.active == []
    assert _ckpt_dirs() - before == set()


def test_drain_keeps_a_caller_checkpoint_and_counts_batches(spark, sf_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    out, n_batches = drain(events_file_stream(spark, sf_dir).select("event_id"), checkpoint=ckpt)
    assert n_batches == 1
    assert out.count() == spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert os.path.isdir(os.path.join(ckpt, "commits"))


def test_rocksdb_state_restores_the_prior_provider(spark):
    prev = spark.conf.get(PROVIDER_CONF, None)
    with rocksdb_state(spark):
        assert spark.conf.get(PROVIDER_CONF) == ROCKSDB_PROVIDER
    assert spark.conf.get(PROVIDER_CONF, None) == prev
    with pytest.raises(RuntimeError):
        with rocksdb_state(spark):
            raise RuntimeError("query failed")
    assert spark.conf.get(PROVIDER_CONF, None) == prev


def test_normalize_events_reads_every_ts_vintage_as_timestamp(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cols = "event_id bigint, {ts}, user_id bigint, event_type string, value double, props string"
    ns = spark.createDataFrame(
        [(1, 1_700_000_000_123_456_789, 7, "view", 1.0, "{}")], cols.format(ts="ts bigint")
    )
    ntz = spark.createDataFrame(
        [(1, dt.datetime(2023, 11, 14, 22, 13, 20, 123456), 7, "view", 1.0, "{}")],
        cols.format(ts="ts timestamp_ntz"),
    )
    for raw in (ns, ntz.withColumn("extra", F.lit(0))):
        df = normalize_events(raw)
        assert df.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_123_456
