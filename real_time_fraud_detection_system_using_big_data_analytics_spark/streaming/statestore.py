"""State Data Source (Spark 4 ``statestore`` format): query a streaming
checkpoint's state store as a DataFrame — the operational surface for
debugging stateful pipelines (inspect a key's live state, audit state
size/skew, validate a migration) without touching the running query.

The reference's only observability is psutil logging
(spark_streaming_app.py:64-131); this is the engine-native upgrade: the
state itself is a queryable table.

State-schema evolution (ops note, r9): a checkpoint PINS its operator's
state schema. Restarting with a widened/changed stateStructType fails
loudly at query start (Spark's state schema check — pinned by
tests/test_account_state.py::test_state_schema_widening_fails_loud; do
NOT disable spark.sql.streaming.stateStore.stateSchemaCheck). The
supported migration path is: stop the old query, read its final state
with this module's statestore reader, transform to the new layout, seed
a NEW checkpoint via a backfill replay, then cut the stream over.
"""

from __future__ import annotations

import contextlib
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def rocksdb_state(spark: SparkSession) -> Iterator[None]:
    """Pin the RocksDB state store provider for the queries started inside
    the block, then restore the session's prior provider. The provider conf
    is read at query start, so a drain run inside the block keeps RocksDB
    state to completion."""
    prev = spark.conf.get(PROVIDER_CONF, None)
    spark.conf.set(PROVIDER_CONF, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, prev)


@register(
    "stream_state_store_read",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS total_cents,
           CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS mx_cents
    FROM events GROUP BY user_id
    """,
)
def stream_state_store_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State Data Source end to end (r8): replay the events table through
    the stateful account-profile operator (applyInPandasWithState with a
    fixed-width integer-cents state row per user), then read the
    CHECKPOINT'S STATE STORE back with
    ``spark.read.format("statestore")`` and compare the decoded state
    rows — not the query output, the persisted state itself — against
    the batch GROUP BY oracle. A value match proves three contracts at
    once: the stateful operator left exactly the right state behind, the
    checkpoint format round-trips the typed state schema, and the state
    reader decodes it faithfully. This is the ops story for stateful
    pipelines at scale: state inspection is a Spark table scan (one row
    per key per partition, pruned server-side by the store layout), not
    a log-archaeology exercise. See streaming/account_state.py for the
    operator; reference analog: the per-batch driver loop it replaces
    had NO way to see its own accumulated state.

    This is the one registered stream that passes its own checkpoint to
    ``drain``: the returned ``statestore`` read is lazy and needs the
    checkpoint after this function returns, so it is left on disk."""
    from .account_state import account_profile_stream
    from .replay import drain
    from .sources import events_file_stream

    ckpt = tempfile.mkdtemp(prefix="ckpt_ssread_")
    drain(account_profile_stream(events_file_stream(spark, sf_dir)), "update", ckpt)
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.groupState.n").cast("bigint").alias("n"),
        F.col("value.groupState.total_cents").cast("bigint").alias("total_cents"),
        F.col("value.groupState.mx_cents").cast("bigint").alias("mx_cents"),
    )
