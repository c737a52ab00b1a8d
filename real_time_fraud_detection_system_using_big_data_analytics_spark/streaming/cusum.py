"""Streaming CUSUM drift detection via applyInPandasWithState — the
streaming twin of operators/risk.fraud_cusum_drift.

The batch operator computes the reset-CUSUM ``S_t = max(0, S_{t-1} + d_t)``
through its closed form ``S_t = P_t - min(0, min prefix P)``; here the same
quantity is maintained INCREMENTALLY with the minimal possible keyed state:
two BIGINTs per account (running prefix sum of integer-cent deltas, and the
running minimum of that prefix). Every arithmetic step is exact int64, so
the streaming replay is bit-identical to the batch window formulation —
the oracle IS the batch SQL.

Contrast with velocity.py, whose state is a pruned event buffer: CUSUM is
the best-case stateful operator (O(1) state, O(1) update, no horizon
pruning), which is why control-chart monitors scale to every-key-on-every-
event. State store cost at 100 TB: 16 bytes per account.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

REF_CENTS = 10_500  # shared with operators/risk.py (_CUSUM_REF_CENTS)
H_CENTS = 40_000

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("cusum_cents", T.LongType()),
        T.StructField("drift_alert", T.BooleanType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.LongType()),
        T.StructField("min_prefix", T.LongType()),
    ]
)


def _cusum_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Vectorized per-batch update: integer-cent deltas cumsum onto the
    carried prefix, running min via minimum.accumulate seeded with the
    carried min — identical int64 algebra to the batch closed form."""
    import numpy as np

    if state.exists:
        prefix, min_prefix = state.get
    else:
        prefix, min_prefix = 0, 0  # P_0 = 0 participates in the min
    user_id = key[0]
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts_us", "event_id"])
        cents = np.floor(pdf["value"].to_numpy(np.float64) * 100.0 + 0.5).astype(
            np.int64
        )
        p = prefix + np.cumsum(cents - REF_CENTS, dtype=np.int64)
        run_min = np.minimum.accumulate(np.minimum(p, min_prefix))
        s = p - np.minimum(run_min, 0)
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(np.int64),
                "user_id": np.full(len(pdf), user_id, dtype=np.int64),
                "cusum_cents": s,
                "drift_alert": s > H_CENTS,
            }
        )
        prefix = int(p[-1])
        min_prefix = int(run_min[-1])
    state.update((prefix, min_prefix))


def cusum_stream(events: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    prepared = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value", "ts"
    ).withWatermark("ts", "1 hour")
    return prepared.groupBy("user_id").applyInPandasWithState(
        _cusum_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- Streaming structuring (smurfing) screen --------------------------------

BAND_LO, BAND_HI = 90.0, 100.0
LOOKBACK_US = 24 * 3600 * 1_000_000

STRUCT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("n_band_24h", T.LongType()),
        T.StructField("sum_band_cents_24h", T.LongType()),
    ]
)

STRUCT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
    ]
)


def _structuring_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Buffered per-account state pruned to the 24 h horizon; counts and
    sums are int64 (integer cents), so the windowed sum is exact and the
    replay equals the batch RANGE frame bit-for-bit. Unlike velocity's
    strictly-prior frame, the alert frame INCLUDES the current row —
    searchsorted side='left' over (buffer ++ batch) with the row itself
    appended before the prefix-sum difference."""
    import numpy as np

    if state.exists:
        buf_ts, buf_cents = state.get
    else:
        buf_ts, buf_cents = [], []
    user_id = key[0]
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts_us", "event_id"])
        ts = np.concatenate(
            [np.asarray(buf_ts, dtype=np.int64), pdf["ts_us"].to_numpy(np.int64)]
        )
        cents = np.concatenate(
            [
                np.asarray(buf_cents, dtype=np.int64),
                pdf["cents"].to_numpy(np.int64),
            ]
        )
        b = len(buf_ts)
        k = np.arange(b, len(ts))
        lo = np.searchsorted(ts, ts[k] - LOOKBACK_US, side="left")
        cs = np.concatenate([[0], np.cumsum(cents, dtype=np.int64)])
        n_band = k + 1 - lo
        sum_band = cs[k + 1] - cs[lo]
        keep_mask = n_band >= 2
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(np.int64)[keep_mask],
                "user_id": np.full(int(keep_mask.sum()), user_id, dtype=np.int64),
                "n_band_24h": n_band[keep_mask],
                "sum_band_cents_24h": sum_band[keep_mask],
            }
        )
        keep = ts >= ts[-1] - LOOKBACK_US
        buf_ts, buf_cents = ts[keep].tolist(), cents[keep].tolist()
    state.update((buf_ts, buf_cents))


def structuring_stream(events: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    prepared = (
        events.filter((F.col("value") >= BAND_LO) & (F.col("value") < BAND_HI))
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
            "ts",
        )
        .withWatermark("ts", "1 hour")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _structuring_fn,
        outputStructType=STRUCT_OUTPUT_SCHEMA,
        stateStructType=STRUCT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
