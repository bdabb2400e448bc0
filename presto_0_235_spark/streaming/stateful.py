"""Custom stateful streaming operator via applyInPandasWithState.

Beyond-reference (SURVEY.md §2.10): the arbitrary-state API is what
expresses streaming operators Spark has no built-in for — per-key
accumulators, custom sessionization, CEP-ish trackers. The operator
here keeps a per-user running profile (event count, value bounds,
first/last timestamps) in GroupState and emits the updated profile
each micro-batch.

Determinism note for the test harness: only order-independent state
fields (count, min, max) are maintained, so the bounded replay equals
the batch GROUP BY exactly — making even a *stateful custom operator*
oracle-checkable.

Scale: state lives in the state store, one entry per active user;
GroupStateTimeout evicts idle keys. The pandas function receives one
group's batch rows as Arrow batches — same memory posture as
mapInPandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("min_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
    ]
)


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, mn, mx, first, last = (
        state.get if state.exists else (0, None, None, None, None)
    )
    for pdf in pdfs:
        n += len(pdf)
        mn = pdf["value"].min() if mn is None else min(mn, pdf["value"].min())
        mx = pdf["value"].max() if mx is None else max(mx, pdf["value"].max())
        ts_min, ts_max = pdf["ts"].min(), pdf["ts"].max()
        first = ts_min if first is None else min(first, ts_min)
        last = ts_max if last is None else max(last, ts_max)
    state.update((n, float(mn), float(mx), first, last))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "min_value": [mn],
            "max_value": [mx],
            "first_ts": [first],
            "last_ts": [last],
        }
    )


def user_profile_stream(events: DataFrame) -> DataFrame:
    """Running per-user profile as a custom stateful operator."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=PROFILE_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
