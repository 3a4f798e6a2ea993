"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no stateful streaming at all (SURVEY §2.9) — its closest
mechanisms are polling jobs and the LAST high-watermark. These operators
are the genuinely-new capability: arbitrary per-key state maintained by the
engine across micro-batches, with timeout-based finalization.

Scale posture: state is partitioned by key across executors (RocksDB/HDFS
state store on a real cluster); each micro-batch touches only keys present
in the batch plus timed-out keys. Nothing is driver-held.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def rolling_zscore_alerts(
    events: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    ts_col: str = "ts",
    order_col: str = "event_id",
    window: int = 20,
    threshold: float = 2.5,
) -> DataFrame:
    """Continuous anomaly detection: per-key state carries the trailing
    ``window`` values; each arriving point is z-scored against that
    baseline (which excludes the point itself) and emitted when
    |z| > threshold — the streaming twin of ``temporal.anomaly_zscore``,
    with the full-table window replaced by O(window) state per key.

    Matches the batch operator exactly when ingestion is event-time
    ordered (batch rows are sorted by (ts, order) before folding — the
    standard append-log assumption); z is rounded to 4 decimals before
    the threshold compare, same as batch, so both flag identical rows.
    State is `window` doubles per key — millions of keys stay MBs,
    distributed across the state store.
    """
    import math

    out_schema = f"{key_col} long, {order_col} long, {value_col} double, zscore double"
    state_schema = "vals array<double>"

    def update(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        vals = list(state.get[0]) if state.exists else []
        batch = pd.concat(list(pdfs))
        batch = batch.sort_values([ts_col, order_col])
        out = {key_col: [], order_col: [], value_col: [], "zscore": []}
        for oid, v in zip(batch[order_col].to_numpy(), batch[value_col].to_numpy()):
            v = float(v)
            if len(vals) >= 2:
                n = len(vals)
                mu = sum(vals) / n
                var = sum((x - mu) * (x - mu) for x in vals) / (n - 1)
                sd = math.sqrt(var)
                if sd > 0:
                    z = math.floor((v - mu) / sd * 1e4 + 0.5) / 1e4
                    if abs(z) > threshold:
                        out[key_col].append(int(key[0]))
                        out[order_col].append(int(oid))
                        out[value_col].append(v)
                        out["zscore"].append(z)
            vals.append(v)
            del vals[:-window]
        state.update((vals,))
        yield pd.DataFrame(out)

    return (
        events.select(key_col, order_col, value_col, ts_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )
