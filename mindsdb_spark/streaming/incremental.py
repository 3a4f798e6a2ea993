"""Incremental consumption: the LAST keyword, resumable batched writes, and
table-change triggers.

Reference semantics:

* LAST — `WHERE ts > LAST` tracks a high-watermark per (query, column); the
  first run *initializes* the watermark to the current max and returns no
  rows, subsequent runs return only newer rows and advance it
  (reference: mindsdb/interfaces/query_context/last_query.py:21-120,
  context_controller.py:293-345).
* Resumable batched insert — INSERT..SELECT is auto-split into keyset-
  paginated batches with progress tracking and resume-on-error
  (query_planner.py:918-978, fetch_dataframe_partition.py:27-264).
* Trigger — poll a table for changes, fire a callback
  (triggers_controller.py:16-88).

State lives in a JSON file per state-store directory — the single
genuinely-stateful piece of the engine (SURVEY §7.3); everything else stays
inside Spark checkpoints.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

col = F.col


class LastState:
    """High-watermark store keyed by (query_key, column)."""

    def __init__(self, state_dir: str):
        os.makedirs(state_dir, exist_ok=True)
        self.path = os.path.join(state_dir, "last_state.json")

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {}

    def _save(self, state: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)


def _to_json_value(v):
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return v


def batched_insert(
    df: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    track_column: str,
    state_dir: str,
    batch_size: int = 1000,
):
    """Keyset-paginated resumable insert.

    Batches are `WHERE track > last ORDER BY track LIMIT batch_size` slices
    (the reference's pagination shape, context_controller.py:51-120); after
    each successful write the cursor is persisted, so a crash resumes from
    the last completed batch instead of restarting. Returns batches written.
    """
    os.makedirs(state_dir, exist_ok=True)
    cursor_path = os.path.join(state_dir, "insert_cursor.json")
    cursor = None
    if os.path.exists(cursor_path):
        with open(cursor_path) as f:
            cursor = json.load(f)["cursor"]
    n = 0
    while True:
        batch = df
        if cursor is not None:
            batch = batch.filter(col(track_column) > F.lit(cursor))
        rows = batch.orderBy(track_column).limit(batch_size)
        mx = rows.agg(F.max(track_column).alias("m")).head().m
        if mx is None:
            break
        write_batch(rows, n)
        cursor = _to_json_value(mx)
        with open(cursor_path + ".tmp", "w") as f:
            json.dump({"cursor": cursor}, f)
        os.replace(cursor_path + ".tmp", cursor_path)
        n += 1
    return n


class TableChangeTrigger:
    """Poll-based table trigger: fires the callback when the observed
    column's max advances (the reference polls for table changes,
    triggers_controller.py:16-88)."""

    def __init__(self, df_factory: Callable[[], DataFrame], column: str, on_change: Callable):
        self.df_factory = df_factory
        self.column = column
        self.on_change = on_change
        self._seen = None
        self._initialized = False

    def check(self) -> bool:
        mx = self.df_factory().agg(F.max(self.column).alias("m")).head().m
        if not self._initialized:
            # only the FIRST poll is initialization — a table that starts
            # empty must still fire on its first rows (None -> value)
            self._initialized = True
            self._seen = mx
            return False
        if mx is not None and (self._seen is None or mx > self._seen):
            old, self._seen = self._seen, mx
            self.on_change(old, mx)
            return True
        return False
