"""The in-order stateful contract shared by the streaming "online twins"
(anomaly, ohlc, ewma, concurrency, sloburn): each twin is a batch
operator's fold run per key inside applyInPandasWithState, and this
module owns everything around the fold.

In-order contract (in_order): per key, every micro-batch is sorted on
the twin's timestamp column (stable mergesort), and a row at or before
the key's high-water mark is LATE: dropped before the fold sees it and
tallied in the key's n_late_dropped counter, which every emitted row
carries, so lateness is observable, never silent. The fold returns the
new high-water itself: the last row's timestamp for a per-row twin, the
last CLOSED bucket for sloburn (a row for an older bucket that is still
open is accepted). Reference analog: the in-order segment generator,
core/SegmentGenerator.java:152-304, where out-of-order input is a caller
error too. Use the watermarked continuous aggregates (streaming/rollup.py)
when lateness tolerance matters more than latency.

Bucket-closing contract (closing_buckets): a key's open bucket is closed
and emitted when the first row of a LATER bucket for that key arrives
(the stream cannot know a bucket is over until something follows it);
the frontier bucket is withheld, and the batch sweep covers it at
reconcile time. Buckets are bucket_ms-aligned on the timestamp column;
the fold runs once per run of same-bucket rows, so a twin's Python loop
is per distinct bucket in the batch, and numpy within a run.

Neither contract has a timeout: an idle key keeps its state until
traffic resumes, and each twin's state is O(1) or O(window) per key.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def in_order(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    out_schema: str,
    state_schema: str,
    init: tuple,
    step: Callable,
) -> DataFrame:
    """Run `step` per key of the streaming `df` under the in-order
    contract (module docstring). `state_schema`/`init` describe the
    twin's own state; the key's high-water and late tally are appended
    to it here. `step(state, batch, high_water)` gets the twin state, the
    sorted on-time rows (never empty) and the current high-water, and
    returns `(state, rows, high_water)`; `rows` (a DataFrame or a list of
    dicts) becomes the emitted frame with the key columns and
    n_late_dropped added, in `out_schema`'s column order (a flat DDL
    string)."""
    cols = [c.split()[0] for c in out_schema.split(",")]

    def handler(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        *st, hwm, dropped = state.get if state.exists else (*init, -(1 << 62), 0)
        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ts_col, kind="mergesort"
        )
        late = batch[ts_col].to_numpy(np.int64) <= hwm
        dropped += int(late.sum())
        rows = []
        if not late.all():
            st, rows, hwm = step(tuple(st), batch[~late], hwm)
        state.update((*st, hwm, dropped))
        if len(rows):
            out = pd.DataFrame(rows)
            for k, v in zip(keys, key):
                out[k] = v
            out["n_late_dropped"] = dropped
            yield out[cols]

    return df.groupBy(*keys).applyInPandasWithState(
        handler,
        outputStructType=out_schema,
        stateStructType=f"{state_schema}, hwm long, dropped long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def closing_buckets(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    bucket_ms: int,
    out_schema: str,
    acc_schema: str,
    acc0: tuple,
    start: Callable,
    fold: Callable,
    close: Callable,
) -> DataFrame:
    """in_order with the bucket-closing contract (module docstring). The
    twin's accumulator `acc` (`acc_schema`, initially `acc0`) is folded
    per run of same-bucket rows: `start(acc, run)` starts a bucket (acc
    still holds the previous bucket, for values carried across buckets),
    `fold(acc, run)` extends the open bucket, and `close(acc)` returns a
    closed bucket's emitted columns besides bucket_ts."""

    def step(state: tuple, batch: pd.DataFrame, _hwm: int):
        b, has_open, *acc = state
        ts = batch[ts_col].to_numpy(np.int64)
        bk = ts // bucket_ms * bucket_ms
        starts = np.flatnonzero(np.r_[True, bk[1:] != bk[:-1]])
        rows = []
        for lo, hi in zip(starts, np.r_[starts[1:], len(bk)]):
            run = batch.iloc[lo:hi]
            if has_open and bk[lo] == b:
                acc = fold(acc, run)
                continue
            if has_open:
                rows.append({"bucket_ts": b, **close(acc)})
            acc, b, has_open = start(acc, run), int(bk[lo]), True
        return (b, has_open, *acc), rows, int(ts[-1])

    return in_order(
        df, keys, ts_col, out_schema,
        f"b long, has_open boolean, {acc_schema}", (0, False, *acc0), step,
    )
