"""Key runs over sorted Arrow batches: the one grouper behind every
sort-then-mapInArrow kernel (operators/compress.py, operators/rawtier.py).

The Spark side sorts rows by (keys..., first col) within each partition;
key_runs then finds group boundaries with numpy on per-batch key codes and
hands each group to the kernel as zero-copy numpy slices. Key values are
looked up once per group from the batch's dictionary, never per row.

A group that spans batch boundaries is carried forward and concatenated
once, when it is complete, so results never depend on Arrow batch size
(spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator, Mapping, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _key_codes(col: pa.Array) -> tuple[np.ndarray, list | None]:
    """Per-batch integer codes for boundary detection (values equal <=>
    codes equal within the batch), plus the value of each code — None when
    the codes are the values themselves."""
    if pa.types.is_integer(col.type) and col.null_count == 0:
        return col.to_numpy(zero_copy_only=False), None
    enc = pc.dictionary_encode(col, null_encoding="encode")
    return enc.indices.to_numpy(zero_copy_only=False), enc.dictionary.to_pylist()


def _cat(parts: list[np.ndarray]) -> np.ndarray:
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def key_runs(
    batches: Iterable[pa.RecordBatch],
    keys: Sequence[str],
    cols: Mapping[str, np.dtype | type | str],
    span: int | None = None,
) -> Iterator[list[tuple[tuple, list[np.ndarray]]]]:
    """Yield, once per input batch, the groups that batch completes, as
    (key tuple, [numpy slice per col]); a last group still open when the
    input ends is yielded alone at the end.

    Input rows must be sorted by `keys` (then by the first col). `cols`
    maps column name -> numpy dtype; slices come in that order. With
    `span`, ``first col // span`` also splits runs and is appended to the
    key — the salt rule of the compress kernels, which forces a group edge
    every `span` units of a sorted timestamp column."""
    carry_key: tuple | None = None
    carry: list[list[np.ndarray]] = []
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            yield []
            continue
        arrs = [
            rb.column(c).to_numpy(zero_copy_only=False).astype(dt)
            for c, dt in cols.items()
        ]
        coded = [_key_codes(rb.column(k)) for k in keys]
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for codes, _ in coded:
            change[1:] |= codes[1:] != codes[:-1]
        if span:
            salt = arrs[0] // span
            change[1:] |= salt[1:] != salt[:-1]
        starts = np.flatnonzero(change)
        key_cols = []
        for codes, lookup in coded:
            at = codes[starts].tolist()
            key_cols.append(at if lookup is None else [lookup[c] for c in at])
        if span:
            key_cols.append(salt[starts].tolist())
        run_keys = list(zip(*key_cols))
        bounds = starts.tolist() + [n]

        out: list[tuple[tuple, list[np.ndarray]]] = []
        first = 0
        if carry_key is not None:
            if run_keys[0] == carry_key:
                for part, x in zip(carry, arrs):
                    part.append(x[: bounds[1]])
                if len(run_keys) == 1:  # the whole batch continues the run
                    yield out
                    continue
                first = 1
            out.append((carry_key, [_cat(p) for p in carry]))
        for i in range(first, len(run_keys) - 1):
            a, b = bounds[i], bounds[i + 1]
            out.append((run_keys[i], [x[a:b] for x in arrs]))
        # the last run may continue into the next batch
        a = bounds[-2]
        carry_key = run_keys[-1]
        carry = [[x[a:]] for x in arrs]
        yield out
    if carry_key is not None:
        yield [(carry_key, [_cat(p) for p in carry])]
