"""key_runs (operators/keyruns.py) on hand-built Arrow batches, no Spark:
groups that span batches, salt edges on batch boundaries, empty batches,
string and int64 keys, and the group still open when the input ends."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pytest

from modelardb_dynamic_spark.operators.keyruns import key_runs

COLS = {"ts": np.int64, "v": np.float32}


def _batch(keys, ts, key_type):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(keys, type=key_type),
            pa.array(ts, type=pa.int64()),
            pa.array([float(t) / 2 for t in ts], type=pa.float64()),
        ],
        names=["k", "ts", "v"],
    )


def _flat(yields):
    return [
        (key, ts.tolist(), v.tolist())
        for groups in yields
        for key, (ts, v) in groups
    ]


def _reference(rows, span):
    """Naive grouping of (key, ts) rows in input order."""
    def run_key(r):
        return (r[0], r[1] // span) if span else (r[0],)

    return [
        (key, [t for _, t in g], [t / 2 for _, t in g])
        for key, g in ((k, list(g)) for k, g in itertools.groupby(rows, run_key))
    ]


KEY_TYPES = {
    "string": (pa.string(), lambda i: f"conv-{i}"),
    "int64": (pa.int64(), lambda i: 1_000_000_007 * i),
}


@pytest.fixture(params=list(KEY_TYPES))
def key_type(request):
    return KEY_TYPES[request.param]


def test_group_spans_three_batches_and_stays_open(key_type):
    typ, k = key_type
    a, b = k(1), k(2)
    batches = [
        _batch([a, b, b], [0, 0, 1], typ),
        _batch([b, b], [2, 3], typ),
        _batch([b], [4], typ),
    ]
    yields = list(key_runs(batches, ["k"], COLS))
    # one yield per batch, plus the run still open at the end
    assert len(yields) == 4
    assert _flat([yields[0]]) == [((a,), [0], [0.0])]
    assert yields[1] == [] and yields[2] == []
    assert _flat([yields[3]]) == [
        ((b,), [0, 1, 2, 3, 4], [0.0, 0.5, 1.0, 1.5, 2.0])
    ]
    t, v = yields[3][0][1]
    assert t.dtype == np.int64 and v.dtype == np.float32


def test_salt_edge_at_batch_boundary(key_type):
    typ, k = key_type
    a = k(3)
    batches = [_batch([a, a], [8, 9], typ), _batch([a, a], [10, 11], typ)]
    yields = list(key_runs(batches, ["k"], COLS, span=10))
    # the span-0 run is complete once batch 2 opens span 1
    assert yields[0] == []
    assert _flat([yields[1]]) == [((a, 0), [8, 9], [4.0, 4.5])]
    assert _flat([yields[2]]) == [((a, 1), [10, 11], [5.0, 5.5])]


def test_empty_batch_mid_stream(key_type):
    typ, k = key_type
    a, b = k(4), k(5)
    batches = [
        _batch([a, a], [0, 1], typ),
        _batch([], [], typ),
        _batch([a, b], [2, 0], typ),
    ]
    yields = list(key_runs(batches, ["k"], COLS))
    assert [len(y) for y in yields] == [0, 0, 1, 1]
    assert _flat(yields) == [
        ((a,), [0, 1, 2], [0.0, 0.5, 1.0]),
        ((b,), [0], [0.0]),
    ]


@pytest.mark.parametrize("span", [None, 3])
def test_matches_naive_grouping_at_any_batch_size(key_type, span):
    typ, k = key_type
    rng = np.random.default_rng(7)
    rows = [
        (k(i), t)
        for i, n in enumerate(rng.integers(1, 12, size=25).tolist())
        for t in range(n)
    ]
    want = _reference(rows, span)
    for size in (1, 2, 5, 16, len(rows)):
        chunks = [rows[i : i + size] for i in range(0, len(rows), size)]
        batches = [_batch([r[0] for r in c], [r[1] for r in c], typ) for c in chunks]
        got = _flat(key_runs(batches, ["k"], COLS, span=span))
        assert got == want, size


def test_two_keys_and_nulls():
    batches = [
        pa.RecordBatch.from_pydict(
            {"sid": [None, None, "s", "s"], "m": ["x", "x", "x", "y"],
             "ts": [0, 1, 0, 0]}
        ),
        pa.RecordBatch.from_pydict(
            {"sid": ["s"], "m": ["y"], "ts": [1]}
        ),
    ]
    got = [
        (key, t.tolist())
        for groups in key_runs(batches, ["sid", "m"], {"ts": np.int64})
        for key, (t,) in groups
    ]
    assert got == [((None, "x"), [0, 1]), (("s", "x"), [0]), (("s", "y"), [0, 1])]
