"""The one segment decoder (operators/reconstruct.decode_models) against
the per-segment scalar reference (models/segment.py decode_values/grid),
bit for bit and without Spark: every model type, every Swing width,
non-finite and signed-zero Gorilla values, sliced Arrow arrays, empty and
single-segment batches."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from modelardb_dynamic_spark.config import (
    MTID_GORILLA,
    MTID_PMC_MEAN,
    MTID_SWING,
    MTID_UNCOMPRESSED,
    EngineConfig,
)
from modelardb_dynamic_spark.models.gorilla import gorilla_encode
from modelardb_dynamic_spark.models.kernels import (
    _swing_encode,
    compress_series,
    swing_decode,
)
from modelardb_dynamic_spark.models.segment import decode_values, grid
from modelardb_dynamic_spark.operators.reconstruct import (
    _grid_batch,
    decode_models,
)

SI = 1_000


def _segments() -> list[tuple[int, int, int, bytes]]:
    """(start_ts, end_ts, mtid, model) of every shape the decoder reads."""
    rng = np.random.default_rng(5)
    segs = []
    t0 = 1_700_000_000_000

    def add(n, mtid, model):
        start = t0 + len(segs) * 100 * SI
        segs.append((start, start + (n - 1) * SI, mtid, model))

    add(7, MTID_PMC_MEAN, np.float32([-0.0]).astype(">f4").tobytes())
    add(3, MTID_PMC_MEAN, np.float32([2.5]).astype(">f4").tobytes())
    # Swing at each width: the midline of the bounds is (a, b); both
    # float32-exact -> 8 bytes, only a -> 12, neither -> 16
    for a, b, width in ((0.5, -3.25, 8), (0.25, 0.1, 12), (1e-9, 0.1, 16),
                        (-0.1, 7.0, 16)):
        model = _swing_encode((a, b, a, b))
        assert len(model) == width
        add(20, MTID_SWING, model)
    specials = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 1e-40, -1.5],
                        dtype=np.float32)
    for v in (specials, np.float32([3.0]), rng.normal(0, 100, 50)):
        v = np.asarray(v, dtype=np.float32)
        add(len(v), MTID_GORILLA, gorilla_encode(v)[0])
    for v in (rng.normal(0, 1, 9), specials, np.float32([-0.0])):
        add(len(v), MTID_UNCOMPRESSED, np.asarray(v, ">f4").tobytes())
    # and whatever the compressor emits at several bounds
    t = t0 + 10_000 * SI + np.arange(400, dtype=np.int64) * SI
    v = np.concatenate([np.full(100, 4.0), np.linspace(0, 50, 100),
                        rng.normal(0, 10, 200)]).astype(np.float32)
    for eb in (0.0, 1.0, 10.0):
        for s in compress_series(t, v, EngineConfig(error_bound=eb,
                                                    sampling_interval_ms=SI)):
            segs.append((s.start_ts, s.end_ts, s.mtid, s.model))
    return segs


SEGS = _segments()


def _batch(segs, binary=pa.binary()) -> pa.RecordBatch:
    start, end, mtid, model = zip(*segs) if segs else ((), (), (), ())
    n = len(segs)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([f"s{i % 3}" for i in range(n)], pa.string()),
            pa.array(["m"] * n, pa.string()),
            pa.array(start, pa.int64()),
            pa.array(end, pa.int64()),
            pa.array([SI] * n, pa.int32()),
            pa.array(mtid, pa.int32()),
            pa.array(model, binary),
        ],
        names=["sid", "metric", "start_ts", "end_ts", "si", "mtid", "model"],
    )


def _bits(x: np.ndarray) -> list[int]:
    return np.asarray(x, dtype=np.float32).view(np.uint32).tolist()


def _check(rb: pa.RecordBatch, segs) -> None:
    """decode_models and _grid_batch on rb equal the scalar reference of
    segs, value bits included."""
    mtid = rb.column("mtid").to_numpy()
    lens = np.array([(e - s) // SI + 1 for s, e, _, _ in segs], dtype=np.int64)
    dec = decode_models(rb.column("model"), mtid, lens)
    assert len(dec.offs) == len(segs) + 1
    ts_ref, v_ref = [], []
    for i, (s, e, m, model) in enumerate(segs):
        ref = decode_values(m, model, s, e, SI)
        if m == MTID_PMC_MEAN:
            assert _bits([dec.pmc[i]]) == _bits(ref[:1])
        elif m == MTID_SWING:
            a, b = swing_decode(model)
            assert (dec.a[i], dec.b[i]) == (a, b)
        else:
            got = dec.values[dec.offs[i] : dec.offs[i + 1]]
            assert _bits(got) == _bits(ref)
        t, v = grid(m, model, s, e, SI)
        ts_ref.append(t)
        v_ref.append(v)
    out = _grid_batch(rb) if len(segs) else None
    if out is not None:
        assert out.column("ts_ms").to_pylist() == np.concatenate(ts_ref).tolist()
        assert _bits(out.column("value").to_numpy()) == _bits(np.concatenate(v_ref))


def test_mix_covers_every_model_type_and_swing_width():
    kinds = {(m, len(model) if m == MTID_SWING else 0) for _, _, m, model in SEGS}
    assert kinds >= {(MTID_PMC_MEAN, 0), (MTID_GORILLA, 0),
                     (MTID_UNCOMPRESSED, 0), (MTID_SWING, 8),
                     (MTID_SWING, 12), (MTID_SWING, 16)}


@pytest.mark.parametrize("binary", [pa.binary(), pa.large_binary()])
def test_decode_matches_the_scalar_reference(binary):
    _check(_batch(SEGS, binary), SEGS)


def test_decode_of_a_sliced_batch():
    """A slice keeps the parent's buffers with a nonzero offset."""
    rb = _batch(SEGS).slice(5, len(SEGS) - 9)
    assert rb.column("model").offset == 5
    _check(rb, SEGS[5:-4])


@pytest.mark.parametrize("i", [0, 2, 5, 8, 11, len(SEGS) - 1])
def test_decode_of_a_single_segment(i):
    _check(_batch([SEGS[i]]), [SEGS[i]])


def test_decode_of_an_empty_batch():
    rb = _batch([])
    dec = decode_models(rb.column("model"), rb.column("mtid").to_numpy(),
                        np.zeros(0, np.int64))
    assert len(dec.values) == 0 and dec.offs.tolist() == [0]
    rb = _batch(SEGS).slice(3, 0)
    dec = decode_models(rb.column("model"), rb.column("mtid").to_numpy(),
                        np.zeros(0, np.int64))
    assert len(dec.pmc) == 0 and dec.offs.tolist() == [0]


@pytest.mark.parametrize("mtid,model,count", [
    (MTID_PMC_MEAN, b"\x00\x01", 1),
    (MTID_SWING, b"\x00" * 10, 5),
    (MTID_UNCOMPRESSED, b"\x00" * 8, 3),
    (99, b"\x00" * 4, 1),
])
def test_decode_rejects_a_malformed_model(mtid, model, count):
    with pytest.raises(ValueError, match="undecodable model"):
        decode_models(pa.array([model], pa.binary()), np.int32([mtid]),
                      np.int64([count]))
