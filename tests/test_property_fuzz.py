"""Hypothesis property fuzzing for the model-compression core.

Three invariants the rest of the engine leans on, checked on adversarial
structured inputs (the reference's own corpora are regular; hypothesis finds
the irregular shapes — run boundaries, single-point runs, NaN islands,
denormals, sign flips at the error-bound edge):

1. The C cascade is byte-identical to the Python specification for every
   input (the Python spec itself is pinned to the Java engine by the golden
   and 120-case Java-differential suites).
2. Reconstruction respects the error bound in the reference's own
   percentageError metric, for every model the cascade picks.
3. Gorilla encode->decode is a bit-exact identity for arbitrary float32
   payloads including NaN, +/-inf, and subnormals, on BOTH decoders.

Pure numpy/C — no Spark session — so hundreds of examples run in seconds.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from modelardb_dynamic_spark.config import EngineConfig
from modelardb_dynamic_spark.models import ckernel
from modelardb_dynamic_spark.models.error import percentage_error
from modelardb_dynamic_spark.models.gorilla import (
    _gorilla_decode_py,
    gorilla_decode,
    gorilla_encode,
)
from modelardb_dynamic_spark.models.grouped import GroupEngine
from modelardb_dynamic_spark.models.kernels import (
    _compress_core_py,
    compress_run_stable,
    compress_series,
    split_runs,
)
from modelardb_dynamic_spark.models.segment import grid

SI = 60_000

# -- structured series strategy -------------------------------------------------
# hypothesis drives the STRUCTURE (block kinds, lengths, error bound, gaps);
# bulk numeric content comes from a seeded RNG so generation stays fast and
# examples stay shrinkable.

_block = st.tuples(
    st.sampled_from(["const", "ramp", "noise", "spike", "tiny"]),
    st.integers(min_value=1, max_value=80),
    st.integers(min_value=0, max_value=2**16),
)


def _render(blocks, nan_seed: int) -> np.ndarray:
    parts = []
    for kind, n, seed in blocks:
        rng = np.random.default_rng(seed)
        if kind == "const":
            parts.append(np.full(n, rng.uniform(-1e3, 1e3), dtype=np.float32))
        elif kind == "ramp":
            base = rng.uniform(-100, 100)
            slope = rng.uniform(-5, 5)
            parts.append((base + slope * np.arange(n)).astype(np.float32))
        elif kind == "noise":
            parts.append(rng.normal(0, rng.uniform(0.01, 50), n).astype(np.float32))
        elif kind == "spike":
            v = np.zeros(n, dtype=np.float32)
            v[rng.integers(0, n)] = rng.choice([1e6, -1e6, 1e-30]).astype(np.float32)
            parts.append(v)
        else:  # tiny: denormal-scale values near the 0/0 percentageError edge
            parts.append(
                (rng.normal(0, 1, n) * np.float32(1e-40)).astype(np.float32)
            )
    v = np.concatenate(parts)
    if nan_seed:
        rng = np.random.default_rng(nan_seed)
        v[rng.random(len(v)) < 0.03] = np.nan
    return v


series_st = st.tuples(
    st.lists(_block, min_size=1, max_size=8),
    st.integers(min_value=0, max_value=2**16),  # nan seed; 0 = no NaNs
    st.integers(min_value=0, max_value=2**16),  # gap seed; 0 = no gaps
    st.sampled_from([0.0, 0.3, 1.0, 10.0]),
    st.sampled_from([3, 50, 256]),
)


def _timestamps(n: int, gap_seed: int) -> np.ndarray:
    t = np.arange(n, dtype=np.int64) * SI
    if gap_seed:
        rng = np.random.default_rng(gap_seed)
        keep = rng.random(n) > 0.05
        keep[0] = True
        return t[keep]
    return t


def _key(s):
    return (
        s.start_ts, s.end_ts, s.mtid, s.model, s.cnt,
        struct.pack(">ddd", s.vmin, s.vmax, s.vsum),
    )


@pytest.mark.skipif(ckernel.load() is None, reason="no C compiler")
@settings(max_examples=150, deadline=None)
@given(series_st)
def test_cascade_c_matches_python_fuzz(case):
    blocks, nan_seed, gap_seed, eb, lb = case
    v = _render(blocks, nan_seed)
    t = _timestamps(len(v), gap_seed)
    v = v[: len(t)]
    cfg = EngineConfig(error_bound=eb, sampling_interval_ms=SI, length_bound=lb)
    cs = compress_series(t, v, cfg)
    ps = []
    runs = split_runs(t, SI)
    for a, b in runs:
        ps.extend(_compress_core_py(t[a:b], v[a:b], cfg, True)[0])
        cseg, ccon = compress_run_stable(t[a:b], v[a:b], cfg)
        pseg, pcon = _compress_core_py(t[a:b], v[a:b], cfg, False)
        assert [_key(s) for s in cseg] == [_key(s) for s in pseg]
        assert ccon == pcon
    assert [_key(s) for s in cs] == [_key(s) for s in ps]
    if len(runs) == 1 and not np.isnan(v).any():
        # one cascade: the Python grouped engine on a group of one
        eng = GroupEngine(t, v[:, None], cfg).run()
        assert [(s.start_ts, s.end_ts, s.mtid, s.model, s.cnt) for s in eng] \
            == [_key(s)[:5] for s in cs]


@settings(max_examples=100, deadline=None)
@given(series_st)
def test_cascade_roundtrip_respects_error_bound_fuzz(case):
    blocks, _nan, gap_seed, eb, lb = case
    v = _render(blocks, 0)  # bound property is for real values; NaNs are
    t = _timestamps(len(v), gap_seed)  # covered by the differential test
    v = v[: len(t)]
    cfg = EngineConfig(error_bound=eb, sampling_interval_ms=SI, length_bound=lb)
    segs = compress_series(t, v, cfg)
    rts, rec = [], []
    for s in segs:
        g = grid(s.mtid, s.model, s.start_ts, s.end_ts, SI)
        rts.append(g[0])
        rec.append(g[1])
    rts = np.concatenate(rts) if rts else np.array([], dtype=np.int64)
    rec = np.concatenate(rec) if rec else np.array([], dtype=np.float32)
    assert np.array_equal(rts, t)
    for a, r in zip(rec.tolist(), v.tolist()):
        assert percentage_error(a, r) <= eb


_f32_payload = st.lists(
    st.one_of(
        st.floats(width=32, allow_nan=True, allow_infinity=True),
        st.sampled_from([0.0, -0.0, 1e-45, -1e-45, 3.4e38, 1.0, -1.0]),
    ),
    min_size=1,
    max_size=200,
)


@settings(max_examples=250, deadline=None)
@given(_f32_payload)
def test_gorilla_roundtrip_bit_exact_fuzz(vals):
    v = np.array(vals, dtype=np.float32)
    model, _bits = gorilla_encode(v)
    for decoder in (gorilla_decode, _gorilla_decode_py):
        out = decoder(model, len(v))
        assert np.array_equal(
            out.view(np.uint32), v.view(np.uint32)
        ), decoder.__name__


# -- Count-Min sketch algebra (operators/sketches.py cms_*) ---------------------
# The oracle gate pins Spark == DuckDB on the fixed bench corpus; this fuzz
# closes the triangle by pinning the DuckDB oracle SQL against an
# independent pure-Python model of the CMS semantics on adversarial inputs
# (weird keys incl. quotes — exercising the probe-literal escaping — empty
# buckets, duplicate probes, probes absent from the data).

_cms_key = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_characters="\x00", max_codepoint=0x2FF
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(_cms_key, st.integers(min_value=0, max_value=3)),
        min_size=0,
        max_size=60,
    ),
    probes=st.lists(_cms_key, min_size=1, max_size=6),
)
def test_duck_cms_oracle_matches_python_model(rows, probes):
    import duckdb

    from modelardb_dynamic_spark.operators.sketches import (
        CMS_D,
        cms_cells_py,
        duck_cms_estimates_sql,
    )

    # pure-Python CMS: cell counters per bucket, then min over probe cells
    # (absent cell = 0) — the exact semantics the SQL claims to implement
    cnt: dict = {}
    for k, b in rows:
        for c in cms_cells_py(k):
            cnt[(b, c)] = cnt.get((b, c), 0) + 1
    # output contract: a (bucket, probe) row exists only when >=1 of the
    # probe's cells has a counter; all-cells-miss means estimate-0 BY
    # OMISSION (same inner-join shape in Spark and the oracle)
    buckets = {b for _, b in rows}
    want = {}
    for b in buckets:
        for p in dict.fromkeys(probes):
            cells = cms_cells_py(p)
            if not any((b, c) in cnt for c in cells):
                continue
            want[(b, p)] = min(cnt.get((b, c), 0) for c in cells)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, b BIGINT)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = duck_cms_estimates_sql("t", "''", "k", "b", list(probes))
    got = {
        (r[1], r[2]): r[3]
        for r in con.execute(sql).fetchall()
    }
    assert got == want, (sorted(got.items())[:5], sorted(want.items())[:5])


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(_cms_key, st.integers(min_value=0, max_value=3)),
        min_size=0,
        max_size=80,
    ),
)
def test_duck_hll_oracle_matches_python_model(rows):
    """Pin duck_hll_summary_sql against an independent pure-Python model
    of the register algebra (incl. the HUGEINT-cast scaled sum and the
    shared double expression tree for est_raw)."""
    import duckdb

    from modelardb_dynamic_spark.operators.dedup import py_h60
    from modelardb_dynamic_spark.operators.sketches import (
        ALPHA,
        M,
        P,
        RHO_CAP,
        SCALE,
        WREM,
        duck_hll_summary_sql,
    )

    regs: dict = {}
    for k, b in rows:
        h = py_h60(k)
        reg, rem = h & (M - 1), h >> P
        rho = RHO_CAP if rem == 0 else WREM - (rem.bit_length() - 1)
        regs[(b, reg)] = max(regs.get((b, reg), 0), rho)
    want = {}
    for b in {b for _, b in rows}:
        bregs = [rho for (bb, _), rho in regs.items() if bb == b]
        m_present = len(bregs)
        s_present = sum(1 << (RHO_CAP - rho) for rho in bregs)
        s_scaled = s_present + (M - m_present) * SCALE
        est_raw = (ALPHA * M * M * float(SCALE)) / float(s_scaled)
        want[b] = (m_present, s_scaled, M - m_present, est_raw)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, b BIGINT)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = duck_hll_summary_sql("t", "''", "k", "b")
    got = {
        r[1]: (r[2], r[3], r[4], r[5]) for r in con.execute(sql).fetchall()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=1_000_000_000),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=0,
        max_size=80,
    ),
)
def test_duck_hist_oracle_matches_python_model(rows):
    """Pin duck_hist_quantiles_sql against a pure-Python model of the
    log2x4 histogram (octave/sub-bucket index, pairwise coarse merge,
    ceil(q*n) rank selection, exact integer value bounds)."""
    import math

    import duckdb

    def idx_of(v: int) -> int:
        if v <= 0:
            return -1
        e = v.bit_length() - 1
        shift = 0 if e < 2 else e - 2
        return e * 4 + ((v >> shift) & 3)

    def bounds(idx: int) -> tuple[int, int]:
        if idx < 0:
            return 0, 0
        e, sub = idx // 4, idx % 4
        if e == 0:
            return 1, 1
        if e == 1:
            return sub, sub
        w = 1 << (e - 2)
        lo = (4 + sub) * w
        return lo, lo + w - 1

    COARSE = 2
    cnt: dict = {}
    for v, b in rows:
        key = ((b // COARSE) * COARSE, idx_of(v))
        cnt[key] = cnt.get(key, 0) + 1
    want = set()
    qs = (0.5, 0.9, 0.99)
    for cb in {k[0] for k in cnt}:
        hist = sorted(
            (i, c) for (bb, i), c in cnt.items() if bb == cb
        )
        n = sum(c for _, c in hist)
        for q in qs:
            target = math.ceil(q * n)
            cum = 0
            for i, c in hist:
                cum += c
                if cum >= target and cum - c < target:
                    lo, hi = bounds(i)
                    want.add((cb, q, i, lo, hi))
                    break

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT, b BIGINT)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    from modelardb_dynamic_spark.operators.sketches import (
        duck_hist_quantiles_sql,
    )

    sql = duck_hist_quantiles_sql("t", "''", "v", "b", COARSE)
    got = {
        (r[1], r[2], r[3], r[4], r[5])
        for r in con.execute(sql).fetchall()
    }
    assert got == want


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(_cms_key, st.integers(min_value=0, max_value=3)),
        min_size=0,
        max_size=120,
    ),
    k=st.sampled_from([2, 5, 64]),
)
def test_duck_kmv_oracle_matches_python_model(rows, k):
    """Pin duck_kmv_summary_sql against an independent pure-Python model
    of the bottom-k ranking (distinct hashes, k smallest per bucket) and
    the shared (k-1)*2^60/h_k estimator expression."""
    import duckdb

    from modelardb_dynamic_spark.operators.dedup import py_h60
    from modelardb_dynamic_spark.operators.sketches import duck_kmv_summary_sql

    by_bucket: dict = {}
    for key, b in rows:
        by_bucket.setdefault(b, set()).add(py_h60(key))
    want = {}
    for b, hs in by_bucket.items():
        bottom = sorted(hs)[:k]
        m, h_k = len(bottom), max(bottom)
        est = float(m) if m < k else (float(k - 1) * float(1 << 60)) / float(h_k)
        want[b] = (m, h_k, est)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, b BIGINT)")
    if rows:
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = duck_kmv_summary_sql("t", "''", "k", "b", k=k)
    got = {r[1]: (r[2], r[3], r[4]) for r in con.execute(sql).fetchall()}
    assert got == want, (sorted(got.items())[:4], sorted(want.items())[:4])


# ---------------------------------------------------------------------------
# BPE closed-form encode == symbolic merge application (pure Python: the
# Spark encode is chained literal F.replace, whose semantics are exactly
# str.replace — non-overlapping left-to-right — over the same framing)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=0, max_value=10),
)
def test_bpe_replace_chain_matches_symbolic_fuzz(words, n_merges):
    """For ANY corpus over a tiny alphabet (maximizing overlap/adjacency
    pathology like 'aaaa') and any learned merge table, the \\x1f-framed
    string-replace chain tokenizes every word to exactly the symbol
    count _bpe_apply_merge produces."""
    from modelardb_dynamic_spark.operators.curation import (
        _BPE_SEP,
        _bpe_apply_merge,
        bpe_merge_replace_steps,
        bpe_reference,
    )

    merges = bpe_reference([" ".join(words)], n_merges=n_merges)
    steps = bpe_merge_replace_steps(merges)
    s = _BPE_SEP
    for w in set(words):
        framed = s + (s + s).join(list(w)) + s
        for search, repl in steps:
            framed = framed.replace(search, repl)
        got = len(framed.split(s + s))
        sym = list(w)
        for _, lhs, rhs, _, _ in merges:
            sym = _bpe_apply_merge(sym, lhs, rhs)
        assert got == len(sym), (w, merges)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=1, max_value=(1 << 53) - 1),
        min_size=1,
        max_size=50,
    )
)
def test_log2_int_stages_duckdb_matches_python_twin(ns):
    """The shared log2 tree (textstats.log2_int_stages) evaluated by
    DuckDB must BIT-match the Python twin (py_log2_stages) on arbitrary
    positive int64 inputs — the engine-independence property every
    log-bearing oracle in the gate leans on (Spark-vs-DuckDB equality is
    asserted per query by the oracle sweep; this pins the third corner
    of the triangle cheaply, no SparkSession)."""
    import duckdb

    from modelardb_dynamic_spark.operators.textstats import (
        log2_int_stages,
        py_log2_stages,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t(n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in ns])
    prev, ctes = "s0", ["s0 AS (SELECT n FROM t)"]
    for i, (name, expr) in enumerate(log2_int_stages("n", "l2"), 1):
        ctes.append(f"s{i} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = f"s{i}"
    sql = "WITH " + ", ".join(ctes) + f" SELECT n, l2 FROM {prev}"
    got = dict(con.execute(sql).fetchall())
    import math

    for v in set(ns):
        assert got[v] == py_log2_stages(v)  # bit-exact
        assert abs(got[v] - math.log2(v)) < 5e-11


def test_dlit_roundtrips_bit_exact_in_both_engines(spark):
    """_dlit is the foundation of every shared float literal: for a
    spread of doubles (including the 17-significant-digit cases where
    DuckDB's DECIMAL literal path is a ulp off), the literal must parse
    to the IDENTICAL bits in Spark and DuckDB."""
    import struct

    import duckdb
    import numpy as np

    from modelardb_dynamic_spark.operators.analytics import _dlit

    rng = np.random.default_rng(101)
    vals = [float(x) for x in rng.standard_normal(120)]
    vals += [float(x) for x in rng.uniform(-1e300, 1e300, 40)]
    vals += [float(x) for x in rng.uniform(-1e-300, 1e-300, 40)]
    vals += [0.15000000000000002, 3.8415999999999997, 1.96, 0.3,
             1e-323, -0.0, 2.0 ** -1074, (1 + 2 ** -52) * 2 ** 1023]

    def bits(x: float) -> int:
        return struct.unpack(">q", struct.pack(">d", x))[0]

    exprs = ", ".join(_dlit(v) for v in vals)
    drow = duckdb.sql(f"SELECT {exprs}").fetchall()[0]
    srow = spark.sql(f"SELECT {exprs}").collect()[0]
    for v, dv, sv in zip(vals, drow, srow):
        assert bits(dv) == bits(v), (v, dv)
        assert bits(sv) == bits(v), (v, sv)
