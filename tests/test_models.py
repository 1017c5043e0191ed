"""Model-layer unit tests (pure NumPy, no Spark) — SURVEY.md §5 items
1, 2, and 6: golden vectors, reference-oracle round trips, and
property-style randomized runs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from modelardb_spark.models import (
    MTID_GORILLA,
    MTID_PMC,
    MTID_RAW,
    MTID_SWING,
    decode_values,
    fit_run,
    outside_percentage_error_bound,
    percentage_error,
)
from modelardb_spark.models.gorilla import gorilla_compress, gorilla_decompress
from modelardb_spark.models.pmc_mean import pmc_prefix
from modelardb_spark.models.swing import swing_fit, swing_model, swing_verify
from tests.reference_oracle import (
    oracle_fit_group_run,
    oracle_fit_run,
    segment_agg,
    segment_grid,
)

INTERVAL = 60_000


def ts_of(n, start=0):
    return start + INTERVAL * np.arange(n, dtype=np.int64)


# ---------------------------------------------------------------- errors
def test_percentage_error_semantics():
    # Static.java:110-119: equal -> 0 even at 0/0
    assert percentage_error(0.0, 0.0) == 0.0
    assert percentage_error(1.0, 1.0) == 0.0
    assert percentage_error(99.0, 100.0) == pytest.approx(1.0)
    # real == 0, approx != 0 -> infinite error -> outside any bound
    assert outside_percentage_error_bound(100.0, 1.0, 0.0)
    assert not outside_percentage_error_bound(1.0, 99.0, 100.0)
    assert outside_percentage_error_bound(0.9, 99.0, 100.0)


# ------------------------------------------------------------------ PMC
def test_pmc_accepts_constant_run():
    v = np.full(1000, 3.25, dtype=np.float32)
    assert pmc_prefix(v, 0.0) == 1000


def test_pmc_rejects_at_bound_zero():
    v = np.array([1.0, 1.0, 1.0, 2.0, 1.0], dtype=np.float32)
    assert pmc_prefix(v, 0.0) == 3


def test_pmc_bound_allows_slack():
    # values within 10% of their mean
    v = np.array([100.0, 101.0, 99.0, 100.5], dtype=np.float32)
    assert pmc_prefix(v, 10.0) == 4
    assert pmc_prefix(v, 0.0) == 1


# ---------------------------------------------------------------- Swing
def test_swing_fits_exact_float32_line():
    n = 200
    t = ts_of(n)
    # slope chosen so float32(a*t+b) reproduces values exactly
    v = (2.0 * np.arange(n) + 10.0).astype(np.float32)
    prefix, a, b = swing_fit(t, v, 0.0)
    assert prefix == n
    assert swing_verify(t, v, a, b, 0.0)


def test_swing_rejects_nonlinear_at_bound_zero():
    t = ts_of(4)
    v = np.array([0.0, 1.0, 2.0, 10.0], dtype=np.float32)
    prefix, a, b = swing_fit(t, v, 0.0)
    assert prefix == 3


def test_swing_payload_widths():
    assert len(swing_model(1.5, 2.5)) == 8  # both exactly float32
    assert len(swing_model(1.5, 1e-300)) == 12  # b needs double
    assert len(swing_model(1e-300, 1e-300)) == 16


# -------------------------------------------------------------- Gorilla
def test_gorilla_round_trip_random():
    rng = np.random.default_rng(7)
    v = rng.normal(0, 100, size=50).astype(np.float32)
    out = gorilla_decompress(gorilla_compress(v), 50)
    np.testing.assert_array_equal(v, out)


def test_gorilla_round_trip_special_values():
    v = np.array(
        [0.0, -0.0, 1.0, -1.0, np.float32(3.4e38), np.float32(1e-38), 7.0, 7.0],
        dtype=np.float32,
    )
    out = gorilla_decompress(gorilla_compress(v), len(v))
    np.testing.assert_array_equal(v, out)


def test_gorilla_repeats_compress_to_one_bit():
    v = np.full(50, 12.5, dtype=np.float32)
    model = gorilla_compress(v)
    # 32 bits for the first value + 49 zero bits -> 11 bytes
    assert len(model) == (32 + 49 + 7) // 8


def test_gorilla_significant_bits_32_quirk():
    # force an xor with 0 leading and 0 trailing zeros: the 6-bit
    # significant-bit count wraps to 0 and must decode as 32
    a = np.float32(np.uint32(0x80000001).view(np.float32))
    b = np.float32(np.uint32(0x00000000).view(np.float32))
    v = np.array([a, b, a], dtype=np.float32)
    out = gorilla_decompress(gorilla_compress(v), 3)
    np.testing.assert_array_equal(v.view(np.uint32), out.view(np.uint32))


# -------------------------------------------------------------- cascade
def test_cascade_constant_run_single_pmc_segment():
    n = 500
    v = np.full(n, 42.0, dtype=np.float32)
    segs = fit_run(ts_of(n), v)
    assert len(segs) == 1
    assert segs[0].mtid == MTID_PMC
    assert segs[0].n == n
    assert struct.unpack(">f", segs[0].model)[0] == 42.0


def test_cascade_linear_run_single_swing_segment():
    n = 500
    v = (0.5 * np.arange(n) + 3.0).astype(np.float32)
    segs = fit_run(ts_of(n), v)
    assert len(segs) == 1
    assert segs[0].mtid == MTID_SWING
    assert segs[0].n == n


def test_cascade_noisy_run_respects_length_bound():
    rng = np.random.default_rng(3)
    n = 500
    v = rng.normal(0, 1e6, size=n).astype(np.float32)
    segs = fit_run(ts_of(n), v, length_bound=50)
    assert all(s.n <= 50 for s in segs)
    assert sum(s.n for s in segs) == n
    # coverage is contiguous
    for prev, cur in zip(segs, segs[1:]):
        assert cur.start_ms == prev.end_ms + INTERVAL


@pytest.mark.parametrize("bound", [0.0, 1.0, 5.0, 10.0])
def test_cascade_error_bound_invariant(bound):
    """North-rule invariant: every reconstructed point is within the
    error bound of the input (exact at bound 0)."""
    rng = np.random.default_rng(11)
    parts = [
        np.full(40, 7.5, dtype=np.float32),
        (np.arange(60) * 0.25 + 100).astype(np.float32),
        rng.normal(50, 10, size=80).astype(np.float32),
        np.zeros(15, dtype=np.float32),
    ]
    v = np.concatenate(parts)
    t = ts_of(v.size)
    segs = fit_run(t, v, error_bound=bound)
    assert sum(s.n for s in segs) == v.size
    pos = 0
    for s in segs:
        got_ts, got_v = segment_grid(s.mtid, s.model, s.start_ms, s.end_ms, INTERVAL)
        np.testing.assert_array_equal(got_ts, t[pos : pos + s.n])
        for real, approx in zip(v[pos : pos + s.n], got_v):
            assert not outside_percentage_error_bound(
                bound, float(approx), float(real)
            ), (s.mtid, real, approx)
        if bound == 0.0:
            np.testing.assert_array_equal(got_v, v[pos : pos + s.n])
        pos += s.n


@pytest.mark.parametrize(
    "kind", ["constant", "linear", "noisy", "steps", "mixed", "tiny"]
)
def test_cascade_matches_reference_oracle(kind):
    """The vectorized cascade emits the same (start, end, mtid, model)
    stream as a literal replay of the reference's online loop."""
    rng = np.random.default_rng(hash(kind) % 2**32)
    if kind == "constant":
        v = np.full(120, 5.0, dtype=np.float32)
    elif kind == "linear":
        v = (np.arange(130) * 1.5 - 20).astype(np.float32)
    elif kind == "noisy":
        v = rng.normal(0, 1e5, size=160).astype(np.float32)
    elif kind == "steps":
        v = np.repeat(rng.integers(0, 5, size=20), 10).astype(np.float32)
    elif kind == "mixed":
        v = np.concatenate(
            [
                np.full(30, 2.0, dtype=np.float32),
                (np.arange(40) * 0.5).astype(np.float32),
                rng.normal(10, 5, size=55).astype(np.float32),
            ]
        )
    else:
        v = np.array([1.0], dtype=np.float32)
    t = ts_of(v.size)
    ours = fit_run(t, v)
    ref = oracle_fit_run(t, v)
    assert [(s.start_ms, s.end_ms, s.mtid, s.n) for s in ours] == [
        (r[0], r[1], r[2], r[4]) for r in ref
    ]
    assert [s.model for s in ours] == [r[3] for r in ref]


@pytest.mark.parametrize("bound", [0.0, 5.0])
def test_cascade_matches_oracle_randomized(bound):
    rng = np.random.default_rng(99)
    for trial in range(10):
        n = int(rng.integers(1, 200))
        style = trial % 3
        if style == 0:
            v = rng.normal(100, rng.uniform(0, 20), size=n).astype(np.float32)
        elif style == 1:
            v = (np.arange(n) * rng.uniform(-2, 2) + 5).astype(np.float32)
        else:
            v = np.repeat(
                rng.integers(0, 4, size=max(1, n // 5 + 1)), 5
            )[:n].astype(np.float32)
        t = ts_of(n)
        ours = fit_run(t, v, error_bound=bound)
        ref = oracle_fit_run(t, v, error_bound=bound)
        assert [(s.start_ms, s.end_ms, s.mtid, s.model, s.n) for s in ours] == ref
    # the same cascade over N = 2..4 members, against the sequential
    # group replay (gap entries count 4 bytes each in the ratio)
    mtids = set()
    for trial in range(30):
        n_ts = int(rng.integers(1, 200))
        n_mem = 2 + trial % 3
        base = np.arange(n_ts) * rng.uniform(-0.3, 0.3) + 100.0
        if trial % 3 == 0:
            base = np.round(base / 4.0)
        spread = (0.0, rng.uniform(0.0, 0.02), 0.5)[trial % 3]
        jitter = rng.uniform(-spread, spread, size=(n_ts, n_mem))
        v2d = (base[:, None] * (1.0 + jitter)).astype(np.float32)
        n_gaps = int(rng.integers(0, 3))
        t = ts_of(n_ts)
        ours = fit_run(t, v2d, bound, 50, gap_bytes=4.0 * n_gaps)
        ref = oracle_fit_group_run(t, v2d, bound, 50, n_gaps)
        assert [(s.start_ms, s.end_ms, s.mtid, s.model, s.n) for s in ours] == ref
        mtids |= {s.mtid for s in ours}
    assert {MTID_PMC, MTID_GORILLA} <= mtids
    if bound:
        assert MTID_SWING in mtids


# --------------------------------------------------- closed-form aggs
def test_segment_agg_matches_grid():
    rng = np.random.default_rng(21)
    v = np.concatenate(
        [
            np.full(25, 4.0, dtype=np.float32),
            (np.arange(30) * 2.0 + 1).astype(np.float32),
            rng.normal(0, 100, size=60).astype(np.float32),
        ]
    )
    t = ts_of(v.size)
    for s in fit_run(t, v):
        cnt, lo, hi, total = segment_agg(s.mtid, s.model, s.start_ms, s.end_ms, INTERVAL)
        _, grid_v = segment_grid(s.mtid, s.model, s.start_ms, s.end_ms, INTERVAL)
        assert cnt == s.n == grid_v.size
        assert lo == pytest.approx(float(grid_v.min()), rel=1e-6)
        assert hi == pytest.approx(float(grid_v.max()), rel=1e-6)
        assert total == pytest.approx(float(grid_v.sum(dtype=np.float64)), rel=1e-9)


def test_segment_agg_batch_matches_scalar():
    """The vectorized batch aggregate (model-byte decode per family,
    then the `segment_partials` kernel with one window per segment)
    must agree with the scalar `segment_agg` per row across every mtid
    and Swing width. The fit produces PMC, 16-byte Swing and Gorilla;
    8- and 12-byte Swing and raw segments are built by hand."""
    from modelardb_spark.models.segment import segment_agg_batch
    from modelardb_spark.models.uncompressed import raw_model

    rng = np.random.default_rng(33)
    v = np.concatenate(
        [
            np.full(25, 4.0, dtype=np.float32),
            (np.arange(30) * 2.0 + 1).astype(np.float32),
            rng.normal(0, 100, size=60).astype(np.float32),
            np.array([7.25], dtype=np.float32),
        ]
    )
    t = ts_of(v.size)
    rows = [
        (s.mtid, s.model, s.start_ms, s.end_ms) for s in fit_run(t, v)
    ]
    start = 1_704_672_000_000
    end = start + 49 * INTERVAL
    for a, b in [
        (2.0**-30, 3.5),  # a and b float32-exact: 8 bytes
        (-(2.0**-31), 1.0),
        (0.0, -2.25),
        (2.0**-30, 0.1),  # only a float32-exact: 12 bytes
        (-(2.0**-32), 7.3),
    ]:
        rows.append((MTID_SWING, swing_model(a, b), start, end))
    rows.append(
        (MTID_RAW, raw_model(rng.normal(0, 5, size=50), 50), start, end)
    )
    widths = {len(m) for mt, m, _, _ in rows if mt == MTID_SWING}
    assert widths == {8, 12, 16}, widths
    assert {mt for mt, _, _, _ in rows} == {
        MTID_RAW, MTID_PMC, MTID_SWING, MTID_GORILLA
    }
    counts, mins, maxs, sums = segment_agg_batch(
        np.array([r[0] for r in rows]),
        [r[1] for r in rows],
        np.array([r[2] for r in rows]),
        np.array([r[3] for r in rows]),
        np.array([INTERVAL] * len(rows)),
    )
    for i, (mtid, model, s_ms, e_ms) in enumerate(rows):
        cnt, lo, hi, total = segment_agg(mtid, model, s_ms, e_ms, INTERVAL)
        assert counts[i] == cnt
        assert mins[i] == lo
        assert maxs[i] == hi
        assert sums[i] == pytest.approx(total, rel=1e-12)


def test_raw_fallback_for_single_point_flush():
    # single point: PMC has ratio, Swing NaN, Gorilla has ratio ->
    # reference fold picks Gorilla (NaN shadows PMC, then Gorilla wins)
    segs = fit_run(ts_of(1), np.array([9.0], dtype=np.float32))
    assert len(segs) == 1
    assert segs[0].mtid == MTID_GORILLA
    assert segs[0].n == 1
    _, v = segment_grid(segs[0].mtid, segs[0].model, segs[0].start_ms, segs[0].end_ms, INTERVAL)
    assert v[0] == np.float32(9.0)


def test_gorilla_batch_decode_bit_identical():
    """The lockstep batch decoder must reproduce the scalar decoder
    bit-for-bit on mixed streams (repeats, counts, random floats,
    single values) and on skewed lengths in shuffled order."""
    import numpy as np

    from modelardb_spark.models.gorilla import (
        gorilla_compress,
        gorilla_decompress,
        gorilla_decompress_matrix,
    )

    rng = np.random.default_rng(13)
    models, lens, scalar = [], [], []
    for i in range(400):
        n = int(rng.integers(1, 51))
        kind = i % 4
        if kind == 0:
            v = rng.integers(0, 5, n).astype(np.float32)
        elif kind == 1:
            v = np.full(n, float(rng.integers(0, 9)), dtype=np.float32)
        elif kind == 2:
            v = rng.normal(0, 1000, n).astype(np.float32)
        else:
            v = np.repeat(rng.normal(0, 10, n // 5 + 1), 5)[:n].astype(np.float32)
        m = gorilla_compress(v)
        models.append(m)
        lens.append(n)
        scalar.append(gorilla_decompress(m, n))
    # skewed lengths in shuffled order, the stored-segment shape:
    # thousands of 1-value streams, a few of 50+ values
    for i in range(3000):
        n = int(rng.integers(50, 80)) if i % 500 == 7 else 1
        v = rng.normal(0, 100, n).astype(np.float32)
        m = gorilla_compress(v)
        models.append(m)
        lens.append(n)
        scalar.append(gorilla_decompress(m, n))
    perm = rng.permutation(len(models))
    models = [models[i] for i in perm]
    lens = [lens[i] for i in perm]
    scalar = [scalar[i] for i in perm]
    matrix = gorilla_decompress_matrix(models, np.array(lens))
    for a, row, n in zip(scalar, matrix, lens):
        np.testing.assert_array_equal(a, row[:n])


def test_gorilla_compress_rows_wire_identical():
    """The lockstep row encoder (round-7 single-timestamp group fast
    path) must be byte-identical to the scalar encoder for every row,
    across widths, repeats, zeros (incl. signed), denormals and
    extremes."""
    import numpy as np

    from modelardb_spark.models.gorilla import (
        gorilla_compress,
        gorilla_compress_rows,
    )

    rng = np.random.default_rng(123)
    for k in range(1, 9):
        vals = rng.standard_normal((500, k)).astype(np.float32)
        if k > 1:
            vals[::5, 1] = vals[::5, 0]  # repeat -> '0' control bit
            vals[::9] = np.round(vals[::9] * 10)  # integer-valued
        vals[::11] = 0.0
        vals[::13] = -vals[::13]
        for i, model in enumerate(gorilla_compress_rows(vals)):
            assert model == gorilla_compress(vals[i]), (k, i, vals[i])
    extremes = np.array(
        [
            [1e-40, -1e-40],  # denormals
            [3.4e38, -3.4e38],
            [1.0, 1.0000001],  # 1-ulp xor
            [0.0, -0.0],  # signed-zero xor
        ],
        dtype=np.float32,
    )
    for i, model in enumerate(gorilla_compress_rows(extremes)):
        assert model == gorilla_compress(extremes[i])
