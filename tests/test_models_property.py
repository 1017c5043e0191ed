"""Property-based tests (hypothesis) for the model layer — SURVEY.md
§5 item 6, strengthened: arbitrary float32 series through fit+grid must
(a) cover every point exactly once, (b) satisfy the error-bound
invariant, (c) agree with the literal reference-loop oracle."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from modelardb_spark.models import fit_run, outside_percentage_error_bound
from modelardb_spark.models.gorilla import gorilla_compress, gorilla_decompress
from tests.reference_oracle import (
    decode_group_values,
    oracle_fit_run,
    segment_grid,
)

INTERVAL = 60_000

finite_f32 = st.floats(
    min_value=np.float32(-1e30),
    max_value=np.float32(1e30),
    allow_nan=False,
    width=32,
)


@settings(max_examples=60, deadline=None)
@given(st.lists(finite_f32, min_size=1, max_size=120), st.sampled_from([0.0, 1.0, 10.0]))
def test_fit_grid_error_bound_invariant(values, bound):
    v = np.array(values, dtype=np.float32)
    t = INTERVAL * np.arange(v.size, dtype=np.int64)
    segs = fit_run(t, v, error_bound=bound)
    assert sum(s.n for s in segs) == v.size
    pos = 0
    for s in segs:
        ts, got = segment_grid(s.mtid, s.model, s.start_ms, s.end_ms, INTERVAL)
        np.testing.assert_array_equal(ts, t[pos : pos + s.n])
        for real, approx in zip(v[pos : pos + s.n], got):
            assert not outside_percentage_error_bound(
                bound, float(approx), float(real)
            )
        if bound == 0.0:
            np.testing.assert_array_equal(got, v[pos : pos + s.n])
        pos += s.n


@settings(max_examples=40, deadline=None)
@given(st.lists(finite_f32, min_size=1, max_size=80))
def test_fit_matches_reference_loop(values):
    v = np.array(values, dtype=np.float32)
    t = INTERVAL * np.arange(v.size, dtype=np.int64)
    ours = [(s.start_ms, s.end_ms, s.mtid, s.model, s.n) for s in fit_run(t, v)]
    assert ours == oracle_fit_run(t, v)


@settings(max_examples=80, deadline=None)
@given(st.lists(finite_f32, min_size=1, max_size=50))
def test_gorilla_lossless(values):
    v = np.array(values, dtype=np.float32)
    out = gorilla_decompress(gorilla_compress(v), v.size)
    np.testing.assert_array_equal(v.view(np.uint32), out.view(np.uint32))


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=100,
    )
)
def test_delta_of_delta_lossless(ts):
    """Any int64 sequence (monotone or not, full int64 range) round-
    trips through the delta-of-delta timestamp codec bit-exactly: both
    sides work mod 2^64, so deltas/dods outside int64 still wrap
    consistently."""
    from modelardb_spark.models.deltadelta import dod_compress, dod_decompress

    a = np.array(ts, dtype=np.int64)
    np.testing.assert_array_equal(dod_decompress(dod_compress(a), a.size), a)


def test_delta_of_delta_extreme_delta_wraps_exactly():
    """Consecutive deltas past the int64 range (the ADVICE-round repro
    [0, 2^62, -2^62]) round-trip: the codec's mod-2^64 contract."""
    from modelardb_spark.models.deltadelta import dod_compress, dod_decompress

    for case in ([0, 2**62, -(2**62)], [-(2**63), 2**63 - 1, 0, -(2**63)]):
        a = np.array(case, dtype=np.int64)
        np.testing.assert_array_equal(
            dod_decompress(dod_compress(a), a.size), a
        )


def test_delta_of_delta_regular_grid_is_one_bit_per_point():
    from modelardb_spark.models.deltadelta import dod_compress, dod_decompress

    bins = 1_704_067_200_000 + 60_000 * np.arange(1440, dtype=np.int64)
    blob = dod_compress(bins)
    # 64b first ts + 37b first delta + 1 bit per remaining point
    assert len(blob) <= 8 + 5 + 1440 // 8 + 2, len(blob)
    np.testing.assert_array_equal(dod_decompress(blob, bins.size), bins)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), finite_f32), st.one_of(st.none(), finite_f32)
        ),
        min_size=1,
        max_size=80,
    ),
    st.lists(st.booleans(), min_size=0, max_size=79),
)
def test_group_fit_roundtrip_property(rows, gaps_between):
    """Arbitrary 2-member group runs with arbitrary per-member gaps
    (None values) and arbitrary time gaps: fitting as a group and
    decoding every member via the stride must reproduce exactly the
    non-NaN inputs — point for point, member for member. Runs the
    STATIC cascade and the ratio-feedback DYNAMIC split/join: at bound
    0 both must cover every point exactly once with exact values."""
    import pandas as pd

    # build the wide frame with optional >1-bin jumps between rows
    bins = []
    cur = 0
    for i in range(len(rows)):
        bins.append(cur)
        step = 2 if i < len(gaps_between) and gaps_between[i] else 1
        cur += step * INTERVAL
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(rows),
            "salt": [0] * len(rows),
            "bin_ms": bins,
            "turn_rate": [r[0] for r in rows],
            "tool_usage": [r[1] for r in rows],
        }
    )
    _roundtrip_group_paths(pdf, bins)


def _roundtrip_group_paths(pdf, bins):
    import pandas as pd

    from modelardb_spark.operators.groupfit import (
        DYNAMIC_SPLIT_FRACTION,
        _fit_group_runs,
    )

    for split_fraction in (None, DYNAMIC_SPLIT_FRACTION):
        fit = _fit_group_runs(0.0, 50, INTERVAL, split_fraction)
        frames = list(fit(pdf))
        segs = pd.concat(frames, ignore_index=True) if frames else None
        out = {0: {}, 1: {}}
        if segs is not None and len(segs):
            for row in segs.itertuples(index=False):
                n_ts = int((row.end_ms - row.start_ms) // INTERVAL) + 1
                for goff, tid in enumerate(row.tids):
                    vals = decode_group_values(
                        row.mtid, row.model, n_ts, row.group_size, goff,
                        row.start_ms, INTERVAL,
                    )
                    for j in range(n_ts):
                        b = row.start_ms + j * INTERVAL
                        assert b not in out[tid], "duplicate coverage"
                        out[tid][b] = float(vals[j])
        for tid, col in ((0, "turn_rate"), (1, "tool_usage")):
            want = {
                int(b): float(np.float32(v))
                for b, v in zip(pdf["bin_ms"], pdf[col])
                if v is not None and not (isinstance(v, float) and np.isnan(v))
            }
            assert out[tid] == want, f"split_fraction={split_fraction}"


@pytest.mark.parametrize("width", [3, 70])
@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), finite_f32),
            st.one_of(st.none(), finite_f32),
            st.one_of(st.none(), finite_f32),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_dim_group_fit_roundtrip_property(width, rows):
    """Arbitrary sparse dimension groups of `width` members through the
    variable-width kernel (sorted sparse rows -> member matrix ->
    shared cascade): every present value must decode back exactly at
    bound 0, each exactly once, with absent members in `gaps`. The
    three drawn members sit at the first, middle and last member index,
    so width 70 reaches member indexes >= 64."""
    import pandas as pd

    from modelardb_spark.operators.dimgroup import _fit_dim_group_runs

    slots = np.linspace(0, width - 1, 3).astype(int).tolist()
    recs = []
    for i, vals in enumerate(rows):
        for m, v in zip(slots, vals):
            if v is not None:
                recs.append(("g", 0, i * INTERVAL, m, float(np.float32(v)), width))
    if not recs:
        return
    pdf = pd.DataFrame(
        recs, columns=["gkey", "salt", "bin_ms", "midx", "value", "gsize"]
    )
    fit = _fit_dim_group_runs(0.0, 50, INTERVAL)
    frames = list(fit(pdf))
    segs = pd.concat(frames, ignore_index=True) if frames else None
    out = {m: {} for m in slots}
    if segs is not None and len(segs):
        for row in segs.itertuples(index=False):
            n_ts = int((row.end_ms - row.start_ms) // INTERVAL) + 1
            assert sorted(list(row.tids) + list(row.gaps)) == list(range(width))
            for goff, tid in enumerate(row.tids):
                vals = decode_group_values(
                    row.mtid, row.model, n_ts, row.group_size, goff,
                    row.start_ms, INTERVAL,
                )
                for j in range(n_ts):
                    b = row.start_ms + j * INTERVAL
                    assert b not in out[tid], "duplicate coverage"
                    out[tid][b] = float(vals[j])
    want = {m: {} for m in slots}
    for (_, _, b, m, v, _) in recs:
        want[m][b] = float(np.float32(v))
    assert out == want
