"""Swing-filter linear model.

Semantics cloned from the reference (core/models/SwingFilterModelType.java):
maintain upper/lower bounding lines pivoting through the first point,
narrow them per appended point, and represent the prefix by the average
of the two bounds. Two reference quirks are preserved exactly:

- the allowed absolute deviation is ``|value * bound / 100.1|`` (not
  100.0) to absorb floating-point slack (reference :64);
- before a fitted line may be used, every covered point is re-verified
  at float32 precision (``float32(a*t + b)`` vs the point, reference
  :144-174); if any point falls outside the bound the model is invalid
  (size = NaN) and the cascade will not select it. This re-verification
  is what guarantees the north rule's "every reconstructed point within
  the error bound" regardless of how the prefix itself was found.

The prefix search here is a vectorized reformulation: both bounding
lines always pass through the pivot ``(t0, v0)``, so tightening the
upper (lower) bound is equivalent to a running min (max) over candidate
slopes — identical to the reference's conditional updates in exact
arithmetic, and any float-level divergence is caught by the float32
re-verification above. The same search serves a group run: the N
same-timestamp appends the reference feeds the filter for a (T, N)
member matrix (SegmentGenerator.java:154-167) constrain the line to the
band ``[max_i(v_i - dev_i), min_i(v_i + dev_i)]`` at each timestamp.
"""

from __future__ import annotations

import struct

import numpy as np

from modelardb_spark.models.errors import outside_bound_vec


def swing_fit(
    timestamps: np.ndarray, values: np.ndarray, error_bound: float
) -> tuple[int, float, float]:
    """Fit one line to the maximal prefix of a run: 1-D `values`, or a
    (T, N) matrix of N members sharing `timestamps`.

    Slopes come from the per-timestamp bands. The pivot is the first
    member's first value and must lie in every member's band at t0, and
    a timestamp whose members' bands do not overlap ends the prefix.
    Point i >= 2 is rejected by the reference's per-point test
    ``uba + dev < v or lba - dev > v`` against the bounds as of point
    i-1, for every member. With N = 1 every band is the point's own
    ``[v - dev, v + dev]``, so both extra checks always pass.

    Returns ``(prefix_timestamps, a, b)`` where the line is ``a*t + b``
    in float64; ``prefix_timestamps < 2`` means no line can be fitted.
    """
    t = np.asarray(timestamps, dtype=np.float64)
    n = t.size
    if n < 2:
        return n, 0.0, 0.0
    v = np.asarray(values, dtype=np.float32).astype(np.float64).reshape(n, -1)
    dev = np.abs(v * (error_bound / 100.1))
    if v.shape[1] == 1:  # one member's band is its own [v - dev, v + dev]
        lo_k, hi_k = (v - dev)[:, 0], (v + dev)[:, 0]
    else:
        lo_k, hi_k = (v - dev).max(axis=1), (v + dev).min(axis=1)
    infeasible = ~(lo_k <= hi_k)
    t0, v0 = t[0], v[0, 0]
    if infeasible[0] or infeasible[1] or not (lo_k[0] <= v0 <= hi_k[0]):
        return 1, 0.0, 0.0

    # candidate slopes from pivoting each timestamp's band
    dt = t[1:] - t0
    hi = np.minimum.accumulate((hi_k[1:] - v0) / dt)
    lo = np.maximum.accumulate((lo_k[1:] - v0) / dt)

    # check point i (i >= 2) against the bounds as of point i-1, using the
    # reference's exact evaluation form a*t + b with b = v0 - a*t0
    prefix = n
    if n > 2:
        hi_prev, lo_prev = hi[:-1, None], lo[:-1, None]
        ti, vi, di = t[2:, None], v[2:], dev[2:]
        uba = hi_prev * ti + (v0 - hi_prev * t0)
        lba = lo_prev * ti + (v0 - lo_prev * t0)
        fail = (uba + di < vi) | (lba - di > vi) | infeasible[2:, None]
        if fail.any():  # first failing timestamp: row of the first flag
            prefix = int(np.argmax(fail)) // fail.shape[1] + 2
    hi_a, lo_a = hi[prefix - 2], lo[prefix - 2]
    a = (lo_a + hi_a) / 2.0
    b = ((v0 - lo_a * t0) + (v0 - hi_a * t0)) / 2.0
    return prefix, a, b


def swing_verify(
    timestamps: np.ndarray,
    values: np.ndarray,
    a: float,
    b: float,
    error_bound: float,
) -> bool:
    """Float32-precision verification pass (reference :144-174): every
    point (every member's, for a (T, N) `values`) must be within the
    bound of float32(a*t + b)."""
    t = np.asarray(timestamps, dtype=np.float64)
    approx = (a * t + b).astype(np.float32)
    v = np.asarray(values, dtype=np.float32)
    if v.ndim == 2:
        approx = approx[:, None]
    return not outside_bound_vec(error_bound, approx, v).any()


def swing_model(a: float, b: float) -> bytes:
    """Serialize at 8/12/16 bytes depending on whether float32 preserves
    a and b exactly (reference :118-129); big-endian like Java."""
    a_fits = float(np.float32(a)) == a
    b_fits = float(np.float32(b)) == b
    if a_fits and b_fits:
        return struct.pack(">ff", np.float32(a), np.float32(b))
    if a_fits:
        return struct.pack(">fd", np.float32(a), b)
    return struct.pack(">dd", a, b)


def swing_decode(model: bytes) -> tuple[float, float]:
    """Decode (a, b); widths per swing_model (reference :187-202)."""
    if len(model) == 16:
        return struct.unpack(">dd", model)
    if len(model) == 12:
        a, b = struct.unpack(">fd", model)
        return float(a), b
    a, b = struct.unpack(">ff", model)
    return float(a), float(b)


def swing_minmax(a: float, b: float, start_ms: int, end_ms: int) -> tuple[float, float]:
    """Closed-form segment min/max: the endpoints, picked by slope sign,
    evaluated at float32 like grid values (reference :205-225)."""
    if a == 0:
        v = np.float32(b)
        return float(v), float(v)
    first = float(np.float32(a * start_ms + b))
    last = float(np.float32(a * end_ms + b))
    return (first, last) if a > 0 else (last, first)


def swing_sum(a: float, b: float, start_ms: int, end_ms: int, n: int) -> float:
    """Closed-form segment sum: trapezoid of the unrounded doubles
    (reference :227-233)."""
    first = a * start_ms + b
    last = a * end_ms + b
    return (first + last) / 2.0 * n
