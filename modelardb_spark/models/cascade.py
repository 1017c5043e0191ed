"""Greedy model-selection cascade over one gap-free run.

Offline re-expression of the reference's online SegmentGenerator
(core/SegmentGenerator.java:116-207,228-287). A run is a (T, N) float32
matrix: N member series on one shared timestamp grid, compressed as the
row-major interleaved stream (t0,s0),(t0,s1),(t1,s0),... that
SegmentGenerator.java:154-167 feeds every model type. A per-series run
is a group of one (N = 1).

Equivalence argument: every model's `append` fails monotonically, so
whenever the reference emits a segment, each model type's length
equals its maximal representable prefix of the then-current buffer —
which `fit_segment` computes directly (vectorized where the model
allows), floored to whole timestamps so a segment always covers full
grid rows. Selection is the reference's exact left fold over [PMC,
Swing, Gorilla] with ``best = (ratio(m) < ratio(best)) ? best : m`` —
NaN comparisons are false in both Java and Python, so an invalid Swing
model shadows an earlier PMC candidate exactly as in the reference
(SegmentGenerator.java:230-233) — falling back to the raw model when
the winner's ratio is NaN or its length is 0 (:238-243).

Compression ratio per (ModelType.java:49-54):
``16 * length / (24 + payload_bytes + 4 * gap_entries)``. The caller
passes the gap term as `gap_bytes`: a group segment stores one 4-byte
entry per absent member, while a per-series run never stores a gap (a
NaN value flushes the buffer before the tid is added, and the end of
the gap flushes again before new points arrive), so it passes 0.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from modelardb_spark.models.gorilla import gorilla_compress
from modelardb_spark.models.pmc_mean import pmc_model, pmc_prefix, pmc_value
from modelardb_spark.models.swing import (
    swing_fit,
    swing_minmax,
    swing_model,
    swing_sum,
    swing_verify,
)
from modelardb_spark.models.uncompressed import raw_model

MTID_RAW = 1
MTID_PMC = 2
MTID_SWING = 3
MTID_GORILLA = 4

_METADATA_BYTES = 24.0
_RAW_BYTES_PER_POINT = 16.0

#: initial window of the vectorized prefix searches; doubled until the
#: model stops accepting, keeping total work O(run_length) for long
#: covers while a SHORT segment (the common case: segments average
#: 5-50 points) only ever scans one small window instead of a full
#: 4096-value pass per cascade iteration
_CHUNK = 128


class FittedSegment(NamedTuple):
    start_ms: int
    end_ms: int
    mtid: int
    model: bytes
    #: stored values: covered timestamps x members
    n: int
    #: PMC: p0 = the constant; Swing: p0 = slope a, p1 = intercept b;
    #: NaN otherwise
    p0: float
    p1: float
    #: per-member aggregates of the reconstruction, in member order
    mins: np.ndarray  # float32
    maxs: np.ndarray  # float32
    sums: np.ndarray  # float64


def _ratio(length: int, payload_bytes: float) -> float:
    if length == 0:
        return float("nan")
    return (_RAW_BYTES_PER_POINT * length) / (_METADATA_BYTES + payload_bytes)


def fit_segment(
    ts: np.ndarray,
    vals2d: np.ndarray,
    error_bound: float,
    max_vals: int,
    gap_bytes: float = 0.0,
) -> FittedSegment:
    """Fit exactly one segment at the front of a run.

    `ts` is int64 with a constant step; `vals2d` is a C-contiguous
    (T, N) float32 matrix, NaN-free. `max_vals` caps the Gorilla and
    raw models in stored values and must be a multiple of N."""
    n_ts, n_mem = vals2d.shape
    inter = vals2d.reshape(-1)
    # PMC: doubling window over the interleaved stream
    limit = _CHUNK
    while True:
        window = inter[:limit]
        pmc_len = pmc_prefix(window, error_bound)
        if pmc_len < window.size or window.size == inter.size:
            break
        limit *= 2
    pmc_len -= pmc_len % n_mem
    # Swing: one line within the bound of every member; the reference
    # invalidates (size -> NaN) a line that fails the float32
    # re-verification over its covered prefix (:144-174)
    limit = _CHUNK
    while True:
        m = min(limit, n_ts)
        sw_ts, a, b = swing_fit(ts[:m], vals2d[:m], error_bound)
        if sw_ts < m or m == n_ts:
            break
        limit *= 2
    sw_model = None
    sw_ratio = float("nan")
    if sw_ts >= 2 and swing_verify(ts[:sw_ts], vals2d[:sw_ts], a, b, error_bound):
        sw_model = swing_model(a, b)
        sw_ratio = _ratio(sw_ts * n_mem, len(sw_model) + gap_bytes)
    gor_len = min(inter.size, max_vals)
    gor_model = gorilla_compress(inter[:gor_len])

    # reference fold (SegmentGenerator.java:230-233): NaN < x is false,
    # so a NaN candidate replaces the incumbent
    candidates = (
        (MTID_PMC, pmc_len, _ratio(pmc_len, 4.0 + gap_bytes)),
        (MTID_SWING, sw_ts * n_mem, sw_ratio),
        (MTID_GORILLA, gor_len, _ratio(gor_len, len(gor_model) + gap_bytes)),
    )
    best = candidates[0]
    for cand in candidates:
        if not (cand[2] < best[2]):
            best = cand
    mtid, length, ratio = best
    if not (ratio == ratio) or length == 0:  # NaN ratio or empty
        mtid, length = MTID_RAW, min(inter.size, max_vals)

    seg_ts = length // n_mem
    start_ms, end_ms = int(ts[0]), int(ts[seg_ts - 1])
    p0 = p1 = float("nan")
    # aggregates describe the reconstruction
    if mtid == MTID_PMC:
        model = pmc_model(inter, length)
        p0 = float(pmc_value(model))
        mins = maxs = np.full(n_mem, p0, dtype=np.float32)
        sums = np.full(n_mem, p0 * seg_ts)
    elif mtid == MTID_SWING:
        model, p0, p1 = sw_model, a, b
        lo, hi = swing_minmax(a, b, start_ms, end_ms)
        mins = np.full(n_mem, lo, dtype=np.float32)
        maxs = np.full(n_mem, hi, dtype=np.float32)
        sums = np.full(n_mem, swing_sum(a, b, start_ms, end_ms, seg_ts))
    else:
        model = gor_model if mtid == MTID_GORILLA else raw_model(inter, length)
        block = vals2d[:seg_ts]
        mins, maxs = block.min(axis=0), block.max(axis=0)
        sums = block.sum(axis=0, dtype=np.float64)
    return FittedSegment(
        start_ms, end_ms, mtid, model, length, p0, p1, mins, maxs, sums
    )


def fit_run(
    timestamps_ms: np.ndarray,
    values: np.ndarray,
    error_bound: float = 0.0,
    length_bound: int = 50,
    gap_bytes: float = 0.0,
) -> list[FittedSegment]:
    """Segment one gap-free, sorted, regularly-spaced run.

    `timestamps_ms` must be strictly increasing with a constant step
    (the bin width); `values` are float32, NaN-free (gaps are split off
    by the caller, mirroring SegmentGenerator.java:131-148), either 1-D
    or a (T, N) matrix of N members. `length_bound` counts stored
    values (every member's, like the reference's per-DataPoint
    accounting), floored to whole timestamps."""
    ts = np.asarray(timestamps_ms, dtype=np.int64)
    v = np.ascontiguousarray(values, dtype=np.float32).reshape(ts.size, -1)
    n_mem = v.shape[1]
    max_vals = max(n_mem, (length_bound // n_mem) * n_mem)
    out: list[FittedSegment] = []
    pos = 0
    while pos < ts.size:
        seg = fit_segment(ts[pos:], v[pos:], error_bound, max_vals, gap_bytes)
        out.append(seg)
        pos += seg.n // n_mem
    return out
