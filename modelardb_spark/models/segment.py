"""Segment decoding: point reconstruction and closed-form aggregates.

Mirrors the reference's Segment hierarchy (core/models/Segment.java and
the per-model subclasses): a segment ``(start_ms, end_ms, interval_ms,
mtid, model)`` represents ``n = (end - start) / interval + 1`` points at
``start + i*interval`` (Segment.java:58-61, :97-108). Values:

- PMC (mtid 2): the stored constant (PMC_MeanModelType.java:122-140);
- Swing (mtid 3): ``float32(a*t + b)`` (SwingFilterModelType.java:237-239),
  min/max at the endpoints by slope sign, sum as the trapezoid of the
  unrounded doubles;
- Gorilla (mtid 4): the decompressed array;
- raw (mtid 1): the stored float32 array.

Two batched kernels cover every model type: `segment_points`
reconstructs every point of a batch of segment rows (behind `grid`,
`grid_group` and the DECODE_SEGMENT SQL function), and
`segment_partials` computes per (segment ∩ window) count/min/max/sum,
with ``window_ms=None`` as the whole-segment case. `model_params` is
the one decoder of PMC/Swing model bytes into ``(p0, p1)``. The fit
computes its own whole-segment aggregates (`models.cascade.fit_segment`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    MTID_PMC,
    MTID_RAW,
    MTID_SWING,
)
from modelardb_spark.models.gorilla import gorilla_decompress
from modelardb_spark.models.pmc_mean import pmc_value
from modelardb_spark.models.swing import swing_decode
from modelardb_spark.models.uncompressed import raw_decode


def segment_length(start_ms: int, end_ms: int, interval_ms: int) -> int:
    """n = (end - start) / interval + 1 (Segment.java:58-61)."""
    return int((end_ms - start_ms) // interval_ms) + 1


def decode_values(
    mtid: int, model: bytes, start_ms: int, end_ms: int, interval_ms: int
) -> np.ndarray:
    """Reconstruct all point values of a segment as float32."""
    n = segment_length(start_ms, end_ms, interval_ms)
    if mtid == MTID_PMC:
        return np.full(n, pmc_value(model), dtype=np.float32)
    if mtid == MTID_SWING:
        a, b = swing_decode(model)
        ts = start_ms + interval_ms * np.arange(n, dtype=np.float64)
        return (a * ts + b).astype(np.float32)
    if mtid == MTID_GORILLA:
        return gorilla_decompress(model, n)
    if mtid == MTID_RAW:
        return raw_decode(model)[:n]
    raise ValueError(f"unknown mtid {mtid}")


def decode_dense_matrix(
    mtids: np.ndarray, models: list[bytes], lengths: np.ndarray
) -> np.ndarray:
    """Batched decode of DENSE (Gorilla / raw) segments: returns an
    (n_segments, max(lengths)) float32 matrix, row i valid to
    lengths[i]. Gorilla rows decode in vectorized lockstep
    (gorilla_decompress_matrix): round i touches only the rows with
    more than i values, so a batch of mostly 1-value segments costs
    one gather round plus a few narrow ones. Raw rows are plain
    frombuffer casts.
    Called through `decode_member_matrix`, behind `segment_points` and
    `segment_partials` — no per-value Python anywhere."""
    n = len(models)
    lengths = np.asarray(lengths, dtype=np.int64)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float32)
    mtids = np.asarray(mtids)
    bad = ~np.isin(mtids, (MTID_GORILLA, MTID_RAW))
    if bad.any():
        # fail loudly like the scalar decode_values — silent all-zero
        # rows must never flow into rollups
        raise ValueError(
            f"decode_dense_matrix: non-dense mtid(s) {sorted(set(mtids[bad].tolist()))}"
        )
    max_n = int(lengths.max())
    out = np.zeros((n, max_n), dtype=np.float32)
    gor = np.flatnonzero(mtids == MTID_GORILLA)
    if gor.size:
        from modelardb_spark.models.gorilla import gorilla_decompress_matrix

        sub = gorilla_decompress_matrix(
            [models[i] for i in gor], lengths[gor]
        )
        out[gor, : sub.shape[1]] = sub
    for i in np.flatnonzero(mtids == MTID_RAW):
        v = raw_decode(models[i])[: lengths[i]]
        out[i, : v.size] = v
    return out


def decode_member_matrix(
    seg: pd.DataFrame,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched decode of DENSE (Gorilla / raw) segment rows: returns
    ``(values, n, start_ms, interval_ms)`` with `values` an
    (rows, max(n)) float32 matrix, row i valid to n[i].

    Rows with ``goff, gsize`` columns are members of interleaved group
    segments: each group payload decodes once and member i takes every
    gsize-th value from offset goff. Members exploded from one group
    row arrive consecutively and share (group key, start_ms, end_ms),
    where the group key is ``ukey`` (dimension groups, whose members'
    conv_id differs) or else ``conv_id``; such runs decode once, and a
    non-adjacent duplicate only costs a redundant decode. Rows with
    gsize 1, and frames without the columns (per-series segments),
    never merge: two metrics of one conversation can share
    (conv_id, start_ms, end_ms)."""
    start = seg["start_ms"].to_numpy().astype(np.int64)
    end = seg["end_ms"].to_numpy().astype(np.int64)
    si = seg["interval_ms"].to_numpy().astype(np.int64)
    n_ts = (end - start) // si + 1
    rows = len(seg)
    if "gsize" in seg.columns:
        gsize = seg["gsize"].to_numpy().astype(np.int64)
        goff = seg["goff"].to_numpy().astype(np.int64)
    else:
        gsize = np.ones(rows, dtype=np.int64)
        goff = np.zeros(rows, dtype=np.int64)
    first = gsize == 1
    first[0] = True
    if not first.all():
        key = seg["ukey" if "ukey" in seg.columns else "conv_id"].to_numpy()
        first[1:] |= (
            (key[1:] != key[:-1])
            | (start[1:] != start[:-1])
            | (end[1:] != end[:-1])
        )
    uniq = np.flatnonzero(first)
    models = list(seg["model"])
    mat = decode_dense_matrix(
        seg["mtid"].to_numpy()[uniq],
        [models[i] for i in uniq],
        (n_ts * gsize)[uniq],
    )
    if (gsize == 1).all():
        return mat, n_ts, start, si
    cols = goff[:, None] + gsize[:, None] * np.arange(
        int(n_ts.max()), dtype=np.int64
    )
    np.clip(cols, 0, mat.shape[1] - 1, out=cols)  # inactive tail lanes
    return mat[(np.cumsum(first) - 1)[:, None], cols], n_ts, start, si


def _decoded_partials(seg: pd.DataFrame, window_ms: int | None):
    """Gorilla/raw rows: decode, then one ``reduceat`` family over the
    runs of equal (row, window)."""
    vals, n_ts, start, si = decode_member_matrix(seg)
    idx = np.arange(vals.shape[1], dtype=np.int64)
    mask = idx[None, :] < n_ts[:, None]
    vals = vals[mask]
    row = np.repeat(np.arange(len(seg)), n_ts)
    if window_ms is None:
        wins = start[row]
    else:
        ts = (start[:, None] + si[:, None] * idx[None, :])[mask]
        wins = (ts // window_ms) * window_ms
    new = np.empty(vals.size, dtype=bool)
    new[0] = True
    new[1:] = (row[1:] != row[:-1]) | (wins[1:] != wins[:-1])
    starts = np.flatnonzero(new)
    return (
        row[starts],
        wins[starts],
        np.diff(np.append(starts, vals.size)).astype(np.int64),
        np.minimum.reduceat(vals, starts),
        np.maximum.reduceat(vals, starts),
        np.add.reduceat(vals.astype(np.float64), starts),
    )


def _closed_form_partials(seg: pd.DataFrame, window_ms: int | None):
    """PMC/Swing rows, operation for operation on the same
    float64/float32 arithmetic as the Catalyst column expressions of
    the parity oracle (tests/test_plans.py), so the partials are
    bit-identical to them:

      cnt  = long((sub_end - sub_start) / interval + 1)   [double div]
      PMC  : vmin = vmax = float32(p0);  vsum = p0 * cnt
      Swing: first/last = p0 * sub + p1 (float64),
             min/max by slope sign cast to float32,
             vsum = (first + last) / 2.0 * cnt
    """
    mt = seg["mtid"].to_numpy()
    s, e, iv = (
        seg[c].to_numpy().astype(np.int64)
        for c in ("start_ms", "end_ms", "interval_ms")
    )
    p0 = seg["p0"].to_numpy().astype(np.float64)
    p1 = seg["p1"].to_numpy().astype(np.float64)
    if window_ms is None:
        row = np.arange(s.size)
        win, ss, se = s, s, e
    else:
        # window explode: floor-div == Spark's floor(double-div) for
        # these magnitudes (an integer ms >= 1 away from a window
        # boundary can never cross it under ~1e-10 double error)
        w = window_ms
        nwin = e // w - s // w + 1
        row = np.repeat(np.arange(s.size), nwin)
        k = np.arange(row.size, dtype=np.int64) - (np.cumsum(nwin) - nwin)[row]
        win = (s // w * w)[row] + w * k
        ss = np.maximum(s[row], win)
        se = np.minimum(e[row], win + w - iv[row])
    cnt = ((se - ss) / iv[row] + 1.0).astype(np.int64)
    pm = mt[row] == MTID_PMC
    p0g, p1g = p0[row], p1[row]
    first = p0g * ss + p1g
    last = p0g * se + p1g
    p0f = p0g.astype(np.float32)
    sw_min = np.where(p0g == 0, p1g, np.where(p0g > 0, first, last))
    sw_max = np.where(p0g == 0, p1g, np.where(p0g < 0, first, last))
    return (
        row,
        win,
        cnt,
        np.where(pm, p0f, sw_min.astype(np.float32)),
        np.where(pm, p0f, sw_max.astype(np.float32)),
        np.where(pm, p0g * cnt, (first + last) / 2.0 * cnt),
    )


def segment_partials(seg: pd.DataFrame, window_ms: int | None = None):
    """Per-(segment ∩ window) (count, min, max, sum) of a batch of
    segment rows: the one implementation of aggregate-on-model (the
    reference's Segment.cube and SparkUDAF.scala:34-184). Behind every
    rollup tier, the group and dimension-group rollups and the
    COUNT_S..AVG_S SQL aggregates.

    `seg` carries ``mtid, model, start_ms, end_ms, interval_ms, p0,
    p1`` (PMC: p0 = constant; Swing: p0 = slope a, p1 = intercept b)
    and, for group members, the ``goff, gsize`` columns
    `decode_member_matrix` reads. PMC/Swing rows take closed forms on
    p0/p1; Gorilla/raw rows decode and reduce per window.
    ``window_ms=None`` is one window per segment, keyed by its start:
    the whole-segment aggregate.

    Returns arrays ``(row, window_ms, cnt, vmin, vmax, vsum)``, one
    entry per (segment ∩ window), `row` indexing `seg`: the dense rows
    first, then the PMC/Swing rows, each in (row, window) order. That
    order is the order in which a following aggregation adds the vsum
    partials, so it fixes the last bits of the stored sums.
    """
    mt = seg["mtid"].to_numpy()
    ana = (mt == MTID_PMC) | (mt == MTID_SWING)
    parts = []
    if not ana.all():
        dense = np.flatnonzero(~ana)
        row, *rest = _decoded_partials(seg.iloc[dense], window_ms)
        parts.append((dense[row], *rest))
    closed = np.flatnonzero(ana)  # runs on an empty batch too
    row, *rest = _closed_form_partials(seg.iloc[closed], window_ms)
    parts.append((closed[row], *rest))
    return tuple(np.concatenate(col) for col in zip(*parts))


def segment_points(seg: pd.DataFrame):
    """Every point of a batch of segment rows: the one implementation
    of point reconstruction (the reference's Segment.grid,
    Segment.java:97-108, which ViewDataPoint.scala calls). It runs
    behind `grid`, `grid_group` and the DECODE_SEGMENT SQL function.

    `seg` carries the columns `segment_partials` reads. PMC rows take
    ``float32(p0)``; Swing rows take ``float32(p0 * bin_ms + p1)``
    evaluated in float64, the arithmetic of a Catalyst
    ``CAST(p0 * bin_ms + p1 AS FLOAT)``, so the values are bit-identical
    to it; Gorilla/raw rows (group members with their stride too) go
    through `decode_member_matrix`.

    Returns arrays ``(row, bin_ms, value)``, one entry per point, `row`
    indexing `seg`, in (row, bin_ms) order.
    """
    start = seg["start_ms"].to_numpy().astype(np.int64)
    end = seg["end_ms"].to_numpy().astype(np.int64)
    si = seg["interval_ms"].to_numpy().astype(np.int64)
    n_ts = (end - start) // si + 1
    row = np.repeat(np.arange(len(seg)), n_ts)
    k = np.arange(row.size, dtype=np.int64) - (np.cumsum(n_ts) - n_ts)[row]
    bin_ms = start[row] + si[row] * k
    value = np.empty(row.size, dtype=np.float32)
    mt = seg["mtid"].to_numpy()
    ana = (mt == MTID_PMC) | (mt == MTID_SWING)
    on_ana = ana[row]
    r = row[on_ana]
    p0 = seg["p0"].to_numpy().astype(np.float64)[r]
    p1 = seg["p1"].to_numpy().astype(np.float64)[r]
    value[on_ana] = np.where(
        mt[r] == MTID_PMC, p0, p0 * bin_ms[on_ana] + p1
    ).astype(np.float32)
    if not ana.all():
        vals, n_d, _, _ = decode_member_matrix(seg.iloc[np.flatnonzero(~ana)])
        value[~on_ana] = vals[np.arange(vals.shape[1]) < n_d[:, None]]
    return row, bin_ms, value


def model_params(
    mtids: np.ndarray, models: list[bytes]
) -> tuple[np.ndarray, np.ndarray]:
    """``(p0, p1)`` of each segment, decoded from its model bytes: the
    PMC constant as one big-endian frombuffer (p1 NaN), the Swing
    ``(a, b)`` per serialized width, 8/12/16 B per `swing_model`. NaN
    for Gorilla/raw rows. These are the values the fit stores in the
    p0/p1 columns."""
    mtids = np.asarray(mtids, dtype=np.int64)
    n = mtids.size
    p0 = np.full(n, np.nan)
    p1 = np.full(n, np.nan)
    pmc = np.flatnonzero(mtids == MTID_PMC)
    if pmc.size:
        p0[pmc] = np.frombuffer(b"".join(models[i] for i in pmc), dtype=">f4")
    sw = np.flatnonzero(mtids == MTID_SWING)
    widths = np.array([len(models[i]) for i in sw], dtype=np.int64)
    for width, dt in (
        (8, np.dtype([("a", ">f4"), ("b", ">f4")])),
        (12, np.dtype([("a", ">f4"), ("b", ">f8")])),
        (16, np.dtype([("a", ">f8"), ("b", ">f8")])),
    ):
        sel = sw[widths == width]
        if sel.size:
            rec = np.frombuffer(b"".join(models[i] for i in sel), dtype=dt)
            p0[sel] = rec["a"]
            p1[sel] = rec["b"]
    return p0, p1


def segment_agg_batch(
    mtids: np.ndarray,
    models: list[bytes],
    starts: np.ndarray,
    ends: np.ndarray,
    sis: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Whole-segment (count, min, max, sum) of a batch of segment rows:
    returns (counts, mins, maxs, sums) arrays, one entry per row. The
    model parameters decode from the bytes (`model_params`), then
    `segment_partials` runs with one window per segment. The
    Arrow-batch body of the COUNT_S..AVG_S SQL aggregates
    (SparkUDAF.scala:34-184)."""
    p0, p1 = model_params(mtids, models)
    row, _, cnt, vmin, vmax, vsum = segment_partials(
        pd.DataFrame(
            {
                "mtid": mtids,
                "model": models,
                "start_ms": starts,
                "end_ms": ends,
                "interval_ms": sis,
                "p0": p0,
                "p1": p1,
            }
        )
    )
    order = np.argsort(row)  # one partial per row: a permutation
    return (
        cnt[order],
        vmin[order].astype(np.float64),
        vmax[order].astype(np.float64),
        vsum[order],
    )

