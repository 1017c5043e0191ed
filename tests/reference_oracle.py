"""Slow, literal pure-Python reimplementation of the reference's online
compression loop, used only as a test oracle to validate the vectorized
production cascade in modelardb_spark.models.

Follows core/SegmentGenerator.java + the three model types append-by-
append (group size 1), so its emitted (start, end, mtid, length) stream
is what the reference would produce for the same run.

Also holds the narrow per-(conv_id, metric) Spark fit `fit_segments`,
the parity reference the wide and fused production fits are checked
against, and the scalar reference decoders (`segment_grid`,
`decode_group_values`) that the batched point kernel
(`models.segment.segment_points`) is checked against, and the scalar
per-segment aggregate `segment_agg` that the batched aggregates and the
fit's own aggregates are checked against.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    MTID_PMC,
    MTID_RAW,
    MTID_SWING,
)
from modelardb_spark.models.errors import outside_percentage_error_bound
from modelardb_spark.models.gorilla import gorilla_compress, gorilla_decompress
from modelardb_spark.models.pmc_mean import pmc_model, pmc_value
from modelardb_spark.models.segment import decode_values, segment_length
from modelardb_spark.models.swing import (
    swing_decode,
    swing_minmax,
    swing_model,
    swing_sum,
)
from modelardb_spark.models.uncompressed import raw_decode, raw_model
from modelardb_spark.operators.fit import (
    _COLS,
    SEGMENT_SCHEMA,
    _fit_sorted_block,
    _flush,
    fit_arranged,
)

F32 = np.float32


class _PMC:
    mtid = 2

    def __init__(self, bound):
        self.bound = bound
        self.reset()

    def reset(self):
        self.n = 0
        self.min = np.finfo(np.float32).max
        self.max = -np.finfo(np.float32).max
        self.sum = 0.0
        self.ok = True

    def append(self, ts, v):
        if not self.ok:
            return False
        nmin = min(self.min, v)
        nmax = max(self.max, v)
        nsum = self.sum + float(v)
        avg = float(F32(nsum / (self.n + 1)))
        if outside_percentage_error_bound(
            self.bound, avg, float(nmin)
        ) or outside_percentage_error_bound(self.bound, avg, float(nmax)):
            self.ok = False
            return False
        self.min, self.max, self.sum = nmin, nmax, nsum
        self.n += 1
        return True

    def initialize(self, buf):
        self.reset()
        for ts, v in buf:
            if not self.append(ts, v):
                return

    def size(self, buf):
        return float("nan") if self.n == 0 else 4.0

    def model(self, buf):
        return pmc_model(np.array([v for _, v in buf], dtype=np.float32), self.n)


class _Line:
    def __init__(self, ts, vs, te, ve):
        self.a = (ve - vs) / (te - ts)
        self.b = vs - self.a * ts

    def get(self, ts):
        return self.a * ts + self.b


class _Swing:
    mtid = 3

    def __init__(self, bound):
        self.bound = bound
        self.reset()

    def reset(self):
        self.n = 0
        self.ok = True
        self.up = None
        self.lo = None
        self.init_pt = None

    def append(self, ts, v):
        if not self.ok:
            return False
        if self.n == 0:
            self.init_pt = (ts, float(v))
            self.n = 1
            return True
        dev = abs(float(v) * (self.bound / 100.1))
        t0, v0 = self.init_pt
        if self.n == 1:
            self.up = _Line(t0, v0, ts, float(v) + dev)
            self.lo = _Line(t0, v0, ts, float(v) - dev)
        else:
            uba = self.up.get(ts)
            lba = self.lo.get(ts)
            if uba + dev < v or lba - dev > v:
                self.ok = False
                return False
            if uba - dev > v:
                self.up = _Line(t0, v0, ts, float(v) + dev)
            if lba + dev < v:
                self.lo = _Line(t0, v0, ts, float(v) - dev)
        self.n += 1
        return True

    def initialize(self, buf):
        self.reset()
        for ts, v in buf:
            if not self.append(ts, v):
                return

    def _ab(self):
        a = (self.lo.a + self.up.a) / 2.0
        b = (self.lo.b + self.up.b) / 2.0
        return a, b

    def size(self, buf):
        if self.n < 2:
            return float("nan")
        a, b = self._ab()
        for ts, v in buf[: self.n]:
            approx = float(F32(a * ts + b))
            if outside_percentage_error_bound(self.bound, approx, float(v)):
                return float("nan")
        if float(F32(a)) == a and float(F32(b)) == b:
            return 8.0
        if float(F32(a)) == a:
            return 12.0
        return 16.0

    def model(self, buf):
        return swing_model(*self._ab())


class _Gorilla:
    mtid = 4

    def __init__(self, bound, length_bound):
        self.length_bound = length_bound
        self.reset()

    def reset(self):
        self.vals = []

    @property
    def n(self):
        return len(self.vals)

    def append(self, ts, v):
        if self.n == self.length_bound:
            return False
        self.vals.append(v)
        return True

    def initialize(self, buf):
        self.reset()
        for ts, v in buf:
            self.append(ts, v)

    def size(self, buf):
        if self.n == 0:
            return float("nan")
        return float(len(gorilla_compress(np.array(self.vals, dtype=np.float32))))

    def model(self, buf):
        return gorilla_compress(np.array(self.vals, dtype=np.float32))


def oracle_fit_run(ts_ms, values, error_bound=0.0, length_bound=50):
    """Replays the reference's online loop; returns list of
    (start_ms, end_ms, mtid, model_bytes, n)."""
    buf: list[tuple[int, np.float32]] = []
    models = [_PMC(error_bound), _Swing(error_bound), _Gorilla(error_bound, length_bound)]
    idx = 0
    out = []
    values = np.asarray(values, dtype=np.float32)

    def ratio(m):
        if m.n == 0:
            return float("nan")
        return 16.0 * m.n / (24.0 + m.size(buf))

    def emit_final():
        nonlocal buf
        best = models[0]
        for m in models:
            if not (ratio(m) < ratio(best)):
                best = m
        if (ratio(best) != ratio(best)) or best.n == 0:
            n = min(len(buf), length_bound)
            model = raw_model(np.array([v for _, v in buf], dtype=np.float32), n)
            mtid = 1
        else:
            n = best.n
            model = best.model(buf)
            mtid = best.mtid
        out.append((buf[0][0], buf[n - 1][0], mtid, model, n))
        buf = buf[n:]

    def reset_cascade():
        nonlocal idx
        idx = 0
        models[0].initialize(buf)

    models[0].initialize(buf)
    for ts, v in zip(ts_ms, values):
        buf.append((int(ts), v))
        if not models[idx].append(int(ts), v):
            idx += 1
            if idx == len(models):
                for m in models:
                    m.initialize(buf)
                emit_final()
                reset_cascade()
            else:
                models[idx].initialize(buf)
    # flush (SegmentGenerator.flushBuffer)
    while buf:
        for m in models:
            m.initialize(buf)
        emit_final()
    return out


# ---------------------------------------------------------------------------
# GROUP replay: the reference's cascade over the interleaved multi-series
# stream (core/SegmentGenerator.java:154-267 fed by TimeSeriesGroup), done
# append-by-append / timestamp-by-timestamp — the sequential counterpart of
# the vectorized modelardb_spark.operators.groupfit kernel, used only as a
# test / literal oracle.
# ---------------------------------------------------------------------------


def _group_swing_prefix(ts, v2d, bound):
    """Sequential Swing interval filter over a group run: ONE line within
    the bound of EVERY member at every timestamp, pivoted through
    (t0, first member's value) — SwingFilterModelType.java:36-103 under
    same-timestamp appends. Returns (prefix_timestamps, a, b). It keeps
    the per-timestamp band form of the rejection test (the line leaves
    [max_i(v_i - dev_i), min_i(v_i + dev_i)]), while the engine's
    `models.swing.swing_fit` applies the reference's per-point test
    ``uba + dev < v or lba - dev > v`` to every member; the two agree in
    exact arithmetic, and the parity tests check that they pick the
    same prefixes."""
    n_ts, n_mem = v2d.shape
    if n_ts < 2:
        return n_ts, 0.0, 0.0
    v = v2d.astype(np.float64)
    dev = np.abs(v * (bound / 100.1))
    lo_k = (v - dev).max(axis=1)
    hi_k = (v + dev).min(axis=1)
    t = np.asarray(ts, dtype=np.float64)
    t0 = t[0]
    v0 = float(v2d[0, 0])
    if not (lo_k[0] <= hi_k[0] and lo_k[0] <= v0 <= hi_k[0] and lo_k[1] <= hi_k[1]):
        return 1, 0.0, 0.0
    dt = t[1] - t0
    up_a = (hi_k[1] - v0) / dt
    lo_a = (lo_k[1] - v0) / dt
    prefix = 2
    for k in range(2, n_ts):
        tk = t[k]
        uba = up_a * tk + (v0 - up_a * t0)
        lba = lo_a * tk + (v0 - lo_a * t0)
        if (uba < lo_k[k]) or (lba > hi_k[k]) or not (lo_k[k] <= hi_k[k]):
            break
        dt = tk - t0
        up_a = min(up_a, (hi_k[k] - v0) / dt)
        lo_a = max(lo_a, (lo_k[k] - v0) / dt)
        prefix += 1
    a = (lo_a + up_a) / 2.0
    b = ((v0 - lo_a * t0) + (v0 - up_a * t0)) / 2.0
    return prefix, a, b


def oracle_fit_group_run(ts_ms, vals2d, error_bound=0.0, length_bound=50, n_gaps=0):
    """Sequential replay of the group cascade over ONE gap-free run of a
    fixed active-member set; returns a list of
    (start_ms, end_ms, mtid, model_bytes, n_values) group segments.
    `vals2d` is (T, N) for the present members in interleave order;
    `n_gaps` is the absent-member count (4 bytes each in the ratio,
    ModelType.java:49-54)."""
    from modelardb_spark.models.errors import outside_percentage_error_bound
    from modelardb_spark.models.swing import swing_model
    from modelardb_spark.models.pmc_mean import pmc_model
    from modelardb_spark.models.uncompressed import raw_model

    ts = [int(x) for x in ts_ms]
    v = np.asarray(vals2d, dtype=np.float32)
    n_ts, n_mem = v.shape
    gap_bytes = 4.0 * n_gaps
    max_vals = max(n_mem, (length_bound // n_mem) * n_mem)
    out = []
    pos = 0
    while pos < n_ts:
        rest = np.ascontiguousarray(v[pos:]).reshape(-1)
        # PMC over the interleaved stream: sequential reference appends
        pmc = _PMC(error_bound)
        p = 0
        for val in rest:
            if not pmc.append(0, val):
                break
            p += 1
        p_n = (p // n_mem) * n_mem  # whole timestamps only
        pmc_ratio = (
            16.0 * p_n / (24.0 + 4.0 + gap_bytes) if p_n >= n_mem else float("nan")
        )
        # Swing: shared line + float32 re-verification over every member
        sw_ts, sw_a, sw_b = _group_swing_prefix(ts[pos:], v[pos:], error_bound)
        sw_model, sw_ratio = None, float("nan")
        if sw_ts >= 2:
            tt = np.asarray(ts[pos : pos + sw_ts], dtype=np.float64)
            approx = (sw_a * tt + sw_b).astype(np.float32)
            ok = True
            for k in range(sw_ts):
                for j in range(n_mem):
                    if outside_percentage_error_bound(
                        error_bound, float(approx[k]), float(v[pos + k, j])
                    ):
                        ok = False
                        break
                if not ok:
                    break
            if ok:
                sw_model = swing_model(sw_a, sw_b)
                sw_ratio = 16.0 * (sw_ts * n_mem) / (
                    24.0 + len(sw_model) + gap_bytes
                )
        # Gorilla over the interleaved stream, length-bounded
        g_n = min(rest.size, max_vals)
        g_bytes = gorilla_compress(rest[:g_n])
        gor_ratio = 16.0 * g_n / (24.0 + len(g_bytes) + gap_bytes)

        # reference fold: NaN < x is false -> later model wins ties/NaNs
        candidates = [
            (2, p_n, pmc_ratio, None),
            (3, sw_ts * n_mem, sw_ratio, sw_model),
            (4, g_n, gor_ratio, g_bytes),
        ]
        best = candidates[0]
        for cand in candidates:
            if not (cand[2] < best[2]):
                best = cand
        mtid, length, ratio, model = best
        if (ratio != ratio) or length == 0:
            length = min(rest.size, max_vals)
            mtid, model = 1, raw_model(rest, length)
        elif mtid == 2:
            model = pmc_model(rest, length)
        seg_ts = length // n_mem
        out.append((ts[pos], ts[pos + seg_ts - 1], mtid, bytes(model), length))
        pos += seg_ts
    return out


def segment_grid(mtid, model, start_ms, end_ms, interval_ms):
    """(timestamps_ms, values) for every point of one segment."""
    n = segment_length(start_ms, end_ms, interval_ms)
    ts = start_ms + interval_ms * np.arange(n, dtype=np.int64)
    return ts, decode_values(mtid, model, start_ms, end_ms, interval_ms)


def decode_group_values(
    mtid, model, n_ts, gsize, goff, start_ms=0, interval_ms=1
):
    """Member values of a group segment: decode the interleaved payload
    and stride by (goff, gsize). PMC is the shared constant; Swing is
    the shared line float32(a*t + b), identical for every member."""
    if mtid == MTID_PMC:
        return np.full(n_ts, pmc_value(model), dtype=np.float32)
    if mtid == MTID_SWING:
        a, b = swing_decode(model)
        t = start_ms + interval_ms * np.arange(n_ts, dtype=np.float64)
        return (a * t + b).astype(np.float32)
    total = n_ts * gsize
    if mtid == MTID_GORILLA:
        return gorilla_decompress(model, total)[goff::gsize]
    if mtid == MTID_RAW:
        return raw_decode(model)[:total][goff::gsize]
    raise ValueError(f"unsupported group mtid {mtid}")


def segment_agg(mtid, model, start_ms, end_ms, interval_ms):
    """Closed-form (count, min, max, sum) of one segment without
    gridding where the model allows (the reference's aggregate-on-model
    capability, SparkUDAF.scala:34-184 backed by the per-model Segment
    methods)."""
    n = segment_length(start_ms, end_ms, interval_ms)
    if mtid == MTID_PMC:
        v = pmc_value(model)
        return n, v, v, float(v) * n
    if mtid == MTID_SWING:
        a, b = swing_decode(model)
        lo, hi = swing_minmax(a, b, start_ms, end_ms)
        return n, lo, hi, swing_sum(a, b, start_ms, end_ms, n)
    values = decode_values(mtid, model, start_ms, end_ms, interval_ms)
    return (
        n,
        float(values.min()),
        float(values.max()),
        float(values.sum(dtype=np.float64)),
    )


def _fit_runs(error_bound: float, length_bound: int, interval_ms: int):
    """Per-run body of `fit_segments`: rows sorted by (conv_id, metric,
    salt, bin_ms) with one `value` column."""

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        out: dict[str, list] = {c: [] for c in _COLS}
        vals = pdf["value"].to_numpy().astype(np.float32)
        keep = ~np.isnan(vals)
        _fit_sorted_block(
            pdf["conv_id"].to_numpy()[keep],
            pdf["metric"].to_numpy()[keep],
            pdf["salt"].to_numpy()[keep],
            pdf["bin_ms"].to_numpy().astype(np.int64)[keep],
            vals[keep],
            error_bound,
            length_bound,
            interval_ms,
            out,
        )
        df = _flush(out, interval_ms)
        if df is not None:
            yield df

    return fit


def fit_segments(series: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Narrow series (conv_id, metric, bin_ms, value) -> segments
    (SEGMENT_SCHEMA): one shuffle on the salted (conv_id, metric) key,
    every series fitted on its own. The wide and fused production fits
    must return the same rows (tests/test_fit_wide.py)."""
    return fit_arranged(
        series,
        cfg,
        ["conv_id", "metric"],
        _fit_runs(cfg.error_bound, cfg.length_bound, cfg.interval_ms),
        SEGMENT_SCHEMA,
    )
