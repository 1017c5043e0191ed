"""Multi-series GROUP compression: one model row covering N correlated
series (the reference's defining mechanism).

Reference semantics re-expressed Spark-first:

- A *group* is a set of time series sharing one sampling-interval grid
  (core/TimeSeriesGroup.java). Here the natural group is a
  conversation: its metrics (turn_rate, tool_usage, ...) are defined on
  exactly the same 1-minute bins.
- At each timestamp the group emits one value per member series; the
  model compresses the row-major interleaved stream
  (t0,s0),(t0,s1),(t1,s0),(t1,s1),... — one segment row then covers
  N series (one 24-byte metadata record instead of N; measured ~1.9x
  stored-bytes win on the transcripts workload, see
  tests/test_groupfit.py::test_group_compression_beats_per_series).
- *Gaps*: when a member series has no value at the current grid of
  timestamps, the reference flushes and records the absent tids on the
  following segments (TimeSeriesGroup.java:153-176 emits NaN for the
  gapped member; SegmentGenerator flushes on activity change). Here a
  run is split whenever the active-member set changes, and each group
  segment stores `gaps` = the ABSENT tids (SegmentGroup offsets
  protocol, core/SegmentGroup.java:51-111).
- *Explode*: at query time each group segment fans out to one logical
  segment per present tid (SegmentGroup.explode, :51-111) carrying
  (group_offset, group_size) so the decoder strides the interleaved
  payload. Implemented as a JVM-side posexplode; the members then run
  through the same point and partials kernels as per-series segments.

Model cascade for groups — the reference's any-model-on-group-stream
contract (core/SegmentGenerator.java:154-167 iterates every configured
model type over the interleaved DataPoint stream): PMC-Mean (the
shared constant must satisfy the bound for every member's value at
every timestamp) -> Swing (one shared line: the N same-timestamp
appends the reference feeds SwingFilterModelType.java:36-103
constrain the line to the interval [max_i(v_i - dev_i),
min_i(v_i + dev_i)] at each timestamp, which is exactly how
`_group_swing_fit` runs the filter — sequential-append parity at the
float level is guaranteed the same way as per-series Swing, by the
float32 re-verification pass, reference :144-174) -> Gorilla on the
interleaved stream (GorillaModelType appends all N values per
timestamp into one XOR stream) -> raw fallback. Selection uses the
reference fold and ratio formula INCLUDING the 4-bytes-per-gap-entry
term (ModelType.java:49-54).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from modelardb_spark.config import DEFAULT_CONFIG, EngineConfig
from modelardb_spark.models import MTID_PMC, MTID_RAW, MTID_SWING
from modelardb_spark.models.cascade import MTID_GORILLA, _ratio
from modelardb_spark.models.errors import outside_bound_vec
from modelardb_spark.models.gorilla import (
    gorilla_compress,
    gorilla_compress_rows,
)
from modelardb_spark.models.pmc_mean import pmc_model, pmc_prefix, pmc_value
from modelardb_spark.models.swing import swing_minmax, swing_model, swing_sum
from modelardb_spark.models.uncompressed import raw_model
from modelardb_spark.operators.fit import fit_arranged
from modelardb_spark.operators.grid import grid
from modelardb_spark.operators.rollup import merge_partials, window_partials

GROUP_SEGMENT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("interval_ms", LongType(), False),
        StructField("mtid", IntegerType(), False),
        StructField("model", BinaryType(), False),
        # total stored values = timestamps x group_size
        StructField("n", LongType(), False),
        StructField("group_size", IntegerType(), False),
        # present member tids in storage (interleave) order
        StructField("tids", ArrayType(IntegerType(), False), False),
        # ABSENT member tids — the reference's gaps-as-offsets protocol
        StructField("gaps", ArrayType(IntegerType(), False), False),
        # per-present-tid closed-form aggregates, in `tids` order
        StructField("seg_cnt", ArrayType(LongType(), False), False),
        StructField("seg_min", ArrayType(FloatType(), False), False),
        StructField("seg_max", ArrayType(FloatType(), False), False),
        StructField("seg_sum", ArrayType(DoubleType(), False), False),
        StructField("p0", DoubleType(), True),
        StructField("p1", DoubleType(), True),
    ]
)

_GCOLS = [f.name for f in GROUP_SEGMENT_SCHEMA.fields]


def _group_swing_fit(
    ts: np.ndarray, vals2d: np.ndarray, error_bound: float
) -> tuple[int, float, float]:
    """Swing filter over a group run: fit ONE line within the bound of
    EVERY member at every timestamp; returns (prefix_timestamps, a, b).

    Equivalent to the reference's sequential same-timestamp appends
    (SwingFilterModelType.java:36-103 fed the interleaved group stream
    by SegmentGenerator.java:154-167): the N points at timestamp t_k
    jointly require line(t_k) in [max_i(v_i - dev_i),
    min_i(v_i + dev_i)], so the filter runs on that interval sequence
    with the usual pivot through the first member's first value. Like
    per-series `swing_fit` this is a vectorized reformulation whose
    float-level divergences are caught by the caller's float32
    re-verification."""
    n_ts, n_mem = vals2d.shape
    if n_ts < 2:
        return n_ts, 0.0, 0.0
    t = ts.astype(np.float64)
    v = vals2d.astype(np.float64)
    dev = np.abs(v * (error_bound / 100.1))
    lo_k = (v - dev).max(axis=1)
    hi_k = (v + dev).min(axis=1)
    feasible = lo_k <= hi_k
    t0 = t[0]
    v0 = float(vals2d[0, 0])
    # the pivot (t0, first member's value) must satisfy every member's
    # band at t0, and timestamp 1 must be feasible for the line to
    # cover two whole timestamps
    if not (feasible[0] and lo_k[0] <= v0 <= hi_k[0] and feasible[1]):
        return 1, 0.0, 0.0
    dt = t[1:] - t0
    slope_up = (hi_k[1:] - v0) / dt
    slope_lo = (lo_k[1:] - v0) / dt
    hi = np.minimum.accumulate(slope_up)
    lo = np.maximum.accumulate(slope_lo)
    if n_ts > 2:
        hi_prev, lo_prev = hi[:-1], lo[:-1]
        tk = t[2:]
        uba = hi_prev * tk + (v0 - hi_prev * t0)
        lba = lo_prev * tk + (v0 - lo_prev * t0)
        fail = (uba < lo_k[2:]) | (lba > hi_k[2:]) | ~feasible[2:]
        if fail.any():
            k = int(np.argmax(fail))
            prefix = k + 2
            hi_a, lo_a = hi[k], lo[k]
        else:
            prefix = n_ts
            hi_a, lo_a = hi[-1], lo[-1]
    else:
        prefix = 2
        hi_a, lo_a = hi[0], lo[0]
    a = (lo_a + hi_a) / 2.0
    b = ((v0 - lo_a * t0) + (v0 - hi_a * t0)) / 2.0
    return prefix, a, b


def _group_swing_candidate(
    ts: np.ndarray,
    vals2d: np.ndarray,
    error_bound: float,
    gap_bytes: float,
) -> tuple[int, float, bytes | None, float, float]:
    """(prefix_ts, ratio, model, a, b) for the group Swing candidate:
    doubling-window prefix search + float32 re-verification over EVERY
    member value of the covered prefix (reference :144-174); an
    unverifiable line is invalid (ratio NaN), exactly like per-series
    `_swing_candidate`."""
    limit = 128
    n_ts = vals2d.shape[0]
    while True:
        m = min(limit, n_ts)
        prefix, a, b = _group_swing_fit(ts[:m], vals2d[:m], error_bound)
        if prefix < m or m == n_ts:
            break
        limit *= 2
    if prefix < 2:
        return prefix, float("nan"), None, 0.0, 0.0
    approx = (a * ts[:prefix].astype(np.float64) + b).astype(np.float32)
    rep = np.repeat(approx, vals2d.shape[1])
    flat = np.ascontiguousarray(vals2d[:prefix]).reshape(-1)
    if outside_bound_vec(error_bound, rep, flat).any():
        return prefix, float("nan"), None, a, b
    model = swing_model(a, b)
    n_vals = prefix * vals2d.shape[1]
    return prefix, _ratio(n_vals, float(len(model)) + gap_bytes), model, a, b


def _fit_one_group_segment(
    conv: str,
    ts: np.ndarray,
    vals2d: np.ndarray,
    inter: np.ndarray,
    pos: int,
    tids: list[int],
    gaps: list[int],
    error_bound: float,
    max_vals: int,
    interval_ms: int,
    out: dict[str, list],
) -> tuple[int, float]:
    """Fit and emit EXACTLY ONE group segment at timestamp index `pos`
    of the run; returns (covered_timestamps, stored_compression_ratio).
    The ratio (16 x values / (24 + payload + 4 x gap entries),
    ModelType.java:49-54) feeds the dynamic split trigger."""
    n_mem = vals2d.shape[1]
    gap_bytes = 4.0 * len(gaps)
    rest = inter[pos * n_mem :]
    # PMC: shared constant within bound of every member value.
    # Doubling-window prefix search (cascade._pmc_candidate
    # pattern): a short segment scans one small window instead of
    # the whole remaining run every iteration (O(run) total, not
    # O(run^2)).
    limit = 128
    while True:
        window = rest[: min(limit, rest.size)]
        p = pmc_prefix(window, error_bound)
        if p < window.size or window.size == rest.size:
            break
        limit *= 2
    p_n = (p // n_mem) * n_mem
    pmc_ratio = (
        _ratio(p_n, 4.0 + gap_bytes) if p_n >= n_mem else float("nan")
    )
    # Swing: one shared line over all members' same-timestamp bands
    sw_ts, sw_ratio, sw_model, sw_a, sw_b = _group_swing_candidate(
        ts[pos:], vals2d[pos:], error_bound, gap_bytes
    )
    # Gorilla over the interleaved stream
    g_n = min(rest.size, max_vals)
    g_bytes = gorilla_compress(rest[:g_n])
    gor_ratio = _ratio(g_n, float(len(g_bytes)) + gap_bytes)

    # reference fold (SegmentGenerator.java:230-233): NaN < x false
    candidates = [
        (MTID_PMC, p_n, pmc_ratio),
        (MTID_SWING, sw_ts * n_mem, sw_ratio),
        (MTID_GORILLA, g_n, gor_ratio),
    ]
    best = candidates[0]
    for cand in candidates:
        if not (cand[2] < best[2]):
            best = cand
    mtid, length, ratio = best
    if not (ratio == ratio) or length == 0:
        length = min(rest.size, max_vals)
        mtid = MTID_RAW

    seg_ts = length // n_mem
    block = rest[:length].reshape(seg_ts, n_mem)
    p1 = float("nan")
    if mtid == MTID_PMC:
        model = pmc_model(rest, length)
        const = np.float32(pmc_value(model))
        p0 = float(const)
        # aggregates describe the RECONSTRUCTION (constant)
        mins = np.full(n_mem, const, dtype=np.float32)
        maxs = mins
        sums = np.full(n_mem, float(const) * seg_ts, dtype=np.float64)
    elif mtid == MTID_SWING:
        model = sw_model
        p0, p1 = sw_a, sw_b
        s_ms, e_ms = int(ts[pos]), int(ts[pos + seg_ts - 1])
        lo_v, hi_v = swing_minmax(sw_a, sw_b, s_ms, e_ms)
        mins = np.full(n_mem, lo_v, dtype=np.float32)
        maxs = np.full(n_mem, hi_v, dtype=np.float32)
        sums = np.full(
            n_mem, swing_sum(sw_a, sw_b, s_ms, e_ms, seg_ts), dtype=np.float64
        )
    else:
        model = g_bytes if mtid == MTID_GORILLA else raw_model(rest, length)
        p0 = float("nan")
        mins = block.min(axis=0)
        maxs = block.max(axis=0)
        sums = block.sum(axis=0, dtype=np.float64)

    out["conv_id"].append(conv)
    out["start_ms"].append(int(ts[pos]))
    out["end_ms"].append(int(ts[pos + seg_ts - 1]))
    out["interval_ms"].append(interval_ms)
    out["mtid"].append(mtid)
    out["model"].append(model)
    out["n"].append(length)
    out["group_size"].append(n_mem)
    out["tids"].append(list(tids))
    out["gaps"].append(gaps)
    out["seg_cnt"].append([seg_ts] * n_mem)
    out["seg_min"].append([float(x) for x in mins])
    out["seg_max"].append([float(x) for x in maxs])
    out["seg_sum"].append([float(x) for x in sums])
    out["p0"].append(p0)
    out["p1"].append(p1)
    stored_ratio = (16.0 * length) / (24.0 + len(model) + 4.0 * len(gaps))
    return seg_ts, stored_ratio


def _fit_group_run(
    conv: str,
    ts: np.ndarray,
    vals2d: np.ndarray,
    tids: list[int],
    all_tids: list[int],
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    out: dict[str, list],
) -> None:
    """Cascade over one gap-free run of a fixed active-member set.

    `vals2d` is (T, N) float32 for the present members only;
    `tids`/`all_tids` give present members / the full group."""
    n_ts, n_mem = vals2d.shape
    inter = np.ascontiguousarray(vals2d).reshape(-1)  # row-major interleave
    gaps = [t for t in all_tids if t not in tids]
    # length_bound counts stored VALUES (data points incl. every member,
    # like the reference's per-DataPoint accounting), floored to whole
    # timestamps so a segment always covers full grid rows
    max_vals = max(n_mem, (length_bound // n_mem) * n_mem)
    pos = 0  # timestamp index
    while pos < n_ts:
        seg_ts, _ = _fit_one_group_segment(
            conv, ts, vals2d, inter, pos, tids, gaps,
            error_bound, max_vals, interval_ms, out,
        )
        pos += seg_ts


def _split_subsets(
    window: np.ndarray, idx: list[int], error_bound: float
) -> list[list[int]]:
    """Partition present-member COLUMN indexes into subsets mutually
    within DOUBLE the error bound over every row of `window` (a (W, N)
    value block) — the reference's split rule compares the members'
    BUFFERED data points pairwise at the doubled bound
    (SegmentGenerator.java:296-351, `withinErrorBound(2 * errorBound,
    buffer...)`) with the same greedy leader scan."""
    remaining = list(idx)
    subsets: list[list[int]] = []
    while remaining:
        lead = remaining[0]
        sub = [
            j
            for j in remaining
            if not outside_bound_vec(
                2.0 * error_bound,
                np.ascontiguousarray(window[:, j], dtype=np.float32),
                np.ascontiguousarray(window[:, lead], dtype=np.float32),
            ).any()
        ]
        subsets.append(sub)
        remaining = [j for j in remaining if j not in sub]
    return subsets


#: reference default for modelardb.dynamic_split_fraction: split when a
#: finalized segment compresses below 10% of the group's running
#: average ratio (modelardb.conf:79, SegmentGenerator.java:290)
DYNAMIC_SPLIT_FRACTION = 0.10

#: initial rejoin back-off in timestamps; doubles per failed attempt —
#: the analogue of the reference doubling
#: finalizedSegmentsBeforeNextJoinCheck between join probes
#: (SegmentGenerator.java:263-267)
_REJOIN_BACKOFF_TS = 4

#: decision-buffer length for split/rejoin correlation checks (the
#: reference compares the members' buffered points; a batch engine has
#: no live buffer, so a bounded lookahead window stands in)
_DECISION_WINDOW_TS = 16


def _fit_group_run_dynamic(
    conv: str,
    ts: np.ndarray,
    vals2d: np.ndarray,
    tids: list[int],
    all_tids: list[int],
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    out: dict[str, list],
    split_fraction: float,
) -> None:
    """Ratio-FEEDBACK dynamic split/join over one run — the reference's
    actual mechanism (SegmentGenerator.java:296-351, :403-455): keep a
    running average of the group's finalized-segment compression
    ratios; when a segment's ratio falls below `split_fraction x` that
    average, split the group into subsets mutually within 2x the error
    bound and fit them separately; attempt a rejoin after an
    exponentially backed-off number of timestamps, rejoining when the
    members' values are again mutually within the doubled bound.
    Unlike the correlation router (input-driven), this adapts to what
    actually compressed badly. At bound 0 both paths reconstruct
    exactly, so the trigger only moves stored bytes."""
    n_ts, n_mem = vals2d.shape
    inter = np.ascontiguousarray(vals2d).reshape(-1)
    gaps = [t for t in all_tids if t not in tids]
    max_vals = max(n_mem, (length_bound // n_mem) * n_mem)
    all_idx = list(range(n_mem))

    ratios: list[float] = []
    backoff = _REJOIN_BACKOFF_TS
    pos = 0
    while pos < n_ts:
        seg_ts, ratio = _fit_one_group_segment(
            conv, ts, vals2d, inter, pos, tids, gaps,
            error_bound, max_vals, interval_ms, out,
        )
        pos += seg_ts
        trigger = (
            n_mem > 1
            and pos < n_ts
            and len(ratios) > 0
            and ratio < split_fraction * (sum(ratios) / len(ratios))
        )
        ratios.append(ratio)
        if not trigger:
            continue
        subsets = _split_subsets(
            vals2d[pos : pos + _DECISION_WINDOW_TS], all_idx, error_bound
        )
        if len(subsets) < 2:
            continue
        # SPLIT: fit each subset separately, probing a rejoin at
        # exponentially backed-off checkpoints
        while pos < n_ts:
            upto = min(pos + backoff, n_ts)
            for sub in subsets:
                _fit_group_run(
                    conv,
                    ts[pos:upto],
                    np.ascontiguousarray(vals2d[pos:upto, sub]),
                    [tids[j] for j in sub],
                    all_tids,
                    error_bound,
                    length_bound,
                    interval_ms,
                    out,
                )
            pos = upto
            if pos >= n_ts:
                break
            probe = vals2d[pos : pos + _DECISION_WINDOW_TS]
            if len(_split_subsets(probe, all_idx, error_bound)) == 1:
                break  # rejoin: values mutually within the bound again
            backoff *= 2
        # per-episode back-off (SegmentGenerator.java:403-455 restarts
        # the probe interval after every successful rejoin): a later
        # split in the same run starts from the base interval again
        backoff = _REJOIN_BACKOFF_TS


def _fit_group_runs(
    metrics: tuple[str, ...],
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    split_fraction: float | None = None,
):
    """Per-run body of `fit_segments_grouped`: rows sorted by (conv_id,
    salt, bin_ms), one column per member metric."""
    n_metrics = len(metrics)

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        out: dict[str, list] = {c: [] for c in _GCOLS}
        conv = pdf["conv_id"].to_numpy()
        salt = pdf["salt"].to_numpy()
        ts = pdf["bin_ms"].to_numpy().astype(np.int64)
        vals = np.column_stack(
            [pdf[m].to_numpy().astype(np.float32) for m in metrics]
        )
        active = ~np.isnan(vals)  # (rows, M)
        n = len(pdf)
        brk = np.zeros(n, dtype=bool)
        if n > 1:
            brk[1:] = (
                (conv[1:] != conv[:-1])
                | (salt[1:] != salt[:-1])
                | ((ts[1:] - ts[:-1]) > interval_ms)
                | (active[1:] != active[:-1]).any(axis=1)
            )
        bounds = np.concatenate(([0], np.flatnonzero(brk), [n]))
        bounds = np.unique(bounds)
        all_tids = list(range(n_metrics))

        # --- bulk fast path: single-timestamp runs with every metric
        # active (the dominant case on sparse-activity series: measured
        # 996k of 998k runs at the 1M-turn fixture). The reference fold
        # for a 1-ts run always selects Gorilla over the interleaved
        # row (Swing needs 2 timestamps -> NaN ratio; the NaN-fold
        # quirk then hands the window to Gorilla, exactly like the
        # per-series singles case in operators/fit.py), so the segment
        # is closed-form and every column vectorizes. 1-ts runs cannot
        # trigger the dynamic split (pos == n_ts), and the ratio list
        # is per-run state, so the bulk path is valid for the dynamic
        # cascade too.
        lens = np.diff(bounds)
        starts = bounds[:-1]
        is_bulk = np.zeros(lens.size, dtype=bool)
        bulk_frame = None
        if n_metrics == 2:
            is_bulk = (lens == 1) & active[starts].all(axis=1)
            bidx = starts[is_bulk]
            if bidx.size:
                v2 = vals[bidx]  # (M, 2) float32
                vlist = v2.tolist()  # python floats, exact f32 values
                m = bidx.size
                svals = v2.astype(np.float64)
                bulk_frame = pd.DataFrame(
                    {
                        "conv_id": conv[bidx],
                        "start_ms": ts[bidx],
                        "end_ms": ts[bidx],
                        "interval_ms": np.full(m, interval_ms, dtype=np.int64),
                        "mtid": np.full(m, MTID_GORILLA, dtype=np.int32),
                        "model": gorilla_compress_rows(v2),
                        "n": np.full(m, 2, dtype=np.int64),
                        "group_size": np.full(m, 2, dtype=np.int32),
                        "tids": [[0, 1]] * m,
                        "gaps": [[]] * m,
                        "seg_cnt": [[1, 1]] * m,
                        "seg_min": vlist,
                        "seg_max": vlist,
                        "seg_sum": svals.tolist(),
                        "p0": np.full(m, np.nan),
                        "p1": np.full(m, np.nan),
                    },
                    columns=_GCOLS,
                )

        for ridx in np.flatnonzero(~is_bulk):
            s, e = bounds[ridx], bounds[ridx + 1]
            tids = [int(j) for j in np.flatnonzero(active[s])]
            if not tids:
                continue
            args = (
                conv[s],
                ts[s:e],
                vals[s:e][:, tids],
                tids,
                all_tids,
                error_bound,
                length_bound,
                interval_ms,
                out,
            )
            if split_fraction is None:
                _fit_group_run(*args)
            else:
                _fit_group_run_dynamic(*args, split_fraction)
        if out["n"]:
            yield pd.DataFrame(out, columns=_GCOLS)
        if bulk_frame is not None:
            yield bulk_frame

    return fit


def fit_segments_grouped(
    wide_series: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    metrics: tuple[str, ...] = ("turn_rate", "tool_usage"),
    dynamic_split_fraction: float | None = None,
) -> DataFrame:
    """Wide series (one row per active bin, one column per metric) ->
    GROUP segments, in the shared `fit_arranged` shape: one shuffle on
    (conv_id, salt), fitted in sorted Arrow batches.

    With `dynamic_split_fraction` set, the fit runs the reference's
    ratio-feedback dynamic split/join inside each run (see
    `_fit_group_run_dynamic`); pass `DYNAMIC_SPLIT_FRACTION` for the
    reference default of 10."""
    return fit_arranged(
        wide_series,
        cfg,
        ["conv_id"],
        _fit_group_runs(
            metrics,
            cfg.error_bound,
            cfg.length_bound,
            cfg.interval_ms,
            dynamic_split_fraction,
        ),
        GROUP_SEGMENT_SCHEMA,
    )


def explode_group_segments(
    gseg: DataFrame, metrics: tuple[str, ...] = ("turn_rate", "tool_usage")
) -> DataFrame:
    """Group segment -> one logical segment per present tid
    (SegmentGroup.explode:51-111): the member keeps the shared
    (start, end, mtid, model) plus (goff, gsize) so the decoder strides
    the interleaved payload. Pure JVM (posexplode + element_at)."""
    metric_arr = F.array(*[F.lit(m) for m in metrics])
    e = gseg.select(
        "conv_id",
        "start_ms",
        "end_ms",
        "interval_ms",
        "mtid",
        "model",
        "group_size",
        "p0",
        "p1",
        F.posexplode("tids").alias("goff", "tid"),
        "seg_cnt",
        "seg_min",
        "seg_max",
        "seg_sum",
    )
    return e.select(
        "conv_id",
        F.element_at(metric_arr, F.col("tid") + 1).alias("metric"),
        "start_ms",
        "end_ms",
        "interval_ms",
        "mtid",
        "model",
        F.element_at("seg_cnt", F.col("goff") + 1).alias("seg_cnt"),
        F.element_at("seg_min", F.col("goff") + 1).alias("seg_min"),
        F.element_at("seg_max", F.col("goff") + 1).alias("seg_max"),
        F.element_at("seg_sum", F.col("goff") + 1).alias("seg_sum"),
        "p0",
        "p1",
        "goff",
        F.col("group_size").alias("gsize"),
    )


def grid_group(
    gseg: DataFrame, metrics: tuple[str, ...] = ("turn_rate", "tool_usage")
) -> DataFrame:
    """Group segments -> reconstructed per-series points: the exploded
    members run through the same point kernel as per-series segments
    (dense members decode once with the group stride)."""
    return grid(explode_group_segments(gseg, metrics))


def rollup_from_group_segments(
    gseg: DataFrame,
    window_ms: int,
    metrics: tuple[str, ...] = ("turn_rate", "tool_usage"),
) -> DataFrame:
    """Windowed rollup straight from group segments: the exploded
    members run through the same partials kernel as per-series
    segments (closed forms for PMC/Swing, dense members decode once
    with the group stride), one final hash aggregation."""
    return _rollup_from_exploded(explode_group_segments(gseg, metrics), window_ms)


def _rollup_from_exploded(exploded: DataFrame, window_ms: int) -> DataFrame:
    """Shared rollup tail over an EXPLODED group-segment frame (per-
    conversation or dimension-driven)."""
    return merge_partials(
        window_partials(exploded, window_ms), "conv_id", "metric", "window_ms"
    )


def correlated_conversations(
    wide_series: DataFrame,
    metrics: tuple[str, ...] = ("turn_rate", "tool_usage"),
    threshold: float = 0.2,
    per_day: bool = False,
) -> DataFrame:
    """Group-formation decision — the reference forms groups from
    static correlation clauses evaluated at startup
    (core/Correlation.java:40-45: by source, by dimension members, by
    LCA level, by dimension distance; applied in
    core/Partitioner.java:95-124). Spark-first modernization: measure
    the actual Pearson correlation of the member series (one hash
    aggregate) and group when it clears the threshold — the
    data-driven analogue of the reference's `distance` clause.

    With per_day=True the decision is per (conv_id, salt-day) — the
    analogue of the reference's DYNAMIC group split/join
    (SegmentGenerator.java:296-351: split a group whose emitted
    segments compress poorly, rejoin when correlation returns): a
    conversation compresses as a group exactly on the days its members
    move together. Returns (conv_id[, salt], grouped: bool)."""
    keys = ["conv_id"] + (["salt"] if per_day else [])
    # Pearson via try_divide: a zero-variance member makes the
    # correlation undefined (ANSI mode raises on F.corr's internal
    # division) -> NULL. Each pair's predicate NULL-coalesces to False
    # individually (F.least would SKIP nulls and let the other pairs
    # outvote an undefined one), so ANY undefined pair routes the
    # conversation per-series regardless of group size.
    conds = [
        F.coalesce(
            F.try_divide(
                F.covar_pop(metrics[i], metrics[j]),
                F.stddev_pop(metrics[i]) * F.stddev_pop(metrics[j]),
            )
            >= threshold,
            F.lit(False),
        )
        for i in range(len(metrics))
        for j in range(i + 1, len(metrics))
    ]
    grouped = conds[0]
    for c in conds[1:]:
        grouped = grouped & c
    return wide_series.groupBy(*keys).agg(grouped.alias("grouped"))


def fit_segments_adaptive(
    wide_series: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    metrics: tuple[str, ...] = ("turn_rate", "tool_usage"),
    threshold: float = 0.2,
    per_day: bool = False,
    broadcast_routing: bool = True,
    checkpoint: str = "local",
) -> tuple[DataFrame, DataFrame]:
    """Route each conversation (or, with per_day=True, each
    conversation-day — the dynamic split/join analogue) to GROUP or
    PER-SERIES fitting by measured correlation (Partitioner.java:95-124
    group formation; SegmentGenerator.java:296-351 dynamic split).
    Returns (group_segments, per_series_segments); at error bound 0
    both reconstruct exactly, so routing only moves the compression
    ratio, never correctness. Segments never span a salt day, so
    per-day routing cannot split a segment.

    `broadcast_routing` (default True) broadcasts the routing frame —
    one boolean per conversation(-day), tiny relative to the bins — so
    the join adds NO exchange of point-sized rows (measured ~17%
    end-to-end at sf0.1: the bins then shuffle once, for the fit,
    instead of twice). Set False when the conversation(-day) count
    itself is too large to broadcast (billions of keys): the join
    falls back to a shuffle join on the same keys the fit shuffles on,
    so the routing exchange co-locates with the fit exchange.

    `checkpoint` picks how the shared routed frame is materialized for
    the two branches: "local" (default) = localCheckpoint — executor-
    local blocks, cheapest, right for local mode and dedicated
    clusters, but executor loss fails the job (lineage is truncated);
    "reliable" = spark.checkpoint to the session's checkpoint dir
    (``SparkContext.setCheckpointDir`` — point it at durable storage,
    e.g. the catalog root), which survives executor loss/preemption at
    the cost of one write+read of the bins-sized frame — the right
    setting on preemptible/spot clusters."""
    from modelardb_spark.operators.fit import fit_segments_wide

    def _route(frame):
        return F.broadcast(frame) if broadcast_routing else frame

    if per_day:
        salt_ms = cfg.salt_days * 86_400_000
        keyed = wide_series.withColumn(
            "salt", (F.col("bin_ms") / F.lit(salt_ms)).cast("long")
        )
        routed = keyed.join(
            _route(correlated_conversations(keyed, metrics, threshold, per_day=True)),
            ["conv_id", "salt"],
        ).drop("salt")
    else:
        routed = wide_series.join(
            _route(correlated_conversations(wide_series, metrics, threshold)),
            "conv_id",
        )
    # both branches consume the SAME routed frame: a (lazy) checkpoint
    # materializes it once at the first branch's action and the second
    # branch reuses it. Unlike persist(), the blocks are RDD-scoped —
    # the ContextCleaner frees them when the returned frames are
    # garbage-collected, so a long-lived query-server session does not
    # accumulate one CacheManager entry per call.
    if checkpoint == "reliable":
        sc = routed.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            raise ValueError(
                "checkpoint='reliable' needs SparkContext.setCheckpointDir("
                "<durable path, e.g. the catalog root>) before the fit"
            )
        routed = routed.checkpoint(eager=False)
    elif checkpoint == "local":
        routed = routed.localCheckpoint(eager=False)
    else:
        raise ValueError(f"checkpoint must be 'local' or 'reliable': {checkpoint}")
    g = fit_segments_grouped(
        routed.where(F.col("grouped")).drop("grouped"), cfg, metrics
    )
    p = fit_segments_wide(
        routed.where(~F.col("grouped")).drop("grouped"), cfg, metrics
    )
    return g, p


def rollup_adaptive(
    gseg: DataFrame,
    pseg: DataFrame,
    window_ms: int,
    metrics: tuple[str, ...] = ("turn_rate", "tool_usage"),
) -> DataFrame:
    """Rollup over an adaptive fit: the group and per-series PARTIALS
    are unioned and aggregated once. With per-day routing a
    conversation may sit in the group path on one day and per-series
    on the next, so a window spanning a routing boundary has partial
    rows in both branches; the merge (sum/min/max are associative over
    disjoint point sets) is exact for every window width, not just
    salt-aligned ones."""
    return merge_partials(
        window_partials(explode_group_segments(gseg, metrics), window_ms)
        .unionByName(window_partials(pseg, window_ms)),
        "conv_id",
        "metric",
        "window_ms",
    )


def group_compression_stats(gseg: DataFrame) -> DataFrame:
    """Per-conversation compression accounting for the GROUP path,
    using the reference ratio INCLUDING the gap-entry term
    (ModelType.java:49-54): 16 bytes/point raw vs 24-byte metadata +
    payload + 4 bytes per stored gap entry."""
    per_seg = gseg.select(
        "conv_id",
        F.col("n"),
        (
            F.lit(24) + F.length("model") + F.size("gaps") * F.lit(4)
        ).alias("stored_bytes"),
    )
    return per_seg.groupBy("conv_id").agg(
        F.count("*").alias("segments"),
        F.sum("n").alias("points"),
        F.sum("stored_bytes").alias("stored_bytes"),
        F.round((16.0 * F.sum("n")) / F.sum("stored_bytes"), 6).alias(
            "compression_ratio"
        ),
    )
