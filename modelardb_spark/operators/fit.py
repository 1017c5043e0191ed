"""Model-fitting operator: series points -> compressed segments.

The one genuinely custom operator of the engine (reference:
core/SegmentGenerator.java). Every fit entry point (the per-series
`fit_segments_from_transcripts` and `fit_segments_wide`, and the group
fits `fit_segments_grouped` / `fit_segments_dim_grouped`) shares one
physical shape, built by `fit_arranged`:

    frame.withColumn(salt)
         .repartition(num, *keys, salt)
         .sortWithinPartitions(*keys, salt, bin_ms)
         .mapInPandas(kernel)

rather than groupBy().applyInPandas(): a transcripts workload has a
huge number of *small* series groups (conversations), and per-group
Arrow round trips dominate. mapInPandas processes a whole 64k-row
Arrow batch of many groups in one Python call. A key run split across
two or more Arrow batches (batches arrive in partition-sort order) is
stitched back together by `key_runs`, the one carry loop: it yields
frames that hold only complete runs of (keys, salt), and each entry
point supplies only the per-run body that fits such a frame, whose run
boundaries are then found vectorized. Every per-series body ends in
`_fit_columns`, the one column kernel: `_fit_runs_wide` hands it the
frame's metric columns, and the fused `_fit_runs_turns` first bins the
raw turns with one `reduceat`. Every group body ends in
`groupfit._fit_member_runs`, the one group run splitter over a
(rows, K) member matrix with NaN for an absent member:
`fit_segments_grouped` stacks the metric columns into it, and
`fit_segments_dim_grouped` scatters its narrow rows into it.

Scale design:
- **Salting**: the shuffle key includes ``salt = bin_ms div (salt_days
  * 86400000)``, so a mega-conversation with 10^6+ turns becomes many
  independent day-sized units instead of one straggler task
  (north-rule explicit skew handling; the reference balances load with
  CGA partitioning + dynamic group split/join instead,
  Partitioner.java:219-252, SegmentGenerator.java:296-351). Segments
  never span a salt boundary; at error bound 0 reconstruction is
  identical either way, and at higher bounds every point still
  satisfies the bound — only the compression ratio pays slightly.
- **Vectorized common cases**: single-point runs (the reference fold
  always picks Gorilla, whose 1-value stream is the raw 4 bytes) and
  exactly-constant runs (PMC always wins the fold for n >= 2) are
  emitted with pure NumPy across ALL groups in the batch; only
  genuinely mixed runs enter the per-run cascade
  (`models.cascade.fit_run`, the same cascade the group fits run on
  their member matrices).
- **Aggregate-on-model columns**: seg_cnt/min/max/sum and the model
  parameters (p0, p1) are materialized at fit time; the cascade returns
  them with every fitted segment. Whole-series
  aggregates (`segment_aggregates`) are plain Catalyst aggregations
  over the seg_* columns; the windowed rollups run the
  `models.segment.segment_partials` kernel in one Python pass, which
  takes the PMC/Swing closed forms from p0/p1 without touching their
  model bytes and decodes only Gorilla/raw (the reference's
  SparkUDAF.scala layer becomes schema plus one NumPy kernel).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
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
from modelardb_spark.models.cascade import (
    MTID_GORILLA,
    MTID_PMC,
    FittedSegment,
    fit_run,
)
from modelardb_spark.operators.series import METRICS, bin_col

SEGMENT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("start_ms", LongType(), False),
        StructField("end_ms", LongType(), False),
        StructField("interval_ms", LongType(), False),
        StructField("mtid", IntegerType(), False),
        StructField("model", BinaryType(), False),
        StructField("n", LongType(), False),
        StructField("seg_cnt", LongType(), False),
        StructField("seg_min", FloatType(), False),
        StructField("seg_max", FloatType(), False),
        StructField("seg_sum", DoubleType(), False),
        # model parameters for the point and partials kernels:
        # PMC: p0 = constant; Swing: p0 = slope a, p1 = intercept b
        StructField("p0", DoubleType(), True),
        StructField("p1", DoubleType(), True),
    ]
)

_COLS = [f.name for f in SEGMENT_SCHEMA.fields]


def _fit_sorted_block(
    conv: np.ndarray,
    metric: np.ndarray,
    salt: np.ndarray,
    ts: np.ndarray,
    vals: np.ndarray,
    error_bound: float,
    length_bound: int,
    interval_ms: int,
    out: dict[str, list],
) -> None:
    """Fit one NaN-free block sorted by (conv, metric, salt, bin_ms);
    groups and gap runs are delimited vectorized. A salt change breaks
    the run even without a time gap — that bound on fit-unit size is
    the whole point of salting (skewed long conversations)."""
    n = ts.size
    if n == 0:
        return
    grp_change = np.zeros(n, dtype=bool)
    grp_change[1:] = (
        (conv[1:] != conv[:-1])
        | (metric[1:] != metric[:-1])
        | (salt[1:] != salt[:-1])
    )
    run_break = grp_change.copy()
    run_break[1:] |= (ts[1:] - ts[:-1]) > interval_ms
    starts = np.flatnonzero(run_break)
    bounds = np.concatenate(([0], starts, [n])) if starts.size else np.array([0, n])
    bounds = np.unique(bounds)
    lens = np.diff(bounds)
    run_start = bounds[:-1]
    run_end_incl = bounds[1:] - 1

    # vectorized per-run min/max to classify constant runs
    rmin = np.minimum.reduceat(vals, run_start)
    rmax = np.maximum.reduceat(vals, run_start)

    singles = lens == 1
    constants = (~singles) & (rmin == rmax)
    general = ~(singles | constants)

    # --- case A: single-point runs -> Gorilla (reference fold result) ---
    if singles.any():
        idx = run_start[singles]
        sv = vals[idx]
        sb = sv.astype(">f4").tobytes()
        st = ts[idx]
        m = idx.size
        out["conv_id"].append(conv[idx])
        out["metric"].append(metric[idx])
        out["start_ms"].append(st)
        out["end_ms"].append(st)
        out["mtid"].append(np.full(m, MTID_GORILLA, dtype=np.int32))
        out["model"].append([sb[4 * i : 4 * i + 4] for i in range(m)])
        out["n"].append(np.ones(m, dtype=np.int64))
        out["seg_cnt"].append(np.ones(m, dtype=np.int64))
        out["seg_min"].append(sv)
        out["seg_max"].append(sv)
        out["seg_sum"].append(sv.astype(np.float64))
        out["p0"].append(np.full(m, np.nan))
        out["p1"].append(np.full(m, np.nan))

    # --- case B: constant runs (n >= 2) -> one PMC segment each ---
    if constants.any():
        idx = np.flatnonzero(constants)
        cs = run_start[idx]
        ce = run_end_incl[idx]
        cv = vals[cs]
        cb = cv.astype(">f4").tobytes()
        cl = lens[idx]
        m = idx.size
        out["conv_id"].append(conv[cs])
        out["metric"].append(metric[cs])
        out["start_ms"].append(ts[cs])
        out["end_ms"].append(ts[ce])
        out["mtid"].append(np.full(m, MTID_PMC, dtype=np.int32))
        out["model"].append([cb[4 * i : 4 * i + 4] for i in range(m)])
        out["n"].append(cl.astype(np.int64))
        out["seg_cnt"].append(cl.astype(np.int64))
        out["seg_min"].append(cv)
        out["seg_max"].append(cv)
        out["seg_sum"].append(cv.astype(np.float64) * cl)
        out["p0"].append(cv.astype(np.float64))
        out["p1"].append(np.full(m, np.nan))

    # --- case C: the full cascade per remaining run ---
    segs: list[FittedSegment] = []
    owner: list[int] = []
    for ridx in np.flatnonzero(general):
        s, e = run_start[ridx], run_end_incl[ridx] + 1
        for seg in fit_run(ts[s:e], vals[s:e], error_bound, length_bound):
            segs.append(seg)
            owner.append(s)
    if segs:
        start, end, mtid, model, cnt, p0, p1, mins, maxs, sums = zip(*segs)
        out["conv_id"].append(conv[owner])
        out["metric"].append(metric[owner])
        out["start_ms"].append(np.asarray(start, dtype=np.int64))
        out["end_ms"].append(np.asarray(end, dtype=np.int64))
        out["mtid"].append(np.asarray(mtid, dtype=np.int32))
        out["model"].append(model)
        out["n"].append(np.asarray(cnt, dtype=np.int64))
        out["seg_cnt"].append(np.asarray(cnt, dtype=np.int64))
        out["seg_min"].append(np.concatenate(mins))
        out["seg_max"].append(np.concatenate(maxs))
        out["seg_sum"].append(np.concatenate(sums))
        out["p0"].append(np.asarray(p0, dtype=np.float64))
        out["p1"].append(np.asarray(p1, dtype=np.float64))


def _flush(out: dict[str, list], interval_ms: int) -> pd.DataFrame | None:
    if not out["n"]:
        return None
    model_col: list[bytes] = []
    for chunk in out["model"]:
        model_col.extend(chunk)
    total = len(model_col)
    df = pd.DataFrame(
        {
            "conv_id": np.concatenate(out["conv_id"]),
            "metric": np.concatenate(out["metric"]),
            "start_ms": np.concatenate(out["start_ms"]).astype(np.int64),
            "end_ms": np.concatenate(out["end_ms"]).astype(np.int64),
            "interval_ms": np.full(total, interval_ms, dtype=np.int64),
            "mtid": np.concatenate(out["mtid"]).astype(np.int32),
            "model": model_col,
            "n": np.concatenate(out["n"]).astype(np.int64),
            "seg_cnt": np.concatenate(out["seg_cnt"]).astype(np.int64),
            "seg_min": np.concatenate(out["seg_min"]).astype(np.float32),
            "seg_max": np.concatenate(out["seg_max"]).astype(np.float32),
            "seg_sum": np.concatenate(out["seg_sum"]).astype(np.float64),
            "p0": np.concatenate(out["p0"]).astype(np.float64),
            "p1": np.concatenate(out["p1"]).astype(np.float64),
        },
        columns=_COLS,
    )
    for k in out:
        out[k] = []
    return df


def key_change(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Row mask: True where any of `keys` differs from the row before."""
    change = np.zeros(len(pdf), dtype=bool)
    for k in keys:
        col = pdf[k].to_numpy()
        change[1:] |= col[1:] != col[:-1]
    return change


def key_runs(
    batches: Iterable[pd.DataFrame], keys: Sequence[str]
) -> Iterator[pd.DataFrame]:
    """Re-cut a stream of frames sorted by `keys` into frames that hold
    only complete runs of equal keys. The trailing run of each batch
    may continue in the next batch, so it is held back and stitched to
    the front of the next one; the last held-back run is yielded at the
    end. Empty batches contribute nothing."""
    carry: pd.DataFrame | None = None
    for pdf in batches:
        if not len(pdf):
            continue
        if carry is not None:
            pdf = pd.concat([carry, pdf], ignore_index=True)
        boundaries = np.flatnonzero(key_change(pdf, keys))
        if boundaries.size == 0:
            carry = pdf
            continue
        cut = boundaries[-1]
        carry = pdf.iloc[cut:]
        yield pdf.iloc[:cut]
    if carry is not None:
        yield carry


def fit_arranged(
    frame: DataFrame,
    cfg: EngineConfig,
    keys: Sequence[str],
    fit_runs: Callable[[pd.DataFrame], Iterable[pd.DataFrame]],
    schema: StructType,
) -> DataFrame:
    """The one physical shape of every fit: add the day `salt`, shuffle
    once on (keys, salt), sort each partition by (keys, salt, bin_ms),
    then run `fit_runs` over every `key_runs` frame of the
    partition's Arrow batches in one `mapInPandas`."""
    salt_ms = cfg.salt_days * 86_400_000
    keyed = frame.withColumn("salt", (F.col("bin_ms") / F.lit(salt_ms)).cast("long"))
    num = cfg.shuffle_partitions or int(
        frame.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    run_keys = [*keys, "salt"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for runs in key_runs(batches, run_keys):
            yield from fit_runs(runs)

    arranged = keyed.repartition(num, *run_keys).sortWithinPartitions(
        *run_keys, "bin_ms"
    )
    return arranged.mapInPandas(kernel, schema)


def _fit_columns(
    conv: np.ndarray,
    salt: np.ndarray,
    ts: np.ndarray,
    columns: Iterable[tuple[str, np.ndarray]],
    error_bound: float,
    length_bound: int,
    interval_ms: int,
) -> Iterator[pd.DataFrame]:
    """The one per-series column kernel: rows sorted by (conv_id, salt,
    bin_ms) on the shared grid (`conv`, `salt`, `ts`); each
    `(metric, values)` column is fitted over its non-NaN points, so a
    NaN is an absent point and its bin splits the run like a gap."""
    out: dict[str, list] = {c: [] for c in _COLS}
    for metric, vals in columns:
        vals = vals.astype(np.float32)
        keep = ~np.isnan(vals)
        _fit_sorted_block(
            conv[keep],
            np.full(int(keep.sum()), metric, dtype=object),
            salt[keep],
            ts[keep],
            vals[keep],
            error_bound,
            length_bound,
            interval_ms,
            out,
        )
    df = _flush(out, interval_ms)
    if df is not None:
        yield df


def _fit_runs_wide(
    metrics: Sequence[str], error_bound: float, length_bound: int, interval_ms: int
):
    """Per-run body of `fit_segments_wide`: rows sorted by (conv_id,
    salt, bin_ms), one column per metric, fitted by `_fit_columns`."""

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        return _fit_columns(
            pdf["conv_id"].to_numpy(),
            pdf["salt"].to_numpy(),
            pdf["bin_ms"].to_numpy().astype(np.int64),
            ((m, pdf[m].to_numpy()) for m in metrics),
            error_bound,
            length_bound,
            interval_ms,
        )

    return fit


def _fit_runs_turns(error_bound: float, length_bound: int, interval_ms: int):
    """Per-run body of the FUSED derive+fit path: input rows are raw
    turns (conv_id, salt, bin_ms, tool_flag) sorted by (conv, salt,
    bin); the per-bin aggregation (turn_rate = count, tool_usage = sum
    of flags) happens vectorized here (one reduceat family), then
    `_fit_columns` fits both metric columns. Output rows are identical
    to `_fit_runs_wide` over `derive_series_wide`."""

    def fit(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        n = len(pdf)
        conv = pdf["conv_id"].to_numpy()
        salt = pdf["salt"].to_numpy()
        ts = pdf["bin_ms"].to_numpy().astype(np.int64)
        tool = pdf["tool_flag"].to_numpy().astype(np.int64)
        newbin = np.ones(n, dtype=bool)
        newbin[1:] = (
            (conv[1:] != conv[:-1])
            | (salt[1:] != salt[:-1])
            | (ts[1:] != ts[:-1])
        )
        bs = np.flatnonzero(newbin)
        counts = np.diff(np.concatenate((bs, [n])))
        tools = np.add.reduceat(tool, bs)
        return _fit_columns(
            conv[bs],
            salt[bs],
            ts[bs],
            zip(METRICS, (counts, tools)),
            error_bound,
            length_bound,
            interval_ms,
        )

    return fit


def fit_segments_from_transcripts(
    transcripts: DataFrame, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """FUSED derive+fit: transcripts -> segments with ONE shuffle
    total.

    The two-step path (`derive_series_wide` then `fit_segments_wide`)
    pays two full exchanges of point-sized data: the derive hash
    aggregate shuffles on (conv_id, bin) and the fit repartition
    shuffles the bins again on (conv_id, salt). Because the fit kernel
    already walks rows sorted by (conv, salt, bin), the per-bin
    aggregation folds into it for free (one reduceat), so this path
    shuffles raw MINIMAL turn rows (conv_id, bin_ms, 1-byte tool flag)
    exactly once and never materializes the bins frame. Segment rows
    are identical to the two-step path (tests/test_fit_wide.py).

    Trade-off: with heavily bursty data (many turns per bin) the
    two-step path's map-side partial aggregation shrinks the shuffle
    more than the saved exchange; at the transcripts workload's ~1-2
    turns/bin the single exchange wins."""
    rows = transcripts.select(
        "conv_id",
        bin_col(cfg.interval_ms),
        F.when(F.col("tool").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("tinyint")
        .alias("tool_flag"),
    )
    return fit_arranged(
        rows,
        cfg,
        ["conv_id"],
        _fit_runs_turns(cfg.error_bound, cfg.length_bound, cfg.interval_ms),
        SEGMENT_SCHEMA,
    )


def fit_segments_wide(
    wide_series: DataFrame,
    cfg: EngineConfig = DEFAULT_CONFIG,
    metrics: Sequence[str] = METRICS,
) -> DataFrame:
    """Wide-input fit (see derive_series_wide): one shuffled row per
    active bin carries every metric's value; Python fits each metric
    column over the shared timestamp grid, and a NaN (null) value is
    an absent point. `metrics` names the value columns: the base
    METRICS, plus one column per `[derived]` clause in a query session
    (`transform.with_derived_columns`). Output rows are identical to
    the narrow per-(conv_id, metric) reference fit on the unpivoted
    series (tests/reference_oracle.py)."""
    return fit_arranged(
        wide_series,
        cfg,
        ["conv_id"],
        _fit_runs_wide(metrics, cfg.error_bound, cfg.length_bound, cfg.interval_ms),
        SEGMENT_SCHEMA,
    )

